package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the statistical-model tier (StatsOps): the PCA power
  * iteration against a plain-Scala third implementation, association-rule
  * algebra, and the median/MAD fence. (Cross-engine equality is the
  * DuckDB oracle's job; these pin the semantics a hash can't explain.) */
class StatsSpec extends AnyFunSuite with CacheDrained {

  private val Q = 1000000L

  /** plain-Scala replay of the quantize→center→iterate pipeline */
  private def referencePca(emb: Array[(Long, Array[Float])], iters: Int)
      : (Array[Long], Map[Long, Long]) = {
    val n = emb.length.toLong
    val xq = emb.map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * Q).toLong) }
    val d = Q * (n / 10000L + 1)
    val dim = xq.head._2.length
    val mean = Array.tabulate(dim)(i => Math.floorDiv(xq.map(_._2(i)).sum, n))
    val cx = xq.map { case (id, v) => id -> v.zip(mean).map { case (x, m) => x - m } }
    var w = Array.fill(dim)(Q)
    for (_ <- 1 to iters) {
      val dq = cx.map { case (id, c) =>
        id -> Math.floorDiv(c.zip(w).map { case (x, y) => x * y }.sum, d)
      }.toMap
      val s = Array.tabulate(dim)(i => cx.map { case (id, c) => dq(id) * c(i) }.sum)
      val denom = s.map(math.abs).max / Q + 1
      w = s.map(v => Math.floorDiv(v, denom))
    }
    val proj = cx.map { case (id, c) =>
      id -> Math.floorDiv(c.zip(w).map { case (x, y) => x * y }.sum, d)
    }.toMap
    (w, proj)
  }

  test("sim_pca_power/project equal a plain-Scala replay, and the fitted " +
    "direction captures at least the average per-axis variance") {
    val spark = TestSpark.spark
    val emb = Tables.embeddings(spark, TestSpark.Sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val (wRef, projRef) = referencePca(emb, 6)

    val w = SparkEntry.queries("sim_pca_power")(spark, TestSpark.Sf)
      .orderBy("i").collect().map(_.getLong(1))
    assert(w.toSeq == wRef.toSeq)
    // renormalization bound: the largest component lands near the scale
    val maxAbs = w.map(math.abs).max
    assert(maxAbs >= Q / 2 && maxAbs <= 2 * Q, s"renorm out of range: $maxAbs")

    val proj = SparkEntry.queries("sim_pca_project")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(proj == projRef)

    // quality: variance of the projection along w (unit-normalized) must
    // be at least the mean per-axis variance — the direction the power
    // iteration amplifies cannot be worse than an average coordinate axis
    val wNorm = math.sqrt(w.map(x => x.toDouble * x).sum)
    val dirVar = {
      val p = emb.map { case (_, v) =>
        v.zip(w).map { case (x, wi) => x * wi / wNorm }.sum.toDouble
      }
      val m = p.sum / p.length
      p.map(x => (x - m) * (x - m)).sum / p.length
    }
    val axisVar = (0 until 64).map { i =>
      val xs = emb.map(_._2(i).toDouble)
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    assert(dirVar >= axisVar.sum / 64,
      f"fitted direction variance $dirVar%.6f below mean axis variance ${axisVar.sum / 64}%.6f")
  }

  test("mine_assoc_rules: supports recompute brute-force; ratio algebra holds") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("mine_assoc_rules")(spark, TestSpark.Sf).collect()
    assert(rows.length == 20)
    val baskets = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byOrder = baskets.groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }
    val itemCount = baskets.groupBy(_._2).map { case (k, xs) => k -> xs.length.toLong }
    val nOrders = byOrder.size.toLong
    rows.foreach { r =>
      val (u, v, sup, conf, lift) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(u < v, s"pair not canonical: $u,$v")
      val brute = byOrder.count(b => b.contains(u) && b.contains(v)).toLong
      assert(sup == brute, s"support($u,$v)=$sup, brute=$brute")
      assert(sup >= 2 && conf == sup * 1000000L / itemCount(u))
      // lift derives from the reduced confidence (overflow-safe order:
      // (sup·Ppm / cu) · n / cv), matching both engines exactly
      assert(lift == sup * 1000000L / itemCount(u) * nOrders / itemCount(v))
    }
  }

  test("stats_trend_ols equals the closed-form integer replay per type") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, TestSpark.Sf)
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vu"))
      .groupBy("event_type", "day").agg(sum("vu").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = SparkEntry.queries("stats_trend_ols")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got.nonEmpty)
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val d0 = rows.map(_._2).min
      val xs = rows.map(_._2 - d0); val ys = rows.map(_._3)
      val n = rows.length.toLong
      val (sx, sxx, sy, sxy) =
        (xs.sum, xs.map(x => x * x).sum, ys.sum, xs.zip(ys).map { case (x, y) => x * y }.sum)
      val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
      val slope = num / den // Scala Long / truncates toward zero = both engines
      val icept = (sy - slope * sx) / n
      assert(got(tpe) == ((n, sy, slope, icept, num > 0)),
        s"$tpe: ${got(tpe)} != ${(n, sy, slope, icept, num > 0)}")
    }
  }

  test("stats_corr_pairs: r in [-1,1], symmetric pair set, self-pairs absent") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("stats_corr_pairs")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val types = rows.flatMap(r => Seq(r._1, r._2)).distinct.length
    assert(rows.length == types * (types - 1) / 2, "not one row per unordered pair")
    rows.foreach { case (ta, tb, n, r6) =>
      assert(ta < tb, s"pair not canonical: $ta $tb")
      assert(n >= 2 && r6 >= -1.0 - 1e-9 && r6 <= 1.0 + 1e-9, s"($ta,$tb): r=$r6 n=$n")
    }
  }

  test("skyline running-max kernel: dominance by strict-cheaper or equal-price-bigger") {
    val spark = TestSpark.spark
    import spark.implicits._
    // (pk, price, size): 2/3 are exact duplicates (neither dominates the
    // other), 4 loses to 2 on price at equal size, 5 loses to 1 outright
    val pts = Seq((1L, 10.0, 5L), (2L, 12.0, 7L), (3L, 12.0, 7L),
      (4L, 13.0, 7L), (5L, 11.0, 4L), (6L, 9.0, 1L), (7L, 15.0, 9L))
      .toDF("p_partkey", "p_retailprice", "p_size")
    val dp = pts.groupBy(col("p_retailprice").as("price"))
      .agg(max("p_size").as("msize"))
    val sp = graft.operators.Prefix.scan(dp, "smax", Seq(col("price")), col("msize"),
      graft.operators.Prefix.Max, strict = true)
    // the strict prefix max is null exactly at the global minimum price
    val smax = sp.as[(Double, Long, Option[Long])].collect()
      .map { case (p, _, s) => p -> s }.toMap
    assert(smax == Map(9.0 -> None, 10.0 -> Some(1L), 11.0 -> Some(5L),
      12.0 -> Some(5L), 13.0 -> Some(7L), 15.0 -> Some(7L)), s"smax $smax")
    val surv = pts.join(sp, pts("p_retailprice") === sp("price"))
      .filter(!(coalesce(col("smax") >= col("p_size"), lit(false)) ||
        col("msize") > col("p_size")))
      .select("p_partkey").as[Long].collect().toSet
    assert(surv == Set(1L, 2L, 3L, 6L, 7L), s"skyline $surv")
  }

  test("events_survival: life-table identities hold against the raw user counts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("events_survival")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val users = Tables.events(spark, TestSpark.Sf)
      .select("user_id").distinct().count()
    // every user lands in exactly one lifetime bucket, and at_risk is the
    // running suffix mass (so the first bucket's at_risk is everyone)
    assert(rows.map(r => r._2 + r._3).sum == users)
    var suffix = users
    rows.foreach { case (k, ch, ce, ar) =>
      assert(ar == suffix, s"at_risk at k=$k")
      suffix -= (ch + ce)
    }
    assert(suffix == 0L)
  }

  test("sim_dim_stats: integer moments recompute exactly from the raw vectors") {
    val spark = TestSpark.spark
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf)
      .select("embedding").as[Array[Float]].collect()
    val got = SparkEntry.queries("sim_dim_stats")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == emb.head.length)
    got.foreach { case (i, n, sumQ, ssMq, minQ, maxQ) =>
      val q = emb.map(v => math.floor(v(i.toInt).toDouble * 1000000).toLong)
      val m = emb.map(v => math.floor(v(i.toInt).toDouble * 1000).toLong)
      assert(n == emb.length && sumQ == q.sum, s"dim $i sums")
      assert(ssMq == m.map(x => x * x).sum, s"dim $i squares")
      assert(minQ == q.min && maxQ == q.max, s"dim $i extrema")
    }
  }

  test("prof_benford: digit masses and both ppm columns recompute exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("prof_benford")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == (1L to 9L), "all nine digits, ordered")
    val cents = Tables.orders(spark, TestSpark.Sf)
      .filter(col("o_totalprice") > 0)
      .select(floor(col("o_totalprice") * 100).cast("long")).as[Long].collect()
    val byDigit = cents.groupBy(_.toString.head.asDigit.toLong)
      .view.mapValues(_.length.toLong).toMap
    val total = cents.length.toLong
    rows.foreach { case (d, n, obs, exp, dev) =>
      assert(n == byDigit.getOrElse(d, 0L), s"digit $d count")
      assert(obs == n * 1000000L / total && dev == obs - exp, s"digit $d ppm")
      assert(exp == math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong, s"digit $d law")
    }
  }

  test("cdc_asof_snapshot agrees with the cdc_scd2 interval containing T") {
    val spark = TestSpark.spark
    import spark.implicits._
    val hist = SparkEntry.queries("cdc_scd2")(spark, TestSpark.Sf)
      .select("user_id", "state", "valid_from_us", "valid_to_us", "version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3), r.getLong(4)))
    val froms = hist.map(_._3)
    val t0 = (froms.min + froms.max) / 2
    val expect = hist.filter(h => h._3 <= t0 && h._4 > t0)
      .map(h => (h._1, h._2, h._3, h._5)).sortBy(_._1)
    val got = SparkEntry.queries("cdc_asof_snapshot")(spark, TestSpark.Sf)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == expect.toSeq, "snapshot must be the interval containing T")
  }

  test("events_markov_predict: train argmax and eval accuracy replay exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    // driver replay of the session-bounded transitions + midpoint split
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .as[(Long, String, Long, Long)].collect()
    val pairs = ev.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(e => (e._4, e._2, e._3))
      s.zip(s.tail).collect { case (a, b) if b._4 - a._4 < 1800000000L =>
        (a._2, b._2, b._4 / 86400000000L)
      }
    }.toSeq
    val split = (pairs.map(_._3).min + pairs.map(_._3).max) / 2
    val train = pairs.filter(_._3 < split)
    val pred = train.groupBy(p => (p._1, p._2)).view.mapValues(_.size).toSeq
      .groupBy(_._1._1).map { case (src, cs) =>
        src -> cs.map { case ((_, dst), c) => (dst, c) }
          .sortBy { case (dst, c) => (-c, dst) }.head._1
      }
    val eval = pairs.filter(_._3 >= split).filter(p => pred.contains(p._1))
    val expect = eval.groupBy(_._1).map { case (src, es) =>
      val correct = es.count(_._2 == pred(src))
      (src, pred(src), es.size.toLong, correct.toLong,
        correct.toLong * 1000000L / es.size)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("events_markov_predict")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expect, s"got $got expected $expect")
  }

  test("events_dow_profile: shares are a floor-partition of unity; masses conserve") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("events_dow_profile")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val nEvents = Tables.events(spark, TestSpark.Sf).count()
    assert(rows.map(_._4).sum == nEvents, "event mass conserved")
    rows.groupBy(_._1).foreach { case (t, g) =>
      val s = g.map(_._6).sum
      assert(s <= 1000000L && s > 1000000L - 7, s"type $t share sum $s")
      assert(g.map(_._2).toSet.subsetOf((0L to 6L).toSet))
    }
  }

  test("dedup_minhash_calib: estimator is calibrated (bounded mean error, exact algebra)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("dedup_minhash_calib")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty, "calibration needs candidate pairs at this sf")
    rows.foreach { case (a, b, jacc, est, err) =>
      assert(a < b && jacc >= 200000L && jacc <= 1000000L)
      assert(est >= 0L && est <= 1000000L && est % (1000000L / 32) == 0,
        s"est must be k/32 in ppm floor units: $est")
      assert(err == est - jacc)
    }
    val mae = rows.map(r => math.abs(r._5)).sum / rows.length
    assert(mae <= 150000L, s"32-perm MinHash MAE $mae ppm is out of calibration")
  }

  test("corpus_concentration: deciles partition the corpus; Lorenz curve is sane") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("corpus_concentration")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 10L))
    val (nDocs, total) = {
      val r = Tables.documents(spark, TestSpark.Sf)
        .agg(count(lit(1)), sum("n_chars")).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(rows.map(_._2).sum == nDocs && rows.map(_._3).sum == total)
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1, "equal-frequency deciles")
    // decile 1 = biggest docs: per-decile mass and the curve both decrease
    assert(rows.sliding(2).forall(p => p(0)._3 >= p(1)._3), "mass non-increasing")
    assert(rows.last._5 == 1000000L, "cumulative share ends at exactly 1e6 ppm")
    assert(rows.sliding(2).forall(p => p(0)._5 <= p(1)._5), "cum share monotone")
  }

  test("events_ab_test: hash assignment partitions users; moments replay exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("events_ab_test")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L), "two variants")
    val users = Tables.events(spark, TestSpark.Sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum == users, "every user lands in exactly one variant")
    // per-user cents replay through the same portable hash
    import org.apache.spark.sql.functions._
    val u = Tables.events(spark, TestSpark.Sf)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
      .select((graft.functions.PortableHash.h8(
          lpad(col("user_id").cast("string"), 8, "0")) % 2).as("v"), col("cents"))
      .as[(Long, Long)].collect()
    rows.foreach { case (v, n, s, sq) =>
      val g = u.filter(_._1 == v).map(_._2)
      assert(n == g.length && s == g.sum && sq == g.map(x => x * x).sum, s"variant $v")
    }
  }

  test("prof_collision: H2 is bounded by log2(ndv) and the collision mass replays") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("prof_collision")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 6)
    rows.foreach { case (cn, n, ndv, c2, h2) =>
      assert(ndv >= 1 && c2 >= n && c2 <= n * n, s"$cn mass bounds")
      assert(h2 <= math.round(1000 * math.log(ndv.toDouble) / math.log(2)) + 1,
        s"$cn H2 exceeds uniform bound")
      assert(h2 == math.round(1000 * math.log(n.toDouble * n / c2) / math.log(2)),
        s"$cn H2 formula")
    }
    // one full driver replay: events.event_type
    val counts = Tables.events(spark, TestSpark.Sf)
      .groupBy("event_type").count().collect().map(_.getLong(1))
    val r = rows.find(_._1 == "events.event_type").get
    assert(r._2 == counts.sum && r._3 == counts.length.toLong &&
      r._4 == counts.map(c => c * c).sum)
  }

  test("stats_exact_quantiles equals a driver sort's lower-quantile elements") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("stats_exact_quantiles")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val cents = Tables.lineitem(spark, TestSpark.Sf)
      .select(floor(col("l_extendedprice") * 100).cast("long")).as[Long]
      .collect().sorted
    val n = cents.length.toLong
    rows.foreach { case (q, pos, v) =>
      assert(pos == q * (n - 1) / 100 + 1, s"q=$q position")
      assert(v == cents((pos - 1).toInt), s"q=$q value")
    }
    assert(rows.map(_._1).toSeq == Seq(1L, 25L, 50L, 75L, 90L, 99L))
  }

  test("dedup_lsh_audit: confusion algebra holds; banding is near-recall-complete at τ=0.8") {
    val spark = TestSpark.spark
    val r = SparkEntry.queries("dedup_lsh_audit")(spark, TestSpark.Sf).head()
    val (cand, tru, tp, fp, miss, prec, rec) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    assert(tru > 0 && cand > 0, "fixture must contain near-dups")
    assert(tp <= math.min(cand, tru) && fp == cand - tp && miss == tru - tp)
    assert(prec == tp * 1000000L / cand && rec == tp * 1000000L / tru)
    // P(miss one pair) = (1 - j^2)^16 ≤ 1.3e-7 at j = 0.8 — a miss here
    // means the banding broke, not bad luck
    assert(rec >= 900000L, s"banding recall $rec ppm collapsed")
  }

  test("events_ab_cuped: bivariate moments replay; x+y equals the univariate metric") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("events_ab_cuped")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L))
    // pre + post totals per user must equal events_ab_test's metric
    val ab = SparkEntry.queries("events_ab_test")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    rows.zip(ab).foreach { case ((v, n, sx, sy, sxx, syy, sxy), (v2, n2, s, _)) =>
      assert(v == v2 && n == n2, s"variant $v population")
      assert(sx + sy == s, s"variant $v mass split")
      // Cauchy-Schwarz on the exact moments
      assert(sxy.toDouble * sxy <= sxx.toDouble * syy + 1e-6, s"variant $v CS")
    }
    // θ and the variance reduction are finite (driver-side formulas work)
    rows.foreach { case (v, n, sx, _, sxx, _, _) =>
      val varX = n.toDouble * sxx - sx.toDouble * sx
      assert(varX >= 0, s"variant $v pre-period variance")
    }
  }

  test("prof_key_coverage replays from distinct key-set intersections") {
    val spark = TestSpark.spark
    val got = SparkEntry.queries("prof_key_coverage")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def keys(t: String, c: String) =
      Tables.table(spark, TestSpark.Sf, t).select(c).collect().map(_.getLong(0))
    def chk(rel: String, dim: Array[Long], fact: Set[Long]): Unit = {
      val used = dim.count(fact).toLong
      assert(got(rel) == ((dim.length.toLong, used, used * 1000000L / dim.length)), rel)
    }
    chk("customer->orders", keys("customer", "c_custkey"),
      keys("orders", "o_custkey").toSet)
    chk("part->lineitem", keys("part", "p_partkey"),
      keys("lineitem", "l_partkey").toSet)
    chk("supplier->lineitem", keys("supplier", "s_suppkey"),
      keys("lineitem", "l_suppkey").toSet)
    chk("orders->lineitem", keys("orders", "o_orderkey"),
      keys("lineitem", "l_orderkey").toSet)
  }

  test("sim_norm_hist: mass equals corpus size and bucket bounds obey the bit law") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("sim_norm_hist")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._2).sum == Tables.embeddings(spark, TestSpark.Sf).count())
    rows.foreach { case (b, _, mn, mx) =>
      assert(mn + 1 >= (1L << (b - 1).toInt) && mx + 1 < (1L << b.toInt),
        s"bucket $b bounds [$mn, $mx]")
    }
  }

  test("events_mad_outliers: median/MAD recompute exactly; fence is one-sided robust") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("events_mad_outliers")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.nonEmpty)
    val cents = Tables.events(spark, TestSpark.Sf)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sorted }
    def med2(xs: Array[Long]): Long =
      if (xs.length % 2 == 1) 2 * xs(xs.length / 2)
      else xs(xs.length / 2 - 1) + xs(xs.length / 2)
    cents.foreach { case (t, xs) =>
      val (n, m2, mad4, out) = rows(t)
      assert(n == xs.length)
      assert(m2 == med2(xs), s"median mismatch for $t")
      val dev2 = xs.map(x => math.abs(2 * x - m2)).sorted
      assert(mad4 == med2(dev2), s"MAD mismatch for $t")
      // |x−med| > 3·MAD in scaled units: 2·dev2 > 3·mad_x4
      val brute = xs.count(x => 2 * math.abs(2 * x - m2) > 3 * mad4).toLong
      assert(out == brute, s"outlier count mismatch for $t")
      assert(out < n, s"fence flagged everything for $t")
    }
  }
}
