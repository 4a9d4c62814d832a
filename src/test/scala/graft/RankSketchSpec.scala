package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** Round-5 operators: integer PageRank (hand-computed fixed points +
  * storage hygiene), the deterministic count-min sketch (the never-
  * under-counts invariant), the linear quality model (score/keep
  * consistency), and latest-wins upsert (merge cardinality invariants).
  */
class RankSketchSpec extends AnyFunSuite with CacheDrained {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: symmetric 2-cycle is the exact fixed point") {
    // A<->B with equal weights: rank stays at scale/2 every round
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "n")
    val got = GraphOps.pageRank(edges, iters = 10).as[(String, Long)].collect().toMap
    assert(got("a") == 500000000L && got("b") == 500000000L)
  }

  test("pageRank: dangling sink matches the hand-computed replay") {
    // A->B only. base = 15e9/200 = 75_000_000; A gets base each round;
    // r1(B) = base + 85*r0(A)/100; r2(B) = base + 85*r1(A)/100
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "n")
    val r2 = GraphOps.pageRank(edges, iters = 2).as[(String, Long)].collect().toMap
    assert(r2("a") == 75000000L)
    assert(r2("b") == 75000000L + (85L * 75000000L) / 100L)
  }

  test("pageRank: a 50k-node graph runs distributed with mass conservation bounds") {
    // deterministic 2-out-regular digraph: every node links to (7i+1) and
    // (13i+5) mod n — no sinks, so total rank is conserved up to the
    // per-edge floor truncation (≤ 1 per edge per round, 10 rounds)
    val n = 50000L
    val edges = TestSpark.spark.range(n).selectExpr(
        "id AS src", s"pmod(7 * id + 1, $n) AS dst", "1L AS n")
      .unionByName(TestSpark.spark.range(n).selectExpr(
        "id AS src", s"pmod(13 * id + 5, $n) AS dst", "1L AS n"))
    val r = GraphOps.pageRank(edges, iters = 10)
    val row = r.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum("rank"),
      org.apache.spark.sql.functions.min("rank")).collect().head
    val (cnt, total, mn) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(cnt == n)
    assert(mn >= 0L)
    // no sinks → only floor losses: 2n edges × 10 rounds + base rounding
    val scale = 1000000000L
    assert(total <= scale && total >= scale - 10L * (2 * n + n) - scale % n,
      s"rank mass $total out of the floor-loss envelope")
  }

  test("pageRank: checkpoint blocks do not accumulate with round count") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val edges = (0L until 12L).map(i => (s"n$i", s"n${(i + 1) % 12}", i + 1)).toDF("src", "dst", "n")
    GraphOps.pageRank(edges, iters = 15).count()
    val live = sc.getPersistentRDDs.keySet.toSet -- before
    // final checkpoint + possibly the non-blocking edge/node unpersists
    assert(live.size <= 3, s"leaked ${live.size} persistent RDDs: $live")
  }

  test("events_count_min: estimates never under-count and are ordered") {
    val rows = SparkEntry.queries("events_count_min")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (u, est, exact) =>
      assert(est >= exact, s"user $u: est $est < exact $exact")
    }
    assert(rows.map(_._2).sameElements(rows.map(_._2).sorted.reverse), "not sorted by est desc")
  }

  test("events_hll_distinct: one row, and linear counting lands on the tiny cardinality") {
    val rows = SparkEntry.queries("events_hll_distinct")(spark, TestSpark.Sf)
      .as[(Long, Long)].collect()
    assert(rows.length == 1)
    val (est, exact) = rows.head
    assert(exact == 15L)
    // 15 keys over 64 registers → small-range regime; the inlined
    // linear-counting table must recover the cardinality exactly here
    // (13 occupied registers after one bucket collision → lc(51) = 15)
    assert(est == 15L, s"estimate $est drifted from the deterministic sketch")
  }

  test("sketch_hll_merge: day-merged registers equal one-shot registers (sketch algebra)") {
    import org.apache.spark.sql.functions.{col, expr, lpad, max}
    val ev = graft.Tables.events(spark, TestSpark.Sf)
    val v = graft.functions.PortableHash.minhashPerm(
      graft.functions.PortableHash.h8(lpad(col("user_id").cast("string"), 8, "0")), 5)
    val wr = ev.select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"), v.as("v"))
      .selectExpr("event_type", "day", "v % 64 AS bucket",
        "CASE WHEN v DIV 64 = 0 THEN 26L ELSE 26 - length(bin(v DIV 64)) END AS rho")
    // merge = register-wise max commutes with the daily grouping: rolling
    // up the materialized per-day sketches must reproduce the registers a
    // single pass over the raw rows would build
    val mergedRegs = graft.operators.SketchOps.dailyHllRegisters(wr)
      .groupBy("event_type", "bucket").agg(max("m").as("m"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val oneShot = wr.groupBy("event_type", "bucket").agg(max("rho").as("m"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(mergedRegs == oneShot, "day-merged register file drifted from one-shot")
    assert(mergedRegs.nonEmpty)
    // and the registered query's estimate column is consistent per type
    val rows = SparkEntry.queries("sketch_hll_merge")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDays, est, exact) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nDays >= 1 && est > 0 && exact > 0)
      // m=64 HLL standard error is ~13%; allow a wide 3x band — this pins
      // sanity (est tracks cardinality), not the estimator's variance
      assert(est <= exact * 3 && est * 3 >= exact,
        s"${r.getString(0)}: est $est implausibly far from exact $exact")
    }
  }

  test("events_bloom: no false negatives at any sf; word table stays bounded") {
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val rows = SparkEntry.queries("events_bloom")(spark, sf)
        .as[(Long, Long, Long)].collect()
      assert(rows.nonEmpty)
      // the bloom guarantee: a true member NEVER misses
      rows.foreach { case (k, hit, in) =>
        assert(in == 0L || hit == 1L, s"$sf: member $k missed by the bloom filter")
      }
      val fps = rows.count { case (_, hit, in) => hit == 1L && in == 0L }
      val nonMembers = rows.count(_._3 == 0L)
      info(s"$sf: ${rows.length} probes, $nonMembers non-members, $fps false positives")
      // the filter must actually reject most non-members at these loads
      // (4096 bits / 4 hashes; build side ≤ ~1.4k keys at sf0.01)
      assert(nonMembers == 0 || fps.toDouble / nonMembers < 0.5,
        s"$sf: false-positive rate ${fps.toDouble / nonMembers} — filter saturated")
      val words = SparkEntry.queries("stream_bloom")(spark, sf).collect()
      assert(words.length <= 66, s"$sf: ${words.length} word rows > bound")
    }
  }

  test("events_hist_quantiles: each estimate's bin contains the exact rank element; quantiles ordered") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, floor}
    val rows = SparkEntry.queries("events_hist_quantiles")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val cents = Tables.events(spark, TestSpark.Sf)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sorted }
    cents.foreach { case (t, xs) =>
      val (n, width, p50, p95, p99) = rows(t)
      assert(n == xs.length)
      assert(p50 <= p95 && p95 <= p99)
      // the ceil(q·n)-th smallest element lies inside the reported bin
      def rankEl(num: Long, den: Long): Long =
        xs(((num * n + den - 1) / den - 1).toInt)
      Seq((1L, 2L, p50), (19L, 20L, p95), (99L, 100L, p99)).foreach {
        case (num, den, est) =>
          val x = rankEl(num, den)
          assert(est <= x && x < est + width,
            s"$t q=$num/$den: element $x outside bin [$est, ${est + width})")
      }
    }
  }

  test("events_top_paths: counts equal a driver replay of the session trigrams") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, expr}
    val got = SparkEntry.queries("events_top_paths")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gap = graft.operators.EventOps.GapUs
    val brute = ev.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(e => (e._4, e._2, e._3)).toSeq
      s.sliding(3).collect {
        case Seq(a, b, c) if c._4 - b._4 < gap && b._4 - a._4 < gap =>
          s"${a._2}>${b._2}>${c._2}"
      }
    }.toSeq.groupBy(s => s).map { case (k, v) => k -> v.size.toLong }
    got.foreach { case (p, n) => assert(brute(p) == n, s"path $p: $n vs ${brute(p)}") }
    // top-20 really is the top of the full distribution
    val floor20 = got.map(_._2).min
    assert(brute.values.count(_ > floor20) <= got.size)
  }

  test("text_quality_model: keep is exactly the threshold predicate and splits") {
    val rows = SparkEntry.queries("text_quality_model")(spark, TestSpark.Sf)
      .as[(Long, Long, Boolean)].collect()
    rows.foreach { case (id, score, keep) =>
      assert(keep == (score >= 800000L), s"doc $id: keep mismatches score $score")
    }
    assert(rows.exists(_._3) && rows.exists(!_._3), "threshold split is degenerate")
  }

  test("inv_merge_upsert precondition: every name has a unique latest-wins winner") {
    // Precondition documented on RefFixtures.invFiles: the anti-join+union
    // merge equals the oracle's row_number latest-wins only when each name
    // resolves to ONE deterministic winner. Names are NOT globally unique
    // (sf0.001 carries a lineitem tuple duplicated on the 4 name keys with
    // different prices), so the binding condition is per-name:
    //   - an updated name keeps only its upd rows → exactly one v=2 row;
    //   - an un-updated name keeps all its base rows → it must be unique.
    // The oracle's ORDER BY v DESC is equally ambiguous outside this
    // condition (row_number ties), so a dataset that breaks it must fail
    // HERE, loudly, at both test scale factors — not diverge in verify.
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val base = graft.fixtures.RefFixtures.inventory(spark, sf)
        .filter(!$"is_folder")
        .select($"name", $"length", ($"length" % 10 < 3).as("updated"))
      val bad = base.groupBy("name")
        .agg(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when($"updated", 1L).otherwise(0L)).as("nUpd"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("nAll"))
        .filter(($"nUpd" === 0L && $"nAll" > 1L) || $"nUpd" > 1L)
      assert(bad.count() == 0,
        s"$sf: names with an ambiguous latest-wins winner: " +
          bad.limit(5).collect().mkString(", "))
    }
  }

  test("inv_merge_upsert: one row per path, updates win, others pass through") {
    val merged = SparkEntry.queries("inv_merge_upsert")(spark, TestSpark.Sf)
    val n = merged.count()
    assert(merged.select("name").distinct().count() == n, "duplicate paths after merge")
    val v2 = merged.filter($"v" === 2L)
    assert(v2.count() > 0)
    assert(v2.filter(!$"owner".startsWith("migrated-")).count() == 0)
    assert(merged.filter($"v" === 1L).filter($"owner".startsWith("migrated-")).count() == 0)
  }

  test("mergeUpsert rejects ambiguous keys loudly and accepts legitimate duplicates") {
    import graft.operators.InventoryOps.mergeUpsert
    import spark.implicits._
    def frame(rows: (String, Long)*) = rows.toDF("name", "v")
    // un-updated duplicate in base → ambiguous, must throw
    val e1 = intercept[IllegalArgumentException](
      mergeUpsert(frame("a" -> 1L, "a" -> 1L, "b" -> 1L),
        frame("b" -> 2L), "name").count())
    assert(e1.getMessage.contains("'a'"))
    // several update rows for one key → row_number tie, must throw
    val e2 = intercept[IllegalArgumentException](
      mergeUpsert(frame("a" -> 1L),
        frame("a" -> 2L, "a" -> 2L), "name").count())
    assert(e2.getMessage.contains("'a'"))
    // duplicated base rows whose key IS updated: unambiguous — one winner
    val ok = mergeUpsert(frame("a" -> 1L, "a" -> 1L, "b" -> 1L),
      frame("a" -> 2L), "name").collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(ok.toSeq == Seq("a" -> 2L, "b" -> 1L))
    // the probe is conf-gated for pipelines that validated keys upstream
    spark.conf.set("spark.graft.merge.checkKeys", "false")
    try {
      val loose = mergeUpsert(frame("a" -> 1L, "a" -> 1L), frame(), "name")
      assert(loose.count() == 2) // documented divergence when the gate is off
    } finally spark.conf.unset("spark.graft.merge.checkKeys")
  }

  test("personalizedPageRank: 2-cycle from one seed matches the hand replay") {
    // a<->b, seed {a}, scale 1000: base = 150, r0 = (1000, 0)
    // round 1: contrib(b) = 85*1000 DIV 100 = 850 → (150, 850)
    // round 2: contrib(a) = 85*850 DIV 100 = 722,
    //          contrib(b) = 85*150 DIV 100 = 127 → (872, 127)
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "n")
    val seeds = Seq("a").toDF("node")
    val got = GraphOps.personalizedPageRank(edges, seeds, iters = 2, scale = 1000L)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 872L, "b" -> 127L), s"got $got")
  }

  test("personalizedPageRank: seed absent from the graph drains all rank to zero") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "n")
    val got = GraphOps.personalizedPageRank(edges, Seq("zz").toDF("node"),
      iters = 3, scale = 1000L).as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "b" -> 0L), s"got $got")
  }

  test("sketch_cm_merge: per-day partials merged by sum equal the one-pass sketch") {
    val one = SparkEntry.queries("events_count_min")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val merged = SparkEntry.queries("sketch_cm_merge")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(one == merged, "cell-wise sum over daily partials must be the global sketch")
    merged.foreach { case (_, est, exact) =>
      assert(est >= exact, "count-min never under-counts")
    }
  }

  test("join_bloom_prefilter: bloom prefilter + exact join ≡ plain join") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("join_bloom_prefilter")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val dim = Tables.customer(spark, TestSpark.Sf)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 8000)
      .select("c_custkey")
    val plain = Tables.orders(spark, TestSpark.Sf)
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == plain, "the bloom stage must be semantically invisible")
  }

  test("rec_item_item: per-item heap rewrite fires and scores recompute exactly") {
    val df = SparkEntry.queries("rec_item_item")(spark, TestSpark.Sf)
    val rows = df.collect()
    df.queryExecution.executedPlan // force planning after collect
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"rank-limit heap rewrite did not fire:\n$p")
    // brute-force recompute for a handful of items
    val d = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect()
    val byOrder = d.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = d.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val sample = rows.map(_.getLong(0)).distinct.take(5)
    sample.foreach { item =>
      val cooc = scala.collection.mutable.Map.empty[Long, Long]
      byOrder.valuesIterator.filter(_.contains(item)).foreach { basket =>
        (basket - item).foreach(v => cooc(v) = cooc.getOrElse(v, 0L) + 1L)
      }
      val expect = cooc.toSeq.map { case (v, c) =>
        (v, c, ((c * 1000000L) / n(item)) * c / n(v))
      }.sortBy { case (v, _, s) => (-s, v) }.take(5)
      val got = rows.filter(_.getLong(0) == item).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got == expect, s"item $item: got $got expected $expect")
    }
  }

  test("events_cohort_ltv: triangle mass equals the raw post-signup purchase mass") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("events_cohort_ltv")(spark, TestSpark.Sf)
      .agg(sum("n_purchases"), sum("cents")).as[(Long, Long)].head()
    val e = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"),
        floor(col("value") * 100).cast("long").as("cents"))
    val s = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("d").as("cohort_d"))
    val raw = e.filter(col("event_type") === "purchase")
      .join(s, "user_id").filter(col("d") >= col("cohort_d"))
      .agg(count(lit(1)), sum("cents")).as[(Long, Long)].head()
    assert(got == raw, s"triangle $got vs raw $raw")
  }

  test("graph_assortativity: moments replay from a driver edge build; r in [-1, 1]") {
    val row = SparkEntry.queries("graph_assortativity")(spark, TestSpark.Sf).head()
    val (n, sx, sxx, sxy, r6) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getDouble(4))
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
    val pairs = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val directed = pairs.toSeq.flatMap(p => Seq(p, p.swap))
    val deg = directed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xy = directed.map { case (a, b) => (deg(a), deg(b)) }
    assert(n == directed.size && sx == xy.map(_._1).sum)
    assert(sxx == xy.map(t => t._1 * t._1).sum && sxy == xy.map(t => t._1 * t._2).sum)
    assert(r6 >= -1.0 && r6 <= 1.0, s"assortativity $r6 out of range")
  }

  test("graph_reciprocity: ppm shares replay from a driver fold of the edge list") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("graph_reciprocity")(spark, TestSpark.Sf).head()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_type", "event_id")
    val ed = Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("src", lag("event_type", 1).over(w))
      .withColumn("prev_us", lag("us", 1).over(w))
      .filter(col("src").isNotNull &&
        col("us") - col("prev_us") < graft.operators.EventOps.GapUs &&
        col("src") =!= col("event_type"))
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
    val m = ed.map { case (s, d, n) => (s, d) -> n }.toMap
    val wRecip = ed.map { case (s, d, n) => math.min(n, m.getOrElse((d, s), 0L)) }.sum
    val nRecip = ed.count { case (s, d, _) => m.contains((d, s)) }.toLong
    assert(r.getLong(0) == ed.length.toLong && r.getLong(1) == nRecip)
    assert(r.getLong(2) == ed.map(_._3).sum && r.getLong(3) == wRecip)
    assert(r.getLong(4) == nRecip * 1000000L / ed.length &&
      r.getLong(5) == wRecip * 1000000L / ed.map(_._3).sum)
  }

  test("graph_best_path: min-plus costs equal a driver Bellman-Ford on surprisal weights") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("graph_best_path")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_type", "event_id")
    val ed = Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("src", lag("event_type", 1).over(w))
      .withColumn("prev_us", lag("us", 1).over(w))
      .filter(col("src").isNotNull &&
        col("us") - col("prev_us") < graft.operators.EventOps.GapUs)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
    val outW = ed.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val cost = ed.map { case (s, d, n) =>
      (s, d) -> math.round(1000.0 * math.log(outW(s).toDouble / n) / math.log(2))
    }
    val nodes = ed.flatMap(e => Seq(e._1, e._2)).distinct
    val inf = 1000000000L
    val dist = scala.collection.mutable.Map(
      nodes.toSeq.map(n => n -> (if (n == "signup") 0L else inf)): _*)
    (1 to 6).foreach { _ =>
      cost.foreach { case ((s, d), c) =>
        if (dist(s) < inf && dist(s) + c < dist(d)) dist(d) = dist(s) + c
      }
    }
    val expect = dist.filter(_._2 < inf).toMap
    assert(got == expect, s"path costs drifted: got $got expected $expect")
  }

  test("stats_rolling_robust: quantiles recompute from the trailing frames") {
    val rows = SparkEntry.queries("stats_rolling_robust")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val series = rows.map(r => (r._1, r._2))
    rows.zipWithIndex.foreach { case ((day, x, n, q1, med, q3, spike), i) =>
      // ROWS frame: the 7 trailing rows by position (not calendar days —
      // the two only differ if a day is absent, and the ROWS form is what
      // both engines compute)
      val frame = series.slice(math.max(0, i - 6), i + 1).map(_._2).sorted
      val m = frame.length
      assert(n == m, s"day $day frame size")
      assert(q1 == frame((m - 1) / 4) && med == frame((m - 1) / 2) &&
        q3 == frame(m - 1 - (m - 1) / 4), s"day $day quantiles")
      assert(spike == (x > q3 + 3 * (q3 - q1)), s"day $day spike flag")
    }
  }
}
