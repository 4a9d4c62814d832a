package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-operator invariants for the round-3 additions (each is also
  * hash-oracled; these pin the semantic relationships the oracle can't). */
class OperatorInvariantSpec extends AnyFunSuite with CacheDrained {

  test("capped sessionization: no sub-session exceeds the cap; chop actually fires on a long session") {
    val spark = TestSpark.spark
    // real data: every emitted sub-session obeys the 2 h cap, and the
    // (user, gid) roll-up equals the uncapped sessionizer exactly
    val capped = SparkEntry.queries("events_sessionize_capped")(spark, TestSpark.Sf)
      .collect()
    assert(capped.nonEmpty)
    capped.foreach(r => assert(r.getLong(4) < 7200000000L,
      s"sub-session ${r.toSeq.take(3)} exceeds the 2h cap: ${r.getLong(4)}"))
    val rolled = capped.groupBy(r => (r.getLong(0), r.getLong(1)))
      .view.mapValues(_.map(_.getLong(3)).sum).toMap
    val plain = SparkEntry.queries("events_session")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(rolled == plain, "capped sub-sessions do not roll up to the gap sessions")
    // synthetic long session (25 min strides for 5 h — one gap-session):
    // replay the same two-window kernel and check the chop splits it
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("user_id").orderBy("us")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val subs = (0 until 12).map(i => (1L, i * 1500000000L)).toDF("user_id", "us")
      .withColumn("prev", lag("us", 1).over(wOrd))
      .withColumn("new_s",
        when(col("prev").isNull || col("us") - col("prev") >= 1800000000L, 1L).otherwise(0L))
      .withColumn("gid", sum("new_s").over(wCum))
      .withColumn("sub",
        expr("(us - min(us) OVER (PARTITION BY user_id, gid)) DIV 7200000000"))
      .select("gid", "sub").distinct().collect()
    assert(subs.map(_.getLong(0)).distinct.length == 1, "stride opened a second gap-session")
    assert(subs.map(_.getLong(1)).sorted.toSeq == Seq(0L, 1L, 2L),
      s"5h single session should chop into 3 capped subs: ${subs.toSeq}")
  }

  test("containment dominates Jaccard on every overlapping pair") {
    val spark = TestSpark.spark
    val jac = SparkEntry.queries("dedup_jaccard")(spark, TestSpark.Sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val cont = SparkEntry.queries("dedup_containment")(spark, TestSpark.Sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    // C(A,B) = i/|A| ≥ i/(|A|+|B|-i) = J(A,B); every Jaccard pair must
    // appear with both containments ≥ its Jaccard (containment is rounded
    // to 6dp in the query output, hence the half-ulp-of-6dp tolerance)
    assert(jac.nonEmpty)
    jac.foreach { case (pair, j) =>
      val (cab, cba) = cont.getOrElse(pair, fail(s"pair $pair missing from containment"))
      assert(cab >= j - 5e-7 && cba >= j - 5e-7, s"$pair: containment below Jaccard")
    }
  }

  test("orders_rfm quintiles are balanced and the code composes the three digits") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("orders_rfm")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val n = rows.length
    assert(n >= 5)
    Seq[(String, ((Long, Long, Long, Long)) => Long)](
      ("r_q", _._1), ("f_q", _._2), ("m_q", _._3)).foreach { case (name, get) =>
      val sizes = rows.groupBy(get).view.mapValues(_.length).toMap
      assert(sizes.keySet == (1L to 5L).toSet, s"$name buckets: ${sizes.keySet}")
      // SQL NTILE: bucket sizes differ by at most one
      assert(sizes.values.max - sizes.values.min <= 1, s"$name unbalanced: $sizes")
    }
    rows.foreach { case (r, f, m, code) =>
      assert(code == r * 100 + f * 10 + m, s"code $code != digits $r$f$m")
    }
  }

  test("text_search_and returns exactly the docs containing every query term") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> "[a-z0-9]+".r.findAllIn(r.getString(1)).toSet).toMap
    // replay the query derivation: the AndTerms lowest-df tokens
    val df = scala.collection.mutable.Map.empty[String, Int]
    docs.values.foreach(_.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
    val q = df.toSeq.sortBy { case (t, d) => (d, t) }.take(4).map(_._1).toSet
    val expected = docs.collect { case (id, ts) if q.subsetOf(ts) => id }.toSet
    val got = SparkEntry.queries("text_search_and")(spark, TestSpark.Sf)
      .collect().map(_.getLong(0)).toSet
    // the query returns top-20 by summed tf; at this sf the full match set
    // is under the limit, so the sets must be equal
    assert(expected.size <= 20, "fixture drift: match set exceeds TopK, weaken to subset")
    assert(got == expected, s"AND semantics drifted: got $got expected $expected")
  }

  test("text_search_phrase counts adjacent-bigram occurrences exactly") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> "[a-z0-9]+".r.findAllIn(r.getString(1)).toSeq)
    val bigrams = docs.flatMap { case (id, ts) =>
      ts.zip(ts.drop(1)).map(bg => (id, bg))
    }
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    bigrams.foreach { case (_, bg) => counts(bg) = counts.getOrElse(bg, 0L) + 1L }
    val phrase = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head._1
    val perDoc = bigrams.filter(_._2 == phrase)
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expect = perDoc.toSeq.sortBy { case (id, n) => (-n, id) }.take(20)
    val got = SparkEntry.queries("text_search_phrase")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, s"phrase $phrase: got $got expected $expect")
  }

  test("dq_violations: every rule replays from independent driver recomputes") {
    val spark = TestSpark.spark
    val got = SparkEntry.queries("dq_violations")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val ok = Tables.orders(spark, TestSpark.Sf)
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ck = Tables.customer(spark, TestSpark.Sf)
      .select("c_custkey").collect().map(_.getLong(0))
    val orderKeys = ok.map(_._1).toSet
    val custKeys = ck.toSet
    val liKeys = li.map(_._1).toSet
    def chk(rule: String, viol: Long, checked: Long): Unit = {
      assert(got(rule) == ((viol, checked, viol * 1000000L / checked)), s"rule $rule")
    }
    chk("lineitem_orphan_order", li.count(l => !orderKeys(l._1)).toLong, li.length.toLong)
    chk("order_no_lineitems", ok.count(o => !liKeys(o._1)).toLong, ok.length.toLong)
    chk("order_orphan_customer", ok.count(o => !custKeys(o._2)).toLong, ok.length.toLong)
    chk("customer_dup_key",
      ck.groupBy(identity).values.filter(_.length > 1).map(_.length.toLong).sum,
      ck.length.toLong)
    chk("order_nonpositive_total", ok.count(_._3 <= 0).toLong, ok.length.toLong)
    chk("lineitem_qty_range",
      li.count(l => l._2 < 1 || l._2 > 50).toLong, li.length.toLong)
  }

  test("events_time_to_convert: CDF is monotone, ends at 1e6, mass equals converters") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_time_to_convert")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq, "CDF monotone")
    assert(rows.last._3 == 1000000L, "CDF ends at exactly 1e6 ppm")
    // independent converter count: users with a purchase at/after first signup
    val e = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val sd = e.filter(_._2 == "signup").groupBy(_._1).view.mapValues(_.map(_._3).min)
    val conv = e.filter(_._2 == "purchase")
      .filter(p => sd.get(p._1).exists(_ <= p._3)).map(_._1).distinct.length
    assert(rows.map(_._2).sum == conv.toLong, "histogram mass = converter count")
  }

  test("text_lang_confusion: cells partition the corpus; shares are exact ppm") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("text_lang_confusion")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byLang = Tables.documents(spark, TestSpark.Sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_._3).sum == byLang.values.sum, "cells partition the corpus")
    rows.groupBy(_._1).foreach { case (lang, cells) =>
      val tot = cells.map(_._3).sum
      assert(tot == byLang(lang), s"lang $lang row sum")
      cells.foreach { case (_, _, n, ppm) =>
        assert(ppm == n * 1000000L / tot, s"lang $lang share")
      }
    }
    assert(rows.forall(r => Set("en", "de", "fr")(r._2)), "prediction range")
  }

  test("dedup_rate_by_source: dup mass equals the distinct members of the pair frame") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("dedup_rate_by_source")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables.documents(spark, TestSpark.Sf).count()
    assert(rows.map(_._2).sum == nDocs, "sources partition the corpus")
    rows.foreach { case (s, n, d, ppm) =>
      assert(d <= n && ppm == d * 1000000L / n, s"source $s")
    }
    val dupIds = SparkEntry.queries("dedup_jaccard")(spark, TestSpark.Sf)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length
    assert(rows.map(_._3).sum == dupIds.toLong, "dup membership = pair-frame members")
  }

  test("join_asof_nearest: every match is the user's true argmin within tolerance") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("join_asof_nearest")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "tolerance window must produce matches at this sf")
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val views = ev.filter(_._3 == "view").groupBy(_._2)
    val tol = 3600000000L
    val expect = ev.filter(_._3 == "purchase").flatMap { case (eid, uid, _, pus) =>
      views.getOrElse(uid, Array.empty)
        .map { case (vid, _, _, vus) => (math.abs(vus - pus), vus, vid) }
        .filter(_._1 <= tol)
        .sortBy(identity).headOption.map { case (ad, _, vid) => (eid, vid, ad) }
    }.sortBy(_._1)
    assert(got.toSeq == expect.toSeq, "nearest-match replay")
  }

  test("text_tfidf_pairs: cosines replay from a driver sparse-vector build") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> "[a-z0-9]+".r.findAllIn(r.getString(1)).toSeq)
    val n = docs.length.toLong
    val tf = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    }
    val df = tf.flatMap(_._2.keys).groupBy(identity)
      .map { case (t, xs) => (t, xs.length.toLong) }
    def ml2idf(d: Long) = math.round(1000.0 * math.log(n.toDouble / d) / math.log(2))
    val w = tf.map { case (id, m) =>
      id -> m.collect { case (t, f) if df(t) * 2 <= n => (t, f * ml2idf(df(t))) }.toMap
    }.toMap
    val ids = w.keys.toSeq.sorted
    val sims = for {
      i <- ids.indices; j <- i + 1 until ids.length
      a = w(ids(i)); b = w(ids(j))
      dp = a.keySet.intersect(b.keySet).toSeq.map(t => a(t) * b(t)).sum
      if dp != 0L
    } yield (ids(i), ids(j),
      BigDecimal(dp.toDouble / (math.sqrt(a.values.map(x => x * x).sum.toDouble) *
        math.sqrt(b.values.map(x => x * x).sum.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val expect = sims.sortBy { case (a, b, s) => (-s, a, b) }.take(20)
    val got = SparkEntry.queries("text_tfidf_pairs")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect, s"tfidf pairs drifted:\n$got\nvs\n$expect")
  }

  test("events_streaks: islands replay from a driver scan of per-user active days") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val pres = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val streaks = pres.groupBy(_._1).toSeq.flatMap { case (u, ds) =>
      val sorted = ds.map(_._2).sorted
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = sorted.head; var prev = sorted.head
      sorted.tail.foreach { d =>
        if (d != prev + 1) { runs += ((start, prev - start + 1)); start = d }
        prev = d
      }
      runs += ((start, prev - start + 1))
      runs.map { case (s, l) => (u, s, l) }
    }
    val expect = streaks.sortBy { case (u, s, l) => (-l, u, s) }.take(20)
    val got = SparkEntry.queries("events_streaks")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, s"streaks drifted: $got vs $expect")
  }

  test("events_anomaly_seasonal: residuals are exact and dow-mean-free per cell") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_anomaly_seasonal")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.groupBy(_._1).forall(_._2.length <= 3))
    // recompute res_c for each flagged day from the raw daily frame
    val d = Tables.events(spark, TestSpark.Sf)
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
        floor(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type", "day").agg(sum("c").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val cells = d.groupBy(r => (r._1, r._2 % 7))
      .map { case (k, g) => k -> (g.length.toLong, g.map(_._3).sum) }
    rows.foreach { case (t, day, x, resC) =>
      val (c, s) = cells((t, day % 7))
      assert(x == d.find(r => r._1 == t && r._2 == day).get._3, s"$t/$day x")
      assert(resC == x * c - s, s"$t/$day residual")
    }
  }

  test("events_wau_stickiness: rolling distinct replays; DAU never exceeds WAU") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_wau_stickiness")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val pres = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (day, dau, wau, ppm) =>
      val expDau = pres.count(_._2 == day).toLong
      val expWau = pres.filter(p => p._2 <= day && p._2 > day - 7).map(_._1)
        .distinct.length.toLong
      assert(dau == expDau && wau == expWau, s"day $day active counts")
      assert(dau <= wau && ppm == dau * 1000000L / wau, s"day $day stickiness")
    }
  }

  test("sql_recursive_cte equals a driver BFS closure over the transition edges") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us", "event_type", "event_id")
    val edges = Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("src", lag("event_type", 1).over(w))
      .withColumn("prev_us", lag("us", 1).over(w))
      .filter(col("src").isNotNull &&
        col("us") - col("prev_us") < graft.operators.EventOps.GapUs)
      .select("src", "event_type").distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    var reach = Set("signup")
    var grew = true
    while (grew) {
      val next = reach ++ edges.collect { case (s, d) if reach(s) => d }
      grew = next.size > reach.size; reach = next
    }
    val got = SparkEntry.queries("sql_recursive_cte")(spark, TestSpark.Sf)
      .collect().map(_.getString(0)).toSet
    assert(got == reach, s"closure drifted: got $got expected $reach")
  }

  test("stream_funnel equals the batch funnel table row-for-row") {
    val spark = TestSpark.spark
    def tab(name: String) = SparkEntry.queries(name)(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(tab("stream_funnel") == tab("events_funnel"),
      "stateful funnel drifted from the batch three-aggregation form")
  }

  test("stream_time_to_convert equals the batch histogram row-for-row") {
    val spark = TestSpark.spark
    val batch = SparkEntry.queries("events_time_to_convert")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val stream = SparkEntry.queries("stream_time_to_convert")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream == batch, "incremental latency emission drifted from the batch aggs")
  }

  test("multimodal_dup_clusters: labels are a union-find replay of the pair graph") {
    val spark = TestSpark.spark
    val pairs = SparkEntry.queries("multimodal_phash_pairs")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = SparkEntry.queries("multimodal_dup_clusters")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver union-find over the pair list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = members.map { m =>
      val root = find(m)
      m -> members.filter(x => find(x) == root).min
    }.toMap
    assert(got == expect, "component labels drifted from the union-find replay")
  }

  test("sim_embed_drift: per-slice means recompute from the raw vectors") {
    val spark = TestSpark.spark
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val rows = SparkEntry.queries("sim_embed_drift")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == emb.head._2.length)
    rows.foreach { case (i, nA, nB, mA, mB, shift) =>
      def slice(par: Long) = emb.filter(_._1 % 2 == par)
        .map(v => math.floor(v._2(i.toInt).toDouble * 1e6).toLong)
      val (a, b) = (slice(0), slice(1))
      assert(nA == a.length && nB == b.length, s"dim $i counts")
      assert(mA == Math.floorDiv(a.sum, a.length) &&
        mB == Math.floorDiv(b.sum, b.length), s"dim $i means")
      assert(shift == math.abs(mA - mB), s"dim $i shift")
    }
  }

  test("text_vocab_coverage: curve is monotone and recomputes from token counts") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("text_vocab_coverage")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val counts = Tables.documents(spark, TestSpark.Sf)
      .select(explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("t"))
      .groupBy("t").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    val ranked = counts.sortBy { case (t, c) => (-c, t) }.map(_._2)
    rows.foreach { case (k, nTypes, covered, ppm) =>
      assert(nTypes == counts.length.toLong)
      assert(covered == ranked.take(k.toInt).sum, s"k=$k mass")
      assert(ppm == covered * 1000000L / total, s"k=$k ppm")
    }
    assert(rows.sliding(2).forall(p => p(0)._3 <= p(1)._3), "coverage monotone in k")
  }

  test("inv_world_readable: exposure flags replay from the fixture's perm rule") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("inv_world_readable")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // fixture rule: returnflag 'R' → rwxr-x--- (other: ---), else rw-r--r--
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select(col("l_partkey"), col("l_returnflag"),
        floor(col("l_extendedprice") * 100).cast("long").as("len"))
      .collect().map(r => (s"/data/part=${r.getLong(0)}", r.getString(1), r.getLong(2)))
    li.groupBy(_._1).foreach { case (dir, fs) =>
      val wr = fs.filter(_._2 != "R")
      val (n, nw, bw, ppm) = rows(dir)
      assert(n == fs.length && nw == wr.length && bw == wr.map(_._3).sum, s"dir $dir")
      assert(ppm == nw * 1000000L / n, s"dir $dir ppm")
    }
  }

  test("events_interarrival: bucket law holds and gap mass replays exactly") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_interarrival")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val gaps = ev.groupBy(e => (e._1, e._2)).values.flatMap { g =>
      val s = g.map(_._3).sorted
      s.zip(s.tail).map { case (a, b) => (g.head._2, (b - a) / 1000000L) }
    }.toSeq
    assert(rows.map(_._3).sum == gaps.length.toLong, "gap mass conserved")
    rows.foreach { case (t, bucket, n, mn, mx) =>
      // bucket = bit width of (gap_s + 1): 2^(b-1) <= gap+1 < 2^b
      assert(mn + 1 >= (1L << (bucket - 1).toInt) && mx + 1 < (1L << bucket.toInt),
        s"type $t bucket $bucket bounds [$mn, $mx]")
      assert(n == gaps.count(g => g._1 == t &&
        java.lang.Long.toBinaryString(g._2 + 1).length.toLong == bucket),
        s"type $t bucket $bucket count")
    }
  }

  test("text_zipf_slope: integer OLS replays from token counts; slope is negative") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("text_zipf_slope")(spark, TestSpark.Sf).head()
    val counts = Tables.documents(spark, TestSpark.Sf)
      .select(explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("t"))
      .groupBy("t").count().collect().map(r0 => (r0.getString(0), r0.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }
    def ml2(v: Long) = math.round(1000.0 * math.log(v.toDouble) / math.log(2))
    val xy = counts.zipWithIndex.map { case ((_, c), i) => (ml2(i + 1L), ml2(c)) }
    val n = xy.length.toLong
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val (sxx, sxy) = (xy.map(p => p._1 * p._1).sum, xy.map(p => p._1 * p._2).sum)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((n, sx, sy, sxx, sxy)), "OLS moments replay")
    assert(r.getLong(5) == (n * sxy - sx * sy) * 1000 / (n * sxx - sx * sx))
    assert(r.getLong(5) < 0, "frequency must fall with rank")
  }

  test("sim_cluster_purity agrees with the shared assignment and the label table") {
    val spark = TestSpark.spark
    val asg = SparkEntry.queries("sim_kmeans_clusters")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    val labels = Tables.embeddings(spark, TestSpark.Sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val expect = asg.groupBy(_._2).map { case (c, ms) =>
      val byLabel = ms.map(m => labels(m._1)).groupBy(identity)
        .map { case (l, xs) => (l, xs.length.toLong) }
      val (majL, majN) = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
      (c, (ms.length.toLong, majL, majN, majN * 1000000L / ms.length))
    }
    val got = SparkEntry.queries("sim_cluster_purity")(spark, TestSpark.Sf)
      .collect().map(r => (r.getAs[Number](0).longValue,
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, "purity table drifted from the assignment replay")
  }

  test("cdc_dwell_time: per-state masses replay from the scd2 intervals") {
    val spark = TestSpark.spark
    val hist = SparkEntry.queries("cdc_scd2")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val got = SparkEntry.queries("cdc_dwell_time")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    hist.groupBy(_._1).foreach { case (state, ivs) =>
      val closed = ivs.collect { case (_, f, Some(t)) => t - f }
      val (nc, no, sum0, mn, mx) = got(state)
      assert(nc == closed.length && no == ivs.count(_._3.isEmpty), s"$state counts")
      assert(sum0 == closed.sum && mn == closed.min && mx == closed.max, s"$state dwell")
    }
  }

  test("events_cusum equals the sequential max(0, S+dev) recurrence replay") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("events_cusum")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (tpe, days) =>
      val sorted = days.sortBy(_._2)
      val xs = sorted.map(_._3)
      // integer-division precondition: non-negative totals so Spark DIV
      // and DuckDB // agree on ref
      assert(xs.sum >= 0, s"$tpe: negative total breaks the DIV/floor-div parity")
      val ref = xs.sum / xs.length
      var s = 0L
      sorted.foreach { case (_, day, x, cusum, alarm) =>
        s = math.max(0L, s + (x - ref))
        assert(cusum == s, s"$tpe day $day: cusum $cusum != recurrence $s")
        assert(alarm == (s > 2 * ref), s"$tpe day $day: alarm flag wrong")
      }
    }
  }

  test("jaccard sweep is monotone in tau and agrees with dedup_jaccard at 0.8") {
    val spark = TestSpark.spark
    val sweep = SparkEntry.queries("dedup_jaccard_sweep")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sweep.keySet == Set(50L, 60L, 70L, 80L, 90L))
    // raising the cut-off can only drop pairs
    Seq(50L, 60L, 70L, 80L).foreach { t =>
      assert(sweep(t) >= sweep(t + 10), s"sweep not monotone at tau=$t: $sweep")
    }
    // the tau=0.8 point IS the family's default threshold, so it must count
    // exactly the dedup_jaccard pair list
    val atDefault = SparkEntry.queries("dedup_jaccard")(spark, TestSpark.Sf).count()
    assert(sweep(80L) == atDefault, s"sweep(80)=${sweep(80L)} != dedup_jaccard=$atDefault")
  }

  test("multimodal near-dup buckets contain at least as many assets as exact groups") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("multimodal_dedup")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nExact) = (r.getLong(4), r.getLong(5))
      assert(n >= 2 && nExact >= 1 && nExact <= n,
        s"bucket ${r.toSeq.take(4)}: n=$n n_exact=$nExact")
      assert(r.getLong(6) <= r.getLong(7), "min_doc > max_doc")
    }
  }

  test("rarity score is bounded below by n_tokens (every term contributes >= 1)") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("text_rarity_score")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // tt DIV c >= 1 since c <= tt, so surprisal >= n_tokens
      assert(r.getLong(2) >= r.getLong(1),
        s"doc ${r.getLong(0)}: surprisal ${r.getLong(2)} < n_tokens ${r.getLong(1)}")
    }
  }

  test("funnel stage times are ordered and monotone-decreasing in reach") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("events_funnel")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    var nView = 0; var nClick = 0; var nPurchase = 0
    rows.foreach { r =>
      nView += 1
      if (!r.isNullAt(2)) {
        nClick += 1
        assert(r.getLong(2) >= r.getLong(1), "click before first view")
        if (!r.isNullAt(3)) {
          nPurchase += 1
          assert(r.getLong(3) >= r.getLong(2), "purchase before first qualifying click")
        }
      } else assert(r.isNullAt(3), "purchase stage reached without click stage")
    }
    assert(nView >= nClick && nClick >= nPurchase)
    assert(nPurchase > 0, "no user completes the funnel in testdata")
  }

  test("train_split_safe: no near-dup pair ever straddles two splits") {
    val spark = TestSpark.spark
    val split = SparkEntry.queries("train_split_safe")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val pairs = SparkEntry.queries("dedup_jaccard")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && split.size == 500)
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2,
        s"near-dups $a/$b landed in ${split(a)._2} and ${split(b)._2}")
      assert(split(a)._1 == split(b)._1, s"near-dups $a/$b have different reps")
    }
    // the split is still roughly 90/5/5 (rep-keyed bucketing, same rule
    // as text_split_assign)
    val byS = split.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byS("train") > 400 && byS.getOrElse("val", 0) > 0 && byS.getOrElse("test", 0) > 0)
  }

  test("PII redaction is idempotent and leaves no detectable PII behind") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val probes = Seq(
      "mail alice.smith@corp.example.org and bob@x.io now",
      "ssn 123-45-6789 phone 415-555-0199 host 192.168.0.1",
      "no pii here at all",
      "edge a@b.co 1.2.3.4 999-99-9999").toDF("t")
    val once = probes.select(col("t"), operators.CleanOps.piiRedact(col("t")).as("r1"))
    val twice = once.select(col("t"), col("r1"),
      operators.CleanOps.piiRedact(col("r1")).as("r2"))
    twice.collect().foreach { row =>
      assert(row.getString(1) == row.getString(2),
        s"redaction not idempotent on '${row.getString(0)}'")
    }
    // post-redaction, every category's count must be zero
    val counts = operators.CleanOps.piiCounts(col("r1"))
    once.select(counts.map { case (cat, c) => c.as(cat) }: _*).collect().foreach { row =>
      (0 until row.length).foreach(i => assert(row.getLong(i) == 0L,
        s"category ${row.schema(i).name} still detected after redaction"))
    }
    // and the clean probe passes through byte-identical
    val clean = once.filter(col("t") === "no pii here at all").head()
    assert(clean.getString(0) == clean.getString(1))
  }

  test("boilerplate stripping is frequency-correct and the frequent set broadcasts") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 60 docs: a shared footer in all, a half-corpus banner, unique bodies
    val docs = (0L until 60L).map { i =>
      val banner = if (i % 2 == 0) "\nspecial offer today" else ""
      (i, s"body line $i$banner\nshared footer")
    }.toDF("doc_id", "t")
    val out = operators.CleanOps.stripBoilerplateLines(docs, "t", maxDf = 40)
    val rows = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // footer (df=60) stripped everywhere; banner (df=30 <= 40) kept
    (0L until 60L).foreach { i =>
      val (nLines, nKept) = rows(i)
      val expLines = if (i % 2 == 0) 3L else 2L
      assert(nLines == expLines, s"doc $i: n_lines=$nLines")
      assert(nKept == expLines - 1, s"doc $i: footer not stripped (kept=$nKept)")
    }
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"frequent-line probe lost its broadcast:\n$p")
  }

  test("text_perplexity: bigram count ties to token count; surprisal bounded") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val ppl = SparkEntry.queries("text_perplexity")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // token counts under the SAME tokenizer the perplexity gate uses
    val toks = graft.Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppl.nonEmpty)
    ppl.foreach { case (doc, (nBigrams, sumBits, meanCbits)) =>
      // every document with >= 2 tokens contributes exactly n_tokens - 1
      // bigrams (the zip-with-tail contract)
      assert(nBigrams == toks(doc) - 1, s"doc $doc: $nBigrams bigrams, ${toks(doc)} tokens")
      // add-one smoothing keeps every probability < 1 ⇒ every bigram's
      // scaled surprisal ≥ the 10-bit scale floor, and the mean ties out
      assert(sumBits >= 10 * nBigrams, s"doc $doc: surprisal below scale floor")
      assert(meanCbits == sumBits * 100 / nBigrams)
    }
    // documents with >= 2 tokens and no perplexity row would be a dropped join
    assert(ppl.keySet == toks.filter(_._2 >= 2).keySet)
  }

  test("join_fuzzy: pairs are blocked, deduped, and within the distance bound") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("join_fuzzy")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, d) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b, s"pair ($a, $b) not canonical")
      assert(d <= 3 && d >= 0, s"($a, $b): dist $d")
      assert(a.split(" ")(1) == b.split(" ")(1), s"($a, $b) crossed blocks")
    }
    // a known near-pair from the fixture vocabulary survives the gate
    assert(rows.exists(r => r.getString(0) == "cold widget" && r.getString(1) == "old widget"))
  }

  test("events_gap_fill: spans are contiguous and zeros are exactly the missing days") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val out = SparkEntry.queries("events_gap_fill")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byUser = out.groupBy(_._1)
    assert(byUser.nonEmpty)
    byUser.foreach { case (u, rows) =>
      val days = rows.map(_._2).sorted
      val span = java.time.temporal.ChronoUnit.DAYS.between(days.head, days.last)
      assert(days.size == span + 1, s"user $u: ${days.size} rows over $span+1 days")
      assert(days.distinct.size == days.size, s"user $u: duplicate days")
      // boundary days come from min/max of real activity — never zero
      assert(rows.minBy(_._2)._3 > 0 && rows.maxBy(_._2)._3 > 0, s"user $u: zero at boundary")
    }
    // nonzero rows must agree with an independent raw daily aggregation
    val raw = graft.Tables.events(spark, TestSpark.Sf)
      .groupBy(col("user_id"), to_date(col("ts")).as("day")).count()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate) -> r.getLong(2)).toMap
    out.filter(_._3 > 0).foreach { case (u, d, n) =>
      assert(raw((u, d)) == n, s"user $u day $d: $n != ${raw((u, d))}")
    }
    assert(out.count(_._3 > 0) == raw.size)
  }

  test("events_ewma: smoothed series replays the integer recurrence exactly") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val out = SparkEntry.queries("events_ewma")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (typ, rows) =>
      val ordered = rows.sortBy(_._2)
      // driver-side replay of s_1 = x_1; s_t = (3 s_{t-1} + x_t) / 4
      var s = ordered.head._3
      ordered.zipWithIndex.foreach { case ((_, day, n, ewma), i) =>
        if (i > 0) s = (3 * s + n) / 4
        assert(ewma == s, s"$typ $day: ewma $ewma != replay $s")
      }
    }
    // daily inputs agree with an independent aggregation
    val raw = graft.Tables.events(spark, TestSpark.Sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day")).count()
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate) -> r.getLong(2)).toMap
    out.foreach { case (t, d, n, _) => assert(raw((t, d)) == n) }
    assert(out.length == raw.size)
  }

  test("prof_table_stats: profile row invariants hold against the raw table") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("prof_table_stats")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))).toMap
    val n = graft.Tables.lineitem(spark, TestSpark.Sf).count()
    assert(rows.keySet == Set("l_partkey", "l_suppkey", "l_returnflag"))
    rows.foreach { case (c, (ndv, mn, mx, nRows)) =>
      assert(nRows == n, s"$c: n_rows $nRows != $n")
      assert(ndv >= 1 && ndv <= n, s"$c: ndv $ndv")
      assert(mn != null && mx != null, s"$c: null bounds")
    }
    assert(rows("l_returnflag")._1 == 3 && rows("l_returnflag")._2 == "A")
  }

  test("layout_compact_plan: groups partition each directory and respect the target") {
    val spark = TestSpark.spark
    val plan = SparkEntry.queries("layout_compact_plan")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val files = graft.fixtures.RefFixtures.invFiles(spark, TestSpark.Sf)
      .groupBy("parent_directory")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("length").as("bytes"),
        org.apache.spark.sql.functions.max("length").as("maxLen"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val target = operators.LayoutOps.CompactTarget
    plan.groupBy(_._1).foreach { case (dir, groups) =>
      val (nFiles, bytes, maxLen) = files(dir)
      // complete partition of the directory's files and bytes
      assert(groups.map(_._3).sum == nFiles, s"$dir: file counts")
      assert(groups.map(_._4).sum == bytes, s"$dir: byte totals")
      // contiguous ids from 0 (offset-based grouping leaves no holes:
      // every target-sized stripe of the byte range is touched in order)
      assert(groups.map(_._2).sorted.toSeq == (0L until groups.size).toSeq, s"$dir: ids")
      // offset grouping bounds: a group holds the files STARTING inside
      // one target stripe, so its bytes stay under target + one max file
      groups.foreach { case (_, g, _, b) =>
        assert(b <= target + maxLen, s"$dir group $g: $b bytes > target + maxLen")
      }
    }
  }
}
