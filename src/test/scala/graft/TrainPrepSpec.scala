package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainPrepOps

/** Invariants for the training-corpus preparation tier (each query is also
  * hash-oracled; these pin semantics the oracle can't express). */
class TrainPrepSpec extends AnyFunSuite with CacheDrained {

  test("decontam_ngram excludes the eval split and flags exactly the overlapping docs") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("decontam_ngram")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    // eval docs never appear in the output
    assert(rows.forall(_.getLong(0) % 50 != 7))
    // contaminated <=> n_shared >= 1, and a nonzero tail exists in this corpus
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(1) >= 1),
        s"doc ${r.getLong(0)}: flag/count disagree")
    }
    assert(rows.exists(_.getBoolean(2)), "probed corpus has near-dups of eval docs")
    // brute-force recompute: a doc is contaminated iff one of its 5-token
    // grams appears verbatim in some eval doc
    def grams(text: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(text).toIndexedSeq
      if (toks.size < TrainPrepOps.DecontamN) Set.empty
      else toks.sliding(TrainPrepOps.DecontamN).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val evalGrams = docs.collect { case (id, t) if id % 50 == 7 => grams(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    rows.foreach { r =>
      val expected = grams(docs(r.getLong(0))).count(evalGrams.contains).toLong
      assert(r.getLong(1) == expected,
        s"doc ${r.getLong(0)}: n_shared ${r.getLong(1)} != brute-force $expected")
    }
  }

  test("gramsExpr matches the Scala sliding-window reference on random token counts") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val words = Vector("a", "bb", "ccc", "the", "of", "data", "spark", "x9", "q")
    val texts = (1 to 200).map { i =>
      val k = rnd.nextInt(12) // 0..11 tokens exercises the short-doc guard
      (i.toLong, Seq.fill(k)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    for (n <- Seq(2, 5)) {
      val got = df.select(col("doc_id"),
        expr(graft.operators.TrainPrepOps.gramsExpr(n)).as("grams"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      texts.foreach { case (id, text) =>
        val toks = "[a-z0-9]+".r.findAllIn(text).toIndexedSeq
        val expected =
          if (toks.size < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
        assert(got(id) == expected, s"n=$n doc $id")
      }
    }
  }

  test("text_repetition fractions are consistent and keep matches the thresholds") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("text_repetition")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, nd, tn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nd >= 1 && nd <= nb && tn >= 1 && tn <= nb, s"doc ${r.getLong(0)}: counts")
      val dup = (nb - nd).toDouble / nb
      val top = tn.toDouble / nb
      assert(math.abs(r.getDouble(4) - dup) <= 5e-7, "dup_frac rounding")
      assert(math.abs(r.getDouble(5) - top) <= 5e-7, "top_frac rounding")
      assert(r.getBoolean(6) == (dup <= 0.1 && top <= 0.1), "keep verdict")
    }
  }

  test("train_pack_sequences equals the exact sequential concat-and-chop fold") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("train_pack_sequences")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    var cum = 0L
    rows.foreach { case (id, n, seq) =>
      val expected = if (n > TrainPrepOps.SeqBudget) 0L
      else { cum += n; cum / TrainPrepOps.SeqBudget + 1 }
      assert(seq == expected, s"doc $id: seq $seq != sequential fold $expected")
    }
    // windows fill to the budget: every non-final window's token total
    // lands in (budget - maxDoc, budget + maxDoc). maxDoc ranges over
    // PACKED docs only — an oversized (seq 0) doc contributes nothing to
    // any window and would only slacken the bounds
    val maxDoc = rows.filter(_._3 > 0).map(_._2).max
    val perSeq = rows.filter(_._3 > 0).groupBy(_._3).view.mapValues(_.map(_._2).sum)
    val last = perSeq.keys.max
    perSeq.foreach { case (seq, total) =>
      assert(total < TrainPrepOps.SeqBudget + maxDoc, s"window $seq overfull: $total")
      if (seq != last)
        assert(total > TrainPrepOps.SeqBudget - maxDoc, s"window $seq underfull: $total")
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dedup_passages equals the sequential first-occurrence fold") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // sequential reference: walk docs in id order, passages in pos order,
    // keep a passage instance iff its content is unseen so far
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = docs.map { case (id, text) =>
      val toks = "[a-z0-9]+".r.findAllIn(text).toIndexedSeq
      val passages = toks.grouped(TrainPrepOps.PassageLen).map(_.mkString(" ")).toSeq
      val kept = passages.filter(p => seen.add(p))
      id -> ((passages.size.toLong, kept.size.toLong, md5Hex(kept.mkString(" "))))
    }.toMap
    val rows = SparkEntry.queries("dedup_passages")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    // docs with zero tokens produce no output row on either engine
    assert(rows.length == expected.count(_._2._1 > 0))
    rows.foreach { r =>
      val (np, nk, m) = expected(r.getLong(0))
      assert(r.getLong(1) == np, s"doc ${r.getLong(0)}: n_passages")
      assert(r.getLong(2) == nk, s"doc ${r.getLong(0)}: n_kept")
      assert(r.getString(3) == m, s"doc ${r.getLong(0)}: clean_md5")
    }
    // the corpus-level identity: total kept == distinct passage contents
    val totalKept = rows.map(_.getLong(2)).sum
    assert(totalKept == seen.size.toLong,
      s"kept $totalKept != ${seen.size} distinct passages")
    // and something was actually removed in this corpus (near-dup docs share
    // passages), so the operator is exercised beyond the identity case
    assert(totalKept < rows.map(_.getLong(1)).sum)
  }

  test("decontam_fuzzy flags only corpus-vs-eval pairs above the bar") {
    val rows = SparkEntry.queries("decontam_fuzzy")(TestSpark.spark, TestSpark.Sf)
      .collect()
    assert(rows.nonEmpty, "probed corpus has a fuzzy eval leak at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(0) % 50 != 7, "corpus side must exclude eval docs")
      assert(r.getLong(1) % 50 == 7, "eval side must be the eval split")
      val j = r.getDouble(2)
      assert(j >= TrainPrepOps.FuzzyDecontamThreshold && j <= 1.0)
    }
  }

  test("train_mix_weights ppm columns are integer-exact and near-normalized") {
    val rows = SparkEntry.queries("train_mix_weights")(TestSpark.spark, TestSpark.Sf)
      .collect()
    assert(rows.length == 20) // src0..src19
    val prop = rows.map(_.getLong(3)).sum
    val sq = rows.map(_.getLong(4)).sum
    // floor division loses < 1 ppm per source
    assert(prop > 1000000L - rows.length && prop <= 1000000L, s"prop ppm sum $prop")
    assert(sq > 1000000L - rows.length && sq <= 1000000L, s"sqrt ppm sum $sq")
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      // sqrt smoothing pulls weights toward uniform: a below-average source
      // gains, an above-average one loses
      val (p, s) = (r.getLong(3), r.getLong(4))
      if (p < 40000L) assert(s >= p, s"${r.getString(0)}: smoothing should lift $p -> $s")
    }
  }

  test("train_mix_resample honors availability, hits target shares, and saturates the cap") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("train_mix_resample")(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    // replay the epoch cap: T = min over served sources of n_avail·1e6/w
    val t = rows.collect {
      case r if r.getLong(2) > 0 => r.getLong(1) * 1000000L / r.getLong(2)
    }.min
    var anySaturated = false
    rows.foreach { r =>
      val (nAvail, wPpm, keepN, keptN) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(keepN <= nAvail, s"${r.getString(0)}: upsampled $keepN > $nAvail")
      assert(keptN == keepN, s"${r.getString(0)}: selection count drifted from plan")
      // keep_n must be exactly floor(T·w_ppm/1e6) — the replayed plan
      if (wPpm > 0) {
        assert(keepN == t * wPpm / 1000000L,
          s"${r.getString(0)}: keep $keepN != floor(T*w) = ${t * wPpm / 1000000L}")
      } else assert(keepN == 0)
      if (keepN == nAvail) anySaturated = true
    }
    // T is the min over sources: the binding source keeps everything —
    // the epoch cannot be grown without upsampling someone
    assert(anySaturated, "no source saturated: the epoch cap is not maximal")
  }

  test("train_shuffle_order is the md5 permutation, not the identity") {
    val rows = SparkEntry.queries("train_shuffle_order")(TestSpark.spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // pos is a permutation of 1..n
    assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong).toSeq)
    // and equals the reference md5 ranking exactly
    val expected = rows.map(_._1).sortBy(id => (md5Hex(id.toString), id))
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    rows.foreach { case (id, pos) =>
      assert(pos == expected(id), s"doc $id: pos $pos != md5 rank ${expected(id)}")
    }
    // the hash actually shuffles: the order differs from doc_id order
    assert(rows.exists { case (id, pos) => pos != id + 1 })
  }

  test("train_dsir_select takes exactly the top-10% by mean affinity, never eval docs") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    // an earlier run in the shared session may have cached equal plans,
    // which this run would then not cache itself; start from none so
    // every cache this run makes shows up below
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet.toSet
    val rows = SparkEntry.queries("train_dsir_select")(spark, TestSpark.Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getInt(5)))
    CacheTracker.releaseAll(blocking = true)
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(leaked.isEmpty,
      s"cached past releaseAll: ${leaked.values.map(_.toString.takeRight(80)).mkString("; ")}")
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 50 != 7), "eval docs must not be scored")
    // rnk is a permutation of 1..n and selected = rnk <= ceil(0.1 n)
    assert(rows.map(_._4).sorted.toSeq == (1L to rows.length.toLong).toSeq)
    val k = math.ceil(0.1 * rows.length).toLong
    assert(rows.count(_._5 == 1).toLong == k)
    rows.foreach { case (_, _, _, rnk, sel) => assert((rnk <= k) == (sel == 1)) }
    // selection is by mean affinity: every selected doc's IEEE mean is >=
    // every unselected doc's (boundary ties broken by doc_id inside rnk)
    def mean(t: (Long, Long, Long, Long, Int)): Double = t._3.toDouble / t._2
    val minSel = rows.filter(_._5 == 1).map(mean).min
    val maxUnsel = rows.filter(_._5 == 0).map(mean).max
    assert(minSel >= maxUnsel,
      s"selection not monotone: min selected $minSel < max unselected $maxUnsel")
  }

  test("train_chunk_windows tiles every document end-to-end with the declared overlap") {
    val spark = TestSpark.spark
    val lens = Tables.documents(spark, TestSpark.Sf)
      .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS len")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = SparkEntry.queries("train_chunk_windows")(spark, TestSpark.Sf)
      .select("doc_id", "chunk_id", "start_pos", "chunk_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(chunks.keySet == lens.keySet, "some documents produced no chunks")
    chunks.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      val len = lens(doc)
      // chunk_ids are 0..n-1; starts follow the stride; windows cover [1, len]
      assert(sorted.map(_._2).toSeq == (0L until sorted.length.toLong).toSeq)
      sorted.foreach { case (_, k, start, clen) =>
        assert(start == 1 + k * 150, s"doc $doc chunk $k start $start off-stride")
        assert(clen == math.min(200L, len - start + 1), s"doc $doc chunk $k length")
      }
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen - 1 == len, s"doc $doc not covered to its end")
      // every adjacent pair overlaps by W - S = 50 chars (unless the doc ends)
      sorted.sliding(2).filter(_.length == 2).foreach { pair =>
        val (_, _, s1, l1) = pair(0)
        val (_, _, s2, _) = pair(1)
        assert(s2 == s1 + 150 && s1 + l1 - s2 >= 0)
      }
    }
  }

  test("train_token_budget: greedy prefix is budget-maximal and partitions per source") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("train_token_budget")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // driver replay of the ranked greedy prefix
    val docs = Tables.documents(spark, TestSpark.Sf)
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
      .select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("nt"),
        expr("CASE WHEN size(toks) = 0 THEN 0L ELSE " +
          "(1000000 * CAST(size(array_distinct(toks)) AS BIGINT)) " +
          "DIV CAST(size(toks) AS BIGINT) END").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val budget = docs.map(_._3).sum / 2
    val ranked = docs.sortBy { case (id, _, _, s) => (-s, id) }
    var cum = 0L
    val kept = ranked.takeWhile { case (_, _, nt, _) => cum += nt; cum <= budget }
      .map(_._1).toSet
    val bySrc = docs.groupBy(_._2)
    rows.foreach { case (src, nDocs, tokTotal, nSel, tokSel, ppm) =>
      val g = bySrc(src)
      assert(nDocs == g.length && tokTotal == g.map(_._3).sum, s"$src totals")
      val sel = g.filter(d => kept(d._1))
      assert(nSel == sel.length && tokSel == sel.map(_._3).sum, s"$src selection")
      assert(ppm == tokSel * 1000000L / tokTotal, s"$src share")
    }
    val selTok = rows.map(_._5).sum
    assert(selTok <= budget, "selection fits the budget")
    // greedy maximality: the first unselected ranked doc would overflow
    val firstOut = ranked.find(d => !kept(d._1))
    firstOut.foreach { d => assert(selTok + d._3 > budget, "prefix is maximal") }
  }
}
