package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** The end-to-end LLM training-data preparation run — the composition a
  * real user executes, chaining the already-oracled stages into ONE
  * dataflow: quality/language clean (corpus_clean's gate) → near-dup
  * keep-best (Jaccard ≥ 0.8 components, longest-text representative) →
  * benchmark decontamination (exact 5-gram overlap vs the held-out eval
  * split) → leakage-safe train/val/test split (bucketed by CLUSTER
  * representative) → sequence packing of the train slice (next-fit at the
  * token budget). Each stage reuses its standalone operator's exact
  * machinery (TextOps.cleanFlags / cleanCtesSql, DedupOps.thresholdPairs
  * + shingle cache, GraphOps.connectedComponents, TrainPrepOps.gramsOf,
  * PackingOps.nextFitDist), so the composition cannot drift from the
  * parts — and proves the parts compose.
  *
  * Scale shape: the corpus text is scanned once per gate and never
  * shuffled whole — pair generation rides the df-capped shingle bucket
  * join, decontamination broadcasts the (small by construction) eval gram
  * digest set, the split is a per-row hash of the cluster label, and
  * packing is the distributed prefix sum (Prefix.scan). Intermediate
  * per-stage frames (survivors, kept docs, split assignment) are
  * persisted once and released after the action; every count branch
  * reads a cached frame, not a recomputed lineage.
  */
object PipelineOps {

  import DedupOps.JaccardThreshold
  import TrainPrepOps.{DecontamN, SeqBudget}

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("pipeline_corpus_prep",
      s"""WITH RECURSIVE ${TextOps.cleanCtesSql},
         |${DedupOps.ShinglesCte},
         |${DedupOps.PairCte},
         |pairs AS (SELECT inter.ida AS a, inter.idb AS b FROM inter
         |          JOIN sizes sa ON sa.doc_id = inter.ida
         |          JOIN sizes sb ON sb.doc_id = inter.idb
         |          JOIN surv va ON va.doc_id = inter.ida
         |          JOIN surv vb ON vb.doc_id = inter.idb
         |          WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) >= $JaccardThreshold),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION
         |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
         |       FROM reach GROUP BY src),
         |mem AS (SELECT s.doc_id, COALESCE(cl.cluster, s.doc_id) AS cluster, s.text
         |        FROM surv s LEFT JOIN cl ON cl.doc_id = s.doc_id),
         |kept AS (SELECT cluster,
         |           max_by(doc_id, CAST(length(text) AS BIGINT) * 1000000000 - doc_id) AS doc_id
         |         FROM mem GROUP BY cluster),
         |kt AS (SELECT k.doc_id, t.toks FROM kept k JOIN t ON t.doc_id = k.doc_id
         |       WHERE k.doc_id % 50 <> 7),
         |kg AS (SELECT DISTINCT doc_id, md5(gram) AS gh FROM (
         |    SELECT doc_id, unnest(list_transform(
         |        generate_series(1, len(toks) - ${DecontamN - 1}),
         |        i -> list_aggregate(toks[i:i+${DecontamN - 1}], 'string_agg', ' '))) AS gram
         |    FROM kt)),
         |eg AS (SELECT DISTINCT md5(gram) AS gh FROM (
         |    SELECT unnest(list_transform(
         |        generate_series(1, len(toks) - ${DecontamN - 1}),
         |        i -> list_aggregate(toks[i:i+${DecontamN - 1}], 'string_agg', ' '))) AS gram
         |    FROM t WHERE doc_id % 50 = 7)),
         |contam AS (SELECT DISTINCT kg.doc_id FROM kg JOIN eg USING (gh)),
         |decon AS (SELECT kt.doc_id FROM kt
         |          WHERE kt.doc_id NOT IN (SELECT doc_id FROM contam)),
         |spl AS (SELECT d.doc_id,
         |          CASE WHEN (k.cluster % 100 * 61) % 100 < 90 THEN 'train'
         |               WHEN (k.cluster % 100 * 61) % 100 < 95 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM decon d JOIN kept k ON k.doc_id = d.doc_id),
         |ptoks AS (SELECT s.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens
         |          FROM spl s JOIN t ON t.doc_id = s.doc_id WHERE s.split = 'train'),
         |pw AS (SELECT doc_id, n_tokens,
         |    CAST(sum(CASE WHEN n_tokens > $SeqBudget THEN 0 ELSE n_tokens END)
         |      OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM ptoks),
         |pk AS (SELECT doc_id,
         |    CASE WHEN n_tokens > $SeqBudget THEN CAST(0 AS BIGINT)
         |         ELSE cum // $SeqBudget + 1 END AS seq FROM pw)
         |SELECT stage, n FROM (
         |  SELECT '1_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
         |  UNION ALL SELECT '2_clean', CAST(count(*) AS BIGINT) FROM surv
         |  UNION ALL SELECT '3_dedup', CAST(count(*) AS BIGINT) FROM kept
         |  UNION ALL SELECT '4_decontam', CAST(count(*) AS BIGINT) FROM decon
         |  UNION ALL SELECT '5_train',
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) FROM spl
         |  UNION ALL SELECT '6_val',
         |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) FROM spl
         |  UNION ALL SELECT '7_test',
         |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) FROM spl
         |  UNION ALL SELECT '8_sequences',
         |    CAST(count(DISTINCT CASE WHEN seq > 0 THEN seq END) AS BIGINT) FROM pk)
         |ORDER BY stage""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val d = Tables.documents(spark, sfDir)

      // stage 1-2: quality + language gate (corpus_clean's exact flags)
      val surv = TextOps.cleanFlags(spark, sfDir)
        .filter(col("clean"))
        .select("doc_id", "text")
        .transform(graft.CacheTracker.persist)

      // stage 3: near-dup keep-best on the SURVIVORS — pairs come from the
      // family's cached df-filtered shingles, restricted to survivors by
      // two semi-joins (Jaccard of a pair is independent of other docs, so
      // filtering pairs == pairing the filtered corpus)
      val survIds = surv.select("doc_id")
      val pairs = DedupOps.thresholdPairs(spark, sfDir)
        .join(survIds.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
        .join(survIds.withColumnRenamed("doc_id", "b"), Seq("b"), "left_semi")
      val cl = GraphOps.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      val mem = surv.join(cl, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val kept = mem.groupBy("cluster")
        .agg(max_by(col("doc_id"),
          length(col("text")).cast("long") * 1000000000L - col("doc_id")).as("doc_id"))
        .transform(graft.CacheTracker.persist)

      // stage 4: decontamination — eval grams (tiny by construction)
      // broadcast; kept docs re-attach text via the cached survivor frame
      val evalGrams = TrainPrepOps.gramsOf(d.filter(TrainPrepOps.isEvalDoc))
        .select("gh").distinct()
      val ktNonEval = kept.filter(col("doc_id") % 50 =!= 7)
      val contam = TrainPrepOps.gramsOf(ktNonEval.join(surv, Seq("doc_id")))
        .join(broadcast(evalGrams), Seq("gh"))
        .select("doc_id").distinct()
      val decon = ktNonEval.join(contam, Seq("doc_id"), "left_anti")

      // stage 5-7: leakage-safe split, bucketed by the CLUSTER label so a
      // near-dup group can never straddle train and test
      val spl = decon
        .withColumn("b", col("cluster") % 100 * 61 % 100)
        .withColumn("split", when(col("b") < 90, "train")
          .when(col("b") < 95, "val").otherwise("test"))
        .select("doc_id", "split")
        .transform(graft.CacheTracker.persist)

      // stage 8: pack the train slice into sequences (distributed prefix
      // sum, Prefix.scan; %019d key keeps string range order == numeric order)
      val ptoks = spl.filter(col("split") === "train").join(surv, Seq("doc_id"))
        .select(format_string("%019d", col("doc_id")).as("path"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("size"))
      val pk = PackingOps.nextFitDist(spark, ptoks, capacity = SeqBudget)

      def one(stage: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("n"))
          .select(lit(stage).as("stage"), col("n"))
      val splitCounts = spl.agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n5"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n6"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n7"))
        .select(explode(array(
          struct(lit("5_train").as("stage"), col("n5").as("n")),
          struct(lit("6_val").as("stage"), col("n6").as("n")),
          struct(lit("7_test").as("stage"), col("n7").as("n")))).as("e"))
        .select(col("e.stage"), col("e.n"))
      val nSeq = pk
        .agg(countDistinct(when(col("unit") > 0, col("unit"))).cast("long").as("n"))
        .select(lit("8_sequences").as("stage"), col("n"))

      // 4_decontam counts the CACHED spl frame, not decon: spl is decon
      // row-for-row (every decontaminated doc gets exactly one split
      // label), and counting decon directly re-ran the whole gramsOf
      // tokenize + contamination join a second time (r12 job audit: a
      // ~2 s duplicate subtree per run at sf0.1)
      one("1_total", d)
        .unionByName(one("2_clean", surv))
        .unionByName(one("3_dedup", kept))
        .unionByName(one("4_decontam", spl))
        .unionByName(splitCounts)
        .unionByName(nSeq)
        .orderBy("stage")
    })
}
