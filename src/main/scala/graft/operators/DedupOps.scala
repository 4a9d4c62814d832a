package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables
import graft.functions.PortableHash._

/** Deduplication family over `documents` (north-star): exact, n-gram
  * Jaccard, MinHash+LSH (Broder, "On the resemblance and containment of
  * documents", 1997; banded LSH per Leskovec/Rajaraman/Ullman MMDS ch.3),
  * SimHash (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002). Built to the same blueprint that runs at
  * 100 TB:
  *
  *  - Shingles are document-frequency-filtered (df ≤ MaxDf) before any
  *    pair generation — the band-stop that bounds per-shingle bucket joins.
  *    The df filter is a groupBy heavy-hitter set + broadcast anti-join:
  *    heavy shingles are by construction few (df > MaxDf over N docs means
  *    ≤ N/MaxDf of them survive per doc slot), so the anti-join ships a
  *    tiny build side instead of window-shuffling every (doc, shingle) row.
  *  - The family's shared materialization is ONE ARRAY PER DOCUMENT
  *    (doc_id, sh, n) — not the exploded pair list. Signatures, sizes and
  *    candidate verification are all per-row array ops on it; only the
  *    bucket joins explode, and those rows die in the next aggregation.
  *  - MinHash signatures prune candidate pairs via banded LSH, then
  *    candidates are verified with exact set intersection — output equals
  *    the exact operator's (the oracle), with ~1e-7 per-pair miss
  *    probability.
  *  - SimHash pairs use 4×8-bit band buckets, which is *exact* for
  *    hamming ≤ 3 by pigeonhole — no recall loss, no quadratic join.
  */
object DedupOps {

  val ShingleLen = 8
  val MaxDf = 30
  val JaccardThreshold = 0.8
  /** sorted-neighborhood comparison window (each doc vs its w-1 successors) */
  val SnmWindow = 6
  val NumPerms = 32
  val NumBands = 16 // × 2 rows per band
  /** calibration audit floor: pairs with exact Jaccard ≥ 0.2 (in ppm) */
  val CalibMinPpm = 200000L

  /** Byte-gated broadcast bound for the component frame in
    * train_split_safe (the SimilarityOps.BroadcastMaxVectors pattern):
    * (doc_id, cluster) is two longs + row overhead ≈ 48 B, so a 32 MB
    * budget admits ~700k clustered docs. At 100 TB even a few-% dup rate
    * is billions of rows — far past any broadcast threshold — so an
    * unconditional hint would be a driver OOM; past the bound the hint is
    * dropped and AQE plans the join. */
  val CompBroadcastBudgetBytes: Long = 32L << 20
  val CompBytesPerRow: Long = 48
  val BroadcastMaxComponents: Long = CompBroadcastBudgetBytes / CompBytesPerRow

  /** broadcast-hint `df` only while `rows` fits the component byte budget */
  private[graft] def gatedBroadcastComp(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastMaxComponents) broadcast(df) else df

  /** memoized per-document df-filtered shingle sets — (doc_id, sh, n) with
    * sh a sorted distinct array<long> — shared by the Jaccard, MinHash and
    * clustering operators, so it is computed once per (session, sfDir) and
    * persisted. One row per document (~n rows total), the one
    * materialization the whole dedup family amortizes at cluster scale. */
  private val shingleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[operators] def docShingles(spark: SparkSession, sfDir: String): DataFrame =
    shingleCache.getOrElseUpdate((spark, sfDir), {
      // one-pass custom expression (== the composed oracle form, ~10x
      // cheaper), distinct in-row; df heavy hitters via partial-aggregated
      // groupBy then broadcast ANTI-join (small build side by construction)
      val ex = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.ShingleHashes.shingleHashes(col("text"), ShingleLen))).as("h"))
      val heavy = ex.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxDf).select("h")
      ex.join(broadcast(heavy), Seq("h"), "left_anti")
        .groupBy("doc_id").agg(sort_array(collect_list(col("h"))).as("sh"))
        .withColumn("n", size(col("sh")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  private[operators] val ShinglesCte: String =
    s"""shraw AS (SELECT DISTINCT doc_id, ${h8Sql(s"substr(text, i, $ShingleLen)")} AS h FROM (
       |    SELECT doc_id, text, unnest(generate_series(1, length(text) - ${ShingleLen - 1})) AS i
       |    FROM documents)),
       |dfreq AS (SELECT h, count(*) AS df FROM shraw GROUP BY h),
       |shf AS (SELECT s.doc_id, s.h FROM shraw s JOIN dfreq USING (h) WHERE dfreq.df <= $MaxDf)""".stripMargin

  /** shared SQL stage over shf: per-doc sizes + pairwise intersection
    * counts — the CTE twin of [[pairIntersections]], reused by the Jaccard,
    * containment and clustering oracles so the family's hottest join shape
    * exists exactly once per engine */
  private[operators] val PairCte: String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** exact pairwise Jaccard ≥ threshold over df-filtered shingles — both the
    * exact operator and the oracle for the MinHash variant */
  private val JaccardSql: String =
    s"""WITH $ShinglesCte,
       |$PairCte
       |SELECT inter.ida AS a, inter.idb AS b,
       |       CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) AS jacc
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = inter.ida
       |JOIN sizes sb ON sb.doc_id = inter.idb
       |WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) >= $JaccardThreshold
       |ORDER BY a, b""".stripMargin

  /** the family's shared candidate stage: every overlapping pair with its
    * intersection count and both set sizes — the shingle bucket equi-join,
    * sizes carried through the join so no post-join size lookup is needed;
    * bounded by the df cap (Σ_h df(h)² ≤ MaxDf · rows). */
  private def pairIntersections(s: DataFrame): DataFrame = {
    val a = s.select(col("doc_id").as("a"), col("n").as("na"), explode(col("sh")).as("h"))
    val b = s.select(col("doc_id").as("b"), col("n").as("nb"), explode(col("sh")).as("h"))
    a.join(b, Seq("h")).filter(col("a") < col("b"))
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("i"))
  }

  /** the family's canonical near-dup pair list: Jaccard ≥ threshold over
    * the cached df-filtered shingles — (a, b) edges, shared by the
    * clustering/keep-best/split queries and the pipeline composition */
  private[operators] def thresholdPairs(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairs(docShingles(spark, sfDir))
      .filter(col("jacc") >= JaccardThreshold)
      .select("a", "b")

  /** all pairs with Jaccard similarity (unfiltered) */
  private def jaccardPairs(s: DataFrame): DataFrame =
    pairIntersections(s).select(col("a"), col("b"),
      (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jacc"))

  /** 32-bit SimHash per document over distinct tokens (portable H8 base) */
  private def simhashDf(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))).as("tok"))
      .select(col("doc_id"), h8(rpad(substring(col("tok"), 1, 8), 8, "_")).as("th"))
      .select(col("doc_id"), col("th"), explode(sequence(lit(0), lit(31))).as("b"))
      .select(col("doc_id"), col("b"),
        (expr("(th DIV shiftleft(CAST(1 AS BIGINT), b)) % 2") * 2 - 1).as("sign"))
      .groupBy("doc_id", "b").agg(sum("sign").as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0L))
        .cast("long").as("simhash"))

  private val SimhashCte: String =
    s"""toks AS (SELECT DISTINCT doc_id, t AS tok FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t FROM documents)),
       |th AS (SELECT doc_id, ${h8Sql("rpad(substr(tok, 1, 8), 8, '_')")} AS th FROM toks),
       |bits AS (SELECT doc_id, b,
       |           sum((th // (CAST(1 AS BIGINT) << b)) % 2 * 2 - 1) AS s
       |         FROM th, (SELECT unnest(generate_series(0, 31)) AS b) bs
       |         GROUP BY doc_id, b),
       |sims AS (SELECT doc_id,
       |           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |         FROM bits GROUP BY doc_id)""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    // exact deduplication: distinct counts on raw / md5 / normalized keys
    GraftQuery("dedup_exact",
      """SELECT count(*) AS n_docs,
        |       count(DISTINCT text) AS n_distinct,
        |       count(DISTINCT md5(text)) AS n_md5,
        |       count(DISTINCT regexp_replace(text, '[^a-z]', '', 'g')) AS n_norm
        |FROM documents""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        countDistinct(md5(col("text").cast("binary"))).as("n_md5"),
        countDistinct(regexp_replace(col("text"), "[^a-z]", "")).as("n_norm"))
    },

    // exact n-gram Jaccard near-dup pairs (df-filtered shingles)
    GraftQuery("dedup_jaccard", JaccardSql, bench = true) { (spark, sfDir) =>
      jaccardPairs(docShingles(spark, sfDir))
        .filter(col("jacc") >= JaccardThreshold)
        .orderBy("a", "b")
    },

    // MinHash + banded LSH candidates, exact-verified — equals the exact
    // operator's output (miss prob ≈ (1-s²)^16 per pair, ~1e-7 at s=0.8).
    // Signature is a per-row scalar expression over the cached shingle
    // array (no aggregation shuffle); verification is a per-row
    // array_intersect after re-attaching the two shingle sets.
    GraftQuery("dedup_minhash", JaccardSql, bench = true) { (spark, sfDir) =>
      val s = docShingles(spark, sfDir)
      val sig = s.select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("sh"), NumPerms).as("sig"))
      // band key is a packed struct (band, h1, h2) — 2 longs + an int on the
      // wire instead of a rendered string; this join is the hottest dedup
      // shuffle, so key width is shuffle bytes at 100 TB
      val bands = sig.select(col("doc_id"),
        explode(array((0 until NumBands).map(bd =>
          struct(lit(bd).as("band"), element_at(col("sig"), 2 * bd + 1).as("h1"),
            element_at(col("sig"), 2 * bd + 2).as("h2"))): _*))
          .as("bandkey"))
      val cands = bands.alias("x").join(bands.alias("y"), Seq("bandkey"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .filter(col("a") < col("b"))
        .distinct()
      cands
        .join(s.select(col("doc_id").as("a"), col("sh").as("sha"), col("n").as("na")), Seq("a"))
        .join(s.select(col("doc_id").as("b"), col("sh").as("shb"), col("n").as("nb")), Seq("b"))
        .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
        .select(col("a"), col("b"),
          (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jacc"))
        .filter(col("jacc") >= JaccardThreshold)
        .orderBy("a", "b")
    },

    // Per-source duplication report: which ingest sources carry the
    // near-dup mass — the triage table a crawl pipeline reads to decide
    // WHERE to spend dedup budget (a source at 30% dup rate gets a
    // crawler fix; one at 0.1% doesn't). Doc-level dup membership =
    // appearing in ≥1 threshold pair (either side of the shared pair
    // frame, distinct'ed); the per-source rollup is bounded by the source
    // vocabulary. Everything reuses the family's cached shingle/pair
    // machinery — no new corpus pass.
    GraftQuery("dedup_rate_by_source",
      s"""WITH $ShinglesCte,
         |$PairCte,
         |pairs AS (SELECT inter.ida AS a, inter.idb AS b FROM inter
         |          JOIN sizes sa ON sa.doc_id = inter.ida
         |          JOIN sizes sb ON sb.doc_id = inter.idb
         |          WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i)
         |                >= $JaccardThreshold),
         |dup AS (SELECT DISTINCT doc_id FROM (
         |          SELECT a AS doc_id FROM pairs
         |          UNION ALL SELECT b FROM pairs)),
         |g AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(count(dup.doc_id) AS BIGINT) AS n_dup
         |      FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
         |      GROUP BY d.source)
         |SELECT source, n_docs, n_dup,
         |       CAST(n_dup * 1000000 // n_docs AS BIGINT) AS dup_ppm
         |FROM g ORDER BY source""".stripMargin) { (spark, sfDir) =>
      val pairs = thresholdPairs(spark, sfDir)
      val dup = pairs.select(col("a").as("doc_id"))
        .unionByName(pairs.select(col("b").as("doc_id")))
        .distinct().withColumn("isdup", lit(1L))
      Tables.documents(spark, sfDir).select("doc_id", "source")
        .join(dup, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(col("isdup")).as("n_dup"))
        .select(col("source"), col("n_docs"), col("n_dup"),
          expr("n_dup * 1000000 DIV n_docs").as("dup_ppm"))
        .orderBy("source")
    },

    // LSH banding audit: candidate-set precision AND recall of the
    // 16-band × 2-row MinHash scheme against the exact Jaccard-≥τ truth —
    // the two numbers that justify the banding shape (calibration says
    // the ESTIMATOR is sound; this says the CANDIDATE GENERATOR is).
    // n_fp is the wasted verification work, n_miss the silently lost
    // duplicates. Both engines derive candidates from the same signature
    // algebra (the oracle ORs the 16 band-equality conjuncts over the
    // unrolled min() signature CTE), so even the probabilistic candidate
    // set is hash-checked, not just its size.
    GraftQuery("dedup_lsh_audit",
      s"""WITH $ShinglesCte,
         |$PairCte,
         |exact AS (SELECT inter.ida AS a, inter.idb AS b FROM inter
         |          JOIN sizes sa ON sa.doc_id = inter.ida
         |          JOIN sizes sb ON sb.doc_id = inter.idb
         |          WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i)
         |                >= $JaccardThreshold),
         |sig AS (SELECT doc_id, ${(0 until NumPerms).map(j =>
             s"min((${permA(j)} * (h % $P) + ${permB(j)}) % $P) AS s$j").mkString(", ")}
         |        FROM shf GROUP BY doc_id),
         |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
         |         FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |         WHERE ${(0 until NumBands).map(b =>
             s"(x.s${2 * b} = y.s${2 * b} AND x.s${2 * b + 1} = y.s${2 * b + 1})")
             .mkString(" OR ")}),
         |tp AS (SELECT c.a, c.b FROM cand c JOIN exact e ON e.a = c.a AND e.b = c.b),
         |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
         |             (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_true,
         |             (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_tp)
         |SELECT n_cand, n_true, n_tp, n_cand - n_tp AS n_fp, n_true - n_tp AS n_miss,
         |       CAST(n_tp * 1000000 // n_cand AS BIGINT) AS precision_ppm,
         |       CAST(n_tp * 1000000 // n_true AS BIGINT) AS recall_ppm
         |FROM m""".stripMargin) { (spark, sfDir) =>
      val s = docShingles(spark, sfDir)
      val sig = s.select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("sh"), NumPerms).as("sig"))
      val bands = sig.select(col("doc_id"),
        explode(array((0 until NumBands).map(bd =>
          struct(lit(bd).as("band"), element_at(col("sig"), 2 * bd + 1).as("h1"),
            element_at(col("sig"), 2 * bd + 2).as("h2"))): _*))
          .as("bandkey"))
      val cand = bands.alias("x").join(bands.alias("y"), Seq("bandkey"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .filter(col("a") < col("b")).distinct()
        .transform(graft.CacheTracker.persist)
      val exact = thresholdPairs(spark, sfDir)
        .transform(graft.CacheTracker.persist)
      val tp = cand.join(exact, Seq("a", "b"), "left_semi")
      cand.agg(count(lit(1)).as("n_cand"))
        .join(exact.agg(count(lit(1)).as("n_true")))
        .join(tp.agg(count(lit(1)).as("n_tp")))
        .selectExpr("n_cand", "n_true", "n_tp",
          "n_cand - n_tp AS n_fp", "n_true - n_tp AS n_miss",
          "n_tp * 1000000 DIV n_cand AS precision_ppm",
          "n_tp * 1000000 DIV n_true AS recall_ppm")
    },

    // MinHash calibration audit: estimated vs exact Jaccard for every pair
    // with exact similarity ≥ 0.2 — the measurement a dedup pipeline runs
    // before trusting a signature length (est error ~ 1/√perms; 32 perms
    // → σ ≈ 0.09, so err_ppm should sit within ~±200k for most pairs, and
    // the spec pins the mean absolute error under that bound). The
    // signature is the SAME deterministic permutation family as the
    // production path (MinHashSig codegen expression), replayed in the
    // oracle as 32 unrolled min() aggregates over the shared shingle CTE —
    // so the estimate itself, not just the exact value, is hash-checked
    // across engines. All ppm arithmetic is integer-exact; the ≥0.2 gate
    // compares i·1e6 ≥ floor·union to avoid doubles entirely.
    GraftQuery("dedup_minhash_calib",
      s"""WITH $ShinglesCte,
         |$PairCte,
         |cand AS (SELECT inter.ida AS a, inter.idb AS b,
         |           CAST(inter.i * 1000000 // (sa.n + sb.n - inter.i) AS BIGINT) AS jacc_ppm
         |         FROM inter JOIN sizes sa ON sa.doc_id = inter.ida
         |                    JOIN sizes sb ON sb.doc_id = inter.idb
         |         WHERE inter.i * 1000000 >= $CalibMinPpm * (sa.n + sb.n - inter.i)),
         |sig AS (SELECT doc_id, ${(0 until NumPerms).map(j =>
             s"min((${permA(j)} * (h % $P) + ${permB(j)}) % $P) AS s$j").mkString(", ")}
         |        FROM shf GROUP BY doc_id)
         |SELECT c.a, c.b, c.jacc_ppm,
         |  CAST((${(0 until NumPerms).map(j =>
             s"CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END").mkString(" + ")})
         |       * 1000000 // $NumPerms AS BIGINT) AS est_ppm,
         |  CAST((${(0 until NumPerms).map(j =>
             s"CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END").mkString(" + ")})
         |       * 1000000 // $NumPerms - c.jacc_ppm AS BIGINT) AS err_ppm
         |FROM cand c JOIN sig x ON x.doc_id = c.a JOIN sig y ON y.doc_id = c.b
         |ORDER BY a, b""".stripMargin) { (spark, sfDir) =>
      val s = docShingles(spark, sfDir)
      val sig = s.select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("sh"), NumPerms).as("sig"))
      val cand = pairIntersections(s)
        .filter(col("i") * 1000000L >= lit(CalibMinPpm) * (col("na") + col("nb") - col("i")))
        .select(col("a"), col("b"),
          expr("i * 1000000 DIV (na + nb - i)").as("jacc_ppm"))
      cand
        .join(sig.select(col("doc_id").as("a"), col("sig").as("siga")), Seq("a"))
        .join(sig.select(col("doc_id").as("b"), col("sig").as("sigb")), Seq("b"))
        .withColumn("matches", aggregate(
          zip_with(col("siga"), col("sigb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v))
        .select(col("a"), col("b"), col("jacc_ppm"),
          expr(s"matches * 1000000 DIV $NumPerms").as("est_ppm"),
          expr(s"matches * 1000000 DIV $NumPerms - jacc_ppm").as("err_ppm"))
        .orderBy("a", "b")
    },

    // leakage-safe train/val/test split: the split bucket is computed
    // from the NEAR-DUP CLUSTER REPRESENTATIVE, not the document itself,
    // so two near-duplicate documents can never straddle train and test
    // (the eval-leakage failure mode a naive per-doc hash split has).
    // Composition of the cluster labels with text_split_assign's
    // deterministic bucketing; singleton docs are their own rep. The
    // component frame holds only docs in dup pairs, so at demo scale its
    // left join broadcasts and the corpus side never shuffles — but the
    // hint is BYTE-GATED (gatedBroadcastComp): a few-% dup rate of a
    // 100 TB corpus is billions of rows, past any broadcast threshold,
    // so past BroadcastMaxComponents the hint is dropped and AQE picks
    // the join. The gate's count is O(1)-cheap: connectedComponents
    // returns a checkpoint-materialized frame.
    GraftQuery("train_split_safe",
      s"""WITH RECURSIVE $ShinglesCte,
         |$PairCte,
         |pairs AS (SELECT inter.ida AS a, inter.idb AS b FROM inter
         |          JOIN sizes sa ON sa.doc_id = inter.ida
         |          JOIN sizes sb ON sb.doc_id = inter.idb
         |          WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) >= $JaccardThreshold),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION
         |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
         |         FROM reach GROUP BY src),
         |rep AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, rep,
         |  CASE WHEN (rep % 100 * 61) % 100 < 90 THEN 'train'
         |       WHEN (rep % 100 * 61) % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM rep ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      val pairs = jaccardPairs(docShingles(spark, sfDir))
        .filter(col("jacc") >= JaccardThreshold)
        .select("a", "b")
      val comp = GraphOps.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      Tables.documents(spark, sfDir).select("doc_id")
        .join(gatedBroadcastComp(comp, comp.count()), Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
        .withColumn("bucket", col("rep") % 100 * 61 % 100)
        .select(col("doc_id"), col("rep"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // near-duplicate clustering: connected components over the ≥0.8-Jaccard
    // pair graph, each doc labeled with the min doc_id of its component
    // (the canonical-document assignment an actual dedup pass keeps).
    // Spark side: iterative min-label propagation — each round is one
    // distributed join, rounds bounded by component diameter (tiny for
    // near-dup graphs); oracle: recursive-CTE transitive closure.
    GraftQuery("dedup_clusters",
      s"""WITH RECURSIVE $ShinglesCte,
         |$PairCte,
         |pairs AS (SELECT inter.ida AS a, inter.idb AS b FROM inter
         |          JOIN sizes sa ON sa.doc_id = inter.ida
         |          JOIN sizes sb ON sb.doc_id = inter.idb
         |          WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) >= $JaccardThreshold),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION
         |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      val pairs = jaccardPairs(docShingles(spark, sfDir))
        .filter(col("jacc") >= JaccardThreshold)
        .select("a", "b")
      GraphOps.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    },

    // canonical-document selection — the step an actual dedup pass runs
    // AFTER clustering: per near-dup cluster keep the best member (longest
    // text, doc_id tiebreak — the standard keep-longest heuristic) and
    // report how many rows the cluster drops. The keeper argmax rides
    // max_by on a composite integer key (length·1e9 − doc_id) so both
    // engines pick the identical winner without per-cluster sorts; the
    // cluster assignment reuses the same label propagation / recursive-CTE
    // pair as dedup_clusters.
    GraftQuery("dedup_keep_best",
      s"""WITH RECURSIVE $ShinglesCte,
         |$PairCte,
         |pairs AS (SELECT inter.ida AS a, inter.idb AS b FROM inter
         |          JOIN sizes sa ON sa.doc_id = inter.ida
         |          JOIN sizes sb ON sb.doc_id = inter.idb
         |          WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) >= $JaccardThreshold),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION
         |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
         |       FROM reach GROUP BY src)
         |SELECT cl.cluster,
         |  max_by(cl.doc_id,
         |    CAST(length(d.text) AS BIGINT) * 1000000000 - cl.doc_id) AS keep_doc,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(*) - 1 AS BIGINT) AS n_dropped
         |FROM cl JOIN documents d ON d.doc_id = cl.doc_id
         |GROUP BY cl.cluster ORDER BY cl.cluster""".stripMargin) { (spark, sfDir) =>
      val pairs = jaccardPairs(docShingles(spark, sfDir))
        .filter(col("jacc") >= JaccardThreshold)
        .select("a", "b")
      val cl = GraphOps.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      val keepKey = length(col("text")).cast("long") * 1000000000L - col("doc_id")
      cl.join(Tables.documents(spark, sfDir), Seq("doc_id"))
        .groupBy("cluster")
        .agg(max_by(col("doc_id"), keepKey).as("keep_doc"),
          count(lit(1)).as("n_members"),
          (count(lit(1)) - 1).as("n_dropped"))
        .orderBy("cluster")
    },

    // Threshold-sensitivity sweep: overlapping-pair counts at Jaccard
    // cut-offs 0.5..0.9 — the dial-setting evidence a dedup policy review
    // asks for ("how many more pairs does lowering τ to 0.6 admit?").
    // ONE pass over the family's cached pair intersections; the 5-way
    // threshold fan-out explodes the (tiny) pair list, not the corpus,
    // and collapses straight back into a 5-row aggregate. Double
    // comparisons are safe: jacc is the IEEE quotient of exact integers
    // in both engines, so >= on it cannot drift.
    GraftQuery("dedup_jaccard_sweep",
      s"""WITH $ShinglesCte,
         |$PairCte,
         |jp AS (SELECT CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) AS jacc
         |       FROM inter
         |       JOIN sizes sa ON sa.doc_id = inter.ida
         |       JOIN sizes sb ON sb.doc_id = inter.idb),
         |taus AS (SELECT unnest([50, 60, 70, 80, 90]) AS tau_pct)
         |SELECT CAST(tau_pct AS BIGINT) AS tau_pct, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM jp, taus WHERE jacc * 100 >= tau_pct
         |GROUP BY tau_pct ORDER BY tau_pct""".stripMargin) { (spark, sfDir) =>
      jaccardPairs(docShingles(spark, sfDir))
        .select(col("jacc"),
          explode(array(Seq(50, 60, 70, 80, 90).map(t => lit(t.toLong)): _*)).as("tau_pct"))
        .filter(col("jacc") * 100 >= col("tau_pct"))
        .groupBy("tau_pct").agg(count(lit(1)).as("n_pairs"))
        .orderBy("tau_pct")
    },

    // Near-dup cluster-size histogram — the corpus-health report a dedup
    // pass publishes: how many duplicate groups of each size exist, plus
    // the singleton mass (docs in no pair). The histogram shape is what
    // tells an operator whether duplication is pairwise noise (sizes
    // concentrate at 2) or template explosions (a long tail of giant
    // clusters — the boilerplate signature) and sizes the keep-best
    // savings (Σ (size-1) docs drop). Rides the family's cached shingle
    // frame + the shared component machinery; output is bounded by the
    // largest cluster size, not the corpus.
    GraftQuery("dedup_cluster_stats",
      s"""WITH RECURSIVE $ShinglesCte,
         |$PairCte,
         |pairs AS (SELECT inter.ida AS a, inter.idb AS b FROM inter
         |          JOIN sizes sa ON sa.doc_id = inter.ida
         |          JOIN sizes sb ON sb.doc_id = inter.idb
         |          WHERE CAST(inter.i AS DOUBLE) / (sa.n + sb.n - inter.i) >= $JaccardThreshold),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION
         |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
         |       FROM reach GROUP BY src),
         |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM cl GROUP BY cluster),
         |h AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM cs GROUP BY sz),
         |singles AS (SELECT CAST(1 AS BIGINT) AS sz,
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents)
         |      - (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_clusters)
         |SELECT sz AS cluster_size, n_clusters FROM (
         |  SELECT * FROM h UNION ALL SELECT * FROM singles WHERE n_clusters > 0)
         |ORDER BY cluster_size""".stripMargin) { (spark, sfDir) =>
      val cl = GraphOps.connectedComponents(thresholdPairs(spark, sfDir))
      val h = cl.groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      val nDocs = Tables.documents(spark, sfDir)
        .agg(count(lit(1)).as("nd"))
      val nClustered = cl.agg(count(lit(1)).as("nc"))
      val singles = nDocs.crossJoin(nClustered)
        .select(lit(1L).as("sz"), (col("nd") - col("nc")).as("n_clusters"))
        .filter(col("n_clusters") > 0)
      h.unionByName(singles)
        .select(col("sz").as("cluster_size"), col("n_clusters"))
        .orderBy("cluster_size")
    },

    // shingle containment C(A,B) = |A∩B| / |A| — the asymmetric companion
    // to Jaccard that catches SUB-document duplication (a doc pasted inside
    // a larger one scores low Jaccard but containment ≈ 1). Same df-capped
    // bucket join and per-document array cache as the rest of the family;
    // a pair is emitted when either direction's containment clears the bar.
    GraftQuery("dedup_containment",
      s"""WITH $ShinglesCte,
         |$PairCte
         |SELECT inter.ida AS a, inter.idb AS b,
         |       round(CAST(inter.i AS DOUBLE) / sa.n, 6) AS c_ab,
         |       round(CAST(inter.i AS DOUBLE) / sb.n, 6) AS c_ba
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = inter.ida
         |JOIN sizes sb ON sb.doc_id = inter.idb
         |WHERE CAST(inter.i AS DOUBLE) / sa.n >= $JaccardThreshold
         |   OR CAST(inter.i AS DOUBLE) / sb.n >= $JaccardThreshold
         |ORDER BY a, b""".stripMargin) { (spark, sfDir) =>
      pairIntersections(docShingles(spark, sfDir))
        .filter(col("i").cast("double") / col("na") >= JaccardThreshold ||
          col("i").cast("double") / col("nb") >= JaccardThreshold)
        .select(col("a"), col("b"),
          round(col("i").cast("double") / col("na"), 6).as("c_ab"),
          round(col("i").cast("double") / col("nb"), 6).as("c_ba"))
        .orderBy("a", "b")
    },

    // SimHash signatures per document
    GraftQuery("dedup_simhash",
      s"""WITH $SimhashCte
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      simhashDf(spark, sfDir).orderBy("doc_id")
    },

    // SimHash near-dup pairs: 4×8-bit band buckets (exact for hamming ≤ 3)
    GraftQuery("dedup_simhash_pairs",
      s"""WITH $SimhashCte
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY a, b""".stripMargin) { (spark, sfDir) =>
      val sims = simhashDf(spark, sfDir)
      val bands = sims.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("k"))
        .select(col("doc_id"), col("simhash"), col("k"),
          expr("(simhash DIV shiftleft(CAST(1 AS BIGINT), k * 8)) % 256").as("bandval"))
      val cands = bands.alias("x")
        .join(bands.alias("y"), Seq("k", "bandval"))
        .select(col("x.doc_id").as("a"), col("x.simhash").as("sa"),
          col("y.doc_id").as("b"), col("y.simhash").as("sb"))
        .filter(col("a") < col("b"))
        .distinct()
      cands
        .select(col("a"), col("b"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int").as("dist"))
        .filter(col("dist") <= 3)
        .orderBy("a", "b")
    },

    // Sorted-neighborhood near-dup (Hernández/Stolfo SIGMOD'95 blocking):
    // global sort on a normalized text prefix, then compare each doc only
    // to its SnmWindow-1 sort successors — a THIRD blocking family next to
    // the df-capped shingle join and MinHash banding, the one record-
    // linkage uses when similarity lives in a sortable key. The global
    // numbering is Prefix.scan (range-partition + seeded counts — no
    // single-partition window), the neighborhood expansion is an
    // offset-explode EQUI-join on rank (each pair exists exactly once, no
    // distinct), and verification re-attaches the memoized shingle arrays.
    // The oracle replays the same window with a literal row_number +
    // rank-distance range join.
    GraftQuery("dedup_snm",
      s"""WITH $ShinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
         |keyed AS (SELECT doc_id,
         |            substr(regexp_replace(text, '[^a-z0-9]', '', 'g'), 1, 32) AS k
         |          FROM documents),
         |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn
         |           FROM keyed),
         |pairs AS (SELECT r1.doc_id AS pa, r2.doc_id AS pb FROM ranked r1
         |          JOIN ranked r2 ON r2.rn - r1.rn BETWEEN 1 AND ${SnmWindow - 1}),
         |inter AS (SELECT p.pa, p.pb, count(*) AS i FROM pairs p
         |          JOIN shf s1 ON s1.doc_id = p.pa
         |          JOIN shf s2 ON s2.doc_id = p.pb AND s2.h = s1.h
         |          GROUP BY p.pa, p.pb),
         |j AS (SELECT least(pa, pb) AS a, greatest(pa, pb) AS b,
         |        CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jacc
         |      FROM inter JOIN sizes sa ON sa.doc_id = inter.pa
         |                 JOIN sizes sb ON sb.doc_id = inter.pb)
         |SELECT a, b, jacc FROM j WHERE jacc >= $JaccardThreshold
         |ORDER BY a, b""".stripMargin) { (spark, sfDir) =>
      val s = docShingles(spark, sfDir)
      val keyed = Tables.documents(spark, sfDir).select(col("doc_id"),
        substring(regexp_replace(col("text"), "[^a-z0-9]", ""), 1, 32).as("k"))
      val ranked = Prefix.scan(keyed, "rn", Seq(col("k"), col("doc_id")), lit(1L), Prefix.Sum)
        .select("doc_id", "rn")
      val right = ranked.select(col("doc_id").as("pb"), col("rn").as("rnb"))
      val pairs = ranked.select(col("doc_id").as("pa"), col("rn"))
        .withColumn("rnb",
          explode(array((1 until SnmWindow).map(o => col("rn") + o): _*)))
        .join(right, Seq("rnb"))
        .select("pa", "pb")
      pairs
        .join(s.select(col("doc_id").as("pa"), col("sh").as("sha"), col("n").as("na")),
          Seq("pa"))
        .join(s.select(col("doc_id").as("pb"), col("sh").as("shb"), col("n").as("nb")),
          Seq("pb"))
        .select(least(col("pa"), col("pb")).as("a"),
          greatest(col("pa"), col("pb")).as("b"),
          (size(array_intersect(col("sha"), col("shb"))).cast("double")
            / (col("na") + col("nb")
              - size(array_intersect(col("sha"), col("shb"))))).as("jacc"))
        .filter(col("jacc") >= JaccardThreshold)
        .orderBy("a", "b")
    }
  )
}
