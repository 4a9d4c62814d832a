package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables
import graft.functions.PortableHash._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * quality stats, language-ID heuristic, token counting, document
  * fingerprinting (north-star ops; no counterpart in the reference).
  *
  * Everything is scan → per-row expression → (optional) explode+agg: no
  * shuffle except final aggregations, so it scales linearly with the corpus.
  */
object TextOps {

  private val StopEn = Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
  private val StopDe = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein")
  private val StopFr = Seq("le", "la", "les", "et", "est", "dans", "pour", "que")

  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** count of tokens ∈ ws, as a Spark column over an array<string> column */
  private def hits(tokens: Column, ws: Seq[String]): Column =
    size(filter(tokens, t => t.isin(ws: _*))).cast("long")

  private def hitsSql(tokensExpr: String, ws: Seq[String]): String =
    s"CAST(len(list_filter($tokensExpr, t -> list_contains(${sqlList(ws)}, t))) AS BIGINT)"

  /** The corpus_clean quality+language gate as shared CTEs `t` (tokenized
    * docs), `f` (per-doc keep_q / is_en verdicts) and `surv` (survivors) —
    * one definition consumed by corpus_clean AND the end-to-end
    * pipeline_corpus_prep composition, so the two can never drift. */
  private[operators] def cleanCtesSql: String =
    s"""t AS (SELECT doc_id, text,
       |    regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
       |f AS (SELECT doc_id, text,
       |    (CAST(length(text) AS BIGINT) >= 100 AND CAST(len(toks) AS BIGINT) >= 20
       |     AND (CASE WHEN len(toks) = 0 THEN 0.0
       |          ELSE CAST(len(list_distinct(toks)) AS BIGINT) * 1.0 / CAST(len(toks) AS BIGINT) END) >= 0.2
       |     AND (CASE WHEN len(toks) = 0 THEN 0.0
       |          ELSE ${hitsSql("toks", StopEn)} * 1.0 / CAST(len(toks) AS BIGINT) END)
       |         BETWEEN 0.01 AND 0.6) AS keep_q,
       |    (${hitsSql("toks", StopEn)} >= ${hitsSql("toks", StopDe)}
       |     AND ${hitsSql("toks", StopEn)} >= ${hitsSql("toks", StopFr)}) AS is_en
       |  FROM t),
       |surv AS (SELECT doc_id, text FROM f WHERE keep_q AND is_en)""".stripMargin

  /** `size(filter(toks, ∈ ws))` with `toks` a lambda-bound variable */
  private def hitsL(ws: Seq[String]): String = {
    val in = ws.map(w => s"'$w'").mkString("(", ", ", ")")
    s"CAST(size(filter(toks, t -> t IN $in)) AS BIGINT)"
  }

  /** The quality/language flags as ONE expression that tokenizes exactly
    * once per row: `toks` is bound as a higher-order-function lambda
    * variable (`transform(array(re), toks -> …)[0]`), which Catalyst's
    * alias-inlining (CollapseProject / PushPredicateThroughNonJoin) cannot
    * substitute through — previously the `toks` alias was inlined into
    * every gate conjunct and the corpus-prep hot path ran
    * `regexp_extract_all` ~10× per document. The struct also carries the
    * combined `clean` verdict so a survivor filter is a single opaque
    * conjunct (split-conjunct pushdown would otherwise duplicate the
    * tokenize once per conjunct). Value-identical to the old column forms:
    * ratios are computed as DOUBLE/DOUBLE, matching `long * 1.0 / long`.
    */
  private def flagsExprSql: String = {
    // ONE definition each for the quality and language verdicts; `clean`
    // is their conjunction BY CONSTRUCTION, so a future threshold tweak
    // cannot desynchronize the combined gate (and the survivor sets it
    // selects) from keep_q AND is_en
    val keepQSql =
      s"""(CAST(length(text) AS BIGINT) >= 100
         |    AND CAST(size(toks) AS BIGINT) >= 20
         |    AND (CASE WHEN size(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE CAST(size(array_distinct(toks)) AS DOUBLE) / CAST(size(toks) AS DOUBLE) END) >= 0.2
         |    AND ((CASE WHEN size(toks) = 0 THEN CAST(0.0 AS DOUBLE)
         |          ELSE CAST(${hitsL(StopEn)} AS DOUBLE) / CAST(size(toks) AS DOUBLE) END)
         |         BETWEEN 0.01 AND 0.6))""".stripMargin
    val isEnSql =
      s"""(${hitsL(StopEn)} >= ${hitsL(StopDe)}
         |    AND ${hitsL(StopEn)} >= ${hitsL(StopFr)})""".stripMargin
    s"""transform(array(regexp_extract_all(text, '[a-z0-9]+', 0)), toks -> named_struct(
       |  'keep_q', $keepQSql,
       |  'is_en', $isEnSql,
       |  'clean', ($keepQSql AND $isEnSql)))[0]""".stripMargin
  }

  /** Spark twin of [[cleanCtesSql]]'s `f`: (doc_id, text, keep_q, is_en,
    * clean). Filter survivors on `clean` (one conjunct → one tokenize per
    * row even after predicate pushdown), never on `keep_q && is_en`. */
  private[operators] def cleanFlags(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), expr(flagsExprSql).as("fl"))
      .select(col("doc_id"), col("text"),
        col("fl.keep_q").as("keep_q"), col("fl.is_en").as("is_en"),
        col("fl.clean").as("clean"))

  val queries: Seq[GraftQuery] = Seq(

    // quality scoring: lengths, token stats, punctuation + stopword ratios
    GraftQuery("text_stats",
      s"""WITH t AS (SELECT doc_id, text,
         |    regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_m,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok_len,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_n,
         |  ${hitsSql("toks", StopEn)} AS stop_n,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(${hitsSql("toks", StopEn)} AS DOUBLE) / CAST(len(toks) AS BIGINT)
         |  END AS stop_ratio
         |FROM t ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      val t = Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
      t.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        aggregate(transform(col("toks"), x => length(x).cast("long")),
          lit(0L), (a, x) => a + x).as("sum_tok_len"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long").as("punct_n"),
        hits(col("toks"), StopEn).as("stop_n"),
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(hits(col("toks"), StopEn).cast("double") / size(col("toks")).cast("long"))
          .as("stop_ratio"))
        .orderBy("doc_id")
    },

    // language-ID heuristic: stopword-hit argmax with fixed tie order
    GraftQuery("text_langid",
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
         |h AS (SELECT doc_id,
         |    ${hitsSql("toks", StopEn)} AS en_hits,
         |    ${hitsSql("toks", StopDe)} AS de_hits,
         |    ${hitsSql("toks", StopFr)} AS fr_hits FROM t)
         |SELECT doc_id, en_hits, de_hits, fr_hits,
         |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
         |       WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS pred_lang
         |FROM h ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .select(col("doc_id"),
          hits(col("toks"), StopEn).as("en_hits"),
          hits(col("toks"), StopDe).as("de_hits"),
          hits(col("toks"), StopFr).as("fr_hits"))
        .withColumn("pred_lang",
          when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits"), "en")
            .when(col("de_hits") >= col("fr_hits"), "de")
            .otherwise("fr"))
        .orderBy("doc_id")
    },

    // Threshold-free ranking EVALUATION: exact ROC-AUC of text_langid's
    // decision statistic — the en-vs-best-other stopword-hit margin,
    // normalized per token and offset by +1 so it stays non-negative
    // (Spark DIV truncates, DuckDB // floors; they agree only ≥ 0) —
    // against the ground-truth "is English" label. The number a pipeline
    // reads before picking any langid threshold (the confusion matrix
    // below evaluates ONE operating point; AUC evaluates the ranking
    // itself). Computed the way exact AUC scales: the score is integer
    // ppm, so the per-score histogram groupBy is BOUNDED at ≤2e6+1 rows
    // no matter the corpus size, the tie-aware rank prefix-sum is one
    // window over that bounded frame (never over documents), and
    // AUC = (Σ_pos 2·avg_rank − P(P+1)) / (2PN) is exact integer
    // arithmetic end-to-end. On the synthetic corpus this measures
    // 0.529 — correctly NEAR-RANDOM, because the generator's text is
    // language-uniform (the lang column is metadata, not reflected in
    // token content; de/fr stopword hits are ~0 for every lang). That is
    // the point of shipping the eval: it is the operator that tells a
    // pipeline its classifier cannot separate the labels BEFORE mixture
    // weights get built on top of it.
    GraftQuery("text_langid_auc",
      s"""WITH t AS (SELECT lang,
         |    regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
         |sc AS (SELECT CASE WHEN len(toks) = 0 THEN CAST(1000000 AS BIGINT)
         |         ELSE (${hitsSql("toks", StopEn)}
         |               - greatest(${hitsSql("toks", StopDe)}, ${hitsSql("toks", StopFr)})
         |               + CAST(len(toks) AS BIGINT)) * 1000000
         |              // CAST(len(toks) AS BIGINT) END AS s,
         |       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM t),
         |g AS (SELECT s, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p
         |      FROM sc GROUP BY s),
         |w AS (SELECT s, c, p, COALESCE(CAST(sum(c) OVER (ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |        CAST(0 AS BIGINT)) AS cum FROM g),
         |a AS (SELECT CAST(sum(p * (2 * cum + c + 1)) AS BIGINT) AS r2,
         |        CAST(sum(p) AS BIGINT) AS np, CAST(sum(c) AS BIGINT) AS nc FROM w)
         |SELECT CASE WHEN np = 0 OR nc = np THEN NULL
         |         ELSE (r2 - np * (np + 1)) * 1000000 // (2 * np * (nc - np)) END AS auc_ppm,
         |       np AS n_pos, nc - np AS n_neg FROM a""".stripMargin) { (spark, sfDir) =>
      val sc = Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .select(hits(col("toks"), StopEn).as("eh"),
          greatest(hits(col("toks"), StopDe), hits(col("toks"), StopFr)).as("oh"),
          size(col("toks")).cast("long").as("n"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .select(expr("CASE WHEN n = 0 THEN CAST(1000000 AS BIGINT) " +
          "ELSE (eh - oh + n) * 1000000 DIV n END").as("s"), col("y"))
      val g = sc.groupBy("s")
        .agg(count(lit(1)).as("c"), sum("y").as("p"))
      // global window over the SCORE HISTOGRAM only — ≤ 1e6+1 rows at any
      // corpus size (the ppm quantization is what makes exact AUC bounded)
      val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cum", coalesce(sum("c").over(w), lit(0L)))
        .agg(sum(col("p") * (col("cum") * 2 + col("c") + 1)).as("r2"),
          sum("p").as("np"), sum("c").as("nc"))
        .select(
          // single-class guard: with np = 0 or nc = np there are no
          // (pos, neg) pairs to rank — "undefined AUC" must surface as
          // NULL on BOTH sides (Spark's ANSI DIV raises on /0 while
          // DuckDB's // yields NULL, so an unguarded query crashes
          // exactly when the eval should report undefined)
          expr("CASE WHEN np = 0 OR nc = np THEN CAST(NULL AS BIGINT) " +
            "ELSE (r2 - np * (np + 1)) * 1000000 DIV (2 * np * (nc - np)) END").as("auc_ppm"),
          col("np").as("n_pos"), (col("nc") - col("np")).as("n_neg"))
    },

    // Language-ID EVALUATION: the confusion matrix of text_langid's
    // stopword-vote prediction against the corpus's ground-truth lang
    // column — the quality gate a pipeline reads before trusting the
    // classifier for mixture weighting (es/zh have no stopword table, so
    // the matrix shows exactly where their mass lands — the known-unknown
    // a 3-language model must surface, not hide). One row per (true,
    // predicted) cell with the within-truth share in exact ppm; the frame
    // is bounded by langs² at any corpus size.
    GraftQuery("text_lang_confusion",
      s"""WITH t AS (SELECT lang,
         |    regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
         |h AS (SELECT lang,
         |    ${hitsSql("toks", StopEn)} AS e,
         |    ${hitsSql("toks", StopDe)} AS d,
         |    ${hitsSql("toks", StopFr)} AS f FROM t),
         |p AS (SELECT lang,
         |    CASE WHEN e >= d AND e >= f THEN 'en'
         |         WHEN d >= f THEN 'de' ELSE 'fr' END AS pred_lang FROM h),
         |g AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |      FROM p GROUP BY lang, pred_lang),
         |tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM g GROUP BY lang)
         |SELECT g.lang, g.pred_lang, g.n,
         |       CAST(g.n * 1000000 // tt.tot AS BIGINT) AS share_ppm
         |FROM g JOIN tt USING (lang)
         |ORDER BY g.lang, g.pred_lang""".stripMargin) { (spark, sfDir) =>
      val p = Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .select(col("lang"),
          hits(col("toks"), StopEn).as("e"),
          hits(col("toks"), StopDe).as("d"),
          hits(col("toks"), StopFr).as("f"))
        .withColumn("pred_lang",
          when(col("e") >= col("d") && col("e") >= col("f"), "en")
            .when(col("d") >= col("f"), "de").otherwise("fr"))
      val g = p.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val tt = g.groupBy("lang").agg(sum("n").as("tot"))
      g.join(broadcast(tt), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("n * 1000000 DIV tot").as("share_ppm"))
        .orderBy("lang", "pred_lang")
    },

    // token counting: whitespace split vs BPE-ish regex segmentation
    GraftQuery("text_token_count",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir).select(
        col("doc_id"),
        size(split(trim(col("text")), " +")).cast("long").as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long")
          .as("n_bpe"))
        .orderBy("doc_id")
    },

    // composite quality filter: the corpus-cleaning decision a training
    // pipeline actually applies — score from length/token/stopword signals,
    // emit the keep/drop verdict per document
    GraftQuery("text_quality_filter",
      s"""WITH t AS (SELECT doc_id, text,
         |    regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(len(list_distinct(toks)) AS BIGINT) * 1.0 / CAST(len(toks) AS BIGINT)
         |    END AS distinct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE ${hitsSql("toks", StopEn)} * 1.0 / CAST(len(toks) AS BIGINT)
         |    END AS stop_ratio
         |  FROM t)
         |SELECT doc_id, n_chars, n_tokens,
         |       (n_chars >= 100 AND n_tokens >= 20 AND distinct_ratio >= 0.2
         |        AND stop_ratio >= 0.01 AND stop_ratio <= 0.6) AS keep
         |FROM m ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      val t = Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
      t.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(size(array_distinct(col("toks"))).cast("long") * lit(1.0)
            / size(col("toks")).cast("long")).as("distinct_ratio"),
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(hits(col("toks"), StopEn) * lit(1.0) / size(col("toks")).cast("long"))
          .as("stop_ratio"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          (col("n_chars") >= 100 && col("n_tokens") >= 20
            && col("distinct_ratio") >= 0.2
            && col("stop_ratio") >= 0.01 && col("stop_ratio") <= 0.6).as("keep"))
        .orderBy("doc_id")
    },

    // model-based quality scoring: a linear classifier over the same
    // engineered features, fixed integer weights (the fasttext-style
    // quality model of RefinedWeb/FineWeb pipelines, reduced to its
    // serving shape — training happens offline; serving is one fused
    // per-row expression). All-integer ppm arithmetic with floor
    // division, so the scores are bit-identical across engines — a model
    // gate whose decisions are exactly reproducible, which is what a
    // 100 TB pipeline needs to make dataset builds auditable.
    GraftQuery("text_quality_model",
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(text, '[a-z0-9]+') AS toks, text FROM documents),
         |f AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS nt,
         |    ${hitsSql("toks", StopEn)} AS stop_n,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS dis_n,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS tok_len
         |  FROM t),
         |s AS (SELECT doc_id, nt,
         |    CASE WHEN nt = 0 THEN 0 ELSE (1000000 * stop_n) // nt END AS stop_ppm,
         |    CASE WHEN nt = 0 THEN 0 ELSE (1000000 * dis_n) // nt END AS dis_ppm,
         |    CASE WHEN nt = 0 THEN 0 ELSE (100 * tok_len) // nt END AS mean_len_c
         |  FROM f)
         |SELECT doc_id,
         |  CAST(200000 + 2 * stop_ppm + dis_ppm
         |       - 1500 * abs(mean_len_c - 450)
         |       - 2000 * greatest(0, 20 - nt) AS BIGINT) AS score_ppm,
         |  (200000 + 2 * stop_ppm + dis_ppm
         |       - 1500 * abs(mean_len_c - 450)
         |       - 2000 * greatest(0, 20 - nt)) >= 800000 AS keep
         |FROM s ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("nt"),
          hits(col("toks"), StopEn).as("stop_n"),
          size(array_distinct(col("toks"))).cast("long").as("dis_n"),
          coalesce(aggregate(transform(col("toks"), x => length(x).cast("long")),
            lit(0L), (a, x) => a + x), lit(0L)).as("tok_len"))
        .selectExpr("doc_id",
          "CASE WHEN nt = 0 THEN 0L ELSE (1000000 * stop_n) DIV nt END AS stop_ppm",
          "CASE WHEN nt = 0 THEN 0L ELSE (1000000 * dis_n) DIV nt END AS dis_ppm",
          "CASE WHEN nt = 0 THEN 0L ELSE (100 * tok_len) DIV nt END AS mean_len_c",
          "nt")
        .selectExpr("doc_id",
          """CAST(200000 + 2 * stop_ppm + dis_ppm
            |     - 1500 * abs(mean_len_c - 450)
            |     - 2000 * greatest(0L, 20 - nt) AS BIGINT) AS score_ppm""".stripMargin,
          """(200000 + 2 * stop_ppm + dis_ppm
            |     - 1500 * abs(mean_len_c - 450)
            |     - 2000 * greatest(0L, 20 - nt)) >= 800000 AS keep""".stripMargin)
        .orderBy("doc_id")
    },

    // winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003): the
    // positional 8-gram hash stream, min-selected over every window of 4
    // consecutive hashes — the local fingerprint set that makes partial-copy
    // detection robust to insertions (guarantee: any shared run of
    // k+w-1 = 11 chars shares a fingerprint). Pure per-row array ops until
    // the final explode; emitted as (doc_id, fp) rows.
    GraftQuery("text_winnow", {
      val hSql = h8Sql("substr(text, i, 8)")
      s"""WITH hs AS (SELECT doc_id,
         |      list_transform(generate_series(1, length(text) - 7), i -> $hSql) AS h
         |    FROM documents),
         |w AS (SELECT doc_id,
         |      list_distinct(list_transform(generate_series(1, len(h) - 3),
         |        i -> list_min(h[i:i+3]))) AS fps
         |    FROM hs WHERE len(h) >= 4)
         |SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp
         |FROM w ORDER BY doc_id, fp""".stripMargin
    }) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("h", graft.functions.ShingleHashes.shingleHashes(col("text"), 8))
        .filter(size(col("h")) >= 4)
        .withColumn("fps", array_distinct(expr(
          "transform(sequence(1, size(h) - 3), i -> array_min(slice(h, i, 4)))")))
        .select(col("doc_id"), explode(col("fps")).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // the end-to-end corpus-cleaning funnel a training pipeline runs before
    // mixing sources: quality gate → language gate → exact-dedup gate →
    // split assignment, reported as per-stage retention counts. One scan,
    // one md5-partitioned window (distributes — no global window), one
    // final aggregation; each gate reuses the exact expressions of its
    // standalone operator so the composite can't drift from the parts.
    GraftQuery("corpus_clean",
      s"""WITH $cleanCtesSql,
         |u AS (SELECT doc_id,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS is_uniq
         |  FROM surv),
         |c AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS n1,
         |    (SELECT CAST(sum(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) FROM f) AS n2,
         |    (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n3,
         |    (SELECT CAST(sum(CASE WHEN is_uniq THEN 1 ELSE 0 END) AS BIGINT) FROM u) AS n4),
         |s AS (SELECT CASE WHEN (doc_id % 100 * 61) % 100 < 90 THEN '5_train'
         |             WHEN (doc_id % 100 * 61) % 100 < 95 THEN '6_val'
         |             ELSE '7_test' END AS stage
         |      FROM u WHERE is_uniq)
         |SELECT stage, n FROM (
         |  SELECT '1_total' AS stage, n1 AS n FROM c
         |  UNION ALL SELECT '2_quality', n2 FROM c
         |  UNION ALL SELECT '3_english', n3 FROM c
         |  UNION ALL SELECT '4_unique', n4 FROM c
         |  UNION ALL SELECT stage, CAST(count(*) AS BIGINT) FROM s GROUP BY stage)
         |ORDER BY stage""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val f = cleanFlags(spark, sfDir)
      // dedup runs over the documents that SURVIVED the earlier gates: a
      // surviving doc must never be dropped because a rejected duplicate
      // had a lower doc_id (dedup-after-filter semantics). Filter on the
      // single `clean` conjunct: one tokenize per row after pushdown.
      val surv = f.filter(col("clean"))
      val u = surv.withColumn("is_uniq",
        row_number().over(Window.partitionBy(md5(col("text").cast("binary")))
          .orderBy("doc_id")) === 1)
        .select("doc_id", "is_uniq")
      val c = f.agg(
        count(lit(1)).as("n1"),
        sum(when(col("keep_q"), 1).otherwise(0)).cast("long").as("n2"),
        sum(when(col("clean"), 1).otherwise(0)).cast("long").as("n3"))
      val c4 = u.agg(sum(when(col("is_uniq"), 1).otherwise(0)).cast("long").as("n4"))
      val stages = c.crossJoin(c4).select(explode(array(
        struct(lit("1_total").as("stage"), col("n1").as("n")),
        struct(lit("2_quality").as("stage"), col("n2").as("n")),
        struct(lit("3_english").as("stage"), col("n3").as("n")),
        struct(lit("4_unique").as("stage"), col("n4").as("n")))).as("e"))
        .select(col("e.stage"), col("e.n"))
      val splits = u.filter(col("is_uniq"))
        .withColumn("b", (col("doc_id") % 100 * 61) % 100)
        .withColumn("stage", when(col("b") < 90, "5_train")
          .when(col("b") < 95, "6_val").otherwise("7_test"))
        .groupBy("stage").agg(count(lit(1)).as("n"))
      stages.unionByName(splits).orderBy("stage")
    },

    // Per-(source, language) mixture report: the per-provenance quality
    // funnel every multi-source corpus run publishes before fixing mixture
    // weights — doc counts, clean-gate survivors, clean-token totals and
    // each cell's ppm share of the clean token pool. One scan through the
    // shared clean gate + one (source, lang) hash agg; the grand total is
    // a broadcast scalar. Integer ppm: clean_tokens * 1e6 stays in int64
    // while a (source, lang) cell holds < 9.2e12 tokens — beyond that a
    // production run promotes the share column to DECIMAL(38)/HUGEINT
    // (the documented overflow bound, per the integer-exact house rule).
    GraftQuery("corpus_mix_report",
      s"""WITH $cleanCtesSql,
         |j AS (SELECT d.source, d.lang,
         |        (f.keep_q AND f.is_en) AS clean,
         |        CAST(len(t.toks) AS BIGINT) AS n_toks
         |      FROM documents d JOIN f ON f.doc_id = d.doc_id
         |      JOIN t ON t.doc_id = d.doc_id),
         |g AS (SELECT source, lang,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |        CAST(sum(CASE WHEN clean THEN n_toks ELSE 0 END) AS BIGINT) AS clean_tokens
         |      FROM j GROUP BY source, lang),
         |tot AS (SELECT CAST(sum(clean_tokens) AS BIGINT) AS tt FROM g)
         |SELECT source, lang, n_docs, n_clean, clean_tokens,
         |       CAST(clean_tokens * 1000000 // (SELECT tt FROM tot) AS BIGINT) AS share_ppm
         |FROM g ORDER BY source, lang""".stripMargin) { (spark, sfDir) =>
      val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("lang"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("n_toks"))
      val g = cleanFlags(spark, sfDir)
        .select(col("doc_id"), col("clean"))
        .join(d, Seq("doc_id"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("clean"), col("n_toks")).otherwise(0L)).as("clean_tokens"))
      val tot = g.agg(sum("clean_tokens").cast("long").as("tt"))
      g.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("n_clean"),
          col("clean_tokens"),
          expr("clean_tokens * 1000000 DIV tt").as("share_ppm"))
        .orderBy("source", "lang")
    },

    // deterministic train/val/test assignment: Knuth-hash bucket of doc_id —
    // stable across runs/engines, no RNG (the reproducible corpus split).
    // (a*k) % 100 depends only on a % 100, so the bucket is computed as
    // (doc_id % 100 * 61) % 100 with 61 = 2654435761 % 100: value-identical
    // to the full product, but safe where doc_id * 2654435761 would
    // overflow BIGINT (doc_id ≳ 3.5e9 — i.e. at the 100 TB corpus scale,
    // where Spark would wrap silently while DuckDB errors)
    GraftQuery("text_split_assign",
      """WITH a AS (SELECT doc_id, (doc_id % 100 * 61) % 100 AS bucket FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN bucket < 90 THEN 'train'
        |             WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |      FROM a)
        |SELECT split, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("bucket", (col("doc_id") % 100 * 61) % 100)
        .withColumn("split", when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split")
    },

    // deterministic STRATIFIED sampling: a fixed quota per length stratum,
    // ranked by md5(text) — the balanced-subcorpus selection a training
    // pipeline runs before mixing sources. md5 ranking gives a stable,
    // engine-portable pseudo-random order with no RNG; the window is
    // partitioned by stratum, so the rank distributes (no global window).
    GraftQuery("text_sample_stratified",
      """WITH s AS (SELECT doc_id,
        |    CASE WHEN length(text) < 150 THEN 'short'
        |         WHEN length(text) < 300 THEN 'medium' ELSE 'long' END AS stratum,
        |    md5(text) AS h
        |  FROM documents),
        |r AS (SELECT stratum, doc_id, h,
        |    CAST(row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT stratum, rnk, doc_id FROM r WHERE rnk <= 20
        |ORDER BY stratum, rnk""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("stratum").orderBy("h", "doc_id")
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          when(length(col("text")) < 150, "short")
            .when(length(col("text")) < 300, "medium")
            .otherwise("long").as("stratum"),
          md5(col("text").cast("binary")).as("h"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 20)
        .select("stratum", "rnk", "doc_id")
        .orderBy("stratum", "rnk")
    },

    // n-gram language-model counts: top bigrams by corpus frequency (the
    // unigram-by-df companion is text_vocab_topdf). Bigrams come from
    // zipping each token sequence with its tail — pure per-row array ops,
    // one shuffle at the final count
    GraftQuery("text_ngram_top",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
        |  FROM t)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        // guard: slice() throws on negative length for a 0-token document,
        // where the oracle's generate_series(1, -1) yields empty instead
        .select(explode(expr(
          "CASE WHEN size(toks) >= 2 THEN " +
            "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
            "(a, b) -> concat(a, ' ', b)) ELSE CAST(array() AS array<string>) END")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)
    },

    // Collocation detection: the classic PMI inner ratio
    // lift = c_ab·N / (c_a·c_b) (Church & Hanks 1990's association ratio
    // before the log — log is monotone, so ranking by lift IS ranking by
    // PMI) for bigrams with min support 5, as an exact integer ppm.
    // Overflow bounds (the lesson the lift_ppm advice item taught):
    // evaluation order ((c_ab·1e6 DIV c_a)·N DIV c_b) keeps every
    // intermediate ≤ 1e6·N, so int64 is safe to N ≈ 9.2e12 corpus tokens
    // (~40 TB of text); past that, drop the scale to per-mille. Unigram
    // counts broadcast into the bigram aggregate — the corpus shuffles
    // once for bigram counts, once for unigram counts, both hash aggs.
    GraftQuery("text_pmi_bigrams",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        |  FROM documents),
        |tok AS (SELECT unnest(toks) AS w FROM t),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        |b AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |        i -> [toks[i], toks[i + 1]])) AS bg
        |  FROM t),
        |bc AS (SELECT bg[1] AS wa, bg[2] AS wb, CAST(count(*) AS BIGINT) AS cab
        |  FROM b GROUP BY bg[1], bg[2] HAVING count(*) >= 5)
        |SELECT concat(wa, ' ', wb) AS bigram, cab,
        |       ((cab * 1000000 // ua.c) * nt.n // ub.c) AS lift_ppm
        |FROM bc JOIN uni ua ON ua.w = bc.wa
        |        JOIN uni ub ON ub.w = bc.wb, nt
        |ORDER BY lift_ppm DESC, bigram LIMIT 30""".stripMargin) { (spark, sfDir) =>
      val t = Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
      val tok = t.select(explode(col("toks")).as("w"))
      val uni = tok.groupBy("w").agg(count(lit(1)).as("c"))
        // consumed three times (two join sides + the token total below):
        // persist the bounded vocab frame — and derive the corpus token
        // count FROM it (Σc) instead of a second pass over the corpus
        .transform(graft.CacheTracker.persist)
      val nt = uni.agg(sum("c").as("n"))
      val bc = t.select(explode(expr(
          "CASE WHEN size(toks) >= 2 THEN " +
            "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
            "(a, b) -> struct(a AS wa, b AS wb)) ELSE " +
            "CAST(array() AS array<struct<wa: string, wb: string>>) END")).as("bg"))
        .select(col("bg.wa"), col("bg.wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      bc.join(broadcast(uni.withColumnRenamed("w", "wa").withColumnRenamed("c", "ca")), Seq("wa"))
        .join(broadcast(uni.withColumnRenamed("w", "wb").withColumnRenamed("c", "cb")), Seq("wb"))
        .crossJoin(broadcast(nt))
        .select(concat(col("wa"), lit(" "), col("wb")).as("bigram"), col("cab"),
          expr("(cab * 1000000 DIV ca) * n DIV cb").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("bigram"))
        .limit(30)
    },

    // Per-document novelty: the share of a document's DISTINCT token
    // trigrams whose first corpus appearance (min doc_id — ingestion
    // order) is this document. The curation signal for prioritizing
    // fresh content when appending a crawl snapshot: boilerplate-heavy
    // or near-duplicate docs score near 0, genuinely new text near 100.
    // Two hash aggregations (trigram → first doc; doc → counts) and one
    // equi-join on the trigram — linear in corpus size, no pairwise
    // stage, so the shape survives 100 TB where pairwise novelty would
    // not.
    GraftQuery("text_novelty",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        |  FROM documents),
        |tri AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 2),
        |      i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))) AS g
        |  FROM t),
        |fst AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY g)
        |SELECT tri.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tri,
        |       CAST(sum(CASE WHEN fst.first_doc = tri.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN fst.first_doc = tri.doc_id THEN 1 ELSE 0 END) * 100
        |            // count(*) AS BIGINT) AS novelty_pct
        |FROM tri JOIN fst USING (g)
        |GROUP BY tri.doc_id ORDER BY tri.doc_id""".stripMargin) { (spark, sfDir) =>
      val tri = Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(toks) >= 3 THEN " +
            "transform(sequence(0, size(toks) - 3), " +
            "i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])) " +
            "ELSE CAST(array() AS array<string>) END")).as("g"))
        .distinct()
        // consumed twice (first-seen agg + join probe): persist the
        // deduped trigram frame so the tokenize+explode+distinct runs once
        .transform(graft.CacheTracker.persist)
      val first = tri.groupBy("g").agg(min("doc_id").as("first_doc"))
      tri.join(first, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_tri"), col("n_novel"),
          expr("n_novel * 100 DIV n_tri").as("novelty_pct"))
        .orderBy("doc_id")
    },

    // per-document rarity (surprisal proxy): Σ_tokens floor(T / tf(token)),
    // T = corpus token count — an inverse-frequency-weighted unigram score,
    // the monotone integer-exact stand-in for unigram-LM perplexity (a true
    // Σ -ln p would hinge on cross-engine libm ULP agreement under floor();
    // integer division cannot drift). High score = rare-token-heavy
    // document. Corpus term frequencies broadcast into a per-token join,
    // then one exact integer sum per document.
    GraftQuery("text_rarity_score",
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t
        |  FROM documents),
        |tf AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM tf)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(tt // c) AS BIGINT) AS surprisal,
        |       round(CAST(sum(tt // c) AS DOUBLE) / count(*), 2) AS avg2
        |FROM tok JOIN tf USING (t) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      val tok = Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("t"))
      val tf = tok.groupBy("t").agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum("c").as("tt"))
      tok.join(broadcast(tf), Seq("t"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(expr("tt DIV c")).as("surprisal"))
        .select(col("doc_id"), col("n_tokens"), col("surprisal"),
          round(col("surprisal").cast("double") / col("n_tokens"), 2).as("avg2"))
        .orderBy("doc_id")
    },

    // Bigram-LM perplexity filter (the CCNet/KenLM quality gate reduced to
    // an integer-exact serving shape): score every document by its mean
    // conditional surprisal under the corpus's own add-one-smoothed bigram
    // model, p(w2|w1) = (c(w1w2)+1) / (c(w1·)+V). The per-bigram surprisal
    // is floor(log2(1024/p)) computed WITHOUT libm — floor-div the scaled
    // inverse probability, then floor(log2(x)) = length(bin(x)) - 1, exact
    // integer bit arithmetic both engines agree on at every value (a float
    // Σ-ln p would hinge on cross-engine ULP agreement under round()).
    // High mean = improbable token transitions = the gibberish/boilerplate
    // tail a perplexity filter drops. Shape: explode bigrams once, two
    // hash-agg count tables, re-join the stream on (w1,w2) — the history
    // counts and the V scalar broadcast; the bigram-count join is a plain
    // equi-join because the bigram vocabulary is corpus-sized at 100 TB.
    GraftQuery("text_perplexity",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |        unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i])) AS w1,
        |        unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i + 1])) AS w2
        |      FROM t),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
        |cu AS (SELECT w1, count(*) AS cu FROM b GROUP BY 1),
        |v AS (SELECT count(DISTINCT w1) AS v FROM
        |        (SELECT w1 FROM b UNION ALL SELECT w2 FROM b) u(w1)),
        |s AS (SELECT b.doc_id,
        |        length(bin(((cu.cu + (SELECT v FROM v)) * 1024) // (cb.cb + 1))) - 1 AS bits10
        |      FROM b JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
        |             JOIN cu ON cu.w1 = b.w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(bits10) AS BIGINT) AS sum_bits10,
        |  CAST((sum(bits10) * 100) // count(*) AS BIGINT) AS mean_cbits
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      bench = true) { (spark, sfDir) =>
      // ONE tokenize+explode pass, persisted: the bigram stream is consumed
      // twice (the count-table agg and the scoring join) — unpersisted it
      // re-ran the regex tokenization FOUR times per query (cb, cu, v and
      // the join each recomputed the explode; r12 plan audit showed 3
      // Generate nodes for one logical pass). cu and v now derive from the
      // (bigram-vocabulary-sized) cb table instead of the occurrence
      // stream: cu(w1) = Σ_w2 cb exactly, and the distinct-token count v
      // sees every token that occurs in any bigram via cb's key set.
      val bi = Tables.documents(spark, sfDir)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
            "(a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .transform(graft.CacheTracker.persist)
      val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
      val v = cb.select(col("w1")).unionByName(cb.select(col("w2").as("w1")))
        .agg(countDistinct("w1").as("v"))
      bi.join(cb, Seq("w1", "w2"))
        .join(broadcast(cu), Seq("w1"))
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          (length(bin(expr("((cu + v) * 1024) DIV (cb + 1)"))) - 1)
            .cast("long").as("bits10"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("bits10").as("sum_bits10"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_bits10"),
          expr("(sum_bits10 * 100) DIV n_bigrams").as("mean_cbits"))
        .orderBy("doc_id")
    },

    // vocabulary building: top tokens by document frequency
    GraftQuery("text_vocab_topdf",
      """WITH t AS (SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        |    FROM documents)),
        |df AS (SELECT tok, count(*) AS docfreq FROM t GROUP BY tok)
        |SELECT tok, docfreq FROM df
        |ORDER BY docfreq DESC, tok LIMIT 50""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
        .distinct()
        .groupBy("tok").agg(count(lit(1)).as("docfreq"))
        .orderBy(col("docfreq").desc, col("tok"))
        .limit(50)
    },

    // TF-IDF: top term per (sampled) document — tf · ln(N/df), ties broken
    // lexicographically; single ln/mult per pair keeps doubles bit-portable
    GraftQuery("text_tfidf_top",
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok,
        |        round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
        |      FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN n),
        |r AS (SELECT doc_id, tok, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
        |      FROM s WHERE doc_id % 5 = 0)
        |SELECT doc_id, tok, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      ) { (spark, sfDir) =>
      val tok = Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tok.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
      val n = Tables.documents(spark, sfDir).count()
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      tf.join(dfreq, Seq("tok"))
        .select(col("doc_id"), col("tok"),
          round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("score"))
        .filter(col("doc_id") % 5 === 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "tok", "score")
        .orderBy("doc_id")
    },

    // incremental ingestion dedup: drop new-batch docs whose exact hash OR
    // near-dup shingle profile already exists in the corpus (anti-join +
    // cross-batch Jaccard — the shape of continuous corpus ingestion)
    GraftQuery("dedup_incremental",
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
        |batch AS (SELECT * FROM documents WHERE doc_id >= 400),
        |exact_new AS (
        |  SELECT b.doc_id FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = md5(b.text))),
        |bsh AS (SELECT DISTINCT doc_id, ${h8Sql("substr(text, i, 8)")} AS sh FROM (
        |          SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i
        |          FROM batch)),
        |csh AS (SELECT DISTINCT doc_id, ${h8Sql("substr(text, i, 8)")} AS sh FROM (
        |          SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i
        |          FROM corpus)),
        |bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
        |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
        |inter AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS i
        |          FROM bsh b JOIN csh c ON b.sh = c.sh GROUP BY b.doc_id, c.doc_id),
        |neardup AS (SELECT DISTINCT inter.bid FROM inter
        |            JOIN bsz ON bsz.doc_id = inter.bid
        |            JOIN csz ON csz.doc_id = inter.cid
        |            WHERE CAST(inter.i AS DOUBLE) / (bsz.n + csz.n - inter.i) >= 0.8)
        |SELECT e.doc_id, (nd.bid IS NOT NULL) AS near_dup
        |FROM exact_new e LEFT JOIN neardup nd ON nd.bid = e.doc_id
        |ORDER BY e.doc_id""".stripMargin) { (spark, sfDir) =>
      val d = Tables.documents(spark, sfDir)
      val corpus = d.filter(col("doc_id") < 400)
      val batch = d.filter(col("doc_id") >= 400)
      val exactNew = batch.join(corpus.select(md5(col("text").cast("binary")).as("h")).distinct(),
        md5(col("text").cast("binary")) === col("h"), "left_anti")
      def sh(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        explode(graft.functions.ShingleHashes.shingleHashes(col("text"), 8)).as("hsh"))
        .distinct()
      val bsh = sh(batch)
      val csh = sh(corpus).withColumnRenamed("doc_id", "cid")
      val bsz = bsh.groupBy("doc_id").agg(count(lit(1)).as("bn"))
      val csz = csh.groupBy("cid").agg(count(lit(1)).as("cn"))
      val nearDup = bsh.join(csh, Seq("hsh"))
        .groupBy("doc_id", "cid").agg(count(lit(1)).as("i"))
        .join(broadcast(bsz), Seq("doc_id"))
        .join(broadcast(csz), Seq("cid"))
        .filter(col("i").cast("double") / (col("bn") + col("cn") - col("i")) >= 0.8)
        .select(col("doc_id")).distinct()
        .withColumn("nd", lit(true))
      exactNew.select("doc_id")
        .join(nearDup, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nd"), lit(false)).as("near_dup"))
        .orderBy("doc_id")
    },

    // document fingerprinting: rolling 8-gram polynomial hashes
    GraftQuery("text_fingerprint",
      s"""WITH sh AS (SELECT doc_id, ${h8Sql("substr(text, i, 8)")} AS h FROM (
         |    SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i
         |    FROM documents))
         |SELECT doc_id, min(h) AS min_fp, max(h) AS max_fp,
         |       count(DISTINCT h) AS n_shingles
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          explode(graft.functions.ShingleHashes.shingleHashes(col("text"), 8)).as("h"))
        .groupBy("doc_id")
        .agg(min("h").as("min_fp"), max("h").as("max_fp"),
          countDistinct("h").as("n_shingles"))
        .orderBy("doc_id")
    },

    // Corpus concentration audit: how much of the corpus mass sits in the
    // largest documents — the Lorenz-curve deciles (and one driver-side
    // subtraction from a Gini) a data-mixing pipeline reads before
    // deciding length caps / sampling temperature. Docs rank by size
    // descending through the DISTRIBUTED prefix count (Prefix.scan, no
    // global window), the decile is the exact arithmetic NTILE (the orders_rfm
    // kernel with 10 tiles), and shares/cumulative shares are integer ppm
    // over the bounded 10-row frame. Decile 1 = the biggest docs; its
    // share_ppm IS the "top-10% concentration" headline number.
    GraftQuery("corpus_concentration",
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(n_chars) AS BIGINT) AS total FROM documents),
        |r AS (SELECT n_chars,
        |        row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM documents),
        |d AS (SELECT CASE WHEN rn <= (nn.n % 10) * (nn.n // 10 + 1)
        |               THEN (rn + nn.n // 10) // (nn.n // 10 + 1)
        |               ELSE (nn.n % 10) + (rn - (nn.n % 10) * (nn.n // 10 + 1)
        |                    + nn.n // 10 - 1) // (nn.n // 10) END AS decile,
        |             n_chars, nn.total
        |      FROM r, nn),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_chars) AS BIGINT) AS chars,
        |        CAST(sum(n_chars) * 1000000 // max(total) AS BIGINT) AS share_ppm
        |      FROM d GROUP BY decile)
        |SELECT CAST(decile AS BIGINT) AS decile, n_docs, chars, share_ppm,
        |  CAST(sum(chars) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 1000000 // (SELECT total FROM nn) AS BIGINT) AS cum_share_ppm
        |FROM g ORDER BY decile""".stripMargin) { (spark, sfDir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
        .transform(graft.CacheTracker.persist)
      val (n, total) = {
        val r = base.agg(count(lit(1)), sum("n_chars")).head()
        (r.getLong(0), r.getLong(1))
      }
      require(n >= 10, s"concentration deciles need >= 10 docs, got $n")
      val q = n / 10; val rr = n % 10
      val ranked = Prefix.scan(base, "rn",
        Seq(col("n_chars").desc, col("doc_id").asc), lit(1L), Prefix.Sum)
      val g = ranked.select(col("n_chars"),
          expr(s"CASE WHEN rn <= ${rr * (q + 1)} THEN (rn + $q) DIV ${q + 1} " +
            s"ELSE $rr + (rn - ${rr * (q + 1)} + ${q - 1}) DIV $q END").as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          expr(s"sum(n_chars) * 1000000 DIV $total").as("share_ppm"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum_chars", sum("chars").over(w))
        .withColumn("cum_share_ppm", expr(s"cum_chars * 1000000 DIV $total"))
        .select(col("decile").cast("long").as("decile"), col("n_docs"),
          col("chars"), col("share_ppm"), col("cum_share_ppm"))
        .orderBy("decile")
    },

    // Vocabulary coverage curve: what share of all token OCCURRENCES the
    // top-k most frequent types cover, at k = 1/16, 1/8, 1/4, 1/2 of the
    // type count (ceil, data-adaptive so the curve has shape at any sf) — the
    // number a tokenizer budget decision reads (where the curve flattens
    // is where growing the vocab stops paying) and the OOV-rate estimate
    // for any fixed vocab size. Types rank by (count desc, token) through
    // the distributed prefix count (Prefix.scan); each k's mass is one filtered
    // aggregation over the ranked vocab (bounded ≪ corpus — the type
    // table, not the token stream).
    GraftQuery("text_vocab_coverage",
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        |             FROM documents),
        |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |              CAST(count(*) AS BIGINT) AS n_types FROM tf),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn FROM tf),
        |ks AS (SELECT DISTINCT unnest([(n_types + 15) // 16, (n_types + 7) // 8,
        |                      (n_types + 3) // 4, (n_types + 1) // 2]) AS k FROM tt)
        |SELECT CAST(ks.k AS BIGINT) AS k, tt.n_types,
        |       CAST(sum(CASE WHEN r.rn <= ks.k THEN r.cnt ELSE 0 END) AS BIGINT) AS covered,
        |       CAST(sum(CASE WHEN r.rn <= ks.k THEN r.cnt ELSE 0 END)
        |            * 1000000 // max(tt.total) AS BIGINT) AS coverage_ppm
        |FROM r CROSS JOIN ks CROSS JOIN tt
        |GROUP BY ks.k, tt.n_types ORDER BY k""".stripMargin) { (spark, sfDir) =>
      val tf = Tables.documents(spark, sfDir)
        .select(explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheTracker.persist)
      val (total, nTypes) = {
        val r = tf.agg(sum("cnt"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      val ranked = Prefix.scan(tf, "rn",
        Seq(col("cnt").desc, col("tok").asc), lit(1L), Prefix.Sum)
      // data-adaptive vocab budgets: 1/16, 1/8, 1/4, 1/2 of the type count
      // (ceil), so the curve has shape at any corpus scale
      val ks = Seq(16L, 8L, 4L, 2L).map(d => (nTypes + d - 1) / d).distinct
      ranked.join(broadcast(spark.createDataFrame(ks.map(Tuple1(_))).toDF("k")))
        .groupBy("k")
        .agg(sum(when(col("rn") <= col("k"), col("cnt")).otherwise(0L)).as("covered"))
        .select(col("k"), lit(nTypes).as("n_types"), col("covered"),
          expr(s"covered * 1000000 DIV $total").as("coverage_ppm"))
        .orderBy("k")
    },

    // Zipf-law fit of the vocabulary: OLS slope of milli-log2(freq) on
    // milli-log2(rank) — the one-number distributional sanity check a
    // corpus audit runs (natural language sits near −1000; a flat slope
    // means templated/synthetic text, a cliff means boilerplate). Each
    // row's x/y are round(1000·log2(·)) of EXACT integers — deterministic
    // per row — and the regression runs on integer sums (the
    // stats_trend_ols discipline), so no float accumulation order can
    // flip a bit. Rank via the distributed Prefix.scan; the OLS frame
    // never exceeds the type vocabulary. Overflow bound: the n·Σxy moment
    // term reaches n²·(1000·log2 n)² — int64-safe to ~3e6 types (real
    // vocabularies); past that, pre-bucket ranks before the fit. The
    // slope numerator is negative, and BOTH engines' integer division
    // truncates toward zero (the probed stats_trend_ols property).
    GraftQuery("text_zipf_slope",
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        |             FROM documents),
        |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn FROM tf),
        |xy AS (SELECT CAST(round(1000 * log2(CAST(rn AS DOUBLE))) AS BIGINT) AS x,
        |              CAST(round(1000 * log2(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
        |       FROM r),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(x * y) AS BIGINT) AS sxy FROM xy)
        |SELECT n AS n_types, sx, sy, sxx, sxy,
        |  CAST((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx) AS BIGINT)
        |    AS slope_milli
        |FROM m""".stripMargin) { (spark, sfDir) =>
      val tf = Tables.documents(spark, sfDir)
        .select(explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val xy = Prefix.scan(tf, "rn",
          Seq(col("cnt").desc, col("tok").asc), lit(1L), Prefix.Sum)
        .select(round(lit(1000) * log2(col("rn").cast("double"))).cast("long").as("x"),
          round(lit(1000) * log2(col("cnt").cast("double"))).cast("long").as("y"))
      xy.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .selectExpr("n AS n_types", "sx", "sy", "sxx", "sxy",
          "(n * sxy - sx * sy) * 1000 DIV (n * sxx - sx * sx) AS slope_milli")
    },

    // Sparse TF-IDF cosine similarity join — the WEIGHTED sparse-vector
    // twin of the shingle-Jaccard dedup family (documents as tf·idf
    // vectors over the token vocabulary, not shingle sets): pairs share
    // mass only through common tokens, so the join is the inverted-index
    // equi-join on token with a df cap, never all-pairs. At production
    // scale the cap must be ABSOLUTE (df ≤ K bounds Σdf² ≤ K·Σdf — the
    // dedup MaxDf discipline); here it is the relative df·2 ≤ N because
    // this synthetic corpus has a ~31-type vocabulary where every token's
    // df ≫ any absolute K (an absolute cap would empty the vectors) — the
    // join SHAPE is identical, only the constant differs, and the oracle
    // pins whichever constant is configured. Weights are integer milli-idf
    // w = tf · round(1000·log2(N/df)) (deterministic per row), dots and
    // norms are exact integer sums, and the final cosine is one double
    // division rounded to 6dp on identical exact inputs. Top-20 pairs by
    // similarity — the related-documents / near-topic-dup readout.
    GraftQuery("text_tfidf_pairs",
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
         |             FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY doc_id, tok),
         |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |w AS (SELECT tf.doc_id, tf.tok,
         |        tf.tf * CAST(round(1000 * log2(CAST(nn.n AS DOUBLE) / dfq.df)) AS BIGINT)
         |          AS wt
         |      FROM tf JOIN dfq USING (tok) CROSS JOIN nn
         |      WHERE dfq.df * 2 <= nn.n),
         |nrm AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2
         |        FROM w GROUP BY doc_id),
         |dots AS (SELECT a.doc_id AS a, b.doc_id AS b,
         |           CAST(sum(a.wt * b.wt) AS BIGINT) AS dp
         |         FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |         GROUP BY a.doc_id, b.doc_id)
         |SELECT d.a, d.b,
         |       round(d.dp / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         |         AS sim6
         |FROM dots d JOIN nrm na ON na.doc_id = d.a JOIN nrm nb ON nb.doc_id = d.b
         |ORDER BY sim6 DESC, a, b LIMIT 20""".stripMargin) { (spark, sfDir) =>
      val tf = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .transform(graft.CacheTracker.persist)
      val n = tf.select("doc_id").distinct().count()
      // df cap: tokens in more than half the corpus carry ~no idf signal
      // and quadratically dominate the join — same role as dedup's MaxDf
      val w = tf.join(tf.groupBy("tok").agg(count(lit(1)).as("df")), "tok")
        .filter(col("df") * 2 <= n)
        .select(col("doc_id"), col("tok"),
          (col("tf") * round(lit(1000) * log2(lit(n.toDouble) / col("df"))).cast("long"))
            .as("wt"))
        .transform(graft.CacheTracker.persist)
      val nrm = w.groupBy("doc_id").agg(sum(col("wt") * col("wt")).as("n2"))
      val dots = w.as("a").join(w.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
        .agg(sum(col("a.wt") * col("b.wt")).as("dp"))
      dots.join(nrm.select(col("doc_id").as("a"), col("n2").as("na")), Seq("a"))
        .join(nrm.select(col("doc_id").as("b"), col("n2").as("nb")), Seq("b"))
        .select(col("a"), col("b"),
          round(col("dp").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
            .as("sim6"))
        .orderBy(col("sim6").desc, col("a"), col("b")).limit(20)
    }
  )
}
