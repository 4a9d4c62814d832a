package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables._

/** Corpus-cleaning operators a training-data pipeline runs before any
  * model sees the text: PII detection/redaction and C4/CCNet-style
  * boilerplate line removal.
  *
  * The synthetic documents table is digit-free word salad, so (like the
  * media tier's MediaSynth) the registered queries first ENRICH the text
  * with deterministic, doc_id-derived PII tokens / boilerplate lines and
  * then run the REAL operators over the result — the operators themselves
  * are pure and data-independent, and the oracle replays the same
  * enrichment closed-form, so every regex and every reassembly step is
  * hash-checked.
  *
  * Scale notes (100 TB):
  *  - PII scan/redact are per-row regex projections — no shuffle, no
  *    state, codegen'd `regexp_count`/`regexp_replace`; linear scan.
  *  - Boilerplate removal shuffles once (line-frequency hash agg keyed on
  *    md5(line) — 16 bytes per distinct line, not the line text), then
  *    BROADCASTS the frequent set: boilerplate is by definition the small
  *    tail of distinct lines (df > threshold), so the corpus-side join is
  *    a broadcast probe and document text never shuffles at all. The
  *    per-doc reassembly rides the natural doc_id aggregation.
  */
object CleanOps {

  /** regexes valid in BOTH Java regex (Spark) and RE2 (DuckDB): character
    * classes, bounded repeats, and \b only — no lookaround, no backrefs */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** per-category match counts for one text column */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (cat, re, _) =>
      cat -> regexp_count(text, lit(re)).cast("long")
    }

  /** redact all categories, applied in PiiPatterns order (order matters
    * for overlapping matches and is part of the operator contract) */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, re, repl)) =>
      regexp_replace(c, lit(re), lit(repl))
    }

  /** Remove lines that occur in more than `maxDf` distinct documents.
    * Returns (doc_id, n_lines, n_kept, clean_md5) with the cleaned text
    * reassembled in original line order. Frequency is computed on
    * md5(line) so the shuffle moves 16-byte keys, and the frequent set
    * broadcasts (boilerplate = few distinct, very common lines). */
  def stripBoilerplateLines(docs: DataFrame, textCol: String, maxDf: Int): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
    val frequent = lines.groupBy("lh")
      .agg(countDistinct(col("doc_id")).as("docf"))
      .filter(col("docf") > maxDf)
      .select(col("lh").as("bad_lh"))
    lines
      .join(broadcast(frequent), col("lh") === col("bad_lh"), "left")
      .withColumn("kept", col("bad_lh").isNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(coalesce(
          array_join(transform(
            array_sort(collect_list(when(col("kept"), struct(col("pos"), col("line"))))),
            x => x.getField("line")), "\n"),
          lit(""))).as("clean_md5"))
  }

  /** the frequent-line md5 set (docf > maxDf) computed from the BATCH
    * corpus — the static side of the stream-static boilerplate gate.
    * Memoized per (session, sfDir): bounded by construction (boilerplate
    * is the small tail of very common distinct lines). */
  private val frequentCache =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.sql.SparkSession, String), Array[String]]

  private def frequentLineHashes(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, maxDf: Int): Array[String] =
    frequentCache.getOrElseUpdate((spark, sfDir), {
      val docs = withBoiler(graft.Tables.documents(spark, sfDir))
      docs.select(col("doc_id"), explode(split(col("t"), "\n")).as("line"))
        .groupBy(md5(col("line")).as("lh"))
        .agg(countDistinct(col("doc_id")).as("docf"))
        .filter(col("docf") > maxDf)
        .collect().map(_.getString(0))
    })

  // deterministic doc_id-derived enrichment shared by the PII queries;
  // the oracle replays it with the same closed-form expressions
  private def withPii(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, concat(
      col("text"),
      when(id % 3 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com now")))
        .otherwise(""),
      when(id % 5 === 0,
        concat(lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((id % 10000).cast("string"), 4, "0"), lit(" today")))
        .otherwise(""),
      when(id % 7 === 0,
        concat(lit(" host 10.0."), (id % 256).cast("string"),
          lit("."), ((id * 7) % 256).cast("string"), lit(" up")))
        .otherwise(""),
      when(id % 11 === 0, lit(" id 123-45-6789 on file")).otherwise(""))
      .as("t"))
  }

  /** boilerplate-demo enrichment: known common lines + one unique line,
    * appended deterministically; shared by the batch and streaming twins */
  private def withBoiler(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, concat(
      col("text"),
      when(id % 2 === 0, lit("\nsubscribe to our newsletter")).otherwise(""),
      when(id % 3 === 0, lit("\nall rights reserved")).otherwise(""),
      when(id % 10 === 0, lit("\nclick here to continue")).otherwise(""),
      lit("\nref "), id.cast("string")).as("t"))
  }

  private val PiiEnrichSql =
    """SELECT doc_id, text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || ' up' ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN ' id 123-45-6789 on file' ELSE '' END AS t
      |  FROM documents""".stripMargin

  /** the redact projection shared by the batch query and its streaming
    * twin: stateless, per-row, append-safe */
  private def piiRedactFrame(enriched: DataFrame): DataFrame =
    enriched.withColumn("clean", piiRedact(col("t")))
      .filter(col("clean") =!= col("t"))
      .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
        (length(col("t")) - length(col("clean"))).cast("long").as("delta_len"))

  /** one oracle for both the batch and streaming redact queries —
    * streaming/batch parity is a CORRECTNESS row, not just a spec */
  private val PiiRedactOracle: String =
    s"WITH e AS ($PiiEnrichSql),\n" +
      """r AS (SELECT doc_id, t,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
      |  FROM e)
      |SELECT doc_id, md5(clean) AS clean_md5,
      |  CAST(length(t) - length(clean) AS BIGINT) AS delta_len
      |FROM r WHERE clean <> t ORDER BY doc_id""".stripMargin

  /** one oracle for both boilerplate twins (maxDf = 100) */
  private val BoilerOracle: String =
    """WITH e AS (SELECT doc_id,
      |    text
      |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END
      |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END
      |    || CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'click here to continue' ELSE '' END
      |    || chr(10) || 'ref ' || doc_id AS t
      |  FROM documents),
      |ls AS (SELECT doc_id, string_split(t, chr(10)) AS lst FROM e),
      |lx AS (SELECT doc_id, pos, lst[pos] AS line
      |       FROM (SELECT doc_id, lst, unnest(generate_series(1, len(lst))) AS pos FROM ls)),
      |df AS (SELECT line, count(DISTINCT doc_id) AS docf FROM lx GROUP BY line)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CASE WHEN docf <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE docf <= 100), '')) AS clean_md5
      |FROM lx JOIN df USING (line)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    // per-document PII inventory across all four categories
    GraftQuery("text_pii_scan",
      // built by concatenation: an outer stripMargin would eat the `||`
      // concat operators at the start of the embedded SQL's lines
      s"WITH e AS ($PiiEnrichSql)\n" +
        """SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4
        |FROM e ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      val e = withPii(documents(spark, sfDir))
      val counts = piiCounts(col("t")).map { case (cat, c) => c.as(s"n_$cat") }
      e.select(col("doc_id") +: counts: _*).orderBy("doc_id")
    },

    // in-place redaction; affected docs only, redacted text content-hashed
    GraftQuery("text_pii_redact", PiiRedactOracle) { (spark, sfDir) =>
      piiRedactFrame(withPii(documents(spark, sfDir))).orderBy("doc_id")
    },

    // streaming twin: the SAME stateless redact projection over the
    // documents file stream (append mode, no watermark, zero state — a
    // per-row regex pass is the ideal streaming stage), drained via
    // AvailableNow and hash-compared against the identical batch oracle.
    GraftQuery("stream_pii_redact", PiiRedactOracle) { (spark, sfDir) =>
      val out = piiRedactFrame(withPii(
        graft.streaming.StreamOps.docStream(spark, sfDir)))
      graft.streaming.StreamOps.runAppendToCompletion(out,
        "stream_pii_redact")
        .orderBy("doc_id")
    },

    // corpus-frequency boilerplate stripping: lines in >100 docs are
    // removed; reassembled text is content-hashed per doc
    GraftQuery("text_strip_boilerplate", BoilerOracle) { (spark, sfDir) =>
      stripBoilerplateLines(withBoiler(documents(spark, sfDir)), "t", maxDf = 100)
        .orderBy("doc_id")
    },

    // streaming twin — the stream-STATIC split of the same operator: the
    // frequent-line set is a batch-computed corpus statistic (bounded,
    // memoized, collected once), and the stream applies it as a PER-ROW
    // higher-order filter over the row's own line array — no explode, no
    // shuffle, no state; per-doc reassembly never leaves the row. The
    // identical batch oracle hash-checks the parity.
    GraftQuery("stream_strip_boilerplate", BoilerOracle) { (spark, sfDir) =>
      val bad = frequentLineHashes(spark, sfDir, maxDf = 100)
      val lines = split(col("t"), "\n")
      val keptArr =
        if (bad.isEmpty) lines
        else filter(lines, l => !md5(l).isin(bad.toSeq: _*))
      val out = withBoiler(graft.streaming.StreamOps.docStream(spark, sfDir))
        .select(col("doc_id"),
          size(lines).cast("long").as("n_lines"),
          size(keptArr).cast("long").as("n_kept"),
          md5(array_join(keptArr, "\n")).as("clean_md5"))
      graft.streaming.StreamOps.runAppendToCompletion(out,
        "stream_strip_boilerplate")
        .orderBy("doc_id")
    }
  )
}
