package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** Lexical retrieval tier (north-star: corpus search / RAG candidate
  * generation over the documents table; no counterpart in the reference).
  *
  * BM25 (Robertson–Spärck Jones, the Okapi formulation) over the same
  * tokenizer convention as the TF-IDF query (`[a-z0-9]+`). Scoring is made
  * hash-deterministic the same way the sketch/rank operators are: every
  * per-term contribution is floored to integer micro-units BEFORE the
  * per-document sum, so the aggregation is associative integer addition
  * and immune to float summation order — the one place a naive BM25 would
  * diverge between engines.
  *
  * Scale shape: one token explode + two hash aggs (tf, df) + a broadcast
  * of the query-term frame (|Q| rows) + a TakeOrdered top-k. The corpus
  * frame is touched twice (tf and dl) on one scan each; nothing quadratic,
  * no windows over the full corpus.
  */
object RetrievalOps {

  private val K1x10 = 12 // k1 = 1.2
  private val Bx100 = 75 // b = 0.75
  private val QueryTerms = 5
  private val TopK = 20
  private val IndexTerms = 50
  private val PostingsPerTerm = 5
  private val AndTerms = 4

  val queries: Seq[GraftQuery] = Seq(

    // "query" = the QueryTerms highest-df tokens (deterministic, corpus-
    // derived: the driver has no external query log); score every document
    // against it, return the TopK by (score, doc_id). idf uses the
    // +1-smoothed RSJ form, positive for any df.
    GraftQuery("text_bm25",
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
         |             FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY doc_id, tok),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
         |df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM tok GROUP BY tok),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             (SELECT CAST(count(*) AS BIGINT) FROM tok) AS toks
         |      FROM documents),
         |q AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT $QueryTerms),
         |contrib AS (
         |  SELECT tf.doc_id,
         |    CAST(floor(1000000.0
         |      * ln((n.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
         |      * (tf.tf * (1.0 + ${K1x10 / 10.0}))
         |      / (tf.tf + ${K1x10 / 10.0} * (1.0 - ${Bx100 / 100.0}
         |           + ${Bx100 / 100.0} * dl.dl * n.n / n.toks))) AS BIGINT) AS c
         |  FROM tf JOIN q ON q.tok = tf.tok
         |       JOIN dl ON dl.doc_id = tf.doc_id
         |       CROSS JOIN n)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micro
         |FROM contrib GROUP BY doc_id
         |ORDER BY score_micro DESC, doc_id LIMIT $TopK""".stripMargin) { (spark, sfDir) =>
      val docs = Tables.documents(spark, sfDir)
      val tok = docs.select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
      // ONE tokenize+explode pass: tf is the only aggregation that sees the
      // raw token stream; dl (Σtf per doc), df (tf rows per term) and the
      // token total all derive from the much smaller tf frame — without
      // this, the explode runs once per derived statistic and dominates
      // the decade ratio
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .transform(graft.CacheTracker.persist)
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      // two bounded driver scalars (corpus size, token total) — the same
      // pattern as the TF-IDF query's n
      val n = docs.count()
      val toks = tf.agg(sum("tf")).first().getLong(0)
      val q = dfreq.orderBy(col("df").desc, col("tok")).limit(QueryTerms)
      val k1 = K1x10 / 10.0
      val b = Bx100 / 100.0
      tf.join(broadcast(q), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .select(col("doc_id"),
          floor(lit(1000000.0)
            * log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * (col("tf") * (1.0 + k1))
            / (col("tf") + lit(k1) * (lit(1.0 - b)
                + lit(b) * col("dl") * n.toDouble / toks.toDouble)))
            .cast("long").as("c"))
        .groupBy("doc_id").agg(sum("c").as("score_micro"))
        .orderBy(col("score_micro").desc, col("doc_id")).limit(TopK)
    },

    // Conjunctive (AND) boolean retrieval — the index EXECUTION shape the
    // build below feeds: the query is the AndTerms most SELECTIVE tokens
    // (lowest df, the order a planner intersects posting lists in), the
    // intersection is one broadcast join of the |Q|-row query frame into
    // the tf postings + HAVING count(*) = |Q| (tf is unique per
    // (doc, term), so the count IS the matched-term count), and the
    // matches rank by summed tf through a TakeOrdered heap. At 100 TB the
    // work is |postings of the rarest terms| — never a corpus scan per
    // term, never pairwise.
    GraftQuery("text_search_and",
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
         |             FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |q AS (SELECT tok FROM dfq ORDER BY df ASC, tok LIMIT $AndTerms),
         |hit AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS sum_tf
         |        FROM tf JOIN q USING (tok)
         |        GROUP BY tf.doc_id HAVING count(*) = $AndTerms)
         |SELECT doc_id, sum_tf FROM hit
         |ORDER BY sum_tf DESC, doc_id LIMIT $TopK""".stripMargin) { (spark, sfDir) =>
      val tok = Tables.documents(spark, sfDir).select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .transform(graft.CacheTracker.persist)
      val q = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").asc, col("tok")).limit(AndTerms).select("tok")
      tf.join(broadcast(q), Seq("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("tf").as("sum_tf"))
        .filter(col("n_terms") === AndTerms)
        .select("doc_id", "sum_tf")
        .orderBy(col("sum_tf").desc, col("doc_id")).limit(TopK)
    },

    // inverted-index build for the IndexTerms highest-df tokens: per term,
    // document frequency + the PostingsPerTerm strongest postings
    // ("doc:tf", tf-descending) serialized as one string — the index-shard
    // artifact a retrieval service materializes. The per-term strongest-
    // postings stage is the declarative row_number()<=k idiom, so with
    // GraftExtensions installed it runs on the bounded-heap TopKPerKeyExec
    // (sort-free map side) — this query is the operator's in-pipeline
    // consumer, not just a demo. Postings order inside the string is total
    // (tf desc, doc_id), so the aggregation is deterministic.
    GraftQuery("text_inverted_index",
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
         |             FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |sel AS (SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT $IndexTerms),
         |top AS (SELECT tf.tok, sel.df, tf.doc_id, tf.tf,
         |          row_number() OVER (PARTITION BY tf.tok
         |            ORDER BY tf.tf DESC, tf.doc_id) AS rn
         |        FROM tf JOIN sel ON sel.tok = tf.tok)
         |SELECT tok, df,
         |  string_agg(doc_id || ':' || tf, ',' ORDER BY rn) AS postings
         |FROM top WHERE rn <= $PostingsPerTerm
         |GROUP BY tok, df ORDER BY tok""".stripMargin) { (spark, sfDir) =>
      val tok = Tables.documents(spark, sfDir).select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
      // tf backs both the term selection and the postings scan — persist so
      // the tokenize+explode pass runs once
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .transform(graft.CacheTracker.persist)
      val sel = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(IndexTerms)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("tok").orderBy(col("tf").desc, col("doc_id"))
      tf.join(broadcast(sel), Seq("tok"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= PostingsPerTerm)
        .withColumn("s", concat_ws(":", col("doc_id"), col("tf")))
        .groupBy("tok", "df")
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(rn, s))), x -> x.s), ',')").as("postings"))
        .orderBy("tok")
    },

    // Phrase query over a POSITIONAL index — the retrieval operator
    // conjunctive search can't express: "t1 t2" matches only where the
    // terms are ADJACENT, i.e. postings(t1) ⋈ postings(t2) on
    // (doc, pos+1 = pos). The phrase is data-derived (the corpus's most
    // frequent bigram, ties lexicographic) so the query is deterministic
    // at any sf. The engine realizes the positional merge as a window
    // lead() per document (positions are dense, so lead ≡ the pos+1 join,
    // with ONE exchange keyed by doc instead of a posting self-join); at
    // index-serving scale the same plan runs over the two terms' postings
    // only — the bigram frame here doubles as the phrase-frequency table
    // the query planner's selectivity estimate would read.
    GraftQuery("text_search_phrase",
      s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
         |           FROM documents),
         |tok AS (SELECT doc_id, list_extract(toks, i) AS tok, i FROM (
         |          SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
         |          FROM d)),
         |bg AS (SELECT a.doc_id, a.tok AS t1, b.tok AS t2
         |       FROM tok a JOIN tok b
         |         ON b.doc_id = a.doc_id AND b.i = a.i + 1),
         |q AS (SELECT t1, t2 FROM (
         |        SELECT t1, t2, count(*) AS c FROM bg GROUP BY t1, t2)
         |      ORDER BY c DESC, t1, t2 LIMIT 1)
         |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM bg JOIN q ON q.t1 = bg.t1 AND q.t2 = bg.t2
         |GROUP BY bg.doc_id
         |ORDER BY n_hits DESC, doc_id LIMIT $TopK""".stripMargin) { (spark, sfDir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("i")
      val bg = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          posexplode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
            .as(Seq("i", "t1")))
        .withColumn("t2", lead("t1", 1).over(w))
        .filter(col("t2").isNotNull)
        .select("doc_id", "t1", "t2")
        .transform(graft.CacheTracker.persist)
      val q = bg.groupBy("t1", "t2").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t1"), col("t2")).limit(1)
        .select("t1", "t2")
      bg.join(broadcast(q), Seq("t1", "t2"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy(col("n_hits").desc, col("doc_id")).limit(TopK)
    })
}
