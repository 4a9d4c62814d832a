package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** Top-k-per-key through the engine's one custom physical operator
  * (graft.plans: RewriteRankLimit → TopKPerKey → TopKPerKeyExec). Both
  * queries are written as the DECLARATIVE window idiom — `row_number()
  * .over(...) <= k` — and stay correct on a vanilla session; with
  * GraftExtensions installed the optimizer swaps the map-side full sort
  * (Spark's sort-based WindowGroupLimit path) for a streaming bounded-heap
  * pass, so the shuffle carries ≤ k rows per (key, map partition) and no
  * partition is ever fully sorted. The oracle replays the literal window
  * form in DuckDB — hash equality is the rewrite's equivalence proof.
  * Orderings are total (unique-key tiebreakers), so the k-minimal set is
  * unique and the comparison deterministic.
  */
object TopKOps {

  val queries: Seq[GraftQuery] = Seq(

    // low key cardinality (5 priorities), big input: the worst case for
    // the sort path (each map partition sorts ~n/p rows to keep 5)
    GraftQuery("topk_heap",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 5
        |ORDER BY o_orderpriority, rn""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(spark, sfDir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy(col("o_orderpriority"), col("rn"))
    },

    // high key cardinality (one key per supplier): output and heap-key
    // count scale with suppliers, rows-per-key with SF — the regime where
    // per-key state must stay k-bounded
    GraftQuery("topk_heap_wide",
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_suppkey, rn""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("l_suppkey"), col("rn"))
    },

    // STREAMING top-k-per-key, registered and oracled: the O(k)-state
    // flatMapGroupsWithState twin of the batch heap operator — per user,
    // top-3 event values under the (value desc, event_id) total order,
    // drained AvailableNow and hash-compared against the batch window
    // replay. Cross-microbatch incremental parity is the StreamingSpec
    // foreachBatch assertion; this entry pins the single-drain result.
    GraftQuery("stream_topk",
      """WITH r AS (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY value DESC, event_id) AS rnk
        |      FROM events WHERE value IS NOT NULL)
        |SELECT user_id, rnk, event_id, value FROM r WHERE rnk <= 3
        |ORDER BY user_id, rnk""".stripMargin) { (spark, sfDir) =>
      val top = graft.streaming.StreamOps.topKPerKey(spark,
        graft.streaming.StreamOps.eventStream(spark, sfDir), 3)
      graft.streaming.StreamOps
        .runAppendToCompletion(top, "stream_topk")
        .orderBy("user_id", "rnk")
    })
}
