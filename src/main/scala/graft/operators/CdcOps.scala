package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** Change-data-capture / slowly-changing-dimension tier (north-star: a
  * warehouse ingesting entity-state streams needs SCD2 history builds and
  * temporal-signal diagnostics; no counterpart in the reference, which
  * only ever upserts the latest row — see `inv_merge_upsert`).
  *
  * Both queries treat the events table as a CDC feed: `user_id` is the
  * entity key, `event_type` the tracked attribute, `ts` the change time.
  * All window partitions are entity-keyed, so the shuffles distribute by
  * user and no per-entity history ever leaves one partition — the SCD2
  * build is one shuffle + two windows regardless of corpus size.
  */
object CdcOps {

  private val OrderCols = Seq("us", "event_type", "event_id")
  val queries: Seq[GraftQuery] = Seq(

    // SCD2 history build: collapse consecutive duplicate states per entity
    // (CDC compaction), then interval-ize — valid_from = change time,
    // valid_to = next change (NULL while current), version = change ordinal.
    // The collapse-then-lead composition is the standard two-window SCD2
    // kernel; ordering is total (us, event_type, event_id), so the history
    // is deterministic and the DuckDB replay hash-identical.
    GraftQuery("cdc_scd2",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY us, event_type, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, event_type AS state, us AS valid_from_us
        |       FROM c WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT user_id, state, valid_from_us,
        |         lead(valid_from_us) OVER (PARTITION BY user_id
        |           ORDER BY valid_from_us, state) AS valid_to_us,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |           ORDER BY valid_from_us, state) AS BIGINT) AS version
        |       FROM ch)
        |SELECT user_id, state, valid_from_us, valid_to_us, version,
        |       valid_to_us IS NULL AS is_current
        |FROM iv ORDER BY user_id, version""".stripMargin) { (spark, sfDir) =>
      val wSeq = Window.partitionBy("user_id")
        .orderBy(OrderCols.map(col): _*)
      val wIv = Window.partitionBy("user_id").orderBy("valid_from_us", "state")
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("prev", lag("event_type", 1).over(wSeq))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          col("us").as("valid_from_us"))
        .withColumn("valid_to_us", lead("valid_from_us", 1).over(wIv))
        .withColumn("version", row_number().over(wIv).cast("long"))
        .withColumn("is_current", col("valid_to_us").isNull)
        .orderBy("user_id", "version")
    },

    // per-entity change-rate profile over the SCD2 intervals: how many
    // state versions, how long closed intervals held on average, and the
    // churn share (changes per observed hour) — the screening query a
    // pipeline runs to find flapping entities before replaying history.
    // All derived stats are exact integer arithmetic (floor division both
    // sides); median is deliberately avoided — even-count medians
    // interpolate to DOUBLE, and Spark CAST truncates where DuckDB rounds.
    GraftQuery("cdc_change_rate",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY us, event_type, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, us FROM c WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT user_id, us,
        |         lead(us) OVER (PARTITION BY user_id ORDER BY us) AS nxt
        |       FROM ch),
        |p AS (SELECT user_id,
        |        CAST(count(*) AS BIGINT) AS versions,
        |        CAST(sum(nxt - us) AS BIGINT) AS hold_sum_us,
        |        CAST(count(nxt) AS BIGINT) AS holds,
        |        CAST(max(us) - min(us) AS BIGINT) AS span_us
        |      FROM iv GROUP BY user_id)
        |SELECT user_id, versions,
        |  CASE WHEN holds > 0 THEN hold_sum_us // holds ELSE NULL END AS avg_hold_us,
        |  CASE WHEN span_us > 0
        |       THEN CAST((versions - 1) * 3600000000 // span_us AS BIGINT)
        |       ELSE NULL END AS changes_per_hour
        |FROM p ORDER BY user_id""".stripMargin) { (spark, sfDir) =>
      val wSeq = Window.partitionBy("user_id")
        .orderBy(OrderCols.map(col): _*)
      val wIv = Window.partitionBy("user_id").orderBy("us")
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("prev", lag("event_type", 1).over(wSeq))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("us"))
        .withColumn("nxt", lead("us", 1).over(wIv))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("versions"),
          sum(col("nxt") - col("us")).cast("long").as("hold_sum_us"),
          count(col("nxt")).cast("long").as("holds"),
          (max(col("us")) - min(col("us"))).cast("long").as("span_us"))
        .select(col("user_id"), col("versions"),
          when(col("holds") > 0,
            expr("hold_sum_us DIV holds")).otherwise(lit(null).cast("long"))
            .as("avg_hold_us"),
          when(col("span_us") > 0,
            expr("CAST((versions - 1) * 3600000000 DIV span_us AS BIGINT)"))
            .otherwise(lit(null).cast("long")).as("changes_per_hour"))
        .orderBy("user_id")
    },

    // STREAMING SCD2, registered and oracled: the closed intervals the
    // incremental flatMapGroupsWithState fold emits (StreamOps
    // .scd2Intervals, O(1) state per entity) must hash-match the batch
    // collapse's closed rows — the same oracle as cdc_scd2 minus the open
    // tail. This row-level CORRECTNESS entry pins streaming/batch CDC
    // parity beyond the spec-level assertion.
    // Point-in-time reconstruction (the AS OF / time-travel read over the
    // SCD2 history): every entity's state at the corpus-midpoint instant
    // T = (first change + last change) DIV 2 — T is derived from the data
    // itself (1-row min/max agg broadcast back) so the query is
    // deterministic at any sf without a hard-coded timestamp. The state at
    // T is the LATEST change at or before T (rank-1 per entity over the
    // filtered change set — the rank-limit shape the heap rewrite lowers),
    // and `version` counts the changes up to T, matching cdc_scd2's
    // interval ordinal for the interval containing T. Entities whose first
    // change is after T are absent — exactly the time-travel contract.
    GraftQuery("cdc_asof_snapshot",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY us, event_type, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, event_type AS state, us AS valid_from_us
        |       FROM c WHERE prev IS NULL OR prev <> event_type),
        |t AS (SELECT (min(valid_from_us) + max(valid_from_us)) // 2 AS t0 FROM ch),
        |f AS (SELECT ch.* FROM ch CROSS JOIN t WHERE ch.valid_from_us <= t.t0),
        |r AS (SELECT user_id, state, valid_from_us,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY valid_from_us DESC, state) AS rn,
        |        CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS version
        |      FROM f)
        |SELECT user_id, state, valid_from_us, version
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (spark, sfDir) =>
      val wSeq = Window.partitionBy("user_id").orderBy(OrderCols.map(col): _*)
      val ch = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("prev", lag("event_type", 1).over(wSeq))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          col("us").as("valid_from_us"))
      val t = ch.agg(expr("(min(valid_from_us) + max(valid_from_us)) DIV 2").as("t0"))
      val wAsof = Window.partitionBy("user_id")
        .orderBy(col("valid_from_us").desc, col("state"))
      val wAll = Window.partitionBy("user_id")
      ch.join(broadcast(t)).filter(col("valid_from_us") <= col("t0"))
        .withColumn("rn", row_number().over(wAsof))
        .withColumn("version", count(lit(1)).over(wAll).cast("long"))
        .filter(col("rn") === 1)
        .select("user_id", "state", "valid_from_us", "version")
        .orderBy("user_id")
    },

    // Per-STATE dwell-time profile over the SCD2 history (cdc_change_rate
    // is the per-entity view; this is the per-state one a lifecycle model
    // reads): across all CLOSED intervals of each state, how many spells,
    // total/min/max dwell — mean is one driver division away (the exact-
    // integers discipline). Open (current) intervals are counted
    // separately, never averaged in. Frame bounded by the state alphabet.
    GraftQuery("cdc_dwell_time",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY us, event_type, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, event_type AS state, us AS valid_from_us
        |       FROM c WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT state, valid_from_us,
        |         lead(valid_from_us) OVER (PARTITION BY user_id
        |           ORDER BY valid_from_us, state) AS valid_to_us
        |       FROM ch)
        |SELECT state,
        |  CAST(count(valid_to_us) AS BIGINT) AS n_closed,
        |  CAST(count(*) - count(valid_to_us) AS BIGINT) AS n_open,
        |  CAST(sum(valid_to_us - valid_from_us) AS BIGINT) AS dwell_sum_us,
        |  CAST(min(valid_to_us - valid_from_us) AS BIGINT) AS dwell_min_us,
        |  CAST(max(valid_to_us - valid_from_us) AS BIGINT) AS dwell_max_us
        |FROM iv GROUP BY state ORDER BY state""".stripMargin) { (spark, sfDir) =>
      val wSeq = Window.partitionBy("user_id").orderBy(OrderCols.map(col): _*)
      val wIv = Window.partitionBy("user_id").orderBy("valid_from_us", "state")
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("prev", lag("event_type", 1).over(wSeq))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          col("us").as("valid_from_us"))
        .withColumn("valid_to_us", lead("valid_from_us", 1).over(wIv))
        .withColumn("dwell", col("valid_to_us") - col("valid_from_us"))
        .groupBy("state")
        .agg(count(col("valid_to_us")).as("n_closed"),
          (count(lit(1)) - count(col("valid_to_us"))).as("n_open"),
          sum("dwell").as("dwell_sum_us"),
          min("dwell").as("dwell_min_us"), max("dwell").as("dwell_max_us"))
        .orderBy("state")
    },

    GraftQuery("stream_scd2",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY us, event_type, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, event_type AS state, us AS valid_from_us
        |       FROM c WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT user_id, state, valid_from_us,
        |         lead(valid_from_us) OVER (PARTITION BY user_id
        |           ORDER BY valid_from_us, state) AS valid_to_us
        |       FROM ch)
        |SELECT user_id, state, valid_from_us, valid_to_us
        |FROM iv WHERE valid_to_us IS NOT NULL
        |ORDER BY user_id, valid_from_us, state""".stripMargin) { (spark, sfDir) =>
      val closed = graft.streaming.StreamOps.scd2Intervals(spark,
        graft.streaming.StreamOps.eventStream(spark, sfDir))
      graft.streaming.StreamOps
        .runAppendToCompletion(closed, "stream_scd2")
        .orderBy("user_id", "valid_from_us", "state")
    },

    // lag-1 autocorrelation of the per-type daily event-count series — the
    // seasonality screen an anomaly pipeline runs before alert thresholds.
    // Consecutive OBSERVED days pair via one entity-keyed lag window; the
    // Pearson r over pairs uses the integer-moment kernel (sums of longs),
    // so both engines divide the same exact integers — float appears only
    // in the final rounded division, the agg_moments convention.
    GraftQuery("events_autocorr",
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, n AS x,
        |        lag(n) OVER (PARTITION BY event_type ORDER BY day) AS y
        |      FROM d),
        |m AS (SELECT event_type,
        |        CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM p WHERE y IS NOT NULL GROUP BY event_type)
        |SELECT event_type, cnt AS n_pairs,
        |  round((cnt * sxy - sx * sy) /
        |        (sqrt((cnt * sxx - sx * sx) * 1.0)
        |         * sqrt((cnt * syy - sy * sy) * 1.0)), 6) AS r1
        |FROM m ORDER BY event_type""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("event_type").orderBy("day")
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(col("event_type"), col("day"), col("n").as("x"))
        .withColumn("y", lag("x", 1).over(w))
        .filter(col("y").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("cnt").as("n_pairs"),
          round((col("cnt") * col("sxy") - col("sx") * col("sy"))
            / (sqrt((col("cnt") * col("sxx") - col("sx") * col("sx")) * lit(1.0))
              * sqrt((col("cnt") * col("syy") - col("sy") * col("sy")) * lit(1.0))), 6)
            .as("r1"))
        .orderBy("event_type")
    })
}
