package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** Event-time windowing over the `events` table, batch mode (SURVEY.md
  * §2.11): tumbling / sliding / session windows via Spark's native
  * window()/session_window(), oracle-checked through epoch arithmetic.
  * Streaming variants of the same aggregations live in
  * graft.streaming.StreamOps behind Trigger.AvailableNow.
  */
object EventOps {

  private val TumbleSec = 300L
  private val SlideSec = 60L
  private[graft] val GapUs = 1800000000L // 30 min in micros
  /** max capped-session duration (events_sessionize_capped): 2 h in µs */
  private val CapUs = 7200000000L

  /** shared CUSUM oracle chain ending in m(event_type, day, x, ref, pf, mn)
    * — one definition for the batch query and its streaming twin (which
    * differs only by excluding each type's open last day). Must initialize
    * BEFORE `queries` (init-order interpolation). */
  private[operators] val CusumCommonCtes: String =
    """e AS (SELECT event_type,
      |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |        CAST(floor(value * 1000000) AS BIGINT) AS vu FROM events),
      |d AS (SELECT event_type, day, CAST(sum(vu) AS BIGINT) AS x
      |      FROM e GROUP BY event_type, day),
      |r AS (SELECT event_type, CAST(sum(x) // count(*) AS BIGINT) AS ref
      |      FROM d GROUP BY event_type),
      |p AS (SELECT d.event_type, d.day, d.x, r.ref,
      |        CAST(sum(d.x - r.ref) OVER (PARTITION BY d.event_type ORDER BY d.day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pf
      |      FROM d JOIN r USING (event_type)),
      |m AS (SELECT event_type, day, x, ref, pf,
      |        CAST(min(pf) OVER (PARTITION BY event_type ORDER BY day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mn
      |      FROM p)""".stripMargin

  private[operators] val CusumBatchSql: String =
    s"""WITH $CusumCommonCtes
       |SELECT event_type, CAST(day AS BIGINT) AS day, x,
       |       pf - least(CAST(0 AS BIGINT), mn) AS cusum,
       |       (pf - least(CAST(0 AS BIGINT), mn)) > 2 * ref AS alarm
       |FROM m ORDER BY event_type, day""".stripMargin

  /** per-(type, day) exact micro-unit value totals — bounded (types × days
    * rows) and consumed twice by the CUSUM pair, so persisted once */
  private[operators] def dailyValueTotals(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vu"))
      .groupBy("event_type", "day").agg(sum("vu").as("x"))
      .transform(graft.CacheTracker.persist)
    d
  }

  val queries: Seq[GraftQuery] = Seq(

    // real-data JSON decode (op 30h on the events.props column)
    GraftQuery("events_props_json",
      """SELECT event_type,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(min("k").as("min_k"), max("k").as("max_k"), sum("k").as("sum_k"))
        .orderBy("event_type")
    },

    // tumbling 5-minute windows per event type
    GraftQuery("events_tumbling",
      s"""SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // ${TumbleSec * 1000000} * $TumbleSec AS BIGINT) AS wstart,
         |       event_type, count(*) AS n,
         |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
         |FROM events
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      bench = true) { (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("v_cents"))
        .select(expr("unix_seconds(CAST(window.start AS TIMESTAMP))").as("wstart"),
          col("event_type"), col("n"), col("v_cents"))
        .orderBy("wstart", "event_type")
    },

    // sliding 5-minute windows every minute: event counts + distinct users
    GraftQuery("events_sliding",
      s"""WITH e AS (SELECT user_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // ${SlideSec * 1000000} * $SlideSec AS fl
         |  FROM events),
         |w AS (SELECT user_id,
         |    unnest(generate_series(fl - ${TumbleSec - SlideSec}, fl, $SlideSec)) AS wstart
         |  FROM e)
         |SELECT CAST(wstart AS BIGINT) AS wstart, count(*) AS n,
         |       count(DISTINCT user_id) AS n_users
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "5 minutes", "1 minute"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .select(expr("unix_seconds(CAST(window.start AS TIMESTAMP))").as("wstart"),
          col("n"), col("n_users"))
        .orderBy("wstart")
    },

    // ordered funnel per user: first view, first click AFTER that view,
    // first purchase AFTER that click. Three conditional-min aggregations
    // chained on user_id — each stage is one co-partitioned shuffle on the
    // same key (AQE broadcasts the shrinking stage frames at demo scale),
    // no per-user sequence collection.
    GraftQuery("events_funnel",
      """WITH e AS (SELECT user_id, event_type,
        |            epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, CAST(min(us) AS BIGINT) AS t_view
        |      FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS t_click
        |      FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE event_type = 'click' AND us >= t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS t_purchase
        |      FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE event_type = 'purchase' AND us >= t_click GROUP BY e.user_id)
        |SELECT v.user_id, t_view, t_click, t_purchase
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |       LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t_view"))
      val c = e.join(v, "user_id")
        .filter(col("event_type") === "click" && col("us") >= col("t_view"))
        .groupBy("user_id").agg(min("us").as("t_click"))
      val p = e.join(c, "user_id")
        .filter(col("event_type") === "purchase" && col("us") >= col("t_click"))
        .groupBy("user_id").agg(min("us").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select("user_id", "t_view", "t_click", "t_purchase")
        .orderBy("user_id")
    },

    // CUSUM change-point detection (Page 1954) over per-type daily value
    // totals — the SEQUENTIAL drift detector that complements the
    // pointwise z-scan below: S_t = max(0, S_{t-1} + (x_t − ref)) alarms
    // when cumulative positive drift exceeds 2·ref (two reference-days).
    // The nonlinear recurrence is windowed-expressible via the identity
    // S_t = P_t − min(0, min_{j≤t} P_j) with P the running deviation sum,
    // so BOTH engines compute it as one running-sum + one running-min
    // over the same (type, day) frame — no sequential driver scan, no
    // recursion, and Spark fuses the two same-spec windows into one
    // exchange+sort per type. Everything is exact integer micro-units
    // (daily totals are non-negative here, so DIV and // agree on ref —
    // OperatorInvariantSpec asserts the precondition and replays the
    // recurrence).
    GraftQuery("events_cusum", EventOps.CusumBatchSql) { (spark, sfDir) =>
      val d = dailyValueTotals(spark, sfDir)
      val r = d.groupBy("event_type").agg(expr("sum(x) DIV count(1)").as("ref"))
      val wRun = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(r), Seq("event_type"))
        .withColumn("pf", sum(col("x") - col("ref")).over(wRun))
        .withColumn("mn", min(col("pf")).over(wRun))
        .select(col("event_type"), col("day"), col("x"),
          (col("pf") - least(lit(0L), col("mn"))).as("cusum"),
          ((col("pf") - least(lit(0L), col("mn"))) > col("ref") * 2).as("alarm"))
        .orderBy("event_type", "day")
    },

    // Seasonal-naive forecast evaluation: predict each day's per-type
    // value total as the SAME WEEKDAY last week (x̂_d = x_{d−7}, the
    // baseline every forecasting pipeline must beat) and report the
    // integer MAE over the evaluable days. The d−7 alignment is a
    // CALENDAR self-join on the bounded daily-totals frame — exact under
    // gaps, unlike a 7-ROW lag over observed days — and the totals frame
    // is the CUSUM pair's shared persisted intermediate, so the corpus
    // is scanned once across the three queries.
    GraftQuery("events_forecast_naive",
      """WITH e AS (SELECT event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        CAST(floor(value * 1000000) AS BIGINT) AS vu FROM events),
        |d AS (SELECT event_type, day, CAST(sum(vu) AS BIGINT) AS x
        |      FROM e GROUP BY event_type, day),
        |j AS (SELECT a.event_type, a.x, b.x AS fcst
        |      FROM d a JOIN d b ON b.event_type = a.event_type AND b.day = a.day - 7)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
        |       CAST(sum(abs(x - fcst)) AS BIGINT) AS sae_micro,
        |       CAST(sum(abs(x - fcst)) // count(*) AS BIGINT) AS mae_micro
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, sfDir) =>
      val d = dailyValueTotals(spark, sfDir)
      val b = d.select(col("event_type"), (col("day") + 7).as("day"), col("x").as("fcst"))
      d.join(b, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("x") - col("fcst"))).as("sae_micro"))
        .select(col("event_type"), col("n_eval"), col("sae_micro"),
          expr("sae_micro DIV n_eval").as("mae_micro"))
        .orderBy("event_type")
    },

    // STREAMING CUSUM, registered and oracled: the closed-day rows the
    // incremental flatMapGroupsWithState fold emits (StreamOps.cusumDaily,
    // four longs of state per type, pre-calibrated ref stream-static
    // joined) must hash-match the batch window form minus each type's
    // open last day — the stream_scd2 convention applied to sequential
    // drift detection.
    GraftQuery("stream_cusum",
      s"""WITH ${EventOps.CusumCommonCtes},
         |mm AS (SELECT event_type, max(day) AS mx FROM d GROUP BY event_type)
         |SELECT m.event_type, CAST(m.day AS BIGINT) AS day, m.x,
         |       m.pf - least(CAST(0 AS BIGINT), m.mn) AS cusum,
         |       (m.pf - least(CAST(0 AS BIGINT), m.mn)) > 2 * m.ref AS alarm
         |FROM m JOIN mm USING (event_type) WHERE m.day < mm.mx
         |ORDER BY m.event_type, m.day""".stripMargin) { (spark, sfDir) =>
      val refs = dailyValueTotals(spark, sfDir)
        .groupBy("event_type").agg(expr("sum(x) DIV count(1)").as("ref"))
      val closed = graft.streaming.StreamOps.cusumDaily(spark,
        graft.streaming.StreamOps.eventStream(spark, sfDir), refs)
      graft.streaming.StreamOps
        .runAppendToCompletion(closed, "stream_cusum")
        .orderBy("event_type", "day")
    },

    // per-type outlier detection: top-5 |z-score| events per event type.
    // Moments accumulate as EXACT integer sums of value-cents (order-free,
    // engine-free); the mean/std/z float math then runs on identical exact
    // inputs in both engines, so rounded z-scores are bit-stable. The
    // anomaly scan a pipeline runs before trusting event-derived features.
    GraftQuery("events_anomaly",
      """WITH e AS (SELECT event_id, event_type,
        |        CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(vc) AS BIGINT) AS s1, CAST(sum(vc * vc) AS BIGINT) AS s2
        |      FROM e GROUP BY event_type),
        |z AS (SELECT e.event_id, e.event_type, e.vc,
        |        round((e.vc - CAST(s.s1 AS DOUBLE) / s.n)
        |          / sqrt(CAST(s.s2 AS DOUBLE) / s.n
        |                 - (CAST(s.s1 AS DOUBLE) / s.n) * (CAST(s.s1 AS DOUBLE) / s.n)), 6) AS z6
        |      FROM e JOIN s USING (event_type)),
        |r AS (SELECT event_type, event_id, vc, z6,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY abs(z6) DESC, event_id) AS rnk
        |      FROM z)
        |SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, vc, z6
        |FROM r WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin) { (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("vc"))
      val s = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum("vc").as("s1"),
        sum(col("vc") * col("vc")).as("s2"))
      val mean = col("s1").cast("double") / col("n")
      val w = Window.partitionBy("event_type").orderBy(abs(col("z6")).desc, col("event_id"))
      e.join(broadcast(s), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("vc"),
          round((col("vc") - mean)
            / sqrt(col("s2").cast("double") / col("n") - mean * mean), 6).as("z6"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select("event_type", "rnk", "event_id", "vc", "z6")
        .orderBy("event_type", "rnk")
    },

    // event-sequence transition matrix: counts of consecutive (src, dst)
    // event-type pairs per user within the session gap — the first-order
    // Markov structure of the event stream (what feeds next-event
    // prediction / anomalous-path detection). One window over
    // (user, time, full tiebreak) then a 25-cell aggregation; the lag
    // window distributes on user_id.
    GraftQuery("events_transitions",
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |l AS (SELECT user_id, event_type, us,
         |        lag(event_type) OVER (PARTITION BY user_id
         |          ORDER BY us, event_type, event_id) AS src,
         |        lag(us) OVER (PARTITION BY user_id
         |          ORDER BY us, event_type, event_id) AS prev_us
         |      FROM e)
         |SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
         |FROM l WHERE src IS NOT NULL AND us - prev_us < $GapUs
         |GROUP BY src, event_type ORDER BY src, dst""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_type", "event_id")
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("src", lag("event_type", 1).over(w))
        .withColumn("prev_us", lag("us", 1).over(w))
        .filter(col("src").isNotNull && col("us") - col("prev_us") < GapUs)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
        .orderBy("src", "dst")
    },

    // cohort retention matrix: users cohorted by first-signup day, counted
    // as retained on each of the next 7 days they produce ANY event. The
    // classic growth-analytics rollup: one conditional-min aggregation for
    // cohort anchors, one distinct on (user, cohort, offset), one count —
    // all co-partitioned on user_id until the final small aggregation.
    GraftQuery("events_retention",
      """WITH e AS (SELECT user_id, event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |s AS (SELECT user_id, CAST(min(d) AS BIGINT) AS cohort_d
        |      FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, s.cohort_d, e.d - s.cohort_d AS off
        |      FROM e JOIN s ON s.user_id = e.user_id
        |      WHERE e.d - s.cohort_d BETWEEN 0 AND 6)
        |SELECT cohort_d, CAST(off AS BIGINT) AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM a GROUP BY cohort_d, off ORDER BY cohort_d, day_offset""".stripMargin) {
      (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"))
      val s = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("d").as("cohort_d"))
      e.join(s, "user_id")
        .withColumn("off", col("d") - col("cohort_d"))
        .filter(col("off").between(0, 6))
        .select("user_id", "cohort_d", "off").distinct()
        .groupBy("cohort_d", "off")
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_d"), col("off").as("day_offset"), col("n_users"))
        .orderBy("cohort_d", "day_offset")
    },

    // session windows: 30-minute gap per user (gaps-and-islands oracle)
    GraftQuery("events_session",
      s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |l AS (SELECT user_id, us,
         |        lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
         |f AS (SELECT user_id, us,
         |        CASE WHEN prev IS NULL OR us - prev >= $GapUs THEN 1 ELSE 0 END AS new_s
         |      FROM l),
         |s AS (SELECT user_id, us,
         |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
         |      FROM f)
         |SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us, count(*) AS n
         |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val sess = Tables.events(spark, sfDir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          expr("unix_micros(CAST(session_window.start AS TIMESTAMP))").as("start_us"),
          (expr("unix_micros(CAST(session_window.end AS TIMESTAMP))") - GapUs).as("end_us"),
          col("n"))
      sess
        .withColumn("sid",
          row_number().over(Window.partitionBy("user_id").orderBy("start_us")).cast("long"))
        .select("user_id", "sid", "start_us", "end_us", "n")
        .orderBy("user_id", "sid")
    },

    // Daily trending event types — top-3 types per day by count, the
    // canonical "what moved today" rollup. The rank-limit sits DOWNSTREAM
    // of an aggregation (day × type counts), which is a different consumer
    // shape for the bounded-heap top-k operator than the raw-row topk_heap
    // queries: RewriteRankLimit fires on the declarative
    // row_number() <= k filter regardless of the child, so the heap bound
    // applies to the (small) aggregated frame — pinned in TopKPlanSpec.
    GraftQuery("events_top_types_daily",
      """WITH d AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT CAST(day AS BIGINT) AS day, event_type, n, rn FROM (
        |  SELECT day, event_type, n,
        |         row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rn
        |  FROM d) t
        |WHERE rn <= 3 ORDER BY day, rn""".stripMargin) { (spark, sfDir) =>
      val d = Tables.events(spark, sfDir)
        .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
          col("event_type"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("day").orderBy(col("n").desc, col("event_type"))
      d.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("day", "rn")
    },

    // Duration-CAPPED sessionization: idle-gap sessions (30 min, as
    // events_session) additionally chopped at a 2 h maximum duration —
    // the real-world sessionizer shape (analytics stacks cap runaway
    // sessions so a bot or a left-open tab cannot produce one unbounded
    // session). Spark has no built-in for the cap, so this is the
    // composition story: gap-session id via lag+cumsum, and the session
    // START as a CARRY-FORWARD (running max of the session-opening
    // timestamps) instead of a min over (user, gid) — the carry-forward
    // keeps every window function on the same (user_id)×(us)
    // partitioning+order, so all three ride ONE exchange+sort, where the
    // min-per-session form would demand a second shuffle on (user, gid).
    // The chop itself is a pure projection DIV. The calendar-chop is the
    // deterministic relaxation of greedy re-segmentation (same relaxation
    // pack_nextfit documents); the oracle keeps the min-per-session form,
    // which is value-identical.
    GraftQuery("events_sessionize_capped",
      s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |l AS (SELECT user_id, us,
         |        lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
         |f AS (SELECT user_id, us,
         |        CASE WHEN prev IS NULL OR us - prev >= $GapUs THEN 1 ELSE 0 END AS new_s
         |      FROM l),
         |s AS (SELECT user_id, us,
         |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gid
         |      FROM f),
         |c AS (SELECT user_id, us, gid,
         |        (us - min(us) OVER (PARTITION BY user_id, gid)) // $CapUs AS sub
         |      FROM s)
         |SELECT user_id, gid, CAST(sub AS BIGINT) AS sub,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(max(us) - min(us) AS BIGINT) AS dur_us
         |FROM c GROUP BY user_id, gid, sub
         |ORDER BY user_id, gid, sub""".stripMargin) { (spark, sfDir) =>
      val wOrd = Window.partitionBy("user_id").orderBy("us")
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val s = Tables.events(spark, sfDir)
        .select(col("user_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("prev", lag("us", 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") >= GapUs, 1L).otherwise(0L))
        .withColumn("gid", sum("new_s").over(wCum))
      s.withColumn("start", max(when(col("new_s") === 1L, col("us"))).over(wCum))
        .withColumn("sub", expr(s"(us - start) DIV $CapUs"))
        .groupBy("user_id", "gid", "sub")
        .agg(count(lit(1)).as("n"), (max("us") - min("us")).as("dur_us"))
        .orderBy("user_id", "gid", "sub")
    },

    // Time-series gap fill (resample to a daily grid): per-user daily event
    // counts with every missing day inside the user's active span emitted
    // as an explicit zero — the densification step feature pipelines and
    // forecasting models need before lag/rolling features make sense.
    // Distributed shape: one hash agg to daily counts, a per-user span agg,
    // then sequence()+explode generates each user's calendar WITH the row
    // (no driver-side date range, no cross join against a global calendar
    // dimension — at 100 TB the global calendar × users cross join is the
    // naive trap; here each user only materializes their own span) and a
    // co-partitioned left join fills the zeros.
    GraftQuery("events_gap_fill",
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
        |cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM span)
        |SELECT c.user_id, c.day, coalesce(d.n, 0) AS n
        |FROM cal c LEFT JOIN d ON d.user_id = c.user_id AND d.day = c.day
        |ORDER BY c.user_id, c.day""".stripMargin) { (spark, sfDir) =>
      val daily = Tables.events(spark, sfDir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val cal = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "day")
    },

    // Exponentially-weighted moving average (α = 1/4) over each event
    // type's daily count series — the time-series smoothing step behind
    // trend/anomaly features. Integer-exact recurrence
    // s_t = (3·s_{t-1} + x_t) DIV 4 with s_1 = x_1: every operand is a
    // non-negative count, so floor (DuckDB //) and truncate (Spark DIV)
    // agree and the smoothed series is bit-identical cross-engine. The
    // fold is sequential BY NATURE, so it runs per-key over the key's own
    // ordered array (sort_array of (day, n) structs — collect_list alone
    // is partition-order-nondeterministic): keys parallelize, each key's
    // series is bounded by the calendar, and the full smoothed series
    // comes from prefix folds of the one array — no cross-row window, no
    // single-partition stage. The streaming twin of this shape would
    // carry s_t as flatMapGroupsWithState state.
    GraftQuery("events_ewma",
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |arr AS (SELECT event_type, list(day ORDER BY day) AS ds,
        |          list(n ORDER BY day) AS xs FROM d GROUP BY 1)
        |SELECT event_type,
        |  CAST(unnest(ds) AS DATE) AS day,
        |  unnest(xs) AS n,
        |  unnest(list_transform(generate_series(1, len(xs)),
        |    i -> CAST(list_reduce(xs[1:i], (s, x) -> (3 * s + x) // 4) AS BIGINT))) AS ewma
        |FROM arr ORDER BY event_type, day""".stripMargin) { (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("s"))
        .selectExpr("event_type",
          "s.day AS ds", "s.n AS xs",
          "transform(sequence(1, size(s)), i -> " +
            "aggregate(slice(s.n, 2, i - 1), element_at(s.n, 1), " +
            "(acc, x) -> (3L * acc + x) DIV 4L)) AS es")
        .select(col("event_type"),
          explode(arrays_zip(col("ds"), col("xs"), col("es"))).as("z"))
        .select(col("event_type"), col("z.ds").as("day"),
          col("z.xs").as("n"), col("z.es").as("ewma"))
        .orderBy("event_type", "day")
    },

    // Sequential-pattern mining: the top-20 session-bounded event-type
    // trigram paths (a>b>c where consecutive gaps stay inside the session
    // window) — the higher-order companion of events_transitions' pair
    // counts, the path-frequency signal behind funnel discovery. One
    // user-keyed window pass builds the trigrams (two lags of type and
    // time), then a hash count and a TakeOrdered top-20 with a full
    // deterministic tiebreak; no per-user collection, no global sort.
    GraftQuery("events_top_paths",
      s"""WITH eb AS (SELECT user_id, event_type, event_id,
         |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |l AS (SELECT event_type AS c,
         |        lag(event_type, 1) OVER w AS b, lag(event_type, 2) OVER w AS a,
         |        us, lag(us, 1) OVER w AS us1, lag(us, 2) OVER w AS us2
         |      FROM eb
         |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_type, event_id))
         |SELECT a || '>' || b || '>' || c AS path, CAST(count(*) AS BIGINT) AS n
         |FROM l
         |WHERE a IS NOT NULL AND us - us1 < $GapUs AND us1 - us2 < $GapUs
         |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_type", "event_id")
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("b", lag("event_type", 1).over(w))
        .withColumn("a", lag("event_type", 2).over(w))
        .withColumn("us1", lag("us", 1).over(w))
        .withColumn("us2", lag("us", 2).over(w))
        .filter(col("a").isNotNull &&
          col("us") - col("us1") < GapUs && col("us1") - col("us2") < GapUs)
        .select(concat_ws(">", col("a"), col("b"), col("event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    // Last-touch attribution: each purchase credits the most recent
    // PRECEDING non-purchase event by the same user ('direct' when the
    // purchase is the user's first recorded act) — the credit-assignment
    // rollup a funnel-analytics pipeline runs after sessionization. One
    // IGNORE-NULLS last_value over the per-user timeline (the
    // events_transitions frame: partitioned by user, deterministic
    // (us, type, id) order, strict 1-PRECEDING upper bound so a purchase
    // never credits itself) + one bounded hash agg. Revenue is exact
    // integer cents (the MAD/value convention).
    GraftQuery("events_attribution",
      """WITH eb AS (SELECT event_id, user_id, event_type, value,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |l AS (SELECT user_id, event_type, value,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |                   IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY us, event_type, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |      FROM eb)
        |SELECT coalesce(touch, 'direct') AS touch,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM l WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_type", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
        .orderBy("touch")
    },

    // Survival / churn life table: for each observed lifetime k (days
    // between a user's first and last event), how many users CHURNED at k
    // (went silent before the final week of the observation window), how
    // many are CENSORED at k (still active at horizon — their true
    // lifetime is only known to be ≥ k), and how many were AT RISK at k
    // (lifetime ≥ k) — the exact integer ingredients of a Kaplan-Meier
    // estimate (Kaplan & Meier 1958), which is one driver-side product
    // away. One per-user hash agg (first/last day), a 1-row horizon agg
    // cross-joined back, one hash agg by lifetime, then the at-risk
    // suffix sum over the BOUNDED lifetime frame (≤ observation days
    // rows — the documented bounded-frame global window, not a
    // corpus-sized sort).
    GraftQuery("events_survival",
      """WITH d AS (SELECT user_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, min(day) AS first_d, max(day) AS last_d
        |      FROM d GROUP BY user_id),
        |h AS (SELECT max(last_d) AS horizon FROM u),
        |lt AS (SELECT last_d - first_d AS k,
        |         CASE WHEN last_d >= horizon - 6 THEN 1 ELSE 0 END AS cens
        |       FROM u CROSS JOIN h),
        |g AS (SELECT k, CAST(sum(1 - cens) AS BIGINT) AS n_churned,
        |        CAST(sum(cens) AS BIGINT) AS n_censored
        |      FROM lt GROUP BY k)
        |SELECT k, n_churned, n_censored,
        |       CAST(sum(n_churned + n_censored) OVER (ORDER BY k DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS at_risk
        |FROM g ORDER BY k""".stripMargin) { (spark, sfDir) =>
      val u = Tables.events(spark, sfDir)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"))
        .groupBy("user_id")
        .agg(min("day").as("first_d"), max("day").as("last_d"))
        .transform(graft.CacheTracker.persist)
      val h = u.agg(max("last_d").as("horizon"))
      val g = u.crossJoin(broadcast(h))
        .select((col("last_d") - col("first_d")).as("k"),
          when(col("last_d") >= col("horizon") - 6, 1L).otherwise(0L).as("cens"))
        .groupBy("k")
        .agg(sum(lit(1L) - col("cens")).as("n_churned"), sum("cens").as("n_censored"))
      val w = Window.orderBy(col("k").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("at_risk", sum(col("n_churned") + col("n_censored")).over(w))
        .orderBy("k")
    },

    // Cohort LTV triangle: revenue by (signup week × weeks since signup) —
    // the lifetime-value matrix a growth/monetization pipeline reads next
    // to the retention matrix (events_retention is the presence twin; this
    // is the money twin, unbounded offsets). Two hash aggs and one join:
    // per-user signup day, then purchase cents rolled up into the bounded
    // (weeks × weeks) triangle. Both day differences are non-negative, so
    // DuckDB's flooring // and Spark's truncating DIV agree (the q22 rule).
    GraftQuery("events_cohort_ltv",
      """WITH e AS (SELECT user_id, event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |        CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT user_id, CAST(min(d) AS BIGINT) AS cohort_d
        |      FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT e.user_id, s.cohort_d // 7 AS cohort_w,
        |        (e.d - s.cohort_d) // 7 AS w_off, e.cents
        |      FROM e JOIN s ON s.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.d >= s.cohort_d)
        |SELECT CAST(cohort_w AS BIGINT) AS cohort_w,
        |       CAST(w_off AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM p GROUP BY cohort_w, w_off ORDER BY cohort_w, week_offset""".stripMargin) {
      (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"),
          floor(col("value") * 100).cast("long").as("cents"))
      val s = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("d").as("cohort_d"))
      e.filter(col("event_type") === "purchase")
        .join(s, "user_id")
        .filter(col("d") >= col("cohort_d"))
        .select(col("user_id"), expr("cohort_d DIV 7").as("cohort_w"),
          expr("(d - cohort_d) DIV 7").as("w_off"), col("cents"))
        .groupBy("cohort_w", "w_off")
        .agg(countDistinct("user_id").as("n_buyers"),
          count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
        .select(col("cohort_w"), col("w_off").as("week_offset"),
          col("n_buyers"), col("n_purchases"), col("cents"))
        .orderBy("cohort_w", "week_offset")
    },

    // First-order Markov next-event prediction with a temporal train/test
    // split — the evaluation loop a sequence model's data pipeline runs:
    // session-bounded consecutive (src → dst) transitions split at the
    // corpus-midpoint day (derived from the data, 1-row agg broadcast
    // back); the train half fits argmax(count) per source type (ties
    // broken lexicographically), the test half scores top-1 accuracy per
    // source. Only bounded frames shuffle after the lag window: transition
    // counts are (types × types) and the prediction table ≤ types rows, so
    // the broadcast hint is provably safe. acc_ppm is integer-exact.
    GraftQuery("events_markov_predict",
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |l AS (SELECT user_id, event_type, us,
         |        lag(event_type) OVER (PARTITION BY user_id
         |          ORDER BY us, event_type, event_id) AS src,
         |        lag(us) OVER (PARTITION BY user_id
         |          ORDER BY us, event_type, event_id) AS prev_us
         |      FROM e),
         |p AS (SELECT src, event_type AS dst, us // 86400000000 AS d
         |      FROM l WHERE src IS NOT NULL AND us - prev_us < $GapUs),
         |t AS (SELECT (min(d) + max(d)) // 2 AS split_d FROM p),
         |tr AS (SELECT src, dst, count(*) AS c FROM p CROSS JOIN t
         |       WHERE d < split_d GROUP BY src, dst),
         |pr AS (SELECT src, dst AS pred FROM (
         |         SELECT src, dst, row_number() OVER (PARTITION BY src
         |           ORDER BY c DESC, dst) AS rn FROM tr) WHERE rn = 1),
         |ev AS (SELECT p.src, p.dst FROM p CROSS JOIN t WHERE d >= split_d)
         |SELECT ev.src, pr.pred,
         |       CAST(count(*) AS BIGINT) AS n_eval,
         |       CAST(sum(CASE WHEN ev.dst = pr.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |       CAST(CAST(sum(CASE WHEN ev.dst = pr.pred THEN 1 ELSE 0 END) AS BIGINT)
         |            * 1000000 // count(*) AS BIGINT) AS acc_ppm
         |FROM ev JOIN pr ON pr.src = ev.src
         |GROUP BY ev.src, pr.pred ORDER BY ev.src""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_type", "event_id")
      val p = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("src", lag("event_type", 1).over(w))
        .withColumn("prev_us", lag("us", 1).over(w))
        .filter(col("src").isNotNull && col("us") - col("prev_us") < GapUs)
        .select(col("src"), col("event_type").as("dst"),
          expr("us DIV 86400000000").as("d"))
        .transform(graft.CacheTracker.persist)
      val t = p.agg(expr("(min(d) + max(d)) DIV 2").as("split_d"))
      val wPred = Window.partitionBy("src").orderBy(col("c").desc, col("dst"))
      val pr = p.join(broadcast(t)).filter(col("d") < col("split_d"))
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wPred)).filter(col("rn") === 1)
        .select(col("src"), col("dst").as("pred"))
      p.join(broadcast(t)).filter(col("d") >= col("split_d"))
        .join(broadcast(pr), "src")
        .groupBy("src", "pred")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("dst") === col("pred"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_ppm", expr("n_correct * 1000000 DIV n_eval"))
        .orderBy("src")
    },

    // Day-of-week seasonality profile per event type — the seasonal-index
    // read a capacity/forecasting pipeline takes before picking a model
    // (and the companion to events_forecast_naive's d-7 join: this is WHY
    // lag-7 is the right naive lag). dow = day-number mod 7 (deterministic
    // integer labeling; day 0 is a Thursday, but the label convention
    // cancels out of any within-type comparison). Ships exact integers —
    // per-(type, dow) day count, event count, cents, and the dow's share
    // of the type's total in ppm — rather than a pre-divided average (the
    // sim_dim_stats discipline: means are one driver-side division away).
    GraftQuery("events_dow_profile",
      """WITH e AS (SELECT event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS BIGINT) AS cents
        |      FROM e GROUP BY event_type, day),
        |g AS (SELECT event_type, day % 7 AS dow,
        |        CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(sum(n) AS BIGINT) AS n_events,
        |        CAST(sum(cents) AS BIGINT) AS cents
        |      FROM d GROUP BY event_type, day % 7),
        |tt AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS tot
        |       FROM g GROUP BY event_type)
        |SELECT g.event_type, CAST(g.dow AS BIGINT) AS dow, g.n_days, g.n_events,
        |       g.cents, CAST(g.n_events * 1000000 // tt.tot AS BIGINT) AS share_ppm
        |FROM g JOIN tt ON tt.event_type = g.event_type
        |ORDER BY g.event_type, dow""".stripMargin) { (spark, sfDir) =>
      val d = Tables.events(spark, sfDir)
        .select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      val g = d.select(col("event_type"), expr("day % 7").as("dow"),
          col("n"), col("cents"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"), sum("n").as("n_events"),
          sum("cents").as("cents"))
      val tt = g.groupBy("event_type").agg(sum("n_events").as("tot"))
      g.join(broadcast(tt), "event_type")
        .select(col("event_type"), col("dow"), col("n_days"), col("n_events"),
          col("cents"), expr("n_events * 1000000 DIV tot").as("share_ppm"))
        .orderBy("event_type", "dow")
    },

    // Conversion-latency distribution: days from signup to FIRST purchase,
    // as a histogram with the cumulative conversion CDF in ppm — the
    // funnel-latency read (median time-to-convert, share converting within
    // a week) that events_funnel's step counts can't answer. Two per-user
    // hash aggs + one join; the histogram frame is bounded by the
    // observation window, so the CDF window is the documented bounded-
    // frame global window.
    GraftQuery("events_time_to_convert",
      """WITH e AS (SELECT user_id, event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |s AS (SELECT user_id, min(d) AS sd FROM e
        |      WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.d) AS pd
        |      FROM e JOIN s ON s.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.d >= s.sd
        |      GROUP BY e.user_id),
        |g AS (SELECT p.pd - s.sd AS k FROM p JOIN s ON s.user_id = p.user_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nconv FROM g),
        |h AS (SELECT k, CAST(count(*) AS BIGINT) AS n_users FROM g GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS latency_days, n_users,
        |  CAST(sum(n_users) OVER (ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 1000000 // (SELECT nconv FROM n) AS BIGINT) AS cum_ppm
        |FROM h ORDER BY latency_days""".stripMargin) { (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"))
      val s = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("d").as("sd"))
      val p = e.filter(col("event_type") === "purchase")
        .join(s, "user_id").filter(col("d") >= col("sd"))
        .groupBy("user_id").agg(min("d").as("pd"), min("sd").as("sd0"))
      val g = p.select((col("pd") - col("sd0")).as("k"))
        .transform(graft.CacheTracker.persist)
      val nconv = g.count()
      val w = Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.groupBy("k").agg(count(lit(1)).as("n_users"))
        .withColumn("cum", sum("n_users").over(w))
        .select(col("k").as("latency_days"), col("n_users"),
          expr(s"cum * 1000000 DIV $nconv").as("cum_ppm"))
        .orderBy("latency_days")
    },

    // Inter-arrival time distribution per event type, log2-bucketed — the
    // traffic-model read (burstiness, heavy tails) a capacity planner or
    // session-gap tuner takes before fixing timeouts/watermarks: gap
    // seconds between a user's consecutive same-type events, bucketed by
    // bit width (length(bin(s + 1)) — the graph_link_predict integer-log2
    // device, identical in both engines). One lag window keyed by
    // (user, type) + one hash agg to a (types × ~40 buckets) frame.
    GraftQuery("events_interarrival",
      """WITH e AS (SELECT user_id, event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |l AS (SELECT user_id, event_type, us,
        |        lag(us) OVER (PARTITION BY user_id, event_type
        |          ORDER BY us) AS prev_us
        |      FROM e),
        |g AS (SELECT event_type,
        |        CAST(length(bin((us - prev_us) // 1000000 + 1)) AS BIGINT) AS bucket,
        |        (us - prev_us) // 1000000 AS gap_s
        |      FROM l WHERE prev_us IS NOT NULL)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_gaps,
        |       CAST(min(gap_s) AS BIGINT) AS min_s, CAST(max(gap_s) AS BIGINT) AS max_s
        |FROM g GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy("us")
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("prev_us", lag("us", 1).over(w))
        .filter(col("prev_us").isNotNull)
        .select(col("event_type"),
          expr("(us - prev_us) DIV 1000000").as("gap_s"))
        .withColumn("bucket", length(bin(col("gap_s") + 1)).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n_gaps"), min("gap_s").as("min_s"),
          max("gap_s").as("max_s"))
        .orderBy("event_type", "bucket")
    },

    // Longest daily-activity streaks (gaps-and-islands): per user, group
    // consecutive active days by the d − dense_rank(d) invariant (equal
    // within an unbroken run, shifts at every gap — the canonical islands
    // kernel, here on the per-user bounded day frame), then the top-20
    // longest streaks corpus-wide. The per-user window is entity-keyed
    // (one shuffle by user); the global top-20 rides TakeOrdered. The
    // engagement read behind streak-based retention features.
    GraftQuery("events_streaks",
      """WITH d AS (SELECT DISTINCT user_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |g AS (SELECT user_id, d,
        |        d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        |      FROM d),
        |s AS (SELECT user_id, CAST(min(d) AS BIGINT) AS start_d,
        |        CAST(count(*) AS BIGINT) AS len
        |      FROM g GROUP BY user_id, grp)
        |SELECT user_id, start_d, len FROM s
        |ORDER BY len DESC, user_id, start_d LIMIT 20""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("user_id").orderBy("d")
      Tables.events(spark, sfDir)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"))
        .distinct()
        .withColumn("grp", col("d") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(min("d").as("start_d"), count(lit(1)).as("len"))
        .select("user_id", "start_d", "len")
        .orderBy(col("len").desc, col("user_id"), col("start_d")).limit(20)
    },

    // Seasonally-ADJUSTED anomaly screen: subtract each (type, dow)'s
    // mean daily value (the events_dow_profile signal) before the
    // z-score, so a quiet-Sunday spike that a raw z-test buries under
    // weekday variance surfaces, and routine Monday peaks stop alarming —
    // the composition every monitoring pipeline eventually ships.
    // Moments of the RESIDUAL accumulate as exact integers (residual =
    // x·c_dow − s_dow stays integral by clearing the mean's denominator),
    // z is computed as doubles on exact inputs, rounded identically.
    // Output: per type, the top-3 |z| days after adjustment.
    GraftQuery("events_anomaly_seasonal",
      """WITH e AS (SELECT event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS x
        |      FROM e GROUP BY event_type, day),
        |m AS (SELECT event_type, day % 7 AS dow,
        |        CAST(count(*) AS BIGINT) AS c, CAST(sum(x) AS BIGINT) AS s
        |      FROM d GROUP BY event_type, day % 7),
        |r AS (SELECT d.event_type, d.day, d.x,
        |        d.x * m.c - m.s AS res_c  -- residual × c_dow, exact
        |      FROM d JOIN m ON m.event_type = d.event_type AND m.dow = d.day % 7),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(res_c) AS BIGINT) AS sr,
        |         CAST(sum(res_c * res_c) AS BIGINT) AS srr
        |       FROM r GROUP BY event_type),
        |z AS (SELECT r.event_type, r.day, r.x, r.res_c,
        |        round((st.n * r.res_c - st.sr) /
        |              sqrt(CAST(st.n AS DOUBLE) * st.srr - CAST(st.sr AS DOUBLE) * st.sr)
        |              * sqrt(CAST(st.n AS DOUBLE)), 6) AS z6
        |      FROM r JOIN st ON st.event_type = r.event_type),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |         ORDER BY abs(z6) DESC, day) AS rn FROM z)
        |SELECT event_type, CAST(day AS BIGINT) AS day, x, res_c, z6
        |FROM rk WHERE rn <= 3 ORDER BY event_type, day""".stripMargin) {
      (spark, sfDir) =>
      val d = Tables.events(spark, sfDir)
        .select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("x"))
        .transform(graft.CacheTracker.persist)
      val m = d.select(col("event_type").as("m_type"), expr("day % 7").as("dow"),
          col("x"))
        .groupBy("m_type", "dow")
        .agg(count(lit(1)).as("c"), sum("x").as("s"))
      val r = d.join(m,
          col("event_type") === col("m_type") && expr("day % 7") === col("dow"))
        .select(col("event_type"), col("day"), col("x"),
          (col("x") * col("c") - col("s")).as("res_c"))
        .transform(graft.CacheTracker.persist)
      val st = r.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("res_c").as("sr"),
          sum(col("res_c") * col("res_c")).as("srr"))
      val w = Window.partitionBy("event_type").orderBy(abs(col("z6")).desc, col("day"))
      r.join(st, "event_type")
        .withColumn("z6", round((col("n") * col("res_c") - col("sr")) /
          sqrt(col("n").cast("double") * col("srr") - col("sr").cast("double") * col("sr"))
          * sqrt(col("n").cast("double")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("event_type", "day", "x", "res_c", "z6")
        .orderBy("event_type", "day")
    },

    // DAU / WAU / stickiness — the product-analytics headline triple:
    // daily active users, trailing-7-day active users (a rolling DISTINCT,
    // not a rolling sum — users active on 3 days count once), and
    // stickiness DAU/WAU in exact ppm. The rolling distinct realizes as
    // the (user, day) presence frame range-joined to the bounded day
    // spine (days × avg-DAU rows — linear in the presence frame, never
    // user × day dense), then one exact count-distinct per day. Day spine
    // derived from the data; the trailing window is ROWS-free (calendar
    // range d−6..d), so missing days shrink WAU honestly.
    GraftQuery("events_wau_stickiness",
      """WITH e AS (SELECT DISTINCT user_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |days AS (SELECT DISTINCT d FROM e),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM e GROUP BY d),
        |wau AS (SELECT days.d, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
        |        FROM days JOIN e ON e.d BETWEEN days.d - 6 AND days.d
        |        GROUP BY days.d)
        |SELECT CAST(dau.d AS BIGINT) AS day, dau.dau, wau.wau,
        |       CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN wau ON wau.d = dau.d ORDER BY day""".stripMargin) {
      (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"))
        .distinct()
        .transform(graft.CacheTracker.persist)
      val days = e.select(col("d").as("day")).distinct()
      val dau = e.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
      val wau = days.join(e,
          col("d").between(col("day") - 6, col("day")))
        .groupBy("day").agg(countDistinct("user_id").as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000000 DIV wau").as("stickiness_ppm"))
        .orderBy("day")
    },

    // STREAMING twin of events_funnel, registered and oracled: the
    // per-user Funnel state (three timestamps, O(1) forever) advances
    // view→click→purchase in event-time order and the drained frame IS
    // the batch funnel table — same oracle SQL, so the incremental
    // stage machine cannot drift from the three-aggregation batch form.
    GraftQuery("stream_funnel",
      """WITH e AS (SELECT user_id, event_type,
        |            epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, CAST(min(us) AS BIGINT) AS t_view
        |      FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS t_click
        |      FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE event_type = 'click' AND us >= t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS t_purchase
        |      FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE event_type = 'purchase' AND us >= t_click GROUP BY e.user_id)
        |SELECT v.user_id, t_view, t_click, t_purchase
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |       LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin) { (spark, sfDir) =>
      graft.streaming.StreamOps.runAppendToCompletion(
        graft.streaming.StreamOps.statefulFunnel(spark,
          graft.streaming.StreamOps.eventStream(spark, sfDir)),
        "stream_funnel")
        .orderBy("user_id")
    },

    // STREAMING twin of events_time_to_convert: per-user O(1) state
    // (first signup day + emitted flag) converts the latency measurement
    // into an incremental operator — each user's (user_id, k) row appends
    // exactly once, at conversion time, and the drained rows aggregate to
    // the identical histogram/CDF, oracled against the same SQL. At
    // stream scale the state never grows past one row per user and the
    // emitted frame is converters-only.
    GraftQuery("stream_time_to_convert",
      """WITH e AS (SELECT user_id, event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d FROM events),
        |s AS (SELECT user_id, min(d) AS sd FROM e
        |      WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.d) AS pd
        |      FROM e JOIN s ON s.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.d >= s.sd
        |      GROUP BY e.user_id),
        |g AS (SELECT p.pd - s.sd AS k FROM p JOIN s ON s.user_id = p.user_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nconv FROM g),
        |h AS (SELECT k, CAST(count(*) AS BIGINT) AS n_users FROM g GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS latency_days, n_users,
        |  CAST(sum(n_users) OVER (ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 1000000 // (SELECT nconv FROM n) AS BIGINT) AS cum_ppm
        |FROM h ORDER BY latency_days""".stripMargin) { (spark, sfDir) =>
      val emitted = graft.streaming.StreamOps.runAppendToCompletion(
        graft.streaming.StreamOps.timeToConvert(spark,
          graft.streaming.StreamOps.eventStream(spark, sfDir)),
        "stream_ttc")
        .transform(graft.CacheTracker.persist)
      val nconv = emitted.count()
      val w = Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      emitted.groupBy("k").agg(count(lit(1)).as("n_users"))
        .withColumn("cum", sum("n_users").over(w))
        .select(col("k").as("latency_days"), col("n_users"),
          expr(s"cum * 1000000 DIV $nconv").as("cum_ppm"))
        .orderBy("latency_days")
    }
  )
}
