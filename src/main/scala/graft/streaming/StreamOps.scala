package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming variants of the batch event-window operators
  * (SURVEY.md §2.11 — absent in the reference, mandated by the north star).
  * Driven by file-source streams over the same events parquet so
  * StreamingSpec can execute them to completion with Trigger.AvailableNow
  * and compare against the batch results.
  */
object StreamOps {

  /** state for statefulUserTotals (top level so Encoders derive) */
  final case class Agg(n: Long, maxV: Double)

  /** the events table as a bounded stream. Watermarks require TIMESTAMP
    * (with-local-tz), so ts becomes LTZ here — identical instants to the
    * batch NTZ values under the fixed UTC session. File streams need a
    * directory, hence sfDir + pathGlobFilter. */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    // NTZ→LTZ below is instant-preserving only under a UTC session, and
    // the cast resolves lazily — require UTC loudly (matching
    // Tables.events) instead of silently mutating the shared session conf
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "StreamOps.eventStream needs spark.sql.session.timeZone=UTC (lazy " +
        "NTZ->LTZ cast); configure the session with Sessions.local")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(spark.read.option("pathGlobFilter", "events.parquet").parquet(sfDir).schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // exact long-arithmetic floor division (see Tables.events)
        raw.withColumn("ts", expr("timestamp_micros((ts - pmod(ts, 1000)) DIV 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** a directory of event-shaped parquet files as a stream, one file per
    * microbatch (maxFilesPerTrigger=1) — the multi-batch harness for the
    * stateful operators' incremental paths. Files are picked up in
    * modification-time order, so a writer that emits time-ordered files
    * gets event-time-ordered batches. */
  def eventStreamFromDir(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  /** tumbling 5-minute counts with a 10-minute watermark */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("v_cents"))
      .select(expr("unix_seconds(CAST(window.start AS TIMESTAMP))").as("wstart"),
        col("event_type"), col("n"), col("v_cents"))

  /** session windows (30-minute gap) per user */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        expr("unix_micros(CAST(session_window.start AS TIMESTAMP))").as("start_us"),
        col("n"))

  /** streaming dedup on event_id within the watermark */
  def dedupedCount(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** custom stateful op: running per-user event count + max value via
    * flatMapGroupsWithState (the reference has no stateful streaming; this
    * is the engine-surface exposure) */
  def statefulUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("user_id").as("uid"), col("value"))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Agg, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[Agg]) =>
          val prev = state.getOption.getOrElse(Agg(0L, Double.MinValue))
          var n = prev.n
          var mx = prev.maxV
          rows.foreach { case (_, v) => n += 1; if (v > mx) mx = v }
          state.update(Agg(n, mx))
          Iterator((uid, n, mx))
      }
      .toDF("user_id", "n", "max_value")
  }

  /** state for statefulFunnel: first-view / first-qualifying-click /
    * first-qualifying-purchase micros, -1 = stage not reached */
  final case class Funnel(view: Long, click: Long, purchase: Long)

  /** Streaming twin of the batch `events_funnel` operator: per-user ordered
    * view→click→purchase stage times via flatMapGroupsWithState. Rows are
    * event-time-sorted WITHIN each (user, microbatch) group — stage order
    * at equal timestamps follows the batch semantics (a click at exactly
    * the first-view instant qualifies), hence the stage-priority tiebreak —
    * and the state machine is monotone, so the fold is exactly incremental
    * across batches that arrive in event-time order. Per-group buffering is
    * bounded by the user's rows in ONE microbatch, not the stream.
    *
    * Emission is UPSERT-shaped: every microbatch that touches a user emits
    * that user's CURRENT state, so a multi-batch run produces one row per
    * (user, touching batch) and the consumer keeps the most advanced row
    * per user (the monotone state means latest == most stages filled).
    * With a single AvailableNow batch this degenerates to exactly one row
    * per user. */
  def statefulFunnel(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val prio = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    val typed = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").as("uid"), col("event_type").as("etype"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .as[(Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Funnel, (Long, Option[Long], Option[Long], Option[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long)], state: GroupState[Funnel]) =>
          var st = state.getOption.getOrElse(Funnel(-1L, -1L, -1L))
          rows.toArray.sortBy { case (_, et, us) => (us, prio(et)) }.foreach {
            case (_, "view", us) if st.view < 0 => st = st.copy(view = us)
            case (_, "click", us) if st.view >= 0 && st.click < 0 && us >= st.view =>
              st = st.copy(click = us)
            case (_, "purchase", us) if st.click >= 0 && st.purchase < 0 && us >= st.click =>
              st = st.copy(purchase = us)
            case _ => ()
          }
          state.update(st)
          if (st.view >= 0)
            Iterator((uid, Some(st.view),
              if (st.click >= 0) Some(st.click) else None,
              if (st.purchase >= 0) Some(st.purchase) else None))
          else Iterator.empty
      }
      .toDF("user_id", "t_view", "t_click", "t_purchase")
  }

  /** state for scd2Intervals: the entity's open interval (current state
    * string + its start micros) */
  final case class Scd2St(state: String, since: Long)

  /** Streaming twin of the batch `cdc_scd2` operator's CLOSED intervals:
    * per-entity SCD2 history maintained incrementally. Each microbatch
    * folds its (event-time-sorted, batch tiebreak (us, type, id)) rows
    * into the entity's open interval; a state change EMITS the closed
    * interval — append-mode, each interval exactly once — and the open
    * interval lives in the group state until the next change closes it.
    * With batches arriving in event-time order the fold is exactly the
    * batch collapse; parity is pinned by the registered `stream_scd2`
    * query (same oracle as cdc_scd2 minus the open tail) and the
    * StreamingSpec single- vs multi-microbatch assertion. State per
    * entity is O(1) — one (string, long) — the bounded-state shape that
    * holds on an unbounded stream. */
  def scd2Intervals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id").as("uid"), col("event_type").as("etype"),
        col("event_id").as("eid"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .as[(Long, String, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2St, (Long, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long, Long)], state: GroupState[Scd2St]) =>
          var st = state.getOption.orNull
          val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
          rows.toArray.sortBy { case (_, et, eid, us) => (us, et, eid) }.foreach {
            case (_, et, _, us) =>
              if (st == null) st = Scd2St(et, us)
              else if (st.state != et) {
                closed += ((uid, st.state, st.since, us))
                st = Scd2St(et, us)
              }
          }
          if (st != null) state.update(st)
          closed.iterator
      }
      .toDF("user_id", "state", "valid_from_us", "valid_to_us")
  }

  /** the documents table as a bounded stream (file source over the same
    * parquet the batch operators read) */
  def docStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(graft.Tables.documents(spark, sfDir).schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)

  /** Streaming decontamination gate — the stream-STATIC join: incoming
    * training documents' exploded 5-token-gram hashes flow past the fixed
    * benchmark gram set (computed and persisted once — Spark re-executes
    * the static subplan per microbatch, so without the persist every batch
    * would re-tokenize the eval slice and re-run its distinct; like the
    * dedup family's docShingles this session-lifetime cache is deliberately
    * NOT CacheTracker-managed, and it is bounded at one row per eval gram).
    * Stateless append mode, no watermark: each microbatch is one scan +
    * broadcast probe, so the continuous-ingestion pipeline never
    * accumulates state. Emits raw (doc_id, gh) matches; the per-doc rollup
    * belongs to the consumer (foreachBatch / the sink), keeping the
    * streaming stage shuffle-free. The gram pipeline and eval-split
    * predicate are the batch operator's own (TrainPrepOps.gramsOf /
    * isEvalDoc), so the gate cannot drift from the oracled query. */
  private val evalGramCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def decontamMatches(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TrainPrepOps.{gramsOf, isEvalDoc}
    // memoized per (session, sfDir) like RefFixtures.aclRecords: restarting
    // the streaming query must reuse the one persisted eval-gram frame, not
    // stack a fresh persisted copy per invocation
    val evalGrams = evalGramCache.getOrElseUpdate((spark, sfDir),
      gramsOf(graft.Tables.documents(spark, sfDir).filter(isEvalDoc))
        .select("gh").distinct().persist())
    gramsOf(docStream(spark, sfDir).filter(!isEvalDoc))
      .join(broadcast(evalGrams), Seq("gh"))
  }

  /** Streaming near-real-time exact dedup — the streaming twin of
    * dedup_incremental's md5 gate (TextOps): each incoming document is kept
    * only if its content hash has NOT been seen within the watermark
    * horizon; later arrivals of the same text are dropped by the state
    * store. `dropDuplicatesWithinWatermark` (not plain dropDuplicates) is
    * the point at 100 TB: state for a hash is released once the watermark
    * passes its ingestion time + horizon, so an unbounded ingestion stream
    * holds bounded state — the horizon is the dedup recall window, chosen
    * per pipeline (a day's re-crawl horizon, not corpus history; the full
    * corpus-history gate is the batch anti-join it composes with).
    * Ingestion time is derived deterministically from doc_id (one second
    * apart) so specs and re-runs see identical watermark behavior. */
  def incrementalDedup(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      // +1 day: the unfed stream's initial watermark sits at the epoch, and
      // doc_id 0 at exactly the epoch instant would be filtered as late
      .withColumn("ingest_ts", expr("timestamp_seconds(doc_id + 86400)"))
      .withColumn("h", md5(col("text").cast("binary")))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("h"))

  /** stream-stream interval self-join: pairs of events by the same user
    * within a 1-minute follow window. Both sides watermarked; the time-bound
    * predicate lets the state store expire rows — the canonical bounded
    * stream-stream join shape. */
  def followWithinMinute(events: DataFrame): DataFrame = {
    val l = events.select(col("event_id").as("l_id"), col("user_id").as("l_user"),
      col("ts").as("l_ts")).withWatermark("l_ts", "10 minutes")
    val r = events.select(col("event_id").as("r_id"), col("user_id").as("r_user"),
      col("ts").as("r_ts")).withWatermark("r_ts", "10 minutes")
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 1 MINUTE"))
      .select(col("l_id"), col("r_id"))
  }

  /** state for topKPerKey: the key's current top-k as (value, id) pairs,
    * sorted (value desc, id asc), length ≤ k — O(k) per key forever */
  final case class TopKSt(items: Seq[(Double, Long)])

  /** Streaming top-k-per-key — the incremental twin of the batch
    * bounded-heap operator (graft.plans.TopKPerKeyExec): per user, the k
    * highest event values with (value desc, event_id) total order. The
    * group state IS the answer — a ≤k-element sorted list merged with each
    * microbatch's rows, the same bounded-retention invariant the batch
    * heap enforces per partition. Emission is upsert-shaped: every batch
    * that touches a key re-emits that key's current (rank, event_id,
    * value) rows; with one AvailableNow batch (the registered
    * `stream_topk` query) that is exactly one row per (key, rank), and the
    * multi-batch spec disambiguates via foreachBatch batch ids. */
  def topKPerKey(spark: SparkSession, events: DataFrame, k: Int = 3): DataFrame = {
    import spark.implicits._
    val typed = events.filter(col("value").isNotNull)
      .select(col("user_id").as("uid"), col("value"), col("event_id").as("eid"))
      .as[(Long, Double, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[TopKSt, (Long, Int, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double, Long)], state: GroupState[TopKSt]) =>
          val prev = state.getOption.map(_.items).getOrElse(Seq.empty)
          val merged = (prev ++ rows.map { case (_, v, id) => (v, id) })
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          state.update(TopKSt(merged))
          merged.iterator.zipWithIndex.map { case ((v, id), i) => (uid, i + 1, id, v) }
      }
      .toDF("user_id", "rnk", "event_id", "value")
  }

  /** per-type CUSUM fold state: deviation prefix over CLOSED days (pf),
    * its running min (mn; MaxValue = none closed yet), and the OPEN day
    * with its accumulating micro-unit total — four longs, O(1) forever */
  final case class CusumSt(pf: Long, mn: Long, day: Long, acc: Long)

  /** state for timeToConvert: first signup day seen (-1 = none yet) and
    * whether the conversion latency was already emitted — O(1) per user,
    * forever */
  final case class ConvSt(sd: Long, done: Boolean)

  /** streaming signup→first-purchase latency: emits one (user_id, k) row
    * at the moment a user first purchases at/after their first signup —
    * the incremental twin of events_time_to_convert's per-user aggs.
    * Requires per-user day-ordered arrival across microbatches (the same
    * convention as [[cusumDaily]]); within a batch rows sort by day with
    * signups first, so a same-day signup+purchase converts (matching the
    * batch form's d >= sd). */
  def timeToConvert(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"),
        col("event_type"))
      .as[(Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[ConvSt, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String)], state: GroupState[ConvSt]) =>
          var st = state.getOption.getOrElse(ConvSt(-1L, done = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          rows.toArray
            .sortBy { case (_, d, t) => (d, if (t == "signup") 0 else 1) }
            .foreach { case (_, d, t) =>
              if (t == "signup") { if (st.sd < 0) st = st.copy(sd = d) }
              else if (st.sd >= 0 && !st.done && d >= st.sd) {
                out += ((uid, d - st.sd)); st = st.copy(done = true)
              }
            }
          state.update(st)
          out.iterator
      }
      .toDF("user_id", "k")
  }

  /** Streaming twin of the batch `events_cusum`: per-type one-sided CUSUM
    * over daily value totals, maintained incrementally against a
    * PRE-CALIBRATED reference (`refs`, stream-static joined — the real
    * deployment shape: calibrate ref offline, detect drift online). Each
    * day CLOSES when a later day's first row arrives; closing emits the
    * day's (total, cusum, alarm) row exactly once (append mode) via the
    * recurrence S = max(0, S_prev + (x − ref)) — algebraically the same
    * prefix-sum/running-min identity the batch twin windows over, so the
    * closed rows hash-match the batch query minus each type's open last
    * day. Requires day-ordered arrival per type across microbatches (the
    * scd2 twin's documented contract; mod-time-ordered files satisfy it). */
  def cusumDaily(spark: SparkSession, events: DataFrame,
      refs: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .join(broadcast(refs), Seq("event_type"))
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vu"),
        col("ref"))
      .as[(String, Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[CusumSt, (String, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Long, Long)], state: GroupState[CusumSt]) =>
          var st = state.getOption.getOrElse(CusumSt(0L, Long.MaxValue, Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Boolean)]
          var ref = 0L
          def closeDay(): Unit = {
            val pf = st.pf + (st.acc - ref)
            val mn = math.min(st.mn, pf)
            val cus = pf - math.min(0L, mn)
            out += ((tpe, st.day, st.acc, cus, cus > 2 * ref))
            st = CusumSt(pf, mn, Long.MinValue, 0L)
          }
          rows.toArray.sortBy(_._2).foreach { case (_, day, vu, r) =>
            ref = r
            if (st.day == Long.MinValue) st = st.copy(day = day, acc = vu)
            else if (day == st.day) st = st.copy(acc = st.acc + vu)
            else { closeDay(); st = st.copy(day = day, acc = vu) }
          }
          state.update(st)
          out.iterator
      }
      .toDF("event_type", "day", "x", "cusum", "alarm")
  }

  /** foreachBatch sink: per-microbatch parquet append keyed by batch id —
    * the streaming analogue of the partitioned filelist sink (op 14), and
    * the standard escape hatch for sinks Structured Streaming lacks. */
  def foreachBatchToParquet(df: DataFrame, outDir: String): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming count-min sketch maintenance — the incremental twin of the
    * batch `events_count_min` cells. Each arriving event increments its D
    * bucket counters; the running aggregation state IS the sketch: D×W
    * rows TOTAL regardless of stream length or key cardinality, the
    * canonical bounded-state frequency structure (heavy-hitter detection
    * over an unbounded stream with constant memory — no watermark needed
    * because the state cannot grow). Bucketing is
    * [[graft.operators.SketchOps.bucketed]] itself, so the incremental
    * cells cannot drift from the oracled batch sketch; parity is asserted
    * in StreamingSpec after an AvailableNow drain. */
  def countMinCells(events: DataFrame): DataFrame = {
    val b = graft.operators.SketchOps.bucketed(events)
    (1 to graft.operators.SketchOps.D).map { i =>
      b.select(lit(i).as("row"), col(s"b$i").as("bk"))
    }.reduce(_ unionByName _)
      .groupBy("row", "bk")
      .agg(count(lit(1)).as("n"))
  }

  /** Streaming HyperLogLog register maintenance — the incremental twin of
    * `events_hll_distinct`'s registers: each arriving event max-updates
    * its register's rho. Running state ≤ 64 rows forever (cardinality
    * tracking over an unbounded stream in constant memory, no watermark
    * needed). Rho/bucket come from [[graft.operators.SketchOps.hllBucketRho]]
    * itself, so the incremental registers cannot drift from the oracled
    * batch sketch; consumers fold the register frame into the integer
    * estimate exactly as the batch operator does. */
  def hllRegisters(events: DataFrame): DataFrame =
    graft.operators.SketchOps.hllBucketRho(events)
      .groupBy("bucket")
      .agg(max("rho").as("m"))

  /** streaming bloom-filter maintenance over purchase events: the running
    * bit-OR aggregation IS the filter (≤ ⌈BloomBits/63⌉ word rows forever).
    * Bit derivation is SketchOps.bloomBitRows — shared expression-for-
    * expression with the batch/oracled construction. */
  def bloomFilterWords(events: DataFrame): DataFrame =
    graft.operators.SketchOps.bloomWords(
      events.filter(col("event_type") === "purchase"), col("user_id"))

  /** memory-sink names must be fresh per run (RunOne re-runs a query
    * three times in one session): one process-wide sequence for all */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Drains `df` to completion (Trigger.AvailableNow) into a memory sink
    * named `queryName` plus `_<n>` from one process-wide sequence, and
    * returns that sink's table. */
  def runToCompletion(df: DataFrame, queryName: String): DataFrame =
    drain(df, queryName, OutputMode.Complete())

  /** append-mode runner (needed for flatMapGroupsWithState in Append) */
  def runAppendToCompletion(df: DataFrame, queryName: String): DataFrame =
    drain(df, queryName, OutputMode.Append())

  private def drain(df: DataFrame, queryName: String, mode: OutputMode): DataFrame = {
    val name = s"${queryName}_${runSeq.incrementAndGet()}"
    df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    df.sparkSession.table(name)
  }
}
