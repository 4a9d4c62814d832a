package graft

import org.apache.spark.sql.DataFrame

/** Registry for per-query persisted helper frames (Prefix.scan's ranged
  * frames, label-propagation edge lists, ...). Helpers `track` what they persist;
  * the harness (Verify and Bench after each query's action; the specs that
  * exercise tracked helpers in an afterEach) calls `releaseAll()`, so
  * repeated query runs in one session do not accumulate cached blocks for
  * the session's lifetime.
  *
  * Deliberately NOT tracked: the dedup family's memoized per-document
  * shingle frame (DedupOps.docShingles) — that cache is the family's
  * shared amortization across queries and is bounded at one small row per
  * document.
  */
object CacheTracker {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Boolean => Unit]()

  /** register a persisted frame for release after the current query */
  def track(df: DataFrame): DataFrame = { tracked.add(b => df.unpersist(b)); df }

  /** register a localCheckpoint()ed frame. Its blocks belong to the
    * checkpointed RDD, which `DataFrame.unpersist` does not reach (the
    * CacheManager never saw the plan) — without this hook they are
    * reclaimed only by the context cleaner's periodic driver GC (30 min
    * default), a session-lifetime leak in any long-lived service. The
    * frame must not be re-executed after release: checkpointed lineage
    * is truncated and cannot recompute, so a reuse fails loudly instead
    * of silently recomputing like a plain persisted frame would. */
  def trackCheckpointed(df: DataFrame): DataFrame = {
    val rdds = checkpointRdds(df)
    tracked.add(b => rdds.foreach(_.unpersist(b)))
    df
  }

  /** the materialized RDDs under a localCheckpoint()ed frame's plan */
  private[graft] def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** release every tracked frame (no-op on already-released ones).
    * `blocking = true` waits for block removal — Bench uses it so the
    * asynchronous cleanup of one query's caches cannot overlap the next
    * query's timed section. */
  def releaseAll(blocking: Boolean = false): Unit = {
    var rel = tracked.poll()
    while (rel != null) {
      rel(blocking)
      rel = tracked.poll()
    }
  }
}
