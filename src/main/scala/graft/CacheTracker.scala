package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one place that decides how long a cached frame lives. Three
  * lifetimes:
  *
  *  - per query: helpers cache through [[persist]], which pins the frame at
  *    MEMORY_AND_DISK and registers it; the harness (Verify and Bench after
  *    each query's action, Plans and RunOne per run, the specs that exercise
  *    such helpers in an afterEach) calls [[releaseAll]], so repeated query
  *    runs in one session do not accumulate cached blocks;
  *  - checkpointed: localCheckpoint()ed frames go through
  *    [[trackCheckpointed]] and are released by the same [[releaseAll]];
  *  - session: five memoized family frames are cached with a plain
  *    `persist` and never released here, because each is the family's
  *    shared amortization across queries and is bounded small —
  *    `RankOps.coPurchaseEdges` and `RankOps.weightedCoPurchase`,
  *    `RefFixtures.aclRecords`, `DedupOps.docShingles` and
  *    `StreamOps.decontamMatches`' eval-gram frame.
  *
  * Operators that cache and release a frame inside their own method
  * (`Prefix.scan`'s input, the label-propagation edge lists in GraphOps,
  * CopyExecutor's RDDs) persist and unpersist it themselves.
  */
object CacheTracker {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Boolean => Unit]()

  private def track(df: DataFrame): DataFrame = { tracked.add(b => df.unpersist(b)); df }

  /** cache `df` for the current query: persisted MEMORY_AND_DISK and
    * released by the next [[releaseAll]]. A frame that is already cached
    * (by the caller, by a session memo, or as an identical plan earlier
    * in the query) is returned untouched and not registered, so a release
    * never drops a cache this call did not make. */
  def persist(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else track(df.persist(StorageLevel.MEMORY_AND_DISK))

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
