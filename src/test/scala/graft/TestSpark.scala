package graft

import org.apache.spark.sql.SparkSession

/** one SparkSession shared across all suites (forked test JVM).
  *
  * Guarded against context death: if the shared context has been stopped
  * (a noisy host can kill it mid-suite — the r12 driver run lost two
  * unrelated SourcesSpec tests to exactly this), the next access rebuilds
  * a fresh session instead of handing every downstream suite a dead one.
  * getOrCreate alone is not enough: the cached default session still
  * points at the stopped context. */
object TestSpark {
  @volatile private var cached: SparkSession = _

  def spark: SparkSession = {
    val c = cached
    if (c != null && !c.sparkContext.isStopped) c
    else synchronized {
      if (cached == null || cached.sparkContext.isStopped) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val s = SparkSession.builder()
          .master("local[8]")
          .appName("graft-test")
          .config("spark.sql.extensions", "graft.plans.GraftExtensions")
          .config("spark.sql.shuffle.partitions", "8")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          // same codegen-cache sizing rationale as Sessions.local: the
          // shared test session runs hundreds of distinct plans
          .config("spark.sql.codegen.cache.maxEntries", "4096")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        cached = s
      }
      cached
    }
  }
  val Sf = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it started on this thread, counted
    * under job group `group` */
  def jobsDuring[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** Drains CacheTracker-tracked blocks after every test. Any spec that runs
  * SparkEntry queries must mix this in: tracked persists (e.g. Prefix.scan's
  * ranged frame under train_pack_sequences) otherwise accumulate in the
  * shared session until an unrelated suite happens to release them. */
trait CacheDrained extends org.scalatest.BeforeAndAfterEach {
  this: org.scalatest.Suite =>
  override def afterEach(): Unit =
    try super.afterEach() finally CacheTracker.releaseAll()
}
