package graft

import org.apache.spark.sql.{DataFrame, SparkSession}


/** Dev helper: run a single registered query, or a library surface (an
  * op that is deliberately not a registered query — data-dependent shapes
  * the SQL oracle cannot express), and show plan + rows.
  * Usage: runMain graft.RunOne <name> [sfDir] [explain] [jobs] [show] [conf:k=v ...]
  * `explain` prints the formatted plan, then each whole-stage-codegen
  * stage's largest generated method, marking any over HotSpot's JIT limit
  * (the static plan's stages: see [[codegenMethodSizes]]).
  * `jobs` prints a per-Spark-job wall/desc line after each iteration —
  * the job-count/orchestration attribution view (r12: most bench queries
  * at sf0.1 are bound by per-job fixed cost, not compute).
  * Each timed iteration builds its frame inside the timer and releases
  * every tracked cache after its count, as Bench does, so no iteration
  * reads an earlier one's cached family frames; iter2/iter3 are warm in
  * the JVM only.
  */
object RunOne {
  /** HotSpot's limit (`-XX:+DontCompileHugeMethods`, on by default): a
    * method with more bytecode than this is never JIT-compiled */
  val HugeMethodLimit = 8000

  /** (first line of the stage's plan, largest generated method in bytes)
    * per whole-stage-codegen stage of the frame `build` returns, planned
    * without adaptive execution: AQE collapses codegen stages only as it
    * runs them, and drops from its final plan any stage that an empty
    * input cut off, so only the static plan shows every stage up front. */
  def codegenMethodSizes(spark: SparkSession)(build: => DataFrame): Seq[(String, Int)] = {
    val aqe = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try build.queryExecution.debug.codegenToSeq().map { case (subtree, _, stats) =>
      (subtree.linesIterator.next(), stats.maxMethodCodeSize)
    } finally spark.conf.set(aqe, was)
  }

  private val library: Map[String, (SparkSession, String) => DataFrame] = Map(
    "semdedup_scaled" -> ((spark, sfDir) =>
      graft.operators.SimilarityOps.semDedupScaled(spark, sfDir)),
    // the rank()-form twin of topk_heap_wide: RewriteRankLimit never
    // fires on rank (boundary ties), so this rides Spark's built-in
    // sort-based WindowGroupLimit path — the A/B control for the
    // bounded-heap operator (TopKPlanSpec proves row-identity)
    "topk_control" -> { (spark, sfDir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .withColumn("rn", rank().over(w))
        .filter(col("rn") <= 3)
    })

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val run = SparkEntry.queries.getOrElse(name, library.getOrElse(name,
      sys.error(s"$name is neither a registered query nor a library surface " +
        s"(${library.keys.toSeq.sorted.mkString(", ")})")))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus)
    if (args.contains("jobs")) {
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(js.jobId, (System.nanoTime(),
              Option(js.properties.getProperty("spark.job.description"))
                .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse(""))))
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (s, desc) = starts.getOrDefault(je.jobId, (0L, "?"))
            println(f"[job] id=${je.jobId}%3d at=${(s - t0) / 1e9}%7.2f " +
              f"wall=${(System.nanoTime() - s) / 1e9}%6.3f  ${desc.take(110)}")
          }
        })
    }
    spark.sparkContext.setLogLevel("WARN")
    // ad-hoc runtime confs for A/B splits, e.g. conf:spark.graft.merge.checkKeys=false
    args.filter(_.startsWith("conf:")).foreach { a =>
      val kv = a.stripPrefix("conf:").split("=", 2)
      spark.conf.set(kv(0), kv(1))
    }
    if (args.contains("explain")) {
      run(spark, sfDir).explain("formatted")
      CacheTracker.releaseAll(blocking = true)
      codegenMethodSizes(spark)(run(spark, sfDir)).foreach { case (stage, bytes) =>
        val mark = if (bytes > HugeMethodLimit) "  OVER JIT LIMIT" else ""
        println(f"[codegen] max method $bytes%6d bytes$mark  ${stage.take(100)}")
      }
      CacheTracker.releaseAll(blocking = true)
    }
    (1 to 3).foreach { it =>
      val t0 = System.nanoTime()
      val n = run(spark, sfDir).count()
      println(f"[runone] $name iter$it rows=$n in ${(System.nanoTime() - t0) / 1e9}%.2f sec")
      CacheTracker.releaseAll(blocking = true)
    }
    // a fresh frame: the timed ones' checkpointed caches are released
    if (args.contains("show")) run(spark, sfDir).show(20, truncate = false)
    spark.stop()
  }
}
