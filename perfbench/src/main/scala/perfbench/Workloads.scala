package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheTracker, SparkEntry, Tables}
import graft.exec.{CopyExecutor, FileOps, HadoopFileOps}
import graft.operators.PackingOps

/** One timed call into a layer within a pass, with what the traced run
  * saw underneath it: Spark's runtime totals and the FileOps counters. */
final case class Step(name: String, seconds: Double, counts: Map[String, Long] = Map.empty,
    spark: Option[SparkStats] = None, ops: Option[Array[Long]] = None)

/** Tallies every checked outcome: the run is correct when none failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val problems: collection.mutable.ArrayBuffer[String] = collection.mutable.ArrayBuffer.empty

  def check(ok: Boolean, what: => String): Unit = tally(what, 1L, if (ok) 0L else 1L)

  def tally(what: => String, attempted: Long, failed: Long): Unit = {
    this.attempted += attempted
    this.failed += failed
    if (failed > 0) {
      if (problems.size < 20) problems += what
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }
}

/** What a workload's pass steps share: the tracer, the optional probes of
  * the traced run, and the check tally. */
final class Ctx(val tracer: Tracer, val checks: Checks, val ops: CounterArray) {
  var probe: Option[SparkProbe] = None

  /** time `body` as a step; on a traced pass also capture the Spark and
    * FileOps totals of that step alone */
  def step(name: String, traced: Boolean)(body: => Map[String, Long]): Step = {
    val p = probe.filter(_ => traced)
    p.foreach(_.start())
    val before = ops.value.clone()
    val (counts, secs) = tracer.timed(name)(body)
    val stats = p.map(_.take())
    val delta = if (traced) Some(ops.value.zip(before).map { case (a, b) => a - b }) else None
    Step(name, secs, counts, stats, delta)
  }
}

trait Workload {
  /** run in every set-up round, on a fresh session, before any pass */
  def warmUp(spark: SparkSession): Unit
  /** one timed pass; `traced` passes hand the engine counting FileOps */
  def pass(spark: SparkSession, traced: Boolean): Seq[Step]
  /** seconds of the same work untraced and traced, run in alternating
    * order so that drift from warming up cancels */
  def overhead(spark: SparkSession): (Double, Double)
  /** about how long one pass takes; sets the number of passes per run */
  def nominalPassSeconds: Double
  /** what one pass processes, for the throughput metrics */
  def items: Double
  def mib: Double
}

/** Bench queries over the checked-in sf0.01 tables, in seeded order. A
  * pass writes every query's full result as parquet under `outDir`, where
  * the oracle check reads the last pass's results. */
final class QuerySuite(ctx: Ctx, dataDir: String, seed: Long, outDir: Path) extends Workload {
  val order: Seq[String] = new scala.util.Random(seed).shuffle(QuerySuite.Queries)
  override def nominalPassSeconds: Double = 30.0
  override def items: Double = order.size.toDouble
  override def mib: Double = Files.list(Paths.get(dataDir)).iterator().asScala
    .map(Files.size(_)).sum / SparkProbe.MiB

  /** a scan of every column of every table, so no timed query pays
    * first-touch reads, then one bench query outside the suite written as
    * parquet, so the first query of the seeded order does not pay the
    * start-up of joins, exchanges and the writer alone */
  override def warmUp(spark: SparkSession): Unit = {
    Tables.names.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dataDir) else Tables.table(spark, dataDir, t)
      df.write.format("noop").mode("overwrite").save()
    }
    SparkEntry.queries(QuerySuite.WarmUpQuery)(spark, dataDir).write.mode("overwrite")
      .parquet(outDir.resolve("_warmup").toString)
    CacheTracker.releaseAll(blocking = true)
  }

  private def run(spark: SparkSession, q: String, traced: Boolean): Step = {
    val s = ctx.step(s"query.$q", traced) {
      try {
        SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite")
          .parquet(outDir.resolve(q).toString)
        ctx.checks.check(ok = true, q)
      } catch { case e: Exception => ctx.checks.check(ok = false, s"$q: $e") }
      Map.empty
    }
    CacheTracker.releaseAll(blocking = true)
    s
  }

  override def pass(spark: SparkSession, traced: Boolean): Seq[Step] = order.map(run(spark, _, traced))

  /** every query twice in a row, untraced and traced, the order flipping
    * from one query to the next */
  override def overhead(spark: SparkSession): (Double, Double) = {
    val steps = order.zipWithIndex.flatMap { case (q, i) =>
      val flags = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      flags.map(traced => traced -> run(spark, q, traced).seconds)
    }
    (steps.collect { case (false, s) => s }.sum, steps.collect { case (true, s) => s }.sum)
  }
}

object QuerySuite {
  /** The suite: 8 of the engine's 42 bench queries, one per operator
    * family (joins, inventory, packing, MinHash, near-duplicate search,
    * windows, ranking, bloom prefilter), including roadmap targets. All 42
    * take too long from a fresh JVM for the run budget. */
  val Queries: Seq[String] = Seq(
    "tpch_q3", "identity_join", "pack_nextfit_dist", "dedup_minhash", "sim_near_dup_t08",
    "events_session", "rec_item_item", "join_bloom_prefilter")
  /** run in set-up only: joins, aggregates, a sort and exchanges */
  val WarmUpQuery = "tpch_q5"
  require(Queries.forall(SparkEntry.benchQueries.contains) && !Queries.contains(WarmUpQuery),
    s"not bench queries: ${Queries.filterNot(SparkEntry.benchQueries.contains)}")
}

/** One seeded tree migrated from one graftfs account to another: the
  * inventory scan, Data Box packing, the chunked copy, BOM verification,
  * the identity remap, and an idempotent preflight re-run. */
final class Migrate(ctx: Ctx, work: Path, cpus: Int, account: String,
    warmTree: Option[Path] = None) extends Workload {
  import Migrate._

  private val srcRoot = work.resolve("src")
  private val dstRoot = work.resolve("dst")
  private val conf = Map(
    "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
    s"fs.graftfs.root.${account}src" -> srcRoot.toString,
    s"fs.graftfs.root.${account}dst" -> dstRoot.toString,
    "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
  private val srcOps: FileOps = new HadoopFileOps(s"graftfs://${account}src", conf)
  private val dstOps: FileOps = new HadoopFileOps(s"graftfs://${account}dst", conf)

  private val manifest: Seq[Entry] = Files.readAllLines(work.resolve("manifest.tsv")).asScala.toSeq
    .map(_.split("\t")).map(f => Entry(f(0), f(1) == "d", f(2).toLong, f(3), f(4)))
  private val idmap: Seq[(String, String, String)] = Files.readAllLines(work.resolve("idmap.tsv"))
    .asScala.toSeq.map(_.split("\t")).map(f => (f(0), f(1), f(2)))
  private val totalBytes = manifest.map(_.length).sum
  /** Data Box capacity scaled to the tree, so packing opens several units */
  private val capacity = math.max(1L, totalBytes / 4)
  private var passes = 0

  override def nominalPassSeconds: Double = 6.5
  override def items: Double = manifest.size.toDouble
  override def mib: Double = totalBytes / SparkProbe.MiB

  /** one whole pass over the small warm-up tree, every step of it, so
    * that each step's plans are compiled and its code is warm before the
    * first timed pass */
  override def warmUp(spark: SparkSession): Unit = warmTree.foreach { t =>
    val warm = new Migrate(ctx, t, cpus, "warm")
    warm.clearDestination()
    warm.pass(spark, traced = false)
    warm.clearDestination()
  }

  private def clearDestination(): Unit = if (Files.exists(dstRoot)) {
    val paths = Files.walk(dstRoot)
    try paths.iterator().asScala.toSeq.reverse.filter(_ != dstRoot).foreach(Files.delete)
    finally paths.close()
  }

  private def scan(spark: SparkSession): DataFrame =
    conf.foldLeft(spark.read.format("graft-inventory").option("root", s"graftfs://${account}src/")) {
      case (r, (k, v)) => r.option("hadoop." + k, v)
    }.load().select("name", "parent_directory", "is_folder", "length", "owner", "grp", "perms")

  /** inventory rows with owner and group remapped through the identity
    * map; unmapped principals pass through unchanged */
  private def remapped(spark: SparkSession, inv: DataFrame): DataFrame = {
    import spark.implicits._
    val idm = idmap.toDF("itype", "source", "target")
    val mu = idm.filter($"itype" === "user").select($"source".as("u_source"), $"target".as("u_target"))
    val mg = idm.filter($"itype" === "group").select($"source".as("g_source"), $"target".as("g_target"))
    inv.join(broadcast(mu), $"owner" === $"u_source", "left")
      .join(broadcast(mg), $"grp" === $"g_source", "left")
      .select($"name", coalesce($"u_target", $"owner").as("new_owner"),
        coalesce($"g_target", $"grp").as("new_grp"),
        ($"u_target".isNotNull || $"g_target".isNotNull).as("changed"))
  }

  /** passes untraced, traced, traced, untraced */
  override def overhead(spark: SparkSession): (Double, Double) = {
    val secs = Seq(false, true, true, false).map(t => t -> pass(spark, t).map(_.seconds).sum)
    (secs.collect { case (false, s) => s }.sum, secs.collect { case (true, s) => s }.sum)
  }

  /** status counts keyed "status" for files and "status/dir" for folders */
  private def statusCounts(results: DataFrame): Map[String, Long] =
    results.groupBy(col("status"), col("detail") === "dir").count().collect()
      .map(r => (if (r.getBoolean(1)) r.getString(0) + "/dir" else r.getString(0)) -> r.getLong(2))
      .toMap

  override def pass(spark: SparkSession, traced: Boolean): Seq[Step] = {
    if (passes > 0) ctx.tracer.span("cleanup")(clearDestination())
    passes += 1
    val (src, dst) =
      if (traced) (new CountingFileOps(srcOps, ctx.ops), new CountingFileOps(dstOps, ctx.ops))
      else (srcOps, dstOps)
    var inv: DataFrame = null
    var packed: Array[(String, Long, Long)] = Array.empty
    val steps = Seq(
      ctx.step("sources.scan", traced) {
        inv = scan(spark).persist()
        Map("entries" -> inv.count())
      },
      ctx.step("operators.pack", traced) {
        val sizes = inv.filter(!col("is_folder"))
          .groupBy(col("parent_directory").as("path")).agg(sum("length").as("size"))
        packed = PackingOps.nextFitDist(spark, sizes, capacity = capacity)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        CacheTracker.releaseAll()
        Map("dirs" -> packed.length.toLong)
      },
      ctx.step("copy", traced) {
        statusCounts(CopyExecutor.copyInventory(spark, inv, dst, parallelism = cpus, source = Some(src)))
      },
      ctx.step("verify", traced) {
        CopyExecutor.verifyCopy(spark, inv, dst, parallelism = cpus)
          .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      },
      ctx.step("remap", traced) {
        statusCounts(CopyExecutor.applyOwnerRemap(spark, inv, remapped(spark, inv), dst, parallelism = cpus))
      },
      ctx.step("rerun", traced) {
        statusCounts(CopyExecutor.copyInventory(spark, inv, dst, parallelism = cpus,
          source = Some(src), preflight = true))
      })
    ctx.tracer.span("check")(checkPass(steps, packed))
    ctx.tracer.span("cleanup") {
      inv.unpersist(blocking = true)
      spark.catalog.clearCache()
      CacheTracker.releaseAll(blocking = true)
    }
    steps
  }

  /** every step's output against what the manifest and identity map say
    * it must be */
  private def checkPass(steps: Seq[Step], packed: Array[(String, Long, Long)]): Unit = {
    val c = ctx.checks
    val counts = steps.map(s => s.name -> s.counts).toMap
    val files = manifest.count(!_.isFolder).toLong
    val dirs = manifest.count(_.isFolder).toLong
    c.check(counts("sources.scan")("entries") == manifest.size,
      s"scan listed ${counts("sources.scan")("entries")} entries, tree has ${manifest.size}")

    val expected = expectedUnits(manifest, capacity)
    c.check(packed.sortBy(_._1).toSeq == expected,
      s"packing differs from next-fit over ${expected.size} directories")

    // one tally per operation: each expected status not seen, and each
    // operation beyond the expected ones, is a failure
    def statuses(step: String, want: Map[String, Long]): Unit = {
      val got = counts(step)
      val matched = want.map { case (k, n) => math.min(got.getOrElse(k, 0L), n) }.sum
      val attempted = math.max(want.values.sum, got.values.sum)
      c.tally(s"$step statuses $got, expected $want", attempted, attempted - matched)
    }
    statuses("copy", Map("ok" -> files, "ok/dir" -> dirs))
    statuses("verify", Map("ok" -> dirs))
    val users = idmap.collect { case ("user", s, _) => s }.toSet
    val groups = idmap.collect { case ("group", s, _) => s }.toSet
    statuses("remap", Map("ok" -> manifest.count(e => users(e.owner) || groups(e.group)).toLong)
      .filter(_._2 > 0))
    statuses("rerun", Map("skipped" -> files, "ok/dir" -> dirs))
  }
}

object Migrate {
  final case class Entry(path: String, isFolder: Boolean, length: Long, owner: String, group: String)

  private def parentOf(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i <= 0) "/" else path.substring(0, i)
  }

  /** next-fit over directories in path order: a running byte total, unit
    * = total DIV capacity + 1, oversized directories in unit 0 */
  def expectedUnits(manifest: Seq[Entry], capacity: Long): Seq[(String, Long, Long)] = {
    val sizes = manifest.filter(!_.isFolder).groupBy(e => parentOf(e.path))
      .map { case (d, es) => d -> es.map(_.length).sum }.toSeq.sortBy(_._1)
    var cum = 0L
    sizes.map { case (d, size) =>
      if (size > capacity) (d, size, 0L)
      else { cum += size; (d, size, cum / capacity + 1) }
    }
  }
}
