package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Runs one workload in this JVM and writes its record for `run.py`:
  * set-up rounds, then max(1, round(seconds / nominal pass seconds)) whole
  * passes. With `--trace 0` the passes are untraced and give the
  * end-to-end metrics. With `--trace 1` the same passes are traced and give
  * the per-layer metrics, the spans are written to `--spans`, and the same
  * work run untraced and traced once more measures the tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *             --data DIR --work DIR --out FILE [--spans FILE] */
object Main {
  /** set-ups per run; setup_s is their median */
  val SetupRounds = 2

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = Paths.get(opt("work"))
    HeapWatch.install()

    val tracer = new Tracer(s"$name-$seed-trace${opt("trace")}", keep = trace)
    val ctx = new Ctx(tracer, new Checks, new CounterArray(CountingFileOps.Size))
    val workload: Workload = name match {
      case "query_suite" =>
        new QuerySuite(ctx, opt("data"), seed, Files.createDirectories(work.resolve("results")))
      case "migrate" =>
        new Migrate(ctx, work.resolve("tree"), cpus, "mig", Some(work.resolve("warmup")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setups = ArrayBuffer.empty[(Double, Double)]
    val passes = ArrayBuffer.empty[Seq[Step]]
    var overhead: Option[(Double, Double)] = None
    val (_, runS) = tracer.timed("run") {
      for (_ <- 1 to SetupRounds) tracer.span("setup") {
        if (spark != null) spark.stop()
        val (s, sessionS) = tracer.timed("setup.session") {
          val s = Sessions.local(cpus.toString)
          s.sparkContext.setLogLevel("ERROR")
          s
        }
        spark = s
        val (_, warmS) = tracer.timed("setup.warmup")(workload.warmUp(s))
        setups += ((sessionS, warmS))
      }
      spark.sparkContext.register(ctx.ops, "fileops")
      if (trace) ctx.probe = Some(new SparkProbe(spark))
      // a count fixed by --seconds alone, so every run of a workload
      // measures the same work whatever the speed of the host
      val count = math.max(1L, math.round(opt("seconds").toDouble / workload.nominalPassSeconds))
      for (_ <- 1L to count) passes += tracer.span("pass")(workload.pass(spark, trace))
      if (trace) overhead = Some(tracer.span("overhead")(workload.overhead(spark)))
    }

    def passSeconds(p: Seq[Step]): Double = p.map(_.seconds).sum
    val passS = median(passes.map(passSeconds).toSeq)
    val stepMedians = passes.head.map(_.name).distinct
      .map(n => median(passes.flatMap(_.filter(_.name == n).map(_.seconds)).toSeq))
    val e2e = Seq(
      "setup_s" -> median(setups.map { case (a, b) => a + b }.toSeq),
      "pass_s" -> passS,
      "step_geomean_ms" -> math.exp(stepMedians.map(s => math.log(s * 1000)).sum / stepMedians.size),
      "items_per_s" -> workload.items / passS,
      "mib_per_s" -> workload.mib / passS)
    val layers = overhead.map { case (plain, traced) =>
      Layers(passes.toSeq, setups.toSeq, tracer) :+ ("trace.overhead_ratio" -> traced / plain)
    }.getOrElse(Seq.empty)

    Files.writeString(Paths.get(opt("out")), Json.obj(Seq(
      "attempted" -> ctx.checks.attempted,
      "failed" -> ctx.checks.failed,
      "problems" -> ctx.checks.problems.toSeq,
      "passes" -> passes.size,
      "run_s" -> runS,
      "e2e" -> e2e.toMap,
      "layers" -> layers.toMap)))
    opt.get("spans").filter(_ => trace)
      .foreach(f => Files.write(Paths.get(f), tracer.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8")))
    spark.stop()
  }
}

/** The per-layer metrics of the traced passes: medians over passes of
  * each pass's totals; layers a workload does not reach read 0. */
object Layers {
  import Main.median

  def apply(passes: Seq[Seq[Step]], setups: Seq[(Double, Double)],
      tracer: Tracer): Seq[(String, Double)] = {
    def stepS(name: String): Double = median(passes.flatMap(_.filter(_.name == name).map(_.seconds)))
    def count(step: String, key: String): Double =
      median(passes.flatMap(_.find(_.name == step)).map(_.counts.getOrElse(key, 0L).toDouble))
    // statuses of both copyInventory calls, the copy and the preflight re-run
    def copied(status: String): Double =
      Seq("copy", "rerun").map(s => count(s, status) + count(s, status + "/dir")).sum
    val sparkPerPass = passes.map(_.flatMap(_.spark).foldLeft(SparkStats())(_ + _))
    def sparkMed(f: SparkStats => Double): Double = median(sparkPerPass.map(f))
    val zero = new Array[Long](CountingFileOps.Size)
    def opsOf(steps: Seq[Step]): Array[Long] =
      steps.flatMap(_.ops).foldLeft(zero) { (a, b) => a.zip(b).map { case (x, y) => x + y } }
    val opsPerPass = passes.map(opsOf)
    def opsMed(i: Int): Double = median(opsPerPass.map(_(i).toDouble))
    def busyS(ops: Array[Long]): Double =
      CountingFileOps.Verbs.indices.map(v => ops(2 * v + 1)).sum / 1e9
    val copySelf = median(passes.flatMap(_.find(_.name == "copy")).map { s =>
      s.spark.map(_.taskRunS).getOrElse(0.0) - s.ops.map(busyS).getOrElse(0.0)
    })
    val scanS = stepS("sources.scan")
    val entries = count("sources.scan", "entries")

    Seq(
      "setup.session_s" -> median(setups.map(_._1)),
      "setup.warmup_s" -> median(setups.map(_._2)),
      "sources.scan_s" -> scanS,
      "sources.entries" -> entries,
      "sources.entries_per_s" -> (if (scanS > 0) entries / scanS else 0.0),
      "operators.pack_s" -> stepS("operators.pack")) ++
    QuerySuite.Queries.map(q => s"query.${q}_s" -> stepS(s"query.$q")) ++
    Seq(
      "copy.call_s" -> stepS("copy"),
      "copy.self_s" -> copySelf,
      "copy.ok" -> copied("ok"),
      "copy.skipped" -> copied("skipped"),
      "copy.failed" -> copied("failed"),
      "verify.call_s" -> stepS("verify"),
      "remap.call_s" -> stepS("remap"),
      "rerun.call_s" -> stepS("rerun")) ++
    CountingFileOps.Verbs.zipWithIndex.flatMap { case (v, i) =>
      Seq(s"fileops.$v.calls" -> opsMed(2 * i), s"fileops.$v.busy_s" -> opsMed(2 * i + 1) / 1e9)
    } ++
    Seq(
      "fileops.bytes_read" -> opsMed(CountingFileOps.BytesRead),
      "fileops.bytes_appended" -> opsMed(CountingFileOps.BytesAppended),
      "fileops.failed" -> opsMed(CountingFileOps.Failed),
      "spark.jobs" -> sparkMed(_.jobs.toDouble),
      "spark.stages" -> sparkMed(_.stages.toDouble),
      "spark.tasks" -> sparkMed(_.tasks.toDouble),
      "spark.task_run_s" -> sparkMed(_.taskRunS),
      "spark.task_cpu_s" -> sparkMed(_.taskCpuS),
      "spark.gc_s" -> sparkMed(_.gcS),
      "spark.shuffle_write_mib" -> sparkMed(_.shuffleWriteMiB),
      "spark.shuffle_read_mib" -> sparkMed(_.shuffleReadMiB),
      "spark.spill_mib" -> sparkMed(_.spillMiB),
      "spark.task_skew" -> sparkPerPass.map(_.taskSkew).foldLeft(0.0)(math.max),
      "plan.exchanges" -> sparkMed(_.exchanges.toDouble),
      "codegen.compile_s" -> sparkMed(_.compileS),
      "jvm.heap_after_gc_peak_mib" -> HeapWatch.peakMiB)
  }
}
