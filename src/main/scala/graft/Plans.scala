package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal


/** Dumps the final (AQE-resolved) physical plan of each audited query to
  * one markdown file — the per-round plan audit (broadcasts, pushed
  * filters, read schemas, codegen spans) and the before/after evidence of
  * a plan change: run it once per commit with the same query list and
  * diff the two files.
  * Usage: runMain graft.Plans [sfDir] [outFile] [query ...]; with no
  * query list the audited set below is dumped to PLANS.md. */
object Plans {
  /** bench set + the plan-pinned DSv2 pushdown queries (not benched —
    * fixture-tree scale — but their PushedAggregation / PushedFilters
    * scan lines are exactly what this audit exists to show) */
  private def audited: Seq[String] = SparkEntry.benchQueries ++
    Seq("inv_agg_pushdown", "inv_agg_pushdown_prefix", "inv_incremental_scan",
      "inv_owner_scan", "inv_owner_rollup")
      .filterNot(SparkEntry.benchQueries.contains)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val names = if (args.length > 2) args.drop(2).toSeq else audited
    val spark = Sessions.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — final physical plans of the audited queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. `*(n)` prefixes = ")
    sb.append("WholeStageCodegen spans; look for BroadcastHashJoin on dimension\n")
    sb.append("joins, PushedFilters/ReadSchema on scans, AQEShuffleRead coalescing.\n")
    names.foreach { name =>
      sb.append(s"\n## $name\n\n```\n")
      // one failing query is recorded in place and must not abort the dump
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect() // finalize AQE
        sb.append(df.queryExecution.executedPlan.toString.take(12000))
      } catch {
        case NonFatal(e) =>
          sb.append(s"FAILED: $e")
          System.err.println(s"[plans] $name FAILED: $e")
      } finally CacheTracker.releaseAll()
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
