package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // "sqlonly" third arg: refresh oracle_sql.json without re-running Spark
    // (local iteration on oracle SQL via tools/compare.py)
    val sqlOnly = args.length > 2 && args(2) == "sqlonly"
    if (sqlOnly) {
      new java.io.File(outDir).mkdirs()
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson())
      return
    }
    // optional args(2..): restrict to the named queries (local iteration;
    // the driver always runs the full set)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      def runOnce(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      try runOnce()
      catch { case first: Throwable =>
        // a long-lived verify JVM accumulates memoized family caches; on a
        // memory-shaped failure, drop everything cached and retry once
        System.err.println(s"[verify] $name failed (${first.getMessage}); " +
          "clearing caches and retrying once")
        try {
          CacheTracker.releaseAll(blocking = true)
          spark.catalog.clearCache() // memoized family frames recompute uncached
          runOnce()
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      finally CacheTracker.releaseAll() // per-query helper caches
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson())
    spark.stop()
  }

  /** `{name: oracle SQL}` as one JSON object; json4s escapes quotes,
    * backslashes and every control char — a stray tab or CR in
    * hand-written SQL must not make the DuckDB compare's json.load fail
    * and silently zero the correctness read. */
  private[graft] def oracleJson(sql: Map[String, String] = SparkEntry.oracleSql): String =
    compact(render(JObject(sql.toList.map { case (k, v) => k -> JString(v) })))
}
