package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {

  /** writes `df` as the single parquet file `dir/name.parquet` */
  private def writeTable(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit = {
    val out = Files.createTempDirectory("graft-tables-write")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table's schema is inferred once while its file is unchanged; a rewrite re-infers it") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("graft-tables")
    val group = "graft-tables-schema"
    writeTable(spark.range(10).toDF("a"), dir, "t")
    val (first, firstJobs) = TestSpark.jobsDuring(group)(Tables.table(spark, dir.toString, "t"))
    assert(firstJobs >= 1, "the first read infers the schema in a Spark job")
    val (second, secondJobs) = TestSpark.jobsDuring(group)(Tables.table(spark, dir.toString, "t"))
    assert(secondJobs == 0, s"a second read of an unchanged table started $secondJobs jobs")
    assert(second.schema == first.schema)
    assert(second.count() == 10L)

    writeTable(spark.range(5).selectExpr("id AS a", "CAST(id AS STRING) AS b"), dir, "t")
    val (rewritten, rewrittenJobs) = TestSpark.jobsDuring(group)(Tables.table(spark, dir.toString, "t"))
    assert(rewrittenJobs >= 1, "a rewritten table is inferred again")
    assert(rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.count() == 5L)
  }
}
