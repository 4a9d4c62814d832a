package graft

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** driver-contract smoke checks */
class EntrySpec extends AnyFunSuite with CacheDrained {

  test("entry returns rows > 0 on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("query names are unique; every oracle key has a query") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.toSet.subsetOf(SparkEntry.queries.keySet))
  }

  /** oracle_sql.json must read back unchanged: a raw control char in it
    * fails the DuckDB compare's json.load and zeroes the correctness read */
  private def roundTrip(sql: Map[String, String]): Unit = {
    val json = Verify.oracleJson(sql)
    assert(json.forall(_ >= ' '), "no raw control char in the JSON text")
    val back = parse(json) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case other => fail(s"not an object: $other")
    }
    assert(back == sql)
  }

  test("oracle JSON round-trips every registered oracle SQL string") {
    roundTrip(SparkEntry.oracleSql)
  }

  test("oracle JSON escapes quote, backslash and control chars") {
    roundTrip(Map(
      "q\"name\\\t" -> "SELECT '\"a\\b\tc\rd\ne\u0001f' AS s",
      "plain" -> "SELECT 1"))
  }

  /** sim_near_dup_t08 is empty BY DESIGN on the demo corpus (max cosine
    * ~0.51 < tau=0.8) — the oracle agrees on empty, and SimilaritySpec pins
    * its candidate pipeline; every other query must return rows */
  private val EmptyByDesign = Set("sim_near_dup_t08")

  test("every registered query returns rows on sf0.001") {
    val spark = TestSpark.spark
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSpark.Sf).count()
      if (EmptyByDesign(name)) assert(n == 0, s"query $name expected empty, got $n")
      else assert(n > 0, s"query $name returned 0 rows")
    }
  }
}
