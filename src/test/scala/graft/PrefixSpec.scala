package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Prefix

/** Prefix.scan against the single-partition global ROWS-frame window it
  * replaces, on inputs chosen to break a two-phase scan: duplicate sort
  * keys, null values and null keys, one hot key, inputs pre-split by an
  * unrelated `repartition(13, …)`, and fewer distinct keys than shuffle
  * partitions (so some range partitions are empty). */
class PrefixSpec extends AnyFunSuite with CacheDrained {

  /** (label, frame, sort keys). Where the sort keys can tie, `v` is
    * constant within a key, so the multiset of outputs per key is the same
    * for every order of the tied rows. */
  private def inputs: Seq[(String, DataFrame, Seq[String])] = {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new Random(11)
    def key(): Option[Int] = rnd.nextInt(100) match {
      case x if x < 40 => Some(7) // one hot key
      case x if x < 42 => None
      case _ => Some(rnd.nextInt(800))
    }
    def value(): Option[Long] =
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(1000).toLong)
    def tiedValue(k: Option[Int]): Option[Long] =
      k.filter(_ % 5 != 0).map(x => (x * 37 % 1000).toLong)
    val raw = (0 until 5000).map(i => (i.toLong, key(), value()))
    val cols = Seq("id", "k", "v")
    Seq(
      ("hot key, nulls, unique (k, id) order",
        raw.toDF(cols: _*).repartition(13, col("v")), Seq("k", "id")),
      ("hot key, nulls, tied k",
        raw.map { case (id, k, _) => (id, k, tiedValue(k)) }.toDF(cols: _*)
          .repartition(13, col("id")), Seq("k")),
      ("5 distinct keys",
        Seq((0L, Option(3), Option(5L)), (1L, Option(1), None), (2L, Option(4), Option(2L)),
          (3L, None, Option(9L)), (4L, Option(2), Option(1L))).toDF(cols: _*)
          .repartition(13, col("id")), Seq("k")),
      ("3 distinct keys, tied",
        (0 until 300).map(i => (i.toLong, Option(i % 3), tiedValue(Some(i % 3))))
          .toDF(cols: _*).repartition(13, col("id")), Seq("k")))
  }

  private def outputsByKey(df: DataFrame, keys: Seq[String]): Map[Seq[Any], Seq[Option[Long]]] =
    df.select((keys :+ "out").map(col): _*).collect().toSeq
      .groupBy(r => keys.indices.map(r.get))
      .view.mapValues(_.map(r => Option(r.get(keys.length)).map(_.asInstanceOf[Long])).sorted)
      .toMap

  private def check(agg: Prefix.Agg, strict: Boolean, value: Column): Unit =
    inputs.foreach { case (label, df, keys) =>
      val sortCols = keys.map(col)
      val got = Prefix.scan(df, "out", sortCols, value, agg, strict)
      assert(got.columns.toSeq == df.columns.toSeq :+ "out", label)
      assert(got.schema("out").dataType == LongType, label)
      if (strict) assert(got.schema("out").nullable, label)
      val frame = Window.orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, if (strict) -1L else Window.currentRow)
      val f = agg match { case Prefix.Sum => sum(value); case Prefix.Max => max(value) }
      val want = df.withColumn("out", f.over(frame).cast(LongType))
      assert(got.count() == df.count(), label)
      assert(outputsByKey(got, keys) == outputsByKey(want, keys), label)
    }

  test("Sum inclusive equals the global ROWS-frame window sum") {
    check(Prefix.Sum, strict = false, col("v"))
  }

  test("Sum over lit(1L) equals the global row_number") {
    check(Prefix.Sum, strict = false, lit(1L))
  }

  test("strict Max equals the global window max over the rows strictly before") {
    check(Prefix.Max, strict = true, col("v"))
  }

  test("a caller's persisted input is still cached after the scan and an action") {
    val df = TestSpark.spark.range(0, 1000).toDF("v").persist()
    try {
      assert(df.count() == 1000)
      val got = Prefix.scan(df, "out", Seq(col("v")), col("v"), Prefix.Sum)
      assert(got.count() == 1000)
      assert(df.storageLevel != StorageLevel.NONE, "scan dropped the caller's cache")
      // CacheTracker.persist leaves an existing cache to its owner...
      assert(CacheTracker.persist(df) eq df)
      // ...and still caches and releases a frame nobody had cached
      // (a different range: renaming the column alone leaves the plan
      // equal to `df`'s, which the cache lookup treats as cached)
      val fresh = CacheTracker.persist(TestSpark.spark.range(0, 2000).toDF("v"))
      assert(fresh.storageLevel == StorageLevel.MEMORY_AND_DISK)
      CacheTracker.releaseAll(blocking = true)
      assert(df.storageLevel != StorageLevel.NONE, "releaseAll dropped the caller's cache")
      assert(fresh.storageLevel == StorageLevel.NONE, "releaseAll kept a tracked cache")
    } finally df.unpersist(blocking = true)
  }
}
