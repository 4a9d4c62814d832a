package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ZOrderKey

/** Z-order layout: the key must interleave exactly (it is oracled in
  * DuckDB via the same magic-mask arithmetic), and — the point of the
  * operator — a range-partitioned write on the key must yield files
  * whose min/max stats are narrow on BOTH dimensions, which is what
  * lets a 100 TB scan prune files for a filter on either column. */
class LayoutSpec extends AnyFunSuite {

  test("ZOrderKey interleaves bits exactly (known values + reference recompute)") {
    assert(ZOrderKey.compute(0L, 0L) == 0L)
    assert(ZOrderKey.compute(1L, 0L) == 1L)
    assert(ZOrderKey.compute(0L, 1L) == 2L)
    assert(ZOrderKey.compute(3L, 5L) == 39L) // a→bits{0,2}=5, b→bits{1,5}=34
    // reference bit-by-bit recompute over a value sweep incl. the 32-bit mask edge
    val vals = Seq(0L, 1L, 2L, 7L, 255L, 256L, 65535L, 123456789L,
      0xFFFFFFFFL, 0x100000000L, 0x1FFFFFFFFL)
    for (a <- vals; b <- vals) {
      var expect = 0L
      for (i <- 0 until 32) {
        expect |= ((a >> i) & 1L) << (2 * i)
        expect |= ((b >> i) & 1L) << (2 * i + 1)
      }
      assert(ZOrderKey.compute(a, b) == expect, s"zorder($a, $b)")
    }
  }

  test("ZOrderKey codegen path == composed built-in bit arithmetic") {
    val spark = TestSpark.spark
    // the same 5 dilation rounds written with Spark built-ins — the
    // composed form the DuckDB oracle mirrors
    def spread(x: String): String =
      Seq((16, 281470681808895L), (8, 71777214294589695L),
        (4, 1085102592571150095L), (2, 3689348814741910323L),
        (1, 6148914691236517205L))
        .foldLeft(s"(CAST($x AS BIGINT) & 4294967295)") { case (v, (sh, m)) =>
          s"((($v | shiftleft($v, $sh))) & $m)"
        }
    val df = Tables.lineitem(spark, TestSpark.Sf)
      .select(col("l_partkey").as("a"), col("l_orderkey").as("b"))
      .select(ZOrderKey.zorder2(col("a"), col("b")).as("z1"),
        expr(s"${spread("a")} | (${spread("b")} << 1)").as("z2"))
    assert(df.filter(col("z1") =!= col("z2")).count() == 0)
  }

  /** per-file (min, max) span fraction of a column after writing `df`
    * ordered by `key` into 16 range partitions */
  private def spanFractions(df: DataFrame, key: String): Map[String, Double] = {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("graft-zorder").toString
    df.repartitionByRange(16, col(key)).sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .select(F.input_file_name().as("f"), col("x"), col("y"))
    val spans = back.groupBy("f")
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .agg(avg(expr("CAST(x1 - x0 AS DOUBLE) / 255")).as("xs"),
        avg(expr("CAST(y1 - y0 AS DOUBLE) / 255")).as("ys"))
      .collect().head
    Map("x" -> spans.getDouble(0), "y" -> spans.getDouble(1))
  }

  test("range-partitioned z-order write narrows per-file spans on BOTH dimensions") {
    val spark = TestSpark.spark
    // 256×256 uniform grid: the worst case for 1-D sorting, the model
    // case for z-order tiling
    val grid = spark.range(256L * 256L)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
      .withColumn("zkey", ZOrderKey.zorder2(col("x"), col("y")))
    val z = spanFractions(grid, "zkey")
    val oneD = spanFractions(grid, "x")
    info(f"z-order spans: x=${z("x")}%.3f y=${z("y")}%.3f; " +
      f"1-D sort spans: x=${oneD("x")}%.3f y=${oneD("y")}%.3f")
    // 16 z-range files ≈ a 4×4 tile grid: ~1/4 span per dimension (range
    // boundaries are sampled, so allow slack). A 1-D sort gives a narrow
    // leading column but full-range trailing column — no skipping there.
    assert(z("x") < 0.45 && z("y") < 0.45,
      s"z-order files span too much of the key space: $z")
    assert(oneD("y") > 0.95,
      s"1-D baseline unexpectedly narrow on the trailing dim: $oneD")
    assert(z("y") < oneD("y") / 2,
      "z-order did not materially narrow the trailing dimension")
  }

  test("layout_prune_sim: zone maps never drop matches; linear baseline replays exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("layout_prune_sim")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 8)
    // driver replay of the LINEAR layout: sort by (orderkey, partkey),
    // cut 16 equal-frequency blocks, prune on [pk_min, pk_max] overlap
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
    val sorted = li.sortBy(identity).map(_._2)
    val n = sorted.length
    val blocks = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 16 / n }
      .view.mapValues(g => (g.map(_._1).min, g.map(_._1).max, g.length.toLong)).toMap
    rows.foreach { case (probe, lo, hi, zb, zr, lb, lr, m) =>
      assert(m <= zr && m <= lr, s"probe $probe: pruning dropped matching rows")
      assert(zb <= 16 && lb <= 16)
      val surv = blocks.values.filter { case (mn, mx, _) => mx >= lo && mn <= hi }
      assert(lb == surv.size && lr == surv.map(_._3).sum, s"probe $probe linear replay")
      assert(m == li.count { case (_, pk) => pk >= lo && pk <= hi },
        s"probe $probe exact count")
    }
  }
}
