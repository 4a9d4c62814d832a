package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PackingOps

/** Property tests for the bin-packing allocator (SURVEY.md §5):
  * invariants of exact first-fit and its next-fit window relaxation.
  * Deterministic seeded generation (no scalatestplus bridge offline). */
class PackingSpec extends AnyFunSuite with CacheDrained {

  // Prefix.scan persists and tracks; drain per test like the harness does
  override def afterEach(): Unit = CacheTracker.releaseAll()

  private val capacity = 1000L

  private def cases: Seq[List[Long]] = {
    val rnd = new Random(42)
    Seq.fill(200)(List.fill(60)(1L + rnd.nextInt(1500).toLong))
  }

  test("two-phase distributed rank equals the global window row_number") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new Random(7)
    // duplicate sort keys + skewed distribution + adversarial initial
    // partitioning: the rank must be independent of physical layout
    val rows = Seq.fill(5000)((f"k${rnd.nextInt(800)}%04d", rnd.nextInt(50)))
    val df = rows.toDF("name", "depth").repartition(13, col("depth"))
    val got = graft.operators.Prefix
      .scan(df, "idx", Seq(col("depth"), col("name")), lit(1L), graft.operators.Prefix.Sum)
      .orderBy("idx", "name")
      .select(col("idx"), col("name"), col("depth"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val want = df
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("depth", "name")).cast("long"))
      .orderBy("idx", "name")
      .select(col("idx"), col("name"), col("depth"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // ties within (depth, name) make individual idx assignment ambiguous;
    // compare the multiset of (idx per key-group): sort both by key then idx
    assert(got.map(t => (t._3, t._2)).sorted.toSeq == want.map(t => (t._3, t._2)).sorted.toSeq)
    assert(got.map(_._1).sorted.toSeq == (1L to rows.size).toSeq)
    val gotByKey = got.groupBy(t => (t._3, t._2)).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    val wantByKey = want.groupBy(t => (t._3, t._2)).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(gotByKey == wantByKey)
  }

  test("first-fit: no bin exceeds capacity; oversized stay unit 0") {
    cases.foreach { sizes =>
      val named = sizes.zipWithIndex.map { case (s, i) => (f"p$i%04d", s) }
      val packed = PackingOps.firstFit(named, capacity)
      packed.filter(_._3 != 0L).groupBy(_._3).foreach { case (_, items) =>
        assert(items.map(_._2).sum <= capacity)
      }
      packed.foreach { case (_, s, u) =>
        if (s > capacity) assert(u == 0L) else assert(u > 0L)
      }
    }
  }

  test("first-fit backfills earlier bins (is not next-fit)") {
    val a = PackingOps.firstFit(Seq(("a", 600L), ("b", 500L), ("c", 400L)), 1000L)
    assert(a.map(_._3) == Seq(1L, 2L, 1L))
  }

  test("next-fit cumsum relaxation opens at most ~2x first-fit bins") {
    cases.foreach { sizes =>
      val named = sizes.zipWithIndex.map { case (s, i) => (f"p$i%04d", s) }
      val ff = PackingOps.firstFit(named, capacity)
      val ffBins = ff.map(_._3).filter(_ != 0L).distinct.size
      var cum = 0L
      val nfUnits = named.map { case (_, s) =>
        if (s > capacity) 0L else { cum += s; cum / capacity + 1 }
      }
      val nfBins = nfUnits.filter(_ != 0L).distinct.size
      if (ffBins > 0) assert(nfBins <= 2 * ffBins + 1)
    }
  }

  test("spark first-fit query matches the pure fold on sf0.001") {
    val spark = TestSpark.spark
    val got = SparkEntry.queries("pack_firstfit")(spark, TestSpark.Sf)
      .orderBy("path").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val sizes = PackingOps.dirSizes(spark, TestSpark.Sf)
      .filter(org.apache.spark.sql.functions.col("path").endsWith("0"))
      .orderBy("path")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.toSeq == PackingOps.firstFit(sizes, PackingOps.Capacity))
  }

  test("pack_quality: both strategies replay from a driver next-fit fold") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("pack_quality")(spark, TestSpark.Sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val sizes = PackingOps.dirSizes(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val cap = PackingOps.Capacity
    val packable = sizes.filter(_._2 <= cap).map(_._2)
    def nfBins(order: Array[Long]): Long = {
      var cum = 0L
      order.filter(_ > 0).map { s => cum += s; cum / cap + 1 }.max
    }
    val byPath = sizes.sortBy(_._1).filter(_._2 <= cap).map(_._2)
    val bySize = sizes.filter(_._2 <= cap)
      .sortBy { case (p, s) => (-s, p) }.map(_._2)
    val lb = (packable.sum + cap - 1) / cap
    val nOver = sizes.count(_._2 > cap).toLong
    val (npB, npLb, npOv, npEff) = rows("nextfit_path")
    val (ndB, ndLb, ndOv, ndEff) = rows("nextfit_decreasing")
    assert(npB == nfBins(byPath) && ndB == nfBins(bySize), "bin counts replay")
    assert(npLb == lb && ndLb == lb && npOv == nOver && ndOv == nOver)
    assert(npEff == lb * 1000000L / npB && ndEff == lb * 1000000L / ndB)
    assert(npB >= lb && ndB >= lb, "no strategy beats the capacity bound")
  }
}
