package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.fixtures.RefFixtures._

/** The reference's signature operator: Data-Box bin packing
  * (generate-file-list.py:19-50, SURVEY.md §2.9).
  *
  * Two implementations, per §7.3:
  *  - `firstFit`: exact first-fit over driver-collected directory sizes.
  *    Inherently sequential (each placement depends on all prior ones);
  *    safe at 100 TB because directories ≪ files — the distributed part
  *    is the size aggregation, only the per-directory totals are collected.
  *  - next-fit relaxation: a running sum (`Prefix.scan`), fully parallel,
  *    over-opens ≤2× bins worst case. This is the scale path.
  *
  * Oversized directories (> capacity) keep unit 0 — the reference recurses
  * into them (generate-file-list.py:28-31) and filters unit==0 on write (:70).
  */
object PackingOps {

  /** chosen so sf0.01 directory totals (avg ~1.6e8, max ~2.9e8) yield both
    * packed and oversized (unit 0) directories */
  val Capacity: Long = 250000000L

  def dirSizes(spark: SparkSession, sfDir: String): DataFrame =
    invFiles(spark, sfDir)
      .groupBy(col("parent_directory").as("path"))
      .agg(sum("length").as("size"))

  private val SizesCte: String =
    s"""$InvFilesCte,
       |sizes AS (SELECT parent_directory AS path, CAST(sum(length) AS BIGINT) AS size
       |          FROM invf GROUP BY parent_directory)""".stripMargin

  /** Distributed next-fit assignment (path, size, unit): the running sum
    * of the packable sizes in path order ([[Prefix.scan]]: range partition,
    * per-partition totals, one narrow seeded pass) — no single-partition
    * stage; only one long per partition reaches the driver. Shared by
    * pack_nextfit_dist and pack_units. `capacity` defaults to the Data-Box
    * size; train_pack_sequences reuses the same prefix sum with a token
    * budget. `spark` is unused; it is kept for callers. */
  def nextFitDist(spark: SparkSession, sizes: DataFrame,
      capacity: Long = Capacity): DataFrame =
    Prefix.scan(sizes, "cum", Seq(col("path")),
        when(col("size") > capacity, 0L).otherwise(col("size")), Prefix.Sum)
      .withColumn("unit", when(col("size") > capacity, lit(0L))
        .otherwise(expr(s"cum DIV ${capacity}L") + 1))
      .select("path", "size", "unit")

  /** Exact sequential first-fit (generate-file-list.py:32-43): place each
    * directory (in path order) into the first unit with room, else open a
    * new unit. Returns (path, size, unit) with unit 0 = oversized. */
  def firstFit(sizes: Seq[(String, Long)], capacity: Long): Seq[(String, Long, Long)] = {
    val remaining = ArrayBuffer.empty[Long]
    sizes.map { case (path, size) =>
      if (size > capacity) (path, size, 0L)
      else {
        val idx = remaining.indexWhere(_ >= size)
        val unit = if (idx >= 0) { remaining(idx) -= size; idx + 1 }
        else { remaining += capacity - size; remaining.length }
        (path, size, unit.toLong)
      }
    }
  }

  val queries: Seq[GraftQuery] = Seq(

    // dir-size aggregation feeding the allocator (op 1 scan + op 27 prep)
    GraftQuery("pack_dir_sizes",
      s"""WITH $SizesCte
         |SELECT path, size FROM sizes ORDER BY path""".stripMargin) { (spark, sfDir) =>
      dirSizes(spark, sfDir).orderBy("path")
    },

    // relaxed next-fit via a single global window cumulative sum — kept as
    // the oracle cross-check for the distributed form below; the global
    // ORDER BY window serializes through one partition, so it is NOT the
    // scale path and not the bench entry
    GraftQuery("pack_nextfit", {
      val cap = Capacity
      s"""WITH $SizesCte,
         |w AS (SELECT path, size,
         |        CAST(sum(CASE WHEN size > $cap THEN 0 ELSE size END)
         |          OVER (ORDER BY path ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM sizes)
         |SELECT path, size,
         |       CASE WHEN size > $cap THEN CAST(0 AS BIGINT) ELSE cum // $cap + 1 END AS unit
         |FROM w ORDER BY path""".stripMargin
    }) { (spark, sfDir) =>
      val w = Window.orderBy("path").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dirSizes(spark, sfDir)
        .withColumn("cum",
          sum(when(col("size") > Capacity, 0L).otherwise(col("size"))).over(w))
        .withColumn("unit", when(col("size") > Capacity, lit(0L))
          .otherwise(expr(s"cum DIV ${Capacity}L") + 1))
        .select("path", "size", "unit")
        .orderBy("path")
    },

    // THE next-fit scale path (and the bench entry): a DISTRIBUTED prefix
    // sum (Prefix.scan) — range-partition by path, seed each partition
    // with the (tiny) totals of the partitions before it, cumsum within.
    // Identical output to the global-window form above (the cross-check),
    // no single-partition stage; same oracle.
    GraftQuery("pack_nextfit_dist", {
      val cap = Capacity
      s"""WITH $SizesCte,
         |w AS (SELECT path, size,
         |        CAST(sum(CASE WHEN size > $cap THEN 0 ELSE size END)
         |          OVER (ORDER BY path ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM sizes)
         |SELECT path, size,
         |       CASE WHEN size > $cap THEN CAST(0 AS BIGINT) ELSE cum // $cap + 1 END AS unit
         |FROM w ORDER BY path""".stripMargin
    }, bench = true) { (spark, sfDir) =>
      nextFitDist(spark, dirSizes(spark, sfDir)).orderBy("path")
    },

    // ops 27+20: group-by unit with the unassigned (unit 0) filter
    GraftQuery("pack_units", {
      val cap = Capacity
      s"""WITH $SizesCte,
         |w AS (SELECT path, size,
         |        CAST(sum(CASE WHEN size > $cap THEN 0 ELSE size END)
         |          OVER (ORDER BY path ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM sizes),
         |fit AS (SELECT path, size,
         |          CASE WHEN size > $cap THEN CAST(0 AS BIGINT) ELSE cum // $cap + 1 END AS unit
         |        FROM w)
         |SELECT unit, count(*) AS n_dirs, CAST(sum(size) AS BIGINT) AS total_size
         |FROM fit WHERE unit <> 0 GROUP BY unit ORDER BY unit""".stripMargin
    }) { (spark, sfDir) =>
      nextFitDist(spark, dirSizes(spark, sfDir))
        .filter(col("unit") =!= 0)
        .groupBy("unit")
        .agg(count(lit(1)).as("n_dirs"), sum("size").as("total_size"))
        .orderBy("unit")
    },

    // op 31 exact: sequential first-fit (driver fold; dirs ≪ files). The
    // order-dependent bin state IS SQL-expressible after all: a recursive
    // CTE carrying the remaining-capacity list, one row per placement
    // (list_position returns 0 — not NULL — when nothing fits). Property
    // tests in PackingSpec cover the invariants beyond the oracle.
    GraftQuery("pack_firstfit", {
      val cap = Capacity
      s"""WITH RECURSIVE $SizesCte,
         |dirs AS (SELECT path, size, row_number() OVER (ORDER BY path) AS rn
         |         FROM sizes WHERE path LIKE '%0'),
         |steps AS (
         |  SELECT CAST(0 AS BIGINT) AS idx, CAST([] AS BIGINT[]) AS remaining,
         |         CAST(NULL AS VARCHAR) AS path, CAST(NULL AS BIGINT) AS size,
         |         CAST(NULL AS BIGINT) AS unit
         |  UNION ALL
         |  SELECT s.idx + 1,
         |    CASE WHEN d.size > $cap THEN s.remaining
         |         WHEN list_position(list_transform(s.remaining, r -> r >= d.size), true) > 0
         |           THEN list_transform(generate_series(1, len(s.remaining)),
         |                  i -> CASE WHEN i = list_position(list_transform(s.remaining, r -> r >= d.size), true)
         |                            THEN s.remaining[i] - d.size ELSE s.remaining[i] END)
         |         ELSE list_append(s.remaining, $cap - d.size) END,
         |    d.path, d.size,
         |    CASE WHEN d.size > $cap THEN 0
         |         WHEN list_position(list_transform(s.remaining, r -> r >= d.size), true) > 0
         |           THEN CAST(list_position(list_transform(s.remaining, r -> r >= d.size), true) AS BIGINT)
         |         ELSE len(s.remaining) + 1 END
         |  FROM steps s JOIN dirs d ON d.rn = s.idx + 1)
         |SELECT path, size, unit FROM steps WHERE idx > 0 ORDER BY path""".stripMargin
    }) { (spark, sfDir) =>
      // the recursive-CTE oracle is O(dirs x bins) in interpreted list ops,
      // so the oracled slice packs the deterministic 1-in-10 directory
      // subset; PackingSpec property-tests the fold at full width
      val sizes = dirSizes(spark, sfDir)
        .filter(col("path").endsWith("0")).orderBy("path").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val packed = firstFit(sizes, Capacity).map { case (p, s, u) => Row(p, s, u) }
      val schema = StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("size", LongType, nullable = false),
        StructField("unit", LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(packed, 1), schema)
    },

    // op 30g / B5: ranged-read chunk plan (copy-to-adls.py:66-69, 20 MiB blocks)
    GraftQuery("chunk_plan",
      s"""WITH $InvFilesCte,
         |f AS (SELECT name, length * 37 + 1 AS clen FROM invf
         |      WHERE parent_directory LIKE '%0'),
         |c AS (SELECT name, clen,
         |        unnest(generate_series(0, clen - 1, 20971520)) AS chunk_off FROM f)
         |SELECT name, chunk_off, least(20971520, clen - chunk_off) AS chunk_len
         |FROM c ORDER BY name, chunk_off""".stripMargin,
      bench = true) { (spark, sfDir) =>
      invFiles(spark, sfDir)
        .filter(col("parent_directory").endsWith("0"))
        .select(col("name"), (col("length") * 37 + 1).as("clen"))
        .select(col("name"), col("clen"),
          explode(sequence(lit(0L), col("clen") - 1, lit(20971520L))).as("chunk_off"))
        .select(col("name"), col("chunk_off"),
          least(lit(20971520L), col("clen") - col("chunk_off")).as("chunk_len"))
        .orderBy("name", "chunk_off")
    },

    // Packing-quality report: bins used by next-fit in path order vs
    // next-fit DECREASING (sort by size first — the classic cheap upgrade)
    // against the capacity lower bound ⌈Σsize/cap⌉, with efficiency in
    // exact ppm — the one-screen answer to "is the unit plan wasting
    // boxes, and would sorting fix it". Oversize items (> cap) are
    // excluded from both strategies and reported in their own column,
    // matching pack_nextfit's unit-0 convention. The cumsum windows run on
    // the DIRECTORY frame (bounded ≪ files; the row-scale next-fit lives
    // in pack_nextfit_dist with Prefix.scan).
    GraftQuery("pack_quality", {
      val cap = Capacity
      s"""WITH $SizesCte,
         |pk AS (SELECT size, CASE WHEN size > $cap THEN 0 ELSE size END AS psz,
         |         CASE WHEN size > $cap THEN 1 ELSE 0 END AS ovr, path
         |       FROM sizes),
         |npc AS (SELECT CAST(sum(psz) OVER (ORDER BY path
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |        FROM pk WHERE psz > 0),
         |np AS (SELECT max(cum // $cap + 1) AS bins FROM npc),
         |ndc AS (SELECT CAST(sum(psz) OVER (ORDER BY size DESC, path
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |        FROM pk WHERE psz > 0),
         |nd AS (SELECT max(cum // $cap + 1) AS bins FROM ndc),
         |t AS (SELECT CAST(sum(psz) AS BIGINT) AS packable,
         |        CAST(sum(ovr) AS BIGINT) AS n_oversize FROM pk),
         |lb AS (SELECT (packable + $cap - 1) // $cap AS lo FROM t)
         |SELECT s.strategy, s.bins, lb.lo AS lower_bound, t.n_oversize,
         |       CAST(lb.lo * 1000000 // s.bins AS BIGINT) AS eff_ppm
         |FROM (SELECT 'nextfit_path' AS strategy, CAST(bins AS BIGINT) AS bins FROM np
         |      UNION ALL
         |      SELECT 'nextfit_decreasing', CAST(bins AS BIGINT) FROM nd) s
         |CROSS JOIN lb CROSS JOIN t
         |ORDER BY strategy""".stripMargin
    }) { (spark, sfDir) =>
      val pk = dirSizes(spark, sfDir)
        .select(col("path"), col("size"),
          when(col("size") > Capacity, 0L).otherwise(col("size")).as("psz"),
          when(col("size") > Capacity, 1L).otherwise(0L).as("ovr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.CacheTracker.track(pk)
      def bins(order: Seq[org.apache.spark.sql.Column]) = {
        val w = Window.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pk.filter(col("psz") > 0)
          .withColumn("cum", sum("psz").over(w))
          .agg(max(expr(s"cum DIV ${Capacity}L") + 1).as("bins"))
      }
      val np = bins(Seq(col("path"))).select(lit("nextfit_path").as("strategy"), col("bins"))
      val nd = bins(Seq(col("size").desc, col("path")))
        .select(lit("nextfit_decreasing").as("strategy"), col("bins"))
      val t = pk.agg(sum("psz").as("packable"), sum("ovr").as("n_oversize"))
      np.unionByName(nd)
        .join(broadcast(t))
        .select(col("strategy"), col("bins"),
          expr(s"(packable + ${Capacity}L - 1) DIV ${Capacity}L").as("lower_bound"),
          col("n_oversize"))
        .withColumn("eff_ppm", expr("lower_bound * 1000000 DIV bins"))
        .orderBy("strategy")
    }
  )
}
