package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables._
import graft.functions.ZOrderKey.zorder2

/** Multi-dimensional data-layout operators: the Z-order (Morton)
  * clustering key that makes min/max data-skipping work on MORE THAN ONE
  * filter column. At 100 TB the win is at write time: sorting (or
  * range-partitioning) a table by `zorder2(a, b)` tiles the (a, b) key
  * space, so every output file / parquet row group covers a bounded span
  * of BOTH columns and a point or range filter on EITHER prunes most of
  * the scan from footer stats alone — a 1-D sort gives that for its one
  * leading column and nothing for the rest. The key is pure long
  * arithmetic (a codegen ZOrderKey expression, bit-identical in DuckDB),
  * so the layout decision itself is oracled; LayoutSpec measures the
  * actual per-file span narrowing on a range-partitioned write. */
object LayoutOps {

  /** DuckDB twin of ZOrderKey.spread: 5 magic-mask dilation rounds */
  private def spreadSql(x: String): String =
    Seq((16, 281470681808895L), (8, 71777214294589695L),
      (4, 1085102592571150095L), (2, 3689348814741910323L),
      (1, 6148914691236517205L))
      .foldLeft(s"(CAST($x AS BIGINT) & 4294967295)") { case (v, (sh, m)) =>
        s"(($v | ($v << $sh)) & $m)"
      }

  private def zorderSql(a: String, b: String): String =
    s"(${spreadSql(a)} | (${spreadSql(b)} << 1))"

  /** compaction target bytes — sized so sf0.01 directories yield multi-
    * group plans (the 128 MiB analogue at fixture file sizes) */
  val CompactTarget: Long = 64000000L

  val queries: Seq[GraftQuery] = Seq(

    // the clustering key itself, per row — interleaving the part and
    // order dimensions of lineitem (the two columns a copy/reporting
    // workload filters by). Pure per-row arithmetic: no shuffle, no
    // join; stays inside one codegen span with the scan.
    GraftQuery("layout_zorder",
      s"""SELECT l_orderkey, l_linenumber,
         |  ${zorderSql("l_partkey", "l_orderkey")} AS zkey
         |FROM lineitem""".stripMargin) { (spark, sfDir) =>
      lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"),
          zorder2(col("l_partkey"), col("l_orderkey")).as("zkey"))
    },

    // layout quality audit: cut the z-key range into 16 equal-width
    // strides (what a range-partitioned write makes into files) and
    // report each stride's span of BOTH source dimensions — the
    // data-skipping evidence a table-format stats collector publishes.
    // Distributed shape: one scalar max (broadcast single row) + one
    // hash aggregation; no global sort anywhere (ntile would serialize
    // through a single partition — the write path uses
    // repartitionByRange, see LayoutSpec).
    GraftQuery("layout_zorder_stats",
      s"""WITH z AS (SELECT l_partkey, l_orderkey,
         |        ${zorderSql("l_partkey", "l_orderkey")} AS zkey
         |      FROM lineitem),
         |s AS (SELECT (max(zkey) // 16) + 1 AS stride FROM z)
         |SELECT zkey // (SELECT stride FROM s) AS zbucket,
         |  count(*) AS n,
         |  CAST(min(l_partkey) AS BIGINT) AS pk_min,
         |  CAST(max(l_partkey) AS BIGINT) AS pk_max,
         |  CAST(min(l_orderkey) AS BIGINT) AS ok_min,
         |  CAST(max(l_orderkey) AS BIGINT) AS ok_max
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin) { (spark, sfDir) =>
      val z = lineitem(spark, sfDir)
        .select(col("l_partkey"), col("l_orderkey"),
          zorder2(col("l_partkey"), col("l_orderkey")).as("zkey"))
      val stride = z.agg((expr("max(zkey) DIV 16") + 1).as("stride"))
      z.join(broadcast(stride))
        .groupBy(expr("zkey DIV stride").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("pk_min"), max("l_partkey").as("pk_max"),
          min("l_orderkey").as("ok_min"), max("l_orderkey").as("ok_max"))
        .orderBy("zbucket")
    },

    // Small-files compaction planner — the table-maintenance operator every
    // lakehouse runs: within each directory, walk files in name order and
    // assign each to merge group floor(bytes-before-it / target), so every
    // group holds ~target bytes (one file may straddle a boundary; a group
    // overshoots by at most one file). Output is the rewrite manifest
    // (directory, group, file count, bytes) a compactor executes.
    // Distributed shape: ONE window cumsum partitioned by directory (per-
    // directory file counts are bounded — the same reason the reference
    // bin-packs directories, generate-file-list.py:19-50) + one hash agg.
    // No global sort, no driver state; at 100 TB each directory's plan is
    // independent, so the job parallelizes over directories.
    GraftQuery("layout_compact_plan",
      s"""WITH ${graft.fixtures.RefFixtures.InvFilesCte},
         |w AS (SELECT parent_directory, name, length,
         |        CAST(sum(length) OVER (PARTITION BY parent_directory ORDER BY name
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |          - length AS cum_before
         |      FROM invf)
         |SELECT parent_directory, CAST(cum_before // $CompactTarget AS BIGINT) AS grp_id,
         |  count(*) AS n_files, CAST(sum(length) AS BIGINT) AS grp_bytes
         |FROM w GROUP BY 1, 2
         |ORDER BY parent_directory, grp_id""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("parent_directory").orderBy("name")
        .rowsBetween(Long.MinValue, 0)
      graft.fixtures.RefFixtures.invFiles(spark, sfDir)
        .select(col("parent_directory"), col("name"), col("length"))
        .withColumn("cum_before", sum("length").over(w) - col("length"))
        .groupBy(col("parent_directory"),
          expr(s"cum_before DIV $CompactTarget").as("grp_id"))
        .agg(count(lit(1)).as("n_files"), sum("length").as("grp_bytes"))
        .orderBy("parent_directory", "grp_id")
    },

    // Data-skipping effectiveness, measured: lineitem cut into 16 EQUAL-
    // FREQUENCY blocks (exactly what a writer produces — sort by the
    // layout key, cut every n/16 rows; rank via the distributed Prefix.scan
    // rank, no global window) under the Z-ORDER layout vs a plain 1-D
    // (orderkey) sort. Both dimensions are RANGE-NORMALIZED to 16 bits
    // before interleaving ((x·65536) DIV (max+1) — the real writer's move:
    // raw interleave of unequal-width columns parks the narrow column's
    // bits below the wide one's, and the block cut then never sees them),
    // then probed with 8 deterministic l_partkey ranges
    // (data-derived: range i starts at max_pk·i/9, width max_pk/32). A
    // block survives a probe if its [pk_min, pk_max] zone map overlaps the
    // range — exactly the parquet footer min/max pruning rule — so
    // z_blocks·z_rows vs lin_blocks·lin_rows is the scan cost a 100 TB
    // reader pays under each layout for a filter on the NON-leading
    // dimension (the 1-D layout prunes nothing: every block spans the
    // whole partkey range). All stats frames are 16 rows; the only
    // corpus-sized work is the two rank passes that build the zone maps
    // and one broadcast non-equi probe join for the exact row counts.
    GraftQuery("layout_prune_sim",
      s"""WITH mx AS (SELECT max(l_partkey) AS mp, max(l_orderkey) AS mo FROM lineitem),
         |z AS (SELECT l_partkey, l_orderkey,
         |        ${zorderSql("(l_partkey * 65536 // (mx.mp + 1))",
                             "(l_orderkey * 65536 // (mx.mo + 1))")} AS zkey
         |      FROM lineitem, mx),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
         |zr AS (SELECT l_partkey,
         |         row_number() OVER (ORDER BY zkey, l_partkey, l_orderkey) AS rn
         |       FROM z),
         |zb AS (SELECT (rn - 1) * 16 // nn.n AS b,
         |         CAST(min(l_partkey) AS BIGINT) AS pk_min,
         |         CAST(max(l_partkey) AS BIGINT) AS pk_max,
         |         CAST(count(*) AS BIGINT) AS n
         |       FROM zr, nn GROUP BY 1),
         |lr AS (SELECT l_partkey,
         |         row_number() OVER (ORDER BY l_orderkey, l_partkey) AS rn
         |       FROM lineitem),
         |lb AS (SELECT (rn - 1) * 16 // nn.n AS b,
         |         CAST(min(l_partkey) AS BIGINT) AS pk_min,
         |         CAST(max(l_partkey) AS BIGINT) AS pk_max,
         |         CAST(count(*) AS BIGINT) AS n
         |       FROM lr, nn GROUP BY 1),
         |pm AS (SELECT max(l_partkey) AS mpk FROM lineitem),
         |pr AS (SELECT i, (mpk * i) // 9 AS lo, (mpk * i) // 9 + mpk // 32 AS hi
         |       FROM (SELECT unnest(generate_series(1, 8)) AS i) ii CROSS JOIN pm),
         |zh AS (SELECT pr.i, CAST(count(*) AS BIGINT) AS z_blocks,
         |         CAST(sum(zb.n) AS BIGINT) AS z_rows
         |       FROM pr JOIN zb ON zb.pk_max >= pr.lo AND zb.pk_min <= pr.hi
         |       GROUP BY pr.i),
         |lh AS (SELECT pr.i, CAST(count(*) AS BIGINT) AS lin_blocks,
         |         CAST(sum(lb.n) AS BIGINT) AS lin_rows
         |       FROM pr JOIN lb ON lb.pk_max >= pr.lo AND lb.pk_min <= pr.hi
         |       GROUP BY pr.i),
         |ex AS (SELECT pr.i, CAST(count(*) AS BIGINT) AS n_match
         |       FROM pr JOIN lineitem l
         |         ON l.l_partkey BETWEEN pr.lo AND pr.hi GROUP BY pr.i)
         |SELECT CAST(pr.i AS BIGINT) AS probe, CAST(pr.lo AS BIGINT) AS lo,
         |       CAST(pr.hi AS BIGINT) AS hi,
         |       coalesce(zh.z_blocks, 0) AS z_blocks,
         |       coalesce(zh.z_rows, 0) AS z_rows,
         |       coalesce(lh.lin_blocks, 0) AS lin_blocks,
         |       coalesce(lh.lin_rows, 0) AS lin_rows,
         |       coalesce(ex.n_match, 0) AS n_match
         |FROM pr LEFT JOIN zh ON zh.i = pr.i LEFT JOIN lh ON lh.i = pr.i
         |        LEFT JOIN ex ON ex.i = pr.i
         |ORDER BY probe""".stripMargin) { (spark, sfDir) =>
      val li = lineitem(spark, sfDir).select(col("l_partkey"), col("l_orderkey"))
        .transform(graft.CacheTracker.persist)
      val nRows = li.count()
      val mx = li.agg(max("l_partkey").as("mp"), max("l_orderkey").as("mo"))
      val z = li.join(broadcast(mx))
        .select(col("l_partkey"), col("l_orderkey"),
          zorder2(expr("l_partkey * 65536 DIV (mp + 1)"),
            expr("l_orderkey * 65536 DIV (mo + 1)")).as("zkey"))
      val zb = Prefix.scan(z, "rn",
          Seq(col("zkey").asc, col("l_partkey").asc, col("l_orderkey").asc), lit(1L), Prefix.Sum)
        .groupBy(expr(s"(rn - 1) * 16 DIV $nRows").as("b"))
        .agg(min("l_partkey").as("pk_min"), max("l_partkey").as("pk_max"),
          count(lit(1)).as("n"))
      val lb = Prefix.scan(li, "rn",
          Seq(col("l_orderkey").asc, col("l_partkey").asc), lit(1L), Prefix.Sum)
        .groupBy(expr(s"(rn - 1) * 16 DIV $nRows").as("b"))
        .agg(min("l_partkey").as("pk_min"), max("l_partkey").as("pk_max"),
          count(lit(1)).as("n"))
      val pm = li.agg(max("l_partkey").as("mpk"))
      val pr = spark.range(1, 9).toDF("i").join(broadcast(pm))
        .select(col("i"), expr("(mpk * i) DIV 9").as("lo"),
          expr("(mpk * i) DIV 9 + mpk DIV 32").as("hi"))
        .transform(graft.CacheTracker.persist)
      val zh = pr.join(zb, zb("pk_max") >= pr("lo") && zb("pk_min") <= pr("hi"))
        .groupBy("i").agg(count(lit(1)).as("z_blocks"), sum("n").as("z_rows"))
      val lh = pr.join(lb, lb("pk_max") >= pr("lo") && lb("pk_min") <= pr("hi"))
        .groupBy("i").agg(count(lit(1)).as("lin_blocks"), sum("n").as("lin_rows"))
      val ex = li.join(broadcast(pr),
          col("l_partkey") >= col("lo") && col("l_partkey") <= col("hi"))
        .groupBy("i").agg(count(lit(1)).as("n_match"))
      pr.join(zh, Seq("i"), "left").join(lh, Seq("i"), "left")
        .join(ex, Seq("i"), "left")
        .select(col("i").as("probe"), col("lo"), col("hi"),
          coalesce(col("z_blocks"), lit(0L)).as("z_blocks"),
          coalesce(col("z_rows"), lit(0L)).as("z_rows"),
          coalesce(col("lin_blocks"), lit(0L)).as("lin_blocks"),
          coalesce(col("lin_rows"), lit(0L)).as("lin_rows"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
        .orderBy("probe")
    }
  )
}
