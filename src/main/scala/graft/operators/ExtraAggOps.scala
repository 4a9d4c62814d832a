package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables._
import graft.fixtures.RefFixtures._

/** Remaining aggregation/join surface: grouping sets, exact percentiles,
  * pivot, null-safe equality, array-function suite. */
object ExtraAggOps {

  /** the exact SQL-NTILE(5) bucket from a 1-based global rank column and
    * the `nn.n` population CTE, as engine-identical integer arithmetic:
    * with q = n/5 and r = n%5, the first r buckets hold q+1 rows. Must
    * initialize before `queries` (init-order interpolation). */
  private def tileSql(rn: String): String =
    s"""CASE WHEN $rn <= (nn.n % 5) * (nn.n // 5 + 1)
       |     THEN ($rn + nn.n // 5) // (nn.n // 5 + 1)
       |     ELSE (nn.n % 5) + ($rn - (nn.n % 5) * (nn.n // 5 + 1) + nn.n // 5 - 1)
       |          // (nn.n // 5) END""".stripMargin.replace("\n", " ")

  /** Benford's law expectations floor(log10(1+1/d)·1e6) for d = 1..9,
    * computed once and inlined as identical literals into both engines
    * (must initialize before `queries` — init-order interpolation) */
  private val BenfordPpm: IndexedSeq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)

  val queries: Seq[GraftQuery] = Seq(

    // explicit GROUPING SETS (beyond rollup/cube)
    GraftQuery("agg_grouping_sets",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin) { (spark, sfDir) =>
      orders(spark, sfDir).createOrReplaceTempView("orders_gs")
      spark.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin)
    },

    // exact interpolated percentiles (Spark percentile ≡ DuckDB quantile_cont)
    GraftQuery("agg_percentiles",
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        |  round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      ) { (spark, sfDir) =>
      orders(spark, sfDir)
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("o_orderstatus")
    },

    // pivot: order counts by status × priority (oracle = portable CASE form)
    GraftQuery("agg_pivot",
      """SELECT o_orderstatus AS status,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
      ) { (spark, sfDir) =>
      orders(spark, sfDir)
        .groupBy(col("o_orderstatus").as("status"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
        .agg(count(lit(1)))
        .select(col("status"),
          coalesce(col("1-URGENT"), lit(0L)).as("p1"),
          coalesce(col("2-HIGH"), lit(0L)).as("p2"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("p3"))
        .orderBy("status")
    },

    // null-safe equality (<=> / IS NOT DISTINCT FROM)
    GraftQuery("join_null_safe",
      """WITH l AS (SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |                       ELSE o_orderkey % 7 END AS k FROM orders),
        |r AS (SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
        |                  ELSE CAST(n_nationkey % 7 AS BIGINT) END AS k FROM nation)
        |SELECT count(*) AS n FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k""".stripMargin,
      ) { (spark, sfDir) =>
      val l = orders(spark, sfDir).select(
        when(col("o_orderkey") % 10 === 0, lit(null))
          .otherwise(col("o_orderkey") % 7).as("k"))
      val r = nation(spark, sfDir).select(
        when(col("n_nationkey") % 5 === 0, lit(null))
          .otherwise((col("n_nationkey") % 7).cast("long")).as("kr"))
      l.join(broadcast(r), col("k") <=> col("kr"))
        .agg(count(lit(1)).as("n"))
    },

    // exact-moment statistics: variance / covariance / correlation computed
    // from integer sums of cents (n·Σx² − (Σx)² form). Float accumulators
    // (stddev_samp etc.) differ across engines and partial-agg orders; exact
    // moments are bit-deterministic at any parallelism — the way to compute
    // distribution stats over 100 TB when results must be reproducible.
    GraftQuery("agg_moments",
      """WITH m AS (SELECT l_returnflag,
        |    count(*) AS n,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT) * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sxx,
        |    CAST(sum(CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(sum(CAST(floor(l_discount * 100) AS BIGINT) * CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS syy,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT) * CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((n * sxx - sx * sx) * 1.0 / (n * (n - 1)), 6) AS var_qty,
        |  round((n * sxy - sx * sy) * 1.0 / (n * (n - 1)), 6) AS cov_qty_disc,
        |  round((n * sxy - sx * sy) /
        |        (sqrt((n * sxx - sx * sx) * 1.0) * sqrt((n * syy - sy * sy) * 1.0)), 6) AS corr_qty_disc
        |FROM m ORDER BY l_returnflag""".stripMargin) { (spark, sfDir) =>
      val qty = floor(col("l_quantity")).cast("long")
      val disc = floor(col("l_discount") * 100).cast("long")
      val m = lineitem(spark, sfDir).groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(qty).as("sx"), sum(qty * qty).as("sxx"),
        sum(disc).as("sy"), sum(disc * disc).as("syy"),
        sum(qty * disc).as("sxy"))
      m.select(col("l_returnflag"), col("n"),
        round((col("n") * col("sxx") - col("sx") * col("sx")) * lit(1.0)
          / (col("n") * (col("n") - 1)), 6).as("var_qty"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) * lit(1.0)
          / (col("n") * (col("n") - 1)), 6).as("cov_qty_disc"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")) * lit(1.0))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")) * lit(1.0))), 6)
          .as("corr_qty_disc"))
        .orderBy("l_returnflag")
    },

    // date-function suite (30j extended): extraction, truncation, arithmetic.
    // dayofweek is normalized (Spark 1=Sunday vs DuckDB dow 0=Sunday).
    GraftQuery("scalar_date_suite",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(dayofweek(o_orderdate) AS INT) AS dow0,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due,
        |  CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS age_days
        |FROM orders WHERE o_orderkey % 25 = 0 ORDER BY o_orderkey""".stripMargin,
      ) { (spark, sfDir) =>
      orders(spark, sfDir).filter(col("o_orderkey") % 25 === 0).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        (dayofweek(col("o_orderdate")) - 1).as("dow0"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("date").as("due"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("age_days"))
        .orderBy("o_orderkey")
    },

    // string-function suite (30b/30e extended)
    GraftQuery("scalar_string_suite",
      """SELECT c_custkey,
        |  upper(c_name) AS uname,
        |  reverse(c_name) AS rname,
        |  repeat(c_mktsegment, 2) AS twice,
        |  replace(c_name, 'Customer', 'Cust') AS short_name,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS lowered_vowels,
        |  left(c_name, 4) AS l4,
        |  right(c_name, 3) AS r3,
        |  CAST(strpos(c_name, '#') AS INT) AS hash_pos,
        |  ltrim(c_name, 'C') AS no_c,
        |  greatest(c_custkey % 7, c_custkey % 5) AS g,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null
        |FROM customer WHERE c_custkey % 10 = 0 ORDER BY c_custkey""".stripMargin,
      ) { (spark, sfDir) =>
      customer(spark, sfDir).filter(col("c_custkey") % 10 === 0).select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        reverse(col("c_name")).as("rname"),
        repeat(col("c_mktsegment"), 2).as("twice"),
        regexp_replace(col("c_name"), "Customer", "Cust").as("short_name"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("lowered_vowels"),
        expr("left(c_name, 4)").as("l4"),
        expr("right(c_name, 3)").as("r3"),
        instr(col("c_name"), "#").as("hash_pos"),
        expr("trim(LEADING 'C' FROM c_name)").as("no_c"),
        greatest(col("c_custkey") % 7, col("c_custkey") % 5).as("g"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"))
        .orderBy("c_custkey")
    },

    // pure theta (inequality-only) join — small x small by design; large
    // theta joins need banding/broadcast, which join_range demonstrates
    GraftQuery("join_theta",
      """SELECT n1.n_name AS a, n2.n_name AS b
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_nationkey < n2.n_nationkey AND n1.n_regionkey > n2.n_regionkey
        |ORDER BY a, b""".stripMargin) { (spark, sfDir) =>
      val n1 = nation(spark, sfDir).select(col("n_nationkey").as("k1"),
        col("n_regionkey").as("r1"), col("n_name").as("a"))
      val n2 = nation(spark, sfDir).select(col("n_nationkey").as("k2"),
        col("n_regionkey").as("r2"), col("n_name").as("b"))
      n1.join(n2, col("k1") < col("k2") && col("r1") > col("r2"))
        .select("a", "b").orderBy("a", "b")
    },

    // the LARGE theta/interval join join_theta's comment points at: price-
    // similarity blocking (numeric record linkage) with NO equi key —
    // every anchor order joined to all orders within ±$50. Naively that is
    // a BroadcastNestedLoopJoin (quadratic scan work at scale); the engine
    // BINS the value axis at interval width, explodes each anchor interval
    // into its ≤2 covering bins, equi-joins on bin, and re-applies the
    // exact BETWEEN as a residual — the standard banded range-join
    // rewrite. Work is Σ per-bin (anchors × facts), bounded by the value
    // distribution instead of |A|·|F|; the plan is a plain shuffled equi
    // join that scales like any other. The oracle runs the literal
    // BETWEEN join.
    GraftQuery("join_interval_binned",
      """WITH o AS (SELECT o_orderkey AS k,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |a AS (SELECT k AS ak, c AS ac FROM o WHERE k % 100 = 0)
        |SELECT a.ak, CAST(count(*) AS BIGINT) AS n_cands
        |FROM a JOIN o ON o.c BETWEEN a.ac - 5000 AND a.ac + 5000 AND o.k <> a.ak
        |GROUP BY a.ak ORDER BY a.ak""".stripMargin) { (spark, sfDir) =>
      val tol = 5000L
      val binW = 10000L // >= interval width => each interval covers <= 2 bins
      val o = orders(spark, sfDir).select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("c"))
      val anchors = o.filter(col("k") % 100 === 0)
        .select(col("k").as("ak"), col("c").as("ac"))
        .withColumn("bin",
          explode(sequence(expr(s"(ac - $tol) DIV $binW"), expr(s"(ac + $tol) DIV $binW"))))
      val facts = o.withColumn("bin", expr(s"c DIV $binW"))
      anchors.join(facts,
          anchors("bin") === facts("bin")
            && col("c").between(col("ac") - tol, col("ac") + tol)
            && col("k") =!= col("ak"))
        .groupBy("ak").agg(count(lit(1)).as("n_cands"))
        .orderBy("ak")
    },

    // incremental aggregate maintenance — the algebra that makes
    // incremental ETL valid at scale: a materialized per-status state
    // (count, cents) built from the base partition merges with the delta
    // batch's partial aggregate by SUMMING the partials, never rescanning
    // the base. The oracle aggregates base ∪ delta directly, so hash
    // equality IS the proof that merge(agg(base), agg(delta)) ==
    // agg(base ∪ delta) for these aggregates — exact integer cents, the
    // associative/commutative form partial aggregation requires.
    GraftQuery("agg_incremental",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (spark, sfDir) =>
      val cents = floor(col("o_totalprice") * 100).cast("long")
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(cents).as("cents"))
      val base = partial(orders(spark, sfDir).filter(col("o_orderkey") % 10 =!= 0))
      val delta = partial(orders(spark, sfDir).filter(col("o_orderkey") % 10 === 0))
      base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(sum("n").as("n"), sum("cents").as("cents"))
        .orderBy("o_orderstatus")
    },

    // order-sensitive argmin/argmax aggregates with a composed unique
    // ordering key (ties on price alone would be engine-ambiguous)
    GraftQuery("agg_minby_maxby",
      """SELECT o_orderstatus,
        |  max_by(o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey) AS top_order,
        |  min_by(o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey) AS bottom_order
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      ) { (spark, sfDir) =>
      val key = floor(col("o_totalprice") * 100).cast("long") * 1000000 + col("o_orderkey")
      orders(spark, sfDir).groupBy("o_orderstatus")
        .agg(max_by(col("o_orderkey"), key).as("top_order"),
          min_by(col("o_orderkey"), key).as("bottom_order"))
        .orderBy("o_orderstatus")
    },

    // fixed-width value histogram over the events stream table
    GraftQuery("events_value_histogram",
      """SELECT CAST(floor(value / 25) AS BIGINT) AS bucket, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, sfDir) =>
      graft.Tables.events(spark, sfDir)
        .groupBy(floor(col("value") / 25).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("v_cents"))
        .orderBy("bucket")
    },

    // per-user feature aggregation over the event stream — the feature-
    // engineering rollup a training pipeline derives before a model join:
    // activity volume, span, type diversity, exact integer value stats
    GraftQuery("events_user_features",
      """SELECT user_id,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(epoch_us(CAST(max(ts) AS TIMESTAMP)) - epoch_us(CAST(min(ts) AS TIMESTAMP)) AS BIGINT) AS span_us,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v_cents,
        |  CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v_max_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, sfDir) =>
      graft.Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          (expr("unix_micros(CAST(max(ts) AS TIMESTAMP))")
            - expr("unix_micros(CAST(min(ts) AS TIMESTAMP))")).as("span_us"),
          sum(floor(col("value") * 100).cast("long")).as("v_cents"),
          max(floor(col("value") * 100).cast("long")).as("v_max_cents"))
        .orderBy("user_id")
    },

    // array-function suite over the ACL arrays (portable subset)
    GraftQuery("scalar_array_suite",
      s"""WITH $AclCte
         |SELECT file,
         |  CAST(len(acl) AS INT) AS n_entries,
         |  list_contains(acl, 'other::r--') AS has_other,
         |  array_to_string(list_sort(acl), '|') AS sorted_spec,
         |  CAST(len(list_distinct(acl)) AS INT) AS n_distinct,
         |  acl[2] AS second_entry,
         |  array_to_string(acl[1:2], '|') AS first_two,
         |  CAST(list_position(acl, 'other::r--') AS INT) AS other_pos
         |FROM aclrec ORDER BY file""".stripMargin) { (spark, sfDir) =>
      aclRecords(spark, sfDir).select(
        col("file"),
        size(col("acl")).as("n_entries"),
        array_contains(col("acl"), "other::r--").as("has_other"),
        array_join(array_sort(col("acl")), "|").as("sorted_spec"),
        size(array_distinct(col("acl"))).as("n_distinct"),
        element_at(col("acl"), 2).as("second_entry"),
        array_join(slice(col("acl"), 1, 2), "|").as("first_two"),
        array_position(col("acl"), "other::r--").cast("int").as("other_pos"))
        .orderBy("file")
    },

    // equi-depth bucketing (feature binning): ntile(10) per event type
    // over the value in integer cents, total-ordered by (value, event_id)
    // so both engines cut identical bucket boundaries. Published as
    // (type, bucket) → count + [lo, hi] cents. At 100 TB the exact
    // windowed form gives way to approx_percentile cut points (the
    // agg_percentiles exposure) — this is the exact-tier exposure of the
    // same binning operator, like the other window queries.
    GraftQuery("events_ntile_buckets",
      """SELECT event_type, bucket, count(*) AS n,
        |  CAST(min(v) AS BIGINT) AS lo_cents, CAST(max(v) AS BIGINT) AS hi_cents
        |FROM (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
        |        ntile(10) OVER (PARTITION BY event_type
        |                        ORDER BY CAST(floor(value * 100) AS BIGINT), event_id) AS bucket
        |      FROM events)
        |GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin) { (spark, sfDir) =>
      import org.apache.spark.sql.expressions.Window
      val v = floor(col("value") * 100).cast("long")
      val w = Window.partitionBy("event_type").orderBy(col("v"), col("event_id"))
      graft.Tables.events(spark, sfDir)
        .select(col("event_type"), v.as("v"), col("event_id"))
        .withColumn("bucket", ntile(10).over(w))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), min("v").as("lo_cents"), max("v").as("hi_cents"))
        .orderBy("event_type", "bucket")
    },

    // RFM customer segmentation (recency / frequency / monetary
    // quintiles) — the classic lifecycle-marketing rollup, built on
    // GLOBAL quintiles without a single-partition window: each metric's
    // global rank is the distributed prefix count (Prefix.scan), and the
    // NTILE(5) bucket is then PURE ARITHMETIC on (rank, n) — the exact
    // SQL-NTILE split (first n%5 buckets get one extra row) — so both
    // engines compute identical buckets from identical integer ranks
    // (DuckDB replays the same formula from row_number, NOT its native
    // ntile, keeping the math engine-identical). Quintile 1 = best
    // (most recent / most orders / highest spend). Requires ≥5
    // customers (q ≥ 1); all driver sfs hold thousands.
    GraftQuery("orders_rfm",
      s"""WITH o AS (SELECT o_custkey,
         |        epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
         |        CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         |ref AS (SELECT max(day) AS rd FROM o),
         |c AS (SELECT o_custkey,
         |        CAST((SELECT rd FROM ref) - max(day) AS BIGINT) AS r_days,
         |        CAST(count(*) AS BIGINT) AS f,
         |        CAST(sum(cents) AS BIGINT) AS m_cents
         |      FROM o GROUP BY o_custkey),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
         |r AS (SELECT c.*,
         |        row_number() OVER (ORDER BY r_days ASC, o_custkey) AS rn_r,
         |        row_number() OVER (ORDER BY f DESC, o_custkey) AS rn_f,
         |        row_number() OVER (ORDER BY m_cents DESC, o_custkey) AS rn_m
         |      FROM c)
         |SELECT o_custkey, r_days, f, m_cents,
         |       ${tileSql("rn_r")} AS r_q, ${tileSql("rn_f")} AS f_q,
         |       ${tileSql("rn_m")} AS m_q,
         |       ${tileSql("rn_r")} * 100 + ${tileSql("rn_f")} * 10
         |         + ${tileSql("rn_m")} AS rfm_code
         |FROM r, nn ORDER BY o_custkey""".stripMargin) { (spark, sfDir) =>
      val dayE = "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
      val o = orders(spark, sfDir)
      val refDay = o.agg(max(expr(dayE))).first().getLong(0)
      val c = o.groupBy("o_custkey").agg(
        (lit(refDay) - max(expr(dayE))).as("r_days"),
        count(lit(1)).as("f"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("m_cents"))
        // consumed by the population count AND the three rank chains —
        // persist so the orders aggregation runs once
        .transform(graft.CacheTracker.persist)
      val n = c.count()
      require(n >= 5, s"RFM quintiles need >= 5 customers, got $n")
      def tile(rn: String): org.apache.spark.sql.Column = {
        val q = n / 5; val r = n % 5
        expr(s"CASE WHEN $rn <= ${r * (q + 1)} THEN ($rn + $q) DIV ${q + 1} " +
          s"ELSE $r + ($rn - ${r * (q + 1)} + ${q - 1}) DIV $q END")
      }
      val ranked = Seq(
        ("rn_r", Seq(col("r_days").asc, col("o_custkey").asc)),
        ("rn_f", Seq(col("f").desc, col("o_custkey").asc)),
        ("rn_m", Seq(col("m_cents").desc, col("o_custkey").asc)))
        .foldLeft(c) { case (df, (name, keys)) =>
          Prefix.scan(df, name, keys, lit(1L), Prefix.Sum)
        }
      ranked.select(col("o_custkey"), col("r_days"), col("f"), col("m_cents"),
          tile("rn_r").as("r_q"), tile("rn_f").as("f_q"), tile("rn_m").as("m_q"),
          (tile("rn_r") * 100 + tile("rn_f") * 10 + tile("rn_m")).as("rfm_code"))
        .orderBy("o_custkey")
    },

    // join-key skew profiler — the 100 TB pre-flight diagnostic: per-key
    // cardinality of the fact table's join key, ranked, with each hot
    // key's corpus share in exact ppm. One hash agg (map-side combined)
    // + a TakeOrdered top-20; the global total is a broadcast single row.
    // This is what decides salting / AQE skew thresholds before a big
    // join, as a first-class oracled operator rather than a notebook.
    GraftQuery("prof_key_skew",
      """WITH k AS (SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS cnt
        |           FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM k),
        |top AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rnk
        |        FROM k)
        |SELECT rnk, key, cnt,
        |  CAST(cnt * 1000000 // (SELECT total FROM s) AS BIGINT) AS share_ppm
        |FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin) { (spark, sfDir) =>
      import org.apache.spark.sql.expressions.Window
      val k = lineitem(spark, sfDir)
        .groupBy(col("l_orderkey").as("key")).agg(count(lit(1)).as("cnt"))
      val tot = k.agg(sum("cnt").as("total"))
      // TakeOrdered keeps the top slice distributed; the rank window then
      // runs on 20 rows, never on the full key population
      k.orderBy(col("cnt").desc, col("key")).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cnt").desc, col("key"))))
        .join(broadcast(tot))
        .selectExpr("rnk", "key", "cnt", "(cnt * 1000000) DIV total AS share_ppm")
        .orderBy("rnk")
    },

    // table profiler (the ANALYZE TABLE / stats-collection operator):
    // per-column exact distinct count, min, max, row count in ONE scan —
    // what a CBO, data-quality monitor, or layout advisor reads first.
    // Spark plans the multi-distinct aggregate with one Expand + two-stage
    // hash agg (no per-column rescans); min/max stringify so the profile
    // row shape is column-type-agnostic like a real stats catalog. At
    // 100 TB exact ndv is the one heavy term — the documented scale relief
    // is approx_count_distinct (HLL, the events_hll_distinct machinery),
    // kept exact here so the row stays oracle-checkable.
    GraftQuery("prof_table_stats",
      """WITH s AS (SELECT count(*) AS n,
        |    count(DISTINCT l_partkey) AS ndv_pk, min(l_partkey) AS mn_pk, max(l_partkey) AS mx_pk,
        |    count(DISTINCT l_suppkey) AS ndv_sk, min(l_suppkey) AS mn_sk, max(l_suppkey) AS mx_sk,
        |    count(DISTINCT l_returnflag) AS ndv_rf, min(l_returnflag) AS mn_rf, max(l_returnflag) AS mx_rf
        |  FROM lineitem)
        |SELECT 'l_partkey' AS col, CAST(ndv_pk AS BIGINT) AS ndv,
        |  CAST(mn_pk AS VARCHAR) AS min_v, CAST(mx_pk AS VARCHAR) AS max_v,
        |  CAST(n AS BIGINT) AS n_rows FROM s
        |UNION ALL SELECT 'l_returnflag', CAST(ndv_rf AS BIGINT), mn_rf, mx_rf,
        |  CAST(n AS BIGINT) FROM s
        |UNION ALL SELECT 'l_suppkey', CAST(ndv_sk AS BIGINT),
        |  CAST(mn_sk AS VARCHAR), CAST(mx_sk AS VARCHAR), CAST(n AS BIGINT) FROM s
        |ORDER BY col""".stripMargin) { (spark, sfDir) =>
      val s = lineitem(spark, sfDir).agg(
        count(lit(1)).as("n"),
        countDistinct("l_partkey").as("ndv_pk"),
        min("l_partkey").as("mn_pk"), max("l_partkey").as("mx_pk"),
        countDistinct("l_suppkey").as("ndv_sk"),
        min("l_suppkey").as("mn_sk"), max("l_suppkey").as("mx_sk"),
        countDistinct("l_returnflag").as("ndv_rf"),
        min("l_returnflag").as("mn_rf"), max("l_returnflag").as("mx_rf"))
      s.selectExpr(
        "stack(3, " +
          "'l_partkey', ndv_pk, CAST(mn_pk AS STRING), CAST(mx_pk AS STRING), " +
          "'l_returnflag', ndv_rf, mn_rf, mx_rf, " +
          "'l_suppkey', ndv_sk, CAST(mn_sk AS STRING), CAST(mx_sk AS STRING)) " +
          "AS (col, ndv, min_v, max_v)", "n AS n_rows")
        .orderBy("col")
    },

    // Equi-DEPTH histogram (complement of events_value_histogram's
    // equi-width bins): 16 buckets each holding n/16 ± 1 rows of
    // l_extendedprice — the exact-quantile boundary computation an
    // optimizer's statistics collector (or a normalization stage) runs.
    // Global order comes from the distributed prefix count (Prefix.scan:
    // range partition + per-partition counts; ties broken by
    // the (orderkey, linenumber) primary key so bucket edges are
    // deterministic), bucket id is pure arithmetic on the rank, and the
    // per-bucket rollup is one hash agg — no single-partition window at
    // any point. The oracle replays the identical rank→bucket formula.
    GraftQuery("agg_equidepth_hist",
      """WITH v AS (SELECT l_extendedprice AS x, l_orderkey, l_linenumber FROM lineitem),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, l_orderkey, l_linenumber) AS rn
        |      FROM v),
        |n AS (SELECT count(*) AS n FROM v)
        |SELECT CAST(((rn - 1) * 16) // n.n AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(x) AS lo, max(x) AS hi,
        |       CAST(sum(CAST(floor(x * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM r CROSS JOIN n GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, sfDir) =>
      val v = lineitem(spark, sfDir)
        .select(col("l_extendedprice").as("x"), col("l_orderkey"), col("l_linenumber"))
      val n = v.count()
      Prefix.scan(v, "rn", Seq(col("x"), col("l_orderkey"), col("l_linenumber")), lit(1L), Prefix.Sum)
        .withColumn("bucket", expr(s"((rn - 1) * 16) DIV $n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), min("x").as("lo"), max("x").as("hi"),
          sum(floor(col("x") * 100).cast("long")).as("cents"))
        .orderBy("bucket")
    },

    // Benford first-digit audit (Benford 1938; the fraud/fat-finger screen
    // a data-quality pipeline runs over any monetary column): distribution
    // of the first significant digit of the order totals against the
    // log10(1+1/d) law. The expected ppm values are computed once in Scala
    // and inlined as identical integer literals into both engines (the
    // HLL linear-counting-table pattern), so the whole row — observed,
    // expected, deviation — is exact integer arithmetic. One hash agg to 9
    // rows plus a 1-row total cross-joined back; nothing scales with rows.
    GraftQuery("prof_benford",
      s"""WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |           FROM orders WHERE o_totalprice > 0),
         |g AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |             CAST(count(*) AS BIGINT) AS n
         |      FROM c GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
         |b(digit, exp_ppm) AS (VALUES ${BenfordPpm.zipWithIndex
            .map { case (p, i) => s"(${i + 1}, ${p}::BIGINT)" }.mkString(", ")})
         |SELECT b.digit, coalesce(g.n, 0) AS n,
         |       CAST(coalesce(g.n, 0) * 1000000 // t.total AS BIGINT) AS obs_ppm,
         |       b.exp_ppm,
         |       CAST(coalesce(g.n, 0) * 1000000 // t.total - b.exp_ppm AS BIGINT) AS dev_ppm
         |FROM b LEFT JOIN g ON g.digit = b.digit CROSS JOIN t
         |ORDER BY b.digit""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      val g = orders(spark, sfDir)
        .filter(col("o_totalprice") > 0)
        .select(substring(floor(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = g.agg(sum("n").as("total"))
      val b = BenfordPpm.zipWithIndex
        .map { case (p, i) => ((i + 1).toLong, p) }.toDF("digit", "exp_ppm")
      b.join(g, Seq("digit"), "left").join(broadcast(t))
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
          expr("coalesce(n, 0) * 1000000 DIV total").as("obs_ppm"),
          col("exp_ppm"),
          expr("coalesce(n, 0) * 1000000 DIV total - exp_ppm").as("dev_ppm"))
        .orderBy("digit")
    },

    // Declarative data-quality rule engine — the constraint sweep a
    // warehouse runs on every load (the Deequ/expectations shape): each
    // rule is (violation predicate, checked population), evaluated as
    // plain aggregates and unioned into one report with exact ppm rates.
    // Orphan/childless checks are anti-joins (null-safe: a NULL key can
    // never "match", so it counts as an orphan, which is the right DQ
    // reading); uniqueness is a grouped HAVING. Zero rows violate on this
    // synthetic corpus for most rules — the report proving that IS the
    // product. One job, no driver loops; every rule frame is 1 row.
    GraftQuery("dq_violations",
      """WITH r1 AS (SELECT 'lineitem_orphan_order' AS rule,
        |        CAST((SELECT count(*) FROM lineitem l
        |              WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                                WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_viol,
        |        CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_checked),
        |r2 AS (SELECT 'order_no_lineitems' AS rule,
        |        CAST((SELECT count(*) FROM orders o
        |              WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                                WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT),
        |        CAST((SELECT count(*) FROM orders) AS BIGINT)),
        |r3 AS (SELECT 'order_orphan_customer' AS rule,
        |        CAST((SELECT count(*) FROM orders o
        |              WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                                WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |        CAST((SELECT count(*) FROM orders) AS BIGINT)),
        |r4 AS (SELECT 'customer_dup_key' AS rule,
        |        CAST((SELECT coalesce(sum(c), 0) FROM (
        |          SELECT count(*) AS c FROM customer GROUP BY c_custkey
        |          HAVING count(*) > 1)) AS BIGINT),
        |        CAST((SELECT count(*) FROM customer) AS BIGINT)),
        |r5 AS (SELECT 'order_nonpositive_total' AS rule,
        |        CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT),
        |        CAST((SELECT count(*) FROM orders) AS BIGINT)),
        |r6 AS (SELECT 'lineitem_qty_range' AS rule,
        |        CAST((SELECT count(*) FROM lineitem
        |              WHERE l_quantity NOT BETWEEN 1 AND 50) AS BIGINT),
        |        CAST((SELECT count(*) FROM lineitem) AS BIGINT)),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
        |      SELECT * FROM r3 UNION ALL SELECT * FROM r4 UNION ALL
        |      SELECT * FROM r5 UNION ALL SELECT * FROM r6)
        |SELECT rule, n_viol, n_checked,
        |       CAST(n_viol * 1000000 // n_checked AS BIGINT) AS viol_ppm
        |FROM u ORDER BY rule""".stripMargin) { (spark, sfDir) =>
      val li = lineitem(spark, sfDir)
      val o = orders(spark, sfDir)
      val c = customer(spark, sfDir)
      def report(rule: String, viol: org.apache.spark.sql.DataFrame,
          checked: org.apache.spark.sql.DataFrame) =
        viol.agg(count(lit(1)).as("n_viol"))
          .join(checked.agg(count(lit(1)).as("n_checked")))
          .select(lit(rule).as("rule"), col("n_viol"), col("n_checked"))
      val dup = c.groupBy("c_custkey").agg(count(lit(1)).as("cc"))
        .filter(col("cc") > 1)
        .agg(coalesce(sum("cc"), lit(0L)).as("n_viol"))
        .join(c.agg(count(lit(1)).as("n_checked")))
        .select(lit("customer_dup_key").as("rule"), col("n_viol"), col("n_checked"))
      Seq(
        report("lineitem_orphan_order",
          li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti"), li),
        report("order_no_lineitems",
          o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti"), o),
        report("order_orphan_customer",
          o.join(c, col("o_custkey") === col("c_custkey"), "left_anti"), o),
        dup,
        report("order_nonpositive_total", o.filter(col("o_totalprice") <= 0), o),
        report("lineitem_qty_range",
          li.filter(!col("l_quantity").between(1, 50)), li))
        .reduce(_ unionByName _)
        .withColumn("viol_ppm", expr("n_viol * 1000000 DIV n_checked"))
        .orderBy("rule")
    },

    // Cross-table key-coverage profile — the completeness companion to
    // dq_violations' orphan rules: for each dimension→fact relationship,
    // how many dimension keys actually appear in the fact (a dimension
    // row nothing references is dead weight; coverage collapsing release
    // over release is the classic silent-upstream-change smell). One
    // distinct-project + semi-join count per pair, exact ppm.
    GraftQuery("prof_key_coverage",
      """WITH c1 AS (SELECT 'customer->orders' AS rel,
        |        CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_keys,
        |        CAST((SELECT count(*) FROM customer c
        |              WHERE EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_custkey = c.c_custkey)) AS BIGINT) AS n_used),
        |c2 AS (SELECT 'part->lineitem',
        |        CAST((SELECT count(*) FROM part) AS BIGINT),
        |        CAST((SELECT count(*) FROM part p
        |              WHERE EXISTS (SELECT 1 FROM lineitem l
        |                            WHERE l.l_partkey = p.p_partkey)) AS BIGINT)),
        |c3 AS (SELECT 'supplier->lineitem',
        |        CAST((SELECT count(*) FROM supplier) AS BIGINT),
        |        CAST((SELECT count(*) FROM supplier s
        |              WHERE EXISTS (SELECT 1 FROM lineitem l
        |                            WHERE l.l_suppkey = s.s_suppkey)) AS BIGINT)),
        |c4 AS (SELECT 'orders->lineitem',
        |        CAST((SELECT count(*) FROM orders) AS BIGINT),
        |        CAST((SELECT count(*) FROM orders o
        |              WHERE EXISTS (SELECT 1 FROM lineitem l
        |                            WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT)),
        |u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |      UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4)
        |SELECT rel, n_keys, n_used,
        |       CAST(n_used * 1000000 // n_keys AS BIGINT) AS coverage_ppm
        |FROM u ORDER BY rel""".stripMargin) { (spark, sfDir) =>
      def cov(rel: String, dim: org.apache.spark.sql.DataFrame, key: String,
          fact: org.apache.spark.sql.DataFrame, fkey: String) =
        dim.agg(count(lit(1)).as("n_keys"))
          .join(dim.join(fact.select(col(fkey).as(key)).distinct(), Seq(key), "left_semi")
            .agg(count(lit(1)).as("n_used")))
          .select(lit(rel).as("rel"), col("n_keys"), col("n_used"))
      Seq(
        cov("customer->orders", customer(spark, sfDir).select("c_custkey"),
          "c_custkey", orders(spark, sfDir), "o_custkey"),
        cov("part->lineitem", part(spark, sfDir).select("p_partkey"),
          "p_partkey", lineitem(spark, sfDir), "l_partkey"),
        cov("supplier->lineitem", supplier(spark, sfDir).select("s_suppkey"),
          "s_suppkey", lineitem(spark, sfDir), "l_suppkey"),
        cov("orders->lineitem", orders(spark, sfDir).select("o_orderkey"),
          "o_orderkey", lineitem(spark, sfDir), "l_orderkey"))
        .reduce(_ unionByName _)
        .withColumn("coverage_ppm", expr("n_used * 1000000 DIV n_keys"))
        .orderBy("rel")
    },

    // Collision-entropy profile of the categorical columns — the
    // cardinality/uniformity audit a planner, partitioner or DQ monitor
    // reads per column: exact row count, distinct count, collision mass
    // Σc² (the quantity behind join fan-out estimates and Rényi-2
    // entropy), and H₂ = log2(n²/Σc²) in millibits (equals log2(ndv)
    // exactly when uniform; drops as the column skews). Σc² is exact
    // integer; the single log2 runs on identical exact inputs in both
    // engines, so the rounded millibits are bit-stable. One hash agg per
    // column, each reduced to ONE row before the union — nothing scales
    // with rows after the per-column aggregation.
    GraftQuery("prof_collision",
      """WITH c1 AS (SELECT 'customer.c_mktsegment' AS col_name, count(*) AS c
        |            FROM customer GROUP BY c_mktsegment),
        |c2 AS (SELECT 'orders.o_orderpriority', count(*) FROM orders GROUP BY o_orderpriority),
        |c3 AS (SELECT 'orders.o_orderstatus', count(*) FROM orders GROUP BY o_orderstatus),
        |c4 AS (SELECT 'events.event_type', count(*) FROM events GROUP BY event_type),
        |c5 AS (SELECT 'documents.lang', count(*) FROM documents GROUP BY lang),
        |c6 AS (SELECT 'documents.source', count(*) FROM documents GROUP BY source),
        |u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3
        |      UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM c5
        |      UNION ALL SELECT * FROM c6),
        |g AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS n_distinct,
        |        CAST(sum(c * c) AS BIGINT) AS sum_c2
        |      FROM u GROUP BY col_name)
        |SELECT col_name, n, n_distinct, sum_c2,
        |  CAST(round(1000 * log2(CAST(n AS DOUBLE) * n / sum_c2)) AS BIGINT) AS h2_millibits
        |FROM g ORDER BY col_name""".stripMargin) { (spark, sfDir) =>
      def colCounts(name: String, df: org.apache.spark.sql.DataFrame, c: String) =
        df.groupBy(col(c)).agg(count(lit(1)).as("c"))
          .select(lit(name).as("col_name"), col("c"))
      Seq(
        colCounts("customer.c_mktsegment", customer(spark, sfDir), "c_mktsegment"),
        colCounts("orders.o_orderpriority", orders(spark, sfDir), "o_orderpriority"),
        colCounts("orders.o_orderstatus", orders(spark, sfDir), "o_orderstatus"),
        colCounts("events.event_type", graft.Tables.events(spark, sfDir), "event_type"),
        colCounts("documents.lang", graft.Tables.documents(spark, sfDir), "lang"),
        colCounts("documents.source", graft.Tables.documents(spark, sfDir), "source"))
        .reduce(_ unionByName _)
        .groupBy("col_name")
        .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("sum_c2"))
        .select(col("col_name"), col("n"), col("n_distinct"), col("sum_c2"),
          round(lit(1000) * log2(col("n").cast("double") * col("n") / col("sum_c2")))
            .cast("long").as("h2_millibits"))
        .orderBy("col_name")
    }
  )
}
