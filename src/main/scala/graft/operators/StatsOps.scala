package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** Statistical-model tier: distributed PCA by power iteration over the
  * embedding corpus, market-basket association rules, and robust
  * (median/MAD) outlier screening — the model-fitting shapes a training-
  * data pipeline runs beside its dedup/similarity stages (no counterpart
  * in the reference; north-star extensions).
  *
  * All arithmetic is exact-integer on 1e6-quantized components (the
  * SimilarityOps convention), so every step is a pure function of the
  * data — engine- and partitioning-independent — and the DuckDB oracle
  * replays the identical iterations as unrolled CTEs (the
  * graph_pagerank / k-means pattern).
  */
object StatsOps {

  private val Dim = 64
  private val PcaIters = 6
  private val QScale = 1000000L

  /** Exact integer floor division for possibly-negative numerators.
    * BOTH engines' integer division truncates toward zero (Spark DIV, and
    * — measured, despite flooring on doubles — DuckDB's integer `//`), so
    * each side first subtracts the non-negative remainder to make the
    * numerator an exact multiple, where truncation equals floor. */
  private def fdivSql(a: String, b: String): String =
    s"(($a) - pmod(($a), $b)) DIV ($b)"

  /** the DuckDB spelling: pmod(a, b) = ((a % b) + b) % b */
  private def duckFdivSql(a: String, b: String): String =
    s"(($a) - (((($a) % ($b)) + ($b)) % ($b))) // ($b)"

  // ---- distributed PCA: top principal component by power iteration ----
  //
  // x_q       = floor(x · 1e6)                 (per-component quantization)
  // m_i       = floor(Σ_v x_q(v,i) / n)        (integer mean)
  // c(v,i)    = x_q(v,i) − m_i                 (centered component)
  // w_0       = (1e6, …, 1e6)
  // d_t(v)    = floor(Σ_i c(v,i)·w_{t−1}(i) / D)   with D = 1e6·(n/1e4 + 1)
  // s_t(i)    = Σ_v d_t(v)·c(v,i)
  // w_t(i)    = floor(s_t(i) / (max_j|s_t(j)|/1e6 + 1))   (renormalize)
  //
  // Each iteration is ONE distributed aggregation over the centered
  // frame — d_t is a per-row expression against the broadcast-literal
  // w_{t−1} (64 longs), s_t is 64 sums in a single hash agg, and only 64
  // longs ever reach the driver. The Gram matrix is never materialized:
  // this is the canonical data-side power iteration, O(iters) scans and
  // no shuffle wider than a 1-row aggregate, so the shape is unchanged at
  // 100 TB. Overflow is bounded by construction: |c| ≤ 2e6, |w| ≤ 2e6 ⇒
  // |dot| ≤ 64·4e12 ≈ 2.6e14; D grows stepwise with n so that
  // |s| ≤ (n/1e4+1)·1e4 · (2.6e14/((n/1e4+1)·1e6)) · 2e6 ≈ 5.2e18 < 2^63
  // at any corpus size.
  //
  // The iteration count is fixed (an oracle-able pure function), not
  // convergence-tested: on a narrow eigengap the returned direction is
  // simply the 6-step Krylov iterate — identical in both engines.

  /** memoized per (session, sfDir): (n, mean, w_final) — the fitted model
    * is a corpus snapshot like the k-means codebook (192 longs) */
  private val pcaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Long, Array[Long], Array[Long])]

  /** (vec_id, cx: array<bigint>) centered quantized embeddings */
  private def centeredFrame(spark: SparkSession, sfDir: String,
      mean: Array[Long]): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr(s"""zip_with(
                |  transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT)),
                |  array(${mean.mkString("L,")}L),
                |  (x, m) -> x - m)""".stripMargin).as("cx"))

  def pcaModel(spark: SparkSession, sfDir: String): (Long, Array[Long], Array[Long]) =
    pcaCache.getOrElseUpdate((spark, sfDir), {
      val q = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT))").as("xq"))
        .transform(graft.CacheTracker.persist)
      // one scan: n + the 64 component sums
      val mRow = q.agg(count(lit(1)).as("n"),
        (0 until Dim).map(i => sum(expr(s"element_at(xq, ${i + 1})")).as(s"s$i")): _*)
        .collect()(0)
      val n = mRow.getLong(0)
      val mean = Array.tabulate(Dim)(i => Math.floorDiv(mRow.getLong(i + 1), n))
      val d = QScale * (n / 10000L + 1)
      val cx = q.select(col("vec_id"),
        expr(s"zip_with(xq, array(${mean.mkString("L,")}L), (x, m) -> x - m)").as("cx"))
      var w = Array.fill(Dim)(QScale)
      for (_ <- 1 to PcaIters) {
        val dot = s"aggregate(zip_with(cx, array(${w.mkString("L,")}L), (x, y) -> x * y), CAST(0 AS BIGINT), (a, e) -> a + e)"
        val sRow = cx
          .withColumn("dq", expr(fdivSql(dot, d.toString)))
          .agg(sum(expr("element_at(cx, 1) * dq")).as("s0"),
            (1 until Dim).map(i => sum(expr(s"element_at(cx, ${i + 1}) * dq")).as(s"s$i")): _*)
          .collect()(0)
        val s = Array.tabulate(Dim)(i => sRow.getLong(i))
        val denom = s.map(math.abs).max / QScale + 1
        w = s.map(v => Math.floorDiv(v, denom))
      }
      (n, mean, w)
    })

  /** shared oracle CTE chain ending in w$PcaIters(i, w); `cc`, `dd` stay
    * in scope for the projection tail */
  private def pcaOracleCtes: String = {
    // each CTE must reference its predecessor exactly ONCE: DuckDB inlines
    // CTEs, so a round that mentions s$t twice (the sum and a scalar-
    // subquery max) doubles the expanded plan per round — 2^iters copies
    // of the whole chain. The renormalizer is therefore a window max over
    // the same single s$t reference.
    val rounds = (1 to PcaIters).map { t =>
      s"""d$t AS (SELECT vec_id, CAST(${duckFdivSql("SUM(cx * w)", "(SELECT dv FROM dd)")} AS BIGINT) AS dq
         |  FROM cc JOIN w${t - 1} USING (i) GROUP BY vec_id),
         |s$t AS (SELECT i, CAST(SUM(cx * dq) AS BIGINT) AS s
         |  FROM cc JOIN d$t USING (vec_id) GROUP BY i),
         |w$t AS (SELECT i, CAST(${duckFdivSql("s", s"MAX(ABS(s)) OVER () // $QScale + 1")} AS BIGINT) AS w
         |  FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""comps AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $QScale) AS BIGINT) AS xq
       |  FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS i) ii),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |dd AS (SELECT $QScale * (n // 10000 + 1) AS dv FROM nn),
       |mm AS (SELECT i, CAST(${duckFdivSql("SUM(xq)", "(SELECT n FROM nn)")} AS BIGINT) AS m
       |  FROM comps GROUP BY i),
       |cc AS (SELECT c.vec_id, c.i, c.xq - m.m AS cx
       |  FROM comps c JOIN mm m ON m.i = c.i),
       |w0 AS (SELECT CAST(unnest(generate_series(0, ${Dim - 1})) AS BIGINT) AS i,
       |    CAST($QScale AS BIGINT) AS w),
       |$rounds""".stripMargin
  }

  private val MinSupport = 2L
  private val Ppm = 1000000L

  val queries: Seq[GraftQuery] = Seq(

    // top principal direction of the embedding corpus (integer power
    // iteration; 64 rows — the fitted component vector itself is the
    // oracled result, so quantization, centering, every iterate and the
    // renormalization rule are all hash-visible)
    GraftQuery("sim_pca_power",
      s"""WITH $pcaOracleCtes
         |SELECT i, w FROM w$PcaIters ORDER BY i""".stripMargin,
      bench = true) { (spark, sfDir) =>
      import spark.implicits._
      val (_, _, w) = pcaModel(spark, sfDir)
      (0 until Dim).map(i => (i.toLong, w(i))).toDF("i", "w").orderBy("i")
    },

    // per-vector projection onto the fitted component — the 1-D embedding
    // a curriculum/visualization stage consumes; one scan of the corpus
    // against the broadcast-literal model
    GraftQuery("sim_pca_project",
      s"""WITH $pcaOracleCtes
         |SELECT vec_id, CAST(${duckFdivSql("SUM(cx * w)", "(SELECT dv FROM dd)")} AS BIGINT) AS proj
         |FROM cc JOIN w$PcaIters USING (i)
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
      val (n, mean, w) = pcaModel(spark, sfDir)
      val d = QScale * (n / 10000L + 1)
      val dot = s"aggregate(zip_with(cx, array(${w.mkString("L,")}L), (x, y) -> x * y), CAST(0 AS BIGINT), (a, e) -> a + e)"
      centeredFrame(spark, sfDir, mean)
        .select(col("vec_id"), expr(fdivSql(dot, d.toString)).as("proj"))
        .orderBy("vec_id")
    },

    // market-basket association rules over order baskets: for part pairs
    // co-purchased in ≥ MinSupport orders, confidence(u→v) and lift in
    // integer ppm, top-20 by lift. The pair build is the triangles edge
    // derivation (self-join co-partitioned on l_orderkey, fan-out bounded
    // by basket size — never |parts|²); item counts and the basket total
    // are broadcast dimensions. All ratios are non-negative, so Spark's
    // truncating DIV and DuckDB's flooring // agree (the q22 rule).
    // Overflow bound: lift is derived from the already-reduced confidence
    // — (cuv·Ppm DIV cu)·n DIV cv, identical order in both engines — so
    // the largest intermediate is conf_ppm·n ≤ 1e6·n, int64-safe to
    // n ≈ 9.2e12 baskets; the naive cuv·n·Ppm form wraps (silently in
    // Spark, loudly in DuckDB) once cuv·n passes ~9.2e12, which a popular
    // pair on a 100 TB basket corpus reaches.
    GraftQuery("mine_assoc_rules",
      s"""WITH bask AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM bask),
         |item AS (SELECT l_partkey AS it, count(*) AS c FROM bask GROUP BY 1),
         |pr AS (SELECT b1.l_partkey AS u, b2.l_partkey AS v, count(*) AS cuv
         |       FROM bask b1 JOIN bask b2
         |         ON b1.l_orderkey = b2.l_orderkey AND b1.l_partkey < b2.l_partkey
         |       GROUP BY 1, 2 HAVING count(*) >= $MinSupport)
         |SELECT u, v, CAST(cuv AS BIGINT) AS support,
         |       CAST(cuv * $Ppm // iu.c AS BIGINT) AS conf_ppm,
         |       CAST((cuv * $Ppm // iu.c) * (SELECT n FROM nb) // iv.c AS BIGINT) AS lift_ppm
         |FROM pr JOIN item iu ON iu.it = u JOIN item iv ON iv.it = v
         |ORDER BY lift_ppm DESC, u, v LIMIT 20""".stripMargin,
      bench = true) { (spark, sfDir) =>
      // `bask` feeds FOUR consumers (nb, item, both self-join sides); the
      // un-cached form recomputed the scan + distinct for each (four
      // exchange pairs in the r13 before-plan). Cached once, partitioned
      // by the JOIN key before the distinct (guide §2.4, the rec_item_item
      // layout): the distinct's final agg reuses the cache partitioning
      // ((l_orderkey, l_partkey) ⊇ l_orderkey), the self-join is
      // co-partitioned, and nb's per-orderkey dedup stays exchange-free.
      val bask = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
        .repartition(col("l_orderkey"))
        .distinct()
        .transform(graft.CacheTracker.persist)
      val nb = bask.agg(countDistinct("l_orderkey").as("n"))
      val item = bask.groupBy(col("l_partkey").as("it")).agg(count(lit(1)).as("c"))
      val pr = bask.as("b1").join(bask.as("b2"),
          col("b1.l_orderkey") === col("b2.l_orderkey") &&
            col("b1.l_partkey") < col("b2.l_partkey"))
        .groupBy(col("b1.l_partkey").as("u"), col("b2.l_partkey").as("v"))
        .agg(count(lit(1)).as("cuv"))
        .filter(col("cuv") >= MinSupport)
      pr
        .join(broadcast(item.select(col("it").as("u_it"), col("c").as("cu"))),
          col("u") === col("u_it"))
        .join(broadcast(item.select(col("it").as("v_it"), col("c").as("cv"))),
          col("v") === col("v_it"))
        .crossJoin(broadcast(nb))
        .select(col("u"), col("v"), col("cuv").as("support"),
          expr(s"cuv * $Ppm DIV cu").as("conf_ppm"),
          expr(s"(cuv * $Ppm DIV cu) * n DIV cv").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("u"), col("v"))
        .limit(20)
    },

    // Integer-exact OLS trend per event-type daily series — the trend
    // line the monitoring tier fits beside CUSUM (is the drift real and
    // in which direction?) and the seasonal-naive error (is a trend even
    // there to beat?). x = day − min(day) per type (centering keeps
    // n·Σxy − Σx·Σy within int64 at any calendar epoch: with micro-unit
    // daily totals y ≤ ~1e12 and 30-day windows the numerator stays
    // ≤ ~1e15), y = the shared persisted daily micro-unit totals. The
    // closed-form slope num/den divides IDENTICALLY in both engines:
    // DuckDB's // and Spark's DIV both truncate toward zero on negatives
    // (probed: -7 // 2 = -3 in DuckDB), so plain DIV is the
    // parity-correct form here — unlike the timestamp loaders, which
    // need FLOOR division and build it from pmod. `rising` tests the
    // exact rational sign (num), not the truncated slope.
    GraftQuery("stats_trend_ols",
      """WITH e AS (SELECT event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        CAST(floor(value * 1000000) AS BIGINT) AS vu FROM events),
        |d AS (SELECT event_type, day, CAST(sum(vu) AS BIGINT) AS y
        |      FROM e GROUP BY event_type, day),
        |mi AS (SELECT event_type, min(day) AS d0 FROM d GROUP BY event_type),
        |s AS (SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(d.day - mi.d0) AS BIGINT) AS sx,
        |        CAST(sum((d.day - mi.d0) * (d.day - mi.d0)) AS BIGINT) AS sxx,
        |        CAST(sum(d.y) AS BIGINT) AS sy,
        |        CAST(sum((d.day - mi.d0) * d.y) AS BIGINT) AS sxy
        |      FROM d JOIN mi USING (event_type) GROUP BY d.event_type),
        |t AS (SELECT event_type, n, sy,
        |        n * sxy - sx * sy AS num, n * sxx - sx * sx AS den, sx FROM s)
        |SELECT event_type, n AS n_days, sy AS sum_micro,
        |       CAST(num // den AS BIGINT) AS slope_micro,
        |       CAST((sy - (num // den) * sx) // n AS BIGINT) AS intercept_micro,
        |       num > 0 AS rising
        |FROM t ORDER BY event_type""".stripMargin) { (spark, sfDir) =>
      val d = EventOps.dailyValueTotals(spark, sfDir)
        .withColumnRenamed("x", "y")
      val mi = d.groupBy("event_type").agg(min("day").as("d0"))
      val s = d.join(broadcast(mi), Seq("event_type"))
        .select(col("event_type"), (col("day") - col("d0")).as("cx"), col("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cx").as("sx"),
          sum(col("cx") * col("cx")).as("sxx"), sum("y").as("sy"),
          sum(col("cx") * col("y")).as("sxy"))
      s.select(col("event_type"), col("n"), col("sy"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("den"), col("sx"))
        .select(col("event_type"), col("n").as("n_days"), col("sy").as("sum_micro"),
          expr("num DIV den").as("slope_micro"),
          col("num"), col("sx"), col("sy"), col("n"))
        .select(col("event_type"), col("n_days"), col("sum_micro"), col("slope_micro"),
          expr("(sy - slope_micro * sx) DIV n").as("intercept_micro"),
          (col("num") > 0).as("rising"))
        .orderBy("event_type")
    },

    // Cross-series co-movement: Pearson r between every PAIR of
    // event-type daily-total series (the lag-1 self-correlation lives in
    // events_autocorr) — the screen that decides whether two metrics
    // alarm together or independently. Daily totals in exact integer
    // CENTS (micro-units would push Σxy past int64: with ~5e5-cent days
    // and 30-day windows Σxy ≈ 7.5e12; the bound is per-day totals ≤
    // ~5.5e8 cents at this window length — document-and-rescale beyond).
    // The pair join is on the bounded daily frame (types × days rows),
    // never the corpus; moments are order-free integer sums, so the one
    // rounded float division computes from identical inputs in both
    // engines.
    GraftQuery("stats_corr_pairs",
      """WITH e AS (SELECT event_type,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        |d AS (SELECT event_type, day, CAST(sum(vc) AS BIGINT) AS y
        |      FROM e GROUP BY event_type, day),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb, a.y AS x, b.y AS y
        |      FROM d a JOIN d b ON b.day = a.day AND a.event_type < b.event_type),
        |m AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM p GROUP BY ta, tb)
        |SELECT ta, tb, n AS n_days,
        |  round((n * sxy - sx * sy) /
        |        (sqrt((n * sxx - sx * sx) * 1.0)
        |         * sqrt((n * syy - sy * sy) * 1.0)), 6) AS r6
        |FROM m ORDER BY ta, tb""".stripMargin) { (spark, sfDir) =>
      val d = Tables.events(spark, sfDir)
        .select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
        .groupBy("event_type", "day").agg(sum("vc").as("y"))
        .transform(graft.CacheTracker.persist)
      val a = d.select(col("event_type").as("ta"), col("day"), col("y").as("x"))
      val b = d.select(col("event_type").as("tb"), col("day"), col("y").as("y"))
      a.join(b, Seq("day")).filter(col("ta") < col("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("ta"), col("tb"), col("n").as("n_days"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")) * lit(1.0))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy")) * lit(1.0))), 6)
            .as("r6"))
        .orderBy("ta", "tb")
    },

    // robust outlier screen per event type: exact median and MAD (median
    // absolute deviation) on integer cents, outliers = |x − med| > 3·MAD.
    // Doubled/quadrupled units keep every comparison integer-exact — the
    // interpolated median of integers is a half-integer, so med×2 and
    // MAD×4 are exact in both engines, and the outlier test
    // |x−med| > 3·MAD becomes 2·|2x−med×2| > 3·(MAD×4) (dev2 = 2|x−med|,
    // so 2·dev2 = 4|x−med| and 3·mad_x4 = 12·MAD). Two co-partitioned
    // passes over events (medians are not algebraic — a 100 TB run swaps
    // in percentile_approx at the same shape); the per-type models
    // broadcast back. Unlike the z-score screen (events_anomaly), the
    // median/MAD fence is insensitive to the outliers it hunts.
    GraftQuery("events_mad_outliers",
      """WITH e AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |med AS (SELECT event_type, CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med_x2
        |        FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, ABS(2 * cents - med_x2) AS dev2, med_x2
        |      FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad_x4
        |        FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |       CAST(max(d.med_x2) AS BIGINT) AS med_x2,
        |       CAST(max(mad.mad_x4) AS BIGINT) AS mad_x4,
        |       CAST(sum(CASE WHEN 2 * dev2 > 3 * mad_x4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) { (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
      val med = e.groupBy("event_type")
        .agg(expr("CAST(2 * percentile(cents, 0.5D) AS BIGINT)").as("med_x2"))
      val d = e.join(broadcast(med), "event_type")
        .withColumn("dev2", abs(lit(2) * col("cents") - col("med_x2")))
      val mad = d.groupBy("event_type")
        .agg(expr("CAST(2 * percentile(dev2, 0.5D) AS BIGINT)").as("mad_x4"))
      d.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max("med_x2").as("med_x2"),
          max("mad_x4").as("mad_x4"),
          sum(when(lit(2) * col("dev2") > lit(3) * col("mad_x4"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },

    // 2-D skyline (Pareto frontier — Börzsönyi et al., ICDE 2001): the
    // parts no other part beats on BOTH price (lower-better) and size
    // (higher-better) — the dominance filter a catalog/candidate-pruning
    // pipeline runs before scoring. In 2-D the skyline reduces to a
    // running max: p is dominated iff the best size among strictly
    // cheaper parts already ≥ p's, or an equal-price part is strictly
    // bigger — both terms read off ONE per-price aggregate (hash agg,
    // output = distinct prices) plus a strict prefix max (Prefix.scan:
    // range partition, per-partition maxima; only one long per partition
    // reaches the driver). No self-join, no quadratic dominance test, no
    // global single-partition window. The oracle states the same running-max
    // identity with one ROWS-frame window.
    GraftQuery("mine_skyline",
      """WITH dp AS (SELECT p_retailprice AS price, CAST(max(p_size) AS BIGINT) AS msize
        |            FROM part GROUP BY 1),
        |sp AS (SELECT price, msize,
        |         max(msize) OVER (ORDER BY price
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smax
        |       FROM dp)
        |SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
        |FROM part p JOIN sp ON sp.price = p.p_retailprice
        |WHERE NOT (coalesce(sp.smax >= p.p_size, false) OR sp.msize > p.p_size)
        |ORDER BY p.p_partkey""".stripMargin) { (spark, sfDir) =>
      val p = Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long").as("p_size"))
      val dp = p.groupBy(col("p_retailprice").as("price")).agg(max("p_size").as("msize"))
      val sp = Prefix.scan(dp, "smax", Seq(col("price")), col("msize"), Prefix.Max,
        strict = true)
      p.join(sp, p("p_retailprice") === sp("price"))
        .filter(!(coalesce(col("smax") >= col("p_size"), lit(false)) ||
          col("msize") > col("p_size")))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy("p_partkey")
    },

    // Rolling robust statistics of the daily value series: 7-day trailing
    // lower-median / Q1 / Q3 (discrete, sorted-frame indexing replicated
    // literally in both engines — med = sorted[(n-1) DIV 2], q1 =
    // sorted[(n-1) DIV 4], q3 mirrored from the top — so no dependence on
    // either engine's quantile interpolation mode) plus the Tukey-style
    // spike flag x > q3 + 3·(q3 − q1). The window runs on the BOUNDED
    // per-day frame (one row per calendar day — the documented bounded-
    // frame global window, never the event corpus), so the collect_list
    // frame holds ≤ 7 longs per row at any corpus size.
    GraftQuery("stats_rolling_robust",
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        CAST(floor(value * 1000000) AS BIGINT) AS vu FROM events),
        |d AS (SELECT day, CAST(sum(vu) AS BIGINT) AS x FROM e GROUP BY day),
        |r AS (SELECT day, x, list_sort(list(x) OVER w) AS arr,
        |        CAST(count(*) OVER w AS BIGINT) AS n
        |      FROM d WINDOW w AS (ORDER BY day
        |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |q AS (SELECT day, x, n,
        |        arr[CAST((n - 1) // 4 + 1 AS INT)] AS q1,
        |        arr[CAST((n - 1) // 2 + 1 AS INT)] AS med,
        |        arr[CAST(n - (n - 1) // 4 AS INT)] AS q3
        |      FROM r)
        |SELECT CAST(day AS BIGINT) AS day, x, n, q1, med, q3,
        |       x > q3 + 3 * (q3 - q1) AS spike
        |FROM q ORDER BY day""".stripMargin) { (spark, sfDir) =>
      import org.apache.spark.sql.expressions.Window
      val d = EventOps.dailyValueTotals(spark, sfDir)
        .groupBy("day").agg(sum("x").as("x"))
      val w = Window.orderBy("day").rowsBetween(-6, 0)
      d.withColumn("arr", sort_array(collect_list(col("x")).over(w)))
        .withColumn("n", size(col("arr")).cast("long"))
        .select(col("day"), col("x"), col("n"),
          element_at(col("arr"),
            (expr("(n - 1) DIV 4") + 1).cast("int")).as("q1"),
          element_at(col("arr"),
            (expr("(n - 1) DIV 2") + 1).cast("int")).as("med"),
          element_at(col("arr"),
            expr("n - (n - 1) DIV 4").cast("int")).as("q3"))
        .withColumn("spike", col("x") > col("q3") + lit(3) * (col("q3") - col("q1")))
        .orderBy("day")
    },

    // A/B experiment readout: deterministic hash-bucket assignment
    // (the portable H8 over the user key — the SAME assignment any engine
    // in the stack derives, which is the property that makes server-side
    // and warehouse-side analyses agree) and per-variant exact moments of
    // the per-user purchase-cents metric. The t-statistic / CI is one
    // driver-side formula away from (n, Σx, Σx²) — the engine ships the
    // exact integers (the sim_dim_stats discipline). Overflow: per-user
    // cents ≤ ~1e8 → squares ≤ 1e16, safe past 100M users per variant.
    GraftQuery("events_ab_test",
      s"""WITH u AS (SELECT user_id,
         |        CAST(sum(CASE WHEN event_type = 'purchase'
         |             THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents
         |      FROM events GROUP BY user_id),
         |v AS (SELECT ${graft.functions.PortableHash.h8Sql(
                  "lpad(CAST(user_id AS VARCHAR), 8, '0')")} % 2 AS variant,
         |        cents FROM u)
         |SELECT CAST(variant AS BIGINT) AS variant,
         |       CAST(count(*) AS BIGINT) AS n_users,
         |       CAST(sum(cents) AS BIGINT) AS sum_cents,
         |       CAST(sum(cents * cents) AS BIGINT) AS sum_sq
         |FROM v GROUP BY variant ORDER BY variant""".stripMargin) { (spark, sfDir) =>
      val u = Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
      u.select((graft.functions.PortableHash.h8(
            lpad(col("user_id").cast("string"), 8, "0")) % 2).as("variant"),
          col("cents"))
        .groupBy("variant")
        .agg(count(lit(1)).as("n_users"), sum("cents").as("sum_cents"),
          sum(col("cents") * col("cents")).as("sum_sq"))
        .orderBy("variant")
    },

    // CUPED-adjusted experiment moments (Deng et al., WSDM 2013): the
    // variance-reduction every mature experimentation platform applies —
    // regress the in-experiment metric on a PRE-PERIOD covariate and
    // analyze the residual. The engine ships the exact per-variant joint
    // integer moments of (pre, post) per user — n, Σx, Σy, Σxx, Σyy, Σxy
    // — from which θ = cov/var, the adjusted means and the variance
    // reduction are driver-side formulas (the events_ab_test discipline,
    // extended to the bivariate case). Pre/post split at the data-derived
    // midpoint day, broadcast back as a 1-row frame; users keyed into
    // variants by the same portable hash as events_ab_test so the two
    // readouts line up.
    GraftQuery("events_ab_cuped",
      s"""WITH e AS (SELECT user_id,
         |        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
         |        CASE WHEN event_type = 'purchase'
         |             THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END AS cents
         |      FROM events),
         |t AS (SELECT (min(d) + max(d)) // 2 AS split_d FROM e),
         |u AS (SELECT user_id,
         |        CAST(sum(CASE WHEN d < split_d THEN cents ELSE 0 END) AS BIGINT) AS x,
         |        CAST(sum(CASE WHEN d >= split_d THEN cents ELSE 0 END) AS BIGINT) AS y
         |      FROM e CROSS JOIN t GROUP BY user_id),
         |v AS (SELECT ${graft.functions.PortableHash.h8Sql(
                  "lpad(CAST(user_id AS VARCHAR), 8, '0')")} % 2 AS variant, x, y FROM u)
         |SELECT CAST(variant AS BIGINT) AS variant,
         |       CAST(count(*) AS BIGINT) AS n_users,
         |       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |       CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         |       CAST(sum(x * y) AS BIGINT) AS sxy
         |FROM v GROUP BY variant ORDER BY variant""".stripMargin) { (spark, sfDir) =>
      val e = Tables.events(spark, sfDir)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("d"),
          when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
      val t = e.agg(expr("(min(d) + max(d)) DIV 2").as("split_d"))
      val u = e.join(broadcast(t))
        .groupBy("user_id")
        .agg(sum(when(col("d") < col("split_d"), col("cents")).otherwise(0L)).as("x"),
          sum(when(col("d") >= col("split_d"), col("cents")).otherwise(0L)).as("y"))
      u.select((graft.functions.PortableHash.h8(
            lpad(col("user_id").cast("string"), 8, "0")) % 2).as("variant"),
          col("x"), col("y"))
        .groupBy("variant")
        .agg(count(lit(1)).as("n_users"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .orderBy("variant")
    },

    // EXACT global quantiles WITHOUT a global sort: the distributed
    // selection a fleet-level SLO/pricing report needs when
    // percentile_approx isn't contractual and `percentile()` would buffer
    // a whole group per executor. Ranks come from the distributed prefix
    // count (Prefix.scan: range partition → per-partition counts → seeded
    // local numbering), the target
    // positions are lower-quantile indices floor(q·(n−1))+1 (the
    // stats_rolling_robust convention), and the answer is a semi-join of
    // ≤ 6 positions against the ranked frame — no sort ever sees more
    // than one partition's slice, and only per-partition counts reach the
    // driver. Ties break by rank construction (value, then row identity),
    // which cannot change WHICH VALUE sits at a position.
    GraftQuery("stats_exact_quantiles",
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |             l_orderkey, l_linenumber FROM lineitem),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |r AS (SELECT cents, row_number() OVER
        |        (ORDER BY cents, l_orderkey, l_linenumber) AS rn FROM c),
        |q(q_pct) AS (VALUES (1), (25), (50), (75), (90), (99)),
        |p AS (SELECT q_pct, (q_pct * (nn.n - 1)) // 100 + 1 AS pos FROM q, nn)
        |SELECT CAST(p.q_pct AS BIGINT) AS q_pct, CAST(p.pos AS BIGINT) AS pos,
        |       r.cents
        |FROM p JOIN r ON r.rn = p.pos ORDER BY q_pct""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      val c = Tables.lineitem(spark, sfDir)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber"))
        .transform(graft.CacheTracker.persist)
      val n = c.count()
      val ranked = Prefix.scan(c, "rn",
        Seq(col("cents").asc, col("l_orderkey").asc, col("l_linenumber").asc), lit(1L), Prefix.Sum)
      val pos = Seq(1L, 25L, 50L, 75L, 90L, 99L)
        .map(q => (q, q * (n - 1) / 100 + 1)).toDF("q_pct", "pos")
      ranked.join(broadcast(pos), col("rn") === col("pos"))
        .select(col("q_pct"), col("pos"), col("cents"))
        .orderBy("q_pct")
    }
  )
}
