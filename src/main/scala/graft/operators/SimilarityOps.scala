package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors,
  * north-star): brute-force cosine top-k as the verified baseline, and a
  * multi-table random-hyperplane LSH variant (Charikar STOC 2002; multiprobe
  * after Lv et al., "Multi-probe LSH", VLDB 2007) as the scale path —
  * bucketed equi-join instead of the quadratic cross join; recall measured
  * in SimilaritySpec against the brute-force output.
  */
object SimilarityOps {

  val NumQueries = 20
  val TopK = 10
  /** ANN LSH: 8 tables × 4 hyperplane bits */
  val Tables4 = 8
  val BitsPerTable = 4
  val NearDupSeed = 42L

  /** nDCG@TopK machinery: position discounts floor(1e6 / log2(r+1)) are
    * computed HERE once and inlined into both engines as integer literals
    * (so neither engine's libm is on the comparison path), and the ideal
    * DCG for graded relevance TopK..1 is a compile-time constant. */
  val NdcgWeights: Seq[Long] =
    (1 to TopK).map(r => math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)
  val NdcgIdeal: Long =
    NdcgWeights.zipWithIndex.map { case (w, i) => (TopK - i).toLong * w }.sum
  private def ndcgWeightsSql: String = NdcgWeights.mkString(", ")

  /** per-hyperplane sign-agreement probability for a pair at cosine exactly
    * tau (Charikar STOC 2002: P[h(a)=h(b)] = 1 - θ/π) */
  def pMatch(tau: Double): Double = 1.0 - math.acos(tau) / math.Pi

  /** Derive the LSH shape from the threshold instead of hard-coding it:
    * bits = the widest table keeping per-table match probability p^bits ≥
    * 1/3 (each extra bit roughly halves random-pair collisions but decays
    * true-pair matches by p — a sharper tau affords more bits, which is
    * what keeps candidate counts sub-quadratic at production thresholds),
    * tables = the fewest t with miss probability (1 - p^bits)^t ≤ missProb.
    * tau=0.4 → (23, 2); tau=0.8 → (23, 4). Pure function of (tau,
    * missProb): the plan is reproducible across runs and engines. */
  /** Hard cap on LSH tables: bounds the band explode factor and the
    * first-match dedup expression width regardless of what the cost model
    * would prefer. */
  val MaxNearDupTables = 256

  /** Derive the LSH shape (tables, bits) for a threshold — and, when the
    * corpus size is known, for that size.
    *
    * Recall is a CONSTRAINT, never traded: a true pair at cosine exactly
    * tau collides in one b-bit table w.p. pMatch(tau)^b, so every shape
    * considered takes t = ⌈ln missProb / ln(1 − p^b)⌉ tables, which holds
    * the per-pair miss probability at missProb for any b.
    *
    * Cost is the OBJECTIVE: per vector, hashing costs t·b hyperplane
    * dots, the bucket join touches ~t·n·2⁻ᵇ rows, and verification costs
    * one dot per UNIQUE candidate — the union rate n·(1−(1−2⁻ᵇ)^t), not
    * the per-table sum, which would overcount pairs colliding in several
    * tables exactly where it matters. Minimizing the sum grows bits
    * ~log₂(n) as the corpus grows, so the noise-collision fraction falls
    * with scale (sub-quadratic candidate growth — measured in SCALING.md).
    * At weak thresholds (τ≈0.4) the miss bound makes every feasible shape
    * near-exhaustive — hyperplane LSH genuinely cannot separate weak
    * similarity from noise — so added bits cannot prune and are pure
    * hashing waste: the derivation detects that regime (best feasible
    * union fraction > 0.5) and falls back to the threshold-only shape.
    *
    * n ≤ 0 (corpus size unknown — specs, pre-scan contexts) falls back to
    * the round-3 threshold-only rule: bits = the largest b with
    * p^b ≥ 1/3, capped to [2, 8]. */
  def nearDupParams(tau: Double, missProb: Double = 1e-5, n: Long = 0L): (Int, Int) = {
    val p = pMatch(tau)
    def tablesFor(b: Int): Option[Int] = {
      val pt = math.pow(p, b)
      val t = math.ceil(math.log(missProb) / math.log1p(-pt))
      if (t <= MaxNearDupTables) Some(math.max(1, t.toInt)) else None
    }
    if (n <= 0L) {
      val bits = math.max(2, math.min(8,
        math.floor(math.log(1.0 / 3) / math.log(p)).toInt))
      (tablesFor(bits).getOrElse(MaxNearDupTables), bits)
    } else {
      val feasible = (2 to 16).flatMap { b => tablesFor(b).map(t => (t, b)) }
      // expected fraction of an orthogonal-noise corpus colliding with a
      // vector in AT LEAST one table — the unique-candidate rate (a pair
      // colliding in several tables is still one candidate, so summing
      // per-table rates would overcount exactly where it matters)
      def unionFrac(t: Int, b: Int): Double =
        1 - math.pow(1 - math.pow(0.5, b), t)
      if (feasible.forall { case (t, b) => unionFrac(t, b) > 0.5 }) {
        // weak-threshold regime: the miss bound makes every feasible shape
        // near-exhaustive, so added bits cannot prune and are pure hashing
        // waste — take the threshold-only (cheapest-hash) shape
        nearDupParams(tau, missProb)
      } else {
        val scored = feasible.map { case (t, b) =>
          val cost = t.toDouble * b +              // hashing: b dots per table
            0.25 * t * n * math.pow(0.5, b) +      // bucket-join rows (pre-dedup)
            n * unionFrac(t, b)                    // verify: one dot per unique candidate
          (t, b, cost)
        }
        val (t, b, _) = scored.minBy(_._3)
        (t, b)
      }
    }
  }

  /** demo-regime near-dup LSH shape (threshold 0.4): 23 tables × 2 bits */
  val NearDupTables: Int = nearDupParams(0.4)._1
  val NearDupBits: Int = nearDupParams(0.4)._2
  /** Above this corpus size the near-dup broadcast hints are dropped and
    * the bucket/verify joins run as AQE-planned shuffled equi-joins. The
    * cutoff is derived from a byte budget, not a row count: the widest
    * broadcast side is the embedding re-attach (~64 doubles + array
    * overhead per row) and each of the three hinted sides must fit the
    * budget individually. 32 MB / ~600 B ≈ 55k vectors. */
  val BroadcastBudgetBytes: Long = 32L << 20
  val EmbBytesPerVector: Long = 64 * 8 + 88 // components + array/row overhead
  val BandBytesPerVector: Long = NearDupTables * 28L // (t, code, id, word) rows
  val BroadcastMaxVectors: Long =
    BroadcastBudgetBytes / math.max(EmbBytesPerVector, BandBytesPerVector)

  /** in-order dot product — custom codegen expression (same fold order as
    * the aggregate(zip_with(...)) composition and the DuckDB oracle) */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  private def toDouble(c: Column): Column = c.cast("array<double>")

  private def norm(c: Column): Column = sqrt(dot(c, c))

  /** deterministic pseudo-random hyperplane weight w(h, i) — no RNG so the
    * oracle and re-runs agree bit-for-bit */
  private def wExprSql(h: String, i: String): String =
    s"(((1 + 37 * $h + 101 * $i + 13 * $h * $i) % 19) - 9)"

  /** Number of inverted lists probed per query in sim_ann_ivf. Chosen by
    * a measured nprobe sweep (SweepIvf, removed after 26c7766) to hold
    * recall@10 ≥ 0.8 on the demo corpus: recall = 0.81 (sf0.001) / 0.84
    * (sf0.01) at nprobe=6.
    * The demo embeddings are near-orthogonal (no planted cluster
    * structure), so recall can never beat the probed-list mass by much —
    * a random 6/10-list scan would land at 0.60, and the learned codebook
    * clears it by ~0.25 at every nprobe, which is the structure the Lloyd
    * rounds actually find. On a corpus with real cluster geometry the
    * same shape holds recall at far smaller probed fractions; nprobe is
    * the standard IVF quality/cost dial either way, and the probe join
    * stays n·nprobe/K — never n². */
  val IvfProbes = 6

  /** probe-budget levels swept by sim_ann_nprobe_curve (max ≤ KmeansK) */
  val NprobeLevels: Seq[Int] = Seq(1, 2, 4, 6, 8)
  val NprobeMax: Int = NprobeLevels.max

  /** Target inverted-list occupancy for the PRODUCTION-shape IVF
    * (sim_ann_ivf_scaled): K = ⌈n / ScaledAnnOccupancy⌉ lists, so probing
    * nprobe lists scans ~nprobe·occupancy candidates per query AT ANY
    * corpus size — the flat-candidates-per-query property fixed-K IVF
    * loses the moment the corpus grows (fixed K=10 over 10× the vectors
    * means 10× the candidates per probe). 50 keeps the demo decades
    * distinct: K=10 at n=500 (sf0.001/0.01), K=40 at n=2000 (sf0.1). */
  val ScaledAnnOccupancy = 50

  /** demo-regime near-dup cosine threshold (testdata max cosine ≈ 0.51) */
  val NearDupThreshold = 0.4

  /** brute-force all-pairs cosine CTE `p(ida, idb, sim6)` — the oracle's
    * ground truth for the LSH pair path and the closure base for
    * sim_dup_clusters */
  private val BrutePairCte: String =
    """p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
      |        round(list_sum(list_transform(generate_series(1, len(a.embedding)),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |          / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
      |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |           * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
      |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS sim6
      |      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)""".stripMargin

  /** The derived LSH plan for a threshold: `tables` tables of `bits` sign
    * bits packed into ⌈tables/(63 div bits)⌉ 64-bit words (one
    * HyperplaneCodeWord codegen pass per word, independent hyperplanes per
    * word via seed+wordIdx). Global table g lives in word g/tablesPerWord,
    * slot g%tablesPerWord. */
  final case class NearDupPlan(tau: Double, tables: Int, bits: Int) {
    val tablesPerWord: Int = graft.functions.HyperplaneCodes.tablesPerWord(bits)
    val nWords: Int = (tables + tablesPerWord - 1) / tablesPerWord
    def tablesInWord(k: Int): Int = math.min(tablesPerWord, tables - k * tablesPerWord)
    /** estimated broadcast bytes per vector for the band side */
    def bandBytesPerVector: Long = tables * 28L + nWords * 16L
  }

  def nearDupPlan(tau: Double, n: Long = 0L): NearDupPlan = {
    val (t, b) = nearDupParams(tau, n = n)
    NearDupPlan(tau, t, b)
  }

  /** LSH bucket candidate pairs (a, b) for a threshold plan, each pair
    * emitted exactly once — at its FIRST matching global table — so no
    * distinct shuffle is needed: a pair joined on table g is kept only
    * when [[graft.functions.FirstMatchingTable]] over both rows' packed
    * words is g. Valid for any bits width and any word count. */
  def nearDupCandidates(spark: SparkSession, sfDir: String, tau: Double): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    // metadata-only parquet count: sizes the LSH shape (bits grow with
    // log2 n, see nearDupParams) and gates the broadcast hints
    val n = e.count()
    val plan = nearDupPlan(tau, n)
    val smallCorpus = n <=
      BroadcastBudgetBytes / math.max(EmbBytesPerVector, plan.bandBytesPerVector)
    def hinted(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val wordCols = (0 until plan.nWords).map { k =>
      graft.functions.HyperplaneCodes.hyperplaneCodeWord(
        toDouble(col("embedding")), plan.tablesInWord(k), plan.bits, NearDupSeed + k)
    }
    val tpw = plan.tablesPerWord
    val b = plan.bits
    // one narrow row per vector (id + ≤2 longs): repartitioning is cheap and
    // decouples the candidate join's parallelism from however few parquet
    // splits the embeddings file happens to have — the bucket join below
    // fans each of these rows out `tables`×, so ITS width must be the
    // session's, not the scan's
    // persisted: both sides of the bucket self-join (x and the hinted y)
    // consume these codes — unpersisted, the 64-dim × (tables·bits)
    // hyperplane hashing ran TWICE per query (r12). One narrow row per
    // vector, so the cache is id + ≤2 longs per vector at any scale.
    val coded = e.select(col("vec_id"), array(wordCols: _*).as("ws"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .transform(graft.CacheTracker.persist)
    val bands = coded
      .select(col("vec_id"), col("ws"),
        explode(sequence(lit(0), lit(plan.tables - 1))).as("g"))
      .withColumn("code", expr(
        s"(element_at(ws, CAST(g DIV $tpw AS INT) + 1) >> ($b * (g % $tpw))) & ${(1 << b) - 1}"))
    val x = bands.select(col("vec_id").as("a"), col("ws").as("wsa"), col("g"), col("code"))
    val y = bands.select(col("vec_id").as("b"), col("ws").as("wsb"), col("g"), col("code"))
    val firstMatch = graft.functions.HyperplaneCodes.firstMatchingTable(
      col("wsa"), col("wsb"), plan.tables, b) === col("g")
    x.join(hinted(y), Seq("g", "code"))
      .filter(col("a") < col("b") && firstMatch)
      .select("a", "b")
  }

  /** Embedding near-dup pairs (a, b, sim6 ≥ tau), unsorted: LSH bucket
    * candidates + exact cosine verification. Explicit broadcast hints are
    * only sound while the corpus is small — at production scale they would
    * OOM the driver, so they are gated on the vector count (a metadata-only
    * parquet count) and beyond the cutoff AQE plans the same joins as
    * shuffled equi-joins. Norms are computed once per vector, not per
    * candidate pair (3× fewer flops in the verify stage, bit-identical
    * doubles). */
  def nearDupPairsAt(spark: SparkSession, sfDir: String, tau: Double): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val smallCorpus = e.count() <= BroadcastMaxVectors
    def hinted(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val cands = nearDupCandidates(spark, sfDir, tau)
    val qa = e.select(col("vec_id").as("a"), toDouble(col("embedding")).as("ea"))
      .withColumn("na", norm(col("ea")))
    val qb = e.select(col("vec_id").as("b"), toDouble(col("embedding")).as("eb"))
      .withColumn("nb", norm(col("eb")))
    cands.join(hinted(qa), Seq("a")).join(hinted(qb), Seq("b"))
      .select(col("a"), col("b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      // conservative double pre-filter BEFORE rounding: Spark's round(_, 6)
      // allocates a BigDecimal per row, and at a low tau the candidate set
      // is orders of magnitude larger than the survivor set — only rows
      // within half an ulp-of-6dp of the threshold need exact rounding
      .filter(col("sim") >= tau - 5e-7)
      .select(col("a"), col("b"), round(col("sim"), 6).as("sim6"))
      .filter(col("sim6") >= tau)
  }

  def nearDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    nearDupPairsAt(spark, sfDir, NearDupThreshold)

  /** shared CTE: per-(vector, label-centroid) cosine score on 1e6-quantized
    * integer components — exact sums, so partial-agg order and engine cannot
    * flip an argmax (what makes the centroid/IVF operators oracle-able) */
  private val CentroidCte: String =
    s"""comps AS (SELECT vec_id, label, i - 1 AS i,
       |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
       |      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) ii),
       |cent AS (SELECT label AS clabel, i, CAST(sum(xq) AS BIGINT) AS c
       |      FROM comps GROUP BY label, i),
       |cnorm AS (SELECT clabel, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nc FROM cent GROUP BY clabel),
       |vnorm AS (SELECT vec_id, sqrt(CAST(sum(xq * xq) AS DOUBLE)) AS nv FROM comps GROUP BY vec_id),
       |dots AS (SELECT comps.vec_id, comps.label, cent.clabel,
       |        CAST(sum(comps.xq * cent.c) AS BIGINT) AS dp
       |      FROM comps JOIN cent ON cent.i = comps.i
       |      GROUP BY comps.vec_id, comps.label, cent.clabel),
       |scored AS (SELECT d.vec_id, d.label, d.clabel,
       |        round(CAST(d.dp AS DOUBLE) / (v.nv * c.nc), 6) AS score
       |      FROM dots d JOIN vnorm v ON v.vec_id = d.vec_id
       |      JOIN cnorm c ON c.clabel = d.clabel)""".stripMargin

  /** Spark twin of [[CentroidCte]]: (vec_id, label, clabel, score) */
  private def centroidScored(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        posexplode(toDouble(col("embedding"))).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        floor(col("x") * 1000000).cast("long").as("xq"))
    val cent = comps.groupBy(col("label").as("clabel"), col("i"))
      .agg(sum("xq").as("c"))
    val cnorm = cent.groupBy("clabel")
      .agg(sqrt(sum(col("c") * col("c")).cast("double")).as("nc"))
    val vnorm = comps.groupBy("vec_id")
      .agg(sqrt(sum(col("xq") * col("xq")).cast("double")).as("nv"))
    val dots = comps.join(broadcast(cent), Seq("i"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum(col("xq") * col("c")).as("dp"))
    dots
      .join(broadcast(vnorm), Seq("vec_id"))
      .join(broadcast(cnorm), Seq("clabel"))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(col("dp").cast("double") / (col("nv") * col("nc")), 6).as("score"))
  }

  // ---- deterministic integer k-means (the IVF coarse codebook) ----

  /** IVF codebook size and Lloyd round count — fixed so the operator is a
    * pure function of the data (oracle-able) */
  val KmeansK = 10
  val KmeansIters = 5

  /** (vec_id, i, xq): 1e6-quantized integer components — all k-means
    * arithmetic runs on these, so every distance comparison is exact and
    * engine/partitioning-independent */
  private def quantComps(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), floor(col("x") * 1000000).cast("long").as("xq"))

  /** Deterministic k-means over the quantized components: farthest-point
    * init (k-center greedy: first pick = max ‖v‖², then argmax of min
    * distance² to the chosen set, ties to the smaller vec_id), then
    * KmeansIters Lloyd rounds whose centroids are FLOOR-MEAN integer
    * vectors (floorDiv of exact integer sums — a float mean would drift
    * between partial-agg orders and engines). Empty clusters keep their
    * previous centroid. Returns the K×64 centroid matrix.
    *
    * Scale shape: centroids live on the driver (K×64 longs — bytes), data
    * stays distributed; each init step and each Lloyd round is one
    * distributed aggregation over the components (the canonical Spark
    * k-means layout). Distance argmins compare n2c - 2·v·c — the v-constant
    * term drops out of per-vector comparisons. */
  /** memoized per (session, sfDir): the codebook is a corpus-snapshot MODEL
    * (like the dedup family's shingle frame) — a pipeline builds it once and
    * serves queries against it; K×64 longs, so the cache is bytes */
  private val codebookCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Array[Array[Long]]]

  def kmeansCodebook(spark: SparkSession, sfDir: String): Array[Array[Long]] =
    codebookCache.getOrElseUpdate((spark, sfDir), kmeansCodebookUncached(spark, sfDir))

  private def kmeansCodebookUncached(spark: SparkSession, sfDir: String): Array[Array[Long]] = {
    // one quantized-array row per vector with its squared norm, cached for
    // the ~K init steps + Lloyd rounds that scan it (the oracle's exact
    // integer semantics, but scan-shaped: every step below is ONE pass
    // over this frame — no join on components, no n×K shuffle, no window)
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("xq"))
      .withColumn("n2", expr("aggregate(xq, 0L, (a, x) -> a + x * x)"))
      .transform(graft.CacheTracker.persist)

    def components(vid: Long): Array[Long] =
      q.filter(col("vec_id") === vid).select("xq")
        .collect()(0).getSeq[Long](0).toArray

    // farthest-point init: each pick is a TakeOrdered over one scan —
    // CentroidMinDist gives min(‖c‖² − 2·c·x) against the chosen set and
    // adding the row's ‖x‖² makes it the true min squared distance, so
    // the (n2 + m) DESC, vec_id ordering matches the join-shaped form
    // (and the oracle's unrolled CTEs) pick for pick
    val first = q.orderBy(col("n2").desc, col("vec_id")).limit(1)
      .collect()(0).getLong(0)
    var cents = Vector(components(first))
    while (cents.size < KmeansK) {
      val pick = q.select(col("vec_id"),
          (col("n2") + graft.functions.CentroidArgmin
            .centroidMinDist(col("xq"), cents.toArray)).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect()(0).getLong(0)
      cents :+= components(pick)
    }

    // Lloyd rounds: assignment is CentroidArgmin inline (tie: smaller
    // list id), component sums explode AFTER assignment — map-side
    // combine compresses each partition to K×64 rows, so one scan + one
    // small aggregation per round, K×64 rows back to the driver.
    // The argmin MUST be materialized in its own select BELOW the
    // explode: `select(argmin, posexplode)` puts the non-generator
    // expression in a Project ABOVE the Generate (ExtractGenerator), so
    // the K×dim argmin would re-evaluate once per exploded element —
    // 64× the work (measured 2.95 s → 90 s per round at sf10/K=4000 on
    // the scaled twin of this loop).
    for (_ <- 0 until KmeansIters) {
      val sums = q.select(
          graft.functions.CentroidArgmin
            .centroidArgmin(col("xq"), cents.toArray).as("c"),
          col("xq"))
        .select(col("c"), posexplode(col("xq")).as(Seq("i", "x")))
        .groupBy("c", "i")
        .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      cents = cents.zipWithIndex.map { case (prev, c) =>
        Array.tabulate(prev.length) { i =>
          sums.get((c, i)).fold(prev(i)) { case (s, n) => Math.floorDiv(s, n) }
        }
      }
    }
    cents.toArray
  }

  /** DuckDB twin of [[kmeansCodebook]] + final list scoring, generated by
    * unrolling the same K init steps and KmeansIters Lloyd rounds as CTE
    * stages (every stage is exact integer arithmetic, so the unrolled SQL
    * lands on bit-identical centroids). Ends with `ranked(vec_id, c, r)` —
    * vectors ranked by distance to each final centroid. */
  private def kmeansOracleCtes: String = {
    // multiply-referenced CTEs are MATERIALIZED (DuckDB-only syntax — the
    // oracle never runs through Spark): without it DuckDB inlines every one
    // of the ~30 comps references into its own parquet scan and runs out of
    // file handles
    val sb = new StringBuilder
    sb ++= s"""comps AS MATERIALIZED (SELECT vec_id, i - 1 AS i,
              |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
              |      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) ii),
              |vn2 AS MATERIALIZED (SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM comps GROUP BY vec_id),
              |pick1 AS (SELECT vec_id FROM vn2 ORDER BY n2 DESC, vec_id LIMIT 1),
              |chos1 AS (SELECT 0 AS c, i, xq AS x FROM comps WHERE vec_id = (SELECT vec_id FROM pick1))""".stripMargin
    for (k <- 2 to KmeansK) {
      sb ++= s""",
                |mdp$k AS (SELECT comps.vec_id, ch.c, CAST(sum(comps.xq * ch.x) AS BIGINT) AS dp
                |      FROM comps JOIN chos${k - 1} ch ON ch.i = comps.i GROUP BY comps.vec_id, ch.c),
                |cn$k AS (SELECT c, CAST(sum(x * x) AS BIGINT) AS n2c FROM chos${k - 1} GROUP BY c),
                |md$k AS (SELECT d.vec_id, min(cn.n2c - 2 * d.dp) AS m
                |      FROM mdp$k d JOIN cn$k cn ON cn.c = d.c GROUP BY d.vec_id),
                |pick$k AS (SELECT md$k.vec_id FROM md$k JOIN vn2 ON vn2.vec_id = md$k.vec_id
                |      ORDER BY (vn2.n2 + md$k.m) DESC, md$k.vec_id LIMIT 1),
                |chos$k AS MATERIALIZED (SELECT * FROM chos${k - 1} UNION ALL
                |      SELECT ${k - 1} AS c, i, xq AS x FROM comps
                |      WHERE vec_id = (SELECT vec_id FROM pick$k))""".stripMargin
    }
    sb ++= s""",
              |ca0 AS MATERIALIZED (SELECT * FROM chos$KmeansK)""".stripMargin
    for (j <- 0 until KmeansIters) {
      sb ++= s""",
                |dj$j AS (SELECT comps.vec_id, ct.c, CAST(sum(comps.xq * ct.x) AS BIGINT) AS dp
                |      FROM comps JOIN ca$j ct ON ct.i = comps.i GROUP BY comps.vec_id, ct.c),
                |cnj$j AS (SELECT c, CAST(sum(x * x) AS BIGINT) AS n2c FROM ca$j GROUP BY c),
                |asg$j AS MATERIALIZED (SELECT vec_id, c FROM (
                |      SELECT d.vec_id, d.c, row_number() OVER (PARTITION BY d.vec_id
                |          ORDER BY cn.n2c - 2 * d.dp, d.c) AS rn
                |      FROM dj$j d JOIN cnj$j cn ON cn.c = d.c) t$j WHERE rn = 1),
                |sm$j AS (SELECT a.c, comps.i, CAST(sum(comps.xq) AS BIGINT) AS s,
                |        CAST(count(*) AS BIGINT) AS cnt
                |      FROM comps JOIN asg$j a ON a.vec_id = comps.vec_id GROUP BY a.c, comps.i),
                |ca${j + 1} AS MATERIALIZED (SELECT p.c, p.i,
                |        COALESCE((s.s - ((s.s % s.cnt) + s.cnt) % s.cnt) // s.cnt, p.x) AS x
                |      FROM ca$j p LEFT JOIN sm$j s ON s.c = p.c AND s.i = p.i)""".stripMargin
    }
    val J = KmeansIters
    sb ++= s""",
              |djF AS (SELECT comps.vec_id, ct.c, CAST(sum(comps.xq * ct.x) AS BIGINT) AS dp
              |      FROM comps JOIN ca$J ct ON ct.i = comps.i GROUP BY comps.vec_id, ct.c),
              |cnjF AS (SELECT c, CAST(sum(x * x) AS BIGINT) AS n2c FROM ca$J GROUP BY c),
              |ranked AS MATERIALIZED (SELECT d.vec_id, d.c, row_number() OVER (PARTITION BY d.vec_id
              |          ORDER BY cn.n2c - 2 * d.dp, d.c) AS r
              |      FROM djF d JOIN cnjF cn ON cn.c = d.c)""".stripMargin
    sb.result()
  }

  /** every vector's nearest-centroid id under the memoized k-means
    * codebook, in ONE CentroidArgmin codegen pass — no n×K component
    * explosion, no aggregation shuffle, no window. Exactly the r = 1
    * slice of rankedFor (same quantization, same n2c − 2·dp ordering,
    * same lowest-cluster tiebreak; parity pinned by ExpressionSpec and
    * by the sim_kmeans_clusters / sim_semdedup / sim_ann_ivf oracles,
    * which replay the join-shaped ranking in DuckDB). Shared by those
    * three queries — the memoized codebook means they pay one build per
    * (session, sfDir). Where the FULL ranking matters (probe lists),
    * rankedFor remains the machinery. */
  private def kmeansAssign(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"),
      graft.functions.CentroidArgmin
        .centroidArgmin(col("embedding"), kmeansCodebook(spark, sfDir)).as("cluster"))

  /** rank a vector frame against an arbitrary integer codebook (the
    * distributed argmin machinery; `vecs` lets probe generation rank
    * ONLY the query vectors instead of the corpus) */
  private def rankedFor(spark: SparkSession, sfDir: String,
      cents: Array[Array[Long]], vecs: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val centRows = cents.zipWithIndex.flatMap { case (cs, c) =>
      cs.zipWithIndex.map { case (x, i) => (c, i, x) }
    }.toSeq.toDF("cluster", "i", "x")
    val n2c = cents.zipWithIndex.map { case (cs, c) => (c, cs.map(x => x * x).sum) }
      .toSeq.toDF("cluster", "n2c")
    quantComps(vecs.getOrElse(Tables.embeddings(spark, sfDir)))
      .join(broadcast(centRows), Seq("i"))
      .groupBy("vec_id", "cluster").agg(sum(col("xq") * col("x")).as("dp"))
      .join(broadcast(n2c), Seq("cluster"))
      .withColumn("r", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("n2c") - col("dp") * 2, col("cluster"))))
      .select("vec_id", "cluster", "r")
  }

  /** SemDeDup pipeline from a (vec_id, cluster) assignment: within-cluster
    * cosine pairs ≥ NearDupThreshold, connected components, min-id
    * representative kept per duplicate group. Shared by the fixed-K
    * oracled query and the corpus-scaled [[semDedupScaled]]. */
  private def semDedupFrom(spark: SparkSession, sfDir: String,
      assign: DataFrame): DataFrame = {
    val v = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("ve"))
      .withColumn("nv", norm(col("ve")))
    // persist ONCE: the assignment pipeline (quantComps explode + K-way
    // dot aggregation + per-vector window) otherwise replans for the
    // self-join's left branch, its right branch, AND the final
    // representative join — GraphOps' eager edge materialization makes
    // this cache hot before the loop starts
    val withVec = assign.join(v, Seq("vec_id"))
      .transform(graft.CacheTracker.persist)
    val left = withVec.select(col("cluster"), col("vec_id").as("a"),
      col("ve").as("ea"), col("nv").as("na"))
    val right = withVec.select(col("cluster"), col("vec_id").as("b"),
      col("ve").as("eb"), col("nv").as("nb"))
    val pairs = left.join(right, Seq("cluster"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim6"))
      .filter(col("sim6") >= NearDupThreshold)
    val comp = GraphOps.connectedComponents(pairs.select("a", "b"))
      .select(col("id").as("vec_id"), col("cluster").as("grp"))
    withVec.select("vec_id", "cluster").join(comp, Seq("vec_id"), "left_outer")
      .withColumn("grp", coalesce(col("grp"), col("vec_id")))
      .withColumn("keep", when(col("grp") === col("vec_id"), 1).otherwise(0))
      .select("vec_id", "cluster", "grp", "keep")
  }

  /** Production-shape SemDeDup: K scales with the corpus
    * (K = ⌈n / targetOccupancy⌉) so the within-cluster pair bound n·occ/2
    * holds at ANY corpus size — the property the paper's ~100k-cluster
    * runs rely on and the fixed-K oracled query cannot show. The codebook
    * is learned on a bounded deterministic sample (md5-ranked vec_ids,
    * ≤ sampleCap vectors collected to the driver — at 100 TB the sample
    * is still sampleCap rows) with the same farthest-point init +
    * floor-mean Lloyd rounds as kmeansCodebook, run in driver arrays;
    * assignment, pair generation and component labeling stay fully
    * distributed. K is data-dependent and the sampled fold imperative, so
    * this is library surface with spec coverage (SimilaritySpec), not a
    * registered query — the oracle contract stays "every registered query
    * DuckDB-checked" while the scaled path is exercised end-to-end. */
  def semDedupScaled(spark: SparkSession, sfDir: String,
      targetOccupancy: Int = 200, sampleCap: Int = 4096): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val k = math.max(2, math.ceil(n.toDouble / targetOccupancy).toInt)
    require(k <= sampleCap, s"codebook K=$k exceeds the $sampleCap-vector sample")
    val sample = e
      .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy("h", "vec_id").limit(sampleCap)
      .selectExpr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq")
      .collect().map(_.getSeq[Long](0).toArray)
    val cents = sampleCodebook(sample, k)
    // assignment in ONE codegen pass per row: rankedFor's join-on-component
    // shape explodes every (vec_id, i) row K× before its aggregation —
    // fine at the oracled queries' K=10, ruinous at the K~n/occ this
    // variant exists for (K=1000 over 200k vectors would shuffle 12.8B
    // rows). CentroidArgmin carries the K×64 integer matrix as one plan
    // reference object and computes the quantized first-minimum argmin in
    // flat primitive loops (a higher-order transform/aggregate form was
    // 10× slower here — interpreted lambdas allocate per (row, centroid))
    val assign = e.select(col("vec_id"),
      graft.functions.CentroidArgmin
        .centroidArgmin(col("embedding"), cents).as("cluster"))
    semDedupFrom(spark, sfDir, assign).orderBy("vec_id")
  }

  /** deterministic driver-side k-means on a quantized sample: the same
    * farthest-point init and floor-mean Lloyd semantics as
    * kmeansCodebookUncached, in plain arrays (sample ≤ sampleCap rows, so
    * cost is O(sample · K · dim) driver flops — independent of corpus
    * size) */
  private[operators] def sampleCodebook(sample: Array[Array[Long]], k: Int,
      iters: Int = KmeansIters): Array[Array[Long]] = {
    require(sample.nonEmpty, "empty codebook sample")
    val m = sample.length
    val dim = sample(0).length
    def n2(v: Array[Long]): Long = { var s = 0L; var i = 0
      while (i < dim) { s += v(i) * v(i); i += 1 }; s }
    def dp(a: Array[Long], b: Array[Long]): Long = { var s = 0L; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }; s }
    val norms = sample.map(n2)
    // farthest-point init with the classic running-min: dmin holds each
    // sample row's distance to its NEAREST chosen centroid and only the
    // newest centroid updates it — O(sample · K) total, not O(sample · K²)
    // (at K ~ n/occupancy the quadratic form would dominate the whole op).
    // Ties go to the earlier row of the md5-ordered sample (strict >).
    var first = 0
    (1 until m).foreach(i => if (norms(i) > norms(first)) first = i)
    val cents = Array.ofDim[Array[Long]](k)
    cents(0) = sample(first)
    val dmin = Array.tabulate(m) { i =>
      norms(i) + norms(first) - 2 * dp(sample(i), cents(0))
    }
    var kk = 1
    while (kk < k) {
      var best = 0
      (1 until m).foreach(i => if (dmin(i) > dmin(best)) best = i)
      cents(kk) = sample(best)
      val cn = n2(cents(kk))
      var i = 0
      while (i < m) {
        val d = norms(i) + cn - 2 * dp(sample(i), cents(kk))
        if (d < dmin(i)) dmin(i) = d
        i += 1
      }
      kk += 1
    }
    for (_ <- 0 until iters) {
      val cn = cents.map(n2)
      val sums = Array.ofDim[Long](k, dim)
      val counts = Array.ofDim[Long](k)
      var i = 0
      while (i < m) {
        var bestC = 0
        var bestD = Long.MaxValue
        var c = 0
        while (c < k) {
          val d = cn(c) - 2 * dp(sample(i), cents(c))
          if (d < bestD) { bestD = d; bestC = c } // strict <: ties keep lower c
          c += 1
        }
        counts(bestC) += 1
        var j = 0
        while (j < dim) { sums(bestC)(j) += sample(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0)
          cents(c) = Array.tabulate(dim)(j => Math.floorDiv(sums(c)(j), counts(c)))
        c += 1
      }
    }
    cents
  }

  /** DuckDB CTE chain for the IVF probe pipeline, ending in
    * `r2(qid, nid, sim6, rnk)` — the per-query exact re-rank over the
    * probed lists' members. Shared by sim_ann_ivf and sim_ann_recall. */
  /** the probe half only — `cands(qid, nid)` without the exact re-rank
    * tail; PqOps builds its asymmetric-distance scan on top of this */
  private[operators] def ivfCandOracleCtes: String =
    s"""$kmeansOracleCtes,
       |assign AS (SELECT vec_id, c AS list FROM ranked WHERE r = 1),
       |probes AS (SELECT vec_id AS qid, c AS list FROM ranked
       |      WHERE r <= $IvfProbes AND vec_id < $NumQueries),
       |cands AS (SELECT p.qid, a.vec_id AS nid
       |      FROM probes p JOIN assign a ON a.list = p.list
       |      WHERE a.vec_id <> p.qid)""".stripMargin

  /** exact-cosine re-rank tail over any (qid, nid) CTE — p2/r2 as in the
    * Spark rerankCands; `src` names the candidate CTE to consume */
  private[operators] def rerankOracleTail(src: String): String =
    s"""p2 AS (SELECT $src.qid, $src.nid,
       |        round(list_sum(list_transform(generate_series(1, 64),
       |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(generate_series(1, 64),
       |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
       |           * sqrt(list_sum(list_transform(generate_series(1, 64),
       |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
       |          , 6) AS sim6
       |      FROM $src
       |      JOIN embeddings a ON a.vec_id = $src.qid
       |      JOIN embeddings b ON b.vec_id = $src.nid),
       |r2 AS (SELECT qid, nid, sim6,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim6 DESC, nid) AS rnk
       |      FROM p2)""".stripMargin

  private def ivfOracleCtes: String =
    s"""$ivfCandOracleCtes,
       |${rerankOracleTail("cands")}""".stripMargin

  /** DuckDB twin of the corpus-scaled IVF ([[ivfScaledTopK]]): K is
    * computed FROM THE DATA (⌈n / occupancy⌉), the md5-rank sample init
    * is one window, and the KmeansIters Lloyd rounds reuse the fixed-K
    * oracle's GROUP-BY-shaped round pattern — nothing here unrolls per
    * centroid, so the same static SQL is correct at every sf (and K) the
    * driver runs. Ends in `r2(qid, nid, sim6, rnk)`. */
  private def ivfScaledOracleCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""comps AS MATERIALIZED (SELECT vec_id, i - 1 AS i,
              |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
              |      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) ii),
              |ksel AS (SELECT greatest(2, CAST(ceil(CAST(count(*) AS DOUBLE)
              |        / $ScaledAnnOccupancy) AS BIGINT)) AS k FROM embeddings),
              |csel AS (SELECT vec_id,
              |        row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
              |      FROM embeddings),
              |sca0 AS MATERIALIZED (SELECT csel.c, comps.i, comps.xq AS x
              |      FROM csel JOIN comps ON comps.vec_id = csel.vec_id
              |      WHERE csel.c < (SELECT k FROM ksel))""".stripMargin
    for (j <- 0 until KmeansIters) {
      sb ++= s""",
                |sdj$j AS (SELECT comps.vec_id, ct.c, CAST(sum(comps.xq * ct.x) AS BIGINT) AS dp
                |      FROM comps JOIN sca$j ct ON ct.i = comps.i GROUP BY comps.vec_id, ct.c),
                |scnj$j AS (SELECT c, CAST(sum(x * x) AS BIGINT) AS n2c FROM sca$j GROUP BY c),
                |sasg$j AS MATERIALIZED (SELECT vec_id, c FROM (
                |      SELECT d.vec_id, d.c, row_number() OVER (PARTITION BY d.vec_id
                |          ORDER BY cn.n2c - 2 * d.dp, d.c) AS rn
                |      FROM sdj$j d JOIN scnj$j cn ON cn.c = d.c) st$j WHERE rn = 1),
                |ssm$j AS (SELECT a.c, comps.i, CAST(sum(comps.xq) AS BIGINT) AS s,
                |        CAST(count(*) AS BIGINT) AS cnt
                |      FROM comps JOIN sasg$j a ON a.vec_id = comps.vec_id GROUP BY a.c, comps.i),
                |sca${j + 1} AS MATERIALIZED (SELECT p.c, p.i,
                |        COALESCE((s.s - ((s.s % s.cnt) + s.cnt) % s.cnt) // s.cnt, p.x) AS x
                |      FROM sca$j p LEFT JOIN ssm$j s ON s.c = p.c AND s.i = p.i)""".stripMargin
    }
    val J = KmeansIters
    sb ++= s""",
              |cn AS (SELECT c, CAST(sum(x * x) AS BIGINT) AS n2c FROM sca$J GROUP BY c),
              |dps AS (SELECT comps.vec_id, cc.c, CAST(sum(comps.xq * cc.x) AS BIGINT) AS dp
              |      FROM comps JOIN sca$J cc ON cc.i = comps.i GROUP BY comps.vec_id, cc.c),
              |sranked AS MATERIALIZED (SELECT d.vec_id, d.c,
              |        row_number() OVER (PARTITION BY d.vec_id
              |                           ORDER BY cn.n2c - 2 * d.dp, d.c) AS r
              |      FROM dps d JOIN cn ON cn.c = d.c),
              |sassign AS (SELECT vec_id, c AS list FROM sranked WHERE r = 1),
              |sprobes AS (SELECT vec_id AS qid, c AS list FROM sranked
              |      WHERE r <= $IvfProbes AND vec_id < $NumQueries),
              |scands AS (SELECT p.qid, a.vec_id AS nid
              |      FROM sprobes p JOIN sassign a ON a.list = p.list
              |      WHERE a.vec_id <> p.qid),
              |${rerankOracleTail("scands")}""".stripMargin
    sb.result()
  }

  /** Brute-force truth + per-query hit-count CTEs shared by the recall
    * evaluations (sim_ann_recall / sim_ann_recall_scaled): consumes an
    * `ivf(qid, nid)` CTE already in scope, ends in `hit(qid, n_hit)`. */
  private def recallOracleTail: String =
    s"""bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |       WHERE vec_id < $NumQueries),
       |bp AS (SELECT bq.qid, e.vec_id AS nid,
       |        list_sum(list_transform(generate_series(1, len(e.embedding)),
       |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dp,
       |        sqrt(list_sum(list_transform(generate_series(1, len(bq.qe)),
       |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(bq.qe[i] AS DOUBLE)))) AS nq,
       |        sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
       |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne
       |      FROM embeddings e, bq WHERE e.vec_id <> bq.qid),
       |br AS (SELECT qid, nid,
       |        row_number() OVER (PARTITION BY qid
       |                           ORDER BY round(dp / (nq * ne), 6) DESC, nid) AS rnk
       |      FROM bp),
       |brute AS (SELECT qid, nid FROM br WHERE rnk <= $TopK),
       |hit AS (SELECT brute.qid, CAST(count(ivf.nid) AS BIGINT) AS n_hit
       |        FROM brute LEFT JOIN ivf ON ivf.qid = brute.qid AND ivf.nid = brute.nid
       |        GROUP BY brute.qid)""".stripMargin

  /** Spark twin of [[recallOracleTail]]: per-query recall@TopK of any
    * (qid, rnk, nid, sim6) ANN result against the brute-force truth. */
  private def recallEval(spark: SparkSession, sfDir: String,
      ann: DataFrame): DataFrame = {
    val ivf = ann.select(col("qid"), col("nid"), lit(1).as("hit"))
    bruteForce(spark, sfDir).select("qid", "nid")
      .join(ivf, Seq("qid", "nid"), "left_outer")
      .groupBy("qid").agg(count(col("hit")).as("n_hit"))
      .select(col("qid"), col("n_hit"),
        expr(s"(n_hit * 100) DIV $TopK").as("recall_pct"))
      .orderBy("qid")
  }

  /** the 1e6-quantized integer component CTE the LSH chain hashes over —
    * same rows as the kmeans oracle's `comps`, so sim_ann_hybrid (which
    * already carries the kmeans CTEs) omits this and reuses that one */
  private val LshCompsCte: String =
    """comps AS (SELECT vec_id, i - 1 AS i,
      |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
      |      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) ii)""".stripMargin

  /** DuckDB CTEs for the LSH multiprobe candidate set, ending in
    * `lcands(qid, nid)`; assumes a `comps(vec_id, i, xq)` CTE is already
    * in scope. Shared by sim_ann_lsh and sim_ann_hybrid. */
  private def lshCandOracleCtes: String = {
    val probes = "[code, xor(code, 1), xor(code, 2), xor(code, 4), xor(code, 8)]"
    s"""hs AS (SELECT vec_id, h,
       |        CAST(sum(xq * ${wExprSql("h", "i")}) AS BIGINT) AS dp
       |      FROM comps, (SELECT unnest(generate_series(0, ${Tables4 * BitsPerTable - 1})) AS h) hh
       |      GROUP BY vec_id, h),
       |codes AS (SELECT vec_id, h // $BitsPerTable AS t,
       |        CAST(sum(CASE WHEN dp > 0 THEN (CAST(1 AS BIGINT) << (h % $BitsPerTable)) ELSE 0 END) AS BIGINT) AS code
       |      FROM hs GROUP BY vec_id, h // $BitsPerTable),
       |qcodes AS (SELECT vec_id AS qid, t, unnest($probes) AS code
       |      FROM codes WHERE vec_id < $NumQueries),
       |lcands AS (SELECT DISTINCT q.qid, c.vec_id AS nid
       |      FROM codes c JOIN qcodes q ON c.t = q.t AND c.code = q.code
       |      WHERE c.vec_id <> q.qid)""".stripMargin
  }

  /** IVF candidate pairs (qid, nid): every member of the query's
    * IvfProbes nearest inverted lists. Equi-join on list id — n·nprobe/K
    * pairs. */
  def ivfCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    // assignment (all n vectors): one codegen argmin pass; full ranking
    // (needed for the nprobe probe lists) only over the NumQueries query
    // vectors — the n×K explosion never touches the corpus side
    val assign = kmeansAssign(spark, sfDir).withColumnRenamed("cluster", "list")
    val probes = rankedFor(spark, sfDir, kmeansCodebook(spark, sfDir),
        Some(Tables.embeddings(spark, sfDir).filter(col("vec_id") < NumQueries)))
      .filter(col("r") <= IvfProbes)
      .select(col("vec_id").as("qid"), col("cluster").as("list"))
    assign.join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
  }

  /** exact cosine re-rank of a (qid, nid) candidate frame — the shared
    * tail of every ANN variant: norms computed once per vector before the
    * pair join, 6-dp round before ranking so engines order identically. */
  private[operators] def rerankCands(spark: SparkSession, sfDir: String,
      cands: DataFrame, maxSim: Option[Double] = None): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.select(col("vec_id").as("qid"), toDouble(col("embedding")).as("qe"))
      .withColumn("nq", norm(col("qe")))
    val c = e.select(col("vec_id").as("nid"), toDouble(col("embedding")).as("ne"))
      .withColumn("nn", norm(col("ne")))
    val w = Window.partitionBy("qid").orderBy(col("sim6").desc, col("nid"))
    val scored = cands.join(broadcast(q), Seq("qid")).join(c, Seq("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qe"), col("ne")) / (col("nq") * col("nn")), 6).as("sim6"))
    // maxSim: exclusive upper bound applied BEFORE ranking — the
    // hard-negative miner's "similar but not a positive" cut
    maxSim.fold(scored)(t => scored.filter(col("sim6") < t))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("qid", "rnk", "nid", "sim6")
  }

  /** IVF probe + exact re-rank: top-k rows (qid, rnk, nid, sim6) per
    * query id — the sim_ann_ivf pipeline body, shared with
    * sim_ann_recall's evaluation join (unordered; callers sort). */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame =
    rerankCands(spark, sfDir, ivfCandidates(spark, sfDir))

  /** Corpus-scaled coarse quantizer: K = ⌈n / ScaledAnnOccupancy⌉
    * md5-ranked sample vectors (quantized to the shared 1e-6 integer
    * grid) refined by KmeansIters Lloyd rounds over the corpus. The
    * sampled init is the standard IVF bootstrap (Jégou et al., "Product
    * quantization for nearest neighbor search", PAMI 2011 trains k-means
    * on a sample) and — unlike farthest-point — is expressible with a
    * DATA-DEPENDENT K in one SQL window; the Lloyd rounds reuse the
    * fixed-K oracle's GROUP-BY round pattern, which is K-independent.
    * Together that keeps this production shape a CORRECTNESS row while
    * closing the recall gap the un-Lloyd'd sample left (measured at
    * IvfProbes=6: 0.75/0.71 sampled vs 0.81/0.87 after Lloyd at
    * sf0.001/sf0.01 — list boundaries adapt to the actual geometry).
    * Scale shape: each round is ONE CentroidArgmin codegen pass over the
    * corpus plus a K×64-row aggregation back to the driver (map-side
    * combine compresses each partition to K×64 rows); centroids live on
    * the driver as K×64 longs. Training cost is O(n·K·d) per round —
    * at occupancy 50 that is the textbook ~50-points-per-centroid
    * training size, and the rounds cost 5× the (already measured,
    * SCALING.md) assignment pass; past ~100k lists a production build
    * would train a two-level quantizer and keep centroids as a frame
    * rather than a driver array. Memoized per (session, sfDir) — a
    * pipeline trains the index once and serves the ANN queries and the
    * recall evaluation against the same codebook. */
  private val scaledCodebookCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Array[Array[Long]]]

  private def scaledCodebook(spark: SparkSession, sfDir: String): Array[Array[Long]] =
    scaledCodebookCache.getOrElseUpdate((spark, sfDir), {
      val q = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("xq"))
        .transform(graft.CacheTracker.persist)
      val k = math.max(2,
        math.ceil(q.count().toDouble / ScaledAnnOccupancy).toInt)
      // orderBy+limit plans as TakeOrderedAndProject — a per-partition
      // top-K fold, never a global sort materialization
      var cents: Vector[Array[Long]] = q
        .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
        .orderBy("h", "vec_id").limit(k)
        .select("xq")
        .collect().map(_.getSeq[Long](0).toArray).toVector
      // Lloyd rounds: identical semantics to kmeansCodebookUncached's
      // (floor-mean integer centroids, ties to the lower list id, empty
      // lists keep their previous centroid) so the oracle's unrolled
      // round CTEs land on bit-identical centroids. The argmin is
      // materialized in its own select BELOW the posexplode — beside the
      // generator it lands in the Project ABOVE the Generate and
      // re-evaluates once per exploded element: at K=4000/sf10 that is
      // the difference between 2.95 s and 90.5 s per round (measured).
      for (_ <- 0 until KmeansIters) {
        val sums = q.select(
            graft.functions.CentroidArgmin
              .centroidArgmin(col("xq"), cents.toArray).as("c"),
            col("xq"))
          .select(col("c"), posexplode(col("xq")).as(Seq("i", "x")))
          .groupBy("c", "i")
          .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        cents = cents.zipWithIndex.map { case (prev, c) =>
          Array.tabulate(prev.length) { i =>
            sums.get((c, i)).fold(prev(i)) { case (s, n) => Math.floorDiv(s, n) }
          }
        }
      }
      cents.toArray
    })

  /** Production-shape IVF top-k: K scales with the corpus, so candidates
    * per query stay ~nprobe·occupancy at any n (the sim_ann_ivf_scaled
    * pipeline body). Assignment is one CentroidArgmin codegen pass over
    * the corpus; only the NumQueries query vectors pay the full K-way
    * ranking for their probe lists. */
  def ivfScaledTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = scaledCodebook(spark, sfDir)
    val assign = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      graft.functions.CentroidArgmin
        .centroidArgmin(col("embedding"), cents).as("list"))
    val probes = rankedFor(spark, sfDir, cents,
        Some(Tables.embeddings(spark, sfDir).filter(col("vec_id") < NumQueries)))
      .filter(col("r") <= IvfProbes)
      .select(col("vec_id").as("qid"), col("cluster").as("list"))
    val cands = assign.join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
    rerankCands(spark, sfDir, cands)
  }

  /** brute-force cosine top-k for qid < NumQueries; rounded to 6 dp before
    * ranking so Spark and DuckDB order identically. Norms are computed ONCE
    * per vector before the pair join (sqrt∘dot of the same array is the
    * same double either way) — recomputing them per pair would triple the
    * flops of the dominant stage. */
  def bruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), toDouble(col("embedding")).as("qe"))
      .withColumn("nq", norm(col("qe")))
    val cand = e.select(col("vec_id").as("nid"), toDouble(col("embedding")).as("ne"))
      .withColumn("nn", norm(col("ne")))
    val w = Window.partitionBy("qid").orderBy(col("sim6").desc, col("nid"))
    cand.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qe"), col("ne")) / (col("nq") * col("nn")), 6).as("sim6"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("qid", "rnk", "nid", "sim6")
      .orderBy("qid", "rnk")
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("sim_cosine_topk",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |           WHERE vec_id < $NumQueries),
         |p AS (SELECT q.qid, e.vec_id AS nid,
         |        list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dp,
         |        sqrt(list_sum(list_transform(generate_series(1, len(q.qe)),
         |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq,
         |        sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne
         |      FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |r AS (SELECT qid, nid, round(dp / (nq * ne), 6) AS sim6,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY round(dp / (nq * ne), 6) DESC, nid) AS rnk
         |      FROM p)
         |SELECT qid, rnk, nid, sim6 FROM r WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin,
      bench = true) { (spark, sfDir) =>
      bruteForce(spark, sfDir)
    },

    // embedding-cosine near-duplicate pairs (dedup-by-embedding): LSH
    // bucket candidates + exact cosine verification, oracled against the
    // brute-force all-pairs SQL. The LSH shape is DERIVED from the
    // threshold AND the corpus size by nearDupParams: the per-pair miss
    // bound (≤ 1e-5 at the threshold) fixes the table count for any bit
    // width, and the cost model grows bits ~log2(n) so the noise-collision
    // fraction FALLS as the corpus grows (measured recall 100% at
    // sf0.001/sf0.01, asserted in SimilaritySpec; candidate growth
    // sub-quadratic at tau=0.8, measured in SCALING.md). Each candidate
    // pair is emitted exactly once — at its FIRST matching table — so no
    // distinct shuffle is needed. The demo threshold is 0.4 because the
    // testdata's max cosine is ~0.51; at that weak a threshold the miss
    // bound forces near-exhaustive candidates at ANY feasible shape — the
    // documented LSH floor — while the tau=0.8 variant below shows the
    // buckets sharpening. Broadcast hints on the band/embedding sides
    // are gated on BroadcastMaxVectors: below it (demo sizes) they skip a
    // shuffle; above it the hints disappear and AQE plans the same joins
    // as shuffled equi-joins, which is the shape that survives a
    // corpus-scale run.
    //
    // NOT benched: at this weak a threshold the shape derivation correctly
    // detects that no feasible LSH shape can prune (every feasible
    // (tables, bits) is near-exhaustive at τ=0.4 — the hyperplane-LSH
    // floor), so the verification join is effectively all-candidate-pairs.
    // That regime is a demo of the fallback path, not a scale claim; the
    // benched near-dup entry is sim_near_dup_t08 below, whose derived
    // shape survives every scale decade with no exclusion knob.
    GraftQuery("sim_near_dup_pairs",
      s"""WITH $BrutePairCte
         |SELECT ida AS a, idb AS b, sim6 FROM p WHERE sim6 >= $NearDupThreshold
         |ORDER BY a, b""".stripMargin) { (spark, sfDir) =>
      nearDupPairs(spark, sfDir).orderBy("a", "b")
    },

    // Cosine-threshold sensitivity sweep — the embedding-side twin of
    // dedup_jaccard_sweep: near-dup pair counts at τ·100 ∈ {30,35,40,45,50},
    // the dial-setting evidence a semantic-dedup policy review reads
    // ("how many more pairs does loosening τ to 0.35 admit?"). ONE
    // LSH-verified pass at the LOOSEST level (0.3 — its derived shape's
    // exact-verify output equals brute force, the family's pinned
    // property); every tighter level is a subset of that pair list, so
    // the 5-way fan-out explodes the tiny verified pairs, never the
    // corpus, and collapses straight back into a ≤5-row aggregate.
    // sim6 is the same 6-dp-rounded IEEE quotient in both engines, so
    // sim6·100 ≥ τ cannot drift.
    GraftQuery("sim_cos_threshold_sweep",
      s"""WITH $BrutePairCte,
         |taus AS (SELECT unnest([30, 35, 40, 45, 50]) AS tau_pct)
         |SELECT CAST(tau_pct AS BIGINT) AS tau_pct, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM p, taus WHERE sim6 * 100 >= tau_pct
         |GROUP BY tau_pct ORDER BY tau_pct""".stripMargin) { (spark, sfDir) =>
      nearDupPairsAt(spark, sfDir, 0.3)
        .select(col("sim6"),
          explode(array(Seq(30, 35, 40, 45, 50).map(t => lit(t.toLong)): _*)).as("tau_pct"))
        .filter(col("sim6") * 100 >= col("tau_pct"))
        .groupBy("tau_pct").agg(count(lit(1)).as("n_pairs"))
        .orderBy("tau_pct")
    },

    // the production-threshold variant — THE BENCHED NEAR-DUP SHAPE: same
    // operator, tau=0.8, LSH shape derived (23 tables × 4 bits —
    // p_match/table 0.40, same as the demo's, from a per-hyperplane p of
    // 0.795 vs 0.631). On the demo corpus the verified output is empty
    // (max cosine ~0.51) but the full candidate/verify pipeline runs —
    // hashing every vector, bucket-joining, exact-verifying survivors —
    // which is exactly the work a production dedup pays on a clean corpus;
    // SimilaritySpec pins the candidate-count drop vs tau=0.4 (sharper
    // buckets → fewer candidates on the SAME corpus). Benching THIS
    // variant (not the τ=0.4 demo) means the published bench needs no
    // SPARK_GRAFT_BENCH_EXCLUDE at any scale factor.
    GraftQuery("sim_near_dup_t08",
      s"""WITH $BrutePairCte
         |SELECT ida AS a, idb AS b, sim6 FROM p WHERE sim6 >= 0.8
         |ORDER BY a, b""".stripMargin,
      bench = true) { (spark, sfDir) =>
      nearDupPairsAt(spark, sfDir, 0.8).orderBy("a", "b")
    },

    // connected components over the embedding near-dup pair graph — the
    // dedup-by-embedding canonical-document assignment (the text-shingle
    // twin is dedup_clusters). Pairs come from the LSH candidate path
    // above; the label propagation is GraphOps.connectedComponents; the
    // oracle replays the closure over the brute-force pair SQL.
    GraftQuery("sim_dup_clusters",
      s"""WITH RECURSIVE $BrutePairCte,
         |pairs AS (SELECT ida AS a, idb AS b FROM p WHERE sim6 >= $NearDupThreshold),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION
         |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS vec_id, least(src, min(dst)) AS cluster
         |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
      GraphOps.connectedComponents(nearDupPairs(spark, sfDir).select("a", "b"))
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy("vec_id")
    },

    // label-centroid assignment (the label-noise / cluster-purity check a
    // training pipeline runs over an embedding column): per-label centroid
    // direction, nearest-centroid prediction per vector, confusion counts.
    // All comparisons use EXACT integer arithmetic on 1e6-quantized
    // components (centroid = component-wise SUM, which is order-independent
    // — a float avg would differ between partial-agg orders and engines),
    // so the argmax is bit-reproducible and the operator fully oracled.
    GraftQuery("sim_label_centroids",
      s"""WITH $CentroidCte,
         |best AS (SELECT vec_id, label, clabel AS pred_label,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, clabel) AS rnk
         |      FROM scored)
         |SELECT label, pred_label, count(*) AS n FROM best WHERE rnk = 1
         |GROUP BY label, pred_label ORDER BY label, pred_label""".stripMargin) { (spark, sfDir) =>
      val w = Window.partitionBy("vec_id").orderBy(col("score").desc, col("clabel"))
      centroidScored(spark, sfDir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .groupBy(col("label"), col("clabel").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "pred_label")
    },

    // IVF-style ANN with a LEARNED coarse codebook: deterministic integer
    // k-means (farthest-point init + 5 floor-mean Lloyd rounds — see
    // kmeansCodebook) quantizes the corpus into K inverted lists; every
    // vector joins its nearest centroid's list, a query probes its
    // IvfProbes nearest lists and exact-re-ranks only those lists'
    // members. At corpus scale the codebook build is K+5 distributed
    // aggregations with only K×64 longs ever on the driver, the assignment
    // is one argmin over K centroid dots per vector, and the probe join is
    // an equi-join on list id — no all-pairs stage anywhere. Every k-means
    // step is exact integer arithmetic, so the DuckDB oracle (the same
    // init steps and Lloyd rounds unrolled as CTEs) lands on bit-identical
    // centroids and the operator stays fully oracled. Recall vs brute
    // force is asserted in SimilaritySpec — the learned codebook beats the
    // supervised label centroids it replaced because Lloyd rounds balance
    // the lists to the actual geometry.
    // NOT benched since r8: the fixed-K build is the demo shape SCALING.md
    // documents as a small-sf constraint; round-over-round ANN numbers
    // track sim_ann_ivf_scaled (the production K ≈ n/occupancy shape)
    // instead. Still oracled + spec-pinned here.
    GraftQuery("sim_ann_ivf",
      s"""WITH $ivfOracleCtes
         |SELECT qid, rnk, nid, sim6 FROM r2 WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin) { (spark, sfDir) =>
      ivfTopK(spark, sfDir).orderBy("qid", "rnk")
    },

    // PRODUCTION-shape IVF as a correctness row: K derives from the
    // corpus (⌈n / ScaledAnnOccupancy⌉ lists, a sampled coarse quantizer)
    // so candidates per query stay ~nprobe·occupancy at every sf — the
    // flat-work-per-query property SCALING.md claims for the scaled path,
    // now oracled instead of library-only. Same probe/re-rank tail as
    // sim_ann_ivf; recall floor pinned in SimilaritySpec against the
    // brute-force ground truth.
    GraftQuery("sim_ann_ivf_scaled",
      s"""WITH $ivfScaledOracleCtes
         |SELECT qid, rnk, nid, sim6 FROM r2 WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin,
      bench = true) { (spark, sfDir) =>
      ivfScaledTopK(spark, sfDir).orderBy("qid", "rnk")
    },

    // ANN quality evaluation as a first-class operator: per-query
    // recall@k of the IVF index against the brute-force ground truth —
    // the continuous-evaluation join a production similarity pipeline
    // runs whenever the codebook or corpus moves. Pure composition of
    // the two existing pipelines (one shared memoized codebook build);
    // all outputs integer-exact (hit counts and an integer percent), so
    // the evaluation itself is oracled, not just spec-asserted.
    GraftQuery("sim_ann_recall",
      s"""WITH $ivfOracleCtes,
         |ivf AS (SELECT qid, nid FROM r2 WHERE rnk <= $TopK),
         |$recallOracleTail
         |SELECT qid, n_hit, (n_hit * 100) // $TopK AS recall_pct
         |FROM hit ORDER BY qid""".stripMargin) { (spark, sfDir) =>
      recallEval(spark, sfDir, ivfTopK(spark, sfDir))
    },

    // Recall@k of the PRODUCTION ANN shape — sim_ann_ivf_scaled is the
    // benched index (K ≈ n/occupancy, sampled coarse quantizer), so its
    // quality bound must be a correctness row too, not just the fixed-K
    // demo's: the round-over-round perf number and the pinned recall
    // floor (SimilaritySpec) now describe the SAME index. Same
    // brute-force truth and hit-count tail as sim_ann_recall.
    GraftQuery("sim_ann_recall_scaled",
      s"""WITH $ivfScaledOracleCtes,
         |ivf AS (SELECT qid, nid FROM r2 WHERE rnk <= $TopK),
         |$recallOracleTail
         |SELECT qid, n_hit, (n_hit * 100) // $TopK AS recall_pct
         |FROM hit ORDER BY qid""".stripMargin) { (spark, sfDir) =>
      recallEval(spark, sfDir, ivfScaledTopK(spark, sfDir))
    },

    // The quality/cost dial as a correctness row: aggregate recall@TopK
    // at nprobe ∈ {1,2,4,6,8} — the curve an index operator reads before
    // picking a probe budget. ONE candidate pass at the max level with
    // the PROBE RANK tagged (each neighbor lives in exactly one inverted
    // list, so its rank in the query's probe order is unique): the level
    // fan-out explodes the small candidate list, filters pr ≤ nprobe,
    // and re-ranks per (query, level) — the corpus-side assignment and
    // the scoring join are paid once, not once per level. Hit counts and
    // the integer percent keep the evaluation fully oracled.
    GraftQuery("sim_ann_nprobe_curve",
      s"""WITH $kmeansOracleCtes,
         |assign AS (SELECT vec_id, c AS list FROM ranked WHERE r = 1),
         |probes AS (SELECT vec_id AS qid, c AS list, r AS pr FROM ranked
         |      WHERE r <= $NprobeMax AND vec_id < $NumQueries),
         |cands AS (SELECT p.qid, a.vec_id AS nid, p.pr
         |      FROM probes p JOIN assign a ON a.list = p.list
         |      WHERE a.vec_id <> p.qid),
         |p2 AS (SELECT cands.qid, cands.nid, cands.pr,
         |        round(list_sum(list_transform(generate_series(1, 64),
         |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |          / (sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         |           * sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
         |          , 6) AS sim6
         |      FROM cands
         |      JOIN embeddings a ON a.vec_id = cands.qid
         |      JOIN embeddings b ON b.vec_id = cands.nid),
         |fan AS (SELECT qid, nid, pr, sim6,
         |        unnest([${NprobeLevels.mkString(", ")}]) AS nprobe FROM p2),
         |rk AS (SELECT qid, nid, nprobe,
         |        row_number() OVER (PARTITION BY qid, nprobe
         |                           ORDER BY sim6 DESC, nid) AS rnk
         |      FROM fan WHERE pr <= nprobe),
         |topk AS (SELECT nprobe, qid, nid FROM rk WHERE rnk <= $TopK),
         |bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < $NumQueries),
         |bp AS (SELECT bq.qid, e.vec_id AS nid,
         |        list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dp,
         |        sqrt(list_sum(list_transform(generate_series(1, len(bq.qe)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(bq.qe[i] AS DOUBLE)))) AS nq,
         |        sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne
         |      FROM embeddings e, bq WHERE e.vec_id <> bq.qid),
         |br AS (SELECT qid, nid,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY round(dp / (nq * ne), 6) DESC, nid) AS rnk
         |      FROM bp),
         |brute AS (SELECT qid, nid FROM br WHERE rnk <= $TopK)
         |SELECT CAST(t.nprobe AS BIGINT) AS nprobe,
         |       CAST(count(brute.nid) AS BIGINT) AS n_hit,
         |       CAST((count(brute.nid) * 100) // ${NumQueries * TopK} AS BIGINT) AS recall_pct
         |FROM topk t LEFT JOIN brute
         |  ON brute.qid = t.qid AND brute.nid = t.nid
         |GROUP BY t.nprobe ORDER BY nprobe""".stripMargin) { (spark, sfDir) =>
      val probes = rankedFor(spark, sfDir, kmeansCodebook(spark, sfDir),
          Some(Tables.embeddings(spark, sfDir).filter(col("vec_id") < NumQueries)))
        .filter(col("r") <= NprobeMax)
        .select(col("vec_id").as("qid"), col("cluster").as("list"), col("r").as("pr"))
      val assign = kmeansAssign(spark, sfDir).withColumnRenamed("cluster", "list")
      val cands = assign.join(broadcast(probes), Seq("list"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"), col("pr"))
      val e = Tables.embeddings(spark, sfDir)
      val q = e.select(col("vec_id").as("qid"), toDouble(col("embedding")).as("qe"))
        .withColumn("nq", norm(col("qe")))
      val c = e.select(col("vec_id").as("nid"), toDouble(col("embedding")).as("ne"))
        .withColumn("nn", norm(col("ne")))
      val scored = cands.join(broadcast(q), Seq("qid")).join(c, Seq("nid"))
        .select(col("qid"), col("nid"), col("pr"),
          round(dot(col("qe"), col("ne")) / (col("nq") * col("nn")), 6).as("sim6"))
      val fan = scored.select(col("qid"), col("nid"), col("pr"), col("sim6"),
          explode(array(NprobeLevels.map(l => lit(l.toLong)): _*)).as("nprobe"))
        .filter(col("pr") <= col("nprobe"))
      val w = Window.partitionBy("qid", "nprobe").orderBy(col("sim6").desc, col("nid"))
      val topk = fan.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK).select("nprobe", "qid", "nid")
      val truth = bruteForce(spark, sfDir)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      topk.join(truth, Seq("qid", "nid"), "left_outer")
        .groupBy("nprobe").agg(count(col("hit")).as("n_hit"))
        .select(col("nprobe"), col("n_hit"),
          expr(s"(n_hit * 100) DIV ${NumQueries * TopK}").as("recall_pct"))
        .orderBy("nprobe")
    },

    // ranked ANN quality: nDCG@TopK of the IVF+re-rank list against the
    // brute-force ideal, graded relevance rel = TopK+1-exact_rank. The
    // log2 position discounts are floored to micro-units IN SCALA and
    // inlined into both engines as literals, and relevance grades are
    // integers — so DCG, IDCG and the final ppm ratio are pure integer
    // arithmetic with no libm call anywhere in either engine. Same probe
    // family as sim_ann_recall (memoized build shared).
    GraftQuery("sim_eval_ndcg",
      s"""WITH $ivfOracleCtes,
         |ivf AS (SELECT qid, nid, rnk FROM r2 WHERE rnk <= $TopK),
         |bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < $NumQueries),
         |bp AS (SELECT bq.qid, e.vec_id AS nid,
         |        list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dp,
         |        sqrt(list_sum(list_transform(generate_series(1, len(bq.qe)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(bq.qe[i] AS DOUBLE)))) AS nq,
         |        sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne
         |      FROM embeddings e, bq WHERE e.vec_id <> bq.qid),
         |br AS (SELECT qid, nid,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY round(dp / (nq * ne), 6) DESC, nid) AS rnk
         |      FROM bp),
         |brute AS (SELECT qid, nid, rnk FROM br WHERE rnk <= $TopK),
         |g AS (SELECT ivf.qid,
         |        CAST(coalesce(${TopK + 1} - brute.rnk, 0)
         |             * ([$ndcgWeightsSql])[ivf.rnk] AS BIGINT) AS part
         |      FROM ivf LEFT JOIN brute
         |        ON brute.qid = ivf.qid AND brute.nid = ivf.nid),
         |d AS (SELECT qid, CAST(sum(part) AS BIGINT) AS dcg FROM g GROUP BY qid)
         |SELECT qid, dcg, (dcg * 1000000) // $NdcgIdeal AS ndcg_ppm
         |FROM d ORDER BY qid""".stripMargin) { (spark, sfDir) =>
      val ivf = ivfTopK(spark, sfDir).select(col("qid"), col("nid"), col("rnk"))
      val brute = bruteForce(spark, sfDir)
        .select(col("qid"), col("nid"), col("rnk").as("brnk"))
      val weights = array(NdcgWeights.map(lit): _*)
      ivf.join(brute, Seq("qid", "nid"), "left_outer")
        .select(col("qid"),
          (coalesce(lit(TopK + 1) - col("brnk"), lit(0)).cast("long")
            * element_at(weights, col("rnk").cast("int"))).as("part"))
        .groupBy("qid").agg(sum("part").as("dcg"))
        .select(col("qid"), col("dcg"),
          expr(s"(dcg * 1000000) DIV $NdcgIdeal").as("ndcg_ppm"))
        .orderBy("qid")
    },

    // unsupervised corpus clustering: every vector labeled with its nearest
    // k-means centroid — the topic-bucketing / data-mixing view of the SAME
    // deterministic integer codebook the IVF index learns (memoized per
    // session, so this query and sim_ann_ivf share one build). Assignment
    // is one CentroidArgmin codegen pass (K·dim integer multiply-adds per
    // vector, zero shuffle) — linear scan, no pair stage, the shape that
    // holds at any corpus size; the oracle replays the join-shaped ranking.
    GraftQuery("sim_kmeans_clusters",
      s"""WITH $kmeansOracleCtes
         |SELECT vec_id, c AS cluster FROM ranked WHERE r = 1
         |ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
      kmeansAssign(spark, sfDir).orderBy("vec_id")
    },

    // Simplified-silhouette clustering quality (the per-vector cohesion/
    // separation audit run after every codebook move): a = squared
    // distance to the OWN (nearest) centroid, b = to the runner-up,
    // s = (b − a)/b in integer per-mille. All distances are exact integer
    // arithmetic on the shared 1e-6 quantization (d² = ‖v‖² + ‖c‖² − 2·v·c),
    // and the (d², c) ordering is the assignment tiebreak, so cluster
    // here == sim_kmeans_clusters' assignment by construction. Per-mille,
    // not ppm: d² < 64·(1e6)² ≈ 6.4e13, so ×1000 stays 100× inside int64
    // while ×1e6 would overflow (the documented integer-exact bound).
    // Scale shape: the n×K distance join is the oracled demo regime; a
    // scaled-K run computes (a, b) in one codegen pass (the
    // CentroidArgmin/MinDist family) exactly as the assignment does.
    GraftQuery("sim_silhouette",
      s"""WITH $kmeansOracleCtes,
         |dd2 AS (SELECT d.vec_id, d.c, vn2.n2 + cn.n2c - 2 * d.dp AS d2
         |        FROM djF d JOIN cnjF cn ON cn.c = d.c
         |        JOIN vn2 ON vn2.vec_id = d.vec_id),
         |rr AS (SELECT vec_id, c, d2,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |       FROM dd2),
         |ab AS (SELECT vec_id,
         |        CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS cluster,
         |        max(CASE WHEN rn = 1 THEN d2 END) AS a2,
         |        max(CASE WHEN rn = 2 THEN d2 END) AS b2
         |       FROM rr WHERE rn <= 2 GROUP BY vec_id)
         |SELECT vec_id, cluster,
         |       CAST((b2 - a2) * 1000 // (CASE WHEN b2 = 0 THEN 1 ELSE b2 END) AS BIGINT) AS s_permille
         |FROM ab ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      val cents = kmeansCodebook(spark, sfDir)
      val centRows = cents.zipWithIndex.flatMap { case (cs, c) =>
        cs.zipWithIndex.map { case (x, i) => (c, i, x) }
      }.toSeq.toDF("c", "i", "x")
      val n2c = cents.zipWithIndex.map { case (cs, c) => (c, cs.map(x => x * x).sum) }
        .toSeq.toDF("c", "n2c")
      val q = quantComps(Tables.embeddings(spark, sfDir))
      val n2v = q.groupBy("vec_id").agg(sum(col("xq") * col("xq")).as("n2"))
      val d2 = q.join(broadcast(centRows), Seq("i"))
        .groupBy("vec_id", "c").agg(sum(col("xq") * col("x")).as("dp"))
        .join(broadcast(n2c), Seq("c"))
        .join(n2v, Seq("vec_id"))
        .withColumn("d2", col("n2") + col("n2c") - lit(2) * col("dp"))
      val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("c"))
      d2.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .groupBy("vec_id")
        .agg(max(when(col("rn") === 1, col("c"))).cast("long").as("cluster"),
          max(when(col("rn") === 1, col("d2"))).as("a2"),
          max(when(col("rn") === 2, col("d2"))).as("b2"))
        .select(col("vec_id"), col("cluster"),
          expr("(b2 - a2) * 1000 DIV (CASE WHEN b2 = 0 THEN 1 ELSE b2 END)")
            .as("s_permille"))
        .orderBy("vec_id")
    },

    // streaming index maintenance: newly arriving vectors classified
    // into their inverted list by the BATCH-trained codebook (the
    // memoized k-means model) — the continuous-ingestion half of the IVF
    // index. The assignment is the same single CentroidArgmin codegen
    // pass, stateless in append mode (no watermark, no shuffle, no
    // state), so an unbounded vector stream indexes at scan throughput;
    // the identical batch oracle hash-checks the parity. Codebook
    // RETRAINING stays a batch concern (the model is a corpus snapshot),
    // which is exactly how production IVF services roll their indexes.
    GraftQuery("stream_kmeans_assign",
      s"""WITH $kmeansOracleCtes
         |SELECT vec_id, c AS cluster FROM ranked WHERE r = 1
         |ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
      val cb = kmeansCodebook(spark, sfDir)
      val s = spark.readStream
        .schema(Tables.embeddings(spark, sfDir).schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sfDir)
      val out = s.select(col("vec_id"),
        graft.functions.CentroidArgmin.centroidArgmin(col("embedding"), cb).as("cluster"))
      graft.streaming.StreamOps.runAppendToCompletion(out,
        "stream_kmeans_assign")
        .orderBy("vec_id")
    },

    // SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup with the
    // candidate stage BOUNDED BY the k-means clusters — cosine pairs are
    // generated only WITHIN a cluster (an equi-join on the cluster id, so
    // pair work scales with cluster occupancy ~n²/K, never corpus²), then
    // connected components over the pair graph and one representative
    // (min vec_id) kept per duplicate group. The bound has teeth only
    // when K grows with the corpus (the paper uses ~100k clusters on
    // billions of embeddings; n/K per cluster stays fixed); HERE K is the
    // demo codebook's fixed $KmeansK because the DuckDB oracle unrolls
    // the K init steps statically — so this query is demo-scale evidence
    // of the SHAPE, and a production run sizes K ~ n/targetOccupancy.
    // Reuses the SAME memoized integer k-means codebook as sim_ann_ivf /
    // sim_kmeans_clusters, so a pipeline running all three pays one build.
    // Cross-cluster duplicates are missed BY DESIGN — that approximation
    // is SemDeDup's scale trade (sim_dup_clusters is the LSH-complete
    // twin on the same corpus). Fully oracled: the DuckDB twin replays
    // the codebook CTEs, the within-cluster brute pairs, and a
    // recursive-CTE transitive closure.
    GraftQuery("sim_semdedup",
      s"""WITH RECURSIVE $kmeansOracleCtes,
         |assign AS (SELECT vec_id, c AS cluster FROM ranked WHERE r = 1),
         |pr AS (SELECT x.vec_id AS ida, y.vec_id AS idb,
         |        round(list_sum(list_transform(generate_series(1, len(a.embedding)),
         |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |          / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
         |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         |           * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
         |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS sim6
         |      FROM assign x JOIN assign y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |      JOIN embeddings a ON a.vec_id = x.vec_id
         |      JOIN embeddings b ON b.vec_id = y.vec_id),
         |pairs AS (SELECT ida AS a, idb AS b FROM pr WHERE sim6 >= $NearDupThreshold),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION
         |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src, least(src, min(dst)) AS grp FROM reach GROUP BY src)
         |SELECT s.vec_id, s.cluster, COALESCE(c.grp, s.vec_id) AS grp,
         |       CASE WHEN COALESCE(c.grp, s.vec_id) = s.vec_id THEN 1 ELSE 0 END AS keep
         |FROM assign s LEFT JOIN comp c ON c.src = s.vec_id
         |ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
      val assign = kmeansAssign(spark, sfDir)
      semDedupFrom(spark, sfDir, assign).orderBy("vec_id")
    },

    // symmetric int8 quantization of the embedding column (the storage /
    // bandwidth shrink a training pipeline applies before shipping vectors):
    // per-vector scale = max|x| / 127, q_i = floor(x_i · 127 / max|x|).
    // All outputs are exact integers (plus the 6dp scale), so the operator
    // is bit-oracled; the checksum qnorm2 pins every component.
    GraftQuery("sim_quantize_int8",
      """WITH m AS (SELECT vec_id,
        |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
        |        embedding FROM embeddings),
        |qq AS (SELECT vec_id, mx,
        |        list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) AS q
        |      FROM m)
        |SELECT vec_id, round(mx / 127, 6) AS scale6,
        |       CAST(list_sum(q) AS BIGINT) AS qsum,
        |       CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS qnorm2
        |FROM qq ORDER BY vec_id""".stripMargin) { (spark, sfDir) =>
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), toDouble(col("embedding")).as("ed"))
        .withColumn("mx", array_max(transform(col("ed"), x => abs(x))))
        .withColumn("q", transform(col("ed"),
          x => floor(x * lit(127) / col("mx")).cast("long")))
        .select(col("vec_id"),
          round(col("mx") / 127, 6).as("scale6"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("qsum"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v * v).as("qnorm2"))
        .orderBy("vec_id")
    },

    // multi-table random-hyperplane LSH: bucket join + exact re-rank within
    // candidates. Hyperplane dots use 1e6-quantized integer components so
    // the sign bits are bit-exact across engines AND partial-aggregation
    // orders (a float dot near a hyperplane could flip between runs) —
    // which is what lets this probabilistic operator be fully oracled.
    // Recall vs brute force is additionally asserted in SimilaritySpec.
    GraftQuery("sim_ann_lsh",
      s"""WITH $LshCompsCte,
         |$lshCandOracleCtes,
         |p AS (SELECT lcands.qid, lcands.nid,
         |        round(list_sum(list_transform(generate_series(1, 64),
         |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |          / (sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         |           * sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
         |          , 6) AS sim6
         |      FROM lcands
         |      JOIN embeddings a ON a.vec_id = lcands.qid
         |      JOIN embeddings b ON b.vec_id = lcands.nid),
         |r AS (SELECT qid, nid, sim6,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim6 DESC, nid) AS rnk
         |      FROM p)
         |SELECT qid, rnk, nid, sim6 FROM r WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin) { (spark, sfDir) =>
      rerankCands(spark, sfDir, lshCandidates(spark, sfDir))
        .orderBy("qid", "rnk")
    },

    // hybrid ANN: the UNION of the IVF probe candidates and the LSH
    // multiprobe bucket candidates, exact-re-ranked once. The two
    // candidate generators fail differently — IVF misses neighbors that
    // fall just outside the probed Voronoi cells, LSH misses neighbors
    // whose codes differ in >1 bit per table — so their union's recall
    // dominates both at the cost of one extra linear candidate pass (both
    // pipelines stay equi-joins; the union is a set-union of two
    // O(n·probes/K)-sized frames, never a pair blow-up). This is the
    // standard production answer when one index family can't hit the
    // recall floor alone; the codebook build is shared (memoized) with
    // sim_ann_ivf / sim_kmeans_clusters, and the whole evaluation stays
    // oracled because both candidate sets are deterministic.
    GraftQuery("sim_ann_hybrid",
      s"""WITH $ivfOracleCtes,
         |$lshCandOracleCtes,
         |u AS (SELECT qid, nid FROM cands
         |      UNION SELECT qid, nid FROM lcands),
         |hp AS (SELECT u.qid, u.nid,
         |        round(list_sum(list_transform(generate_series(1, 64),
         |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |          / (sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         |           * sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
         |          , 6) AS sim6
         |      FROM u
         |      JOIN embeddings a ON a.vec_id = u.qid
         |      JOIN embeddings b ON b.vec_id = u.nid),
         |hr AS (SELECT qid, nid, sim6,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim6 DESC, nid) AS rnk
         |      FROM hp)
         |SELECT qid, rnk, nid, sim6 FROM hr WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin) { (spark, sfDir) =>
      val cands = ivfCandidates(spark, sfDir)
        .union(lshCandidates(spark, sfDir)).distinct()
      rerankCands(spark, sfDir, cands).orderBy("qid", "rnk")
    },

    // hard-negative mining for contrastive training: per query, the
    // top-k MOST similar candidates strictly below the near-dup
    // threshold — similar enough to be hard, not similar enough to be a
    // false negative (a positive mislabeled as negative). Runs on the
    // hybrid IVF∪LSH candidate union with the shared exact re-rank, so
    // the miner inherits the production candidate machinery instead of a
    // brute-force pair scan; the τ cut applies BEFORE ranking in both
    // engines.
    // SEMANTIC decontamination — the embedding-tier companion to the
    // text-tier decontam_ngram/decontam_fuzzy chain: flag corpus vectors
    // whose cosine against ANY held-out eval vector (the same % 50 = 7
    // split convention) clears the near-dup bar. Catches rephrased /
    // re-tokenized leaks that no n-gram or shingle match can see. Scale
    // shape: benchmarks are small by nature, so the eval side broadcasts
    // and the corpus pays |eval| codegen dot products per row in one map
    // stage; the per-vector max collapses map-side (partial agg), so the
    // only shuffle carries one row per corpus vector. Exact by
    // construction (no LSH miss probability) — the property an eval-leak
    // audit needs; the LSH/IVF machinery stays the right tool for
    // corpus×corpus, not corpus×benchmark.
    GraftQuery("decontam_semantic",
      s"""WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 7),
         |cx AS (SELECT c.vec_id,
         |        round(list_sum(list_transform(generate_series(1, 64),
         |            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
         |          / (sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))
         |           * sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
         |          , 6) AS sim6
         |      FROM embeddings c, ev e WHERE c.vec_id % 50 <> 7),
         |m AS (SELECT vec_id, max(sim6) AS max_sim6 FROM cx GROUP BY vec_id)
         |SELECT vec_id, max_sim6, max_sim6 >= $NearDupThreshold AS contaminated
         |FROM m ORDER BY vec_id""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val e = Tables.embeddings(spark, sfDir)
      val ev = e.filter(col("vec_id") % 50 === 7)
        .select(toDouble(col("embedding")).as("ee"))
        .withColumn("ne", norm(col("ee")))
      val c = e.filter(col("vec_id") % 50 =!= 7)
        .select(col("vec_id"), toDouble(col("embedding")).as("ce"))
        .withColumn("nc", norm(col("ce")))
      c.crossJoin(broadcast(ev))
        .select(col("vec_id"),
          round(dot(col("ce"), col("ee")) / (col("nc") * col("ne")), 6).as("sim6"))
        .groupBy("vec_id").agg(max("sim6").as("max_sim6"))
        .select(col("vec_id"), col("max_sim6"),
          (col("max_sim6") >= NearDupThreshold).as("contaminated"))
        .orderBy("vec_id")
    },

    GraftQuery("sim_hard_negatives",
      s"""WITH $ivfOracleCtes,
         |$lshCandOracleCtes,
         |u AS (SELECT qid, nid FROM cands
         |      UNION SELECT qid, nid FROM lcands),
         |hp AS (SELECT u.qid, u.nid,
         |        round(list_sum(list_transform(generate_series(1, 64),
         |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |          / (sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         |           * sqrt(list_sum(list_transform(generate_series(1, 64),
         |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
         |          , 6) AS sim6
         |      FROM u
         |      JOIN embeddings a ON a.vec_id = u.qid
         |      JOIN embeddings b ON b.vec_id = u.nid),
         |hr AS (SELECT qid, nid, sim6,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim6 DESC, nid) AS rnk
         |      FROM hp WHERE sim6 < $NearDupThreshold)
         |SELECT qid, rnk, nid, sim6 FROM hr WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin) { (spark, sfDir) =>
      val cands = ivfCandidates(spark, sfDir)
        .union(lshCandidates(spark, sfDir)).distinct()
      rerankCands(spark, sfDir, cands, maxSim = Some(NearDupThreshold))
        .orderBy("qid", "rnk")
    },

    // Per-dimension distribution statistics of the embedding corpus — the
    // feature-scaling pass (standardization / whitening prep) a training
    // pipeline runs before any distance-based stage, and the drift probe a
    // serving pipeline re-runs per batch. One posexplode + one hash agg
    // keyed by dimension index: output is exactly `dim` rows (64 here) no
    // matter the corpus size, and partial aggregation makes the shuffle
    // carry only per-partition partials. Everything integer-exact: values
    // are 1e6-quantized via floor() for sum/min/max (floor, NOT integer
    // division — engines disagree on negative division, the q22 rule) and
    // separately 1e3-quantized for the sum of squares, whose per-row term
    // is then ≤ ~4e6, bounding overflow at ~2e12 rows per dimension —
    // beyond a 100 TB corpus. Mean/std are one driver-side division away;
    // the engine ships the exact integer moments.
    GraftQuery("sim_dim_stats",
      """WITH comps AS (SELECT vec_id, i - 1 AS i,
        |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq,
        |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS xm
        |      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) ii)
        |SELECT i, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(xq) AS BIGINT) AS sum_q,
        |       CAST(sum(xm * xm) AS BIGINT) AS ss_mq,
        |       min(xq) AS min_q, max(xq) AS max_q
        |FROM comps GROUP BY i ORDER BY i""".stripMargin) { (spark, sfDir) =>
      Tables.embeddings(spark, sfDir)
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("i").cast("long").as("i"),
          floor(col("x").cast("double") * 1000000).cast("long").as("xq"),
          floor(col("x").cast("double") * 1000).cast("long").as("xm"))
        .groupBy("i")
        .agg(count(lit(1)).as("n"), sum("xq").as("sum_q"),
          sum(col("xm") * col("xm")).as("ss_mq"),
          min("xq").as("min_q"), max("xq").as("max_q"))
        .orderBy("i")
    },

    // Quantization quality audit: recall@TopK of INT8 brute-force search
    // against float brute-force — the measurement that licenses shipping
    // the 4x-smaller index sim_quantize_int8 builds (at 100 TB the
    // embedding tier's memory bill is the binding constraint, so this
    // number decides the fleet size). The int8 side's scores are exact
    // integer dot products over per-vector-scaled codes (ranking by
    // qdot/(|qa||qb|) — per-vector scales cancel out of the ordering),
    // so unlike a float dot the candidate order cannot drift with
    // partial-aggregation order; the float side reuses the shared
    // bruteForce ground truth. Same per-query recall row shape as
    // sim_ann_recall, so the two audits read side by side.
    GraftQuery("sim_quant_recall",
      s"""WITH m AS (SELECT vec_id,
         |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
         |        embedding FROM embeddings),
         |qn AS (SELECT vec_id,
         |        list_transform(embedding,
         |          x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) AS q
         |      FROM m),
         |qv AS (SELECT vec_id, q,
         |        sqrt(CAST(list_sum(list_transform(q, v -> v * v)) AS DOUBLE)) AS nrm
         |      FROM qn),
         |iq AS (SELECT vec_id AS qid, q AS qa, nrm AS na FROM qv
         |       WHERE vec_id < $NumQueries),
         |ip AS (SELECT iq.qid, c.vec_id AS nid,
         |         round(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
         |             i -> iq.qa[i] * c.q[i])) AS DOUBLE) / (iq.na * c.nrm), 6) AS sim6
         |       FROM qv c, iq WHERE c.vec_id <> iq.qid),
         |it AS (SELECT qid, nid FROM (
         |         SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |           ORDER BY sim6 DESC, nid) AS rnk FROM ip) WHERE rnk <= $TopK),
         |bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < $NumQueries),
         |bp AS (SELECT bq.qid, e.vec_id AS nid,
         |        list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dp,
         |        sqrt(list_sum(list_transform(generate_series(1, len(bq.qe)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(bq.qe[i] AS DOUBLE)))) AS nq,
         |        sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne
         |      FROM embeddings e, bq WHERE e.vec_id <> bq.qid),
         |br AS (SELECT qid, nid,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY round(dp / (nq * ne), 6) DESC, nid) AS rnk
         |      FROM bp),
         |brute AS (SELECT qid, nid FROM br WHERE rnk <= $TopK),
         |hit AS (SELECT brute.qid, CAST(count(it.nid) AS BIGINT) AS n_hit
         |        FROM brute LEFT JOIN it ON it.qid = brute.qid AND it.nid = brute.nid
         |        GROUP BY brute.qid)
         |SELECT qid, n_hit, (n_hit * 100) // $TopK AS recall_pct
         |FROM hit ORDER BY qid""".stripMargin) { (spark, sfDir) =>
      val base = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), toDouble(col("embedding")).as("ed"))
        .withColumn("mx", array_max(transform(col("ed"), x => abs(x))))
        .withColumn("q", transform(col("ed"),
          x => floor(x * lit(127) / col("mx")).cast("long")))
        .withColumn("nrm",
          sqrt(aggregate(col("q"), lit(0L), (a, v) => a + v * v).cast("double")))
        .select("vec_id", "q", "nrm")
      val iq = base.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm").as("na"))
      val w = Window.partitionBy("qid").orderBy(col("sim6").desc, col("nid"))
      val it = base.select(col("vec_id").as("nid"), col("q").as("qc"), col("nrm").as("nn"))
        .join(broadcast(iq), col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          round(aggregate(zip_with(col("qa"), col("qc"), (a, b) => a * b),
            lit(0L), (a, v) => a + v).cast("double") / (col("na") * col("nn")), 6)
            .as("sim6"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      bruteForce(spark, sfDir).select("qid", "nid")
        .join(it, Seq("qid", "nid"), "left_outer")
        .groupBy("qid").agg(count(col("hit")).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          expr(s"(n_hit * 100) DIV $TopK").as("recall_pct"))
        .orderBy("qid")
    },

    // k-NN classification eval: predict each query vector's label as the
    // majority label of its 10 float-brute-force neighbors (ties to the
    // smaller label) and score against the ground truth — the
    // embedding-quality eval that asks "does proximity predict the
    // label", which is what retrieval/dedup by cosine implicitly assumes.
    // Reuses the shared bruteForce ground-truth pass; the vote frame is
    // queries × ≤ labels.
    GraftQuery("sim_knn_classify",
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |           WHERE vec_id < $NumQueries),
         |bp AS (SELECT bq.qid, e.vec_id AS nid,
         |        list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dp,
         |        sqrt(list_sum(list_transform(generate_series(1, len(bq.qe)),
         |          i -> CAST(bq.qe[i] AS DOUBLE) * CAST(bq.qe[i] AS DOUBLE)))) AS nq,
         |        sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
         |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne
         |      FROM embeddings e, bq WHERE e.vec_id <> bq.qid),
         |br AS (SELECT qid, nid,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY round(dp / (nq * ne), 6) DESC, nid) AS rnk
         |      FROM bp),
         |nb AS (SELECT br.qid, e.label FROM br
         |       JOIN embeddings e ON e.vec_id = br.nid WHERE br.rnk <= $TopK),
         |votes AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS n
         |          FROM nb GROUP BY qid, label),
         |pred AS (SELECT qid, CAST(label AS BIGINT) AS pred_label, n AS n_votes FROM (
         |           SELECT qid, label, n, row_number() OVER (PARTITION BY qid
         |             ORDER BY n DESC, label) AS rn FROM votes) WHERE rn = 1)
         |SELECT p.qid, CAST(e.label AS BIGINT) AS true_label, p.pred_label, p.n_votes,
         |       p.pred_label = CAST(e.label AS BIGINT) AS correct
         |FROM pred p JOIN embeddings e ON e.vec_id = p.qid
         |ORDER BY p.qid""".stripMargin) { (spark, sfDir) =>
      val labels = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val votes = bruteForce(spark, sfDir).select("qid", "nid")
        .join(labels.select(col("vec_id").as("nid"), col("label")), "nid")
        .groupBy("qid", "label").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("qid").orderBy(col("n").desc, col("label"))
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("label").as("pred_label"), col("n").as("n_votes"))
        .join(labels.select(col("vec_id").as("qid"), col("label").as("true_label")),
          "qid")
        .select(col("qid"), col("true_label"), col("pred_label"), col("n_votes"),
          (col("pred_label") === col("true_label")).as("correct"))
        .orderBy("qid")
    },

    // Clustering PURITY against the ground-truth label column — the
    // external-validity eval (vs sim_silhouette's internal one): per
    // k-means cluster, the majority true label and its share in exact
    // ppm; corpus purity is the Σ maj_n / n one division away. Reuses the
    // shared assignment (kmeansAssign ≡ sim_kmeans_clusters by
    // construction); the label-contingency frame is bounded by K × labels.
    GraftQuery("sim_cluster_purity",
      s"""WITH $kmeansOracleCtes,
         |asg AS (SELECT vec_id, c AS cluster FROM ranked WHERE r = 1),
         |lc AS (SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS n
         |       FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
         |       GROUP BY a.cluster, e.label),
         |tt AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_total FROM lc GROUP BY cluster),
         |mj AS (SELECT cluster, CAST(label AS BIGINT) AS maj_label, n AS maj_n FROM (
         |         SELECT cluster, label, n, row_number() OVER (PARTITION BY cluster
         |           ORDER BY n DESC, label) AS rn FROM lc) WHERE rn = 1)
         |SELECT mj.cluster, tt.n_total, mj.maj_label, mj.maj_n,
         |       CAST(mj.maj_n * 1000000 // tt.n_total AS BIGINT) AS purity_ppm
         |FROM mj JOIN tt USING (cluster) ORDER BY cluster""".stripMargin) {
      (spark, sfDir) =>
      val lc = kmeansAssign(spark, sfDir)
        .join(Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label")), "vec_id")
        .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      val tt = lc.groupBy("cluster").agg(sum("n").as("n_total"))
      val w = Window.partitionBy("cluster").orderBy(col("n").desc, col("label"))
      lc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cluster"), col("label").cast("long").as("maj_label"),
          col("n").as("maj_n"))
        .join(tt, "cluster")
        .select(col("cluster"), col("n_total"), col("maj_label"), col("maj_n"),
          expr("maj_n * 1000000 DIV n_total").as("purity_ppm"))
        .orderBy("cluster")
    },

    // Vector-norm distribution, log2-bucketed on the exact integer
    // squared norm of 1e-3-quantized components — the
    // normalize-or-don't decision input (cosine vs dot ranking agree only
    // when norms concentrate; a wide histogram says normalize first).
    // Integer end to end: ‖v‖² in milli-units², bucket = bit width.
    GraftQuery("sim_norm_hist",
      """WITH q AS (SELECT vec_id,
        |        CAST(list_sum(list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
        |             * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS n2
        |      FROM embeddings)
        |SELECT CAST(length(bin(n2 + 1)) AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(min(n2) AS BIGINT) AS min_n2, CAST(max(n2) AS BIGINT) AS max_n2
        |FROM q GROUP BY bucket ORDER BY bucket""".stripMargin) { (spark, sfDir) =>
      Tables.embeddings(spark, sfDir)
        .select(aggregate(
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long")),
          lit(0L), (a, v) => a + v * v).as("n2"))
        .withColumn("bucket", length(bin(col("n2") + 1)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), min("n2").as("min_n2"), max("n2").as("max_n2"))
        .orderBy("bucket")
    },

    // Embedding drift monitor: per-dimension mean shift between two
    // corpus slices (vec_id parity stands in for old-batch/new-batch) —
    // the check a serving pipeline runs before trusting yesterday's
    // centroids/codebooks on today's vectors (a shifted dimension means
    // re-fit before assign). Exact integer per-slice counts and
    // 1e6-quantized sums; the per-slice mean is floor(sum/n) in micro
    // units and the shift their absolute difference — engine-identical
    // (all sums exact, division floored on non-negatives after the abs
    // rearrangement... both engines truncate identically on the
    // possibly-negative means via the floorDiv guard pattern: here means
    // can be negative, so both sides compute floor via the same
    // subtract-remainder identity). Output is dim rows at any corpus size.
    GraftQuery("sim_embed_drift",
      """WITH comps AS (SELECT vec_id % 2 AS slice, i - 1 AS i,
        |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
        |      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) ii),
        |g AS (SELECT slice, i, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(xq) AS BIGINT) AS s
        |      FROM comps GROUP BY slice, i),
        |m AS (SELECT i,
        |        max(CASE WHEN slice = 0 THEN n END) AS n_a,
        |        max(CASE WHEN slice = 0 THEN s END) AS s_a,
        |        max(CASE WHEN slice = 1 THEN n END) AS n_b,
        |        max(CASE WHEN slice = 1 THEN s END) AS s_b
        |      FROM g GROUP BY i)
        |SELECT CAST(i AS BIGINT) AS i, n_a, n_b,
        |       CAST((s_a - ((s_a % n_a) + n_a) % n_a) // n_a AS BIGINT) AS mean_qa,
        |       CAST((s_b - ((s_b % n_b) + n_b) % n_b) // n_b AS BIGINT) AS mean_qb,
        |       abs(CAST((s_a - ((s_a % n_a) + n_a) % n_a) // n_a
        |         - (s_b - ((s_b % n_b) + n_b) % n_b) // n_b AS BIGINT)) AS shift_q
        |FROM m ORDER BY i""".stripMargin) { (spark, sfDir) =>
      val g = Tables.embeddings(spark, sfDir)
        .select((col("vec_id") % 2).as("slice"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("slice"), col("i").cast("long").as("i"),
          floor(col("x").cast("double") * 1000000).cast("long").as("xq"))
        .groupBy("slice", "i")
        .agg(count(lit(1)).as("n"), sum("xq").as("s"))
      g.groupBy("i")
        .agg(max(when(col("slice") === 0, col("n"))).as("n_a"),
          max(when(col("slice") === 0, col("s"))).as("s_a"),
          max(when(col("slice") === 1, col("n"))).as("n_b"),
          max(when(col("slice") === 1, col("s"))).as("s_b"))
        .selectExpr("i", "n_a", "n_b",
          "(s_a - ((s_a % n_a) + n_a) % n_a) DIV n_a AS mean_qa",
          "(s_b - ((s_b % n_b) + n_b) % n_b) DIV n_b AS mean_qb",
          "abs((s_a - ((s_a % n_a) + n_a) % n_a) DIV n_a" +
            " - (s_b - ((s_b % n_b) + n_b) % n_b) DIV n_b) AS shift_q")
        .orderBy("i")
    }
  )

  /** LSH multiprobe candidate pairs (qid, nid), distinct: each query
    * probes its own bucket plus the 4 hamming-1 neighbor codes per table.
    * Integer 1e6-quantized hyperplane dots make the codes bit-exact
    * across engines and partial-agg orders. */
  def lshCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    // (vec_id, i, xq): 1e6-quantized integer component per row
    val comps = e.select(col("vec_id"),
        posexplode(toDouble(col("embedding"))).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), floor(col("x") * 1000000).cast("long").as("xq"))
    // h = t * BitsPerTable + j hyperplanes; bit = (w·v > 0), exact int dot
    val hs = comps.crossJoin(
        spark.range(Tables4 * BitsPerTable).select(col("id").cast("int").as("h")))
      .select(col("vec_id"), col("h"),
        (col("xq") * expr(wExprSql("h", "i"))).as("wx"))
      .groupBy("vec_id", "h").agg(sum("wx").as("dp"))
      .select(col("vec_id"), col("h"), (col("dp") > 0).cast("long").as("bit"))
    val codes = hs
      .select(col("vec_id"), (col("h") / BitsPerTable).cast("int").as("t"),
        (col("bit") * expr(s"shiftleft(CAST(1 AS BIGINT), h % $BitsPerTable)")).as("v"))
      .groupBy("vec_id", "t").agg(sum("v").as("code"))
    // multiprobe: each query also probes the 4 hamming-1 neighbor codes of
    // its bucket per table — recall ↑ sharply for the cost of 5 broadcast
    // lookups instead of 1 (still no quadratic join)
    val qcodes = codes.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("t"),
        explode(array(col("code"),
          expr("CAST(code AS BIGINT) ^ 1"), expr("CAST(code AS BIGINT) ^ 2"),
          expr("CAST(code AS BIGINT) ^ 4"), expr("CAST(code AS BIGINT) ^ 8"))).as("code"))
    codes.join(broadcast(qcodes), Seq("t", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid")).distinct()
  }
}
