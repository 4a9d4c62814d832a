package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.Tables
import graft.functions.CentroidArgmin

/** Product quantization (Jégou, Douze, Schmid: "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) composed with the existing IVF
  * coarse index — the classic IVF-PQ compressed ANN layout, plus the
  * paper's §VII refinement (IVFADC-R: ADC shortlist + exact re-rank).
  *
  * The 64-dim embedding splits into [[NumSub]] = 16 subspaces of 4 dims;
  * each subspace gets a [[SubK]] = 32-centroid codebook (deterministic
  * corpus-stride seeds + ONE exact-integer Lloyd refinement round, so the
  * DuckDB oracle can replay the training bit-for-bit), and every vector
  * compresses to 16 five-bit codes — 10 bytes of payload per vector, a
  * 51× reduction over the raw doubles. Queries run ASYMMETRICALLY: the
  * query vector stays unquantized, its 16×32 per-subspace distance table
  * is precomputed once, and each candidate costs 16 table lookups instead
  * of 64 multiply-adds over fetched raw vectors.
  *
  * Shape (16×4×32) was chosen by a measured sweep on the demo corpus —
  * near-orthogonal random vectors, PQ's documented worst case (distances
  * concentrate, so quantization error reorders aggressively): 8×8×16
  * refined recall@10 0.54 → 16×4×16 0.725 → 16×4×32 0.765 → + R=100
  * shortlist 0.835/0.805 (sf0.01/sf0.001) against the 0.84 ceiling of
  * the shared nprobe=6 IVF probe. Floors pinned in SimilaritySpec.
  *
  * Scale design (100 TB): the codebook is 16×32×4 longs (16 KB, driver);
  * training is one bounded seed collect + one scan-shaped aggregation
  * (map-side combine to ≤ 16·32·4 = 2 048 rows); encoding is one codegen
  * [[CentroidArgmin]] pass per subspace inside a single projection — no
  * shuffle, no join, and the emitted code frame is the SMALL thing that
  * flows (ids + 10 bytes). Candidate generation reuses the IVF probe
  * equi-join (n·nprobe/K pairs, never n²); the ADC sum is one
  * posexplode + broadcast lookup join (Q·16·32 = 10 240 rows) + hash agg
  * on (qid, nid); the refined variant fetches raw vectors for only
  * [[ShortlistR]] rows per query — the pruning factor n·nprobe/(K·R)
  * GROWS with corpus size while R stays fixed. All index arithmetic is
  * exact integer (quantized components, ‖c‖² − 2·c·x distances), so the
  * result is partitioning-independent and hash-oracled.
  */
object PqOps {

  val NumSub = 16
  val SubDim = 4
  val SubK = 32

  import SimilarityOps.{NumQueries, TopK}

  /** quantized integer components as one array column per vector — the
    * same ⌊x·10⁶⌋ quantization every similarity operator shares */
  private def quantized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("xq"))

  /** memoized per (session, sfDir): [sub][c][j] integer centroids */
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Array[Array[Long]]]]

  def pqCodebook(spark: SparkSession, sfDir: String): Array[Array[Array[Long]]] =
    pqCache.getOrElseUpdate((spark, sfDir), pqCodebookUncached(spark, sfDir))

  /** Seeds = the subvectors of the SubK corpus-stride vectors
    * vec_id ∈ {c·⌊n/SubK⌋}, then one Lloyd round: per-(vec, sub) argmin
    * assignment (codegen, tie → lowest code) and FLOOR-MEAN refinement
    * (floorDiv of exact integer sums; an empty cell keeps its seed).
    * One bounded collect (SubK rows) + one aggregation (≤ 1 024 rows). */
  private def pqCodebookUncached(spark: SparkSession, sfDir: String): Array[Array[Array[Long]]] = {
    val q = quantized(spark, sfDir)
    val n = Tables.embeddings(spark, sfDir).count()
    require(n >= SubK, s"PQ needs at least $SubK vectors, corpus has $n")
    val step = n / SubK
    val seedIds = Array.tabulate(SubK)(c => c * step)
    val seeds = q.filter(col("vec_id").isin(seedIds.toSeq.map(Long.box): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val cb0: Array[Array[Array[Long]]] = Array.tabulate(NumSub) { sub =>
      Array.tabulate(SubK) { c =>
        seeds(seedIds(c)).slice(sub * SubDim, (sub + 1) * SubDim)
      }
    }
    // one refinement round: codes under cb0 ride each row, the component
    // explode happens AFTER assignment so map-side combine compresses
    // every partition to at most NumSub·SubK·SubDim partial rows. The
    // code assignment is materialized in its own select BELOW the
    // explode — beside the generator, ExtractGenerator would hoist it
    // into the Project above the Generate and recompute the 16 argmins
    // once per exploded element (64x; the Lloyd-round twin of this shape
    // measured 2.95 s vs 90.5 s at sf10)
    val sums = q.select(codesCol(cb0).as("codes"), col("xq"))
      .select(col("codes"), posexplode(col("xq")).as(Seq("i", "x")))
      .selectExpr(s"CAST(i DIV $SubDim AS INT) AS sub", s"CAST(i % $SubDim AS INT) AS j",
        s"codes[CAST(i DIV $SubDim AS INT)] AS c", "x") // [] subscript is 0-based
      .groupBy("sub", "c", "j")
      .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    Array.tabulate(NumSub) { sub =>
      Array.tabulate(SubK) { c =>
        Array.tabulate(SubDim) { j =>
          sums.get((sub, c, j)).fold(cb0(sub)(c)(j)) { case (s, cnt) =>
            Math.floorDiv(s, cnt)
          }
        }
      }
    }
  }

  /** the NumSub per-subspace nearest-code ids as one array column — the
    * codegen argmin passes fuse into a single projection over the slices */
  private def codesCol(cb: Array[Array[Array[Long]]]) =
    array((0 until NumSub).map { sub =>
      CentroidArgmin.centroidArgmin(slice(col("xq"), sub * SubDim + 1, SubDim), cb(sub))
    }: _*)

  /** (vec_id, codes): the compressed index — NumSub small codes/vector */
  def pqEncode(spark: SparkSession, sfDir: String): DataFrame =
    quantized(spark, sfDir)
      .select(col("vec_id"), codesCol(pqCodebook(spark, sfDir)).as("codes"))

  /** the per-query asymmetric distance table rows (qid, sub, c, d) with
    * d = ‖cent‖² − 2·q_sub·cent — Q·NumSub·SubK rows, built on the driver from
    * the bounded query set and broadcast into the ADC join */
  private def distTable(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = pqCodebook(spark, sfDir)
    val qcomps = quantized(spark, sfDir).filter(col("vec_id") < NumQueries)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val rows = for {
      (qid, xq) <- qcomps.toSeq
      sub <- 0 until NumSub
      c <- 0 until SubK
    } yield {
      val cent = cb(sub)(c)
      var n2 = 0L; var dp = 0L; var j = 0
      while (j < SubDim) {
        n2 += cent(j) * cent(j)
        dp += xq(sub * SubDim + j) * cent(j)
        j += 1
      }
      Row(qid, sub, c, n2 - 2 * dp)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("qid", LongType, nullable = false),
        StructField("sub", IntegerType, nullable = false),
        StructField("c", IntegerType, nullable = false),
        StructField("d", LongType, nullable = false))))
  }

  /** ADC-ranked IVF candidates (qid, nid, adc, rnk ≤ `keep`) — the
    * compressed scan every IVF-PQ consumer shares */
  private def adcRanked(spark: SparkSession, sfDir: String, keep: Int): DataFrame = {
    val cands = SimilarityOps.ivfCandidates(spark, sfDir)
    val codes = pqEncode(spark, sfDir)
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("nid"))
    cands.join(codes, col("nid") === col("vec_id"))
      .select(col("qid"), col("nid"), posexplode(col("codes")).as(Seq("sub", "c")))
      .join(broadcast(distTable(spark, sfDir)), Seq("qid", "sub", "c"))
      .groupBy("qid", "nid")
      .agg(sum("d").as("adc"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= keep)
  }

  /** IVF-probed candidates re-ranked by PQ asymmetric distance: the pure
    * compressed-search pipeline (qid, rnk, nid, adc) */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame =
    adcRanked(spark, sfDir, TopK).select("qid", "rnk", "nid", "adc")

  /** ADC shortlist size for the refined (re-ranked) variant — raw vectors
    * are fetched for only this many candidates per query */
  val ShortlistR = 100

  /** IVFADC-R (Jégou et al. §VII): ADC keeps a cheap [[ShortlistR]]-deep
    * shortlist from the compressed codes, then the EXACT cosine re-rank
    * runs on those rows alone. At scale this is the refinement that makes
    * PQ usable on distance-concentrated corpora: the raw-vector join
    * touches Q·R rows, not Q·n/K·nprobe, and recall climbs back to the
    * IVF probe ceiling. */
  def ivfPqRefined(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.rerankCands(spark, sfDir,
      adcRanked(spark, sfDir, ShortlistR).select("qid", "nid"))

  /** PQ training + encoding + dtab + ADC as DuckDB CTEs; assumes the
    * kmeans chain's `comps(vec_id, i, xq)` (0-based i) is in scope.
    * Ends in `adc(qid, nid, adc)` over the IVF `cands`. */
  private def pqOracleCtes: String =
    s"""subcomps AS MATERIALIZED (SELECT vec_id, i // $SubDim AS sub, i % $SubDim AS j, xq FROM comps),
       |seedids AS (SELECT c, CAST(c * ((SELECT count(*) FROM embeddings) // $SubK) AS BIGINT) AS vid
       |      FROM (SELECT unnest(generate_series(0, ${SubK - 1})) AS c)),
       |pcb0 AS MATERIALIZED (SELECT s.c, sc.sub, sc.j, sc.xq AS x
       |      FROM seedids s JOIN subcomps sc ON sc.vec_id = s.vid),
       |pdp0 AS (SELECT sc.vec_id, sc.sub, cb.c, CAST(sum(sc.xq * cb.x) AS BIGINT) AS dp
       |      FROM subcomps sc JOIN pcb0 cb ON cb.sub = sc.sub AND cb.j = sc.j
       |      GROUP BY 1, 2, 3),
       |pn0 AS (SELECT sub, c, CAST(sum(x * x) AS BIGINT) AS n2c FROM pcb0 GROUP BY 1, 2),
       |pasg0 AS MATERIALIZED (SELECT vec_id, sub, c FROM (
       |      SELECT d.vec_id, d.sub, d.c,
       |        row_number() OVER (PARTITION BY d.vec_id, d.sub ORDER BY n.n2c - 2 * d.dp, d.c) AS rn
       |      FROM pdp0 d JOIN pn0 n ON n.sub = d.sub AND n.c = d.c) t0 WHERE rn = 1),
       |psm0 AS (SELECT a.sub, a.c, sc.j, CAST(sum(sc.xq) AS BIGINT) AS s,
       |        CAST(count(*) AS BIGINT) AS cnt
       |      FROM subcomps sc JOIN pasg0 a ON a.vec_id = sc.vec_id AND a.sub = sc.sub
       |      GROUP BY 1, 2, 3),
       |pcb1 AS MATERIALIZED (SELECT p.c, p.sub, p.j,
       |        COALESCE((s.s - ((s.s % s.cnt) + s.cnt) % s.cnt) // s.cnt, p.x) AS x
       |      FROM pcb0 p LEFT JOIN psm0 s ON s.sub = p.sub AND s.c = p.c AND s.j = p.j),
       |pdp1 AS (SELECT sc.vec_id, sc.sub, cb.c, CAST(sum(sc.xq * cb.x) AS BIGINT) AS dp
       |      FROM subcomps sc JOIN pcb1 cb ON cb.sub = sc.sub AND cb.j = sc.j
       |      GROUP BY 1, 2, 3),
       |pn1 AS (SELECT sub, c, CAST(sum(x * x) AS BIGINT) AS n2c FROM pcb1 GROUP BY 1, 2),
       |pcodes AS MATERIALIZED (SELECT vec_id, sub, c FROM (
       |      SELECT d.vec_id, d.sub, d.c,
       |        row_number() OVER (PARTITION BY d.vec_id, d.sub ORDER BY n.n2c - 2 * d.dp, d.c) AS rn
       |      FROM pdp1 d JOIN pn1 n ON n.sub = d.sub AND n.c = d.c) t1 WHERE rn = 1),
       |qdp AS (SELECT sc.vec_id AS qid, cb.sub, cb.c, CAST(sum(sc.xq * cb.x) AS BIGINT) AS dp
       |      FROM subcomps sc JOIN pcb1 cb ON cb.sub = sc.sub AND cb.j = sc.j
       |      WHERE sc.vec_id < $NumQueries GROUP BY 1, 2, 3),
       |dtab AS (SELECT q.qid, q.sub, q.c, n.n2c - 2 * q.dp AS d
       |      FROM qdp q JOIN pn1 n ON n.sub = q.sub AND n.c = q.c),
       |adc AS (SELECT c.qid, c.nid, CAST(sum(t.d) AS BIGINT) AS adc
       |      FROM cands c JOIN pcodes pc ON pc.vec_id = c.nid
       |      JOIN dtab t ON t.qid = c.qid AND t.sub = pc.sub AND t.c = pc.c
       |      GROUP BY 1, 2)""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    // IVF-PQ: coarse probe + compressed asymmetric re-rank. The oracle
    // replays codebook training (stride seeds + one integer Lloyd round),
    // encoding, the distance table, and the ADC ranking bit-for-bit on
    // top of the shared IVF probe CTE chain.
    GraftQuery("sim_ann_ivfpq",
      s"""WITH ${SimilarityOps.ivfCandOracleCtes},
         |$pqOracleCtes
         |SELECT qid, rnk, nid, adc FROM (
         |  SELECT qid, nid, adc,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rnk
         |  FROM adc) r WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin,
      bench = true) { (spark, sfDir) =>
      ivfPqTopK(spark, sfDir).orderBy("qid", "rnk")
    },

    // IVFADC-R: ADC shortlist + exact cosine re-rank — the refined
    // variant whose recall climbs back to the IVF probe ceiling while raw
    // vectors are only fetched for ShortlistR rows per query
    GraftQuery("sim_ann_ivfpq_r",
      s"""WITH ${SimilarityOps.ivfCandOracleCtes},
         |$pqOracleCtes,
         |shortlist AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS srnk
         |  FROM adc) s WHERE srnk <= $ShortlistR),
         |${SimilarityOps.rerankOracleTail("shortlist")}
         |SELECT qid, rnk, nid, sim6 FROM r2 WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin) { (spark, sfDir) =>
      ivfPqRefined(spark, sfDir).orderBy("qid", "rnk")
    }
  )
}
