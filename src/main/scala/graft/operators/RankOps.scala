package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables

/** Graph-ranking tier (north-star: crawl prioritization / source-authority
  * weighting for a web-corpus pipeline; no counterpart in the reference).
  * The demo graph is the session-bounded event-type transition digraph —
  * the same edge derivation as `events_transitions` — ranked by the
  * integer-exact PageRank in [[GraphOps.pageRank]]. At 100 TB the nodes
  * would be domains and the edges hyperlinks; the operator shape (join +
  * hash agg per round over a co-partitioned edge list) is unchanged.
  */
object RankOps {

  private val Iters = 10
  private val Scale = 1000000000L
  private val BfsDepth = 4
  // must initialize before `queries` (the oracle CTE chain interpolates it
  // at object-init time — a forward val reads as 0 and the chain vanishes)
  private val LpaRounds = 4

  // k-core over the WEIGHTED co-purchase graph. graph_kcore derives its
  // weight threshold FROM THE DATA (see the query: w >= 2 backbone only
  // while repeat pairs are >= 1% of pairs — a fixed MinW goes degenerate
  // as the catalog widens: empty at sf0.1, too-dense-to-peel unthresholded
  // at sf0.001 where min degree is 49). K/rounds probed: the peel takes 9
  // rounds at sf0.01 (1892 → 1055 nodes) and ≤ 3 at the other sfs, so 14
  // unrolled oracle rounds hold a margin; the engine exits at the exact
  // fixpoint regardless (post-fixpoint rounds are idempotent, so the
  // fixed-round oracle and the early-exiting engine agree by construction).
  // KCoreMinW remains the FIXED hub-control threshold of link prediction,
  // where 1/log scoring makes sub-threshold pairs negligible anyway.
  private val KCoreK = 3
  private val KCoreMinW = 2
  private val KCoreRounds = 14

  // link prediction runs on the same weight-thresholded graph as k-core
  // (hub wedge fan-out is quadratic in degree; 1/log scoring makes hub
  // contributions negligible anyway) and keeps the top candidates only
  private val LinkTop = 100

  // personalized PageRank restarts at the conversion node: "which event
  // types sit closest to purchase in the session-transition walk"
  private val PprSeed = "purchase"

  // neighbors kept per item by the item-item recommender
  private val RecTop = 5

  // unreachable sentinel for the min-plus path rounds (far above any
  // real path cost: 6 hops × ≤ ~20k milli-bits each), and the entry node
  // the conversion paths start from
  private val PathInf = 1000000000L
  private val PathSeed = "signup"

  /** the unrolled peel rounds: d{i}/v{i} CTE pairs over `e` and v{i-1}.
    * v{i} MUST be MATERIALIZED (DuckDB-only syntax — oracle never runs in
    * Spark): each round references its predecessor twice, so un-pinned
    * CTEs inline exponentially (2^rounds parquet scans → fd exhaustion) */
  private def kcoreRoundsSql: String =
    (1 to KCoreRounds).map { i =>
      s"""d$i AS (SELECT e.a AS node, count(*) AS d FROM e
         |  JOIN v${i - 1} s1 ON s1.node = e.a JOIN v${i - 1} s2 ON s2.node = e.b
         |  GROUP BY e.a),
         |v$i AS MATERIALIZED (SELECT node FROM d$i WHERE d >= $KCoreK)""".stripMargin
    }.mkString(",\n")

  /** the session-bounded event-type transition digraph (same edge
    * derivation as events_transitions) with per-edge out-weights and the
    * node set — the shared oracle prefix of graph_pagerank and graph_ppr.
    * ew/nodes are MATERIALIZED: the power rounds reference them once per
    * round, and un-pinned CTEs re-expand the whole events scan each time. */
  private def transitionGraphCte: String =
    s"""eb AS (SELECT event_id, user_id, event_type,
       |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
       |l AS (SELECT user_id, event_type, us,
       |        lag(event_type) OVER (PARTITION BY user_id
       |          ORDER BY us, event_type, event_id) AS src,
       |        lag(us) OVER (PARTITION BY user_id
       |          ORDER BY us, event_type, event_id) AS prev_us
       |      FROM eb),
       |ed AS (SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
       |       FROM l WHERE src IS NOT NULL AND us - prev_us < ${EventOps.GapUs}
       |       GROUP BY src, event_type),
       |ow AS (SELECT src, SUM(n) AS w FROM ed GROUP BY src),
       |ew AS MATERIALIZED (SELECT ed.src, ed.dst, ed.n, ow.w
       |      FROM ed JOIN ow ON ow.src = ed.src),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed))""".stripMargin

  /** the r1..rIters power-iteration rounds as unrolled DuckDB CTEs —
    * aggregation is not allowed in a recursive CTE term, so the fixed
    * iteration count is replayed as a chain (same pattern as the k-means
    * oracle's unrolled Lloyd rounds) */
  private def prRoundsSql: String =
    (1 to Iters).map { k =>
      s"""r$k AS (
         |  SELECT nd.node,
         |    CAST(${15L * Scale} // (100 * (SELECT count(*) FROM nodes))
         |         + coalesce(s.c, 0) AS BIGINT) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node,
         |           SUM((85 * r.rank * e.n) // (100 * e.w)) AS c
         |    FROM ew e JOIN r${k - 1} r ON r.node = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")

  /** the p1..pIters personalized rounds: identical contribution term,
    * restart mass lands only on seed nodes (LEFT JOIN seeds flag) */
  private def pprRoundsSql: String =
    (1 to Iters).map { k =>
      s"""p$k AS (
         |  SELECT nd.node,
         |    CAST(CASE WHEN sd.node IS NOT NULL
         |         THEN ${15L * Scale} // (100 * (SELECT count(*) FROM seeds))
         |         ELSE 0 END + coalesce(s.c, 0) AS BIGINT) AS rank
         |  FROM nodes nd LEFT JOIN seeds sd ON sd.node = nd.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |           SUM((85 * r.rank * e.n) // (100 * e.w)) AS c
         |    FROM ew e JOIN p${k - 1} r ON r.node = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")

  /** memoized per (session, sfDir): the distinct co-purchase edge list —
    * the lineitem self-join + distinct every non-pagerank graph query
    * consumes. Like the dedup family's shingle cache, this is the ONE
    * materialization the graph family amortizes (deliberately NOT
    * CacheTracker-released per query; Verify's periodic clearCache and
    * session teardown reclaim it). */
  private val edgeCache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]

  private def coPurchaseEdges(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    edgeCache.getOrElseUpdate((spark, sfDir), {
      val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
      val ue = li.as("l1").join(li.as("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_partkey") < col("l2.l_partkey"))
        .select(col("l1.l_partkey").as("u"), col("l2.l_partkey").as("v"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ue.count() // materialize eagerly so every consumer reads the cache
      ue
    })

  /** the WEIGHTED co-purchase pairs — (u, v, w = co-order multiplicity) —
    * memoized like [[coPurchaseEdges]]: graph_kcore (threshold scalar +
    * filtered edges) and graph_link_predict both start from this exact
    * frame, and the lineitem self-join + 1.2M-group hash agg is the
    * expensive half of each. One narrow row per pair (~30 MB at sf0.1),
    * deliberately session-lived like the ACL family cache. */
  private val weightedEdgeCache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]

  private def weightedCoPurchase(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    weightedEdgeCache.getOrElseUpdate((spark, sfDir), {
      val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
      val uw = li.as("l1").join(li.as("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_partkey") < col("l2.l_partkey"))
        .groupBy(col("l1.l_partkey").as("u"), col("l2.l_partkey").as("v"))
        .agg(count(lit(1)).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      uw.count()
      uw
    })

  /** Spark twin of [[transitionGraphCte]]'s edge list: session-bounded
    * (src, dst, n) event-type transitions */
  private def transitionEdges(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_type", "event_id")
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("src", lag("event_type", 1).over(w))
      .withColumn("prev_us", lag("us", 1).over(w))
      .filter(col("src").isNotNull && col("us") - col("prev_us") < EventOps.GapUs)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
  }

  val queries: Seq[GraftQuery] = Seq(

    // Degree-distribution histogram of the co-purchase graph — the probe
    // a graph pipeline runs BEFORE choosing propagation parameters
    // (orientation thresholds, round counts, skew salts): how many nodes
    // of each degree exist. One aggregation pair on top of the shared
    // edge build; output is bounded by the number of DISTINCT degrees
    // (≪ nodes on any power-law-ish graph), so nothing corpus-sized
    // leaves the cluster.
    GraftQuery("graph_degree_stats",
      """WITH ue AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
        |            FROM lineitem l1 JOIN lineitem l2
        |              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |            GROUP BY 1, 2),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT u AS node FROM ue UNION ALL SELECT v FROM ue) t
        |  GROUP BY node)
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin) { (spark, sfDir) =>
      val ue = coPurchaseEdges(spark, sfDir)
      ue.select(col("u").as("node"))
        .unionByName(ue.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },

    GraftQuery("graph_pagerank",
      s"""WITH $transitionGraphCte,
         |r0 AS (SELECT node,
         |  CAST($Scale // (SELECT count(*) FROM nodes) AS BIGINT) AS rank FROM nodes),
         |$prRoundsSql
         |SELECT node, rank AS rank_ppb FROM r$Iters
         |ORDER BY rank_ppb DESC, node""".stripMargin) { (spark, sfDir) =>
      GraphOps.pageRank(transitionEdges(spark, sfDir), Iters, Scale)
        .select(col("node"), col("rank").as("rank_ppb"))
        .orderBy(col("rank_ppb").desc, col("node"))
    },

    // Personalized PageRank restarted at the purchase node: rank every
    // event type by its proximity to conversion in the session-transition
    // random walk — the "what leads here" relevance kernel a funnel /
    // crawl-prioritization pipeline runs with the target as seed set.
    // Same integer-exact power iteration as graph_pagerank
    // (GraphOps.personalizedPageRank); only the restart vector changes,
    // and the oracle replays it with a LEFT JOIN seed flag per round.
    GraftQuery("graph_ppr",
      s"""WITH $transitionGraphCte,
         |seeds AS (SELECT '$PprSeed' AS node),
         |p0 AS (SELECT nd.node,
         |  CAST(CASE WHEN sd.node IS NOT NULL
         |       THEN $Scale // (SELECT count(*) FROM seeds) ELSE 0 END AS BIGINT) AS rank
         |  FROM nodes nd LEFT JOIN seeds sd ON sd.node = nd.node),
         |$pprRoundsSql
         |SELECT node, rank AS rank_ppb FROM p$Iters
         |ORDER BY rank_ppb DESC, node""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      val edges = transitionEdges(spark, sfDir)
      GraphOps.personalizedPageRank(edges, Seq(PprSeed).toDF("node"), Iters, Scale)
        .select(col("node"), col("rank").as("rank_ppb"))
        .orderBy(col("rank_ppb").desc, col("node"))
    },

    // Exact per-node triangle counts over the part co-purchase graph
    // (parts sharing an order = an undirected edge) — the community-density
    // signal a recommender / taxonomy pipeline derives before clustering.
    // Edge build is a self-join co-partitioned on l_orderkey with per-order
    // fan-out bounded by order size; enumeration runs the degree-ordered
    // orientation in GraphOps.triangles (wedge fan-out O(m^1.5) on ANY
    // degree distribution), while the oracle replays the same triangle set
    // with the textbook id-ordered 3-way join — the set is orientation-
    // independent, so hash equality proves the skew-safe plan correct.
    GraftQuery("graph_triangles",
      """WITH ue AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
        |            FROM lineitem l1 JOIN lineitem l2
        |              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |            GROUP BY 1, 2),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM ue e1 JOIN ue e2 ON e2.u = e1.v
        |             JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pern AS (SELECT node, count(*) AS tri FROM (
        |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) t
        |  GROUP BY node)
        |SELECT node, CAST(tri AS BIGINT) AS n_triangles
        |FROM pern ORDER BY node""".stripMargin,
      bench = true) { (spark, sfDir) =>
      // the self-join + distinct is the heaviest subtree of the query and
      // orientByDegree consumes it three times — the memoized family edge
      // cache serves all of them (and every other graph query)
      val ue = coPurchaseEdges(spark, sfDir)
      GraphOps.triangles(ue)
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy("node")
    },

    // BFS hop levels from the minimum part id over the same co-purchase
    // graph — the reachability/radius probe a graph pipeline runs before
    // choosing propagation depths. Engine: one join + anti-join per level
    // (GraphOps.bfsLevels, O(1) plan per round); oracle: the same frontier
    // expansion unrolled as chained CTEs (aggregation-free, so plain
    // NOT IN set subtraction replays the anti-join exactly).
    GraftQuery("graph_bfs_levels",
      s"""WITH ue AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
         |            FROM lineitem l1 JOIN lineitem l2
         |              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
         |            GROUP BY 1, 2),
         |e AS (SELECT u AS a, v AS b FROM ue UNION ALL SELECT v, u FROM ue),
         |l0 AS (SELECT (SELECT min(u) FROM ue) AS node),
         |v0 AS (SELECT node FROM l0),
         |$bfsRoundsSql
         |SELECT node, level FROM (
         |  SELECT node, CAST(0 AS BIGINT) AS level FROM l0
         |  ${(1 to BfsDepth).map(d =>
              s"UNION ALL SELECT node, CAST($d AS BIGINT) FROM l$d").mkString("\n  ")})
         |ORDER BY level, node""".stripMargin) { (spark, sfDir) =>
      val ue = coPurchaseEdges(spark, sfDir)
      val src = ue.agg(min(col("u"))).first().getLong(0)
      GraphOps.bfsLevels(ue, src, BfsDepth).orderBy("level", "node")
    },

    // Label-propagation community detection over the same co-purchase
    // graph — the community-bucketing step before per-community sampling
    // or taxonomy review. Deterministic synchronous LPA (fixed rounds,
    // argmax by neighbor-label count with min-label tiebreak —
    // GraphOps.labelPropagation); the oracle unrolls the rounds as CTEs,
    // resolving the same argmax with one row_number window per round so
    // every CTE references its predecessor exactly once (the DuckDB
    // CTE-inlining rule the PCA oracle documents).
    GraftQuery("graph_communities",
      s"""WITH ue AS (SELECT l1.l_partkey AS u, l2.l_partkey AS v
         |            FROM lineitem l1 JOIN lineitem l2
         |              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
         |            GROUP BY 1, 2),
         |be AS (SELECT u AS src, v AS dst FROM ue UNION ALL SELECT v, u FROM ue),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM be),
         |$lpaRoundsSql
         |SELECT node, lbl AS community FROM l$LpaRounds ORDER BY node""".stripMargin) {
      (spark, sfDir) =>
      // label propagation probes the edge list every round — served by
      // the memoized family edge cache
      val ue = coPurchaseEdges(spark, sfDir)
      GraphOps.labelPropagation(ue, LpaRounds).orderBy("node")
    },

    // k-core decomposition of the weighted co-purchase graph: the
    // cohesive-subgraph extractor a graph pipeline runs to find the
    // stable "backbone" (spam/noise nodes peel off; the K-core is the
    // maximal subgraph where everyone keeps ≥ K in-core neighbors).
    // Engine: GraphOps.kCore — synchronized peel, two semi-joins + one
    // hash agg per round, localCheckpoint lineage hygiene, exact-fixpoint
    // early exit. Oracle: the same peel unrolled as d/v CTE pairs; the
    // engine's early exit and the oracle's fixed rounds agree because
    // post-fixpoint rounds are idempotent. At 100 TB nodes/edges shuffle
    // by endpoint each round — the state is one node column, never the
    // corpus.
    GraftQuery("graph_kcore",
      s"""WITH uw AS MATERIALIZED (SELECT l1.l_partkey AS u, l2.l_partkey AS v,
         |              CAST(count(*) AS BIGINT) AS w
         |            FROM lineitem l1 JOIN lineitem l2
         |              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
         |            GROUP BY 1, 2),
         |thr AS (SELECT CASE WHEN 100 * count(*) FILTER (WHERE w >= 2) >= count(*)
         |               THEN 2 ELSE 1 END AS t FROM uw),
         |ue AS (SELECT u, v FROM uw WHERE w >= (SELECT t FROM thr)),
         |e AS MATERIALIZED (SELECT u AS a, v AS b FROM ue UNION ALL SELECT v, u FROM ue),
         |v0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM e),
         |$kcoreRoundsSql,
         |df AS (SELECT e.a AS node, CAST(count(*) AS BIGINT) AS core_degree FROM e
         |  JOIN v$KCoreRounds s1 ON s1.node = e.a
         |  JOIN v$KCoreRounds s2 ON s2.node = e.b
         |  GROUP BY e.a)
         |SELECT node, core_degree FROM df ORDER BY node""".stripMargin,
      bench = true) { (spark, sfDir) =>
      // consumed twice (threshold scalar + filtered edge list) and probed
      // by the peel every round — served by the memoized weighted family
      // cache (shared with link prediction)
      val uw = weightedCoPurchase(spark, sfDir)
      // DATA-derived weight threshold (a bounded 2-cell aggregate, not a
      // constant): keep the repeat-co-purchase backbone (w >= 2) only
      // while repeat pairs are >= 1% of all pairs. Pair density falls as
      // the catalog widens (P[two orders share a pair] ~ 1/parts²), so a
      // fixed MinW=2 that peels a 1055-node core at sf0.01 leaves an
      // EMPTY graph at sf0.1 — the benched peel was measuring convergence
      // to nothing. Below the 1% line the raw co-purchase graph IS the
      // backbone (measured: repeat share 27.6% / 3.1% / 0.32% at
      // sf0.001/0.01/0.1) and the peel runs on it. Integer-exact on both
      // sides: 100·n₂ ≥ n, no division.
      val cnt = uw.agg(count(lit(1)).as("n"),
        sum(when(col("w") >= 2, 1L).otherwise(0L)).as("n2")).first()
      val thr = if (100L * cnt.getLong(1) >= cnt.getLong(0)) 2L else 1L
      val ue = uw.filter(col("w") >= thr).select("u", "v")
      GraphOps.kCore(ue, KCoreK, KCoreRounds).orderBy("node")
    },

    // Link prediction over the weighted co-purchase graph: rank
    // NON-adjacent part pairs by how strongly their shared neighborhoods
    // predict a future edge — the "customers also bought" candidate
    // generator a recommender derives from co-occurrence before any
    // model training. Common-neighbor count plus the integer-exact
    // log2-scaled Adamic–Adar score (GraphOps.linkPredict); the oracle
    // replays the identical wedge→agg→anti-join dataflow, so the hash
    // pins both the candidate set and the exact scores. Top-LinkTop by
    // (score, pair) keeps the output bounded no matter the corpus size.
    GraftQuery("graph_link_predict",
      s"""WITH ue AS MATERIALIZED (SELECT l1.l_partkey AS u, l2.l_partkey AS v
         |            FROM lineitem l1 JOIN lineitem l2
         |              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
         |            GROUP BY 1, 2 HAVING count(*) >= $KCoreMinW),
         |e AS MATERIALIZED (SELECT u AS a, v AS b FROM ue UNION ALL SELECT v, u FROM ue),
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
         |ed AS (SELECT e.a, e.b, 1000000 // length(bin(deg.d)) AS c
         |       FROM e JOIN deg ON deg.a = e.a),
         |cand AS (SELECT e1.b AS x, e2.b AS y, CAST(count(*) AS BIGINT) AS cn,
         |                CAST(sum(e1.c) AS BIGINT) AS aa_ppm
         |         FROM ed e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
         |         GROUP BY 1, 2)
         |SELECT x, y, cn, aa_ppm FROM cand c
         |WHERE NOT EXISTS (SELECT 1 FROM ue WHERE ue.u = c.x AND ue.v = c.y)
         |ORDER BY aa_ppm DESC, x, y LIMIT $LinkTop""".stripMargin) { (spark, sfDir) =>
      val ue = weightedCoPurchase(spark, sfDir)
        .filter(col("w") >= KCoreMinW)
        .select("u", "v")
      GraphOps.linkPredict(ue)
        .orderBy(col("aa_ppm").desc, col("x"), col("y")).limit(LinkTop)
    },

    // Item-item collaborative filtering (the classic Amazon-style
    // recommender, Linden et al. 2003): for every part, the RecTop most
    // cosine-similar parts by order co-occurrence. cooc(u,v) = orders
    // containing both, n(u) = orders containing u, and the score is
    // integer-exact squared cosine in ppm, divided stage-wise —
    // ((cooc·1e6) DIV n_u · cooc) DIV n_v — so the intermediate stays
    // ≤ 1e6·cooc (overflow at cooc ≈ 9.2e12 co-orders, beyond any real
    // catalog; same divide-before-multiply discipline as the lift fix).
    // Scale shape: one distinct-pair projection of the fact table feeds
    // both the per-item counts and the co-occurrence self-join (persisted
    // once); the join fan-out is bounded by basket size (≤ 7 lines/order
    // here — a real pipeline caps baskets the same way the dedup family
    // df-caps shingles); the per-item top-RecTop goes through the
    // rank-limit pattern, which RewriteRankLimit lowers to the bounded-heap
    // TopKPerKeyExec — no per-item sort anywhere.
    GraftQuery("rec_item_item",
      s"""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |n AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         |co AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
         |              CAST(count(*) AS BIGINT) AS cooc
         |       FROM d a JOIN d b ON b.l_orderkey = a.l_orderkey
         |         AND a.l_partkey <> b.l_partkey
         |       GROUP BY 1, 2),
         |s AS (SELECT co.u, co.v, co.cooc,
         |        CAST(((co.cooc * 1000000) // nu.n) * co.cooc // nv.n AS BIGINT) AS score_ppm
         |      FROM co JOIN n nu ON nu.l_partkey = co.u
         |              JOIN n nv ON nv.l_partkey = co.v),
         |r AS (SELECT u, v, cooc, score_ppm,
         |        row_number() OVER (PARTITION BY u
         |          ORDER BY score_ppm DESC, v) AS rnk FROM s)
         |SELECT u AS item, CAST(rnk AS BIGINT) AS rnk, v AS neighbor, cooc, score_ppm
         |FROM r WHERE rnk <= $RecTop ORDER BY item, rnk""".stripMargin,
      bench = true) { (spark, sfDir) =>
      // The basket cache is hash-partitioned by the JOIN key before the
      // distinct (guide §2.4, the kCore/merge-upsert layout): one raw-row
      // exchange up front, after which the distinct's final aggregation
      // (grouping (l_orderkey, l_partkey) ⊇ partitioning key) needs no
      // second exchange and the co-occurrence self-join sees both sides
      // co-partitioned.
      val d = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_partkey")
        .repartition(col("l_orderkey"))
        .distinct()
        .transform(graft.CacheTracker.persist)
      val n = d.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      // The wedge stream is re-keyed by u BEFORE the pair aggregation so
      // ONE exchange serves the aggregation (grouping (u, v) ⊇ u), the
      // per-item TopKPerKey and the rank window (both keyed u) — the
      // plan previously exchanged the aggregated pairs on (u, v) and then
      // AGAIN on u for the top-k probe (guide §2.4 "two operations keyed
      // the same way can share one exchange"). Skew note: the per-u wedge
      // load is bounded by n(u) × basket size, the same bound the window
      // exchange on u already carried.
      val co = d.as("a").join(d.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .repartition(col("a.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("cooc"))
      val s = co
        .join(n.select(col("l_partkey").as("u"), col("n").as("nu")), "u")
        .join(n.select(col("l_partkey").as("v"), col("n").as("nv")), "v")
        .selectExpr("u", "v", "cooc",
          "((cooc * 1000000) DIV nu) * cooc DIV nv AS score_ppm")
      val w = Window.partitionBy("u").orderBy(col("score_ppm").desc, col("v"))
      s.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= RecTop)
        .select(col("u").as("item"), col("rnk").cast("long").as("rnk"),
          col("v").as("neighbor"), col("cooc"), col("score_ppm"))
        .orderBy("item", "rnk")
    },

    // Degree assortativity (Newman 2002) of the co-purchase graph: the
    // Pearson correlation of endpoint degrees over the directed edge list
    // (each undirected edge counted both ways — the standard convention,
    // which also makes sx ≡ sy and sxx ≡ syy so only three sums ship).
    // Negative r = hub-and-spoke (hubs link to leaves), positive r = rich-
    // club. This is the one-number diagnostic read BEFORE trusting
    // degree-based thresholds elsewhere in the family (orientation cutoffs,
    // link-predict hub gates). Consumes the memoized edge cache; two hash
    // aggs + one join, exact integer moments, r rounded to 6 places
    // identically in both engines. Overflow bound: Σd² over directed edges
    // ≤ m·d_max² — safe past 1e9 edges at d_max 1e4 (document-scale hubs).
    GraftQuery("graph_assortativity",
      """WITH ue AS MATERIALIZED (SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |      FROM lineitem l1 JOIN lineitem l2
        |        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        |e AS MATERIALIZED (SELECT u AS a, v AS b FROM ue UNION ALL SELECT v, u FROM ue),
        |deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
        |p AS (SELECT da.d AS x, db.d AS y
        |      FROM e JOIN deg da ON da.a = e.a JOIN deg db ON db.a = e.b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM p)
        |SELECT n AS n_dedges, sx, sxx, sxy,
        |       round((n * sxy - sx * sx) / (n * sxx - sx * sx) * 1.0, 6) AS r6
        |FROM m""".stripMargin) { (spark, sfDir) =>
      val ue = coPurchaseEdges(spark, sfDir)
      val e = ue.select(col("u").as("a"), col("v").as("b"))
        .unionByName(ue.select(col("v").as("a"), col("u").as("b")))
      val deg = e.groupBy("a").agg(count(lit(1)).as("d"))
      e.join(deg.select(col("a"), col("d").as("x")), Seq("a"))
        .join(deg.select(col("a").as("b"), col("d").as("y")), Seq("b"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(col("n").as("n_dedges"), col("sx"), col("sxx"), col("sxy"),
          round((col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("r6"))
    },

    // Most-probable path costs from 'signup' (min-plus shortest path on
    // SURPRISAL weights): edge cost w(u,v) = round(1000·log2(outW(u)/n_uv))
    // — the milli-bits of surprise of taking that transition — so the
    // min-plus distance IS −log2 of the most probable walk, and argmin
    // paths are the likeliest conversion routes (the funnel-mining read
    // events_top_paths approximates by frequency). Six Bellman-Ford
    // rounds (≥ any diameter of the type alphabet), each one join + min
    // aggregation over the bounded edge frame, unrolled in the oracle
    // exactly like the pagerank rounds. Costs are per-row-deterministic
    // integers; unreachable nodes stay at the INF sentinel and are
    // filtered, not emitted.
    GraftQuery("graph_best_path",
      s"""WITH $transitionGraphCte,
         |wt AS MATERIALIZED (SELECT src, dst,
         |        CAST(round(1000 * log2(CAST(w AS DOUBLE) / n)) AS BIGINT) AS c
         |      FROM ew),
         |d0 AS (SELECT node, CASE WHEN node = '$PathSeed' THEN CAST(0 AS BIGINT)
         |         ELSE CAST($PathInf AS BIGINT) END AS dist FROM nodes),
         |${(1 to 6).map(k =>
           s"""d$k AS (SELECT nd.node,
              |  least(nd.dist, coalesce(m.best, $PathInf)) AS dist
              |  FROM d${k - 1} nd LEFT JOIN (
              |    SELECT wt.dst AS node, min(p.dist + wt.c) AS best
              |    FROM d${k - 1} p JOIN wt ON wt.src = p.node
              |    WHERE p.dist < $PathInf GROUP BY wt.dst) m ON m.node = nd.node)"""
             .stripMargin).mkString(",\n")}
         |SELECT node, dist AS cost_milli FROM d6 WHERE dist < $PathInf
         |ORDER BY node""".stripMargin) { (spark, sfDir) =>
      val ew = transitionEdges(spark, sfDir)
      val wt = ew.join(ew.groupBy("src").agg(sum("n").as("w")), "src")
        .select(col("src"), col("dst"),
          round(lit(1000) * log2(col("w").cast("double") / col("n"))).cast("long")
            .as("c"))
        .transform(graft.CacheTracker.persist)
      val nodes = wt.select(col("src").as("node"))
        .unionByName(wt.select(col("dst").as("node"))).distinct()
        .transform(graft.CacheTracker.persist)
      var dist = nodes.select(col("node"),
          when(col("node") === PathSeed, 0L).otherwise(PathInf).as("dist"))
        .localCheckpoint()
      (1 to 6).foreach { _ =>
        val relaxed = dist.filter(col("dist") < PathInf)
          .join(wt, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + col("c")).as("cand"))
          .groupBy("node").agg(min("cand").as("best"))
        val next = dist.join(relaxed, Seq("node"), "left")
          .select(col("node"),
            least(col("dist"), coalesce(col("best"), lit(PathInf))).as("dist"))
          .localCheckpoint()
        graft.CacheTracker.checkpointRdds(dist).foreach(_.unpersist(false))
        dist = next
      }
      graft.CacheTracker.trackCheckpointed(dist)
      dist.filter(col("dist") < PathInf)
        .select(col("node"), col("dist").as("cost_milli"))
        .orderBy("node")
    },

    // Reciprocity of the session-transition digraph — how much of the
    // flow runs both ways (weighted: Σ min(n_uv, n_vu) over Σ n, counting
    // unreciprocated edges as min 0; plus the unweighted edge-pair share).
    // THE one-number probe of whether a directed model (PPR, funnels) is
    // even warranted: reciprocity ≈ 1 means the digraph is effectively
    // undirected. One self-join on the bounded (types²) edge frame.
    GraftQuery("graph_reciprocity",
      s"""WITH eb AS (SELECT event_id, user_id, event_type,
         |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |l AS (SELECT user_id, event_type, us,
         |        lag(event_type) OVER (PARTITION BY user_id
         |          ORDER BY us, event_type, event_id) AS src,
         |        lag(us) OVER (PARTITION BY user_id
         |          ORDER BY us, event_type, event_id) AS prev_us
         |      FROM eb),
         |ed AS (SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
         |       FROM l WHERE src IS NOT NULL AND us - prev_us < ${EventOps.GapUs}
         |         AND src <> event_type
         |       GROUP BY src, event_type),
         |j AS (SELECT a.src, a.dst, a.n,
         |        coalesce(b.n, 0) AS rev_n
         |      FROM ed a LEFT JOIN ed b ON b.src = a.dst AND b.dst = a.src)
         |SELECT CAST(count(*) AS BIGINT) AS n_edges,
         |       CAST(sum(CASE WHEN rev_n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_recip,
         |       CAST(sum(n) AS BIGINT) AS w_total,
         |       CAST(sum(least(n, rev_n)) AS BIGINT) AS w_recip,
         |       CAST(sum(CASE WHEN rev_n > 0 THEN 1 ELSE 0 END) * 1000000
         |            // count(*) AS BIGINT) AS edge_recip_ppm,
         |       CAST(sum(least(n, rev_n)) * 1000000 // CAST(sum(n) AS BIGINT) AS BIGINT)
         |         AS weight_recip_ppm
         |FROM j""".stripMargin) { (spark, sfDir) =>
      val ed = transitionEdges(spark, sfDir)
        .filter(col("src") =!= col("dst"))
      val j = ed.alias("a").join(
          ed.select(col("src").as("rs"), col("dst").as("rd"), col("n").as("rev_n")),
          col("rs") === col("a.dst") && col("rd") === col("a.src"), "left")
        .select(col("a.n").as("n"), coalesce(col("rev_n"), lit(0L)).as("rev_n"))
      j.agg(count(lit(1)).as("n_edges"),
          sum(when(col("rev_n") > 0, 1L).otherwise(0L)).as("n_recip"),
          sum("n").as("w_total"), sum(least(col("n"), col("rev_n"))).as("w_recip"))
        .selectExpr("n_edges", "n_recip", "w_total", "w_recip",
          "n_recip * 1000000 DIV n_edges AS edge_recip_ppm",
          "w_recip * 1000000 DIV w_total AS weight_recip_ppm")
    })

  /** LPA rounds as chained CTEs: gather per-(node, label) neighbor counts,
    * then per-node argmax (count desc, label asc) via one window */
  private def lpaRoundsSql: String =
    (1 to LpaRounds).map { t =>
      s"""g$t AS (SELECT e.dst AS node, l.lbl, count(*) AS c
         |  FROM be e JOIN l${t - 1} l ON l.node = e.src GROUP BY 1, 2),
         |l$t AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM g$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** frontier rounds 1..BfsDepth as chained CTEs: l_d = distinct neighbors
    * of l_{d-1} minus everything visited; v_d = v_{d-1} ∪ l_d */
  private def bfsRoundsSql: String =
    (1 to BfsDepth).map { d =>
      s"""l$d AS (SELECT DISTINCT e.b AS node FROM e JOIN l${d - 1} ON e.a = l${d - 1}.node
         |  WHERE e.b NOT IN (SELECT node FROM v${d - 1})),
         |v$d AS (SELECT node FROM v${d - 1} UNION SELECT node FROM l$d)""".stripMargin
    }.mkString(",\n")
}
