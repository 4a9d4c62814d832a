package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected pair list via
  * iterative min-label propagation — each round is one distributed join,
  * rounds bounded by component diameter (tiny for near-dup graphs; a
  * diameter > maxIters component fails LOUDLY rather than emitting wrong
  * clusters). Shared by the text (dedup_clusters) and embedding
  * (sim_dup_clusters) duplicate-clustering operators; the oracle twin is a
  * recursive-CTE transitive closure.
  */
object GraphOps {

  /** label every vertex of the (a, b) pair graph with the minimum vertex id
    * of its component; returns (id, cluster) for every vertex that appears
    * in at least one pair */
  /** pair-count ceiling for the driver union-find fast path. The driver
    * never holds an edge ARRAY at all — pairs stream through
    * `toLocalIterator` (one partition resident at a time) straight into
    * the union-find — so the transient footprint is one partition of Rows
    * plus the parent map. The map is the real budget: a HashMap[Long,Long]
    * over ≤ 2·pairs vertices costs ~50 B/entry boxed, ≈ 400 MB at the cap
    * — bounded and NOT corpus-proportional, but a default-1g driver should
    * lower the cap (above it the distributed loop runs; near-dup pair
    * graphs at real scale are exactly when you want that loop). The cap
    * is a runtime conf so a small-driver deployment can lower it — and so
    * tests can force the distributed loop (set 0) on graphs of any size;
    * without that knob the loop would be dead code at test scale. */
  private val DriverCcPairCap = 4000000L

  /** conf key overriding [[DriverCcPairCap]] */
  private[graft] val CcPairCapKey = "spark.graft.cc.driverPairCap"

  /** canonical pairs streamed through the driver fast path by the last
    * [[connectedComponents]] call — the spec observable pinning that the
    * driver sees each undirected pair ONCE (never the doubled edge list).
    * Test hook only; local mode. */
  private[graft] val driverCcPairsSeen = new java.util.concurrent.atomic.AtomicLong(0L)

  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (possibly expensive) pair pipeline in isolation NOW:
    // every loop iteration then plans against the tiny cached edge list
    // instead of interleaving its jobs with the upstream's memory peak
    val directedCount = edges.count()
    // FAST PATH, byte-gated: the distributed loop pays ~(diameter) rounds
    // of join+checkpoint fixed cost, which DOMINATES when the pair graph
    // is small (measured: pipeline_corpus_prep's τ=0.8 graph at sf0.1 is
    // a few hundred pairs under a multi-second loop). Below the cap —
    // and only for long ids, so the returned schema matches the loop's —
    // stream the CANONICAL pairs (a <= b picks one direction of each
    // doubled edge; union-find needs each pair once, and a self-loop
    // surviving twice is harmless) through toLocalIterator into a driver
    // union-find with min-label roots: identical output contract (every
    // vertex labeled with its component's min id), zero rounds, and the
    // driver never materializes an edge array — one partition of Rows at
    // a time feeds the streaming union. The result is a LocalRelation,
    // so downstream joins see a broadcastable side for free.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val pairCap = pairs.sparkSession.conf.getOption(CcPairCapKey)
      .map(_.toLong).getOrElse(DriverCcPairCap)
    if (longIds && directedCount <= 2L * pairCap) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      driverCcPairsSeen.set(0L)
      // toLocalIterator runs one job per partition; coalesce so a tiny
      // pair graph (the common fast-path case) streams in ONE job instead
      // of shuffle-partition-count jobs (~0.5 s of pure job overhead
      // measured on pipeline_corpus_prep), while a near-cap graph still
      // arrives in ≤1M-pair slices — one slice of Rows resident at a time
      val nSlices = math.max(1L, directedCount / 2000000L).toInt
      val it = edges.filter(col("a") <= col("b")).coalesce(nSlices).toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        driverCcPairsSeen.incrementAndGet()
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(ra) = rb
      }
      edges.unpersist(blocking = false)
      val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
      parent.keysIterator.foreach { v =>
        val r = find(v)
        minOf(r) = math.min(minOf.getOrElse(r, v), v)
      }
      return parent.keysIterator.map(v => (v, minOf(find(v)))).toSeq
        .toDF("id", "cluster")
    }
    // Each round MUST truncate lineage (localCheckpoint), not merely
    // persist: a persisted frame still carries its full logical plan, so
    // labels_n would embed labels_{n-1} twice (union + join) and the plan
    // doubles per round — at the ~15-round diameters real near-dup graphs
    // have, Catalyst re-analyzes a 2^15-node tree and the driver melts
    // (observed: 59 CPU-minutes stuck planning at sf0.1). The eager local
    // checkpoint pins each round's labels as materialized blocks with an
    // O(1) plan; superseded rounds' blocks are reclaimed by the context
    // cleaner once unreferenced.
    var labels = edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaNeighbors = labels
        .join(edges, labels("id") === edges("a"))
        .select(col("b").as("id"), col("lbl"))
      val next = labels.unionByName(viaNeighbors)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint()
      val changed = next.alias("n")
        .join(labels.alias("o"), col("n.id") === col("o.id"))
        .filter(col("n.lbl") =!= col("o.lbl")).count()
      // the superseded round is dead the moment `changed` is counted;
      // free its blocks NOW instead of waiting for the context cleaner's
      // periodic driver GC (30 min default) — each round is O(vertices),
      // so letting ~15 live rounds stack in executor storage is a real
      // memory tax at corpus scale
      graft.CacheTracker.checkpointRdds(labels).foreach(_.unpersist(false))
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: label propagation did not converge in $maxIters rounds")
    // edges are no longer referenced by the returned plan (labels is a
    // checkpointed frame with O(1) lineage); the final labels frame is
    // handed to CacheTracker so the harness's per-query releaseAll frees
    // its checkpoint blocks too — DataFrame.unpersist alone cannot
    edges.unpersist(blocking = false)
    graft.CacheTracker.trackCheckpointed(labels)
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** Synchronous label-propagation community detection over an undirected
    * canonical (u, v) pair list — the modularity-free community algorithm
    * (Raghavan et al. 2007) a corpus pipeline runs to bucket a co-
    * occurrence graph before per-community sampling. Deterministic
    * variant: a FIXED number of synchronous rounds (an oracle-able pure
    * function — classic LPA's random order/asynchrony is irreproducible),
    * each node adopting the label with the highest neighbor count, ties
    * to the SMALLEST label. Initial label = own id; isolated nodes don't
    * occur (every node comes from an edge).
    *
    * Scale shape: each round is one co-partitioned join of the label
    * frame against the bidirectional edge list plus three hash
    * aggregations (gather counts, per-node max, min-label tiebreak) — no
    * sorts, no windows; rounds localCheckpoint with eager release exactly
    * like [[pageRank]]. Returns (node, community) after `rounds`. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bi = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
      .persist(mad)
    bi.count()
    var labels = bi.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    (1 to rounds).foreach { _ =>
      // argmax (count desc, label asc) in ONE aggregation: max over
      // (c, −lbl) struct pairs — lexicographic struct ordering makes the
      // tie resolve to the minimum label, replacing the former
      // max + tiebreak-join form (3 shuffles + a per-round persist → 2
      // hash aggs, the second partial-aggregated, nothing persisted)
      val next = bi.join(labels, col("node") === col("src"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy("dst").agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
        .localCheckpoint()
      graft.CacheTracker.checkpointRdds(labels).foreach(_.unpersist(false))
      labels = next
    }
    bi.unpersist(blocking = false)
    graft.CacheTracker.trackCheckpointed(labels)
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Integer-exact PageRank over a weighted digraph (src, dst, n) — the
    * crawl-prioritization / domain-authority ranking a web-corpus pipeline
    * runs before sampling. Fixed `iters` rounds of the power iteration with
    * damping 85/100, all arithmetic in scaled longs with per-edge floor
    * division, so the result is bit-identical to the oracle's unrolled-CTE
    * replay on any engine:
    *
    *   r_0(v)  = scale DIV |V|
    *   r_t(v)  = (15·scale) DIV (100·|V|)
    *           + Σ_{(u,v)} (85 · r_{t-1}(u) · n(u,v)) DIV (100 · outW(u))
    *
    * Dangling mass (sinks) evaporates rather than redistributing — the
    * deterministic variant; ranks need not sum to `scale`. Each round is
    * one co-partitioned join + hash agg over the edge list; like
    * connectedComponents, rounds `localCheckpoint` so the plan stays O(1)
    * and superseded rounds' blocks are freed eagerly. Only |V| (a count)
    * reaches the driver. Overflow bound: 85·rank·n needs rank·n < 1.1e17 —
    * with scale=1e9 that allows per-edge weights to 1e8, and the scale
    * knob trades headroom for precision beyond that. */
  def pageRank(edges: DataFrame, iters: Int = 10, scale: Long = 1000000000L): DataFrame = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("src"), col("dst"), col("n")).persist(mad)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().persist(mad)
    val nv = nodes.count()
    require(nv > 0, "pageRank: empty graph")
    // out-weight travels with each edge: one small self-join up front so
    // the per-round job is a single join against a ready edge list
    val ew = e.join(e.groupBy("src").agg(sum("n").as("w")), "src")
      .select(col("src"), col("dst"), col("n"), col("w")).persist(mad)
    ew.count()
    e.unpersist(blocking = false)
    val base = (15L * scale) / (100L * nv)
    var r = nodes.select(col("node"), lit(scale / nv).as("rank")).localCheckpoint()
    (1 to iters).foreach { _ =>
      val contrib = ew.join(r, col("node") === col("src"))
        .select(col("dst"), expr("(85 * rank * n) DIV (100 * w)").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      val next = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"), (lit(base) + coalesce(col("c"), lit(0L))).as("rank"))
        .localCheckpoint()
      graft.CacheTracker.checkpointRdds(r).foreach(_.unpersist(false))
      r = next
    }
    ew.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    graft.CacheTracker.trackCheckpointed(r)
    r
  }

  /** Personalized PageRank (random walk with restart — Jeh & Widom,
    * WWW 2003): [[pageRank]] with ALL teleport mass returning to `seeds`
    * instead of spreading uniformly, so rank measures proximity to the
    * seed set rather than global authority — the "related to these"
    * relevance kernel. Identical integer-exact arithmetic and per-round
    * plan (one co-partitioned join + hash agg over the prepared edge
    * list); the only change is the restart vector:
    *
    *   r_0(v)  = [v ∈ S] · (scale DIV |S|)
    *   r_t(v)  = [v ∈ S] · ((15·scale) DIV (100·|S|))
    *           + Σ_{(u,v)} (85 · r_{t-1}(u) · n(u,v)) DIV (100 · outW(u))
    *
    * `seeds` is a (node) frame; seeds not present in the graph are
    * ignored (they join away), matching the oracle's LEFT JOIN replay.
    * No broadcast hint on the seed join — a restart set is usually tiny
    * but may not be, and AQE picks the strategy from its actual size.
    * Overflow bound is [[pageRank]]'s. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 10,
      scale: Long = 1000000000L): DataFrame = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("src"), col("dst"), col("n")).persist(mad)
    val sd = seeds.select(col("node")).distinct()
    val ns = sd.count()
    require(ns > 0, "personalizedPageRank: empty seed set")
    // nodes carry their 0/1 seed flag for the whole run: one join up
    // front instead of one per round
    val nb = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .join(sd.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("s"))
      .persist(mad)
    nb.count()
    val ew = e.join(e.groupBy("src").agg(sum("n").as("w")), "src")
      .select(col("src"), col("dst"), col("n"), col("w")).persist(mad)
    ew.count()
    e.unpersist(blocking = false)
    val base = (15L * scale) / (100L * ns)
    var r = nb.select(col("node"), (col("s") * lit(scale / ns)).as("rank"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val contrib = ew.join(r, col("node") === col("src"))
        .select(col("dst"), expr("(85 * rank * n) DIV (100 * w)").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      val next = nb.join(contrib, nb("node") === contrib("dst"), "left")
        .select(nb("node"),
          (col("s") * lit(base) + coalesce(col("c"), lit(0L))).as("rank"))
        .localCheckpoint()
      graft.CacheTracker.checkpointRdds(r).foreach(_.unpersist(false))
      r = next
    }
    ew.unpersist(blocking = false)
    nb.unpersist(blocking = false)
    graft.CacheTracker.trackCheckpointed(r)
    r
  }

  /** Exact triangle enumeration over an undirected simple graph given as a
    * canonical (u, v) pair list (u < v, distinct). Returns one row per
    * triangle, members sorted ascending as (a, b, c).
    *
    * Execution uses DEGREE-ORDERED orientation + edge-centric adjacency
    * intersection: every edge is directed from its lower-(degree, id)
    * endpoint, each node's out-neighbors are collected once, and each
    * oriented edge (u, v) finds its triangles as N+(u) ∩ N+(v) — exactly
    * once per triangle, at the one edge whose endpoints both point at the
    * third node. Orientation caps every out-degree at O(√m) on any graph,
    * which bounds BOTH the total intersection work (Σ |N+(u)|+|N+(v)| =
    * O(m^1.5) worst case) and every collected adjacency array — the
    * classic fix for hub explosion (a celebrity node with degree d points
    * all its edges inward, so it neither centers wedges nor carries a
    * hub-sized array). The oracle enumerates the same triangle set with
    * the simple id-orientation 3-way join; the set is orientation-
    * independent, so hash equality holds while the engine runs the
    * skew-safe plan. Every exchange is m-row: the degree agg, the
    * adjacency agg, and the two decorate joins — the O(m^1.5) wedge set
    * is never materialized or shuffled (SCALING.md r11: 41M wedges at
    * sf0.1 cost 5.3 s through the former closure join, 2.2 s here). */
  /** the orientation step of [[triangles]], exposed for the skew spec:
    * each undirected (u, v) edge becomes (src, dst, ddst) directed from
    * its lower-(degree, id) endpoint, ddst = degree(dst) */
  /** edge-count ceiling under which the broadcast GATE is even considered
    * (a cheap pre-filter: above it, don't bother counting vertices). */
  private val BroadcastEdgeCap = 4000000L

  /** vertex-count ceiling for broadcasting the degree table. The gate is
    * on |V| measured, not the |V| ≤ 2|E| bound, because the broadcast
    * footprint is per-VERTEX: a HashedRelation costs ~50 B/entry (boxed
    * key + row + table slack), so 2M vertices ≈ 100 MB on the driver
    * (build) and on every executor — the realistic budget, sized against
    * HashedRelation overhead rather than raw payload bytes. */
  private val BroadcastVertexCap = 2000000L

  private[graft] def orientByDegree(ue: DataFrame): DataFrame =
    orientByDegree(ue, edgeCount = Long.MaxValue)

  private def orientByDegree(ue: DataFrame, edgeCount: Long): DataFrame = {
    val e0 = ue.select(col("u"), col("v"))
    val deg0 = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Below the caps the degree table rides broadcast hash joins and the
    // whole orientation is map-side over the cached edge list (zero extra
    // shuffles); above them, shuffle joins. The vertex count is measured
    // (one cheap agg over the caller-cached edge list, persisted so the
    // two orientation joins reuse the same blocks) — never inferred from
    // the 2|E| bound, which overshoots 4x on a dense graph.
    val deg = if (edgeCount <= BroadcastEdgeCap) {
      val d = deg0.transform(graft.CacheTracker.persist)
      if (d.count() <= BroadcastVertexCap) broadcast(d) else d
    } else deg0
    val withDeg = e0
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
  }

  /** Exact BFS hop levels from `src` over an undirected (u, v) pair list,
    * capped at `maxDepth`; returns (node, level) for every node reached
    * (level 0 = the source). Each level is one equi-join (frontier ×
    * edges) plus one anti-join against the visited set — no driver-side
    * traversal, frontier size bounded by the graph, rounds bounded by the
    * cap. Rounds `localCheckpoint` with eager release like the other
    * iterative ops, so the plan stays O(1) across levels. */
  def bfsLevels(ue: DataFrame, src: Long, maxDepth: Int): DataFrame = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = ue.select(col("u").as("a"), col("v").as("b"))
      .unionByName(ue.select(col("v").as("a"), col("u").as("b")))
      .persist(mad)
    edges.count()
    val spark = ue.sparkSession
    import spark.implicits._
    var visited = Seq((src, 0L)).toDF("node", "level").localCheckpoint()
    var frontier = visited.select("node")
    var depth = 1
    var exhausted = false
    while (depth <= maxDepth && !exhausted) {
      val newly = frontier.join(edges, frontier("node") === edges("a"))
        .select(col("b").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(depth.toLong).as("level"))
      val next = visited.unionByName(newly).localCheckpoint()
      exhausted = next.count() == visited.count()
      graft.CacheTracker.checkpointRdds(visited).foreach(_.unpersist(false))
      visited = next
      frontier = visited.filter(col("level") === depth.toLong).select("node")
      depth += 1
    }
    edges.unpersist(blocking = false)
    graft.CacheTracker.trackCheckpointed(visited)
    visited
  }

  /** Distributed k-core decomposition (synchronized peeling — Matula &
    * Beck 1983's algorithm in its bulk-parallel form): each round keeps
    * the nodes whose degree WITHIN the current survivor set is ≥ k, until
    * a fixpoint or `maxRounds`. Per round: two semi-joins (edge endpoints
    * vs survivors) + one hash aggregation — no driver-side graph, state
    * is one node column, lineage truncated per round via localCheckpoint
    * (the bfsLevels hygiene). Survivors only shrink, so equal counts ⇒
    * equal sets and the early exit is exact; post-fixpoint rounds are
    * idempotent, which is what lets a fixed-round oracle replay an
    * early-exiting engine. Returns (node, core_degree) — each surviving
    * node with its degree inside the final core. */
  def kCore(ue: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    // The edge cache is hash-partitioned by the aggregation key ONCE, so
    // every peel round's surviving-degree agg reuses the cache's
    // partitioning instead of re-shuffling the (filtered) edge list —
    // one m-row exchange up front buys zero edge exchanges per round.
    // (r12, guide §2.4: measured at sf0.1 the loop ran 2 sort-merge
    // semi-join shuffles + 1 agg shuffle of the 2.4M-row edge list per
    // round; with this layout + the survivor broadcasts below, a round
    // is map-side over the cache.)
    val edges = ue.select(col("u").as("a"), col("v").as("b"))
      .unionByName(ue.select(col("v").as("a"), col("u").as("b")))
      .repartition(col("a"))
      .transform(graft.CacheTracker.persist)
    edges.count()
    var surv = edges.select(col("a").as("node")).distinct().localCheckpoint()
    var prev = surv.count()
    // The survivor set's count is measured every round anyway (the
    // fixpoint test), so the broadcast gate is free: below the
    // HashedRelation-budget vertex cap the two semi-joins build a
    // broadcast of the one-column survivor frame; above it they fall
    // back to shuffle joins — the only correct shape when the survivor
    // set outgrows a broadcast side (same budget rationale as
    // [[BroadcastVertexCap]] for the degree table).
    def gated(df: DataFrame, n: Long): DataFrame =
      if (n <= BroadcastVertexCap) broadcast(df) else df
    var r = 0
    var stable = prev == 0
    while (r < maxRounds && !stable) {
      val next = edges
        .join(gated(surv.withColumnRenamed("node", "a"), prev), Seq("a"), "left_semi")
        .join(gated(surv.withColumnRenamed("node", "b"), prev), Seq("b"), "left_semi")
        .groupBy("a").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("a").as("node"))
        .localCheckpoint()
      val n = next.count()
      stable = n == prev
      graft.CacheTracker.checkpointRdds(surv).foreach(_.unpersist(false))
      surv = next
      prev = n
      r += 1
    }
    val out = edges
      .join(gated(surv.withColumnRenamed("node", "a"), prev), Seq("a"), "left_semi")
      .join(gated(surv.withColumnRenamed("node", "b"), prev), Seq("b"), "left_semi")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("core_degree"))
    graft.CacheTracker.trackCheckpointed(surv)
    out
  }

  /** Link prediction (Adamic & Adar 2003) over an undirected (u, v) pair
    * list: for every non-adjacent pair sharing ≥ 1 neighbor, the
    * common-neighbor count and an integer-exact log2-scaled Adamic–Adar
    * score — shared neighbor w contributes ⌊scale / bits(deg(w))⌋, where
    * bits(d) = ⌊log2 d⌋ + 1 stands in for ln d so both engines stay in
    * exact BIGINT arithmetic. Plan: one degree agg, degree joined back
    * into the edge list once, one self-join on the hinge node (wedge
    * enumeration — the triangles shape), one hash agg per candidate
    * pair, one anti-join against the existing edges — all equi-joins.
    * Wedge fan-out is Σ_w deg(w)², so callers bound hub degrees by
    * weight-thresholding the edge list first (hubs both explode the
    * candidate set and score lowest under 1/log — the cap is standard
    * practice, not a shortcut). */
  def linkPredict(ue: DataFrame, scale: Long = 1000000L): DataFrame = {
    val e = ue.select(col("u").as("a"), col("v").as("b"))
      .unionByName(ue.select(col("v").as("a"), col("u").as("b")))
      .transform(graft.CacheTracker.persist)
    val deg = e.groupBy("a").agg(count(lit(1)).as("d"))
    // the hinge-side contribution rides each directed edge exactly once
    val ed = e.join(deg, "a")
      .select(col("a"), col("b"), expr(s"$scale DIV length(bin(d))").as("c"))
    val cand = ed.as("e1")
      .join(e.as("e2"), col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .groupBy(col("e1.b").as("x"), col("e2.b").as("y"))
      .agg(count(lit(1)).as("cn"), sum(col("e1.c")).as("aa_ppm"))
    cand.join(ue, cand("x") === ue("u") && cand("y") === ue("v"), "left_anti")
  }

  def triangles(ue: DataFrame): DataFrame = {
    // one cheap count on the canonical edge list gates the degree-join
    // broadcast: below the cap the orientation is entirely map-side over
    // the cached edges (no exchange of the edge list to decorate it with
    // two degree columns); above it, shuffle joins — the only correct
    // shape when the graph outgrows a broadcast side. The count is taken
    // ONLY when the caller cached `ue` (graph-family callers do): on an
    // uncached frame it would recompute the whole upstream edge pipeline
    // just to choose a join hint, which can cost more than the hint buys
    // — so an uncached input defaults straight to the shuffle-join path,
    // which is correct at every size. Measured at sf0.1 (1.196M edges):
    // wall-neutral locally (the wedge self-join dominates; exchanges of
    // 1.2M longs are cheap on one box) — the win is the two removed
    // edge-list exchanges, which price in network, not CPU. Broadcasting
    // the CLOSURE side was also tried and measured ~15% SLOWER (probing a
    // 1.2M-entry broadcast map per wedge loses to the sort-merge the
    // wedge stream needs anyway), so the closure stays a shuffle join.
    val m =
      if (ue.storageLevel != org.apache.spark.storage.StorageLevel.NONE) ue.count()
      else Long.MaxValue
    val oriented = orientByDegree(ue, edgeCount = m)
      .transform(graft.CacheTracker.persist)
    // EDGE-CENTRIC adjacency intersection (the r11 rewrite): for each
    // oriented edge (u, v), the triangles through it are exactly
    // N+(u) ∩ N+(v) — each triangle found once, at its single edge whose
    // endpoints both point at the third node. No wedge frame ever exists:
    // the former wedge-enumeration plan materialized AND shuffled every
    // oriented wedge into the closure join (41M rows for 1.2M edges at
    // sf0.1 — measured 5.3 s of the query's 5.5 s; this plan runs the
    // same stage in 2.2 s), where this one exchanges only m-row frames
    // (the adjacency agg and the two decorate joins). The orientation's
    // O(√m) out-degree cap is doing double duty: it bounds the wedge
    // count AND each collected adjacency array — a degree-d hub has
    // out-degree ~0, so no row ever carries a hub-sized neighbor list.
    // The intersection is computed BELOW the explode (one evaluation per
    // edge, never re-run per emitted element).
    // The decorated frame carries Σ(|N+u|+|N+v|) longs — the wedge-volume
    // bound in BYTES — so its exchanges must be WIDE enough that one
    // task's slice fits in memory: at the session default (32 partitions)
    // an 80M-edge graph put ~1.6 GB of array payload per task and OOM'd a
    // 16 GB heap. Width scales with the measured edge count (~500k edges
    // per partition ≈ tens of MB of payload per task at typical degrees),
    // capped so a huge graph doesn't explode the task count; at bench
    // scale (1.2M edges) this resolves to the session default, unchanged.
    val spark = ue.sparkSession
    val wideParts =
      if (m == Long.MaxValue) -1
      else math.max(spark.sessionState.conf.numShufflePartitions,
        math.min(2048L, m / 500000L).toInt)
    def widen(df: DataFrame, key: String): DataFrame =
      if (wideParts > 0) df.repartition(wideParts, col(key)) else df
    // the adjacency build and the decorate probe shuffle the SAME
    // projection at the same key and width, so AQE plans one exchange
    // and reuses it for both consumers
    val bySrc = widen(oriented.select(col("src"), col("dst")), "src")
    val adj = bySrc.groupBy("src").agg(collect_list("dst").as("ns"))
    val tri = bySrc
      .join(adj.select(col("src"), col("ns").as("nsrc")), "src")
      .transform(d => widen(d, "dst"))
      .join(adj.select(col("src").as("dst"), col("ns").as("ndst")), "dst")
      .select(col("src"), col("dst"),
        array_intersect(col("nsrc"), col("ndst")).as("inter"))
      .select(col("src"), col("dst"), explode(col("inter")).as("w"))
      .select(array_sort(array(col("src"), col("dst"), col("w"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
    tri
  }
}
