package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames (connected components live
  * in [[Dedup]]; this file holds the rank-propagation family).
  *
  * PageRank (Page, Brin, Motwani & Winograd 1999) with the standard
  * dangling-node fix: each iteration every node's rank splits evenly
  * over its out-edges, nodes WITHOUT out-edges donate their whole rank
  * to the uniform pool, and every node receives
  * `(1-d)/N + d·(in-contributions + danglingMass/N)`.
  *
  * Spark shape: the edge list and out-degrees are computed once and
  * cached; each iteration is one join-aggregate (shuffle keyed on dst)
  * plus a 1-row dangling-mass aggregate that stays IN the plan via a
  * broadcast cross join — no per-iteration driver collect. An eager
  * localCheckpoint every 3rd iteration keeps the planned lineage O(1)
  * at any iteration depth; the edge artifact is hash-partitioned on
  * the join key once so iterations only shuffle the rank side.
  */
object Graph {

  /** Ranks after `iterations` rounds from a uniform start. Directed
    * edges; duplicate edges count once. Returns `(node, rank)`. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    val (plan, cached) = pageRankPlan(edges, srcCol, dstCol, iterations,
      damping)
    // materialize, then release every cached artifact: nothing pinned
    // survives the operator call (checkpoint blocks are freed by the
    // ContextCleaner with the returned frame; a returned persist() would
    // sit in the CacheManager for the rest of the session)
    val out = plan.barrier()
    cached.foreach(_.unpersist(blocking = false))
    out
  }

  /** The lazy final-iteration plan plus every cached artifact — split
    * out so PlanSpec can pin the never-re-shuffle-the-edge-side shape
    * on the exact tree [[pageRank]] materializes. */
  private[graft] def pageRankPlan(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, damping: Double)
      : (DataFrame, Seq[DataFrame]) = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    // the graph structure is loop-invariant: ONE materialized artifact —
    // the degree-weighted distinct edge list — feeds every iteration,
    // built with ONE exchange (r11): hash-partitioning the raw edges on
    // the per-iteration join key first lets the (src, dst) dedup run
    // in-partition (hash(src) clusters (src, dst) too) and the
    // out-degree attach as a partition-local window — the previous
    // dedup-exchange → degree-aggregate-exchange → self-join chain
    // shuffled the edge list three times to build the same rows. The
    // cached layout's outputPartitioning satisfies every iteration's
    // join requirement, so only the |nodes|-sized rank side moves each
    // round — the edge side never re-shuffles.
    // Duplication/skew tradeoff (r12, see [[weightedSssp]]): repartition-
    // before-dedup ships the RAW stream (no map-side partial aggregation)
    // and concentrates hub sources on single reduce tasks — correct here
    // only because the callers' edge expressions measure ~1.0×
    // duplication (600k raw → 587k distinct on the trade graph) with
    // ~16k-key src domains; a duplication-heavy or hub-skewed input
    // should dedup FIRST and pay the extra distinct-sized exchange.
    val ewd = edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src"))
      .dropDuplicates("__src", "__dst")
      .withColumn("__deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__src"))))
      .cache()
    val nodes = ewd.select(col("__src").as("node"))
      .union(ewd.select(col("__dst"))).distinct().cache()
    val n = nodes.count() // bounded: one scalar, once, not per iteration
    require(n > 0, "empty graph")
    val danglingNodes = nodes
      .join(ewd.select(col("__src").as("node")).distinct(), Seq("node"), "left_anti")
      .cache()
    // a graph with no dangling nodes (every symmetrized graph) skips
    // the per-iteration mass aggregate entirely: sum over the empty
    // set IS the literal 0.0, so the short-circuit is bit-exact
    val hasDangling = danglingNodes.hasRows()

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    val kept = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 to iterations) {
      val contrib = ewd
        .join(ranks.withColumnRenamed("node", "__src"), "__src")
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("rank") / col("__deg")).as("__in"))
      // nodes with no out-edges donate their rank to the uniform pool;
      // the 1-row aggregate rides the plan as a broadcast cross join
      val dm: Column = if (!hasDangling) lit(0.0) else {
        kept += ranks.join(danglingNodes, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
        col("__dm")
      }
      val base = nodes.join(contrib, Seq("node"), "left")
      val withDm = if (!hasDangling) base
        else base.crossJoin(broadcast(kept.last))
      // each iteration reads the previous ranks up to three times
      // (contrib, dangling, node join): the persist is the lineage cut
      // that stops 3^i recompute blowup. Persisted plans still NEST —
      // the logical tree deepens linearly and the scheduler re-walks it
      // every job — so at depth an eager localCheckpoint every 3rd
      // iteration severs lineage entirely, keeping the planned tree O(1)
      // however many iterations run
      val next = withDm.select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("__in"), lit(0.0)) + dm / n)).as("rank"))
      // the FINAL iteration stays lazy: the public entry materializes
      // it with a localCheckpoint, so no persisted frame is returned
      ranks =
        if (i == iterations) next
        else if (i % 3 == 0) next.barrier()
        else next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (i < iterations) kept += ranks
    }
    (ranks, kept.toSeq ++ Seq(ewd, nodes, danglingNodes))
  }

  /** HITS hub/authority scores (Kleinberg 1999) after `iterations`
    * mutual-reinforcement rounds from a uniform hub start, L1-normalized
    * each half-step (all scores are non-negative, so the L1 norm is the
    * plain sum and the replayable choice — an L2 norm would add a sqrt
    * whose argument is an order-sensitive sum of squares).
    *
    * Spark shape: the distinct edge list is materialized TWICE, once
    * hash-partitioned on `src` and once on `dst` — each half-step joins
    * scores on a different side, and two cached layouts mean only the
    * |nodes|-sized score frame ever moves (the two-layout trade is the
    * standard one for iterated bidirectional propagation; at 100 TB the
    * copies live as two bucketed artifacts). Normalization rides the
    * plan as a 1-row broadcast cross join — no per-iteration collect;
    * per-iteration persists cut lineage like [[pageRank]].
    *
    * Returns `(node, hub, auth)` — nodes with no out-edges score hub 0,
    * no in-edges auth 0.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    // ONE pass over the upstream edge expression (r11): the src layout
    // is built exchange-minimally (partition on __src first, dedup
    // in-partition — hash(src) clusters (src, dst) too), and the dst
    // layout and node set derive from the CACHED src layout instead of
    // re-running the scan + dedup map side per consumer (the previous
    // shape paid the full upstream build three times: eSrc, eDst, nodes) Duplication
    // tradeoff (r12): this ships the raw stream — right at this input
    // family's measured ~1.0× duplication; dedup-first ([[weightedSssp]])
    // wins on duplication-heavy inputs.
    val eSrc = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src"))
      .dropDuplicates("__src", "__dst")
      .cache()
    val eDst = eSrc.repartition(col("__dst")).cache()
    val nodes = eSrc.select(col("__src").as("node"))
      .union(eSrc.select(col("__dst"))).distinct().cache()
    require(nodes.hasRows(), "empty graph")

    var hubs = nodes.withColumn("hub", lit(1.0))
    var auths: DataFrame = null
    val kept = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 to iterations) {
      // auth(v) = Σ_{u→v} hub(u), then / Σ_v auth(v). The raw frame is
      // persisted because BOTH the norm aggregate and the node join
      // read it — unpersisted, the edge⋈score join runs twice per
      // half-step. The half-step OUTPUT is an eager localCheckpoint,
      // not a persist: each normalized frame references its raw twice
      // and each raw the previous frame, so planned lineage quadruples
      // per iteration — cached-plan trees nest their children's full
      // plans and analysis/explain blow up exponentially within a few
      // iterations. The checkpoint makes every half-step a leaf: plan
      // size O(1) at any depth, and the frames are only |nodes| rows.
      val aRaw = eSrc.join(hubs.withColumnRenamed("node", "__src"), "__src")
        .groupBy(col("__dst").as("node")).agg(sum(col("hub")).as("__a"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kept += aRaw
      val aNorm = aRaw.agg(sum(col("__a")).as("__s"))
      auths = nodes.join(aRaw, Seq("node"), "left")
        .crossJoin(broadcast(aNorm))
        .select(col("node"),
          (coalesce(col("__a"), lit(0.0)) / col("__s")).as("auth"))
        .barrier()
      // hub(u) = Σ_{u→v} auth(v), then / Σ_u hub(u)
      val hRaw = eDst.join(auths.withColumnRenamed("node", "__dst"), "__dst")
        .groupBy(col("__src").as("node")).agg(sum(col("auth")).as("__h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kept += hRaw
      val hNorm = hRaw.agg(sum(col("__h")).as("__s"))
      hubs = nodes.join(hRaw, Seq("node"), "left")
        .crossJoin(broadcast(hNorm))
        .select(col("node"),
          (coalesce(col("__h"), lit(0.0)) / col("__s")).as("hub"))
        .barrier()
    }
    // eager checkpoint, not persist+count: the returned frame must not
    // stay pinned in the CacheManager after the operator call (its
    // checkpoint blocks are ContextCleaner-freed when the caller drops
    // it, and the half-step inputs are |nodes|-row leaves already)
    val out = hubs.join(auths, "node").select(
      col("node"), col("hub"), col("auth")).barrier()
    kept.foreach(_.unpersist(blocking = false))
    eSrc.unpersist(blocking = false)
    eDst.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Exact triangle count + global clustering coefficient over an
    * undirected graph, as one row
    * `(n_nodes, n_edges, n_wedges, n_triangles, gcc)`.
    *
    * The scale shape is degree orientation (Chiba–Nishizeki / the
    * "compact-forward" join of Schank & Wagner 2005): every undirected
    * edge is directed from its lower `(degree, id)` endpoint to the
    * higher, which caps every node's OUT-degree at O(√m) regardless of
    * how skewed the raw degree distribution is — the hub that would
    * explode a naive wedge self-join (C(deg,2) wedges at the apex)
    * instead contributes its edges as wedge LEGS spread across
    * low-degree apexes. Each triangle then appears exactly once, as
    * `u→v, u→w, v→w` with key(u) < key(v) < key(w), so the count is a
    * wedge self-join on the apex plus one hash join against the
    * oriented edge list — three shuffles total, no distinct needed
    * after counting. `gcc = 3·triangles / wedges` where wedges counts
    * unordered neighbor pairs Σ C(deg,2) in the UNDIRECTED graph.
    *
    * Input edges may be directed/duplicated; they are canonicalized
    * (`least/greatest`, self-loops dropped, distinct) first.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // eager checkpoint, not cache: it feeds degrees, orientation, and
    // the edge count once, and its blocks are ContextCleaner-freed when
    // the caller drops the result — a cache() here stays pinned in the
    // CacheManager for the rest of the session (the round-10 leak class)
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .barrier()
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient each edge from the lower (deg, id) endpoint; carry the
    // head's orientation key so the wedge join can order its two legs
    // the same way the closing edge is stored
    val da = deg.select(col("node").as("a"), col("deg").as("__da"))
    val db = deg.select(col("node").as("b"), col("deg").as("__db"))
    val oriented = canon.join(da, "a").join(db, "b")
      .select(when(
          struct(col("__da"), col("a")) < struct(col("__db"), col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            struct(col("__db").as("d"), col("b").as("n")).as("kv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"),
            struct(col("__da").as("d"), col("a").as("n")).as("kv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.kv").as("kv"))
      .barrier() // three wedge-side consumers, GC-freed lifetime
    val w1 = oriented.select(col("u"), col("v").as("x"), col("kv").as("kx"))
    val w2 = oriented.select(col("u"), col("v").as("y"), col("kv").as("ky"))
    val triangles = w1.join(w2, "u").filter(col("kx") < col("ky"))
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_triangles"))
    // wedge total over the undirected degrees: Σ deg·(deg−1) is even,
    // one integer halving at the end keeps everything in longs
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    val edgeCount = canon.agg(count(lit(1)).as("n_edges"))
    degStats.crossJoin(edgeCount).crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("gcc"))
  }

  /** Adamic–Adar link prediction over an undirected graph: for every
    * non-adjacent node pair `(u, v)`, `AA = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w)`
    * — rare shared neighbors weigh more than hubs. Returns
    * `(u, v, common_neighbors, aa)` with `u < v`, score rounded to 6.
    *
    * Scale shape: the wedge self-join runs ONLY through centers with
    * `2 ≤ deg ≤ maxHubDegree` — an unbounded hub center contributes
    * C(deg, 2) pairs (quadratic at a million-degree hub) while adding
    * at most 1/ln(deg) ≈ nothing to any score, so capping the center
    * degree is the standard production trade (cost becomes
    * Σ_{deg≤cap} C(deg,2) ≤ m·cap/2, linear in edges) and is part of
    * this operator's CONTRACT — an oracle replaying the same cap
    * matches exactly. Existing edges are subtracted by zero-weight
    * marker rows riding the wedge shuffle (never a post-aggregate
    * anti-join of the far larger candidate set). Degrees are
    * computed over the FULL graph (the cap limits which centers
    * expand, not what a center's weight is). */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxHubDegree: Int): DataFrame = {
    require(maxHubDegree >= 2, s"maxHubDegree must be >= 2: $maxHubDegree")
    // eager checkpoint, not cache (see triangleStats): feeds adj,
    // degrees, and the markers; freed with the returned plan, while the
    // pair-score OUTPUT stays lazy so a downstream orderBy/limit can
    // TakeOrdered without materializing the full candidate table
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .barrier()
    val adj = canon.select(col("a").as("w"), col("b").as("n"))
      .unionAll(canon.select(col("b"), col("a")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("__deg"))
    val centers = adj.join(
      deg.filter(col("__deg") >= 2 && col("__deg") <= maxHubDegree), "w")
    val x = centers.select(col("w"), col("n").as("u"), col("__deg"))
    val y = centers.select(col("w"), col("n").as("v"))
    // Existing edges fold INTO the pair aggregate as marker rows instead
    // of a post-agg anti-join: the candidate pair set dwarfs the edge
    // list (up to m·cap/2 rows vs m), so re-shuffling the aggregated
    // pairs on (u, v) just to subtract edges was the plan's largest
    // exchange. Marker rows (one per edge, zero weight) ride the SAME
    // wedge shuffle — +m rows on an m·cap/2-row stage — and a map-side
    // post-agg filter drops every pair any marker touched. One shuffle
    // total after the wedge join; exactly the anti-join's semantics.
    val wedges = x.join(y, "w").filter(col("u") < col("v"))
      .select(col("u"), col("v"),
        (lit(1.0) / log(col("__deg"))).as("__aaw"), lit(0L).as("__edge"))
    val markers = canon.select(col("a").as("u"), col("b").as("v"),
      lit(0.0).as("__aaw"), lit(1L).as("__edge"))
    wedges.unionAll(markers)
      .groupBy(col("u"), col("v"))
      .agg(sum(lit(1L) - col("__edge")).as("common_neighbors"),
        // the markers' +0.0 terms leave the double sum bit-identical
        round(sum(col("__aaw")), 6).as("aa"),
        max(col("__edge")).as("__isEdge"))
      .filter(col("__isEdge") === 0 && col("common_neighbors") > 0)
      .drop("__isEdge")
  }

  /** The classical link-prediction score suite over the same capped
    * wedge universe as [[adamicAdar]]: for every non-edge pair (u, v)
    * sharing at least one center of degree ≤ `maxHubDegree`,
    *
    *  - common neighbors (among capped centers, as in adamicAdar),
    *  - resource allocation  Σ_w 1/deg(w)  (Zhou, Lü & Zhang 2009 —
    *    penalizes hub centers harder than AA's 1/ln deg),
    *  - Jaccard  |Γu ∩ Γv| / (deg u + deg v − |Γu ∩ Γv|),
    *  - preferential attachment  deg u · deg v.
    *
    * Same plan shape as [[adamicAdar]]: edge markers ride the wedge
    * shuffle (no post-agg anti-join); the only additions are two hash
    * joins of the ALREADY-AGGREGATED pair set against the |nodes|-sized
    * degree table for the endpoint degrees — the pair set shrinks at
    * the aggregate first, so the joins never touch the raw wedge
    * stream. */
  def linkPredictionScores(edges: DataFrame, srcCol: String,
      dstCol: String, maxHubDegree: Int): DataFrame = {
    require(maxHubDegree >= 2, s"maxHubDegree must be >= 2: $maxHubDegree")
    // eager checkpoint, not cache (see triangleStats): feeds adj,
    // degrees, and the markers; freed with the returned plan, while the
    // pair-score OUTPUT stays lazy so a downstream orderBy/limit can
    // TakeOrdered without materializing the full candidate table
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .barrier()
    val adj = canon.select(col("a").as("w"), col("b").as("n"))
      .unionAll(canon.select(col("b"), col("a")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("__deg"))
    val centers = adj.join(
      deg.filter(col("__deg") >= 2 && col("__deg") <= maxHubDegree), "w")
    val x = centers.select(col("w"), col("n").as("u"), col("__deg"))
    val y = centers.select(col("w"), col("n").as("v"))
    val wedges = x.join(y, "w").filter(col("u") < col("v"))
      .select(col("u"), col("v"),
        (lit(1.0) / col("__deg")).as("__raw"), lit(0L).as("__edge"))
    val markers = canon.select(col("a").as("u"), col("b").as("v"),
      lit(0.0).as("__raw"), lit(1L).as("__edge"))
    val pairs = wedges.unionAll(markers)
      .groupBy(col("u"), col("v"))
      .agg(sum(lit(1L) - col("__edge")).as("common_neighbors"),
        round(sum(col("__raw")), 6).as("ra"),
        max(col("__edge")).as("__isEdge"))
      .filter(col("__isEdge") === 0 && col("common_neighbors") > 0)
      .drop("__isEdge")
    pairs
      .join(deg.select(col("w").as("u"), col("__deg").as("__du")), "u")
      .join(deg.select(col("w").as("v"), col("__deg").as("__dv")), "v")
      .select(col("u"), col("v"), col("common_neighbors"), col("ra"),
        round(col("common_neighbors").cast("double")
          / (col("__du") + col("__dv") - col("common_neighbors")), 6)
          .as("jaccard"),
        (col("__du") * col("__dv")).as("pa"))
  }

  /** Multi-source BFS hop distances: the minimum number of edges from
    * any seed node, explored breadth-first to `maxDepth`. Returns
    * `(node, dist)` for every REACHED node (dist 0 = seed); unreached
    * nodes are absent. The hop-distance primitive under influence
    * radii, blast-radius audits, and "within N links of a bad actor"
    * filters.
    *
    * Spark shape: level-synchronous frontier expansion — the textbook
    * distributed BFS. The edge list is hash-partitioned on the
    * expansion key ONCE and cached, so each level's join only shuffles
    * the frontier (which is ≤ |nodes| and usually far smaller); visited
    * nodes are anti-joined out so every node is expanded exactly once
    * across the whole run (total work O(m + n·depth), never O(m·depth)).
    * Each level's output is an eager `localCheckpoint` — the visited
    * set is read by every later level, and without the cut its lineage
    * would nest one join+union deeper per level. The per-level empty-
    * frontier probe is `hasRows()`, not a data-sized collect.
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0: $maxDepth")
    // one exchange, not two (r11): partition on the expansion key first,
    // dedup in-partition (hash(src) clusters (src, dst) too) Duplication
    // tradeoff (r12): this ships the raw stream — right at this input
    // family's measured ~1.0× duplication; dedup-first ([[weightedSssp]])
    // wins on duplication-heavy inputs.
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src"))
      .dropDuplicates("__src", "__dst")
      .cache()
    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0))
      .barrier()
    var frontier = visited.select(col("node"))
    var depth = 0
    while (depth < maxDepth && frontier.hasRows()) {
      depth += 1
      val next = e.join(frontier.withColumnRenamed("node", "__src"), "__src")
        .select(col("__dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(depth))
      visited = visited.unionAll(next).barrier()
      frontier = visited.filter(col("dist") === depth).select(col("node"))
    }
    e.unpersist(blocking = false)
    visited
  }

  /** Per-seed BFS distances for a SET of sources in one pass: like
    * [[bfsDistances]] but the visited state is keyed `(seed, node)`, so
    * every seed's frontier expands through the SAME cached edge
    * artifact in the same level loop — one edge build and `maxDepth`
    * joins total, instead of per-seed pipelines (the closeness/
    * eccentricity sampling shape). Frontier width is Σ per-seed
    * frontiers; the hot edge side never re-shuffles. Returns
    * `(seed, node, dist)`. */
  def bfsDistancesPerSeed(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0: $maxDepth")
    // one exchange, not two (r11) — see [[bfsDistances]]
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src"))
      .dropDuplicates("__src", "__dst")
      .cache()
    var visited = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"))
      .withColumn("dist", lit(0))
      .barrier()
    var frontier = visited.select(col("seed"), col("node"))
    var depth = 0
    while (depth < maxDepth && frontier.hasRows()) {
      depth += 1
      val next = e
        .join(frontier.withColumnRenamed("node", "__src"), "__src")
        .select(col("seed"), col("__dst").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .withColumn("dist", lit(depth))
      visited = visited.unionAll(next).barrier()
      frontier = visited.filter(col("dist") === depth)
        .select(col("seed"), col("node"))
    }
    e.unpersist(blocking = false)
    visited
  }

  /** k-core of an undirected graph (Seidman 1983): the unique maximal
    * subgraph in which every node has degree ≥ k, found by iterated
    * peeling — repeatedly delete nodes of degree < k until a fixed
    * point. The "dense core" extractor: in dedup-cluster graphs the
    * k-core separates genuinely entangled near-duplicate families from
    * chains of borderline pairs.
    *
    * Spark shape: each peel round is one degree aggregate + two
    * semi-join filters against the surviving-node set (keyed shuffles
    * only; the survivors frame is |nodes|-sized). Every round's edge
    * set is an eager `localCheckpoint` — the peel is data-dependent in
    * depth, and without the cut lineage would nest one join deeper per
    * round. The fixed-point probe is one `hasRows()` job per round;
    * rounds are bounded by |nodes| but in practice by the graph's
    * degeneracy ordering depth (tens, not thousands).
    *
    * Returns `(node, core_degree)` — the surviving nodes with their
    * degree INSIDE the core (≥ k by construction); empty when the
    * graph has no k-core. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .barrier()
    var done = false
    while (!done) {
      // the degree table has two consumers per round (the fixed-point
      // probe and the survivor filter) — materialize it once (r11); the
      // unbarriered form re-ran the degree aggregate over the edge set
      // for each consumer, doubling every round's dominant stage
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b")))
        .groupBy(col("node")).agg(count(lit(1)).as("__deg"))
        .barrier()
      val keep = deg.filter(col("__deg") >= k).select(col("node"))
      if (!deg.filter(col("__deg") < k).hasRows()) done = true
      else e = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .barrier()
    }
    e.select(col("a").as("node")).unionAll(e.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Degree assortativity (Newman 2002) of an undirected graph, as one
    * row `(n_nodes, n_edges, mean_deg, max_deg, assortativity)`: the
    * Pearson correlation of endpoint degrees over every edge counted in
    * BOTH directions (the standard convention — the symmetric edge set
    * makes Σx = Σy). Positive = hubs attach to hubs, negative = hub-
    * and-spoke; the one-number topology fingerprint that predicts how
    * partition-skewed any per-neighbor shuffle will run.
    *
    * All five correlation moments are sums of INTEGERS (degrees and
    * their products), exact in doubles to 2^53 under any partitioning
    * and merge order — the closed-form corr here has none of the
    * cancellation hazard it has on float data. Input edges may be
    * directed/duplicated; canonicalized first like [[triangleStats]].
    * Two keyed shuffles (degree agg, degree join) + one 1-row fold. */
  def degreeMixing(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // eager barrier (r11): canon feeds the degree union (two reads), the
    // moment join's probe side, and the edge count — unmaterialized,
    // each re-ran the upstream edge expression
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .barrier()
    // barrier (r11): deg feeds both join sides and the degree-stats fold
    // — three re-aggregations without it
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .barrier()
    val da = deg.select(col("node").as("a"), col("deg").as("__da"))
    val db = deg.select(col("node").as("b"), col("deg").as("__db"))
    // both directions: (da,db) and (db,da) — the fold sums x and y
    // symmetrically so one pass over the canonical edges suffices
    val m = canon.join(da, "a").join(db, "b").agg(
      count(lit(1)).as("__m"),
      sum(col("__da") + col("__db")).as("__sx"),
      sum(col("__da") * col("__da") + col("__db") * col("__db")).as("__sxx"),
      sum(col("__da") * col("__db") * 2).as("__sxy"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg")).as("__sumdeg"), max(col("deg")).as("max_deg"))
    // combine in double AFTER the exact long sums: the products below
    // (n·Σxy, (Σx)²) overflow longs on big graphs, and double
    // arithmetic over exactly-represented operands is deterministic.
    // (The SUMS stay exact to 2^53 — a graph pushing Σdeg² past that
    // needs decimal accumulators.)
    val nD = (col("__m") * 2).cast("double") // directed edge count
    val sxD = col("__sx").cast("double")
    degStats.crossJoin(m).select(
      col("n_nodes"), col("__m").as("n_edges"),
      round(col("__sumdeg").cast("double") / col("n_nodes"), 6)
        .as("mean_deg"),
      col("max_deg"),
      round((nD * col("__sxy").cast("double") - sxD * sxD)
        / (nD * col("__sxx").cast("double") - sxD * sxD), 6)
        .as("assortativity"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007,
    * the deterministic synchronous variant): every node starts with its
    * own id as label; each round ALL nodes simultaneously adopt the
    * most frequent label among their neighbors, ties broken by the
    * smallest label. A fixed round count keeps the semantics closed
    * form (the asynchronous variant's order-dependence is exactly what
    * a distributed engine must not have); communities emerge as label
    * plateaus after a few rounds.
    *
    * Spark shape: edges are symmetrized out of one pass, canonicalized,
    * and hash-partitioned on the expansion key ONCE; a round is one
    * join (neighbor label lookup) + one count aggregate + one
    * row_number tie-break window — all keyed shuffles, nothing global.
    * Per-round output is an eager `localCheckpoint` (O(1) lineage at
    * any depth). Isolated nodes keep their own label (left join).
    *
    * Returns `(node, label)` after `rounds` rounds. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // one exchange, not two (r11): symmetrize the raw edges map-side and
    // dedup AFTER the expansion-key shuffle (hash(src) clusters
    // (src, dst) too) — canonicalize-distinct-then-explode paid a second
    // data-sized exchange to arrive at the same symmetric edge set Duplication
    // tradeoff (r12): this ships the raw stream — right at this input
    // family's measured ~1.0× duplication; dedup-first ([[weightedSssp]])
    // wins on duplication-heavy inputs.
    val sym = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("__src"), col("e.dst").as("__dst"))
      .repartition(col("__src"))
      .dropDuplicates("__src", "__dst")
      .cache()
    val nodes = sym.select(col("__src").as("node")).distinct()
    var labels = nodes.withColumn("label", col("node")).barrier()
    val w = Window.partitionBy(col("__dst"))
      .orderBy(col("__cnt").desc, col("label").asc)
    (1 to rounds).foreach { _ =>
      val adopted = sym
        .join(labels.withColumnRenamed("node", "__src"), "__src")
        .groupBy(col("__dst"), col("label"))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__dst").as("node"), col("label").as("__new"))
      labels = labels.join(adopted, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("label")).as("label"))
        .barrier()
    }
    sym.unpersist(blocking = false)
    labels
  }

  /** Newman–Girvan modularity of a node partition: Q = Σ_c [e_c/m −
    * (d_c/2m)²] — how much denser the communities are than a random
    * graph with the same degrees; THE quality score for a community
    * assignment (e.g. [[labelPropagation]]'s output).
    *
    * Exactness: rewritten over the common denominator as
    * Q = (4m·Σe_c − Σd_c²) / 4m², every term is an exact integer
    * (degree-sum squares in decimal), combined in double ONCE at the
    * end (operands exact ⇒ deterministic). Shape: one canonical edge
    * pass, a degree aggregate, two label joins, three 1-row folds —
    * all keyed shuffles plus broadcast scalars, nothing global. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    // eager barrier (r11): canon has FOUR downstream reads (the m fold,
    // both sides of the intra join, and the degree union reads it
    // twice) — unmaterialized, each re-ran the whole upstream edge
    // expression; checkpointed, they read |E| canonical rows
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .barrier()
    val lab = labels.select(col(nodeCol).as("__n"),
      col(labelCol).as("__l"))
    val m = canon.agg(count(lit(1)).as("__m"))
    val intra = canon
      .join(lab.withColumnRenamed("__n", "a")
        .withColumnRenamed("__l", "__la"), "a")
      .join(lab.withColumnRenamed("__n", "b")
        .withColumnRenamed("__l", "__lb"), "b")
      .agg(sum(when(col("__la") === col("__lb"), 1L).otherwise(0L))
        .as("__e"))
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val perC = deg
      .join(lab.withColumnRenamed("__n", "node"), "node")
      .groupBy(col("__l")).agg(sum(col("__d")).as("__dc"))
    val fold = perC.agg(count(lit(1)).as("n_communities"),
      sum(col("__dc").cast("decimal(18,0)")
        * col("__dc").cast("decimal(18,0)")).as("__sd2"))
    val mD = col("__m").cast("double")
    fold.crossJoin(m).crossJoin(intra)
      .select(col("__m").as("m"), col("n_communities"),
        col("__e").as("intra_edges"),
        round((lit(4.0) * mD * col("__e").cast("double")
            - col("__sd2").cast("double"))
          / (lit(4.0) * mD * mD), 6).as("modularity"))
  }

  /** Hop-bounded earliest-arrival reachability on a TEMPORAL graph
    * (Holme & Saramäki 2012): an edge `(src, dst, t)` is traversable
    * only STRICTLY AFTER you arrived at `src`, and using it puts you at
    * `dst` at time `t` — the time-respecting-path semantics behind
    * "who could information/goods have reached, in causal order"
    * questions that static reachability over-counts.
    *
    * Correctness of the frontier form: arrival-admission `t > arr(src)`
    * is monotone (an earlier arrival admits a superset of edges), so
    * relaxing only from each node's MINIMUM arrival is exactly
    * equivalent to enumerating all ≤ maxHops time-respecting paths.
    * Same Spark shape as [[weightedSssp]]: edges hash-partitioned once,
    * per-round shuffle is the \|nodes\|-sized arrival table,
    * localCheckpoint lineage cuts, `hasRows()` fixed-point probe.
    *
    * `seeds` start at arrival `Long.MinValue` (reported as arr = null);
    * returns `(node, arr)` for every node reachable within the hop
    * budget. */
  def temporalEarliestArrival(edges: DataFrame, srcCol: String,
      dstCol: String, tsCol: String, seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    // one exchange, not two (r11): hash(src) clusters (src, dst, t) too Duplication
    // tradeoff (r12): this ships the raw stream — right at this input
    // family's measured ~1.0× duplication; dedup-first ([[weightedSssp]])
    // wins on duplication-heavy inputs.
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        col(tsCol).cast("long").as("__t"))
      .repartition(col("__src"))
      .dropDuplicates("__src", "__dst", "__t")
      .cache()
    var arr = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("arr", lit(Long.MinValue))
      .barrier()
    var hop = 0
    var converged = false
    while (hop < maxHops && !converged) {
      hop += 1
      val relaxed = e
        .join(arr.withColumnRenamed("node", "__src"), "__src")
        .filter(col("__t") > col("arr"))
        .select(col("__dst").as("node"), col("__t").as("arr"))
      val next = arr.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("arr")).as("arr"))
        .barrier()
      converged = !next.as("n")
        .join(arr.as("p"), col("n.node") === col("p.node"), "left_outer")
        .filter(col("p.node").isNull || col("n.arr") < col("p.arr"))
        .hasRows()
      arr = next
    }
    e.unpersist(blocking = false)
    arr.select(col("node"),
      when(col("arr") === Long.MinValue, lit(null)).otherwise(col("arr"))
        .as("arr"))
  }

  /** Hop-bounded single-source shortest paths over weighted directed
    * edges (Bellman–Ford 1958, the k-relaxation form): after `maxHops`
    * synchronous relaxation rounds, each node's dist is the exact
    * minimum-weight path from any seed using ≤ maxHops edges. The
    * hop bound makes the semantics closed-form (and oracle-checkable)
    * even on graphs with cycles; weights must be non-negative for the
    * bounded result to also be a lower-bound certificate.
    *
    * Spark shape: the edge list is hash-partitioned on `src` ONCE and
    * cached, so each round's relax join only shuffles the current
    * distance table (|nodes|-sized, never |edges|). A round is one
    * join + one min-combine aggregate — Catalyst plans the min as
    * partial+final, so the shuffle carries one row per (partition,
    * node). Distances accumulate in DECIMAL — exact, associative,
    * partitioning-independent — never double. Each round ends in an
    * eager `localCheckpoint` (same O(1)-lineage discipline as
    * [[pageRank]]/[[bfsDistances]]); early exit when a round changes
    * nothing, probed with `hasRows()`, not a data-sized collect.
    *
    * Returns `(node, dist)` for every node reachable within the hop
    * budget (seeds at dist 0). */
  def weightedSssp(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    // aggregate BEFORE the wire, then repartition the aggregated set to
    // the per-round join layout (r12). The r11 one-exchange form
    // (repartition(__src) first, keep-lightest in-partition) shipped the
    // RAW upstream through the exchange: repartition-before-aggregate
    // drops Spark's map-side partial aggregation, so a duplication-heavy
    // edge expression (q253's nation lanes: 600k join rows → 625 distinct
    // edges over 25 src keys) moved 1000× more bytes than needed AND
    // concentrated them on hash(25 keys) reduce tasks — measured 1.83 →
    // 2.86 s cross-round. This form's first exchange carries the
    // map-side-collapsed partial aggregates and the second only |E|
    // distinct edges. Tradeoff (same for every builder in this file): on
    // a LOW-duplication input the extra |E|-sized exchange is pure cost
    // — there the one-exchange form wins; pick by the input's
    // duplication ratio (here: sssp callers feed aggregated-lane graphs).
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        col(weightCol).cast("decimal(28,2)").as("__w"))
      .groupBy(col("__src"), col("__dst")) // parallel edges: keep lightest
      .agg(min(col("__w")).as("__w"))
      .repartition(col("__src"))
      .cache()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(java.math.BigDecimal.ZERO).cast("decimal(28,2)"))
      .barrier()
    var hop = 0
    var converged = false
    while (hop < maxHops && !converged) {
      hop += 1
      val relaxed = e
        .join(dist.withColumnRenamed("node", "__src"), "__src")
        .select(col("__dst").as("node"),
          (col("dist") + col("__w")).cast("decimal(28,2)").as("dist"))
      val next = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .barrier()
      // fixed point: no node improved and no new node appeared
      converged = !next.as("n")
        .join(dist.as("p"), col("n.node") === col("p.node"), "left_outer")
        .filter(col("p.node").isNull || col("n.dist") < col("p.dist"))
        .hasRows()
      dist = next
    }
    e.unpersist(blocking = false)
    dist
  }

  /** Katz centrality, truncated at `iterations` walk lengths (Katz
    * 1953): κ(v) = Σ_{ℓ=1..L} αˡ·Wₗ(v) where Wₗ(v) counts the walks of
    * length ℓ ENDING at v — the centrality that credits a node for
    * being reachable, with geometric attenuation (PageRank's
    * non-normalized cousin; α must be < 1/λ_max for the untruncated
    * series to converge, truncation makes any α usable).
    *
    * Exactness: walk counts are EXACT integers (DECIMAL(38,0) — hub
    * counts cube past long range at scale) accumulated by L join+agg
    * rounds; only the final polynomial touches double, with the αˡ
    * powers built as literal PRODUCTS (α·α, α·α·α …) so constant
    * folding here and literal arithmetic in an oracle produce the same
    * doubles.
    *
    * Scale shape: [[pageRank]]'s loop-invariant artifact discipline —
    * the distinct edge list is repartitioned on the per-iteration join
    * key ONCE and cached, so each round shuffles only the |nodes|-sized
    * walk-count side.
    *
    * Returns `(node, katz)` for every node that appears as a source OR
    * a destination — pure sinks of a directed graph get their in-walk
    * counts, pure sources get 0.0 (on symmetrized input the union is
    * just the source set). */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, alpha: Double = 0.2): DataFrame = {
    val (plan, cached) = katzPlan(edges, srcCol, dstCol, iterations, alpha)
    // materialize before releasing the cached artifacts — the sibling
    // discipline (pageRank/HITS/SSSP): nothing cached survives the
    // operator call
    val out = plan.barrier()
    cached.foreach(_.unpersist(blocking = false))
    out
  }

  /** The lazy katz plan plus every cached artifact — split out so
    * PlanSpec can pin the never-re-shuffle-the-edge-side shape on the
    * exact tree [[katzCentrality]] materializes (the public entry
    * checkpoints it and unpersists the artifacts). */
  private[graft] def katzPlan(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, alpha: Double)
      : (DataFrame, Seq[DataFrame]) = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    // one exchange, not two (r11): partition on the per-round join key
    // first, dedup in-partition (hash(src) clusters (src, dst) too) Duplication
    // tradeoff (r12): this ships the raw stream — right at this input
    // family's measured ~1.0× duplication; dedup-first ([[weightedSssp]])
    // wins on duplication-heavy inputs.
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src"))
      .dropDuplicates("__src", "__dst")
      .cache()
    val nodes = e.select(col("__src").as("node"))
      .unionAll(e.select(col("__dst").as("node"))).distinct()
    // W1 = in-degree; W_{l+1}(v) = Σ_{u→v} W_l(u). Each level is
    // PERSISTED (r11): every W_l feeds both W_{l+1} and the final join,
    // so the unpersisted chain re-evaluated W_l (iterations − l + 1)
    // times — the walk join+aggregate cascade ran Σ l ≈ L²/2 times
    // instead of L (measured: the W1 aggregate's map side ran 3× for
    // L = 3). Persist keeps each level's hash(node) partitioning, so
    // the final left-join chain adds no exchanges.
    val w1 = e.groupBy(col("__dst").as("node"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__w1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var walks = Seq(w1)
    for (l <- 2 to iterations) {
      val prev = walks.last
      val wl = e.join(prev, e("__src") === prev("node"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col(s"__w${l - 1}")).as(s"__w$l"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      walks = walks :+ wl
    }
    val joined = walks.foldLeft(nodes)((acc, w) => acc.join(w, Seq("node"), "left"))
    val katz = (1 to iterations).map { l =>
      val aPow = (1 to l).map(_ => lit(alpha)).reduce(_ * _)
      aPow * coalesce(col(s"__w$l"), lit(0).cast("decimal(38,0)"))
        .cast("double")
    }.reduce(_ + _)
    (joined.select(col("node"), katz.as("katz")), e +: walks)
  }

}
