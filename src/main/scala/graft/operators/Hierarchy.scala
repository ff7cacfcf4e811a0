package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy traversal on DataFrames — the org-chart / category-tree /
  * BOM primitive relational engines express as a recursive CTE, which
  * Spark does not have. The scale shape is POINTER DOUBLING: instead of
  * walking one parent edge per pass (depth passes for a depth-d tree —
  * a 20-deep hierarchy costs 20 shuffles), each pass rewrites every
  * node's known ancestor to that ancestor's OWN known ancestor and adds
  * the depths, halving the remaining distance: ⌈log₂ d⌉ + 1 passes
  * total, each one self-join keyed on the current ancestor.
  */
object Hierarchy {

  /** Resolve every node of a parent-pointer forest to its root, with
    * the edge distance. Returns `(node, root, depth)` — roots resolve
    * to themselves at depth 0. A node is a root when its parent is
    * NULL, ITSELF (the common parent-pointer-table convention for
    * roots), or outside the node set (a parent above the forest).
    *
    * `maxDepth` bounds the tree height the resolve is guaranteed for
    * (passes = ⌈log₂ maxDepth⌉ + 1); a deeper-than-declared tree fails
    * loudly (unresolved nodes raise) rather than returning a partial
    * ancestor as if it were the root. Cycles also surface that way —
    * a parent-pointer structure with a cycle can never resolve.
    *
    * Each pass is one hash self-join of the |nodes|-sized state, cut
    * with an eager localCheckpoint so planned lineage stays O(1). */
  def resolveRoots(edges: DataFrame, childCol: String, parentCol: String,
      maxDepth: Int = 64): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val e = edges.select(col(childCol).as("node"), col(parentCol).as("__p"))
      .distinct()
    // root markers first (NULL / self parent), then: a parent that is
    // itself a node keeps resolving; one outside the node set makes
    // its child a root (depth 0, its own subtree's top)
    val marked = e.filter(col("__p").isNull || col("__p") === col("node"))
      .select(col("node"), col("node").as("anc"), lit(0L).as("depth"))
    val walk = e.filter(col("__p").isNotNull && col("__p") =!= col("node"))
    val nodes = e.select(col("node")).distinct()
    val init = walk
      .join(nodes.select(col("node").as("__p")), Seq("__p"), "left_semi")
      .select(col("node"), col("__p").as("anc"), lit(1L).as("depth"))
      .unionAll(
        walk.join(nodes.select(col("node").as("__p")), Seq("__p"), "left_anti")
          .select(col("node"), col("node").as("anc"), lit(0L).as("depth")))
      .unionAll(marked)
    val passes = math.ceil(math.log(maxDepth.toDouble) / math.log(2)).toInt + 1
    var state = init.barrier()
    for (_ <- 1 to passes) {
      val lookup = state.select(col("node").as("anc"),
        col("anc").as("__anc2"), col("depth").as("__d2"))
      state = state.join(lookup, Seq("anc"), "left")
        .select(col("node"),
          coalesce(col("__anc2"), col("anc")).as("anc"),
          (col("depth") + coalesce(col("__d2"), lit(0L))).as("depth"))
        .barrier()
    }
    // fail loudly on unresolved nodes (tree deeper than maxDepth, or a
    // cycle): an ancestor still pointing at a non-root is not a root
    val roots = state.filter(col("depth") === 0)
      .select(col("node").as("anc"))
    require(!state.join(roots, Seq("anc"), "left_anti").hasRows(),
      s"hierarchy did not resolve within maxDepth=$maxDepth (deeper tree or cycle)")
    state.select(col("node"), col("anc").as("root"), col("depth"))
  }
}
