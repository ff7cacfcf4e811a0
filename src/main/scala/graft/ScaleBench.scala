package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale spot-bench: do the superlinear-risk queries grow ≲ linearly in
  * the data? No sf1 fixture ships with the sandbox, so this synthesizes
  * one from sf0.1 — K disjoint copies with offset keys and per-copy
  * token-perturbed text — and times the risk queries at ×1 vs ×K in one
  * JVM. The perturbations keep copies mutually DISSIMILAR (token prefix
  * `c{i}_` on every word; 3-char name prefixes pairwise edit-distance 3
  * apart) so near-dup clusters, fuzzy-match pairs, and graph components
  * stay copy-local: the ×K corpus carries exactly K× the structure, and
  * any wall-time ratio well past K exposes a superlinear plan.
  *
  * Usage: SPARK_GRAFT_SCALE_K=10 sbt "runMain graft.ScaleBench"
  * (SPARK_GRAFT_ONLY selects a subset, SPARK_GRAFT_SHUFFLE_PARTITIONS
  * overrides the posture's 8 × cores).
  * Prints one JSON line: per-query seconds at ×1 / ×K and the ratio.
  */
object ScaleBench {

  private val RiskQueries = Seq("q66_dedup_groups", "q101_substring_dedup",
    "q129_fuzzy_join", "q130_pagerank", "q144_triangle_stats",
    "q172_hits", "q188_adamic_adar", "q209_bfs_distances", "q220_kcore",
    // round-6 second-half iterative additions: label propagation (two
    // join+agg rounds), modularity (LPA + three folds), hop-bounded
    // Bellman-Ford (nation graph is fixed-size — measures the
    // edge-build), and frame-fingerprint dedup (inverted-index join)
    "q259_label_prop", "q277_modularity", "q253_sssp", "q275_frame_dedup",
    // round-7 additions (the round-6-late heavy queries): multi-seed
    // closeness BFS (seeds live in copy 0 — the per-level edge scan is
    // the linear term), temporal reachability (seeds in every copy),
    // and the window+exact-quantile seasonal residual pipeline on the
    // K-copied events table
    "q295_closeness", "q280_temporal_reach", "q297_seasonal_residuals",
    // round-7 late addition: depth-4 per-seed eccentricity BFS — seeds
    // live in copy 0, so the per-level edge scan is the linear term
    "q335_eccentricity",
    // round-8: the distributed-rank rewrites — lineitem-sized midrank
    // spines (Scale.groupedPrefixSum) must scale with the data, not
    // serialize into per-group tasks
    "q310_spearman", "q255_mann_whitney", "q360_ecod_outliers",
    // round-8 late additions: Kneser-Ney (bigram-type tables grow K x
    // with the prefixed vocab), energy distance (grouped multi-column
    // range scan over K-copied events), link-prediction wedges (same
    // family as q188), RAKE (phrase/vocab tables K x )
    "q376_kneser_ney", "q384_energy_distance", "q391_link_prediction",
    "q388_rake_keyphrases",
    // round-9: the largest of the five straggler rewrites — the KS
    // value spine (orders x customer) now rides the grouped scan and
    // must grow with the data, not serialize into 5 segment tasks
    "q263_ks_test",
    // round-9 wave: Friedman's in-block ranking windows key on the
    // (dow, user) block — user count grows K x in the synthesized
    // corpus, so the partition count must grow with the data while
    // each partition stays <= k rows
    "q399_friedman",
    // round-9 wave #2: Hill tail index — the bounded-heap top-(k+1)
    // over the K x orders-customer join must stay map-side-dominated
    // (the shuffle moves only groups*(k+1)*partitions rows at any K)
    "q403_hill_tail",
    // round-9 wave #5: Katz centrality — three walk-count join+agg
    // rounds over the K x'd edge artifact (copies are disconnected, so
    // walk counts stay copy-local and work must scale ~linearly)
    "q411_katz",
    // round-12 (VERDICT r11 task #4): the newly-barriered rank-stat
    // family — each operator eagerly materializes its count table and
    // midrank join (localCheckpoint); the ×K rows prove the barrier
    // materialization cost stays ~linear instead of multiplying
    "q308_kruskal_wallis", "q373_conover_squared_ranks",
    "q414_mood_median", "q416_dunn_posthoc")

  /** `k` copies of `df`, copy `i` transformed by `f(df, i)`. */
  private def copies(df: DataFrame, k: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until k).map(i => f(df, i)).reduce(_ unionAll _)

  /** The tables both corpus shapes grow alike. */
  private def synthesizeShared(s: SparkSession, src: String, out: String, k: Int): Unit = {
    import s.implicits._
    // suppliers offset per copy, the key domain lineitem's l_suppkey
    // points into, so the q253 supplier join resolves; nation/region are
    // the fixed 25/5-row dimensions — one copy, shared by all
    val supp = s.read.parquet(s"$src/supplier.parquet")
    copies(supp, k) { (df, i) =>
      df.withColumn("s_suppkey", $"s_suppkey" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // events for the time-series lanes: ids offset per copy, timestamps
    // and the small event_type domain shared — per-key window/quantile
    // work is row-proportional by construction
    val ev = s.read.parquet(s"$src/events.parquet")
    copies(ev, k) { (df, i) =>
      df.withColumn("event_id", $"event_id" + lit(i.toLong * 1000000000L))
        .withColumn("user_id", $"user_id" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")
    s.read.parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    s.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
  }

  /** K offset/perturbed copies of the four input tables the risk
    * queries read. Copy 0 gets the same transformation as every other
    * copy so the ×1 baseline measures identical per-row work. */
  private def synthesize(s: SparkSession, src: String, out: String, k: Int): Unit = {
    import s.implicits._
    val docs = s.read.parquet(s"$src/documents.parquet")
    copies(docs, k) { (df, i) =>
      df.withColumn("doc_id", $"doc_id" + lit(i.toLong * 10000000L))
        // every token gets a copy-local prefix: within-copy token
        // equality (shingles, grams, spans) is preserved bit-for-bit,
        // cross-copy similarity drops to zero
        .withColumn("text", regexp_replace($"text", "(\\S+)", s"c${i}_$$1"))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val cust = s.read.parquet(s"$src/customer.parquet")
    copies(cust, k) { (df, i) =>
      df.withColumn("c_custkey", $"c_custkey" + lit(i.toLong * 10000000L))
        // pairwise edit distance between any two copy prefixes is 3
        // (> maxDist=1), so fuzzy pairs stay copy-local
        .withColumn("c_name", concat(lit(s"q$i$i$i "), $"c_name"))
    }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    val orders = s.read.parquet(s"$src/orders.parquet")
    copies(orders, k) { (df, i) =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i.toLong * 1000000000L))
        .withColumn("o_custkey", $"o_custkey" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")

    val li = s.read.parquet(s"$src/lineitem.parquet")
    copies(li, k) { (df, i) =>
      df.withColumn("l_orderkey", $"l_orderkey" + lit(i.toLong * 1000000000L))
        .withColumn("l_suppkey", $"l_suppkey" + lit(i.toLong * 10000000L))
        .withColumn("l_partkey", $"l_partkey" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    synthesizeShared(s, src, out, k)
  }

  /** The round-10 "true sf1" shape (VERDICT r9 task #4): unlike
    * [[synthesize]]'s disjoint copies, this grows the data the way a
    * larger scale factor would — key DOMAINS grow ×k with the rows and
    * the join keys are hash-REMAPPED uniformly across the whole grown
    * domain, so the trade graph is one giant random bipartite component
    * (per-node degree ≈ constant, like real TPC-H at a higher SF),
    * not k disconnected copies. Documents share one global vocabulary:
    * each copy's text is a half-splice of two base documents (first
    * half of d, second half of its copy-rotated partner), so shingle
    * buckets grow with the corpus while spliced pairs sit near J≈1/3 —
    * below near-dup banding, like organically-similar fresh text. */
  private def synthesizeLinked(s: SparkSession, src: String, out: String,
      k: Int): Unit = {
    import s.implicits._
    val docs = s.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val toks = docs.select($"doc_id".as("__pid"),
      split(trim($"text"), "\\s+").as("__ptoks"))
    copies(docs, k) { (df, i) =>
      // partner rotates per copy; copy 0 splices too, so the ×1
      // baseline pays identical per-row work
      df.withColumn("__partner",
          pmod($"doc_id" + lit(1L + i), lit(nDocs)))
        .join(toks, $"__partner" === $"__pid")
        .withColumn("__toks", split(trim($"text"), "\\s+"))
        .withColumn("text", concat_ws(" ",
          concat(
            slice($"__toks", lit(1), (size($"__toks") / 2).cast("int")),
            slice($"__ptoks",
              ((size($"__ptoks") / 2).cast("int") + 1).cast("int"),
              size($"__ptoks")))))
        .withColumn("doc_id", $"doc_id" + lit(i.toLong * 10000000L))
        .drop("__partner", "__pid", "__ptoks", "__toks")
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val cust = s.read.parquet(s"$src/customer.parquet")
    copies(cust, k) { (df, i) =>
      df.withColumn("c_custkey", $"c_custkey" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    // the organic linkage: each order keeps its customer's LOCAL key
    // but lands in a hash-random copy of the domain — one giant
    // random bipartite graph instead of k disconnected ones
    val orders = s.read.parquet(s"$src/orders.parquet")
    copies(orders, k) { (df, i) =>
      df.withColumn("o_custkey",
          pmod(xxhash64($"o_orderkey", lit(i)), lit(k)) * 10000000L
            + $"o_custkey")
        .withColumn("o_orderkey", $"o_orderkey" + lit(i.toLong * 1000000000L))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = s.read.parquet(s"$src/lineitem.parquet")
    copies(li, k) { (df, i) =>
      df.withColumn("l_suppkey",
          pmod(xxhash64($"l_orderkey", $"l_linenumber", lit(i)), lit(k))
            * 10000000L + $"l_suppkey")
        .withColumn("l_orderkey", $"l_orderkey" + lit(i.toLong * 1000000000L))
        .withColumn("l_partkey", $"l_partkey" + lit(i.toLong * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    synthesizeShared(s, src, out, k)
  }

  /** The heavy graph/dedup set the true-sf1 sweep times on the LINKED
    * corpus (VERDICT r9 task #4's named five). */
  private val LinkedQueries = Seq("q66_dedup_groups", "q101_substring_dedup",
    "q130_pagerank", "q144_triangle_stats", "q172_hits")

  /** Forced-route survival rows (VERDICT r9 task #1's done criterion):
    * a CONTINUOUS synthetic duration (unique per row, so the spine is
    * corpus-sized) through kaplanMeier/logRank with maxSpineRows = 1 —
    * the distributed prefix route is what's being scaled, not the
    * sequential window the small fixtures take. */
  private def survivalOps(s: SparkSession): Seq[(String, String => DataFrame)] = {
    import s.implicits._
    def obs(dir: String) = s.read.parquet(s"$dir/events.parquet")
      .select(
        ($"event_id" * 1000 + pmod(xxhash64($"event_id"), lit(997)))
          .as("dur"),
        ($"event_id" % 4 =!= 0).cast("long").as("obsd"),
        when($"user_id" % 2 === 0, "A").otherwise("B").as("side"))
    Seq(
      "op_kaplan_meier_routed" -> ((dir: String) =>
        operators.TimeSeries.kaplanMeier(obs(dir), "dur", "obsd",
          maxSpineRows = 1L)),
      "op_logrank_routed" -> ((dir: String) =>
        operators.Hypothesis.logRank(obs(dir), "dur", "obsd", "side", "A",
          maxSpineRows = 1L)))
  }

  def main(args: Array[String]): Unit = {
    val src = Harness.sfDir
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    // the cluster posture's oversized shuffle partitions (8 x cores) + AQE
    // coalescing: the production posture for a data-size sweep. At ×1 AQE
    // folds the extra reduce partitions away; at ×K the wide stages (wedge
    // aggregates, pair joins) keep per-task state heap-sized instead of
    // spilling through K×-fat fixed partitions — on a real cluster
    // partitions scale with data, and a fixed count would misattribute
    // spill cost as algorithmic superlinearity.
    val spark = Harness.session(Posture.cluster(Harness.cpus))

    // SPARK_GRAFT_SCALE_MODE=linked switches to the true-sf1 shape:
    // hash-linked giant-component corpus, the heavy graph/dedup five,
    // and the forced-route survival operators
    val linked = sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("linked")
    val tag = if (linked) "linked_" else ""
    val d1 = s"/tmp/graft_scale_${tag}x1"
    val dk = s"/tmp/graft_scale_${tag}x$k"
    System.err.println(s"[scalebench] synthesizing ${tag}x1 + ${tag}x$k from $src")
    if (linked) { synthesizeLinked(spark, src, d1, 1); synthesizeLinked(spark, src, dk, k) }
    else { synthesize(spark, src, d1, 1); synthesize(spark, src, dk, k) }

    val opFns = survivalOps(spark).toMap
    def time(name: String, dir: String): Double =
      Harness.timedNoop(spark, "scalebench", name)(
        opFns.get(name).map(_(dir)).getOrElse(SparkEntry.queries(name)(spark, dir)))

    // SPARK_GRAFT_ONLY=q335,q295 spot-benches a subset without re-timing
    // the whole risk set (synthesis still runs once)
    val selected = (if (linked) LinkedQueries ++ opFns.keys.toSeq.sorted
      else RiskQueries).filter(SparkEntry.selected(_))
    val rows = selected.map { q =>
      time(q, d1) // untimed warmup: codegen/JIT paid before either scale
      val t1 = time(q, d1)
      val tk = time(q, dk)
      val ratio = if (t1 > 0 && tk > 0) tk / t1 else -1.0
      System.err.println(f"[scalebench] $q x1=$t1%.2fs x$k=$tk%.2fs ratio=$ratio%.2f")
      (q, t1, tk, ratio)
    }
    val qs = rows.map { case (q, t1, tk, r) =>
      f""""$q":{"x1_sec":$t1%.3f,"x${k}_sec":$tk%.3f,"ratio":$r%.3f}""" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"scale_ratio","mode":"${if (linked) "linked" else "copies"}","data_ratio":$k,"queries":$qs,"src":"$src"}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
        if (linked) "scalebench_linked_out.json" else "scalebench_out.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[scalebench] write failed: $e") }
    spark.stop()
  }
}
