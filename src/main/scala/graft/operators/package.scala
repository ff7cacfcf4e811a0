package graft

import org.apache.spark.sql.DataFrame

/** Cross-operator utilities: the lineage/caching barrier every iterative
  * or multi-consumer operator routes through.
  *
  * Fault-tolerance posture (the one knob that differs between local and
  * multi-executor clusters): by default a barrier is `localCheckpoint` —
  * blocks live on executors, non-replicated, lineage severed — which is
  * the right price locally and on stable clusters (no re-planning cost,
  * blocks freed by the ContextCleaner with the frame, nothing pinned in
  * the CacheManager). Its tradeoff is that an executor loss or a
  * dynamic-allocation downscale turns a previously-recomputable result
  * into a job failure, because the severed lineage cannot rebuild the
  * lost blocks.
  *
  * Set `spark.graft.checkpoint.reliable=true` AND
  * `sparkContext.setCheckpointDir(...)` to route every graft barrier to a
  * RELIABLE checkpoint instead: blocks are written to the (HDFS/object
  * store) checkpoint dir and survive any executor loss, at the cost of a
  * write+read round trip per barrier. This is the recommended posture for
  * long multi-hour jobs on preemptible/spot executors; leave it off for
  * local runs and short jobs. If the flag is set but no checkpoint dir is
  * configured, barriers fall back to localCheckpoint (reliable
  * checkpointing without a directory would throw deep inside an
  * operator).
  */
package object operators {

  private def reliableOn(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpoint.reliable")
      .exists(_.equalsIgnoreCase("true")) &&
      spark.sparkContext.getCheckpointDir.isDefined
  }

  /** Barrier verbs for every operator in this package (no import needed —
    * package-object implicits are in scope package-wide).
    *
    * `barrier()` — EAGER: materializes now, severs lineage; use for
    * multi-consumer artifacts and per-iteration lineage cuts (the
    * GC-lifetime discipline: nothing registers in the CacheManager, so
    * the cache-hygiene gates stay green).
    *
    * `barrierLazy()` — LAZY: sever lineage at first materialization; use
    * as a pure plan pin (e.g. separating sequential `aggregate` folds so
    * CollapseProject cannot re-inline one into the other) when the caller
    * may never execute the frame.
    */
  implicit final class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier(): DataFrame =
      if (reliableOn(df)) df.checkpoint() else df.localCheckpoint()
    def barrierLazy(): DataFrame =
      if (reliableOn(df)) df.checkpoint(false) else df.localCheckpoint(false)

    /** True when the frame has at least one row: the emptiness probe of
      * every fixed-point loop. One job (after any shuffle stages the plan
      * needs); each task stops at its first row. Not `limit(1).count()`:
      * a Limit's generated code names its counter `_limit_counter_<n>`
      * with `n` drawn from a JVM-global id, so every probe is new code
      * text that misses the codegen cache and recompiles. Not
      * `Dataset.isEmpty` either: it takes the `executeTake` path, which on
      * an empty frame of P partitions runs about log₄P jobs — and a
      * fixed-point loop's last probe is always empty. */
    def hasRows(): Boolean =
      df.queryExecution.toRdd
        .mapPartitions(it => Iterator.single(it.hasNext))
        .collect().contains(true)
  }
}
