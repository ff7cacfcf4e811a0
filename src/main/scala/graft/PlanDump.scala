package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for every (or SPARK_GRAFT_ONLY-filtered)
  * declared query to `<outDir>/<name>_<suffix>.txt` — the optimization
  * rounds' evidence artifact (plans/r11/q..._before.txt / _after.txt).
  *
  * Iterative operators run their internal jobs while the plan is BUILT
  * (barriers, bounded collects), so the dumped tree is the final plan the
  * query returns — checkpointed leaves appear as scan-of-RDD nodes, which
  * is itself the shape claim the plan files document.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r11")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = List.empty[String]
    SparkEntry.selectedQueries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, Harness.sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[plandump] $name failed: $e")
      } finally Harness.hygiene(spark)
    }
    spark.stop()
    if (failed.nonEmpty) {
      // an evidence run must not LOOK successful while artifacts are
      // missing — exit non-zero and name what failed
      System.err.println(s"[plandump] FAILED: ${failed.sorted.mkString(",")}")
      sys.exit(1)
    }
  }
}
