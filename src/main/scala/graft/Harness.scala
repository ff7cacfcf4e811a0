package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Shims

/** The run loop the measurement mains (Bench, PlanDump, ScaleBench) share:
  * where the fixtures are, the session, the hygiene step between queries
  * and the timed noop run. Verify takes only its session from here. */
object Harness {
  /** Fixture scale-factor directory. */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local cores, default every available core. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Posture-profiled local session (SessionPostureSpec pins the default
    * profile's config map; SPARK_GRAFT_SHUFFLE_PARTITIONS etc. tune it). */
  def session(posture: Posture = null): SparkSession = Session.local(cpus, posture)

  /** Hygiene between queries (untimed): a query must not inherit the
    * previous one's cached blocks or streaming memory-sink tables. It
    * launches no job, so it adds nothing to a query's [[Profile]]. */
  def hygiene(spark: SparkSession): Unit = try {
    spark.catalog.clearCache()
    Shims.tempViewNames(spark).filter(_.startsWith("graft_s")).foreach(spark.catalog.dropTempView)
  } catch { case _: Throwable => () }

  /** Builds `df` and writes it to the noop sink; returns the wall seconds
    * of both, then runs [[hygiene]]. The noop sink materializes every
    * output row and column: count() would let Catalyst prune computed
    * columns and overstate throughput. A failure returns -1, so a failed
    * query is distinguishable in the JSON and its partial elapsed time
    * never reaches a total. */
  def timedNoop(spark: SparkSession, tag: String, name: String)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: $e")
      -1.0
    } finally hygiene(spark)
  }

  /** Scheduler-side counters of the jobs run since the last [[reset]]:
    * they separate fixed per-job overhead (many tiny jobs) from compute
    * and shuffle cost. `exec_task_run_s` sums `executorRunTime` (task
    * wall time), `exec_task_cpu_s` sums `executorCpuTime`. Listeners see
    * events asynchronously: read the counters after
    * `Shims.drainListenerBus`, or they can miss a query's last stages.
    * `codegen_compiles` is the JVM's count of Janino compiles since
    * [[reset]]: above 0 in a warm run, it names a query whose generated
    * code misses the codegen cache. */
  final class Profile extends SparkListener {
    val jobs, stages, tasks, runMs, cpuNs, shufRead, shufWrite = new LongAdder
    private var compiles0 = compileCount

    private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    def codegenCompiles: Long = compileCount - compiles0

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.increment()
      tasks.add(s.stageInfo.numTasks.toLong)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        shufRead.add(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def reset(): Unit = {
      Seq(jobs, stages, tasks, runMs, cpuNs, shufRead, shufWrite).foreach(_.reset())
      compiles0 = compileCount
    }

    def json: String =
      f"""{"jobs":${jobs.sum},"stages":${stages.sum},"tasks":${tasks.sum},""" +
        f""""exec_task_run_s":${runMs.sum / 1e3}%.2f,"exec_task_cpu_s":${cpuNs.sum / 1e9}%.2f,""" +
        f""""shuf_read_mb":${shufRead.sum / 1048576.0}%.2f,"shuf_write_mb":${shufWrite.sum / 1048576.0}%.2f,""" +
        s""""codegen_compiles":$codegenCompiles}"""
  }
}
