package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query execution profile: wall seconds plus the scheduler-side
  * counters that explain WHERE the time goes (job count, stage count,
  * task count, summed task run and CPU time, shuffle bytes). The guide's §1
  * "measure first" companion to Bench — Bench answers "how long", this
  * answers "how many jobs/shuffles and how much task time", which
  * separates fixed per-job overhead (many tiny jobs) from genuine
  * compute/shuffle cost.
  *
  * Output: one CSV line per query on stdout,
  * `name,wall_s,jobs,stages,tasks,exec_task_run_s,exec_task_cpu_s,shuf_read_mb,shuf_write_mb`:
  * `exec_task_run_s` sums `executorRunTime` (task wall time) and
  * `exec_task_cpu_s` sums `executorCpuTime`.
  * Timing methodology matches Bench (noop sink, untimed first pass payn
  * codegen, second pass reported).
  */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    val spark = Session.local(cpus.toInt)

    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val execMs = new AtomicLong
    val cpuNs = new AtomicLong
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val stageDetail = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("true")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          execMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          if (stageDetail) {
            val i = s.stageInfo
            val dur = (i.completionTime.getOrElse(0L)
              - i.submissionTime.getOrElse(0L))
            System.err.println(f"[stage] id=${i.stageId}%-5d " +
              f"tasks=${i.numTasks}%-4d wall=${dur}%-6d " +
              f"exec=${m.executorRunTime}%-7d cpu=${m.executorCpuTime / 1000000}%-7d " +
              f"shR=${m.shuffleReadMetrics.totalBytesRead / 1024}%-8d " +
              f"shW=${m.shuffleWriteMetrics.bytesWritten / 1024}%-8d " +
              s"name=${i.name.takeWhile(_ != '\n').take(110)}")
          }
        }
      }
    })
    def resetAll(): Unit = Seq(jobs, stages, tasks, execMs, cpuNs, shufR, shufW)
      .foreach(_.set(0L))

    def hygiene(): Unit = try {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .filter(t => t.name.startsWith("graft_s") && t.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
    } catch { case _: Throwable => () }

    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val w =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name failed: $e"); -1.0 }
      hygiene()
      w
    }

    println("name,wall_s,jobs,stages,tasks,exec_task_run_s,exec_task_cpu_s,shuf_read_mb,shuf_write_mb")
    SparkEntry.selectedQueries.foreach { case (name, fn) =>
      (1 until passes).foreach(_ => runOnce(name, fn)) // untimed warmups
      Thread.sleep(150); resetAll()
      val wall = runOnce(name, fn)
      Thread.sleep(300) // listener bus is async; let counters settle
      println(f"$name,$wall%.3f,${jobs.get},${stages.get},${tasks.get}," +
        f"${execMs.get / 1e3}%.2f,${cpuNs.get / 1e9}%.2f,${shufR.get / 1048576.0}%.2f," +
        f"${shufW.get / 1048576.0}%.2f")
    }
    spark.stop()
  }
}
