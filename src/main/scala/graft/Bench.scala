package graft
import graft.Harness.{cpus, sfDir}
import org.apache.spark.sql.graft.Shims
object Bench {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    // Steady-state methodology (JMH-style): per query, one untimed warmup
    // pass pays the one-shot codegen/JIT/class-loading cost, then the timed
    // pass measures actual plan execution. The cold (first-run) total is
    // reported alongside for transparency.
    // SPARK_GRAFT_ONLY=q101,q82 restricts the run for single-query
    // iteration; unset = full suite
    val sorted = SparkEntry.selectedQueries
    // Untimed sacrificial query: session init, first-plan analysis, codegen
    // compiler and noop-sink class loading otherwise land entirely on the
    // first timed query (q01 measured 3.2x its own cost in r6 purely from
    // suite position). A scan + shuffle agg touches all of those paths.
    val warmup = Harness.timedNoop(spark, "bench", "warmup") {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy(col("r_name")).agg(count(lit(1)))
    }
    // never silent: a skipped warmup re-absorbs the ~3.2x session-init
    // bias into the first timed query and skews bench comparisons
    if (warmup < 0) System.err.println("[bench] WARNING warmup skipped")
    val cold = sorted.map { case (name, fn) =>
      Harness.timedNoop(spark, "bench", name)(fn(spark, sfDir))
    }
    // one further timed pass; per query report the MINIMUM of the two
    // executions — the noise floor. This machine shows bursty external
    // load (individual sub-second queries spike >10x run-to-run); min-of-N
    // measures the code rather than the interference, and the cold run
    // acts as the fallback when the warm pass catches a burst.
    // The warm pass also attributes each query's time: jobs, stages,
    // tasks, task run and CPU time, shuffle bytes.
    val profile = new Harness.Profile
    // late events of the cold pass must not reach the new listener
    Shims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(profile)
    val warm = sorted.map { case (name, fn) =>
      profile.reset()
      val w = Harness.timedNoop(spark, "bench", name)(fn(spark, sfDir))
      Shims.drainListenerBus(spark)
      (w, profile.json)
    }
    spark.sparkContext.removeSparkListener(profile)
    val results = sorted.lazyZip(cold).lazyZip(warm).map { case ((name, _), c, (w, _)) =>
      name -> Seq(c, w).filter(_ >= 0).minOption.getOrElse(-1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val profiles = sorted.zip(warm).map { case ((name, _), (_, p)) => s"\"$name\":$p" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.filter(_ >= 0).sum
    // the reference's own metric: micro-batched request throughput
    // (its README models a 1,000 items/s server ceiling and ~909 items/s
    // batched; this measures the façade end-to-end incl. per-item futures)
    def grouperTrial(): Double = {
      import scala.concurrent.Await
      import scala.concurrent.duration._
      implicit val enc = org.apache.spark.sql.Encoders.scalaLong
      val g = graft.streaming.Grouper.start[Long, Long](spark,
        ds => ds.collect().toSeq.map(_ + 1), capacity = 10000, intervalMs = Some(10L))
      val n = 5000
      val t0 = System.nanoTime()
      val fs = (1L to n).map(g.submit(_))
      fs.foreach(Await.result(_, 120.seconds))
      val rate = n / ((System.nanoTime() - t0) / 1e9)
      g.close()
      rate
    }
    // best of two trials, mirroring the per-query min: external load
    // bursts suppress a single trial's rate by 4-5x on this machine
    // (the metric's historical contract — kept comparable across rounds)
    val grouperRate = math.max(grouperTrial(), grouperTrial())
    // host attribution (round-10 verdict): commit an isolated best-of-10
    // probe AND a fixed single-core workload unit with every bench, so a
    // cross-round items/s swing decomposes into host speed (unit moves)
    // vs lane-code change (probe moves against a flat unit)
    val grouperProbe10 = (1 to 10).map(_ => grouperTrial()).max
    val hostUnitMs = {
      def once(): Double = {
        val t0 = System.nanoTime()
        var h = 1469598103934665603L // FNV offset basis: arbitrary odd seed
        var i = 0
        while (i < (1 << 26)) { h = (h ^ i) * 1099511628211L; i += 1 }
        // data dependence defeats dead-code elimination; never true
        if (h == 42L) System.err.print("")
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).map(_ => once()).min
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","timing":"per-query min of cold + warm executions","cold_total":$coldTotal,"queries":$qs,"profile":$profiles,"grouper_items_per_sec":$grouperRate,"grouper_probe_best_of_10":$grouperProbe10,"host_single_core_unit_ms":$hostUnitMs,"sf":"$sfDir"}"""
    val benchOutPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    println(line)
    // stdout gets truncated by log capture; the file keeps every
    // per-query time inspectable after the run
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(benchOutPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] bench_out.json write failed: $e") }
    // Compact headline printed LAST: the full line above is ~70 KB (418
    // per-query times and profiles) and a tail-capture of stdout truncates it
    // mid-line, leaving no parseable JSON in the capture (r11's cross-round
    // comparison came back empty for exactly this reason). This line is
    // <300 bytes, carries every suite-level number, names the per-query
    // file, and survives any tail window. Additive: the full contract line
    // is still printed and still written to the file, unchanged.
    println(s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"grouper_items_per_sec":$grouperRate,"grouper_probe_best_of_10":$grouperProbe10,"host_single_core_unit_ms":$hostUnitMs,"sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"queries_file":"$benchOutPath"}""")
    spark.stop()
  }
}
