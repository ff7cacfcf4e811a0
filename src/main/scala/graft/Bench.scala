package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // posture-profiled session: identical knobs to before under the
    // default profile (SessionPostureSpec pins the map), env-tunable for
    // deployment experiments (SPARK_GRAFT_SHUFFLE_PARTITIONS etc.)
    val spark = Session.local(cpus.toInt)
    // Steady-state methodology (JMH-style): per query, one untimed warmup
    // pass pays the one-shot codegen/JIT/class-loading cost, then the timed
    // pass measures actual plan execution. The cold (first-run) total is
    // reported alongside for transparency. noop sink materializes every
    // output row/column — count() would let Catalyst prune the computed
    // columns and overstate throughput.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // -1 sentinel: a failed query must be distinguishable in the JSON and
      // must not contribute its partial elapsed time to the total
      val elapsed =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1.0 }
      // hygiene between queries: queries must not inherit each other's
      // cached blocks or streaming memory-sink tables (untimed)
      try {
        spark.catalog.clearCache()
        spark.catalog.listTables().collect()
          .filter(t => t.name.startsWith("graft_s") && t.isTemporary)
          .foreach(t => spark.catalog.dropTempView(t.name))
      } catch { case _: Throwable => () }
      elapsed
    }
    // SPARK_GRAFT_ONLY=q101,q82 restricts the run for single-query
    // iteration; unset = full suite
    val sorted = SparkEntry.selectedQueries
    // Untimed sacrificial query: session init, first-plan analysis, codegen
    // compiler and noop-sink class loading otherwise land entirely on the
    // first timed query (q01 measured 3.2x its own cost in r6 purely from
    // suite position). A scan + shuffle agg touches all of those paths.
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy(col("r_name")).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      // never silent: a skipped warmup re-absorbs the ~3.2x session-init
      // bias into the first timed query and skews bench comparisons
      System.err.println(s"[bench] WARNING warmup skipped: $e")
    }
    val cold = sorted.map { case (name, fn) => name -> runOnce(name, fn) }
    // one further timed pass; per query report the MINIMUM of the two
    // executions — the noise floor. This machine shows bursty external
    // load (individual sub-second queries spike >10x run-to-run); min-of-N
    // measures the code rather than the interference, and the cold run
    // acts as the fallback when the warm pass catches a burst.
    val warm = sorted.map { case (name, fn) => name -> runOnce(name, fn) }
    val results = sorted.zip(warm).map { case ((name, _), (_, w)) =>
      val c = cold.find(_._1 == name).get._2
      val times = Seq(c, w).filter(_ >= 0)
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
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
    val line = s"""{"metric":"total","value":$total,"unit":"sec","timing":"per-query min of cold + warm executions","cold_total":$coldTotal,"queries":$qs,"grouper_items_per_sec":$grouperRate,"grouper_probe_best_of_10":$grouperProbe10,"host_single_core_unit_ms":$hostUnitMs,"sf":"$sfDir"}"""
    val benchOutPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    println(line)
    // stdout gets truncated by log capture; the file keeps every
    // per-query time inspectable after the run
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(benchOutPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] bench_out.json write failed: $e") }
    // Compact headline printed LAST: the full line above is ~13 KB (418
    // per-query entries) and a tail-capture of stdout truncates it
    // mid-line, leaving no parseable JSON in the capture (r11's cross-round
    // comparison came back empty for exactly this reason). This line is
    // <300 bytes, carries every suite-level number, names the per-query
    // file, and survives any tail window. Additive: the full contract line
    // is still printed and still written to the file, unchanged.
    println(s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"grouper_items_per_sec":$grouperRate,"grouper_probe_best_of_10":$grouperProbe10,"host_single_core_unit_ms":$hostUnitMs,"sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"queries_file":"$benchOutPath"}""")
    spark.stop()
  }
}
