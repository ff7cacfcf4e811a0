package layerbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Session, SparkEntry}

/** The benchmark's JVM side. `run` executes one workload and writes every
  * metric, with its unit and sample count, to `--out` as JSON; `capture`
  * records the expected result of every benchmarked query.
  *
  * Layers are timed from outside, around the public entry points:
  *  - construction: `SparkEntry.queries(name)(spark, dir)` (graft.queries
  *    and graft.operators, including eager `barrier()` jobs);
  *  - planning: `df.queryExecution.executedPlan`, with the analysis,
  *    optimization and planning phases from its `tracker` (Catalyst plus
  *    the graft.plans rules registered through GraftExtensions);
  *  - execution: the planned query run once, every row checksummed;
  *  - the lane: `Grouper.start` / `submit` / `close`.
  */
object Main {
  val Workloads: Map[String, Seq[String]] = Map(
    "barrier_heavy" -> Seq("q220_kcore", "q297_seasonal_residuals"),
    "shuffle_heavy" -> Seq("q145_basket_pairs", "q213_item_cosine",
      "q129_fuzzy_join"))

  // shares of --seconds: query passes, then the lane's untimed warm-up
  // and its three measured phases
  val QueryShare = 0.4
  val LaneWarmShare = 0.1
  val LowShare = 0.25
  val HighShare = 0.25
  val SaturationShare = 0.4
  val LowRate = 2000.0
  val HighRate = 16000.0
  val Setups = 3
  val MinPasses = 4
  val QueryTimeoutS = 60L
  val LaneTimeoutMs = 30000L
  val LatencyLimitMs = 1000.0

  final case class Args(mode: String, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: String, expected: String,
      out: String, dataDir: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv.getOrElse("mode", "run"), kv.getOrElse("workload", ""),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "20").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("work", "work"),
      kv.getOrElse("expected", "expected.json"), kv.getOrElse("out", "result.json"),
      kv.get("data-dir"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.mode match {
      case "run" => run(a)
      case "capture" => capture(a)
      case m => fail(s"unknown mode $m")
    }
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[layerbench] $msg")
    sys.exit(2)
  }

  /** Exact-name lookup: an unknown name fails before any work starts. */
  def resolve(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    if (unknown.nonEmpty) fail(s"unknown query name(s): ${unknown.mkString(", ")}")
    names.map(n => n -> registry(n))
  }

  /** Seeded order of the queries within one pass. */
  def passOrder[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] = {
    // mixed first: java.util.Random gives near seeds near first draws
    val mixed = new java.util.SplittableRandom(seed * 1000003L + pass).nextLong()
    new scala.util.Random(mixed).shuffle(xs)
  }

  // ---- result bookkeeping ----

  final case class Metric(value: Double, unit: String, samples: Int)

  final class Outcomes {
    var attempted = 0L
    val failures = mutable.LinkedHashMap[String, Long]()
    def attempt(n: Long = 1): Unit = attempted += n
    def failure(op: String, n: Long = 1): Unit =
      if (n > 0) failures(op) = failures.getOrElse(op, 0L) + n
    def failed: Long = failures.values.sum
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def writeResult(path: String, o: Outcomes, metrics: Seq[(String, Metric)],
      notes: Seq[String]): Unit = {
    val ms = metrics.map { case (k, m) =>
      s"${jsonStr(k)}: {\"value\": ${jsonNum(m.value)}, \"unit\": ${jsonStr(m.unit)}, \"samples\": ${m.samples}}"
    }.mkString("{", ", ", "}")
    val fs = o.failures.map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")
    val json = s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, "failures": $fs, "metrics": $ms, "notes": ${notes.map(jsonStr).mkString("[", ", ", "]")}}"""
    Files.write(Paths.get(path), (json + "\n").getBytes(StandardCharsets.UTF_8))
  }

  // ---- expected results ----

  /** Per query: the result expected.json records. */
  def loadExpected(path: String): Map[String, Checksum] = {
    val qs = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path)).get("queries")
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(qs.fieldNames()).asScala.toSeq
    names.map { n =>
      val q = qs.get(n)
      n -> Checksum(q.get("rows").asLong(),
        java.lang.Long.parseUnsignedLong(q.get("checksum").asText(), 16))
    }.toMap
  }

  /** The tables of a fixture directory: one `<name>.parquet` each. */
  def tables(dir: String): Seq[String] =
    Option(new File(dir).list()).getOrElse(fail(s"no table directory $dir")).toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  // ---- queries ----

  final case class QueryRun(name: String, constructS: Double, planS: Double,
      execS: Double, phasesMs: Map[String, Long], result: Option[Checksum]) {
    def totalS: Double = constructS + planS + execS
  }

  private val watchdog = Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
    val t = new Thread(r, "layerbench-watchdog"); t.setDaemon(true); t
  }

  /** Builds, plans and executes one query; `None` result on failure. */
  def runQuery(spark: SparkSession, dir: String, name: String,
      fn: (SparkSession, String) => DataFrame, span: String,
      trace: Option[Trace]): QueryRun = {
    // a query running past its timeout has its jobs cancelled, which
    // makes it fail and count instead of hanging the run
    val guard = watchdog.schedule(new Runnable {
      def run(): Unit = spark.sparkContext.cancelAllJobs()
    }, QueryTimeoutS, TimeUnit.SECONDS)
    var tc = 0.0; var tp = 0.0; var tx = 0.0
    var phases = Map.empty[String, Long]
    try {
      trace.foreach(_.setSpan(s"c|$span|$name"))
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      trace.foreach(_.setSpan(s"x|$span|$name"))
      val qe = df.queryExecution
      qe.executedPlan
      val t2 = System.nanoTime()
      val cs = Checksum.execute(qe)
      val t3 = System.nanoTime()
      tc = (t1 - t0) / 1e9; tp = (t2 - t1) / 1e9; tx = (t3 - t2) / 1e9
      phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      QueryRun(name, tc, tp, tx, phases, Some(cs))
    } catch {
      case e: Throwable =>
        System.err.println(s"[layerbench] $name failed: $e")
        QueryRun(name, tc, tp, tx, phases, None)
    } finally {
      guard.cancel(false)
      trace.foreach(_.setSpan(null))
      hygiene(spark)
    }
  }

  /** Queries must not inherit each other's cached blocks or views. */
  def hygiene(spark: SparkSession): Unit = try {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("graft_s") && t.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  } catch { case _: Throwable => () }

  def check(o: Outcomes, expected: Map[String, Checksum], q: QueryRun): Unit = {
    o.attempt()
    q.result match {
      case None => o.failure(s"query.${q.name}.error")
      case Some(cs) =>
        if (!expected.get(q.name).contains(cs)) {
          System.err.println(s"[layerbench] ${q.name} result mismatch: rows=${cs.rows} checksum=${cs.hex}")
          o.failure(s"query.${q.name}.mismatch")
        }
    }
  }

  // ---- the lane ----

  /** Starts a lane, sends one item, closes it: the lane's warm-up. */
  def laneWarmup(spark: SparkSession, o: Outcomes, seed: Long): Unit = {
    val lane = new Lane(spark)
    lane.start()
    val p = new Phase("warmup", Schedule.values(seed, 0, 1), Array(0L))
    lane.openLoop(p)
    checkPhase(o, p, lane.drain(p, LaneTimeoutMs))
    if (!lane.close(LaneTimeoutMs)) o.failure("grouper.close")
  }

  def checkPhase(o: Outcomes, p: Phase, drained: Boolean): Unit = {
    o.attempt(p.submitted.toLong)
    var missing = 0L; var double = 0L; var wrong = 0L
    var i = 0
    while (i < p.submitted) {
      val c = p.completions.get(i)
      if (c == 0) missing += 1
      if (c > 1) double += 1
      if (p.wrong.get(i) != 0) wrong += 1
      i += 1
    }
    if (!drained && missing == 0) missing = 1
    o.failure(s"grouper.${p.name}.timeout", missing)
    o.failure(s"grouper.${p.name}.double", double)
    o.failure(s"grouper.${p.name}.wrong", wrong)
  }

  private def ms(ns: Long): Double = ns / 1e6

  /** Latency from scheduled send to callback, ms, of completed items. */
  def latencies(p: Phase): Seq[Double] =
    (0 until p.submitted).filter(p.completions.get(_) > 0)
      .map(i => ms(p.done(i) - p.due(i)))

  /** Whether the number of outstanding items grew over the phase:
    * outstanding at the last arrival against outstanding half-way. */
  def backlogGrew(p: Phase, rate: Double): Boolean = {
    def outstanding(t: Long) =
      (0 until p.submitted).count(i => p.submitEnd(i) <= t &&
        (p.completions.get(i) == 0 || p.done(i) > t))
    val n = p.submitted
    n > 1 && outstanding(p.due(n - 1)) > 1.5 * outstanding(p.due(n / 2)) + 0.1 * rate
  }

  // ---- set-up ----

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def run(a: Args): Unit = {
    val names = Workloads.getOrElse(a.workload,
      fail(s"unknown workload '${a.workload}'; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val queries = resolve(names)
    val expected = loadExpected(a.expected)
    val o = new Outcomes
    val notes = ArrayBuffer[String]()
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up, several times: a session, the input tables registered, and
    // a lane started, used for one item and closed. The first is timed
    // from JVM launch; the later ones start from a stopped session and
    // register their own copy of the tables (under a new path, so nothing
    // cached by path carries over), so they repeat the same work. One
    // untimed query pass follows, so the timed passes start warm.
    val launchMs = sys.props.get("layerbench.launchMs").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var dir = ""
    for (k <- 0 until Setups) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.local(cores)
      dir = s"${a.work}/data_$k"
      tables(dir).foreach(graft.sources.Tables.table(spark, dir, _))
      laneWarmup(spark, o, a.seed)
      setupS += (if (k == 0) (System.currentTimeMillis() - launchMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }
    val warm0 = System.nanoTime()
    passOrder(queries, a.seed, -1).foreach { case (n, fn) =>
      check(o, expected, runQuery(spark, dir, n, fn, "warmup", None))
    }
    notes += setupS.map(w => f"$w%.2f").mkString("set-ups, s: ", " ", "") +
      f"; warm-up pass ${(System.nanoTime() - warm0) / 1e9}%.2f s; " +
      f"cold start, JVM launch to warm-up pass done: ${(System.currentTimeMillis() - launchMs) / 1e3}%.2f s"
    val sc = spark.sparkContext

    val trace = if (a.trace) {
      val t = new Trace(sc); sc.addSparkListener(t); Some(t)
    } else None
    val progress = new LaneProgress
    if (a.trace) spark.streams.addListener(progress)

    // ---- query passes, closed loop, one client ----
    val passWall = ArrayBuffer[Double]()
    val passRuns = ArrayBuffer[Seq[QueryRun]]()
    val queryDeadline = System.nanoTime() + (QueryShare * a.seconds * 1e9).toLong
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < queryDeadline) {
      val t0 = System.nanoTime()
      val runs = passOrder(queries, a.seed, pass).map { case (n, fn) =>
        runQuery(spark, dir, n, fn, s"$pass", trace)
      }
      passWall += (System.nanoTime() - t0) / 1e9
      runs.foreach(check(o, expected, _))
      passRuns += runs
      pass += 1
    }
    trace.foreach(t => if (!t.settle()) notes += "listener bus did not settle")

    // ---- the lane: open loop at two rates, then saturation ----
    System.gc()
    val lane = new Lane(spark)
    lane.start()
    def laneProgress(p: Phase, before: Int): Vector[Progress] = {
      if (!a.trace) Vector.empty
      else {
        val want = before + p.batchList.size
        val deadline = System.nanoTime() + 5000000000L
        while (progress.batches.size < want && System.nanoTime() < deadline)
          Thread.sleep(5)
        progress.snapshot().slice(before, want)
      }
    }
    def open(name: String, salt: Long, rate: Double, share: Double) = {
      val due = Schedule.arrivals(a.seed, salt, rate, share * a.seconds)
      val p = new Phase(name, Schedule.values(a.seed, salt, due.length), due.clone())
      val before = progress.batches.size
      lane.openLoop(p)
      checkPhase(o, p, lane.drain(p, LaneTimeoutMs))
      (p, laneProgress(p, before))
    }
    open("lane_warmup", 4, HighRate, LaneWarmShare)
    val (low, _) = open("low", 1, LowRate, LowShare)
    val (high, highProgress) = open("high", 2, HighRate, HighShare)
    val satSeconds = SaturationShare * a.seconds
    val sat = new Phase("saturation",
      Schedule.values(a.seed, 3, (200000 * satSeconds).toInt),
      new Array[Long]((200000 * satSeconds).toInt))
    val satStart = System.nanoTime()
    lane.closedLoop(sat, satSeconds)
    val satEnd = System.nanoTime()
    checkPhase(o, sat, lane.drain(sat, LaneTimeoutMs))
    if (!lane.close(LaneTimeoutMs)) o.failure("grouper.close")

    // ---- metrics ----
    val m = ArrayBuffer[(String, Metric)]()
    def put(k: String, v: Double, unit: String, n: Int) = m += k -> Metric(v, unit, n)
    put("setup_s", Stats.median(setupS.toSeq), "s", setupS.size)
    put("pass_s", Stats.median(passWall.toSeq), "s", passWall.size)
    notes += passWall.map(w => f"$w%.2f").mkString("pass walls, s: ", " ", "")
    val perQuery = passRuns.flatten.filter(_.result.isDefined).groupBy(_.name)
    perQuery.toSeq.sortBy(_._1).foreach { case (n, rs) =>
      def med(f: QueryRun => Double) = Stats.median(rs.map(f).toSeq)
      notes += f"query $n: median ${med(_.totalS)}%.3f s (construct ${med(_.constructS)}%.3f, plan ${med(_.planS)}%.3f, exec ${med(_.execS)}%.3f) over ${rs.size}"
    }
    put("query_geomean_s",
      Stats.geomean(perQuery.values.map(rs => Stats.median(rs.map(_.totalS).toSeq)).toSeq),
      "s", perQuery.values.map(_.size).sum)
    for ((p, tag, rate) <- Seq((low, "low", LowRate), (high, "high", HighRate))) {
      val lat = latencies(p)
      val p99 = Stats.percentile(lat, 0.99)
      put(s"grouper.latency_ms.p50.$tag", Stats.percentile(lat, 0.5), "ms", lat.size)
      put(s"grouper.latency_ms.p99.$tag", p99, "ms", lat.size)
      notes += f"grouper $tag (${p.submitted} items): p99 $p99%.1f ms " +
        (if (p99 <= LatencyLimitMs) "meets" else "misses") +
        f" the ${LatencyLimitMs}%.0f ms limit; backlog grew: ${backlogGrew(p, rate)}"
    }
    // over the whole phase: the four lanes switch at random between
    // running in step (each takes a quarter of the capacity and all
    // complete together) and running out of step (smaller,
    // interval-flushed batches, a lower rate), so any shorter window reads
    // the switches' timing. Items complete a batch at a time, so the rate
    // is taken between two completion instants, not over a fixed window
    // that would cut a batch in two
    val doneAt = (0 until sat.submitted).filter(sat.completions.get(_) > 0)
      .map(sat.done(_)).filter(_ <= satEnd).sorted
    val satDone = doneAt.drop(1).count(_ > doneAt.head)
    put("grouper.max_items_per_s",
      if (satDone == 0) Double.NaN else satDone / ((doneAt.last - doneAt.head) / 1e9),
      "1/s", satDone)

    if (a.trace) layerMetrics(passRuns.toSeq, trace.get, high, highProgress, low, cores, put)
    put("peak_rss_mb", peakRssMb(), "MB", 1)
    notes += f"error_rate ${if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted}%.6f (${o.failed} of ${o.attempted} operations)"
    spark.stop()
    writeResult(a.out, o, m.toSeq, notes.toSeq)
    watchdog.shutdownNow()
  }

  /** Per-layer metrics of the traced run: per-pass sums, median over
    * passes; lane metrics over the `high` phase. */
  def layerMetrics(passes: Seq[Seq[QueryRun]], t: Trace, high: Phase,
      prog: Vector[Progress], low: Phase, cores: Int,
      put: (String, Double, String, Int) => Unit): Unit = {
    val n = passes.size
    def perPass(f: (Int, Seq[QueryRun]) => Double) =
      Stats.median(passes.zipWithIndex.map { case (rs, i) => f(i, rs) })
    def spanSum(kind: String, f: Counters => Long)(pass: Int, rs: Seq[QueryRun]) =
      rs.map(r => f(t.counters(s"$kind|$pass|${r.name}")).toDouble).sum
    put("construct.s", perPass((_, rs) => rs.map(_.constructS).sum), "s", n)
    put("construct.jobs", perPass(spanSum("c", _.jobs.get)), "count", n)
    put("construct.task_run_s", perPass(spanSum("c", _.runMs.get)) / 1e3, "s", n)
    for ((phase, key) <- Seq("analysis" -> "plan.analysis_s",
        "optimization" -> "plan.optimization_s", "planning" -> "plan.planning_s"))
      put(key, perPass((_, rs) => rs.map(_.phasesMs.getOrElse(phase, 0L)).sum / 1e3), "s", n)
    val execS = (i: Int, rs: Seq[QueryRun]) => rs.map(r => r.planS + r.execS).sum
    put("exec.s", perPass(execS), "s", n)
    put("exec.jobs", perPass(spanSum("x", _.jobs.get)), "count", n)
    put("exec.stages", perPass(spanSum("x", _.stages.get)), "count", n)
    put("exec.tasks", perPass(spanSum("x", _.tasks.get)), "count", n)
    put("exec.task_run_s", perPass(spanSum("x", _.runMs.get)) / 1e3, "s", n)
    put("exec.task_cpu_s", perPass(spanSum("x", _.cpuNs.get)) / 1e9, "s", n)
    put("exec.slot_busy", perPass((i, rs) =>
      spanSum("x", _.runMs.get)(i, rs) / 1e3 / (execS(i, rs) * cores)), "ratio", n)
    put("exec.shuffle_read_mb", perPass(spanSum("x", _.shuffleRead.get)) / 1048576, "MB", n)
    put("exec.shuffle_write_mb", perPass(spanSum("x", _.shuffleWrite.get)) / 1048576, "MB", n)
    put("exec.spill_mb", perPass(spanSum("x", _.spill.get)) / 1048576, "MB", n)
    put("exec.gc_s", perPass(spanSum("x", _.gcMs.get)) / 1e3, "s", n)
    def both(f: Counters => Long)(i: Int, rs: Seq[QueryRun]) =
      spanSum("c", f)(i, rs) + spanSum("x", f)(i, rs)
    put("sources.scan_mb", perPass(both(_.inputBytes.get)) / 1048576, "MB", n)
    put("sources.records_read", perPass(both(_.inputRecords.get)), "count", n)

    val submitUs = (0 until high.submitted).map(i => (high.submitEnd(i) - high.submitStart(i)) / 1e3)
    put("grouper.submit_us.p50", Stats.percentile(submitUs, 0.5), "us", submitUs.size)
    put("grouper.submit_us.p99", Stats.percentile(submitUs, 0.99), "us", submitUs.size)
    val batches = high.batchList
    // per item: submit returned to its batch function started, so that
    // pickup + batch function + completion accounts for item latency
    val pickup = batches.flatMap(b => b.items.map(i => ms(b.startNs - high.submitEnd(i))))
    put("grouper.pickup_ms.p50", Stats.percentile(pickup, 0.5), "ms", pickup.size)
    put("grouper.pickup_ms.p99", Stats.percentile(pickup, 0.99), "ms", pickup.size)
    put("grouper.batch_fn_ms.p50", Stats.percentile(batches.map(b => ms(b.endNs - b.startNs)), 0.5), "ms", batches.size)
    val complete = batches.map(b => ms(b.items.map(high.done(_)).max - b.endNs))
    put("grouper.complete_ms.p50", Stats.percentile(complete, 0.5), "ms", batches.size)
    put("grouper.batches", batches.size.toDouble, "count", 1)
    put("grouper.batch_items.mean", Stats.mean(batches.map(_.items.length.toDouble)), "count", batches.size)
    def prog50(f: Progress => Long) = Stats.percentile(prog.map(f(_).toDouble), 0.5)
    put("grouper.trigger_ms.p50", prog50(_.triggerMs), "ms", prog.size)
    put("grouper.add_batch_ms.p50", prog50(_.addBatchMs), "ms", prog.size)
    put("grouper.wal_commit_ms.p50", prog50(_.walCommitMs), "ms", prog.size)
    put("grouper.commit_offsets_ms.p50", prog50(_.commitOffsetsMs), "ms", prog.size)
    put("grouper.query_planning_ms.p50", prog50(_.queryPlanningMs), "ms", prog.size)
    val late = Seq(low, high).flatMap(p => (0 until p.submitted).map(i => ms(p.submitStart(i) - p.due(i))))
    put("gen.late_ms.max", late.max, "ms", late.size)
  }

  // ---- expected-result capture ----

  /** Runs every benchmarked query twice on the fixture tables, checks the
    * two results agree, and writes rows and checksum per query to `--out`. */
  def capture(a: Args): Unit = {
    val queries = resolve(Workloads.values.flatten.toSeq.sorted)
    val dir = a.dataDir.getOrElse(fail("--data-dir is required"))
    val spark = Session.local(Runtime.getRuntime.availableProcessors())
    tables(dir).foreach(graft.sources.Tables.table(spark, dir, _))
    val rows = queries.map { case (n, fn) =>
      val first = runQuery(spark, dir, n, fn, "capture", None)
      val second = runQuery(spark, dir, n, fn, "capture", None)
      if (first.result.isEmpty || first.result != second.result)
        fail(s"$n is not deterministic or failed: ${first.result} vs ${second.result}")
      val cs = second.result.get
      System.err.println(f"[capture] $n%-26s rows=${cs.rows}%8d checksum=${cs.hex} ${second.totalS}%.2fs " +
        f"(construct ${second.constructS}%.2f, plan ${second.planS}%.2f, exec ${second.execS}%.2f)")
      s"    ${jsonStr(n)}: {\"rows\": ${cs.rows}, \"checksum\": ${jsonStr(cs.hex)}}"
    }
    spark.stop()
    val json = s"""{\n  "queries": {\n${rows.mkString(",\n")}\n  }\n}\n"""
    Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
    watchdog.shutdownNow()
  }
}
