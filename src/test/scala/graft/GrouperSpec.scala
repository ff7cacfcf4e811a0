package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ProcessStarts.checkpointForks
import graft.streaming.{Grouper, Streams}

/** Behavioral contracts of the micro-batch façade, mirroring the
  * reference's test blocks (`/root/reference/test/grouper/core_test.clj`,
  * mapping in FIXTURES.md §B).
  */
class GrouperSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)
  import scala.language.postfixOps

  override def afterAll(): Unit = spark.stop()

  private def await[T](f: scala.concurrent.Future[T]): T = Await.result(f, 60.seconds)

  test("invalid arguments are rejected at construction (test:7-16)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    intercept[IllegalArgumentException] {
      Grouper.start[Int, Int](spark, ds => Seq(), capacity = 0)
    }
    intercept[IllegalArgumentException] {
      Grouper.start[Int, Int](spark, ds => Seq(), capacity = 10, intervalMs = Some(-5L))
    }
    intercept[IllegalArgumentException] {
      Grouper.start[Int, Int](spark, null, capacity = 10)
    }
    intercept[IllegalArgumentException] {
      Grouper.start[Int, Int](spark, ds => Seq(), capacity = 10, parallelism = 0)
    }
  }

  test("close drains all submitted items (test:18-28)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val acc = new AtomicInteger(0)
    // no interval: flush only on capacity/close, like :interval nil
    val g = Grouper.startScalar[Int, String](spark, ds => {
      acc.addAndGet(ds.collect().sum); "increased"
    }, capacity = 100, intervalMs = None)
    val f1 = g.submit(1)
    val f2 = g.submit(2)
    g.close()
    assert(acc.get() == 3)
    assert(await(f1) == "increased" && await(f2) == "increased")
    assert(!g.isRunning)
  }

  test("flushNow processes held-back submissions without close (core.clj:53-56)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, Int](spark,
      ds => ds.collect().toSeq.map(_ * 10), capacity = 100, intervalMs = None)
    try {
      val f1 = g.submit(4)
      val f2 = g.submit(5)
      g.flushNow() // wakeUp: early flush well below capacity
      assert(await(f1) == 40 && await(f2) == 50)
      assert(g.isRunning)
    } finally g.close()
  }

  test("submit returns a derefable promise (test:30-36)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, Int](spark, ds => ds.collect().toSeq.map(_ + 1), capacity = 10)
    try assert(await(g.submit(1)) == 2)
    finally g.close()
  }

  test("callbacks fire on success, errbacks on batch failure (test:38-49)") {
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val err = new AtomicReference[Throwable]()
    val g = Grouper.start[String, String](spark,
      ds => ds.collect().toSeq.map(_.toUpperCase), capacity = 10)
    try {
      val ok1 = g.submit("hello", callback = seen.add(_))
      val ok2 = g.submit("world", callback = seen.add(_))
      await(ok1); await(ok2)
      assert(seen.toArray.toSet == Set("HELLO", "WORLD"))
      // a null element makes its whole batch fail (batch-granularity,
      // core.clj:80-83); the stream itself survives
      val bad = g.submit(null, errback = err.set(_))
      val e = intercept[Exception](await(bad))
      assert(e.isInstanceOf[NullPointerException])
      assert(err.get().isInstanceOf[NullPointerException])
      // stream still running and usable after the failed batch
      assert(g.isRunning)
      assert(await(g.submit("again")) == "AGAIN")
    } finally g.close()
  }

  test("submitAttempt derefs a failed batch to the exception VALUE (core.clj:80-83, test:49)") {
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    val g = Grouper.start[String, String](spark,
      ds => ds.collect().toSeq.map(_.toUpperCase), capacity = 10)
    try {
      // success path: the attempt future succeeds with Success(value)
      assert(await(g.submitAttempt("hello")) == scala.util.Success("HELLO"))
      // failure path: deref never throws — like the reference promise,
      // which is `deliver`ed the exception OBJECT on batch failure
      // (core.clj:82-83), the batch exception arrives as the VALUE
      val t = await(g.submitAttempt(null))
      assert(t.isFailure)
      assert(t.failed.get.isInstanceOf[NullPointerException])
      // the stream survives the failed batch
      assert(g.isRunning)
      assert(await(g.submitAttempt("again")) == scala.util.Success("AGAIN"))
    } finally g.close()
  }

  test("submit after close is rejected (test:51-58)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, Int](spark, ds => ds.collect().toSeq, capacity = 10)
    g.close()
    val e = intercept[RuntimeException](g.submit(1))
    assert(e.getMessage.contains("is closed"))
  }

  test("collection result maps positionally (test:60-63)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, Int](spark, ds => ds.collect().toSeq.map(_ + 1), capacity = 10)
    try {
      val f0 = g.submit(0)
      val f1 = g.submit(1)
      assert(await(f0) == 1)
      assert(await(f1) == 2)
    } finally g.close()
  }

  test("scalar result broadcasts to all items in the batch (test:65-68)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.startScalar[Int, Int](spark, _ => 100, capacity = 10)
    try {
      val fs = (1 to 5).map(g.submit(_))
      assert(fs.map(await(_)).toSet == Set(100))
    } finally g.close()
  }

  test("short result collections pad trailing items with null (core.clj:74-76)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, String](spark,
      ds => ds.collect().toSeq.take(1).map(i => s"v$i"), capacity = 100, intervalMs = None)
    val f0 = g.submit(0)
    val f1 = g.submit(1)
    g.close()
    assert(await(f0) == "v0")
    assert(await(f1) == null)
  }

  test("capacity-full flushes immediately even in interval mode (core.clj:42-44)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    // interval is 10 MINUTES: if the capacity trigger didn't push the
    // batch, these futures could not complete inside the await window
    val g = Grouper.start[Int, Int](spark,
      ds => ds.collect().toSeq.map(_ * 2), capacity = 4, intervalMs = Some(600000L))
    try {
      val t0 = System.nanoTime()
      val fs = (1 to 4).map(g.submit(_))
      assert(fs.map(await(_)) == Seq(2, 4, 6, 8))
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(elapsedMs < 30000, s"capacity flush took ${elapsedMs}ms — interval-bound?")
    } finally g.close()
  }

  test("the interval runs from the first item buffered after a flush") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, Int](spark,
      ds => ds.collect().toSeq, capacity = 100, intervalMs = Some(400L))
    try {
      val warm = g.submit(0); g.flushNow(); await(warm)
      // item 1 arms a flush for t0 + 400 ms, then flushNow beats it: that
      // armed flush must not cut item 2's interval short
      val t0 = System.nanoTime()
      val f1 = g.submit(1); g.flushNow(); await(f1)
      val t2 = System.nanoTime()
      await(g.submit(2))
      val waitedMs = (System.nanoTime() - t2) / 1e6
      assert(waitedMs >= 400, s"item 2 flushed after ${waitedMs}ms " +
        s"(submitted ${(t2 - t0) / 1e6}ms after item 1)")
    } finally g.close()
  }

  test("parallelism > 1 executes batches concurrently like the reference pool (test:79-87)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val active = new AtomicInteger(0)
    val maxActive = new AtomicInteger(0)
    val g = Grouper.startScalar[Int, Int](spark, ds => {
      val now = active.incrementAndGet()
      maxActive.getAndUpdate(m => math.max(m, now))
      Thread.sleep(300)
      active.decrementAndGet()
      ds.count().toInt
    }, capacity = 100, intervalMs = Some(10L), parallelism = 4)
    try {
      val fs = (1 to 16).map(g.submit(_))
      fs.foreach(await(_))
      assert(maxActive.get() > 1,
        s"expected concurrent batches with parallelism=4, saw max ${maxActive.get()}")
    } finally g.close()
  }

  test("a user-supplied single-thread pool serializes batch bodies across 4 lanes (core.clj:116-122)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val inBatch = new AtomicBoolean(false)
    val overlapped = new AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val g = Grouper.startOnPool[Int, Int](spark, ds => {
      if (!inBatch.compareAndSet(false, true)) overlapped.set(true)
      Thread.sleep(30)
      inBatch.set(false)
      ds.collect().toSeq.map(_ + 1)
    }, capacity = 3, pool = pool, intervalMs = Some(10L), parallelism = 4)
    try {
      val fs = (1 to 12).map(g.submit(_))
      assert(fs.map(await(_)).sum == (2 to 13).sum)
      assert(!overlapped.get(), "pool of 1 must serialize batch bodies despite 4 lanes")
    } finally { g.close(); pool.shutdown() }
  }

  test("parallelism = 1 executes micro-batches sequentially (core.clj:133-135)") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val inBatch = new AtomicBoolean(false)
    val overlapped = new AtomicBoolean(false)
    val g = Grouper.startScalar[Int, Int](spark, ds => {
      if (!inBatch.compareAndSet(false, true)) overlapped.set(true)
      Thread.sleep(30)
      inBatch.set(false)
      ds.count().toInt
    }, capacity = 2, intervalMs = Some(10L))
    try {
      val fs = (1 to 10).map(g.submit(_))
      fs.foreach(await(_))
      assert(!overlapped.get(), "micro-batches must not run concurrently")
    } finally g.close()
  }

  test("close() of an idle grouper stays latency-bounded despite parked lanes") {
    // the wakeable source parks its idle offset poll up to 100 ms per
    // cycle; query.stop()'s interrupt must unpark it, so close() of a
    // fully idle multi-lane grouper is bounded by ~one park per lane
    // cycle — NOT by wait-out-the-park times lanes. A regression in
    // which Spark drives an overload the park doesn't serve (or stop()
    // stops interrupting the stream thread) shows up here as a stall.
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, Int](spark,
      ds => ds.collect().toSeq.map(_ + 1),
      capacity = 100, intervalMs = Some(10L), parallelism = 4)
    val fs = (1 to 8).map(g.submit(_))
    fs.foreach(await(_))
    Thread.sleep(250) // let every lane go idle and park
    val t0 = System.nanoTime()
    g.close()
    val closeSec = (System.nanoTime() - t0) / 1e9
    // generous CI bound: typical is <1 s; a park-stall regression across
    // 4 lanes with processAllAvailable retries lands well above this
    assert(closeSec < 15.0, f"close() took $closeSec%.1f s — parked-lane stall")
    assert(!g.isRunning)
  }

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  // `n` sequential flushes of one item each: at least `n` micro-batches,
  // each writing one offset-log and one commit-log entry
  private def flushRun(n: Int): Unit = {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val g = Grouper.start[Int, Int](spark,
      ds => ds.collect().toSeq.map(_ + 1), capacity = 100, intervalMs = None)
    try (1 to n).foreach { i =>
      val f = g.submit(i)
      g.flushNow()
      assert(await(f) == i + 1)
    } finally g.close()
  }

  // one lane start and one streaming drain through the shared scope
  private def startAndDrain() = {
    flushRun(1)
    import spark.implicits._
    val in = MemoryStream[Int](spark)
    in.addData(1, 2, 3)
    assert(Streams.drain(in.toDF(), "append").count() == 3)
  }

  test("start leaves the session's checkpoint file manager class as it was") {
    assert(spark.conf.getOption(managerKey).isEmpty)
    startAndDrain()
    assert(spark.conf.getOption(managerKey).isEmpty, "unset must stay unset")
    val userClass = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(managerKey, userClass)
    try {
      startAndDrain()
      assert(spark.conf.getOption(managerKey).contains(userClass), "a user-set class must stay set")
    } finally spark.conf.unset(managerKey)
  }

  test("lane checkpoint logs start no processes over 20 flushes (JFR gate)") {
    assert(checkpointForks(flushRun(20)) == 0)
    // control: the probe sees the forks of Spark's default manager, which
    // Hadoop's local file system makes when its native library is absent
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      spark.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
      try assert(checkpointForks(flushRun(20)) >= 20)
      finally spark.conf.unset(managerKey)
    }
  }

  // the streaming queries `start` adds: one per lane
  private def lanesOf[T](start: => T): (T, Seq[StreamingQuery]) = {
    val before = spark.streams.active.map(_.id).toSet
    val g = start
    (g, spark.streams.active.toSeq.filterNot(q => before(q.id)))
  }

  test("lane micro-batches launch no Spark job over 20 flushes (job gate)") {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      flushRun(20)
      Shims.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"${jobs.get()} Spark jobs over 20 lane micro-batches")
  }

  test("lane progress counts every submitted item as an input row") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val (g, queries) = lanesOf(Grouper.start[Int, Int](spark,
      ds => ds.collect().toSeq.map(_ + 1), capacity = 100, intervalMs = None, parallelism = 4))
    assert(queries.size == 4)
    val n = 37
    try (1 to n).grouped(5).foreach { chunk =>
      val fs = chunk.map(g.submit(_))
      g.flushNow()
      fs.foreach(await(_))
    } finally g.close()
    // a batch's progress is reported right after its commit, which may
    // trail the completion of its futures
    def inputRows = queries.map(_.recentProgress.map(_.numInputRows).sum).sum
    val deadline = System.nanoTime() + 10000000000L
    while (inputRows < n && System.nanoTime() < deadline) Thread.sleep(20)
    assert(inputRows == n)
  }

  test("a batch of many addData blocks reaches the batch function in submission order") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val release = new CountDownLatch(1)
    val batches = new ConcurrentLinkedQueue[Seq[Int]]()
    val g = Grouper.start[Int, Int](spark, ds => {
      val xs = ds.collect().toSeq
      batches.add(xs)
      if (xs.contains(0)) release.await(60, TimeUnit.SECONDS)
      xs
    }, capacity = 1000, intervalMs = None)
    try {
      val blocker = g.submit(0)
      g.flushNow()
      while (batches.isEmpty) Thread.sleep(5)
      // the lane is inside the first batch: each flush below adds one
      // single-item block, and the next micro-batch takes them all
      val fs = (1 to 50).map { i => val f = g.submit(i); g.flushNow(); f }
      release.countDown()
      assert(await(blocker) == 0)
      assert(fs.map(await(_)) == (1 to 50))
      assert(batches.asScala.toSeq == Seq(Seq(0), 1 to 50))
    } finally { release.countDown(); g.close() }
  }

  test("close() fails the pending requests of a stopped lane and completes the rest") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaInt
    val (g, queries) = lanesOf(Grouper.start[Int, Int](spark,
      ds => ds.collect().toSeq.map(_ + 1), capacity = 100, intervalMs = None, parallelism = 4))
    assert(queries.size == 4)
    queries.head.stop()
    val fs = (0 until 8).map(g.submit(_))
    g.close()
    val outcomes = fs.map(f => scala.util.Try(Await.result(f, 30.seconds)))
    assert(!outcomes.exists(_.failed.toOption.exists(_.isInstanceOf[java.util.concurrent.TimeoutException])),
      s"a future never completed: $outcomes")
    val failed = outcomes.indices.filter(outcomes(_).isFailure)
    // ids go round-robin to lanes: the stopped lane held two of them
    assert(failed.size == 2 && failed(1) - failed(0) == 4, s"failed ids $failed")
    failed.foreach(i => assert(outcomes(i).failed.get.isInstanceOf[IllegalStateException]))
    outcomes.indices.filterNot(failed.contains).foreach(i => assert(outcomes(i).get == i + 1))
    assert(!g.isRunning)
  }
}
