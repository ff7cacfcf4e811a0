package layerbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.streaming.Grouper

/** Seeded inputs of the open-loop lane: Poisson arrival times and item
  * values. Item values carry their index in the top bits, so a batch can
  * name its items without any side channel. */
object Schedule {
  val IndexShift = 24

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + salt)

  /** Arrival offsets in ns from the phase start: exponential gaps at
    * `ratePerS`, as many as fall inside `seconds`. */
  def arrivals(seed: Long, salt: Long, ratePerS: Double, seconds: Double): Array[Long] = {
    val r = rng(seed, salt)
    val end = (seconds * 1e9).toLong
    val out = Array.newBuilder[Long]
    var t = 0.0
    var done = false
    while (!done) {
      t += -math.log(1.0 - r.nextDouble()) / ratePerS * 1e9
      if (t.toLong >= end) done = true else out += t.toLong
    }
    out.result()
  }

  def values(seed: Long, salt: Long, n: Int): Array[Long] = {
    val r = rng(seed, salt + 7919)
    Array.tabulate(n)(i =>
      (i.toLong << IndexShift) | r.nextInt(1 << IndexShift).toLong)
  }

  def index(value: Long): Int = (value >>> IndexShift).toInt
}

/** One batch as the batch function saw it. */
final case class BatchRec(startNs: Long, endNs: Long, items: Array[Int])

/** Per-item bookkeeping of one lane phase. */
final class Phase(val name: String, val values: Array[Long], val due: Array[Long]) {
  val n: Int = values.length
  val submitStart = new Array[Long](n)
  val submitEnd = new Array[Long](n)
  val done = new Array[Long](n)
  val completions = new AtomicIntegerArray(n)
  val wrong = new AtomicIntegerArray(n)
  val completed = new AtomicInteger(0)
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  @volatile var submitted = 0

  def onDone(i: Int, result: Long): Unit = {
    val now = System.nanoTime()
    if (completions.incrementAndGet(i) == 1) {
      done(i) = now
      completed.incrementAndGet()
    }
    if (result != values(i) + 1) wrong.set(i, 1)
  }

  def batchList: Vector[BatchRec] = batches.asScala.toVector
}

/** The paper's facility under the README's canonical settings:
  * `Grouper.start[Long, Long]` with parallelism 4, capacity 10,000 and a
  * 100 ms interval. The batch function collects the batch, waits 10 ms
  * per batch plus 20 µs per item (the modelled downstream round trip),
  * and returns x+1 per item. */
final class Lane(spark: SparkSession) {
  @volatile private var phase: Phase = null

  private def pause(ns: Long): Unit = {
    val end = System.nanoTime() + ns
    var left = ns
    while (left > 0) { LockSupport.parkNanos(left); left = end - System.nanoTime() }
  }

  private val batchFn: Dataset[Long] => Seq[Long] = ds => {
    val t0 = System.nanoTime()
    val xs = ds.collect()
    pause(10000000L + 20000L * xs.length)
    val out = xs.toSeq.map(_ + 1)
    val p = phase
    if (p != null)
      p.batches.add(BatchRec(t0, System.nanoTime(), xs.map(Schedule.index)))
    out
  }

  private var grouper: Grouper[Long, Long] = null

  def start(): Unit = {
    grouper = Grouper.start[Long, Long](spark, batchFn, capacity = 10000,
      intervalMs = Some(100L), parallelism = 4)(Encoders.scalaLong)
  }

  /** Closes the lane, waiting at most `timeoutMs`; false on a hang. */
  def close(timeoutMs: Long): Boolean = {
    val g = grouper
    val t = new Thread(() => g.close(), "layerbench-lane-close")
    t.setDaemon(true)
    t.start()
    t.join(timeoutMs)
    !t.isAlive
  }

  private def submit(p: Phase, i: Int): Unit = {
    p.submitStart(i) = System.nanoTime()
    grouper.submit(p.values(i), (r: Long) => p.onDone(i, r))
    p.submitEnd(i) = System.nanoTime()
    p.submitted = i + 1
  }

  /** Waits until every submitted item of `p` completed; false on timeout. */
  def drain(p: Phase, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (p.completed.get() < p.submitted && System.nanoTime() < deadline)
      LockSupport.parkNanos(2000000L)
    p.completed.get() >= p.submitted
  }

  /** Open loop: one generator thread (the caller) sends each item at its
    * scheduled time, whatever the lane's state. */
  def openLoop(p: Phase): Unit = {
    phase = p
    val t0 = System.nanoTime() + 5000000L
    var i = 0
    while (i < p.n) {
      val due = t0 + p.due(i)
      p.due(i) = due
      // park, never spin: a spinning generator would take a core from
      // the lane it measures; a park overshoots by tens of µs, which
      // gen.late_ms reports
      var left = due - System.nanoTime()
      while (left > 0) {
        LockSupport.parkNanos(left)
        left = due - System.nanoTime()
      }
      submit(p, i)
      i += 1
    }
  }

  /** Closed loop: one submitter sends the next item as soon as `submit`
    * returns (it blocks while 10,000 are outstanding), for `seconds`. */
  def closedLoop(p: Phase, seconds: Double): Unit = {
    phase = p
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < p.n && System.nanoTime() < end) {
      p.due(i) = System.nanoTime()
      submit(p, i)
      i += 1
    }
  }
}
