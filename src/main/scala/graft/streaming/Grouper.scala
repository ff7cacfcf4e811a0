package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.concurrent.{Future, Promise}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, Offset => OffsetV2}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MemoryStreamInputPartition}

/** A [[MemoryStream]] whose idle offset poll PARKS instead of spinning:
  * when a trigger finds no new data, `latestOffset` blocks on a monitor
  * for up to `idleParkMs` and `addData` notifies that monitor — so a
  * flush is picked up IMMEDIATELY (the park wakes within microseconds,
  * better than waiting out a trigger tick) while a long-idle lane costs
  * ~1000/idleParkMs driver wakeups/s instead of 200 at the bare 5 ms
  * trigger (round-9 verdict: `parallelism × 200` empty micro-batch polls
  * per second of constant driver churn on an idle instance).
  *
  * The lane's sink reads each micro-batch's rows from the planned scan
  * ([[rowsOf]]) on the driver instead of running a Spark job over rows
  * the stream already holds. No partition count is fixed: no task ever
  * reads the partitions, and the default plan gives one per `addData`
  * block without copying.
  *
  * Ids are allocated from a high base so the case-class equality of
  * [[MemoryStream]] can never collide with companion-allocated streams. */
private[streaming] final class WakeableMemoryStream[T](
    spark: SparkSession, idleParkMs: Long)(implicit enc: Encoder[T])
  extends MemoryStream[T](WakeableMemoryStream.nextId(), spark, None) {

  private val gate = new Object
  private var armed = false // data added since the last park; guarded by gate

  override def addData(data: IterableOnce[T])
      : org.apache.spark.sql.execution.streaming.Offset = {
    val o = super.addData(data)
    gate.synchronized { armed = true; gate.notifyAll() }
    o
  }

  // the park is a LATENCY hint only: the offset comparison against the
  // trigger's start decides correctness; `armed` merely short-circuits
  // the wait when data raced in between the probe and the monitor
  private def parkForData(): Unit = gate.synchronized {
    if (!armed) {
      try gate.wait(idleParkMs)
      catch {
        // the stream-execution thread is interrupted by query.stop():
        // restore the flag and fall through so the loop can terminate
        case _: InterruptedException => Thread.currentThread().interrupt()
      }
    }
    armed = false
  }

  // Spark-version pin: as of Spark 4.x, MicroBatchExecution's
  // constructNextBatch calls THIS (start, limit) overload for any source
  // implementing SupportsAdmissionControl — MemoryStream does, via
  // SupportsTriggerAvailableNow — so this is the only path. The zero-arg
  // latestOffset() is not overridden: MemoryStreamBaseClass's own body
  // throws IllegalStateException("Should not reach here!"), so Spark never
  // calls it for this source. If a future Spark drives a different
  // offset-negotiation API, the lane silently degrades to busy polling at
  // ProcessingTime(0) — functionally correct but churny; GrouperSpec's
  // close-latency bound and Bench's grouper_probe_best_of_10 trend are
  // the canaries for that regression.
  // close() latency: close waits for no trigger, only for the batches in
  // flight (its own ledger), then query.stop() interrupts the stream
  // thread, which unparks the wait below at once; an idle 4-lane grouper
  // closes in ~10-30 ms (GrouperSpec's close-latency test bounds it). A
  // processAllAvailable per lane, as close once did, returned only after
  // the lane's park expired: ~0.5 s for 4 idle lanes.
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val first = super.latestOffset(start, limit)
    if (first != null && first != start) first
    else { parkForData(); super.latestOffset(start, limit) }
  }

  private lazy val fromRow = encoder.resolveAndBind().createDeserializer()

  /** The rows this stream's scan reads in the micro-batch `data`, decoded
    * on the driver in the order they were added. The rows come from the
    * scan's input partitions, which hold the `addData` blocks of the
    * batch's offset range, so no task runs the scan; its rows are added
    * to its `numOutputRows`, where progress reads `numInputRows`. */
  def rowsOf(data: DataFrame): IndexedSeq[T] =
    data.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan.collect {
      case scan: MicroBatchScanExec if scan.stream eq this =>
        val rows = scan.inputPartitions.flatMap(_.asInstanceOf[MemoryStreamInputPartition].records)
        scan.metrics("numOutputRows").add(rows.length.toLong)
        rows.map(fromRow(_))
    }.flatten.toIndexedSeq
}

private[streaming] object WakeableMemoryStream {
  // far above anything the MemoryStream companion's counter will reach
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 20)
  private def nextId(): Int = ids.getAndIncrement()
}

/** Asynchronous request micro-batching on Structured Streaming — the
  * Spark-native re-expression of the reference's batching facility
  * (`/root/reference/src/grouper/core.clj:99-155`).
  *
  * Semantics preserved from the reference (SURVEY §2.1):
  *  - trigger disjunction: flush on interval elapsed (`core.clj:127-128`
  *    ≙ the interval flush armed below; see the deviations), on queue-full
  *    (`core.clj:42-44` — capacity-full pushes the accumulating batch
  *    IMMEDIATELY, in interval mode too, exactly like the reference's
  *    failed `offer` → `wakeUp`), or on close-drain (`core.clj:58-66` ≙
  *    a final flush, a wait on the grouper's own ledger until no live
  *    lane holds a pending request or runs its sink, then `stop` of every
  *    lane; like the reference, only in-flight batches are waited for).
  *    Batch formation is owned by this façade's buffers; the streaming
  *    lanes pick batches up event-driven (a parked offset poll woken by
  *    addData) and simply execute whatever batch was pushed;
  *  - FIFO within a batch (`core.clj:129-130`): requests carry a sequence
  *    id and each batch is processed in id order;
  *  - positional result alignment with null padding (`core.clj:72-76`):
  *    a short result collection completes trailing requests with null;
  *  - scalar broadcast (`core.clj:73`): `startScalar` delivers one value
  *    to every member of the batch;
  *  - batch-granularity failure (`core.clj:80-83`): an exception inside
  *    the batch body fails every request of that batch (errback + failed
  *    future) without killing the stream;
  *  - closed rejection (`core.clj:40-41`): submit after close throws
  *    `RuntimeException("Grouper is closed")`;
  *  - backpressure (`core.clj:44`): submit blocks while `capacity`
  *    requests are outstanding;
  *  - pool parallelism (`core.clj:85-97`, `test:79-87`): `parallelism`
  *    independent streaming lanes execute batches concurrently, like the
  *    reference's fixed thread pool; with `parallelism = 1`, batches are
  *    strictly sequential (the reference's inline/no-pool mode,
  *    `core.clj:133-135`).
  *
  * Deviations (documented, SURVEY §7.4):
  *  - completion is observed per micro-batch rather than per row — Spark
  *    has no per-row futures; the façade's promises are driver-resident
  *    by design (request/response API);
  *  - a failed batch FAILS the `Future` returned by `submit`, so
  *    `Await.result` throws the batch's exception; the reference instead
  *    delivers the exception OBJECT as the promise's value
  *    (`core.clj:80-83`, `test:49`) — deref there yields it, it never
  *    throws. [[submitAttempt]] is the faithful form: its future always
  *    succeeds, carrying the batch exception as a VALUE on failure.
  *    Errback behavior is identical on both sides;
  *  - the interval runs from the first item buffered after a flush, not
  *    on a clock (the reference sleeps `interval` after each drain). No
  *    item waits longer than `intervalMs` either way and steady traffic
  *    sees the same cadence, but a lone item waits the whole interval.
  *    In exchange, a capacity-bound cycle longer than the interval
  *    (every request outstanding, refills arriving as lanes finish) is
  *    never split by a tick landing at a random point of its refill,
  *    which made saturation throughput jump between runs; and an idle
  *    grouper wakes no thread;
  *  - the reference's `:pool` integer form maps to `parallelism`
  *    streaming lanes; the caller-supplied-`ExecutorService` form is
  *    `Grouper.startOnPool`, which runs batch BODIES on the caller's
  *    pool (its thread count caps batch concurrency) while the lanes
  *    remain Spark-managed.
  *
  * Cost of one lane micro-batch: Spark plans the batch and hands the
  * planned execution to the lane's own v1 sink, which decodes the
  * planned scan's rows on the driver (no Spark job: the rows already sit
  * in the lane's memory stream) and calls the batch function. The query
  * writes two metadata-log entries: the offset log before the batch
  * (`walCommit`) and the commit log after it (`commitOffsets`). Through
  * `foreachBatch`, Spark's sink also planned a second Dataset over each
  * batch that the lane never read; without it, a flush reaches the sink
  * in about 13 ms instead of 22 (median, layerbench low rate, 4 vCPUs).
  * The lanes write their logs through [[LocalCheckpointFileManager]].
  * Without its native library, Hadoop's local file system forks `chmod`
  * and `readlink` for every log file, about 20 processes and 100 ms per
  * micro-batch; written with `java.nio`, each entry takes about a
  * millisecond.
  */
final class Grouper[A, B] private (
    spark: SparkSession,
    runBatch: Dataset[A] => Either[B, Seq[B]],
    capacity: Int,
    intervalMs: Option[Long],
    parallelism: Int)(implicit encA: Encoder[A]) {

  private val seq = new AtomicLong(0L)
  private val running = new AtomicBoolean(true)
  private val pending = new ConcurrentHashMap[Long, (Promise[B], B => Unit, Throwable => Unit)]()
  private val lock = new Object
  // the accumulating batch (the reference's bounded queue): submissions
  // collect here and are pushed to the lanes by interval timer, capacity
  // overflow, explicit wakeUp or close — never directly from submit
  private val buffers = Array.fill(parallelism)(new ArrayBuffer[(Long, A)])
  private var buffered = 0 // items across `buffers`; guarded by lock
  private var flushes = 0L // flushBuffers calls so far; guarded by lock

  private implicit val reqEnc: Encoder[(Long, A)] =
    Encoders.tuple(Encoders.scalaLong, encA)

  // the lanes inside their sink's addBatch: set on entry, cleared under
  // lock on exit, so close() can wait out callbacks still running
  private val inBatch = new java.util.concurrent.atomic.AtomicIntegerArray(parallelism)

  // MicroBatchExecution calls a v1 sink's addBatch with the micro-batch's
  // planned execution, so the lane reads the rows from it and hands them
  // to the batch function; nothing plans or runs the batch Dataset, so a
  // micro-batch launches no Spark job. Rows are sorted by id on the driver
  private def laneSink(lane: Int, source: WakeableMemoryStream[(Long, A)]): Sink = new Sink {
    override def addBatch(batchId: Long, data: DataFrame): Unit = {
      inBatch.set(lane, 1)
      try {
        val rows = source.rowsOf(data).sortBy(_._1)
        val ids = rows.map(_._1)
        if (ids.nonEmpty) {
          try {
            // LocalRelation dataset: procs that just collect/map run with
            // no cluster jobs; procs that do real Spark work still can
            val payloads = spark.createDataset(rows.map(_._2))(encA)
            runBatch(payloads) match {
              case Left(scalar) =>
                ids.foreach(complete(_, scalar))
              case Right(results) =>
                // positional zip; pad missing tail with null (core.clj:74-76)
                ids.zipWithIndex.foreach { case (id, i) =>
                  complete(id, if (i < results.length) results(i) else null.asInstanceOf[B])
                }
            }
          } catch {
            case e: Throwable => ids.foreach(fail(_, e))
          }
        }
      } finally lock.synchronized { inBatch.set(lane, 0); lock.notifyAll() }
    }
    override def toString: String = "GrouperLaneSink"
  }

  private val lanes: Array[(WakeableMemoryStream[(Long, A)], StreamingQuery)] =
    LocalCheckpointFileManager.scoped(spark)(Array.tabulate(parallelism) { lane =>
      val source = new WakeableMemoryStream[(Long, A)](spark, 100L)(reqEnc)
      // interval 0, NOT the user interval: batch boundaries are decided
      // by this façade's flushes and PACING lives in the wakeable
      // source — its idle offset poll parks up to 100 ms and addData
      // wakes it instantly, so pickup is event-driven (~0 latency),
      // busy batches run back-to-back, and an idle lane costs ~10
      // driver wakeups/s instead of the old 5 ms tick's 200 (interval
      // 0 also skips ProcessingTimeExecutor's falling-behind warning,
      // which a parked poll would otherwise trip every idle cycle)
      (source, Shims.startQuery(source.toDS(), laneSink(lane, source), Trigger.ProcessingTime(0L)))
    })

  // the reference's dispatcher thread (`core.clj:124-135`): in interval
  // mode, the first item into an empty buffer arms one flush `intervalMs`
  // later, which does nothing if another flush came first (see the
  // deviation in the class doc)
  private val dispatcher: Option[java.util.concurrent.ScheduledExecutorService] =
    intervalMs.map { _ =>
      java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => { val th = new Thread(r, "grouper-dispatcher"); th.setDaemon(true); th })
    }

  // called under lock
  private def armIntervalFlush(): Unit =
    for (t <- dispatcher; ms <- intervalMs) {
      val armedAt = flushes
      try t.schedule((() => lock.synchronized { if (flushes == armedAt) flushBuffers() }): Runnable,
        ms, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        // close shut the dispatcher down; its own flush takes the item
        case _: java.util.concurrent.RejectedExecutionException => ()
      }
    }

  // callback exceptions are contained here: one throwing user callback must
  // not abort delivery to the remaining members of an otherwise-successful
  // batch (it would propagate into the lane sink's catch and fail them all)
  private def complete(id: Long, value: B): Unit = {
    val entry = pending.remove(id)
    if (entry != null) {
      val (p, cb, _) = entry
      try cb(value)
      catch { case e: Throwable => System.err.println(s"[grouper] callback for request $id threw: $e") }
      finally p.success(value)
    }
  }

  private def fail(id: Long, e: Throwable): Unit = {
    val entry = pending.remove(id)
    if (entry != null) {
      val (p, _, eb) = entry
      try eb(e)
      catch { case e2: Throwable => System.err.println(s"[grouper] errback for request $id threw: $e2") }
      finally p.failure(e)
    }
  }

  def isRunning: Boolean = running.get() && lanes.forall(_._2.isActive)

  /** Submit one element; returns a future completed when the element's
    * micro-batch has been processed (the reference's promise,
    * `core.clj:45`). Blocks while `capacity` requests are outstanding. */
  def submit(elem: A, callback: B => Unit = _ => (),
      errback: Throwable => Unit = _ => ()): Future[B] = {
    if (!running.get()) throw new RuntimeException("Grouper is closed")
    lock.synchronized {
      while (pending.size() >= capacity && running.get()) lock.wait(100)
    }
    val p = Promise[B]()
    lock.synchronized {
      // re-check under the enqueue lock: a concurrent close() may have
      // flushed, drained and stopped the lanes since the check above —
      // enqueueing now would leave this request unprocessed forever
      if (!running.get()) throw new RuntimeException("Grouper is closed")
      val id = seq.getAndIncrement()
      val lane = (id % parallelism).toInt
      pending.put(id, (p, callback, errback))
      buffers(lane) += ((id, elem))
      buffered += 1
      if (buffered == 1) armIntervalFlush()
      // capacity-full flushes the accumulating batch immediately — in
      // interval mode too (the reference's failed offer → wakeUp,
      // core.clj:42-44): a caller tuning capacity as a latency bound gets
      // the flush now, not at the next interval tick
      if (buffered >= capacity) flushBuffers()
    }
    p.future
  }

  /** Reference deref parity (`core.clj:80-83`, `test:49`): the returned
    * future always SUCCEEDS once the element's batch is processed — with
    * `Success(value)` normally, or `Failure(batchException)` as a VALUE
    * when the batch body threw. Dereferencing never throws, exactly like
    * the reference promise, which is `deliver`ed the exception object
    * itself on batch failure. */
  def submitAttempt(elem: A, callback: B => Unit = _ => (),
      errback: Throwable => Unit = _ => ()): Future[scala.util.Try[B]] =
    submit(elem, callback, errback)
      .transform(t => scala.util.Success(t))(
        scala.concurrent.ExecutionContext.parasitic)

  private def flushBuffers(): Unit = {
    var lane = 0
    while (lane < parallelism) {
      if (buffers(lane).nonEmpty) {
        lanes(lane)._1.addData(buffers(lane).toSeq)
        buffers(lane).clear()
      }
      lane += 1
    }
    buffered = 0
    flushes += 1
  }

  /** Early flush — the reference's `wakeUp` (`core.clj:53-56`): push the
    * accumulating batch to the lanes immediately instead of waiting for
    * the interval tick, capacity or close. */
  def flushNow(): Unit = lock.synchronized(flushBuffers())

  // called under lock: whether a live lane still holds a pending request
  // or is inside its sink. `pending` is read first: `complete` removes a
  // request before its callback runs, but the lane's `inBatch` flag was
  // set before that and is cleared only under lock, so a callback still
  // running shows in one of the two
  private def draining(): Boolean = {
    val live = lanes.map(_._2.isActive)
    pending.keySet.asScala.exists(id => live((id % parallelism).toInt)) ||
      lanes.indices.exists(l => live(l) && inBatch.get(l) == 1)
  }

  /** Graceful drain (`core.clj:58-66` / `shutdown!`): every accepted
    * request, its callback or errback, and its future finish before this
    * returns. Like the reference, close waits only for the batches still
    * in flight, on the grouper's own ledger: after the final flush it
    * waits until no live lane holds a pending request or runs its sink,
    * then stops every lane (an idle lane's parked poll wakes at once), so
    * closing an idle grouper takes milliseconds. A lane whose query has
    * died or was stopped cannot process its requests: close still stops
    * and awaits every lane, then fails each request left pending, with
    * the lane's death as the exception's cause, and returns normally. */
  def close(): Unit = {
    if (running.compareAndSet(true, false)) {
      dispatcher.foreach(_.shutdownNow())
      lock.synchronized {
        flushBuffers()
        // bounded: a lane that dies mid-batch wakes no one, and the
        // re-check sees it is no longer live
        while (draining()) lock.wait(50)
      }
      lanes.foreach { case (_, q) =>
        try { q.stop(); q.awaitTermination() }
        catch { case _: Throwable => () } // q.exception keeps the death cause
      }
      pending.keySet.asScala.toList.foreach { id =>
        val lane = (id % parallelism).toInt
        fail(id, new IllegalStateException(
          s"Grouper lane $lane stopped before processing request $id", lanes(lane)._2.exception.orNull))
      }
    }
  }
}

object Grouper {

  private def validate(capacity: Int, intervalMs: Option[Long], parallelism: Int): Unit = {
    require(capacity > 0, s"capacity must be a positive integer: $capacity")
    intervalMs.foreach(i => require(i > 0, s"interval must be a positive integer: $i"))
    require(parallelism > 0, s"parallelism must be a positive integer: $parallelism")
  }

  /** Start with a collection-result processor: results align positionally
    * with the batch's elements (`core.clj:102-105`). The processor sees
    * the micro-batch as a `Dataset[A]` in submission order and must
    * return rows 1:1 (short results are null-padded). `parallelism` is
    * the reference's `:pool` — concurrent batch lanes. */
  def start[A, B](spark: SparkSession,
      proc: Dataset[A] => Seq[B],
      capacity: Int,
      intervalMs: Option[Long] = Some(50L),
      parallelism: Int = 1)(implicit encA: Encoder[A]): Grouper[A, B] = {
    validate(capacity, intervalMs, parallelism)
    require(proc != null, "proc must be a function")
    new Grouper[A, B](spark, ds => Right(proc(ds)), capacity, intervalMs, parallelism)
  }

  /** The reference's user-supplied-pool form (`core.clj:116-122`): batch
    * bodies execute ON the caller's `ExecutorService`, so its thread
    * count caps how many batches run concurrently — lanes beyond the
    * pool's capacity queue behind its threads, exactly like the
    * reference's workers. The pool is NOT shut down by `close()`; it
    * belongs to the caller. (`parallelism` sizes the streaming lanes —
    * set it at or above the pool's thread count.) */
  def startOnPool[A, B](spark: SparkSession,
      proc: Dataset[A] => Seq[B],
      capacity: Int,
      pool: java.util.concurrent.ExecutorService,
      intervalMs: Option[Long] = Some(50L),
      parallelism: Int = 4)(implicit encA: Encoder[A]): Grouper[A, B] = {
    validate(capacity, intervalMs, parallelism)
    require(proc != null, "proc must be a function")
    require(pool != null, "pool must be an ExecutorService")
    val onPool: Dataset[A] => Either[B, Seq[B]] = ds =>
      try Right(pool.submit(new java.util.concurrent.Callable[Seq[B]] {
        override def call(): Seq[B] = proc(ds)
      }).get())
      catch {
        // unwrap so errbacks observe the user's exception, not the
        // executor's envelope (batch-granularity failure, core.clj:80-83)
        case e: java.util.concurrent.ExecutionException if e.getCause != null =>
          throw e.getCause
      }
    new Grouper[A, B](spark, onPool, capacity, intervalMs, parallelism)
  }

  /** Start with a scalar-result processor: the single value is broadcast
    * to every element of the batch (`core.clj:73`, `test:65-68`). */
  def startScalar[A, B](spark: SparkSession,
      proc: Dataset[A] => B,
      capacity: Int,
      intervalMs: Option[Long] = Some(50L),
      parallelism: Int = 1)(implicit encA: Encoder[A]): Grouper[A, B] = {
    validate(capacity, intervalMs, parallelism)
    require(proc != null, "proc must be a function")
    new Grouper[A, B](spark, ds => Left(proc(ds)), capacity, intervalMs, parallelism)
  }
}
