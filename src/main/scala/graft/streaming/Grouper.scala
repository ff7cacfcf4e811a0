package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Future, Promise}

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, Offset => OffsetV2}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** A [[MemoryStream]] whose idle offset poll PARKS instead of spinning:
  * when a trigger finds no new data, `latestOffset` blocks on a monitor
  * for up to `idleParkMs` and `addData` notifies that monitor — so a
  * flush is picked up IMMEDIATELY (the park wakes within microseconds,
  * better than waiting out a trigger tick) while a long-idle lane costs
  * ~1000/idleParkMs driver wakeups/s instead of 200 at the bare 5 ms
  * trigger (round-9 verdict: `parallelism × 200` empty micro-batch polls
  * per second of constant driver churn on an idle instance).
  *
  * Ids are allocated from a high base so the case-class equality of
  * [[MemoryStream]] can never collide with companion-allocated streams. */
private[streaming] final class WakeableMemoryStream[T](
    spark: SparkSession, numPartitions: Int, idleParkMs: Long)(
    implicit enc: Encoder[T])
  extends MemoryStream[T](
    WakeableMemoryStream.nextId(), spark, Some(numPartitions)) {

  private val gate = new Object
  private var armed = false // data added since the last park; guarded by gate
  @volatile private var lastPolled: OffsetV2 = null

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

  // Spark-version pin (which engine path drives which override): as of
  // Spark 4.x, MicroBatchExecution's constructNextBatch calls THIS
  // (start, limit) overload for any source implementing
  // SupportsAdmissionControl — MemoryStream does, via
  // SupportsTriggerAvailableNow — so this is the live path. The zero-arg
  // overload below covers the legacy non-admission-control route only.
  // If a future Spark drives neither (e.g. a new offset-negotiation API),
  // the lane silently degrades to busy polling at ProcessingTime(0) —
  // functionally correct but churny; GrouperSpec's close-latency bound
  // and the GrouperRateProbe trend are the canaries for that regression.
  // close() latency: query.stop() interrupts the stream thread, which
  // unparks the wait below, so close blocks at most ~one idleParkMs per
  // lane cycle (bounded; asserted by GrouperSpec's close-latency test).
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val first = super.latestOffset(start, limit)
    if (first != null && first != start) first
    else { parkForData(); super.latestOffset(start, limit) }
  }

  override def latestOffset(): OffsetV2 = {
    val first = super.latestOffset()
    if (first != null && first != lastPolled) { lastPolled = first; first }
    else {
      parkForData()
      val o = super.latestOffset(); lastPolled = o; o
    }
  }
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
  *    ≙ the interval dispatcher timer below), on queue-full
  *    (`core.clj:42-44` — capacity-full pushes the accumulating batch
  *    IMMEDIATELY, in interval mode too, exactly like the reference's
  *    failed `offer` → `wakeUp`), or on close-drain (`core.clj:58-66` ≙
  *    `processAllAvailable` + `stop`). Batch formation is owned by this
  *    façade's buffers; the streaming lanes pick batches up event-driven
  *    (a parked offset poll woken by addData) and simply execute
  *    whatever batch was pushed;
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
  *  - the reference's `:pool` integer form maps to `parallelism`
  *    streaming lanes; the caller-supplied-`ExecutorService` form is
  *    `Grouper.startOnPool`, which runs batch BODIES on the caller's
  *    pool (its thread count caps batch concurrency) while the lanes
  *    remain Spark-managed.
  *
  * Cost of one lane micro-batch: Spark plans the batch, runs one collect
  * job over its rows, calls the batch function, and writes two
  * metadata-log entries: the offset log before the batch (`walCommit`)
  * and the commit log after it (`commitOffsets`). The lanes write those
  * logs through [[LocalCheckpointFileManager]]. Without its native
  * library, Hadoop's local file system forks `chmod` and `readlink`
  * through its `Shell` for every log file, about 20 processes and 100 ms
  * per micro-batch; written with `java.nio`, each entry takes about a
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

  private implicit val reqEnc: Encoder[(Long, A)] =
    Encoders.tuple(Encoders.scalaLong, encA)

  private val lanes: Array[(MemoryStream[(Long, A)], StreamingQuery)] =
    Grouper.withLocalCheckpointLogs(spark)(Array.tabulate(parallelism) { _ =>
      // fixed partition count: every addData call creates a block, and the
      // default plan turns each block into its own input partition — a
      // burst of single-item submits would otherwise give a batch with
      // thousands of one-row tasks
      val source: MemoryStream[(Long, A)] =
        new WakeableMemoryStream[(Long, A)](spark, 4, 100L)(reqEnc)
      val query = source.toDS()
        .writeStream
        // interval 0, NOT the user interval: batch boundaries are decided
        // by this façade's flushes and PACING lives in the wakeable
        // source — its idle offset poll parks up to 100 ms and addData
        // wakes it instantly, so pickup is event-driven (~0 latency),
        // busy batches run back-to-back, and an idle lane costs ~10
        // driver wakeups/s instead of the old 5 ms tick's 200 (interval
        // 0 also skips ProcessingTimeExecutor's falling-behind warning,
        // which a parked poll would otherwise trip every idle cycle)
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (batch: Dataset[(Long, A)], _: Long) =>
          // one collect of the capacity-bounded batch, sorted driver-side:
          // a per-batch orderBy would shuffle and re-execute per downstream
          // job, dominating throughput with fixed scheduling latency
          val rows = {
            import scala.jdk.CollectionConverters._
            batch.collectAsList().asScala.toIndexedSeq.sortBy(_._1)
          }
          val ids = rows.map(_._1)
          if (ids.nonEmpty) {
            try {
              // LocalRelation dataset: procs that just collect/map run with
              // no cluster jobs; procs that do real Spark work still can
              val payloads = spark.createDataset(rows.map(_._2).toIndexedSeq)(encA)
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
            lock.synchronized(lock.notifyAll())
          }
          ()
        }
        .start()
      (source, query)
    })

  // the reference's dispatcher thread (`core.clj:124-135`): in interval
  // mode, push the accumulating batch to the lanes every `intervalMs`
  private val dispatcher: Option[java.util.concurrent.ScheduledExecutorService] =
    intervalMs.map { ms =>
      val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => { val th = new Thread(r, "grouper-dispatcher"); th.setDaemon(true); th })
      t.scheduleAtFixedRate(() => flushNow(), ms, ms,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      t
    }

  // callback exceptions are contained here: one throwing user callback must
  // not abort delivery to the remaining members of an otherwise-successful
  // batch (it would propagate into foreachBatch's catch and fail them all)
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
      // capacity-full flushes the accumulating batch immediately — in
      // interval mode too (the reference's failed offer → wakeUp,
      // core.clj:42-44): a caller tuning capacity as a latency bound gets
      // the flush now, not at the next interval tick
      if (buffers.map(_.length).sum >= capacity) flushBuffers()
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
  }

  /** Early flush — the reference's `wakeUp` (`core.clj:53-56`): push the
    * accumulating batch to the lanes immediately instead of waiting for
    * the interval tick, capacity or close. */
  def flushNow(): Unit = lock.synchronized(flushBuffers())

  /** Graceful drain (`core.clj:58-66` / `shutdown!`): every accepted
    * request is processed before this returns. */
  def close(): Unit = {
    if (running.compareAndSet(true, false)) {
      dispatcher.foreach(_.shutdownNow())
      lock.synchronized(flushBuffers())
      lanes.foreach(_._2.processAllAvailable())
      lanes.foreach { case (_, q) => q.stop(); q.awaitTermination() }
    }
  }
}

object Grouper {

  private val checkpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  // `StreamExecution` clones the session conf when a query is constructed
  // and its offset and commit logs read their Hadoop conf from that clone,
  // so the class only has to be set while the lanes start. A class the
  // user set is left alone; the lock keeps two starts from seeing each
  // other's setting as the user's.
  private def withLocalCheckpointLogs[T](spark: SparkSession)(startLanes: => T): T =
    synchronized {
      if (spark.conf.getOption(checkpointManagerKey).isDefined) startLanes
      else {
        spark.conf.set(checkpointManagerKey, classOf[LocalCheckpointFileManager].getName)
        try startLanes finally spark.conf.unset(checkpointManagerKey)
      }
    }

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
