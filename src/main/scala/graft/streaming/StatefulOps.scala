package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Spark 4 `transformWithState` operators — the successor API to
  * `flatMapGroupsWithState` (SPIP: State API v2): typed per-key state
  * cells with independent lifetimes, TTL, and timers, backed by the
  * RocksDB state store. This is the custom-stateful-op ladder's current
  * top rung; [[Grouper]] covers the classic mapGroupsWithState shape.
  */
object StatefulOps {

  /** Per-key running (count, sum) over a `(key, value)` stream — the
    * minimal live-aggregate shape: each input row updates two ValueState
    * cells and emits the key's running totals, so downstream sees a
    * changelog of per-key aggregates (update-mode semantics). State is
    * O(keys) regardless of stream length. */
  class RunningTotals extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
    @transient private var count: ValueState[Long] = _
    @transient private var total: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Double]("total", Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      var c = if (count.exists()) count.get() else 0L
      var s = if (total.exists()) total.get() else 0.0
      rows.foreach { r => c += 1; s += r._2 }
      count.update(c)
      total.update(s)
      Iterator.single((key, c, s))
    }
  }

  /** Event-time sessionization with TIMERS — the other half of State
    * API v2 (the replacement for `GroupStateTimeout`): each key holds
    * its open session (count, first/last event time) in ValueState and
    * re-registers an event-time timer at `last + gap`; when the
    * WATERMARK passes that point the timer fires, the CLOSED session is
    * emitted and the state cleared. Output rows are complete sessions
    * only — an open session emits nothing until the stream proves it
    * over, and state stays O(open keys). In-watermark late events merge
    * by classic interval sessionization within each batch (they can
    * extend the open session leftward or form earlier sessions); only
    * the NEWEST session stays open across batches, so an event arriving
    * after an earlier session was already emitted starts a new session
    * rather than reopening it — bounded state traded against extreme
    * cross-batch disorder (use q125's session_window for full late-data
    * merging at the cost of engine-managed state). */
  class SessionCloser(gapMs: Long)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
    @transient private var sess: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Long)](),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      // classic interval-merge sessionization over (open state ∪ batch):
      // in-watermark LATE events may sort before the open session — they
      // must extend it leftward or form their own EARLIER session, not
      // inflate its count. Everything but the newest session is proven
      // closed by the gap to its successor; the timer covers "no more
      // events ever arrived" for the one left open
      val intervals = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      if (sess.exists()) intervals += sess.get()
      rows.foreach(r => intervals += ((1L, r._2, r._2)))
      val merged = intervals.sortBy(_._2)
        .foldLeft(List.empty[(Long, Long, Long)]) {
          case (acc @ ((c, f, l) :: rest), (c2, f2, l2)) if f2 <= l + gapMs =>
            (c + c2, f, math.max(l, l2)) :: rest
          case (acc, iv) => iv :: acc
        }.reverse
      val closed = merged.init.map { case (c, f, l) => (key, c, f, l) }
      val (c, first, last) = merged.last
      sess.update((c, first, last))
      // one live timer per key: drop the stale deadline, arm the new one
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last + gapMs)
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val out = if (sess.exists()) {
        val (c, first, last) = sess.get()
        Iterator.single((key, c, first, last))
      } else Iterator.empty
      sess.clear()
      out
    }
  }

  /** Wire [[SessionCloser]] onto a keyed `(key, eventTimeMs)` stream
    * that already carries a watermark. */
  def closedSessions(ds: Dataset[(Long, Long)], gapMs: Long): Dataset[(Long, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new SessionCloser(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Last-N recent values per key via ListState — the third State API
    * v2 state type (ValueState: [[RunningTotals]]; timers:
    * [[SessionCloser]]): every input emits the key's rolling window of
    * the most recent `n` values in arrival order, the per-key context a
    * streaming feature-enrichment stage feeds downstream. State is
    * O(keys · n) — the list is truncated on every update, never
    * unbounded. */
  class RecentValues(n: Int) extends StatefulProcessor[Long, (Long, Double), (Long, Seq[Double])] {
    require(n >= 1, s"window size must be >= 1: $n")
    @transient private var recent: org.apache.spark.sql.streaming.ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Double]("recent", Encoders.scalaDouble,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Seq[Double])] = {
      var window = recent.get().toSeq
      val out = rows.map { r =>
        window = (window :+ r._2).takeRight(n)
        (key, window)
      }.toSeq
      recent.clear()
      window.foreach(recent.appendValue)
      out.iterator
    }
  }

  /** Wire [[RecentValues]] onto a keyed `(key, value)` stream. */
  def recentValues(ds: Dataset[(Long, Double)], n: Int): Dataset[(Long, Seq[Double])] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RecentValues(n), TimeMode.None(), OutputMode.Update())
  }

  /** Wire [[RunningTotals]] onto a keyed stream. The caller must run the
    * query with the RocksDB state store provider (transformWithState
    * requires it — see [[RocksDbProvider]]). */
  def runningTotals(ds: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Update())
  }

  /** Per-key per-category running counts via MapState — the fourth and
    * last State API v2 state type (ValueState: [[RunningTotals]];
    * ListState: [[RecentValues]]; timers: [[SessionCloser]]): each key
    * holds a `category -> count` map and every batch emits ONLY the
    * categories that batch touched (a sparse changelog), not the whole
    * map — the shape a streaming per-user behavior profile needs when
    * the category space is wide but each batch touches a few. State is
    * O(keys · categories-seen); a batch's update cost is O(categories
    * touched), never O(map size). */
  class CategoryCounts extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts", Encoders.STRING,
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashMap[String, Long]()
      rows.foreach { r =>
        val cat = r._2
        val base = touched.getOrElse(cat,
          if (counts.containsKey(cat)) counts.getValue(cat) else 0L)
        touched.update(cat, base + 1L)
      }
      touched.foreach { case (cat, n) => counts.updateValue(cat, n) }
      touched.iterator.map { case (cat, n) => (key, cat, n) }
    }
  }

  /** Wire [[CategoryCounts]] onto a keyed `(key, category)` stream. */
  def categoryCounts(ds: Dataset[(Long, String)]): Dataset[(Long, String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new CategoryCounts, TimeMode.None(), OutputMode.Update())
  }

  /** The RocksDB state store provider, as a conf for [[Streams]] to set
    * while a query starts — transformWithState refuses the default
    * HDFS-backed provider. */
  val RocksDbProvider: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
