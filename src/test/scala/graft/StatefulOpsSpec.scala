package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.{StatefulOps, Streams}

/** Spark 4 transformWithState: per-key ValueState survives across
  * micro-batches and the update-mode changelog converges to the batch
  * aggregate. */
class StatefulOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("running totals accumulate across micro-batches") {
    import spark.implicits._
    val dir = s"/tmp/graft_tws_spec_${System.nanoTime()}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    try {
      // three files -> three micro-batches with maxFilesPerTrigger=1;
      // key 1 appears in every batch, key 2 in the last only
      Seq(Seq((1L, 1.0), (1L, 2.0)), Seq((1L, 3.0)), Seq((1L, 4.0), (2L, 10.0)))
        .foreach { batch =>
          batch.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
        }
      val schema = spark.read.parquet(dir).schema
      val totals = StatefulOps.runningTotals(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(dir).as[(Long, Double)])
        .toDF("k", "n", "s")
      val changelog = Streams.drain(totals, "update", StatefulOps.RocksDbProvider).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // key 1 must have emitted a strictly-growing count once per batch
      // it appeared in, ending at the full total
      val k1 = changelog.filter(_._1 == 1L).map(c => (c._2, c._3)).sorted
      assert(k1.length == 3 && k1.map(_._1).distinct.length == 3,
        s"one strictly-growing emission per batch: ${k1.toSeq}")
      assert(k1.last == ((4L, 10.0)), s"final state: ${k1.last}")
      assert(changelog.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 10.0)))
      // the drain's scope restored the provider conf
      assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .forall(!_.contains("RocksDB")))
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("ListState rolling window truncates to n and survives batches") {
    import spark.implicits._
    val dir = s"/tmp/graft_list_spec_${System.nanoTime()}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    try {
      Seq(Seq((1L, 1.0), (1L, 2.0)), Seq((1L, 3.0), (1L, 4.0), (2L, 9.0)))
        .foreach(b => b.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir))
      val schema = spark.read.parquet(dir).schema
      val recent = StatefulOps.recentValues(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(dir).as[(Long, Double)], n = 3)
        .toDF("k", "w")
      val wins = Streams.drain(recent, "update", StatefulOps.RocksDbProvider).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList))
      // key 1 emits one window per event; the window crosses the batch
      // boundary (state carried) and truncates to the last 3
      val k1 = wins.filter(_._1 == 1L).map(_._2).sortBy(_.sum)
      assert(k1.contains(List(1.0)) && k1.contains(List(1.0, 2.0)), s"got $k1")
      assert(k1.contains(List(1.0, 2.0, 3.0)), s"batch-crossing window: $k1")
      assert(k1.contains(List(2.0, 3.0, 4.0)), s"truncation to n=3: $k1")
      assert(wins.filter(_._1 == 2L).map(_._2) sameElements Array(List(9.0)))
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("MapState category counts emit a sparse changelog and accumulate") {
    import spark.implicits._
    val dir = s"/tmp/graft_map_spec_${System.nanoTime()}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    try {
      // key 1 touches {a,b} then {a}; key 2 touches {b} in batch 2 only
      Seq(Seq((1L, "a"), (1L, "b"), (1L, "a")), Seq((1L, "a"), (2L, "b")))
        .foreach(b => b.toDF("k", "c").coalesce(1).write.mode("append").parquet(dir))
      val schema = spark.read.parquet(dir).schema
      val counts = StatefulOps.categoryCounts(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(dir).as[(Long, String)])
        .toDF("k", "c", "n")
      val changelog = Streams.drain(counts, "update", StatefulOps.RocksDbProvider).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // sparse: batch 2 touched only (1,a) — no (1,b) re-emission, so
      // (1,b) appears exactly once across the run
      assert(changelog.count(c => c._1 == 1L && c._2 == "b") == 1,
        s"untouched categories must not re-emit: ${changelog.toSeq}")
      // accumulation across batches: (1,a) went 2 then 3
      assert(changelog.filter(c => c._1 == 1L && c._2 == "a").map(_._3).sorted
        .sameElements(Array(2L, 3L)), s"got ${changelog.toSeq}")
      assert(changelog.filter(_._1 == 2L).toSeq == Seq((2L, "b", 1L)))
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("event-time timers close sessions; open sessions stay silent") {
    import spark.implicits._
    val dir = s"/tmp/graft_timer_spec_${System.nanoTime()}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val H = 3600L * 1000 // one hour in ms
    try {
      // batch 1: key 1 has two events, key 2 one; batch 2: key 1 again
      // 3h later (inline-closes its first session); batch 3 only
      // advances the watermark so key 2's TIMER fires
      Seq(
        Seq((1L, 10 * H), (1L, 10 * H + 30000), (2L, 10 * H + 10000)),
        Seq((1L, 13 * H)),
        Seq((3L, 14 * H))
      ).foreach(b => b.toDF("k", "t").coalesce(1).write.mode("append").parquet(dir))
      val schema = spark.read.parquet(dir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .withColumn("ts", org.apache.spark.sql.functions
          .timestamp_millis($"t"))
        .withWatermark("ts", "10 minutes")
        .select($"k", $"t").as[(Long, Long)]
      val closed = StatefulOps.closedSessions(src, gapMs = 30 * 60 * 1000)
        .toDF("k", "n", "first_t", "last_t")
      val out = Streams.drain(closed, "append", StatefulOps.RocksDbProvider).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // key 1's first session closed INLINE by the 13:00 event; key 2's
      // closed by TIMER once the watermark passed 10:40; key 1's second
      // session closed at drain (AvailableNow fires timers eligible
      // under the FINAL watermark, 13:50 >= 13:30); key 3's deadline
      // (14:30) is beyond the final watermark — still open, silent
      assert(out == Set(
        (1L, 2L, 10 * H, 10 * H + 30000),
        (2L, 1L, 10 * H + 10000, 10 * H + 10000),
        (1L, 1L, 13 * H, 13 * H)), s"got $out")
    } finally fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }
}
