package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Structured Streaming capability coverage (SURVEY §2.2 streaming rows):
  * watermarks + event-time windows, streaming dedup, and custom state via
  * flatMapGroupsWithState.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark + tumbling event-time window emits closed windows only") {
    import spark.implicits._
    val src = MemoryStream[(Timestamp, String)](spark)
    val agg = src.toDS().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"k")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"k", $"n")
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData((ts(0), "a"), (ts(1), "a"), (ts(6), "b"))
      q.processAllAvailable()
      // advance event time far past the watermark: first windows close
      src.addData((ts(40), "c"))
      q.processAllAvailable()
      val rows = spark.table("wm_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((ts(0), "a", 2L), (ts(5), "b", 1L)))
    } finally q.stop()
  }

  test("streaming dropDuplicates suppresses re-sent ids across batches") {
    import spark.implicits._
    val src = MemoryStream[(Long, String)](spark)
    val deduped = src.toDS().toDF("id", "v").dropDuplicates("id")
    val q = deduped.writeStream.format("memory").queryName("dd_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData((1L, "x"), (2L, "y"))
      q.processAllAvailable()
      src.addData((1L, "x-again"), (3L, "z"))
      q.processAllAvailable()
      val ids = spark.table("dd_out").select("id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream inner join within event-time bounds") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val imps = MemoryStream[(Timestamp, Long)](spark)
    val c = clicks.toDS().toDF("cts", "ad").withWatermark("cts", "10 minutes")
    val i = imps.toDS().toDF("its", "ad2").withWatermark("its", "10 minutes")
    val joined = i.join(c,
      expr("ad = ad2 AND cts >= its AND cts <= its + interval 5 minutes"))
    val q = joined.writeStream.format("memory").queryName("ss_out")
      .outputMode(OutputMode.Append).start()
    try {
      imps.addData((ts(0), 1L), (ts(0), 2L))
      q.processAllAvailable()
      clicks.addData((ts(3), 1L))   // within 5 min of impression 1
      clicks.addData((ts(20), 2L))  // too late for impression 2
      q.processAllAvailable()
      val ads = spark.table("ss_out").select("ad").as[Long].collect().toSet
      assert(ads == Set(1L))
    } finally q.stop()
  }

  test("production grouper path: file-source requests, result table joined on request_id") {
    // SURVEY §3.2's prod mapping: promises are replaced by a result table
    // written per micro-batch and joined back on request_id
    import spark.implicits._
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_req").toString
    val reqDir = s"$base/requests"
    val resDir = s"$base/results"
    Seq((0L, 12), (1L, 7), (2L, 40)).toDF("request_id", "payload")
      .write.parquet(reqDir)
    val schema = spark.read.parquet(reqDir).schema
    val q = spark.readStream.schema(schema).parquet(reqDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.withColumn("result", col("payload") * 2)
          .select("request_id", "result")
          .write.mode("append").parquet(resDir)
        ()
      }
      .start()
    q.awaitTermination()
    val joined = spark.read.parquet(reqDir)
      .join(spark.read.parquet(resDir), "request_id")
      .collect().map(r => r.getAs[Long]("request_id") -> r.getAs[Int]("result")).toMap
    assert(joined == Map(0L -> 24, 1L -> 14, 2L -> 80))
  }

  test("maxFilesPerTrigger bounds micro-batch admission (the reference's :capacity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    // 6 single-row files; admission cap of 2 files per trigger must
    // produce >= 3 micro-batches on drain (core.clj:42-44's size bound)
    (1 to 6).foreach(i => Seq(i).toDF("v").write.parquet(s"$dir/f$i"))
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.schema("v INT")
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$dir/f*")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.add(b.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.asScala.toSeq
    assert(sizes.sum == 6, s"all rows processed: $sizes")
    assert(sizes.forall(_ <= 2), s"no batch exceeds the admission cap: $sizes")
    assert(sizes.count(_ > 0) >= 3, s"cap forces multiple batches: $sizes")
  }

  test("capacity admission holds on a non-file source (maxOffsetsPerTrigger shape)") {
    // The reference's `:capacity` maps to Kafka's maxOffsetsPerTrigger
    // (SURVEY §2.2): a broker-backed backlog is admitted in fixed-size
    // slices per trigger. No broker in this sandbox, so drive the same
    // offset-sliced admission through rate-micro-batch — the built-in
    // offset-range source whose per-trigger admission is an exact row
    // budget, the identical DataSourceV2 latestOffset/planInputPartitions
    // contract Kafka's admission limit uses.
    val capacity = 7
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", capacity.toString)
      .option("numPartitions", "3")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.add(b.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (batchSizes.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val sizes = batchSizes.asScala.toSeq
      assert(sizes.size >= 4, s"stream produced batches: $sizes")
      assert(sizes.take(4).forall(_ == capacity),
        s"every admitted slice is exactly the capacity budget: $sizes")
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-key counts across batches") {
    import spark.implicits._
    val src = MemoryStream[(String, Int)](spark)
    val counted = src.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((key, total))
      }
    val q = counted.toDF("k", "total").writeStream
      .format("memory").queryName("st_out").outputMode(OutputMode.Append).start()
    try {
      src.addData(("a", 1), ("a", 2), ("b", 3))
      q.processAllAvailable()
      src.addData(("a", 4))
      q.processAllAvailable()
      val last = spark.table("st_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(last == Map("a" -> 3L, "b" -> 1L))
    } finally q.stop()
  }

  test("q97 static side is the served band layout, built once — never a per-batch recompute") {
    val sf = "/root/testdata/sf0.001"
    val layout = graft.queries.Round3.corpusBandLayout(spark, sf)
    val success = new java.io.File(layout, "_SUCCESS")
    assert(success.exists())
    val m0 = success.lastModified()
    // serving a second time reuses the materialized layout as-is
    assert(graft.queries.Round3.corpusBandLayout(spark, sf) == layout)
    assert(success.lastModified() == m0)
    val query = graft.queries.Round3.streamCandidates(spark, sf)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out))(query.explain())
    val plan = out.toString
    // the static (corpus) side of the stream-static join must be a plain
    // parquet scan of the materialized layout — Spark re-evaluates the
    // static plan EVERY micro-batch, so anything else is corpus-sized
    // per-batch work...
    assert(plan.contains("graft_band_layout_v2"), s"static side must scan the layout:\n$plan")
    // ...and the only in-flight signature computation is the stream
    // (new-batch) side: one minhash projection, and documents.parquet is
    // scanned exactly once — by the stream source (the recompute shape
    // scanned it a second time to re-sign the corpus per batch)
    assert("minhash_signature".r.findAllIn(plan).size == 1, plan)
    assert("documents\\.parquet".r.findAllIn(plan).size == 1, plan)
    assert(spark.table(query.name).columns.toSet == Set("a_id", "b_id", "count"))
  }
}
