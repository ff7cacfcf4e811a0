package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shims
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Pins the footer-schema memo in [[Tables.table]]: the memoized schema,
  * read from a file's footer on the driver, must equal a fresh
  * `spark.read.parquet` inference for every fixture table under every
  * setting of the confs the memo keys on (a stale or cross-path cache
  * entry, or a footer conversion that drifts from Spark's, would silently
  * change column types under every query); a partitioned directory must
  * keep its partition column; registering the tables must launch no
  * Spark job; and the returned frame must read the actual data (the memo
  * caches metadata only).
  */
class SchemaMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val sf01Dir = "/root/testdata/sf0.01"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Session.local(4)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  private def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("memoized schema matches fresh footer inference for every fixture") {
    // every on/off combination of the confs Spark's footer conversion
    // reads, at two scale factors, in a fresh session each, so each first
    // call reads the footer and each second call hits the memo.
    // caseSensitive, the memo's other key conf, does not enter the
    // conversion: it alternates between combinations instead of doubling
    // them. The fresh inferences (one Spark job each) run 4 at a time
    val converterConfs = Tables.schemaConfs.filterNot(_ == "spark.sql.caseSensitive")
    val combos = (0 until 1 << converterConfs.size).map { bits =>
      converterConfs.indices.map(i => converterConfs(i) -> ((bits >> i & 1) == 1)).toMap +
        ("spark.sql.caseSensitive" -> (Integer.bitCount(bits) % 2 == 1))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val checks = new AtomicInteger(0)
    try for (confs <- combos; dir <- Seq(sfDir, sf01Dir)) {
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v.toString) }
      Tables.names.map { name =>
        pool.submit(() => {
          val fresh = s.read.parquet(s"$dir/$name.parquet").schema
          val memoized = Tables.table(s, dir, name).schema
          assert(memoized === fresh, s"schema memo diverged for $dir/$name under $confs")
          // second call must hit the memo and agree with itself
          assert(Tables.table(s, dir, name).schema === memoized)
          checks.incrementAndGet()
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(checks.get() == 32 * 2 * Tables.names.size)
  }

  test("a partitioned directory keeps its partition column") {
    withTempDir("graft_memo_part") { dir =>
      val path = s"$dir/parts.parquet"
      spark.range(10).selectExpr("id", "cast(id % 2 as int) as k")
        .write.partitionBy("k").parquet(path)
      assert(Shims.parquetFileSchema(spark, path).isEmpty, "a directory has no single footer")
      val df = Tables.table(spark, dir, "parts")
      assert(df.schema === spark.read.parquet(path).schema)
      assert(df.schema.fieldNames.toSeq == Seq("id", "k"))
      assert(df.where("k = 1").count() == 5)
    }
  }

  test("registering the fixture tables launches no Spark job (job gate)") {
    // a fresh copy: a new path, so no memo entry carries over
    withTempDir("graft_memo_jobs") { dir =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(sf01Dir), new java.io.File(dir))
      val jobs = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Tables.names.foreach(Tables.table(spark, dir, _))
        Shims.drainListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get() == 0, s"${jobs.get()} Spark jobs registering ${Tables.names.size} tables")
    }
  }

  test("memoized reads scan the real data, keyed per path") {
    val n1 = Tables.table(spark, sfDir, "region").count()
    assert(n1 > 0)
    // a different scale factor is a different key: row counts differ
    val n2 = Tables.table(spark, "/root/testdata/sf0.01", "orders").count()
    val n3 = Tables.table(spark, sfDir, "orders").count()
    assert(n2 > n3, s"per-path memo must not alias scale factors ($n2 vs $n3)")
  }

  test("memo keys on inference-relevant session confs, not path alone") {
    // events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false) in the
    // fixture: with inferTimestampNTZ on (the Spark default) inference
    // returns TimestampNTZType; a session that flips the conf reads the
    // same path as TimestampType and must NOT inherit the NTZ-typed memo
    val tsType = Tables.table(spark, sfDir, "events").schema("ts").dataType
    assert(tsType === org.apache.spark.sql.types.TimestampNTZType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val otherTs = Tables.table(other, sfDir, "events").schema("ts").dataType
    assert(otherTs === org.apache.spark.sql.types.TimestampType,
      "differently-configured session read a poisoned schema memo")
  }

  test("memo keys on binaryAsString: an unannotated BINARY column re-infers") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // written through parquet-mr, not Spark: a Spark-written footer carries
    // the Spark schema, which inference prefers over binaryAsString
    withTempDir("graft_memo_bin") { dir =>
      val schema = MessageTypeParser.parseMessageType("message t { required binary payload; }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/blobs.parquet"))
        .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
      w.write(new SimpleGroupFactory(schema).newGroup().append("payload", "abc"))
      w.close()
      def payloadType(binaryAsString: Boolean) = {
        val s = spark.newSession()
        s.conf.set("spark.sql.parquet.binaryAsString", binaryAsString.toString)
        Tables.table(s, dir, "blobs").schema("payload").dataType
      }
      assert(payloadType(binaryAsString = false) === BinaryType)
      assert(payloadType(binaryAsString = true) === StringType,
        "binaryAsString=true session read the BinaryType schema memo")
    }
  }
}
