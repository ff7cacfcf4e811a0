package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Pins the r11 footer-schema memo in [[Tables.table]]: the memoized
  * schema must equal a fresh `spark.read.parquet` inference for every
  * fixture table (a stale or cross-path cache entry would silently
  * change column types under every query), and the returned frame must
  * read the actual data (the memo caches metadata only).
  */
class SchemaMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Session.local(4)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  test("memoized schema matches fresh footer inference for every fixture") {
    Tables.names.foreach { name =>
      val fresh = spark.read.parquet(s"$sfDir/$name.parquet").schema
      val memoized = Tables.table(spark, sfDir, name).schema
      assert(memoized === fresh, s"schema memo diverged for $name")
      // second call must hit the memo and agree with itself
      assert(Tables.table(spark, sfDir, name).schema === memoized)
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
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_bin").toString
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
