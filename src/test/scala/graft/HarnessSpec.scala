package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Shims
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** The run loop Bench, PlanDump and ScaleBench share ([[Harness]]) and the
  * per-query counters Bench's warm pass records. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("a failing query times as -1 and hygiene still runs") {
    spark.range(10).toDF("x").cache().count()
    spark.range(3).createOrReplaceTempView("graft_s_harness")
    spark.range(3).createOrReplaceTempView("kept_harness")
    val t = Harness.timedNoop(spark, "spec", "boom")(
      spark.range(4).selectExpr("raise_error('boom') AS x"))
    assert(t === -1.0)
    assert(Shims.cacheManagerEmpty(spark), "a cached DataFrame survived hygiene")
    assert(!spark.catalog.tableExists("graft_s_harness"))
    assert(spark.catalog.tableExists("kept_harness"), "hygiene dropped a non-graft_s view")
    spark.catalog.dropTempView("kept_harness")
  }

  test("hygiene drops the memory-sink table of a drained stream") {
    import spark.implicits._
    val in = MemoryStream[Int](spark)
    in.addData(1, 2, 3)
    val before = Shims.tempViewNames(spark).toSet
    assert(Streams.drain(in.toDF(), "append").count() == 3)
    val tables = Shims.tempViewNames(spark).filterNot(before)
    assert(tables.size == 1)
    Harness.hygiene(spark)
    assert(!spark.catalog.tableExists(tables.head), s"${tables.head} survived hygiene")
  }

  test("after the bus drain the profile counts the job exactly, with no sleep") {
    val s = spark.newSession()
    // AQE off pins the plan: one job of a 4-task map stage and a 4-task
    // reduce stage (4 shuffle partitions). timedNoop's hygiene runs before
    // the drain, so this also pins that hygiene launches no job.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val profile = new Harness.Profile
    Shims.drainListenerBus(s)
    s.sparkContext.addSparkListener(profile)
    try {
      val t = Harness.timedNoop(s, "spec", "agg")(
        s.range(0, 1000, 1, 4).groupBy(col("id") % 10).count())
      assert(t >= 0)
      Shims.drainListenerBus(s)
      assert((profile.jobs.sum, profile.stages.sum, profile.tasks.sum) === ((1L, 2L, 8L)))
      assert(profile.shufWrite.sum > 0 && profile.shufRead.sum > 0)
    } finally s.sparkContext.removeSparkListener(profile)
  }

  test("the profile counts a query's codegen compiles, and a warm rerun compiles 0") {
    val profile = new Harness.Profile
    // an expression no other test plans: its stage is new code
    def run(): Unit = assert(Harness.timedNoop(spark, "spec", "codegen")(
      spark.range(0, 16, 1, 2).selectExpr("id * 7919 + 104729 AS x")) >= 0)
    run()
    val n = profile.codegenCompiles
    assert(n > 0, "a new stage compiled nothing")
    assert(profile.json.endsWith(s""","codegen_compiles":$n}"""), profile.json)
    profile.reset()
    run()
    assert(profile.codegenCompiles === 0L)
  }
}
