package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Shims
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
}
