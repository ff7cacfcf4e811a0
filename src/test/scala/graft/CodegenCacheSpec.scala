package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shims
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** A warm query compiles nothing: the codegen cache holds the working set
  * ([[Session.CodegenCacheEntries]]) and emptiness probes plan no Limit
  * (`hasRows()`). Compiles are read from Spark's JVM-wide Janino counter. */
class CodegenCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit = spark.stop()

  /** `body`'s result and the Janino compiles it caused. */
  private def compiles[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("a second kCore run compiles nothing") {
    import spark.implicits._
    // a triangle with a two-edge tail: three peel rounds, three probes
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    def run(): Set[(Long, Long)] =
      Graph.kCore(edges, "s", "d", 2).as[(Long, Long)].collect().toSet
    val (first, _) = compiles(run())
    assert(first === Set((1L, 2L), (2L, 2L), (3L, 2L)))
    val (second, n) = compiles(run())
    assert(second === first)
    assert(n === 0L, s"the warm kCore run compiled $n classes")
  }

  test("150 distinct one-stage projections stay cached for a second sweep") {
    // each stage takes two cache entries (driver and task class loaders),
    // so one sweep needs ~300: past Spark's default of 100, inside ours
    def sweep(): Seq[Long] = (0 until 150).map { i =>
      spark.range(0, 8, 1, 2).selectExpr(s"id * 3 + $i").collect().map(_.getLong(0)).sum
    }
    val (first, c1) = compiles(sweep())
    assert(c1 >= 150, s"precondition: the first sweep compiled only $c1 classes")
    val (second, n) = compiles(sweep())
    assert(second === first)
    assert(n === 0L, s"the second sweep compiled $n classes")
  }

  test("hasRows is right on empty and non-empty frames and runs one job") {
    val profile = new Harness.Profile
    Shims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(profile)
    try {
      for (parts <- Seq(1, 8); (pred, want) <- Seq("id < 0" -> false, "id = 7" -> true)) {
        val df = spark.range(0, 8, 1, parts).toDF().filter(pred)
        profile.reset()
        assert(df.hasRows() === want, s"$parts partitions, $pred")
        Shims.drainListenerBus(spark)
        assert(profile.jobs.sum === 1L, s"$parts partitions, $pred")
      }
    } finally spark.sparkContext.removeSparkListener(profile)
  }
}
