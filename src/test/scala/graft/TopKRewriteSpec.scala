package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The optimizer rule must turn `row_number() <= k` filters into the
  * bounded-heap TopKPerGroup plan without changing results. */
class TopKRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-topk-rewrite")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the codegen cache is sized once per JVM, by the first session that
    // generates code: keep it the same whichever suite runs first
    .config("spark.sql.codegen.cache.maxEntries", Session.CodegenCacheEntries.toLong)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def topkDf = {
    import spark.implicits._
    // single ordering key (unique composite) — the shape the graft rule
    // routes to the bounded heap; multi-key orderings fall through to
    // Spark's own sort-based InferWindowGroupLimit
    val df = (1 to 5000).map(i => (i % 23, i * 37 % 4999, i)).toDF("g", "v", "id")
    val w = Window.partitionBy($"g").orderBy(($"v" * 10000 + $"id").desc)
    df.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
  }

  test("rewrite fires: physical plan uses the bounded-heap operator") {
    val plan = topkDf.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
  }

  test("rewrite fires on sampleKPerGroup's md5-ordered shape") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, if (i <= 450) "big" else "small"))
      .toDF("id", "dom")
    val out = graft.operators.Mixing.sampleKPerGroup(df, "dom", "id", 30)
    assert(out.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"),
      out.queryExecution.optimizedPlan.toString)
    assert(out.count() == 60)
  }

  test("rewritten plan returns exactly the window-formulation rows") {
    import spark.implicits._
    val got = topkDf.select($"g", $"v", $"id", $"rn").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    // same query, rule disabled via excludedRules
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.TopKRewriteRule$")
    try {
      val exp = topkDf.select($"g", $"v", $"id", $"rn").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      assert(got == exp)
      assert(got.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
      case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("no rewrite for ascending default null ordering (NULLS FIRST)") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i % 5, i)).toDF("g", "v")
    val w = Window.partitionBy($"g").orderBy($"v".asc)
    val plan = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerGroup"), plan)
  }

  test("asc_nulls_last rewrites and keeps null-last semantics") {
    import spark.implicits._
    val df = Seq((1, Some(5)), (1, None), (1, Some(3)), (2, None), (2, None), (2, Some(9)))
      .toDF("g", "v")
    val w = Window.partitionBy($"g").orderBy($"v".asc_nulls_last)
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    val got = q.select($"g", $"v").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -999 else r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // group 1: two smallest non-nulls; group 2: the non-null then a null
    assert(got(1) == Seq(3, 5))
    assert(got(2) == Seq(-999, 9))
  }
}
