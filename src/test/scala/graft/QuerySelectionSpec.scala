package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_ONLY` filter shared by Verify, Bench, PlanDump and
  * ScaleBench (whose survival operators carry `op_` names). */
class QuerySelectionSpec extends AnyFunSuite {

  test("a query-number prefix stops at its underscore; exact names match") {
    val only = Some("q13, q101_x")
    assert(SparkEntry.selected("q13_foo", only))
    assert(!SparkEntry.selected("q130_bar", only))
    assert(!SparkEntry.selected("q139_baz", only))
    assert(SparkEntry.selected("q101_x", only))
    assert(!SparkEntry.selected("q101_xy", only))
    assert(!SparkEntry.selected("op_kaplan_meier_routed", only))
    assert(SparkEntry.selected("op_kaplan_meier_routed", Some("op_kaplan_meier_routed")))
    assert(SparkEntry.selected("q130_bar", None), "unset selects every query")
  }
}
