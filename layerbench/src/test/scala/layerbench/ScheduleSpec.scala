package layerbench

import org.scalatest.funsuite.AnyFunSuite

/** The seed is the benchmark's only source of variation between runs:
  * one seed must give one arrival schedule, one set of item values and
  * one query order, and another seed another. */
class ScheduleSpec extends AnyFunSuite {
  private def digest(xs: Array[Long]): Int = java.util.Arrays.hashCode(xs)

  test("one seed gives one Poisson schedule and one set of item values") {
    val a = Schedule.arrivals(7, 2, 16000, 1.5)
    val b = Schedule.arrivals(7, 2, 16000, 1.5)
    assert(a.sameElements(b))
    assert(Schedule.values(7, 2, a.length).sameElements(Schedule.values(7, 2, b.length)))
    assert(!Schedule.arrivals(8, 2, 16000, 1.5).sameElements(a))
    assert(!Schedule.values(8, 2, 100).sameElements(Schedule.values(7, 2, 100)))
  }

  test("the schedule for seed 1 is pinned") {
    val low = Schedule.arrivals(1, 1, 2000, 2.0)
    val n = low.length
    val arrivalDigest = digest(low)
    val valueDigest = digest(Schedule.values(1, 1, n))
    assert(n == 4090)
    assert(arrivalDigest == 797532875)
    assert(valueDigest == 602602234)
  }

  test("arrivals are increasing, inside the window, at the requested rate") {
    val xs = Schedule.arrivals(3, 1, 2000, 5.0)
    assert(xs.zip(xs.tail).forall { case (x, y) => x <= y })
    assert(xs.head >= 0 && xs.last < 5000000000L)
    // Poisson count: mean 10,000, sd 100
    assert(math.abs(xs.length - 10000) < 500)
  }

  test("item values carry their index, so a batch can name its items") {
    val vs = Schedule.values(5, 3, 1000)
    assert(vs.indices.forall(i => Schedule.index(vs(i)) == i))
  }

  test("one seed gives one query order per pass") {
    val qs = Main.Workloads("barrier_heavy")
    assert(Main.passOrder(qs, 9, 0) == Main.passOrder(qs, 9, 0))
    assert(Main.passOrder(qs, 9, 0).sorted == qs.sorted)
    assert((0 until 8).map(Main.passOrder(qs, 9, _)).distinct.size > 1)
  }
}
