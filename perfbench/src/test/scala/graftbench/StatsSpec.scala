package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the value with exactly ten samples above it") {
    val xs = (1 to 20).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs)).get
    assert(t.value == 10.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 50.0 && t.n == 20)
    assert(Stats.tail((1 to 100).map(_.toDouble)).get.value == 90.0)
  }

  test("tail needs at least eleven samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.value == 1.0)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val p = Stats.Interval(0, 100)
    assert(Stats.selfTime(p, Nil) == 100)
    assert(Stats.selfTime(p, Seq(Stats.Interval(10, 20), Stats.Interval(30, 50))) == 70)
    // overlapping children count once
    assert(Stats.selfTime(p, Seq(Stats.Interval(10, 40), Stats.Interval(20, 50))) == 60)
    // a child sticking out of the parent only covers its inside part
    assert(Stats.selfTime(p, Seq(Stats.Interval(90, 130), Stats.Interval(-20, 5))) == 85)
  }

  test("digest ignores row order but not content or multiplicity") {
    val a = Seq(Seq[Any]("TSLA", "2024-03-31", new java.math.BigDecimal("1.50")), Seq[Any]("RIVN", null, 3))
    assert(Stats.digest(a) == Stats.digest(a.reverse))
    assert(Stats.digest(a) != Stats.digest(a :+ a.head))
    assert(Stats.digest(a) != Stats.digest(Seq(a.head, Seq[Any]("RIVN", null, 4))))
    assert(Stats.digest(Seq(Seq[Any](null))) != Stats.digest(Seq(Seq[Any]("null"))))
  }

  test("fail_frac counts thrown and failed checks against attempted ops") {
    val ops = new Stats.Ops
    assert(ops.run("ok")(1)(_ => None).contains(1))
    assert(ops.run("bad check")(2)(_ => Some("wrong")).isEmpty)
    assert(ops.run("throws")(throw new RuntimeException("boom"))((_: Int) => None).isEmpty)
    ops.plannedCrash()
    ops.record("late check", None)
    ops.record("late failure", Some("mismatch"))
    assert(ops.attempted == 5 && ops.failed == 3 && ops.plannedCrashes == 1)
    assert(ops.failFrac == 0.6)
    assert(ops.failures.exists(_.startsWith("throws threw")))
  }
}
