package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles return observed samples") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
  }

  test("highest percentile keeps at least ten samples beyond it") {
    assert(Stats.beyond(200, 95) == 10)
    assert(Stats.beyond(199, 95) == 9)
    assert(Stats.highestSupported(200).contains(95.0))
    assert(Stats.highestSupported(199).contains(90.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(10000).contains(99.9))
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(0).isEmpty)
  }

  test("error rate counts failed operations against attempted ones") {
    val a = new Accounting
    assert(a.errorRate == 0.0)
    a.record(8, Nil)
    a.check("read", ok = true, "unused")
    a.check("read", ok = false, "wrong answer")
    assert(a.attempted == 10 && a.failed == 1)
    assert(a.errorRate == 0.1)
    a.attempt("throws")(throw new IllegalStateException("boom"))(_ => None)
    a.attempt("wrong")(41)(v => if (v == 42) None else Some(s"got $v"))
    assert(a.attempt("right")(42)(v => if (v == 42) None else Some(s"got $v")).contains(42))
    assert(a.attempted == 13 && a.failed == 3)
    assert(a.failureLog.exists(_.contains("boom")))
    assert(a.failureLog.exists(_.contains("got 41")))
    assertThrows[IllegalArgumentException](a.record(1, Seq("x", "y")))
  }
}
