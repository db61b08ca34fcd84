package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(xs, 0.5) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
  }

  test("quantile rejects empty input and out-of-range q") {
    assertThrows[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }

  test("p90 is reported only with at least 10 samples above it") {
    val hundred = (0 until 100).map(_.toDouble)
    assert(hundred.count(_ > Stats.quantile(hundred, 0.9)) == 10)
    assert(Stats.p90(hundred).exists(p => math.abs(p - 89.1) < 1e-9))
    val ninety = (0 until 90).map(_.toDouble)
    assert(ninety.count(_ > Stats.quantile(ninety, 0.9)) == 9)
    assert(Stats.p90(ninety).isEmpty)
    assert(Stats.p90(Seq.fill(200)(1.0)).isEmpty, "ties leave nothing above p90")
    assert(Stats.p90(Nil).isEmpty)
    assert(Stats.p90(ninety, minAbove = 9).isDefined)
  }

  test("metric names are [A-Za-z0-9_.-]+, at most 64 long, led by a letter or digit") {
    Seq("pass_s", "op.q1.wall_s", "exec.busy_frac", "store.sigs.jobs",
      "trace.overhead_s", "1x", "a-b").foreach(n => assert(Stats.validName(n), n))
    Seq("", "bad name", "op/x", ".lead", "_lead", "op.q1:wall", "é",
      "x" * 65).foreach(n => assert(!Stats.validName(n), n))
    assert(Stats.validName("x" * 64))
    assertThrows[IllegalArgumentException](Metric("op q1", 1.0, "s"))
    assert(Metric("op.q1.wall_s", 1.0, "s").name == "op.q1.wall_s")
  }

  test("units are short and from the allowed characters") {
    Seq("s", "ms", "MiB", "1/s", "%", "docs/s", "count").foreach(u =>
      assert(Stats.validUnit(u), u))
    Seq("", "per second", "x" * 17).foreach(u => assert(!Stats.validUnit(u), u))
  }

  test("unionLength merges overlapping and nested intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((5L, 6L), (0L, 1L))) == 2L)
  }
}
