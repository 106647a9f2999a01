package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile leaves exactly n - ceil(p·n) samples beyond") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 95) == 190.0)
    assert(xs.count(_ > Stats.percentile(xs, 95)) == 10)
    assert(Stats.samplesBeyond(200, 95) == 10)
    assert(Stats.samplesBeyond(199, 95) == 9)
    assert(Stats.percentile(xs.reverse, 50) == 100.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.samplesNeeded(95) == 200)
    assert(Stats.samplesNeeded(90) == 100)
    assert(Stats.samplesNeeded(75) == 40)
    assert(Stats.samplesBeyond(40, 75) == 10)
    assert(Stats.samplesBeyond(39, 75) == 9)
    assert(Stats.samplesNeeded(75, beyond = 2) == 8)
    assert(Stats.samplesBeyond(7, 75) == 1)
  }

  test("median averages the middle pair") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
