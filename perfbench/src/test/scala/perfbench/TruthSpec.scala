package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TruthSpec extends AnyFunSuite {

  // four points on a line and one off it; ids are array positions
  private val base = Array(
    Array(0f, 0f), Array(1f, 0f), Array(2f, 0f), Array(3f, 0f), Array(0f, 5f))

  test("brute-force nearest: exact distance, ties to the smaller id, dead ids skipped") {
    assert(Truth.sqL2(Array(1f, 2f), Array(4f, 6f)) == 25.0)
    assert(Truth.nearest(base, _ => true, Array(2.2f, 0f)) == 2)
    // 0.5 is equidistant from ids 0 and 1
    assert(Truth.nearest(base, _ => true, Array(0.5f, 0f)) == 0)
    assert(Truth.nearest(base, _ != 2, Array(2.2f, 0f)) == 3)
    assert(Truth.nearest(base, _ => true, Array(0f, 4f)) == 4)
    val qs = Array(Array(2.2f, 0f), Array(0.5f, 0f), Array(0f, 4f))
    assert(Truth.nearestAll(base, _ => true, qs, threads = 2).toSeq == Seq(2, 0, 4))
  }

  test("recall@r is the share of queries whose true nearest is in the first r") {
    val answers = Seq(Seq(2L, 3L, 1L), Seq(1L, 0L, 2L), Seq(0L, 1L, 2L), Seq(3L))
    val truth = Seq(2L, 0L, 4L, 3L)
    assert(Truth.recallAt(answers, truth, 1) == 0.5)
    assert(Truth.recallAt(answers, truth, 2) == 0.75)
    assert(Truth.recallAt(answers, truth, 10) == 0.75)
  }

  test("a correct top-k answer passes every check") {
    val q = Array(0.4f, 0f)
    val vecs = (id: Long) => base.lift(id.toInt)
    val rows = Seq(0L, 1L, 2L).map(i => (i, Truth.sqL2(base(i.toInt), q)))
    assert(Truth.checkTopK(rows, q, 3, vecs, base.length).isEmpty)
  }

  test("wrong answers are named: count, order, distance, deleted id") {
    val q = Array(0.4f, 0f)
    val vecs = (id: Long) => if (id == 1L) None else base.lift(id.toInt)
    val d = (i: Int) => Truth.sqL2(base(i), q)
    def problems(rows: Seq[(Long, Double)]) = Truth.checkTopK(rows, q, 2, vecs, 4)
    assert(problems(Seq(0L -> d(0))).exists(_.contains("1 rows, expected 2")))
    assert(problems(Seq(2L -> d(2), 0L -> d(0))).exists(_.contains("not ascending")))
    assert(problems(Seq(0L -> d(0), 2L -> (d(2) + 1e-3))).exists(_.contains("recomputed")))
    assert(problems(Seq(0L -> d(0), 1L -> d(1))).exists(_.contains("deleted or unknown")))
    // fewer live vectors than k: fewer rows are right
    assert(Truth.checkTopK(Seq(0L -> d(0)), q, 5, vecs, 1).isEmpty)
  }
}
