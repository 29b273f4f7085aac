package graft

import graft.domain.FrameSolver
import graft.domain.FrameSolver.FrameSlice
import org.scalatest.funsuite.AnyFunSuite

class FrameSolverSpec extends AnyFunSuite {

  /** exhaustive optimal badness for small n (independent of the DP) */
  private def bruteBadness(n: Int, target: Double, minF: Int, maxF: Int): Double = {
    def bad(len: Int): Double = {
      val m = len + 1
      if (m > maxF || m < minF) Double.PositiveInfinity
      else math.pow(math.floor(math.abs(m - target)), 3)
    }
    def go(i: Int): Double =
      if (i == n) 0.0
      else (i + 1 to n).map(j => bad(j - i) + go(j)).min
    go(0)
  }

  test("solve matches brute-force optimum badness for n in 5..16") {
    for (n <- 5 to 16) {
      val slices = FrameSolver.solve(n, target = 9.0, minF = 5, maxF = 10)
      // chain property: starts at 0, each next start = prev end - 1, ends at n
      assert(slices.head._1 == 0)
      assert(slices.last._2 == n)
      slices.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 == e1 - 1)
        case _ =>
      }
      // recover the DP's underlying cut chain j_k (= next slice's start;
      // n for the last slice) and its total badness
      val js = slices.drop(1).map(_._1) :+ n
      val cost = slices.map(_._1).zip(js).map { case (i, j) =>
        val m = (j - i) + 1
        assert(m >= 5 && m <= 10, s"cut ($i,$j) out of bounds for n=$n")
        math.pow(math.floor(math.abs(m - 9.0)), 3)
      }.sum
      assert(cost == bruteBadness(n, 9.0, 5, 10), s"suboptimal for n=$n")
    }
  }

  test("solve yields target-sized frames on long tracks") {
    val slices = FrameSolver.solve(27 * 3, target = 9.0, minF = 5, maxF = 10)
    // most slices should be exactly 9 bursts (8 + 1 overlap)
    val sizes = slices.map { case (s, e) => e - s }
    assert(sizes.count(_ == 9) >= sizes.size - 2)
  }

  test("smoothIndicator leaves no short water runs") {
    val ind = Array(true, true, false, false, true, false, false, false, false,
      false, false, true, true, true, true, true, false, true)
    val out = FrameSolver.smoothIndicator(ind, minF = 5)
    // collect runs
    var runs = List.empty[(Boolean, Int)]
    out.foreach { v =>
      runs = runs match {
        case (b, n) :: t if b == v => (b, n + 1) :: t
        case t => (v, 1) :: t
      }
    }
    runs.filter(!_._1).foreach { case (_, n) => assert(n >= 5) }
    // smoothing only turns water->land, never land->water
    ind.zip(out).foreach { case (before, after) => assert(!before || after) }
  }

  test("landOptimizedSlices covers the track exactly") {
    val ind = Array.fill(40)(false).zipWithIndex.map { case (_, i) => i % 13 < 7 }
    val slices = FrameSolver.landOptimizedSlices(ind)
    assert(slices.nonEmpty)
    assert(slices.head.start == 0)
    assert(slices.map(_.end).max == 40)
  }

  test("infeasible all-water track (n < 5) floods to one undersized land slice") {
    // smoothing smears every short water run; on a track shorter than minF
    // the whole indicator floods to land and the DP falls back to a single
    // undersized frame — the contract the q_frame_dp oracle's infeasible
    // branch mirrors (is_land = TRUE, slice = [0, n))
    for (n <- 1 to 4) {
      val slices = FrameSolver.landOptimizedSlices(Array.fill(n)(false))
      assert(slices == Seq(FrameSlice(0, n, true)), s"n=$n → $slices")
    }
    // n = 5 is feasible and stays water
    assert(FrameSolver.landOptimizedSlices(Array.fill(5)(false)) ==
      Seq(FrameSlice(0, 5, false)))
  }
}
