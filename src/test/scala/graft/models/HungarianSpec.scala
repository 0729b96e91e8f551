package graft.models

import graft.models.formations.Hungarian
import org.scalatest.funsuite.AnyFunSuite

/** Kuhn-Munkres vs exhaustive brute force — the property the reference
  * gets from scipy's linear_sum_assignment (`efpi.py:132-144`). */
class HungarianSpec extends AnyFunSuite {

  private def bruteCost(cost: Array[Array[Double]]): Double = {
    val n = cost.length
    (0 until n).permutations.map { p =>
      (0 until n).map(i => cost(i)(p(i))).sum
    }.min
  }

  private def rng(seed: Long) = new scala.util.Random(seed)

  test("matches brute-force optimum on random matrices n=1..7") {
    for (seed <- 1 to 40; n <- 1 to 7) {
      val r = rng(seed * 1000L + n)
      val cost = Array.fill(n, n)(math.rint(r.nextDouble() * 1000) / 10.0)
      val (assign, total) = Hungarian.solve(cost)
      assert(assign.sorted.sameElements(0 until n), s"not a permutation (n=$n seed=$seed)")
      val expected = bruteCost(cost)
      assert(math.abs(total - expected) < 1e-9,
        s"n=$n seed=$seed hungarian=$total brute=$expected")
    }
  }

  test("integer-cost matrices solve exactly") {
    for (seed <- 1 to 20) {
      val r = rng(seed)
      val n = 2 + r.nextInt(6)
      val cost = Array.fill(n, n)(r.nextInt(50).toDouble)
      val (_, total) = Hungarian.solve(cost)
      assert(total === bruteCost(cost))
    }
  }

  test("solveCanonical delegates to lexicographic brute force at n<=4") {
    // two identical rows -> tied optima; canonical pick is the first
    // lexicographic permutation among them
    val cost = Array(
      Array(1.0, 2.0, 9.0),
      Array(1.0, 2.0, 9.0),
      Array(5.0, 5.0, 0.0))
    val (assign, total) = Hungarian.solveCanonical(cost)
    assert(total === 3.0)
    assert(assign.toSeq === Seq(0, 1, 2)) // (0,1,2) beats (1,0,2) lexicographically
  }

  test("11x11 (full squad) solves fast and optimally vs greedy lower bound") {
    val r = rng(7)
    val n = 11
    val cost = Array.fill(n, n)(r.nextDouble() * 100)
    val (assign, total) = Hungarian.solve(cost)
    assert(assign.sorted.sameElements(0 until n))
    // lower bound: sum of per-row minima
    val lb = cost.map(_.min).sum
    assert(total >= lb - 1e-9)
    // sanity: beats the identity assignment
    val identity = (0 until n).map(i => cost(i)(i)).sum
    assert(total <= identity + 1e-9)
  }

  test("a NaN or infinite cost raises scipy's named error on both solvers") {
    for (n <- Seq(3, 6); bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      val cost = Array.tabulate(n, n)((i, j) => if (i == 1 && j == 2) bad else (i + 2 * j).toDouble)
      val e = intercept[IllegalArgumentException](Hungarian.solveCanonical(cost))
      assert(e.getMessage.contains("matrix contains invalid numeric entries"))
    }
  }
}
