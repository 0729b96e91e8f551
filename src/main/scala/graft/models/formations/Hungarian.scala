package graft.models.formations

/** Minimum-cost perfect assignment (Kuhn-Munkres with potentials,
  * O(n³)) — the Scala replacement for the reference's
  * `scipy.optimize.linear_sum_assignment` (`efpi.py:132-144`). EFPI
  * matrices are at most 11×11, so cost is negligible; the solver is a
  * plain JVM function usable inside any executor-side closure.
  */
object Hungarian {

  /** Solve the square assignment problem.
    * @return (colOfRow, totalCost): row i is assigned column colOfRow(i). */
  def solve(cost: Array[Array[Double]]): (Array[Int], Double) = {
    val n = cost.length
    require(n > 0 && cost.forall(_.length == n), "square matrix required")
    val u = new Array[Double](n + 1)
    val v = new Array[Double](n + 1)
    val p = new Array[Int](n + 1)    // p(j) = row matched to column j (1-based)
    val way = new Array[Int](n + 1)
    val minv = new Array[Double](n + 1)
    val used = new Array[Boolean](n + 1)
    var i = 1
    while (i <= n) {
      p(0) = i
      var j0 = 0
      java.util.Arrays.fill(minv, Double.PositiveInfinity)
      java.util.Arrays.fill(used, false)
      var done = false
      while (!done) {
        used(j0) = true
        val i0 = p(j0)
        var delta = Double.PositiveInfinity
        var j1 = -1
        var j = 1
        while (j <= n) {
          if (!used(j)) {
            val cur = cost(i0 - 1)(j - 1) - u(i0) - v(j)
            if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
            if (minv(j) < delta) { delta = minv(j); j1 = j }
          }
          j += 1
        }
        j = 0
        while (j <= n) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta }
          else minv(j) -= delta
          j += 1
        }
        j0 = j1
        done = p(j0) == 0
      }
      while (j0 != 0) { val j1 = way(j0); p(j0) = p(j1); j0 = j1 }
      i += 1
    }
    val ans = new Array[Int](n)
    var j = 1
    while (j <= n) { if (p(j) > 0) ans(p(j) - 1) = j - 1; j += 1 }
    var total = 0.0
    var k = 0
    while (k < n) { total += cost(k)(ans(k)); k += 1 }
    (ans, total)
  }

  /** Brute-force lexicographic solver for tiny n: enumerates
    * permutations in lexicographic order, keeps the first strict
    * minimum, cost summed left-to-right over rows. Used for n ≤ 4 so
    * the tie-break is canonical (first lexicographic optimal
    * permutation) and bit-reproducible against a SQL oracle that
    * enumerates the same permutations in the same order. */
  def bruteForce(cost: Array[Array[Double]]): (Array[Int], Double) = {
    val n = cost.length
    var best: Array[Int] = null
    var bestCost = Double.PositiveInfinity
    (0 until n).permutations.foreach { perm =>
      var c = 0.0
      var i = 0
      while (i < n) { c += cost(i)(perm(i)); i += 1 }
      if (c < bestCost) { bestCost = c; best = perm.toArray }
    }
    (best, bestCost)
  }

  /** Canonical solve: brute force (lexicographic tie-break) for n ≤ 4,
    * Kuhn-Munkres beyond. A NaN or infinite cost (a NaN or infinite
    * coordinate) raises the error scipy's `linear_sum_assignment` names;
    * neither solver has an answer for it. */
  def solveCanonical(cost: Array[Array[Double]]): (Array[Int], Double) = {
    require(cost.forall(_.forall(c => !c.isNaN && !c.isInfinite)), "matrix contains invalid numeric entries")
    if (cost.length <= 4) bruteForce(cost) else solve(cost)
  }
}
