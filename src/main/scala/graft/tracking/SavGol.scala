package graft.tracking

/** Savitzky-Golay smoothing as a fixed FIR filter.
  *
  * The reference calls `scipy.signal.savgol_filter(values, window_length,
  * polyorder)` per (object, period) group (`kloppy_polars.py:313-380`).
  * For a fixed (window, polyorder) the filter is linear: every output is
  * a fixed linear combination of nearby inputs — including scipy's
  * default `mode="interp"` edges, which fit a degree-p polynomial to the
  * first/last `window` samples. [[smoothArray]] is the one
  * implementation, run by the kinematics series kernel; [[sql]] writes
  * the same sums as DuckDB window terms for the oracle. Groups shorter
  * than `window` pass through unchanged (scipy raises there; the
  * reference pre-checks and passes through, `kloppy_polars.py:346-347`).
  *
  * Coefficients come from the projection matrix H = A (AᵀA)⁻¹ Aᵀ with
  * A[i][j] = i^j over window positions 0..w-1:
  *  - interior output = H[m] · window values   (m = w/2)
  *  - first m outputs = H[0..m-1] · first w values
  *  - last m outputs  = H[w-m..w-1] · last w values
  *
  * Every dot product folds from its first term (`c0*t0 + c1*t1 + …`),
  * the term order of the SQL form: float addition is not associative,
  * and the oracle compares exact values (including `-0.0`).
  */
final case class SavGol(window: Int, polyorder: Int) {
  require(window % 2 == 1 && window > polyorder, s"bad savgol params ($window, $polyorder)")
  val m: Int = window / 2

  /** Full w×w least-squares projection matrix onto degree-p polynomials. */
  val projection: Array[Array[Double]] = {
    val w = window; val p = polyorder
    val a = Array.tabulate(w, p + 1)((i, j) => math.pow(i.toDouble, j.toDouble))
    val ata = Array.tabulate(p + 1, p + 1) { (r, c) =>
      var s = 0.0; var i = 0
      while (i < w) { s += a(i)(r) * a(i)(c); i += 1 }; s
    }
    val inv = SavGol.invert(ata)
    // H = A inv Aᵀ
    Array.tabulate(w, w) { (r, c) =>
      var s = 0.0
      for (j <- 0 to p; k <- 0 to p) s += a(r)(j) * inv(j)(k) * a(c)(k)
      s
    }
  }

  def centerCoeffs: Array[Double] = projection(m)

  /** The smoothed series (a copy when shorter than the window). */
  def smoothArray(xs: Array[Double]): Array[Double] = {
    val n = xs.length
    if (n < window) return xs.clone()
    val out = new Array[Double](n)
    /** Σ coeffs(j) · xs(from + j), folded from the first term. */
    def dot(coeffs: Array[Double], from: Int): Double = {
      var s = coeffs(0) * xs(from)
      var j = 1
      while (j < window) { s += coeffs(j) * xs(from + j); j += 1 }
      s
    }
    val c = centerCoeffs
    var i = m
    while (i < n - m) { out(i) = dot(c, i - m); i += 1 }
    i = 0
    while (i < m) {
      out(i) = dot(projection(i), 0)
      // i = distance from the end (0 = last row)
      out(n - 1 - i) = dot(projection(window - 1 - i), n - window)
      i += 1
    }
    out
  }

  /** DuckDB SQL text for the same computation, with the same term order
    * (term order matters: float addition is non-associative and the
    * oracle hash-compares exact values). `over` is a named-window
    * reference, `nCol`/`rnCol` SQL expressions for count/row_number. */
  def sql(v: String, over: String, nCol: String, rnCol: String): String = {
    def at(offset: Int): String =
      if (offset == 0) v
      else if (offset < 0) s"lag($v, ${-offset}) OVER $over"
      else s"lead($v, $offset) OVER $over"
    // coefficients as CAST('…' AS DOUBLE): DuckDB parses bare decimal
    // literals as DECIMAL and double-rounds on the cast to double (can
    // be 1 ulp off JVM's strtod round-trip); the string cast uses
    // strtod and matches the JVM literal bit-for-bit.
    def dot(coeffs: Array[Double], term: Int => String): String =
      coeffs.indices.map(j => s"CAST('${coeffs(j)}' AS DOUBLE) * (${term(j)})").mkString(" + ")
    val interior = dot(centerCoeffs, j => at(j - m))
    val head = (0 until m).map { i =>
      s"WHEN $rnCol - 1 = $i THEN ${dot(projection(i), j => at(j - i))}"
    }
    val tail = (0 until m).map { d =>
      s"WHEN $nCol - $rnCol = $d THEN ${dot(projection(window - 1 - d), j => at(j - (window - 1) + d))}"
    }
    s"CASE WHEN $nCol < $window THEN $v ${(head ++ tail).mkString(" ")} ELSE $interior END"
  }
}

object SavGol {
  /** Defaults from `kloppy_polars.py:31-32`. */
  val DefaultPlayer: SavGol = SavGol(7, 1)
  val DefaultBall: SavGol = SavGol(3, 1)

  /** Gauss-Jordan inverse for the tiny (p+1)×(p+1) normal matrix. */
  private[tracking] def invert(src: Array[Array[Double]]): Array[Array[Double]] = {
    val n = src.length
    val a = src.map(_.clone())
    val inv = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (col <- 0 until n) {
      var piv = col
      for (r <- col + 1 until n) if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tmpI = inv(col); inv(col) = inv(piv); inv(piv) = tmpI
      val d = a(col)(col)
      require(math.abs(d) > 1e-12, "singular savgol normal matrix")
      for (j <- 0 until n) { a(col)(j) /= d; inv(col)(j) /= d }
      for (r <- 0 until n if r != col) {
        val f = a(r)(col)
        if (f != 0.0) for (j <- 0 until n) { a(r)(j) -= f * a(col)(j); inv(r)(j) -= f * inv(col)(j) }
      }
    }
    inv
  }
}
