package graft.graphs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function form of `GnnInference`'s dense affine
  * step, `out(k) = act( b(k) + Σ_m z(m)·w(m)(k) )` (CodegenFallback),
  * which the codegen'd [[graft.functions.MatVecAffine]] replaced.
  * MatVecAffineSpec compares the two element for element. */
object AffineFoldReference {

  def affineFold(z: Column, w: Seq[Seq[Double]], b: Seq[Double], act: String): Column = {
    val wl = typedLit(w)
    val bl = typedLit(b)
    val raw = transform(sequence(lit(0), lit(b.size - 1)), k =>
      element_at(bl, k + 1) +
        aggregate(
          zip_with(z, transform(wl, row => element_at(row, k + 1)), (zi, wi) => zi * wi),
          lit(0.0), (acc, x) => acc + x))
    act match {
      case "relu" => transform(raw, v => greatest(v, lit(0.0)))
      case "sigmoid" => transform(raw, v => lit(1.0) / (lit(1.0) + exp(-v)))
      case "softplus" =>
        // ln(1+eˣ) with the standard overflow guard max(x,0)+ln(1+e^−|x|)
        transform(raw, v => greatest(v, lit(0.0)) + log(lit(1.0) + exp(-abs(v))))
      case _ => raw
    }
  }
}
