package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Iterative per-group Gaussian peak fitting — the Spark
  * re-expression of pyspec's lineshape fitting (`fit.py` /
  * `fitfuncs.py` gaussian): y = bg + h·exp(-(x-com)²/(2σ²)).
  *
  * This is [[LineshapeFit.Gaussian]] on the shared Levenberg–Marquardt
  * core ([[LeastSquares]]), reported in the gaussian's own row layout.
  * Every group fits independently in one `mapGroups` task with
  * O(points-per-group) memory; 100 TB of scans parallelize across all
  * cores with one shuffle, never a driver-side loop.
  *
  * Determinism: finite points are sorted by (x, y) before the fit, the
  * iteration budget is fixed, and the seed comes from closed-form
  * moments ("peakguess") — identical results on any cluster layout.
  */
object GaussFit {

  /** `esd_*` are the per-parameter estimated standard deviations at
    * the solution — `sqrt(diag((JᵀJ)⁻¹) · rss/(n−4))`, the error bars
    * pyspec `fit.py` reports from the covariance matrix. NaN when the
    * fit degenerates (n ≤ 4, no peak, or singular normal matrix).
    */
  final case class Fit(g: Long, n: Long, bg: Double, height: Double,
                       com: Double, sigma: Double, rss: Double, r2: Double,
                       converged: Boolean,
                       esd_bg: Double, esd_height: Double,
                       esd_com: Double, esd_sigma: Double)

  def fitArrays(g: Long, xs: Array[Double], ys: Array[Double]): Fit = {
    val f = LineshapeFit.fitArrays(LineshapeFit.Gaussian, g, xs, ys)
    Fit(f.g, f.n, f.bg, f.height, f.center, f.width, f.rss, f.r2, f.converged,
      f.esd_bg, f.esd_height, f.esd_center, f.esd_width)
  }

  /** Per-group fit over a DataFrame with (group, x, y) columns. */
  def fitGroups(df: DataFrame, group: String, x: String, y: String): DataFrame =
    LeastSquares.fitGroups(df, col(group), col(x), lit(0.0), col(y)) { (g, xs, _, ys) =>
      fitArrays(g, xs, ys)
    }
}
