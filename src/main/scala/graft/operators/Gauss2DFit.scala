package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative per-frame 2-D Gaussian peak fitting — the CCD-frame
  * counterpart of [[GaussFit]] (pyspec fits 2-D detector peaks the
  * same way it fits 1-D scans: moment seed + least-squares refine):
  *
  *   v(x, y) = bg + h·exp(−((x−µx)²/(2σx²) + (y−µy)²/(2σy²)))
  *
  * — the axis-aligned 6-parameter peak (bg, h, µx, µy, σx, σy), the
  * standard beam-spot / diffraction-peak model, refined by the shared
  * Levenberg–Marquardt core ([[LeastSquares]]). Each frame fits
  * independently in one `mapGroups` task with O(pixels-per-frame)
  * memory; a million-frame stack parallelizes across all cores with
  * one shuffle. Determinism: finite pixels are sorted by (x, y, v),
  * the seed is closed-form moments, the iteration budget is fixed.
  */
object Gauss2DFit {

  /** esd_* = sqrt(diag((JᵀJ)⁻¹)·rss/(n−6)) at the solution — the
    * covariance error bars; NaN when degenerate. */
  final case class Fit2(g: Long, n: Long, bg: Double, height: Double,
                        mux: Double, muy: Double, sigx: Double, sigy: Double,
                        rss: Double, r2: Double, converged: Boolean,
                        esd_height: Double, esd_mux: Double, esd_muy: Double)

  /** The 2-D peak as a [[LeastSquares.Model]], params (bg, h, µx, µy, σx, σy). */
  case object Gaussian2D extends LeastSquares.Model {
    val nParams = 6
    def widths: Array[Int] = Array(4, 5)

    def seed(xs: Array[Double], ys: Array[Double], vs: Array[Double]): Array[Double] =
      LeastSquares.peakGuess(xs, ys, vs)

    def value(x: Double, y: Double, p: Array[Double]): Double = {
      val dx = x - p(2); val dy = y - p(3)
      p(0) + p(1) * math.exp(-(dx * dx / (2 * p(4) * p(4)) + dy * dy / (2 * p(5) * p(5))))
    }

    def gradient(x: Double, y: Double, p: Array[Double], g: Array[Double]): Double = {
      val dx = x - p(2); val dy = y - p(3)
      val sx2 = p(4) * p(4); val sy2 = p(5) * p(5)
      val e = math.exp(-(dx * dx / (2 * p(4) * p(4)) + dy * dy / (2 * p(5) * p(5))))
      val he = p(1) * e
      g(0) = 1.0; g(1) = e; g(2) = he * dx / sx2; g(3) = he * dy / sy2
      g(4) = he * dx * dx / (sx2 * p(4)); g(5) = he * dy * dy / (sy2 * p(5))
      p(0) + he
    }
  }

  def fitArrays(g: Long, xs: Array[Double], ys: Array[Double], vs: Array[Double]): Fit2 = {
    val s = LeastSquares.fit(Gaussian2D, xs, ys, vs)
    val p = s.p
    Fit2(g, s.n, p(0), p(1), p(2), p(3), math.abs(p(4)), math.abs(p(5)),
      s.rss, s.r2, s.converged, s.esd(1), s.esd(2), s.esd(3))
  }

  /** Per-frame fit over a detector-stack DataFrame (id, width,
    * pixels array): pixels explode to (x = col, y = row, v) and each
    * frame fits in one `mapGroups` task. */
  def fitFrames(df: DataFrame, id: Column, width: Column, pixels: Column): DataFrame =
    LeastSquares.fitGroups(Binning.pixelStream(df, id, width, pixels),
        col("id"), Binning.pxCol, Binning.pxRow, col("v")) {
      (g, xs, ys, vs) => fitArrays(g, xs, ys, vs)
    }
}
