package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Generalized per-group lineshape fitting — the full pyspec
  * `fit.py`/`fitfuncs.py` surface (gaussian, lorentzian,
  * pseudo-voigt, power), not just the gaussian special case.
  *
  * Each shape is a [[LeastSquares.Model]]: its value and analytic
  * gradient over the abscissa x (the second coordinate is unused). The
  * fit itself — Levenberg–Marquardt, sorted finite points, fixed
  * iteration budget, esd — is the shared core's.
  */
object LineshapeFit {

  /** params layout: (bg, height, center, width[, frac]) */
  sealed trait Shape extends LeastSquares.Model {
    def name: String
    def widths: Array[Int] = Array(3)
    /** Moment seed ([[LeastSquares.peakGuess]] along x). */
    def seed(xs: Array[Double], ys: Array[Double], vs: Array[Double]): Array[Double] = {
      val g = LeastSquares.peakGuess(xs, ys, vs)
      val base = Array(g(0), g(1), g(2), g(4))
      if (nParams == 5) base :+ 0.5 else base
    }
  }

  case object Gaussian extends Shape {
    val name = "gaussian"; val nParams = 4
    def value(x: Double, y: Double, p: Array[Double]): Double = {
      val dx = x - p(2)
      p(0) + p(1) * math.exp(-dx * dx / (2 * p(3) * p(3)))
    }
    def gradient(x: Double, y: Double, p: Array[Double], g: Array[Double]): Double = {
      val dx = x - p(2)
      val s2 = p(3) * p(3)
      val e = math.exp(-dx * dx / (2 * p(3) * p(3)))
      g(0) = 1.0; g(1) = e; g(2) = p(1) * e * dx / s2; g(3) = p(1) * e * dx * dx / (s2 * p(3))
      p(0) + p(1) * e
    }
  }

  case object Lorentzian extends Shape {
    val name = "lorentzian"; val nParams = 4
    def value(x: Double, y: Double, p: Array[Double]): Double = {
      val t = (x - p(2)) / p(3)
      p(0) + p(1) / (1 + t * t)
    }
    def gradient(x: Double, y: Double, p: Array[Double], g: Array[Double]): Double = {
      val t = (x - p(2)) / p(3)
      val l = 1 / (1 + t * t)
      val dt = p(1) * 2 * t * l * l / p(3) // ∂value/∂center; ∂value/∂width = dt·t
      g(0) = 1.0; g(1) = l; g(2) = dt; g(3) = dt * t
      p(0) + p(1) * l
    }
  }

  /** Linear mix of gaussian and lorentzian with shared width; p(4) is
    * the lorentzian fraction, clamped to [0, 1] (no gradient outside). */
  case object PseudoVoigt extends Shape {
    val name = "pseudo_voigt"; val nParams = 5
    def value(x: Double, y: Double, p: Array[Double]): Double = {
      val t = (x - p(2)) / p(3)
      val f = math.min(1.0, math.max(0.0, p(4)))
      p(0) + p(1) * (f / (1 + t * t) + (1 - f) * math.exp(-t * t / 2))
    }
    def gradient(x: Double, y: Double, p: Array[Double], g: Array[Double]): Double = {
      val t = (x - p(2)) / p(3)
      val f = math.min(1.0, math.max(0.0, p(4)))
      val lor = 1 / (1 + t * t)
      val gau = math.exp(-t * t / 2)
      // ∂value/∂center; ∂value/∂width = dt·t
      val dt = p(1) * (f * 2 * t * lor * lor + (1 - f) * t * gau) / p(3)
      g(0) = 1.0; g(1) = f * lor + (1 - f) * gau; g(2) = dt; g(3) = dt * t
      g(4) = if (p(4) > 0 && p(4) < 1) p(1) * (lor - gau) else 0.0
      p(0) + p(1) * (f * lor + (1 - f) * gau)
    }
  }

  /** Power law y = bg + amp·x^exp (pyspec fitfuncs "power":
    * a[0] + a[1]·x**a[2]). 3-param layout (bg, amp, exp): in the
    * ShapeFit output `height` carries amp, `width` carries the
    * exponent, `center` is 0. Domain x > 0 (x is clamped to a tiny
    * positive floor so stray non-positive abscissae degrade the fit
    * instead of poisoning it with NaN).
    */
  case object Power extends Shape {
    val name = "power"; val nParams = 3
    override def widths: Array[Int] = Array.empty
    def value(x: Double, y: Double, p: Array[Double]): Double =
      p(0) + p(1) * math.pow(math.max(x, 1e-300), p(2))
    def gradient(x: Double, y: Double, p: Array[Double], g: Array[Double]): Double = {
      val xm = math.max(x, 1e-300)
      val xp = math.pow(xm, p(2))
      g(0) = 1.0; g(1) = xp; g(2) = p(1) * xp * math.log(xm)
      p(0) + p(1) * xp
    }
    override def seed(xs: Array[Double], ys: Array[Double], vs: Array[Double]): Array[Double] = {
      val bg = vs.min
      val xm = xs.max
      val amp = if (xm > 0) (vs.last - bg) / math.max(xm, 1e-12) else 1.0
      Array(bg, if (amp != 0.0) amp else 1.0, 1.0)
    }
  }

  /** `esd_*` mirror pyspec `fit.py`'s per-parameter error bars:
    * `sqrt(diag((JᵀJ)⁻¹) · rss/(n−free))` at the solution (NaN when
    * the fit degenerates or the shape lacks the parameter — e.g.
    * `esd_frac` for 4-parameter shapes).
    */
  final case class ShapeFit(g: Long, shape: String, n: Long, bg: Double,
                            height: Double, center: Double, width: Double,
                            frac: Double, rss: Double, r2: Double, converged: Boolean,
                            esd_bg: Double, esd_height: Double, esd_center: Double,
                            esd_width: Double, esd_frac: Double)

  /** Fits one series. `fixed` holds parameters at their SEED value
    * (pyspec `fit.py` `ifix` semantics — e.g. freeze a known background
    * while the peak refines): fixed parameters take no step, contribute
    * no jacobian column, and report esd 0.
    */
  def fitArrays(shape: Shape, g: Long, xs: Array[Double], ys: Array[Double],
                fixed: Array[Boolean] = null): ShapeFit = {
    val s = LeastSquares.fit(shape, xs, new Array[Double](xs.length), ys, fixed)
    val (p, esd, np) = (s.p, s.esd, shape.nParams)
    // esd layout follows the param layout: Power (bg, amp, exp) puts
    // its exponent esd under esd_width, matching where `width`
    // carries the exponent itself.
    ShapeFit(g, shape.name, s.n, p(0), p(1),
      if (np >= 4) p(2) else 0.0,
      if (np >= 4) math.abs(p(3)) else p(2),
      if (np == 5) math.min(1.0, math.max(0.0, p(4))) else 0.0,
      s.rss, s.r2, s.converged,
      esd(0), esd(1),
      if (np >= 4) esd(2) else Double.NaN,
      if (np >= 4) esd(3) else esd(2),
      if (np == 5) esd(4) else Double.NaN)
  }

  /** Per-group fit over (group, x, y) columns for one lineshape.
    * `fixed` (optional) freezes parameters at their seed (`ifix`). */
  def fitGroups(df: DataFrame, shape: Shape, group: String, x: String, y: String,
                fixed: Array[Boolean] = null): DataFrame =
    LeastSquares.fitGroups(df, col(group), col(x), lit(0.0), col(y)) { (g, xs, _, ys) =>
      fitArrays(shape, g, xs, ys, fixed)
    }
}
