package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** The one least-squares core behind every peak fitter ([[GaussFit]],
  * [[LineshapeFit]], [[Gauss2DFit]]): Levenberg–Marquardt, the solver
  * family of the SciPy `leastsq` (MINPACK, Moré 1978) that backs
  * pyspec's `fit.py`.
  *
  * A [[Model]] supplies only what is its own: parameter count, moment
  * seed, value, analytic gradient and which parameters are widths. The
  * core owns the rest, so every fitter keeps one contract:
  *  - points whose x, y or v is not finite are skipped and `n` counts
  *    the others; those are sorted by (x, y, v), so a fit does not
  *    depend on row order or cluster layout;
  *  - fewer than free+1 points, no free parameter, or a seed height
  *    p(1) ≤ 0 is degenerate: the seed is reported, not converged,
  *    with NaN esd;
  *  - the iteration budget is fixed; `converged` is false unless the
  *    final rss is finite;
  *  - `fixed` parameters (pyspec `ifix`) stay at their seed, take no
  *    step, and report esd 0; the other esd are
  *    `sqrt(diag((JᵀJ)⁻¹) · rss/(n−free))` at the solution, the error
  *    bars pyspec reports from the covariance matrix.
  */
object LeastSquares {

  /** A model v = f(x, y; p). 1-D lineshapes ignore `y` (the core passes
    * 0). p(1) is the peak height. */
  trait Model extends Serializable {
    def nParams: Int
    /** Parameters that must not reach 0 (a step landing within 1e-9 of
      * 0 halves the old value instead). */
    def widths: Array[Int]
    /** Moment seed ("peakguess") from the sorted, finite points. */
    def seed(xs: Array[Double], ys: Array[Double], vs: Array[Double]): Array[Double]
    def value(x: Double, y: Double, p: Array[Double]): Double
    /** Writes ∂value/∂p into `grad` and returns the value. */
    def gradient(x: Double, y: Double, p: Array[Double], grad: Array[Double]): Double
  }

  final case class Solution(n: Int, p: Array[Double], rss: Double, r2: Double,
                            converged: Boolean, esd: Array[Double])

  private val MaxIter = 40
  /** λ increases allowed per iteration before the fit counts as stalled. */
  private val MaxTries = 12

  /** Moment seed, pyspec "peakguess": (bg, h, µx, µy, σx, σy) with
    * bg = min v, h = max v − bg, and µ/σ from the (v − bg)-weighted
    * first and second moments per axis. */
  def peakGuess(xs: Array[Double], ys: Array[Double], vs: Array[Double]): Array[Double] = {
    val bg = vs.min
    var sw = 0.0; var sx = 0.0; var sy = 0.0; var sx2 = 0.0; var sy2 = 0.0
    var i = 0
    while (i < vs.length) {
      val w = vs(i) - bg
      sw += w; sx += w * xs(i); sy += w * ys(i)
      sx2 += w * xs(i) * xs(i); sy2 += w * ys(i) * ys(i)
      i += 1
    }
    val mx = if (sw > 0) sx / sw else xs(xs.length / 2)
    val my = if (sw > 0) sy / sw else ys(ys.length / 2)
    val vx = if (sw > 0) math.max(sx2 / sw - mx * mx, 1e-12) else 1.0
    val vy = if (sw > 0) math.max(sy2 / sw - my * my, 1e-12) else 1.0
    Array(bg, vs.max - bg, mx, my, math.sqrt(vx), math.sqrt(vy))
  }

  /** Coefficient of determination 1 − rss/Σ(v−v̄)²; NaN for a flat
    * series (no variance to explain). */
  private def rSquared(vs: Array[Double], rss: Double): Double = {
    val mean = vs.sum / vs.length
    val ssTot = vs.map(v => (v - mean) * (v - mean)).sum
    if (ssTot <= 0) Double.NaN else 1.0 - rss / ssTot
  }

  private def rss(m: Model, xs: Array[Double], ys: Array[Double], vs: Array[Double],
                  p: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < vs.length) {
      val r = vs(i) - m.value(xs(i), ys(i), p)
      acc += r * r; i += 1
    }
    acc
  }

  /** Fills the normal equations JᵀJ and Jᵀr at `p`, reusing `grad` for
    * every point. */
  private def normal(m: Model, xs: Array[Double], ys: Array[Double], vs: Array[Double],
                     p: Array[Double], grad: Array[Double],
                     jtj: Array[Array[Double]], jtr: Array[Double]): Unit = {
    val np = m.nParams
    jtj.foreach(java.util.Arrays.fill(_, 0.0))
    java.util.Arrays.fill(jtr, 0.0)
    var i = 0
    while (i < vs.length) {
      val r = vs(i) - m.gradient(xs(i), ys(i), p, grad)
      var a = 0
      while (a < np) {
        jtr(a) += grad(a) * r
        var b = 0
        while (b <= a) { jtj(a)(b) += grad(a) * grad(b); b += 1 }
        a += 1
      }
      i += 1
    }
    var a = 0
    while (a < np) { var b = 0; while (b < a) { jtj(b)(a) = jtj(a)(b); b += 1 }; a += 1 }
  }

  /** The rows and columns of `jtj` that belong to free parameters, as
    * a fresh matrix (`solve` destroys its input). */
  private def reduce(jtj: Array[Array[Double]], free: Array[Int]): Array[Array[Double]] =
    Array.tabulate(free.length, free.length)((i, j) => jtj(free(i))(free(j)))

  /** Solves the dense system a·x = b in place by Gaussian elimination
    * with partial pivoting; null when singular. */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    var c = 0
    while (c < n) {
      var piv = c
      var r = c + 1
      while (r < n) { if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r; r += 1 }
      if (math.abs(a(piv)(c)) < 1e-300) return null
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t
        val tb = b(piv); b(piv) = b(c); b(c) = tb }
      r = c + 1
      while (r < n) {
        val f = a(r)(c) / a(c)(c)
        var k = c
        while (k < n) { a(r)(k) -= f * a(c)(k); k += 1 }
        b(r) -= f * b(c)
        r += 1
      }
      c += 1
    }
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var k = i + 1
      while (k < n) { s -= a(i)(k) * x(k); k += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** diag(a⁻¹) via one solve per basis vector; null when singular. */
  private def invDiag(a: Array[Array[Double]]): Array[Double] = {
    val n = a.length
    val out = new Array[Double](n)
    var p = 0
    while (p < n) {
      val e = new Array[Double](n); e(p) = 1.0
      val x = solve(a.map(_.clone()), e)
      if (x == null) return null
      out(p) = x(p)
      p += 1
    }
    out
  }

  /** Levenberg–Marquardt from the model's seed: the normal equations
    * over the free parameters are damped with λ·diag(JᵀJ) (Marquardt
    * scaling), λ shrinking ×0.3 on every accepted step and growing ×10
    * on a rejected or singular one. Far-off or ill-conditioned seeds
    * thus take safe gradient-descent-like steps where the plain
    * Gauss–Newton direction is garbage, and the damping vanishes near
    * the optimum, restoring Gauss–Newton's quadratic convergence. A fit
    * converges when an accepted step lowers the rss by less than
    * 1e-12·(1 + rss), or when no step lowers it at all.
    */
  def fit(m: Model, xsIn: Array[Double], ysIn: Array[Double], vsIn: Array[Double],
          fixed: Array[Boolean] = null): Solution = {
    val np = m.nParams
    require(fixed == null || fixed.length == np, s"fixed mask must have $np entries")
    val order = vsIn.indices
      .filter(i => isFinite(xsIn(i)) && isFinite(ysIn(i)) && isFinite(vsIn(i)))
      .sortBy(i => (xsIn(i), ysIn(i), vsIn(i)))
    val xs = order.map(xsIn).toArray
    val ys = order.map(ysIn).toArray
    val vs = order.map(vsIn).toArray
    val n = vs.length
    val noEsd = Array.fill(np)(Double.NaN)
    if (n == 0) return Solution(0, noEsd.clone(), Double.NaN, Double.NaN, converged = false, noEsd)
    val free = (0 until np).filter(k => fixed == null || !fixed(k)).toArray
    val freeWidths = m.widths.filter(free.contains)
    var p = m.seed(xs, ys, vs)
    var cur = rss(m, xs, ys, vs, p)
    if (n < free.length + 1 || free.isEmpty || p(1) <= 0)
      return Solution(n, p, cur, rSquared(vs, cur), converged = false, noEsd)
    val grad = new Array[Double](np)
    val jtj = Array.ofDim[Double](np, np)
    val jtr = new Array[Double](np)
    var lambda = 1e-3
    var it = 0
    var converged = false
    while (it < MaxIter && !converged) {
      normal(m, xs, ys, vs, p, grad, jtj, jtr)
      var accepted = false
      var t = 0
      while (t < MaxTries && !accepted) {
        val a = reduce(jtj, free)
        var i = 0
        while (i < free.length) { a(i)(i) += lambda * math.max(a(i)(i), 1e-12); i += 1 }
        val d = solve(a, free.map(jtr))
        if (d != null) {
          val cand = p.clone()
          i = 0
          while (i < free.length) { cand(free(i)) += d(i); i += 1 }
          freeWidths.foreach(w => if (math.abs(cand(w)) < 1e-9) cand(w) = p(w) / 2)
          val nr = rss(m, xs, ys, vs, cand)
          if (isFinite(nr) && nr <= cur) {
            if (cur - nr < 1e-12 * (1 + cur)) converged = true
            p = cand; cur = nr; accepted = true
            lambda = math.max(1e-12, lambda * 0.3)
          }
        }
        if (!accepted) { lambda *= 10; t += 1 }
      }
      if (!accepted) converged = true
      it += 1
    }
    // JᵀJ at the FINAL parameters (the loop's belongs to the pre-step point).
    normal(m, xs, ys, vs, p, grad, jtj, jtr)
    val inv = invDiag(reduce(jtj, free))
    val esd =
      if (inv == null) noEsd
      else {
        val s2 = cur / math.max(1, n - free.length)
        val out = new Array[Double](np)
        free.indices.foreach { i =>
          out(free(i)) = if (inv(i) >= 0) math.sqrt(inv(i) * s2) else Double.NaN
        }
        out
      }
    Solution(n, p, cur, rSquared(vs, cur), converged && isFinite(cur), esd)
  }

  private def isFinite(d: Double): Boolean = java.lang.Double.isFinite(d)

  private[operators] final case class Pt(g: Long, x: Double, y: Double, v: Double)

  /** One `fit` per group of `df`, in one `groupByKey(g).mapGroups` task
    * each: a typed Dataset operator, since iterative refinement has no
    * declarative Spark form (SURVEY §2 #10). A null x, y or v becomes
    * NaN, which the core skips, so every group still gets a row. A row
    * whose key is null, or does not cast to long, belongs to no group
    * and is skipped. */
  private[operators] def fitGroups[R <: Product : TypeTag](
      df: DataFrame, g: Column, x: Column, y: Column, v: Column)(
      fit: (Long, Array[Double], Array[Double], Array[Double]) => R): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def num(c: Column) = coalesce(c.cast("double"), lit(Double.NaN))
    df.select(g.try_cast("long").as("g"), num(x).as("x"), num(y).as("y"), num(v).as("v"))
      .filter(col("g").isNotNull)
      .as[Pt]
      .groupByKey(_.g)
      .mapGroups { (key, it) =>
        val pts = it.toArray
        fit(key, pts.map(_.x), pts.map(_.y), pts.map(_.v))
      }
      .toDF()
  }
}
