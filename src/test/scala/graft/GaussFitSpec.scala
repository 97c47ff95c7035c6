package graft

import graft.operators.GaussFit

class GaussFitSpec extends SparkSpec {
  import spark.implicits._

  private def gauss(bg: Double, h: Double, c: Double, s: Double)(x: Double): Double =
    bg + h * math.exp(-(x - c) * (x - c) / (2 * s * s))

  test("recovers exact parameters on noise-free gaussians") {
    val truth = Map(1L -> (2.0, 10.0, 5.0, 1.5), 2L -> (0.5, 3.0, -2.0, 0.7))
    val pts = truth.toSeq.flatMap { case (g, (bg, h, c, s)) =>
      (-80 to 80).map { i =>
        val x = c + i * 0.05 * s * 4 / 4
        (g, x, gauss(bg, h, c, s)(x))
      }
    }
    val out = GaussFit.fitGroups(pts.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getLong(0) -> r).toMap
    truth.foreach { case (g, (bg, h, c, s)) =>
      val r = out(g)
      assert(math.abs(r.getDouble(2) - bg) < 1e-6, s"bg group $g")
      assert(math.abs(r.getDouble(3) - h) < 1e-6, s"height group $g")
      assert(math.abs(r.getDouble(4) - c) < 1e-6, s"com group $g")
      assert(math.abs(r.getDouble(5) - s) < 1e-6, s"sigma group $g")
      assert(r.getDouble(6) < 1e-10, s"rss group $g")
    }
  }

  test("approximately recovers parameters under deterministic noise") {
    val (bg, h, c, s) = (1.0, 8.0, 3.0, 2.0)
    val pts = (-100 to 100).map { i =>
      val x = c + i * 0.08
      // deterministic pseudo-noise, amplitude 1% of height
      val noise = 0.08 * math.sin(i * 12.9898) * math.cos(i * 0.7)
      (7L, x, gauss(bg, h, c, s)(x) + noise)
    }
    val r = GaussFit.fitGroups(pts.toDF("g", "x", "y"), "g", "x", "y").collect().head
    assert(math.abs(r.getDouble(4) - c) < 0.05)
    assert(math.abs(r.getDouble(5) - s) < 0.05)
    assert(math.abs(r.getDouble(3) - h) < 0.2)
  }

  test("degenerate input (flat line) does not blow up") {
    val pts = (1 to 20).map(i => (9L, i.toDouble, 4.2))
    val r = GaussFit.fitGroups(pts.toDF("g", "x", "y"), "g", "x", "y").collect().head
    assert(r.getDouble(2) == 4.2) // bg = min
    assert(r.getDouble(3) == 0.0) // height = 0
    assert(java.lang.Double.isFinite(r.getDouble(6)))
  }

  test("reported esd matches the empirical parameter scatter (Monte Carlo)") {
    // pyspec fit.py semantics: esd_p = sqrt(diag((JtJ)^-1)_p * rss/(n-4)).
    // Fit 60 replicates with iid gaussian noise; the esd the fitter
    // REPORTS must match the scatter the parameters ACTUALLY show.
    val (bg, h, c, s) = (1.0, 8.0, 3.0, 2.0)
    val xs = (-100 to 100).map(i => c + i * 0.08).toArray
    val rng = new scala.util.Random(123457L)
    val noise = 0.15
    val fits = (0 until 60).map { _ =>
      val ys = xs.map(x => gauss(bg, h, c, s)(x) + noise * rng.nextGaussian())
      GaussFit.fitArrays(1L, xs, ys)
    }
    def std(vs: Seq[Double]) = {
      val m = vs.sum / vs.size
      math.sqrt(vs.map(v => (v - m) * (v - m)).sum / (vs.size - 1))
    }
    assert(fits.forall(f => f.esd_height > 0 && f.esd_com > 0 &&
      f.esd_bg > 0 && f.esd_sigma > 0))
    val ratioH = (fits.map(_.esd_height).sum / fits.size) / std(fits.map(_.height))
    val ratioC = (fits.map(_.esd_com).sum / fits.size) / std(fits.map(_.com))
    assert(ratioH > 0.6 && ratioH < 1.7, s"esd_height/empirical = $ratioH")
    assert(ratioC > 0.6 && ratioC < 1.7, s"esd_com/empirical = $ratioC")
    // and a noise-free fit reports (numerically) zero error bars
    val clean = GaussFit.fitArrays(2L, xs, xs.map(gauss(bg, h, c, s)))
    assert(clean.esd_height < 1e-6 && clean.esd_com < 1e-6)
  }

  test("fit is invariant to input row order") {
    val pts = (-50 to 50).map(i => (1L, i * 0.1, gauss(0.0, 5.0, 0.0, 1.0)(i * 0.1)))
    val a = GaussFit.fitGroups(pts.toDF("g", "x", "y"), "g", "x", "y").collect().head
    val b = GaussFit.fitGroups(scala.util.Random.shuffle(pts).toDF("g", "x", "y"), "g", "x", "y")
      .collect().head
    assert(a == b)
  }

  test("null and NaN y are skipped; a non-finite rss is never converged") {
    val xs = (-50 to 50).map(_ * 0.1)
    val clean = xs.map(gauss(1.0, 5.0, 0.3, 1.2))
    def withHole(k: Int, hole: Option[Double]) = xs.indices.map { i =>
      (k.toLong, xs(i), if (i == 40) hole else Some(clean(i)))
    }
    val df = (withHole(1, None) ++ withHole(2, Some(Double.NaN))).toDF("g", "x", "y")
    val out = GaussFit.fitGroups(df, "g", "x", "y").as[GaussFit.Fit].collect().sortBy(_.g)
    val keep = xs.indices.filter(_ != 40)
    val ref = GaussFit.fitArrays(0L, keep.map(xs).toArray, keep.map(clean).toArray)
    assert(out.map(_.g).toSeq == Seq(1L, 2L))
    out.foreach { f =>
      assert(f.n == xs.length - 1 && f.converged && f.rss < 1e-10)
      assert(f.copy(g = 0L) == ref)
    }
    // residuals of 1e160 square to +Inf: no step can lower the rss
    val huge = GaussFit.fitArrays(3L, xs.toArray, clean.map(_ * 1e160).toArray)
    assert(huge.rss.isInfinite && !huge.converged)
  }
}
