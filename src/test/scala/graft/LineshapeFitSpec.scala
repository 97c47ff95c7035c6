package graft

import graft.operators.{Gauss2DFit, LeastSquares, LineshapeFit}
import graft.operators.LineshapeFit.{Gaussian, Lorentzian, Power, PseudoVoigt}

class LineshapeFitSpec extends SparkSpec {
  import spark.implicits._

  test("lorentzian fit recovers exact parameters on noise-free data") {
    val (bg, h, c, g) = (1.0, 6.0, 2.5, 0.8)
    val pts = (-120 to 120).map { i =>
      val x = c + i * 0.05
      (3L, x, bg + h / (1 + math.pow((x - c) / g, 2)))
    }
    val r = LineshapeFit.fitGroups(pts.toDF("g", "x", "y"), Lorentzian, "g", "x", "y")
      .collect().head
    assert(math.abs(r.getDouble(r.fieldIndex("bg")) - bg) < 1e-5)
    assert(math.abs(r.getDouble(r.fieldIndex("height")) - h) < 1e-5)
    assert(math.abs(r.getDouble(r.fieldIndex("center")) - c) < 1e-5)
    assert(math.abs(r.getDouble(r.fieldIndex("width")) - g) < 1e-5)
  }

  test("lorentzian esd scales linearly with noise and is NaN-free where defined") {
    val (bg, h, c, g) = (1.0, 6.0, 2.5, 0.8)
    val xs = (-120 to 120).map(i => c + i * 0.05).toArray
    def noisy(a: Double) = xs.zipWithIndex.map { case (x, i) =>
      bg + h / (1 + math.pow((x - c) / g, 2)) +
        a * math.sin(i * 12.9898) * math.cos(i * 0.7)
    }
    val f1 = LineshapeFit.fitArrays(Lorentzian, 1L, xs, noisy(0.05))
    val f3 = LineshapeFit.fitArrays(Lorentzian, 1L, xs, noisy(0.15))
    assert(f1.esd_height > 0 && f1.esd_center > 0 && f1.esd_width > 0 && f1.esd_bg > 0)
    assert(f1.esd_frac.isNaN) // 4-param shape has no frac
    // esd ~ noise amplitude: tripling the noise triples the error bar
    val ratio = f3.esd_height / f1.esd_height
    assert(ratio > 2.4 && ratio < 3.6, s"esd scaling ratio = $ratio")
    // power-law: exponent esd rides in esd_width, center undefined
    val pxs = (1 to 200).map(_ * 0.05).toArray
    val pys = pxs.zipWithIndex.map { case (x, i) =>
      0.5 + 2.0 * math.pow(x, 1.7) + 0.02 * math.sin(i * 7.77) }
    val pf = LineshapeFit.fitArrays(Power, 1L, pxs, pys)
    assert(pf.esd_width > 0 && pf.esd_height > 0 && pf.esd_center.isNaN)
  }

  test("fixed-parameter mask holds params at seed (pyspec ifix)") {
    val (bg, h, c, g) = (1.0, 6.0, 2.5, 0.8)
    val xs = (-120 to 120).map(i => c + i * 0.05).toArray
    val ys = xs.map(x => bg + h / (1 + math.pow((x - c) / g, 2)))
    // freeze bg at its seed (ys.min ~= 1.0 at the far tails)
    val f = LineshapeFit.fitArrays(Lorentzian, 1L, xs, ys,
      fixed = Array(true, false, false, false))
    assert(f.converged)
    assert(f.bg == ys.min) // exactly the seed, untouched
    assert(f.esd_bg == 0.0) // fixed parameter: no uncertainty
    // bg is held at min(y) = bg + tail offset (slightly high), so the
    // free params compensate a little — close, not exact
    assert(math.abs(f.center - c) < 1e-3 && math.abs(f.width - g) < 0.06)
    assert(f.esd_height >= 0.0)
    // all-fixed degenerates to a non-fit
    val allFixed = LineshapeFit.fitArrays(Lorentzian, 2L, xs, ys,
      fixed = Array(true, true, true, true))
    assert(!allFixed.converged)
  }

  test("pseudo-voigt fit recovers the lorentzian fraction") {
    val (bg, h, c, w, f) = (0.2, 5.0, -1.0, 1.2, 0.7)
    val pts = (-150 to 150).map { i =>
      val x = c + i * 0.04
      val t = (x - c) / w
      val y = bg + h * (f / (1 + t * t) + (1 - f) * math.exp(-t * t / 2))
      (4L, x, y)
    }
    val r = LineshapeFit.fitGroups(pts.toDF("g", "x", "y"), PseudoVoigt, "g", "x", "y")
      .collect().head
    assert(math.abs(r.getDouble(r.fieldIndex("center")) - c) < 1e-4)
    assert(math.abs(r.getDouble(r.fieldIndex("frac")) - f) < 1e-3)
    assert(math.abs(r.getDouble(r.fieldIndex("height")) - h) < 1e-3)
  }

  test("power-law fit recovers (bg, amp, exponent) on noise-free data") {
    val (bg, amp, e) = (2.0, 3.0, 1.5)
    val pts = (1 to 200).map { i =>
      val x = i * 0.1
      (11L, x, bg + amp * math.pow(x, e))
    }
    val r = LineshapeFit.fitGroups(pts.toDF("g", "x", "y"), Power, "g", "x", "y")
      .collect().head
    assert(r.getString(r.fieldIndex("shape")) == "power")
    assert(math.abs(r.getDouble(r.fieldIndex("bg")) - bg) < 1e-4)
    assert(math.abs(r.getDouble(r.fieldIndex("height")) - amp) < 1e-4) // amp
    assert(math.abs(r.getDouble(r.fieldIndex("width")) - e) < 1e-4) // exponent
  }

  test("gaussian via the generic path matches the dedicated GaussFit") {
    val pts = (-60 to 60).map { i =>
      val x = i * 0.1
      (5L, x, 2.0 + 7.0 * math.exp(-x * x / (2 * 1.1 * 1.1)))
    }
    val gen = LineshapeFit.fitGroups(pts.toDF("g", "x", "y"), Gaussian, "g", "x", "y")
      .collect().head
    val ded = graft.operators.GaussFit.fitGroups(pts.toDF("g", "x", "y"), "g", "x", "y")
      .collect().head
    Seq("bg" -> "bg", "height" -> "height", "center" -> "com", "width" -> "sigma",
      "rss" -> "rss").foreach { case (g, d) =>
      assert(gen.getDouble(gen.fieldIndex(g)) == ded.getDouble(ded.fieldIndex(d)), s"$g vs $d")
    }
  }

  test("LM damping converges where undamped GN stalls (ill-conditioned seed)") {
    // pseudo-voigt on sparsely sampled pure-lorentzian data: the
    // moment seed puts width ~an order of magnitude high and the
    // frac/height/width columns of JᵀJ are nearly collinear there, so
    // the undamped GN direction is useless — step-halving stalls at a
    // far-off minimum. λ·diag damping turns the early steps gradient-
    // descent-like and the fit lands on the exact generating params.
    val xs = (0 until 60).map(i => i * 5.0).toArray
    val ys = xs.map { x => val t = (x - 151.0) / 2.0; 3.0 + 80.0 / (1 + t * t) }
    val lmFit = LineshapeFit.fitArrays(PseudoVoigt, 1, xs, ys)
    assert(lmFit.converged && lmFit.rss < 1e-9, s"LM should solve it, rss=${lmFit.rss}")
    assert(math.abs(lmFit.bg - 3.0) < 1e-5)
    assert(math.abs(lmFit.height - 80.0) < 1e-4)
    assert(math.abs(lmFit.center - 151.0) < 1e-5)
    assert(math.abs(lmFit.width - 2.0) < 1e-4)
    assert(lmFit.frac > 0.99) // pure lorentzian
  }

  test("each model's analytic gradient matches a central difference") {
    def check(m: LeastSquares.Model, pts: Seq[(Double, Double)],
              params: Seq[Array[Double]]): Unit = params.foreach { p =>
      val g = new Array[Double](m.nParams)
      pts.foreach { case (x, y) =>
        val v = m.gradient(x, y, p, g)
        assert(math.abs(v - m.value(x, y, p)) <= 1e-12 * (1 + math.abs(v)))
        (0 until m.nParams).foreach { k =>
          val h = 1e-6 * math.max(1.0, math.abs(p(k)))
          val up = p.clone(); up(k) += h
          val dn = p.clone(); dn(k) -= h
          val num = (m.value(x, y, up) - m.value(x, y, dn)) / (2 * h)
          assert(math.abs(g(k) - num) <= 1e-6 * (1 + math.abs(num)),
            s"$m d/dp$k at x=$x y=$y p=${p.mkString(",")}: ${g(k)} vs $num")
        }
      }
    }
    val line = Seq(-3.0, -0.5, 0.4, 1.7, 4.9, 6.2).map(_ -> 0.0)
    val peaks = Seq(Array(2.0, 10.0, 5.0, 1.5), Array(0.5, 3.0, -2.0, 0.7),
      Array(-1.0, 0.2, 0.3, 4.0))
    check(Gaussian, line, peaks)
    check(Lorentzian, line, peaks)
    // the third point's frac lies outside [0, 1], where it is clamped
    check(PseudoVoigt, line, Seq(Array(0.2, 5.0, -1.0, 1.2, 0.7),
      Array(1.0, 2.0, 0.5, 0.6, 0.1), Array(0.0, 4.0, 1.0, 2.0, 1.3)))
    check(Power, Seq(0.3, 1.0, 2.5, 7.0).map(_ -> 0.0),
      Seq(Array(2.0, 3.0, 1.5), Array(0.5, -1.0, 0.3), Array(1.0, 2.0, 2.7)))
    check(Gauss2DFit.Gaussian2D, Seq((24.0, 13.0), (30.0, 10.0), (8.0, 26.0), (0.5, -1.2)),
      Seq(Array(7.0, 200.0, 25.0, 14.0, 5.0, 3.0), Array(20.0, 150.0, 8.0, 26.0, 2.5, 6.0),
        Array(0.0, 1.0, 0.0, 0.0, 1.0, 2.0)))
  }

  test("null and NaN y are skipped: every group gets a row, n counts finite points") {
    val (bg, h, c, g) = (1.0, 6.0, 2.5, 0.8)
    val xs = (-120 to 120).map(i => c + i * 0.05)
    val clean = xs.map(x => bg + h / (1 + math.pow((x - c) / g, 2)))
    def withHole(k: Int, hole: Option[Double]) = xs.indices.map { i =>
      (k.toLong, xs(i), if (i == 100) hole else Some(clean(i)))
    }
    val df = (withHole(1, None) ++ withHole(2, Some(Double.NaN))).toDF("g", "x", "y")
    val out = LineshapeFit.fitGroups(df, Lorentzian, "g", "x", "y").as[LineshapeFit.ShapeFit]
      .collect().sortBy(_.g)
    val keep = xs.indices.filter(_ != 100)
    val ref = LineshapeFit.fitArrays(Lorentzian, 0L, keep.map(xs).toArray,
      keep.map(clean).toArray)
    assert(out.map(_.g).toSeq == Seq(1L, 2L))
    out.foreach { f =>
      assert(f.n == xs.length - 1 && f.converged)
      // string form: esd_frac is NaN for a 4-parameter shape
      assert(f.copy(g = 0L).toString == ref.toString)
      assert(math.abs(f.center - c) < 1e-5 && math.abs(f.width - g) < 1e-5)
    }
  }
}
