package graft

import graft.operators.Gauss2DFit

class Gauss2DFitSpec extends SparkSpec {

  private def synthFrame(mx: Double, my: Double, sx: Double, sy: Double,
                         bg: Double, h: Double, w: Int, hgt: Int)
      : (Array[Double], Array[Double], Array[Double]) = {
    val xs = new Array[Double](w * hgt)
    val ys = new Array[Double](w * hgt)
    val vs = new Array[Double](w * hgt)
    var i = 0
    while (i < w * hgt) {
      val x = i % w; val y = i / w
      val dx = x - mx; val dy = y - my
      xs(i) = x; ys(i) = y
      vs(i) = math.round(bg + h *
        math.exp(-(dx * dx / (2 * sx * sx) + dy * dy / (2 * sy * sy)))).toDouble
      i += 1
    }
    (xs, ys, vs)
  }

  test("recovers the parameters of a clean rounded 2-D Gaussian") {
    val (xs, ys, vs) = synthFrame(mx = 25.0, my = 14.0, sx = 5.0, sy = 3.0,
      bg = 7.0, h = 200.0, w = 48, hgt = 32)
    val f = Gauss2DFit.fitArrays(1L, xs, ys, vs)
    assert(f.converged)
    assert(math.abs(f.mux - 25.0) < 0.05, s"mux = ${f.mux}")
    assert(math.abs(f.muy - 14.0) < 0.05, s"muy = ${f.muy}")
    assert(math.abs(f.sigx - 5.0) < 0.1, s"sigx = ${f.sigx}")
    assert(math.abs(f.sigy - 3.0) < 0.1, s"sigy = ${f.sigy}")
    assert(math.abs(f.bg - 7.0) < 0.2, s"bg = ${f.bg}")
    assert(math.abs(f.height - 200.0) < 1.0, s"height = ${f.height}")
    assert(f.r2 > 0.999)
    // covariance error bars exist and are small for a near-exact fit
    assert(f.esd_mux < 0.05 && f.esd_muy < 0.05)
  }

  test("off-center peak and anisotropic widths") {
    val (xs, ys, vs) = synthFrame(mx = 8.0, my = 26.0, sx = 2.5, sy = 6.0,
      bg = 20.0, h = 150.0, w = 48, hgt = 32)
    val f = Gauss2DFit.fitArrays(2L, xs, ys, vs)
    assert(f.converged)
    assert(math.abs(f.mux - 8.0) < 0.1)
    assert(math.abs(f.muy - 26.0) < 0.1)
    assert(math.abs(f.sigx - 2.5) < 0.15)
    assert(math.abs(f.sigy - 6.0) < 0.3)
  }

  test("degenerate input (flat frame) reports non-converged, no crash") {
    val xs = Array.tabulate(100)(i => (i % 10).toDouble)
    val ys = Array.tabulate(100)(i => (i / 10).toDouble)
    val vs = Array.fill(100)(42.0)
    val f = Gauss2DFit.fitArrays(3L, xs, ys, vs)
    assert(!f.converged)
    assert(f.n === 100)
  }

  test("fitFrames runs distributed over a frame stack and is deterministic") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = (0 until 3).flatMap { fr =>
      val (xs, ys, vs) = synthFrame(mx = 20.0 + fr, my = 16.0, sx = 4.0, sy = 3.0,
        bg = 5.0, h = 100.0, w = 40, hgt = 32)
      Seq((fr.toLong, 40, vs.toSeq))
    }.toDF("frame", "width", "pixels")
    val out1 = Gauss2DFit.fitFrames(rows, col("frame"), col("width"), col("pixels"))
      .orderBy("g").collect()
    val out2 = Gauss2DFit.fitFrames(rows.repartition(7), col("frame"), col("width"), col("pixels"))
      .orderBy("g").collect()
    assert(out1.length === 3)
    out1.zip(out2).foreach { case (a, b) => assert(a === b) }
    out1.zipWithIndex.foreach { case (r, fr) =>
      assert(math.abs(r.getAs[Double]("mux") - (20.0 + fr)) < 0.1)
    }
  }

  test("null and NaN pixels are skipped: every frame gets a row, n counts finite pixels") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (xs, ys, vs) = synthFrame(mx = 20.0, my = 16.0, sx = 4.0, sy = 3.0,
      bg = 5.0, h = 100.0, w = 40, hgt = 32)
    val holes = Map(300 -> None, 650 -> Some(Double.NaN))
    val px = vs.indices.map(i => holes.getOrElse(i, Some(vs(i))))
    val rows = Seq((0L, 40, px), (1L, 40, px)).toDF("frame", "width", "pixels")
    val out = Gauss2DFit.fitFrames(rows, col("frame"), col("width"), col("pixels"))
      .as[Gauss2DFit.Fit2].collect().sortBy(_.g)
    val keep = vs.indices.filterNot(holes.contains)
    val ref = Gauss2DFit.fitArrays(0L, keep.map(xs).toArray, keep.map(ys).toArray,
      keep.map(vs).toArray)
    assert(out.map(_.g).toSeq == Seq(0L, 1L))
    out.foreach { f =>
      assert(f.n == vs.length - 2 && f.converged)
      assert(f.copy(g = 0L) == ref)
      assert(math.abs(f.mux - 20.0) < 0.1 && math.abs(f.muy - 16.0) < 0.1)
    }
  }
}
