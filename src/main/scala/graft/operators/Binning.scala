package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rebinning / gridding — the Spark re-expression of pyspec's 1-D
  * `rebin` and the 3-D reciprocal-space gridder (reference: pyspec
  * `ccd/transformations.py` grid3d / ctrans).
  *
  * Scale: a gridder over N points and G cells is a single hash
  * aggregate keyed by cell id — map-side partial aggregation means the
  * shuffle carries at most G*partitions rows regardless of N, which is
  * exactly how a 100 TB point cloud reduces to a bounded grid.
  */
object Binning {

  /** Exact floored integer division for LONG columns — correct for
    * negative x (unlike `div` which truncates toward zero) and for
    * |x| > 2^53 (unlike double division, e.g. epoch nanoseconds).
    * Requires 0 < w < 1e9. `pmod` gives the nonnegative remainder, so
    * x - pmod(x, w) is exactly divisible and the decimal division is
    * exact (scale-10 decimal keeps 28 integer digits).
    */
  def floorDiv(x: Column, w: Long): Column = {
    require(w > 0 && w < 1000000000L, s"floorDiv width out of range: $w")
    ((x - pmod(x, lit(w))).cast("decimal(28,0)") / lit(w).cast("decimal(9,0)")).cast("long")
  }

  /** Column-divisor variant (divisor must be a positive long column,
    * |x| < ~1e18). */
  def floorDivCol(x: Column, y: Column): Column =
    ((x - pmod(x, y)).cast("decimal(38,0)") / y.cast("decimal(19,0)")).cast("long")

  /** Fixed-width 1-D rebin of integer abscissa `x` (bin = floor(x/width))
    * aggregating exact-decimal weight `w` → (bin, n, y_sum, y_mean).
    */
  def rebin1d(df: DataFrame, x: Column, w: Column, width: Long): DataFrame = {
    val agg = df.groupBy(floorDiv(x, width).as("bin"))
      .agg(count(lit(1)).as("n"), sum(w).as("sum_w"))
    agg.select(
      col("bin"), col("n"),
      round(col("sum_w").cast("double"), 2).as("y_sum"),
      Exact.roundedRatio(Exact.cents(col("sum_w")), col("n") * lit(100L), 4).as("y_mean"))
  }

  /** Histogram with a data-driven range: nBins equal cells over
    * [min(v), max(v)], the last cell right-closed; a degenerate range
    * (min == max) lands every row in bin 0. The global range is one
    * tiny scalar aggregate broadcast to the scan — two passes over the
    * data, no driver round-trip in the plan's data path.
    */
  def histogram(df: DataFrame, v: Column, nBins: Int): DataFrame = {
    val range = df.agg(min(v).as("lo"), max(v).as("hi"))
    val w = (col("hi") - col("lo")) / nBins.toDouble
    val bin = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("v") - col("lo")) / w), lit(nBins - 1.0)))
      .cast("long")
    df.select(v.as("v")).crossJoin(broadcast(range))
      .select(bin.as("bin"), col("lo"), col("hi"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("lo") + col("bin") * ((col("hi") - col("lo")) / nBins.toDouble)), 4).as("bin_lo"))
      .select(col("bin"), col("n"), col("bin_lo"))
  }

  /** The pixel stream of 2-D detector frames `(id, width, pixels
    * array<double> row-major)`: one row `(id, w, keep…, i, v)` per
    * pixel, `i` its row-major index. [[pxCol]] and [[pxRow]] read the
    * pixel's column and row off `i` and `w`, exactly and with no
    * per-pixel decimal: `i − pmod(i, w)` is a multiple of `w`.
    */
  private[operators] def pixelStream(frames: DataFrame, id: Column, width: Column,
                                     pixels: Column, keep: Column*): DataFrame =
    frames.select(Seq(id.as("id"), width.as("w")) ++ keep :+
      posexplode(pixels).as(Seq("i", "v")): _*)

  private[operators] def pxCol: Column = col("i") % col("w")
  private[operators] def pxRow: Column = (col("i") - pmod(col("i"), col("w"))) / col("w")

  /** A pixel's integer offset (col − cx, row − cy) from the beam center. */
  private def offset(cx: Int, cy: Int): (Column, Column) = (pxCol - lit(cx), pxRow - lit(cy))

  /** A pixel's distance from the beam center: the one floating step,
    * `sqrt` of an exact integer (engine-stable below 2^52). */
  private def radius(cx: Int, cy: Int): Column = {
    val (dc, dr) = offset(cx, cy)
    sqrt((dc * dc + dr * dr).cast("double"))
  }

  /** The ring `floor(radius)` a pixel lands in. */
  private def ring(cx: Int, cy: Int): Column = floor(radius(cx, cy)).cast("long")

  /** Per (id, ring) pixel count / exact integer sum / mean of a pixel
    * stream — the aggregate of [[radialProfile]]. */
  private def ringSums(px: DataFrame, cx: Int, cy: Int): DataFrame =
    px.groupBy(col("id"), ring(cx, cy).as("rbin"))
      .agg(count(lit(1)).as("n_px"),
        sum(col("v").cast("long")).as("v_sum"))
      .select(col("id"), col("rbin"), col("n_px"), col("v_sum"),
        // signed: dark-corrected frames legitimately sum negative
        Exact.roundedRatioSigned(col("v_sum"), col("n_px"), 4).as("v_mean"))

  /** Azimuthal (radial) integration of 2-D detector frames — the
    * powder-diffraction reduction (pyFAI's integrate1d shape, here
    * over the decoded SPE/EDF `pixels` rows): every pixel lands in
    * the ring `rbin = floor(sqrt((row−cy)² + (col−cx)²))` around the
    * beam center and each ring reports count / exact integer sum /
    * mean. Input rows are (id, width, pixels array<double> row-major,
    * integer-valued).
    *
    * Shape: posexplode the pixel array → one groupBy on (id, rbin) —
    * the gridder pattern: map-side partial aggregation bounds the
    * shuffle at rings×partitions rows no matter how many pixels.
    * The radius is computed in exact integer arithmetic
    * (dr² = (r−cy)² + (c−cx)²) and only the final sqrt is floating —
    * floor(sqrt(exact integer)) is engine-stable for dr² < 2^52.
    */
  def radialProfile(frames: DataFrame, id: Column, width: Column,
                    pixels: Column, cx: Int, cy: Int): DataFrame =
    ringSums(pixelStream(frames, id, width, pixels), cx, cy)

  /** Pixel-splitting azimuthal integration — [[radialProfile]] with
    * each pixel's intensity split LINEARLY between its two bracketing
    * rings by fractional radius (pyFAI's "bounding-box / linear
    * pixel splitting": binning artifacts from hard floor() assignment
    * average out when a pixel straddling ring r and r+1 contributes
    * (1−f) and f of its intensity respectively, f = ρ − ⌊ρ⌋).
    *
    * Exactness: ρ = sqrt(exact integer) is IEEE-correctly-rounded in
    * every engine; f is micro-quantized (`floor(f·1e6)` as long)
    * BEFORE any multiplication, so the split weights and all ring
    * sums are exact integer arithmetic. Zero-weight contributions
    * are filtered so an f = 0 pixel never fabricates an empty ring.
    *
    * Scale: the ×2 contribution explode is a constant factor on the
    * pixel stream; the ring aggregate stays map-side combined — the
    * same single-shuffle gridder shape as [[radialProfile]].
    */
  def radialProfileSplit(frames: DataFrame, id: Column, width: Column,
                         pixels: Column, cx: Int, cy: Int): DataFrame = {
    val rho = radius(cx, cy)
    val rbin = floor(rho).cast("long")
    val fm = floor((rho - floor(rho)) * lit(1000000.0)).cast("long")
    pixelStream(frames, id, width, pixels).select(col("id"), col("v"),
        explode(array(
          struct(rbin.as("rb"), (lit(1000000L) - fm).as("wt")),
          struct((rbin + 1).as("rb"), fm.as("wt")))).as("s"))
      .select(col("id"), col("v"), col("s.rb").as("rb"), col("s.wt").as("wt"))
      .filter(col("wt") > 0)
      .groupBy(col("id"), col("rb"))
      .agg(Exact.sumUnits(col("wt")).cast("long").as("w_tot"),
        Exact.sumUnits(col("wt") * col("v").cast("long")).cast("long").as("wv_sum"))
      .select(col("id"), col("rb"), col("w_tot"), col("wv_sum"),
        Exact.roundedRatioSigned(col("wv_sum"), col("w_tot"), 4).as("v_wmean"))
  }

  /** Fully-corrected azimuthal integration — [[radialProfile]] with
    * the standard detector-correction chain applied per pixel before
    * ring aggregation (pyFAI integrate1d's dark/flat/solid-angle
    * corrections; pyspec `ccd` reduces frames the same way):
    *
    *   corrected = (raw − dark) / flat · (1 + x²)^{3/2},  x = r·px/d
    *
    * The last factor divides out the flat-detector solid angle
    * Ω ∝ cos³(2θ) = (1 + x²)^{−3/2} — written via `sqrt` (correctly
    * rounded per IEEE 754 in every engine) rather than `cos(atan x)`
    * (libm-dependent), so the corrected value is bit-identical across
    * engines and partitionings. Each pixel is then micro-quantized
    * (`floor(x·1e6)` as long) so ring sums are exact integer sums —
    * order-independent, the same determinism contract as the micro-ln
    * LM scores.
    *
    * `dark` is a same-shape array column (attach the dark frame as a
    * single-row broadcast — scale-safe at any stack size); `flat` maps
    * (row, col) to the flat-field response (pass a measured flat via
    * `element_at`, or a closed form in tests). Same single-shuffle
    * gridder shape as [[radialProfile]].
    */
  def correctedRadialProfile(frames: DataFrame, id: Column, width: Column,
                             pixels: Column, dark: Column, cx: Int, cy: Int,
                             pixelSize: Double, distance: Double,
                             flat: (Column, Column) => Column): DataFrame = {
    val rpx = radius(cx, cy)
    val rbin = floor(rpx).cast("long")
    val x = rpx * lit(pixelSize) / lit(distance)
    val s = sqrt(lit(1.0) + x * x)
    val corr = floor((col("v") - element_at(col("d"), (col("i") + 1).cast("int")))
      / flat(pxRow, pxCol) * (s * s * s) * lit(1000000.0)).cast("long")
    pixelStream(frames, id, width, pixels, dark.as("d"))
      .groupBy(col("id"), rbin.as("rbin"))
      .agg(count(lit(1)).as("n_px"), sum(corr).as("i_sum_micro"))
      .select(col("id"), col("rbin"), col("n_px"), col("i_sum_micro"),
        Exact.roundedRatioSigned(col("i_sum_micro"), col("n_px"), 4).as("i_mean_micro"))
  }

  /** Azimuthal sector (octant) of an integer offset (dc, dr) from the
    * beam center — the χ dimension of a cake/sector integration
    * (pyFAI's integrate2d splits rings into azimuth bins; 8 octants is
    * the exact-arithmetic variant). Sectors are defined purely by
    * integer sign tests and |dc| vs |dr| comparisons — no atan2, so
    * the assignment is bit-identical on every engine: sector 0 starts
    * at the +c axis and they proceed counter-clockwise in (c, r)
    * coordinates.
    */
  def sectorOctant(dc: Column, dr: Column): Column =
    when(dc >= 0 && dr >= 0, when(dc >= dr, lit(0L)).otherwise(lit(1L)))
      .when(dc < 0 && dr >= 0, when(dr > -dc, lit(2L)).otherwise(lit(3L)))
      .when(dc < 0 && dr < 0, when(-dc >= -dr, lit(4L)).otherwise(lit(5L)))
      .otherwise(when(-dr > dc, lit(6L)).otherwise(lit(7L)))

  /** DuckDB mirror of [[sectorOctant]] over integer SQL fragments. */
  def sectorOctantSql(dc: String, dr: String): String =
    s"""(CASE WHEN ($dc) >= 0 AND ($dr) >= 0 THEN (CASE WHEN ($dc) >= ($dr) THEN 0 ELSE 1 END)
       |      WHEN ($dc) < 0 AND ($dr) >= 0 THEN (CASE WHEN ($dr) > -($dc) THEN 2 ELSE 3 END)
       |      WHEN ($dc) < 0 AND ($dr) < 0 THEN (CASE WHEN -($dc) >= -($dr) THEN 4 ELSE 5 END)
       |      ELSE (CASE WHEN -($dr) > ($dc) THEN 6 ELSE 7 END) END)""".stripMargin

  /** Sector ("cake") integration — [[radialProfile]] with the azimuth
    * split into 8 exact octants: per (frame, ring, sector) count /
    * exact integer sum / mean. This is the texture/anisotropy view a
    * 2-D azimuthal regroup gives (pyFAI integrate2d): an isotropic
    * powder ring has equal sector means; a strained or textured sample
    * doesn't. Same single hash aggregate as the radial profile — the
    * shuffle is bounded by rings × 8 × partitions regardless of pixel
    * count.
    */
  def sectorProfile(frames: DataFrame, id: Column, width: Column,
                    pixels: Column, cx: Int, cy: Int): DataFrame = {
    val (dc, dr) = offset(cx, cy)
    pixelStream(frames, id, width, pixels)
      .groupBy(col("id"), ring(cx, cy).as("rbin"), sectorOctant(dc, dr).as("sect"))
      .agg(count(lit(1)).as("n_px"),
        sum(col("v").cast("long")).as("v_sum"))
      .select(col("id"), col("rbin"), col("sect"), col("n_px"), col("v_sum"),
        Exact.roundedRatioSigned(col("v_sum"), col("n_px"), 4).as("v_mean"))
  }

  /** Hot/dead pixel mask from whole-stack statistics — the detector
    * bad-pixel map every CCD reduction starts from (pyspec `ccd` masks
    * hot pixels before ROI/gridding): a pixel is masked when its
    * across-frames SUM is ≥ `hotSumMin` (stuck-high / hot) or ≤
    * `deadSumMax` (dead). Sums, not means, so the whole pass is exact
    * integer arithmetic.
    *
    * Shape: posexplode → one pixel-index-keyed aggregate. Map-side
    * partial aggregation bounds the shuffle at W·H × partitions rows
    * no matter how many frames — a million-frame stack reduces to one
    * detector-sized relation, which is small enough to broadcast into
    * any downstream per-pixel pass.
    */
  def stackPixelMask(frames: DataFrame, pixels: Column,
                     hotSumMin: Long, deadSumMax: Long): DataFrame =
    frames.select(posexplode(pixels).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(sum(col("v").cast("long")).as("s"))
      .filter(col("s") >= hotSumMin || col("s") <= deadSumMax)
      .select(col("i"))

  /** [[radialProfile]] over good pixels only: `mask` (an `i`
    * pixel-index relation, e.g. from [[stackPixelMask]]) is
    * broadcast-anti-joined against the exploded pixel stream before
    * ring aggregation — the mask is detector-sized, so the join is a
    * broadcast hash join whatever the stack size.
    */
  def radialProfileMasked(frames: DataFrame, id: Column, width: Column,
                          pixels: Column, cx: Int, cy: Int,
                          mask: DataFrame): DataFrame =
    ringSums(pixelStream(frames, id, width, pixels)
      .join(broadcast(mask.select(col("i"))), Seq("i"), "left_anti"), cx, cy)

  /** Lorentz–polarization corrected azimuthal integration — the two
    * remaining standard powder corrections on top of
    * [[correctedRadialProfile]]'s dark/flat/solid-angle chain
    * (pyFAI's polarization_factor; every Rietveld-bound reduction
    * divides out LP):
    *
    *   P(χ, 2θ) = (1 + cos²2θ − pf·cos2χ·sin²2θ) / 2
    *   L(θ)     = 1 / (sinθ · sin2θ)        (powder Lorentz)
    *   I_corr   = I / (L·P) = I · sinθ · sin2θ / P
    *
    * Everything is built from RATIONAL functions of the exact integer
    * pixel geometry plus `sqrt` — cos²2θ = 1/(1+x²),
    * sin²2θ = x²/(1+x²) with x = tan2θ = r·px/d, and
    * cos2χ = (dc²−dr²)/r² exactly; no libm trig anywhere, so the
    * corrected value is IEEE-bit-identical across engines and the
    * micro-quantized ring sums are exact integers. The beam-center
    * pixel (r = 0, where L diverges) is excluded, as every real
    * integration does.
    *
    * `pf` is the polarization fraction (≈0.95–0.99 horizontal at a
    * synchrotron bend/undulator; 0 = unpolarized tube source).
    */
  def lpRadialProfile(frames: DataFrame, id: Column, width: Column,
                      pixels: Column, cx: Int, cy: Int,
                      pixelSize: Double, distance: Double,
                      pf: Double): DataFrame = {
    val k2 = (pixelSize / distance) * (pixelSize / distance)
    val (dc, dr) = offset(cx, cy)
    val r2 = dc * dc + dr * dr
    val rbin = ring(cx, cy)
    val x2 = r2.cast("double") * lit(k2)
    val c2t2 = lit(1.0) / (lit(1.0) + x2)           // cos²2θ
    val s2t2 = x2 / (lit(1.0) + x2)                 // sin²2θ
    val cos2chi = (dc * dc - dr * dr).cast("double") / r2.cast("double")
    val p = (lit(1.0) + c2t2 - lit(pf) * cos2chi * s2t2) / lit(2.0)
    val sinth = sqrt((lit(1.0) - sqrt(c2t2)) / lit(2.0))
    val sin2t = sqrt(s2t2)
    val corr = floor(col("v") * sinth * sin2t / p * lit(1000000.0)).cast("long")
    pixelStream(frames, id, width, pixels).filter(r2 > 0)
      .groupBy(col("id"), rbin.as("rbin"))
      .agg(count(lit(1)).as("n_px"), sum(corr).as("i_sum_micro"))
      .select(col("id"), col("rbin"), col("n_px"), col("i_sum_micro"),
        Exact.roundedRatioSigned(col("i_sum_micro"), col("n_px"), 4).as("i_mean_micro"))
  }

  /** ROI line cuts — the row/column profiles of a detector region
    * (pyspec `ccd` box cuts: collapse an ROI onto each axis to see a
    * peak's horizontal/vertical structure). BOTH axes come out of ONE
    * pass over the pixels via grouping sets — the exploded relation is
    * scanned once and the two cuts share the same map-side-combined
    * aggregate; output rows are (id, axis 'col'|'row', pos, n_px,
    * v_sum, v_mean). Bounds are half-open: r0 ≤ row < r1, c0 ≤ col < c1.
    */
  def roiLineCuts(frames: DataFrame, id: Column, width: Column,
                  pixels: Column, r0: Int, r1: Int, c0: Int, c1: Int): DataFrame = {
    val roi = pixelStream(frames, id, width, pixels)
      .select(col("id"), pxCol.as("c"), pxRow.cast("int").as("r"), col("v"))
      .filter(col("r") >= r0 && col("r") < r1 && col("c") >= c0 && col("c") < c1)
    roi
      .groupingSets(Seq(Seq(col("id"), col("c")), Seq(col("id"), col("r"))),
        col("id"), col("c"), col("r"))
      // grouping() is only valid inside the grouping-sets aggregate
      .agg(count(lit(1)).as("n_px"), sum(col("v").cast("long")).as("v_sum"),
        grouping(col("c")).as("_gc"))
      .select(col("id"),
        when(col("_gc") === 0, lit("col")).otherwise(lit("row")).as("axis"),
        coalesce(col("c"), col("r")).cast("long").as("pos"),
        col("n_px"), col("v_sum"),
        Exact.roundedRatioSigned(col("v_sum"), col("n_px"), 4).as("v_mean"))
  }

  /** Thresholded peak SECOND moments per frame — beam widths: the
    * intensity-weighted σ_c, σ_r and correlation ρ of the bright
    * region, extending [[peakCentroid]] with the (c², r², c·r)
    * moment sums (pyspec's peakguess derives FWHM from exactly these
    * second moments). All moment sums are exact integer sums riding
    * the same single aggregate; the variance numerators
    * `Σv·Σx²v − (Σxv)²` are exact longs, and the only floating steps
    * are `sqrt` (IEEE-correctly-rounded) and one final division —
    * engine- and partitioning-stable. Degenerate frames (zero
    * variance) report NULL widths.
    *
    * Range: Σv·Σc²v must fit a signed long — true for any single
    * detector frame (64-bit holds ≥ 4k×4k×16-bit frames with margin).
    */
  def peakWidths(frames: DataFrame, id: Column, width: Column,
                 pixels: Column, threshold: Long): DataFrame = {
    val px = pixelStream(frames, id, width, pixels).filter(col("v") >= threshold)
    val cc = pxCol.cast("long")
    val rr = pxRow.cast("long")
    val v = col("v").cast("long")
    val agg = px.groupBy(col("id"))
      .agg(count(lit(1)).as("n_peak"),
        sum(v).as("v_sum"),
        sum(cc * v).as("_scv"),
        sum(rr * v).as("_srv"),
        sum(cc * cc * v).as("_sccv"),
        sum(rr * rr * v).as("_srrv"),
        sum(cc * rr * v).as("_scrv"))
    val varC = col("v_sum") * col("_sccv") - col("_scv") * col("_scv")
    val varR = col("v_sum") * col("_srrv") - col("_srv") * col("_srv")
    val covN = col("v_sum") * col("_scrv") - col("_scv") * col("_srv")
    agg.select(col("id"), col("n_peak"), col("v_sum"),
      Exact.roundedRatio(col("_scv"), col("v_sum"), 4).as("cx"),
      Exact.roundedRatio(col("_srv"), col("v_sum"), 4).as("cy"),
      when(varC > 0,
        round(sqrt(varC.cast("double")) / col("v_sum").cast("double"), 4)).as("sigma_c"),
      when(varR > 0,
        round(sqrt(varR.cast("double")) / col("v_sum").cast("double"), 4)).as("sigma_r"),
      when(varC > 0 && varR > 0,
        round(covN.cast("double") /
          (sqrt(varC.cast("double")) * sqrt(varR.cast("double"))), 4)).as("rho"))
  }

  /** Thresholded peak centroid of 2-D detector frames — the beam/peak
    * center-of-mass reduction every alignment scan runs (pyspec's
    * center-of-mass analysis over CCD frames): pixels with
    * `v ≥ threshold` contribute to a per-frame intensity-weighted
    * centroid (c̄, r̄), total mass, bright-pixel count and max. All
    * sums are exact integer sums of (coordinate × value) products —
    * engine- and order-stable; the only division is the final exact
    * [[Exact.roundedRatio]]. One filter + one hash aggregate: the
    * shuffle carries one row per (frame, partition).
    */
  def peakCentroid(frames: DataFrame, id: Column, width: Column,
                   pixels: Column, threshold: Long): DataFrame = {
    val px = pixelStream(frames, id, width, pixels).filter(col("v") >= threshold)
    val cc = pxCol.cast("long")
    val rr = pxRow.cast("long")
    val v = col("v").cast("long")
    px.groupBy(col("id"))
      .agg(count(lit(1)).as("n_peak"),
        sum(v).as("v_sum"),
        max(v).as("v_max"),
        sum(cc * v).as("_cx_num"),
        sum(rr * v).as("_cy_num"))
      .select(col("id"), col("n_peak"), col("v_sum"), col("v_max"),
        Exact.roundedRatio(col("_cx_num"), col("v_sum"), 4).as("cx"),
        Exact.roundedRatio(col("_cy_num"), col("v_sum"), 4).as("cy"))
  }

  /** Momentum-transfer value of a radial ring: q = (4π/λ)·sin(θ/2)
    * with θ = atan(r·pixelSize / distance) — the standard flat-
    * detector powder mapping that turns [[radialProfile]]'s pixel
    * rings into a physical I(q) pattern. Units: pixelSize and
    * distance in the same length unit; wavelength in Å → q in Å⁻¹.
    * Pure per-ring scalar math (a few hundred distinct rings), so it
    * rides the profile's result without touching the pixel pass.
    */
  def qOfRing(rbin: Column, pixelSize: Double, distance: Double,
              wavelengthA: Double): Column = {
    val theta = atan(rbin.cast("double") * lit(pixelSize) / lit(distance))
    round(lit(4.0 * math.Pi / wavelengthA) * sin(theta / 2.0), 6)
  }

  /** Regular 3-D gridder: cell = (floor(x/sx), floor(y/sy), floor(z/sz)),
    * per-cell count / exact sum / mean / standard error of
    * exact-decimal weight `w` — the full per-cell statistics of the
    * reference gridder (pyspec ctrans emits mean, count AND stderr so
    * downstream fits can weight cells). Same single hash aggregate;
    * the extra power sum rides the same shuffle rows. Cells with one
    * point report NULL stderr (as does the SQL mirror).
    */
  def grid3d(df: DataFrame, x: Column, y: Column, z: Column, w: Column,
             sx: Double, sy: Double, sz: Double): DataFrame = {
    val agg = df.groupBy(
        floor(x / sx).cast("long").as("gx"),
        floor(y / sy).cast("long").as("gy"),
        floor(z / sz).cast("long").as("gz"))
      .agg(count(lit(1)).as("n"), sum(w).as("sum_w"), sum(w * w).as("sum_w2"))
    val sw = col("sum_w").cast("double")
    val sw2 = col("sum_w2").cast("double")
    val varS = greatest((sw2 - sw * sw / col("n")) / (col("n") - lit(1.0)), lit(0.0))
    agg.select(
      col("gx"), col("gy"), col("gz"), col("n"),
      round(col("sum_w").cast("double"), 2).as("w_sum"),
      Exact.roundedRatio(Exact.cents(col("sum_w")), col("n") * lit(100L), 4).as("w_mean"),
      when(col("n") > 1, round(sqrt(varS) / sqrt(col("n").cast("double")), 4))
        .as("w_stderr"))
  }
}
