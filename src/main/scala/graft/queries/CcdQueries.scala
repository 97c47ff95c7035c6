package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{EdfWriterUtil, SpeWriterUtil, TiffWriterUtil}

/** CCD detector-file queries (SURVEY.md §2 #80): the Princeton SPE
  * binary image source (pyspec `ccd/PrincetonSPE.py` surface) proven
  * end-to-end through the DuckDB hash gate.
  *
  * The gate reads a deterministic synthetic SPE file — pixel
  * `(frame f, row r, col c) = (1 + 7919·f + 1047·r + 131·c) mod 65536`
  * written as REAL uint16 SPE 2.x bytes — and aggregates per-frame
  * stats from the decoded arrays. The oracle recomputes the same
  * stats from the closed form with DuckDB `range()` cross products:
  * the two sides share NOTHING but the formula, so a hash match
  * certifies the whole binary round-trip (header layout, frame
  * offsets, little-endian uint16 decode, row-major order).
  */
object CcdQueries {
  private val W = 64
  private val H = 64
  private val Frames = 16

  /** Deterministic fixture, regenerated on every call (~131 KB; the
    * write is far cheaper than a fixture-staleness bug). Lives in the
    * JVM temp dir — in local mode (the gate harness) every task sees
    * it; a multi-node smoke test would point the reader at shared
    * storage instead.
    */
  private def fixture(s: SparkSession): String = synchronized {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_spe_gate")
    dir.mkdirs()
    val f = new java.io.File(dir, "gate.spe")
    val frames = (0 until Frames).map { fr =>
      Array.tabulate(W * H) { i =>
        ((1L + 7919L * fr + 1047L * (i / W) + 131L * (i % W)) % 65536L).toDouble
      }
    }
    // write-to-temp + atomic rename: `synchronized` only covers THIS
    // JVM, and a concurrent harness process reading a half-written
    // fixture would fail its gate
    val tmp = new java.io.File(dir, s"gate.${java.util.UUID.randomUUID}.tmp")
    SpeWriterUtil.write(tmp.getAbsolutePath, s.sessionState.newHadoopConf(),
      W, H, datatype = 3, expSec = 0.5, frames)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the Hadoop checksum sidecars the rename orphans (the bytes
    // are identical every run, but be tidy)
    new java.io.File(dir, ".gate.spe.crc").delete()
    new java.io.File(dir, s".${tmp.getName}.crc").delete()
    f.getAbsolutePath
  }

  /** Per-frame pixel statistics off the decoded SPE stack (#80). */
  val qSpeFrames = GateQuery.sql(
    "q_spe_frames",
    s"""WITH px AS (SELECT f.f AS frame,
       |    (1 + 7919 * f.f + 1047 * r.r + 131 * c.c) % 65536 AS v
       |  FROM range(0, $Frames) f(f), range(0, $H) r(r), range(0, $W) c(c))
       |SELECT CAST(frame AS BIGINT) AS frame, CAST(count(*) AS BIGINT) AS n_px,
       |  CAST(sum(v) AS BIGINT) AS px_sum,
       |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
       |FROM px GROUP BY 1 ORDER BY frame""".stripMargin) { (s, _) =>
    s.read.format("spe").load(fixture(s))
      .select(col("frame"),
        size(col("pixels")).cast("long").as("n_px"),
        aggregate(col("pixels"), lit(0L), (acc, x) => acc + x.cast("long")).as("px_sum"),
        array_min(col("pixels")).cast("long").as("px_min"),
        array_max(col("pixels")).cast("long").as("px_max"))
      .orderedSmall(col("frame"))
  }

  private val EW = 48
  private val EH = 32
  private val EFrames = 8

  /** EDF fixture: FloatValue blocks with integer-valued pixels
    * `(3 + 37·f + 17·r + 5·c) mod 251` — exactly representable in
    * float32, so the decode → long cast round-trips losslessly and
    * the closed-form DuckDB recompute hash-matches. Same atomic
    * write-rename discipline as the SPE fixture.
    */
  private def edfFixture(s: SparkSession): String = synchronized {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_edf_gate")
    dir.mkdirs()
    val f = new java.io.File(dir, "gate.edf")
    val frames = (0 until EFrames).map { fr =>
      Array.tabulate(EW * EH) { i =>
        ((3L + 37L * fr + 17L * (i / EW) + 5L * (i % EW)) % 251L).toDouble
      }
    }
    val tmp = new java.io.File(dir, s"gate.${java.util.UUID.randomUUID}.tmp")
    EdfWriterUtil.write(tmp.getAbsolutePath, s.sessionState.newHadoopConf(),
      EW, EH, dataType = "FloatValue", littleEndian = true, frames)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(dir, ".gate.edf.crc").delete()
    new java.io.File(dir, s".${tmp.getName}.crc").delete()
    f.getAbsolutePath
  }

  /** Per-frame pixel statistics off the decoded EDF stack (#99) —
    * certifies the multi-block header walk, 512-padding handling and
    * float32 little-endian decode against a closed-form recompute.
    */
  val qEdfFrames = GateQuery.sql(
    "q_edf_frames",
    s"""WITH px AS (SELECT f.f AS frame,
       |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v
       |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c))
       |SELECT CAST(frame AS BIGINT) AS frame, CAST(count(*) AS BIGINT) AS n_px,
       |  CAST(sum(v) AS BIGINT) AS px_sum,
       |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
       |FROM px GROUP BY 1 ORDER BY frame""".stripMargin) { (s, _) =>
    s.read.format("edf").load(edfFixture(s))
      .select(col("frame"),
        size(col("pixels")).cast("long").as("n_px"),
        aggregate(col("pixels"), lit(0L), (acc, x) => acc + x.cast("long")).as("px_sum"),
        array_min(col("pixels")).cast("long").as("px_min"),
        array_max(col("pixels")).cast("long").as("px_max"))
      .orderedSmall(col("frame"))
  }

  /** #100 — azimuthal integration: per-frame radial I(r) profiles
    * around the beam center, off the decoded EDF stack (powder-
    * diffraction reduction; gridder-pattern single aggregate).
    */
  val qRadialProfile = GateQuery.sql(
    "q_radial_profile", {
      val (cx, cy) = (EW / 2, EH / 2)
      s"""WITH px AS (SELECT f.f AS frame,
         |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v,
         |    CAST(floor(sqrt((c.c - $cx) * (c.c - $cx) + (r.r - $cy) * (r.r - $cy))) AS BIGINT) AS rbin
         |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c))
         |SELECT CAST(frame AS BIGINT) AS frame, rbin,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS v_sum,
         |  ${graft.operators.Exact.roundedRatioSql("CAST(sum(v) AS BIGINT)", "count(*)", 4)} AS v_mean
         |FROM px GROUP BY frame, rbin ORDER BY frame, rbin""".stripMargin
    }) { (s, _) =>
    graft.operators.Binning.radialProfile(
        s.read.format("edf").load(edfFixture(s)),
        col("frame"), col("width"), col("pixels"), cx = EW / 2, cy = EH / 2)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("rbin"))
  }

  /** #100b — the composed detector pipeline: EDF stack → dark-frame
    * (frame 0) subtraction → radial I(r) profile of every corrected
    * frame, hash-gated end-to-end. The dark attaches as a single-row
    * broadcast (scale-safe at any stack size, same as
    * `q_dark_subtract`); corrected sums are signed.
    */
  val qEdfDarkRadial = GateQuery.sql(
    "q_edf_dark_radial", {
      val (cx, cy) = (EW / 2, EH / 2)
      s"""WITH px AS (SELECT f.f AS frame,
         |    ((3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251)
         |      - ((3 + 17 * r.r + 5 * c.c) % 251) AS v,
         |    CAST(floor(sqrt((c.c - $cx) * (c.c - $cx) + (r.r - $cy) * (r.r - $cy))) AS BIGINT) AS rbin
         |  FROM range(1, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c))
         |SELECT CAST(frame AS BIGINT) AS frame, rbin,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS v_sum,
         |  ${graft.operators.Exact.roundedRatioSignedSql("CAST(sum(v) AS BIGINT)", "count(*)", 4)} AS v_mean
         |FROM px GROUP BY frame, rbin ORDER BY frame, rbin""".stripMargin
    }) { (s, _) =>
    val frames = s.read.format("edf").load(edfFixture(s))
    val dark = frames.filter(col("frame") === 0).select(col("pixels").as("dark"))
    val corrected = frames.filter(col("frame") >= 1)
      .crossJoin(broadcast(dark))
      .select(col("frame"), col("width"),
        zip_with(col("pixels"), col("dark"), (a, b) => a - b).as("pixels"))
    graft.operators.Binning.radialProfile(corrected,
        col("frame"), col("width"), col("pixels"), cx = EW / 2, cy = EH / 2)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("rbin"))
  }

  // Detector geometry (also used by the I(q) gate below): Pilatus-
  // style 172 µm pixels at 300 mm, Cu Kα. Defined ABOVE every gate
  // whose oracle string interpolates them — a val initializing after
  // its reader silently interpolates 0.0 (object-init order).
  private val PxMm = 0.172
  private val DistMm = 300.0
  private val LambdaA = 1.5406
  private val MuT = 0.15 // μ·t of the flat-plate sample (absorption gate)

  /** #289 — flat-plate absorption correction: each ring's intensity
    * divided by the transmission factor T(2θ) = exp(−μt·(sec 2θ − 1))
    * (relative to normal incidence) with 2θ = atan(r·px/d) — the
    * remaining classic of the CCD correction family (dark #100b,
    * flat #219, solid-angle/polarization #130/#139, deadtime #144).
    * Ring sums stay exact integers; the correction is one mirrored
    * double per BOUNDED ring row (the #105 sin/atan precedent).
    */
  val qAbsorptionRadial = GateQuery.sql(
    "q_absorption_radial", {
      val (cx, cy) = (EW / 2, EH / 2)
      val factorSql =
        s"exp(-$MuT * (1.0 / cos(atan(rbin * $PxMm / $DistMm)) - 1.0))"
      s"""WITH px AS (SELECT f.f AS frame,
         |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v,
         |    CAST(floor(sqrt((c.c - $cx) * (c.c - $cx) + (r.r - $cy) * (r.r - $cy))) AS BIGINT) AS rbin
         |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c))
         |SELECT CAST(frame AS BIGINT) AS frame, rbin,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS i_sum,
         |  round($factorSql, 6) + 0.0 AS absorb_factor,
         |  round(CAST(sum(v) AS DOUBLE) / count(*) / $factorSql, 4) + 0.0 AS i_corr
         |FROM px GROUP BY frame, rbin ORDER BY frame, rbin""".stripMargin
    }) { (s, _) =>
    val factor = exp(lit(-MuT) *
      (lit(1.0) / cos(atan(col("rbin") * PxMm / DistMm)) - lit(1.0)))
    graft.operators.Binning.radialProfile(
        s.read.format("edf").load(edfFixture(s)),
        col("frame"), col("width"), col("pixels"), cx = EW / 2, cy = EH / 2)
      .withColumnRenamed("id", "frame")
      .select(col("frame"), col("rbin"), col("n_px"), col("v_sum").as("i_sum"),
        (round(factor, 6) + lit(0.0)).as("absorb_factor"),
        (round(col("v_sum").cast("double") / col("n_px") / factor, 4) + lit(0.0))
          .as("i_corr"))
      .orderedSmall(col("frame"), col("rbin"))
  }

  /** #105 — momentum-transfer azimuthal integration: the radial
    * profile's rings converted to q = (4π/λ)·sin(atan(r·px/d)/2) —
    * the I(q) powder pattern, the form the diffraction user actually
    * consumes. Per-ring scalar math rides the profile result; the
    * 4π/λ constant is computed once in the JVM and interpolated into
    * the oracle as a literal so both engines start from the identical
    * double.
    */
  val qIqProfile = GateQuery.sql(
    "q_iq_profile", {
      val (cx, cy) = (EW / 2, EH / 2)
      val qk = 4.0 * math.Pi / LambdaA
      s"""WITH px AS (SELECT f.f AS frame,
         |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v,
         |    CAST(floor(sqrt((c.c - $cx) * (c.c - $cx) + (r.r - $cy) * (r.r - $cy))) AS BIGINT) AS rbin
         |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c))
         |SELECT CAST(frame AS BIGINT) AS frame, rbin,
         |  round($qk * sin(atan(rbin * $PxMm / $DistMm) / 2), 6) + 0.0 AS q,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS i_sum,
         |  ${graft.operators.Exact.roundedRatioSql("CAST(sum(v) AS BIGINT)", "count(*)", 4)} AS i_mean
         |FROM px GROUP BY frame, rbin ORDER BY frame, rbin""".stripMargin
    }) { (s, _) =>
    graft.operators.Binning.radialProfile(
        s.read.format("edf").load(edfFixture(s)),
        col("frame"), col("width"), col("pixels"), cx = EW / 2, cy = EH / 2)
      .withColumnRenamed("id", "frame")
      .select(col("frame"), col("rbin"),
        (graft.operators.Binning.qOfRing(col("rbin"), PxMm, DistMm, LambdaA) + lit(0.0)).as("q"),
        col("n_px"), col("v_sum").as("i_sum"), col("v_mean").as("i_mean"))
      .orderedSmall(col("frame"), col("rbin"))
  }

  private val TW = 52
  private val TH = 36
  private val TFrames = 10

  /** TIFF fixture: big-endian ("MM") int32 pages in 10-row strips with
    * SIGNED pixels `(7 + 61·f + 23·r + 9·c) mod 1009 − 500` — the
    * Pilatus-style layout (32-bit signed detector counts), chosen to
    * exercise everything SPE/EDF gates don't: MM byte order,
    * multi-strip concatenation, negative values. Same atomic
    * write-rename discipline as the other fixtures.
    */
  private def tiffFixture(s: SparkSession): String = synchronized {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_tiff_gate")
    dir.mkdirs()
    val f = new java.io.File(dir, "gate.tiff")
    val frames = (0 until TFrames).map { fr =>
      Array.tabulate(TW * TH) { i =>
        ((7L + 61L * fr + 23L * (i / TW) + 9L * (i % TW)) % 1009L - 500L).toDouble
      }
    }
    val tmp = new java.io.File(dir, s"gate.${java.util.UUID.randomUUID}.tmp")
    TiffWriterUtil.write(tmp.getAbsolutePath, s.sessionState.newHadoopConf(),
      TW, TH, datatype = "int32", littleEndian = false, frames, rowsPerStrip = 10)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(dir, ".gate.tiff.crc").delete()
    new java.io.File(dir, s".${tmp.getName}.crc").delete()
    f.getAbsolutePath
  }

  /** Per-frame pixel statistics off the decoded TIFF stack (#104) —
    * certifies the IFD chain walk, strip concatenation and int32
    * big-endian decode against a closed-form recompute.
    */
  val qTiffFrames = GateQuery.sql(
    "q_tiff_frames",
    s"""WITH px AS (SELECT f.f AS frame,
       |    (7 + 61 * f.f + 23 * r.r + 9 * c.c) % 1009 - 500 AS v
       |  FROM range(0, $TFrames) f(f), range(0, $TH) r(r), range(0, $TW) c(c))
       |SELECT CAST(frame AS BIGINT) AS frame, CAST(count(*) AS BIGINT) AS n_px,
       |  CAST(sum(v) AS BIGINT) AS px_sum,
       |  CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
       |FROM px GROUP BY 1 ORDER BY frame""".stripMargin) { (s, _) =>
    s.read.format("tiff").load(tiffFixture(s))
      .select(col("frame"),
        size(col("pixels")).cast("long").as("n_px"),
        aggregate(col("pixels"), lit(0L), (acc, x) => acc + x.cast("long")).as("px_sum"),
        array_min(col("pixels")).cast("long").as("px_min"),
        array_max(col("pixels")).cast("long").as("px_max"))
      .orderedSmall(col("frame"))
  }

  /** #130 — fully-corrected azimuthal integration: EDF stack → dark
    * (frame 0) subtraction → flat-field normalization → solid-angle
    * correction → per-ring I(r), the complete pyFAI integrate1d
    * correction chain. The flat here is the closed form
    * `(10 + (r+c) mod 7)/10` (a measured flat would attach as one
    * more broadcast array exactly like the dark); the solid-angle
    * factor (1 + x²)^{3/2} is written via `sqrt` only — correctly
    * rounded per IEEE in both engines, so the hash gate certifies the
    * whole floating-point chain bit-for-bit. Pixels micro-quantize
    * before summation (order-independent integer sums).
    */
  val qFlatRadial = GateQuery.sql(
    "q_flat_radial", {
      val (cx, cy) = (EW / 2, EH / 2)
      s"""WITH px AS (SELECT f.f AS frame, r.r AS r, c.c AS c,
         |    ((3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251)
         |      - ((3 + 17 * r.r + 5 * c.c) % 251) AS v,
         |    sqrt(CAST((c.c - $cx) * (c.c - $cx) + (r.r - $cy) * (r.r - $cy) AS DOUBLE)) AS rpx
         |  FROM range(1, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c)),
         |geo AS (SELECT frame, r, c, v, rpx,
         |    sqrt(1.0 + (rpx * $PxMm / $DistMm) * (rpx * $PxMm / $DistMm)) AS s
         |  FROM px),
         |cor AS (SELECT frame, CAST(floor(rpx) AS BIGINT) AS rbin,
         |    CAST(floor((v / ((10 + (r + c) % 7) / 10.0)) * (s * s * s) * 1000000.0) AS BIGINT) AS cm
         |  FROM geo)
         |SELECT CAST(frame AS BIGINT) AS frame, rbin,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(cm) AS BIGINT) AS i_sum_micro,
         |  ${graft.operators.Exact.roundedRatioSignedSql("CAST(sum(cm) AS BIGINT)", "count(*)", 4)} AS i_mean_micro
         |FROM cor GROUP BY frame, rbin ORDER BY frame, rbin""".stripMargin
    }) { (s, _) =>
    val frames = s.read.format("edf").load(edfFixture(s))
    val dark = frames.filter(col("frame") === 0).select(col("pixels").as("dk"))
    graft.operators.Binning.correctedRadialProfile(
        frames.filter(col("frame") >= 1).crossJoin(broadcast(dark)),
        col("frame"), col("width"), col("pixels"), col("dk"),
        cx = EW / 2, cy = EH / 2, pixelSize = PxMm, distance = DistMm,
        flat = (r, c) => (lit(10) + (r + c) % lit(7)) / lit(10.0))
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("rbin"))
  }

  /** #131 — thresholded peak centroid per frame (beam-center /
    * alignment reduction): intensity-weighted center of mass of the
    * bright region of each SPE frame, with bright-pixel count, mass
    * and max. Exact integer (coordinate × value) sums; the oracle
    * recomputes from the pixel closed form.
    */
  val qPeakCom = GateQuery.sql(
    "q_peak_com",
    s"""WITH px AS (SELECT f.f AS frame, r.r AS r, c.c AS c,
       |    (1 + 7919 * f.f + 1047 * r.r + 131 * c.c) % 65536 AS v
       |  FROM range(0, $Frames) f(f), range(0, $H) r(r), range(0, $W) c(c))
       |SELECT CAST(frame AS BIGINT) AS frame, CAST(count(*) AS BIGINT) AS n_peak,
       |  CAST(sum(v) AS BIGINT) AS v_sum, CAST(max(v) AS BIGINT) AS v_max,
       |  ${graft.operators.Exact.roundedRatioSql("CAST(sum(c * v) AS BIGINT)", "CAST(sum(v) AS BIGINT)", 4)} AS cx,
       |  ${graft.operators.Exact.roundedRatioSql("CAST(sum(r * v) AS BIGINT)", "CAST(sum(v) AS BIGINT)", 4)} AS cy
       |FROM px WHERE v >= 60000 GROUP BY frame ORDER BY frame""".stripMargin) { (s, _) =>
    graft.operators.Binning.peakCentroid(
        s.read.format("spe").load(fixture(s)),
        col("frame"), col("width"), col("pixels"), threshold = 60000L)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"))
  }

  /** #134 — sector ("cake") integration: the TIFF stack's rings split
    * into 8 exact azimuthal octants, per (frame, ring, sector) stats —
    * the anisotropy/texture view (pyFAI integrate2d shape). Sector
    * assignment is pure integer sign/compare arithmetic (no atan2), so
    * the closed-form DuckDB recompute mirrors it bit-for-bit; signed
    * int32 pixels exercise the signed-mean path.
    */
  val qSectorProfile = GateQuery.sql(
    "q_sector_profile", {
      val (cx, cy) = (TW / 2, TH / 2)
      s"""WITH px AS (SELECT f.f AS frame, c.c - $cx AS dc, r.r - $cy AS dr,
         |    (7 + 61 * f.f + 23 * r.r + 9 * c.c) % 1009 - 500 AS v
         |  FROM range(0, $TFrames) f(f), range(0, $TH) r(r), range(0, $TW) c(c)),
         |g AS (SELECT frame,
         |    CAST(floor(sqrt(CAST(dc * dc + dr * dr AS DOUBLE))) AS BIGINT) AS rbin,
         |    CAST(${graft.operators.Binning.sectorOctantSql("dc", "dr")} AS BIGINT) AS sect, v
         |  FROM px)
         |SELECT CAST(frame AS BIGINT) AS frame, rbin, sect,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS v_sum,
         |  ${graft.operators.Exact.roundedRatioSignedSql("CAST(sum(v) AS BIGINT)", "count(*)", 4)} AS v_mean
         |FROM g GROUP BY frame, rbin, sect ORDER BY frame, rbin, sect""".stripMargin
    }) { (s, _) =>
    graft.operators.Binning.sectorProfile(
        s.read.format("tiff").load(tiffFixture(s)),
        col("frame"), col("width"), col("pixels"), cx = TW / 2, cy = TH / 2)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("rbin"), col("sect"))
  }

  // Whole-stack per-pixel sum thresholds for the hot/dead mask gate:
  // chosen against the fixture's sum distribution (min 461608, max
  // 587368 over 16 frames) so both classes are non-empty — 40 hot and
  // 63 dead of 4096 pixels.
  private val HotSumMin = 580000L
  private val DeadSumMax = 470000L

  /** #135 — bad-pixel masking from whole-stack statistics + masked
    * azimuthal profile: hot/dead pixels flagged by their across-frames
    * sums (one detector-sized pixel-keyed aggregate), then the radial
    * reduction runs over good pixels only (broadcast anti-join). The
    * oracle recomputes the mask AND the masked profile from the pixel
    * closed form — certifying mask derivation and application together.
    */
  val qMaskedRadial = GateQuery.sql(
    "q_masked_radial", {
      val (cx, cy) = (W / 2, H / 2)
      s"""WITH px AS (SELECT f.f AS frame, r.r AS r, c.c AS c,
         |    (1 + 7919 * f.f + 1047 * r.r + 131 * c.c) % 65536 AS v
         |  FROM range(0, $Frames) f(f), range(0, $H) r(r), range(0, $W) c(c)),
         |ps AS (SELECT r, c, CAST(sum(v) AS BIGINT) AS s FROM px GROUP BY r, c),
         |mask AS (SELECT r, c FROM ps WHERE s >= $HotSumMin OR s <= $DeadSumMax),
         |good AS (SELECT px.frame AS frame, px.r AS r, px.c AS c, px.v AS v
         |         FROM px ANTI JOIN mask ON px.r = mask.r AND px.c = mask.c),
         |rb AS (SELECT frame,
         |    CAST(floor(sqrt(CAST((c - $cx) * (c - $cx) + (r - $cy) * (r - $cy) AS DOUBLE))) AS BIGINT) AS rbin, v
         |  FROM good)
         |SELECT CAST(frame AS BIGINT) AS frame, rbin,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS v_sum,
         |  ${graft.operators.Exact.roundedRatioSignedSql("CAST(sum(v) AS BIGINT)", "count(*)", 4)} AS v_mean
         |FROM rb GROUP BY frame, rbin ORDER BY frame, rbin""".stripMargin
    }) { (s, _) =>
    val frames = s.read.format("spe").load(fixture(s))
    val mask = graft.operators.Binning.stackPixelMask(
      frames, col("pixels"), HotSumMin, DeadSumMax)
    graft.operators.Binning.radialProfileMasked(frames,
        col("frame"), col("width"), col("pixels"), cx = W / 2, cy = H / 2, mask)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("rbin"))
  }

  /** #136 — peak second moments (beam widths): intensity-weighted
    * σ_c, σ_r and correlation ρ of each frame's bright region — the
    * FWHM-from-moments analysis (pyspec peakguess) in 2-D. Variance
    * numerators are exact integer longs; only sqrt and one final
    * division are floating (IEEE-stable both engines).
    */
  val qPeakWidths = GateQuery.sql(
    "q_peak_widths", {
      val rr = (n: String, d: String) => graft.operators.Exact.roundedRatioSql(n, d, 4)
      s"""WITH px AS (SELECT f.f AS frame, r.r AS r, c.c AS c,
         |    (1 + 7919 * f.f + 1047 * r.r + 131 * c.c) % 65536 AS v
         |  FROM range(0, $Frames) f(f), range(0, $H) r(r), range(0, $W) c(c)),
         |a AS (SELECT frame, CAST(count(*) AS BIGINT) AS n_peak,
         |    CAST(sum(v) AS BIGINT) AS v_sum,
         |    CAST(sum(c * v) AS BIGINT) AS scv, CAST(sum(r * v) AS BIGINT) AS srv,
         |    CAST(sum(c * c * v) AS BIGINT) AS sccv, CAST(sum(r * r * v) AS BIGINT) AS srrv,
         |    CAST(sum(c * r * v) AS BIGINT) AS scrv
         |  FROM px WHERE v >= 60000 GROUP BY frame),
         |m AS (SELECT frame, n_peak, v_sum, scv, srv,
         |    v_sum * sccv - scv * scv AS varc,
         |    v_sum * srrv - srv * srv AS varr,
         |    v_sum * scrv - scv * srv AS covn
         |  FROM a)
         |SELECT CAST(frame AS BIGINT) AS frame, n_peak, v_sum,
         |  ${rr("scv", "v_sum")} AS cx, ${rr("srv", "v_sum")} AS cy,
         |  CASE WHEN varc > 0 THEN round(sqrt(CAST(varc AS DOUBLE)) / CAST(v_sum AS DOUBLE), 4) END AS sigma_c,
         |  CASE WHEN varr > 0 THEN round(sqrt(CAST(varr AS DOUBLE)) / CAST(v_sum AS DOUBLE), 4) END AS sigma_r,
         |  CASE WHEN varc > 0 AND varr > 0 THEN
         |    round(CAST(covn AS DOUBLE) / (sqrt(CAST(varc AS DOUBLE)) * sqrt(CAST(varr AS DOUBLE))), 4) END AS rho
         |FROM m ORDER BY frame""".stripMargin
    }) { (s, _) =>
    graft.operators.Binning.peakWidths(
        s.read.format("spe").load(fixture(s)),
        col("frame"), col("width"), col("pixels"), threshold = 60000L)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"))
  }

  /** #139 — Lorentz–polarization corrected azimuthal integration: the
    * two remaining standard powder corrections (P from the Kahn/pyFAI
    * polarization formula, powder Lorentz 1/(sinθ·sin2θ)) applied
    * per pixel before ring aggregation. The whole correction is
    * rational arithmetic + sqrt over exact integer geometry — no libm
    * trig — so the DuckDB mirror is bit-identical and the
    * micro-quantized ring sums hash-match exactly.
    */
  val qLpRadial = GateQuery.sql(
    "q_lp_radial", {
      val (cx, cy) = (EW / 2, EH / 2)
      val k2 = (PxMm / DistMm) * (PxMm / DistMm)
      val pf = 0.95
      s"""WITH px AS (SELECT f.f AS frame, c.c - $cx AS dc, r.r - $cy AS dr,
         |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v
         |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c)),
         |g AS (SELECT frame, dc * dc + dr * dr AS r2, dc, dr, v FROM px
         |      WHERE dc * dc + dr * dr > 0),
         |t AS (SELECT frame,
         |    CAST(floor(sqrt(CAST(r2 AS DOUBLE))) AS BIGINT) AS rbin,
         |    CAST(r2 AS DOUBLE) * $k2 AS x2,
         |    CAST(dc * dc - dr * dr AS DOUBLE) / CAST(r2 AS DOUBLE) AS cos2chi, v
         |  FROM g),
         |u AS (SELECT frame, rbin,
         |    CAST(floor(v * sqrt((1.0 - sqrt(1.0 / (1.0 + x2))) / 2.0) * sqrt(x2 / (1.0 + x2))
         |      / ((1.0 + 1.0 / (1.0 + x2) - $pf * cos2chi * (x2 / (1.0 + x2))) / 2.0)
         |      * 1000000.0) AS BIGINT) AS cm
         |  FROM t)
         |SELECT CAST(frame AS BIGINT) AS frame, rbin,
         |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(cm) AS BIGINT) AS i_sum_micro,
         |  ${graft.operators.Exact.roundedRatioSignedSql("CAST(sum(cm) AS BIGINT)", "count(*)", 4)} AS i_mean_micro
         |FROM u GROUP BY frame, rbin ORDER BY frame, rbin""".stripMargin
    }) { (s, _) =>
    graft.operators.Binning.lpRadialProfile(
        s.read.format("edf").load(edfFixture(s)),
        col("frame"), col("width"), col("pixels"), cx = EW / 2, cy = EH / 2,
        pixelSize = PxMm, distance = DistMm, pf = 0.95)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("rbin"))
  }

  // Line-cut ROI on the SPE fixture: the central half of the frame.
  private val CutR0 = 16; private val CutR1 = 48
  private val CutC0 = 8; private val CutC1 = 40

  /** #140 — ROI line cuts: row and column profiles of a detector
    * region, BOTH axes from one grouping-sets pass over the exploded
    * pixels (pyspec `ccd` box-cut analysis). The oracle mirrors the
    * grouping sets directly.
    */
  val qLineCut = GateQuery.sql(
    "q_line_cut",
    s"""WITH px AS (SELECT f.f AS frame, r.r AS r, c.c AS c,
       |    (1 + 7919 * f.f + 1047 * r.r + 131 * c.c) % 65536 AS v
       |  FROM range(0, $Frames) f(f), range(0, $H) r(r), range(0, $W) c(c)),
       |roi AS (SELECT frame, r, c, v FROM px
       |        WHERE r >= $CutR0 AND r < $CutR1 AND c >= $CutC0 AND c < $CutC1)
       |SELECT CAST(frame AS BIGINT) AS frame,
       |  CASE WHEN GROUPING(c) = 0 THEN 'col' ELSE 'row' END AS axis,
       |  CAST(coalesce(c, r) AS BIGINT) AS pos,
       |  CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS v_sum,
       |  ${graft.operators.Exact.roundedRatioSignedSql("CAST(sum(v) AS BIGINT)", "count(*)", 4)} AS v_mean
       |FROM roi GROUP BY GROUPING SETS ((frame, c), (frame, r))
       |ORDER BY frame, axis, pos""".stripMargin) { (s, _) =>
    graft.operators.Binning.roiLineCuts(
        s.read.format("spe").load(fixture(s)),
        col("frame"), col("width"), col("pixels"),
        r0 = CutR0, r1 = CutR1, c0 = CutC0, c1 = CutC1)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("axis"), col("pos"))
  }

  /** #154 — pixel-splitting azimuthal integration: [[qRadialProfile]]
    * with pyFAI-style linear pixel splitting — every pixel's
    * intensity divided between its two bracketing rings by
    * micro-quantized fractional radius, all ring sums exact integers
    * ([[graft.operators.Binning.radialProfileSplit]]).
    */
  val qSplitRadial = GateQuery.sql(
    "q_split_radial", {
      val (cx, cy) = (EW / 2, EH / 2)
      s"""WITH px AS (SELECT f.f AS frame,
         |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v,
         |    sqrt(CAST((c.c - $cx) * (c.c - $cx) + (r.r - $cy) * (r.r - $cy) AS DOUBLE)) AS rho
         |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c)),
         |fr AS (SELECT frame, v, CAST(floor(rho) AS BIGINT) AS rbin,
         |    CAST(floor((rho - floor(rho)) * 1000000.0) AS BIGINT) AS fm FROM px),
         |sp AS (SELECT frame, rb, wt, v FROM (
         |    SELECT frame, v, rbin AS rb, 1000000 - fm AS wt FROM fr
         |    UNION ALL SELECT frame, v, rbin + 1, fm FROM fr) u WHERE wt > 0)
         |SELECT CAST(frame AS BIGINT) AS frame, rb,
         |  CAST(sum(wt) AS BIGINT) AS w_tot,
         |  CAST(sum(wt * v) AS BIGINT) AS wv_sum,
         |  ${graft.operators.Exact.roundedRatioSignedSql(
              "CAST(sum(wt * v) AS BIGINT)", "CAST(sum(wt) AS BIGINT)", 4)} AS v_wmean
         |FROM sp GROUP BY frame, rb ORDER BY frame, rb""".stripMargin
    }) { (s, _) =>
    graft.operators.Binning.radialProfileSplit(
        s.read.format("edf").load(edfFixture(s)),
        col("frame"), col("width"), col("pixels"), cx = EW / 2, cy = EH / 2)
      .withColumnRenamed("id", "frame")
      .orderedSmall(col("frame"), col("rb"))
  }

  /** Gaussian-peak EDF fixture for the 2-D fit gate: integer-rounded
    * axis-aligned Gaussians (bg 7, height 200, σx 5, σy 3) whose
    * center walks with the frame index — integers are float32-exact,
    * and the known truth lets Gauss2DFitSpec pin parameter recovery.
    */
  private def gaussFixture(s: SparkSession): String = synchronized {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_edf_gauss")
    dir.mkdirs()
    val f = new java.io.File(dir, "gauss.edf")
    val frames = (0 until EFrames).map { fr =>
      val mx = EW / 2.0 + fr; val my = EH / 2.0 - fr / 2.0
      Array.tabulate(EW * EH) { i =>
        val dx = (i % EW) - mx; val dy = (i / EW) - my
        math.round(7.0 + 200.0 *
          math.exp(-(dx * dx / (2 * 25.0) + dy * dy / (2 * 9.0)))).toDouble
      }
    }
    val tmp = new java.io.File(dir, s"gauss.${java.util.UUID.randomUUID}.tmp")
    EdfWriterUtil.write(tmp.getAbsolutePath, s.sessionState.newHadoopConf(),
      EW, EH, dataType = "FloatValue", littleEndian = true, frames)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(dir, ".gauss.edf.crc").delete()
    new java.io.File(dir, s".${tmp.getName}.crc").delete()
    f.getAbsolutePath
  }

  /** #157 — per-frame 2-D Gaussian peak fit (rows-only: iterative
    * Levenberg–Marquardt is the documented non-SQL-expressible family;
    * parameter recovery on the known-truth fixture is pinned by
    * Gauss2DFitSpec). One `mapGroups` task per frame.
    */
  val qGauss2dFit = GateQuery.rowsOnly("q_gauss2d_fit") { (s, _) =>
    graft.operators.Gauss2DFit.fitFrames(
        s.read.format("edf").load(gaussFixture(s)),
        col("frame"), col("width"), col("pixels"))
      .orderedSmall(col("g"))
  }

  /** Master flat-field from a stack (#219): the per-pixel LOWER
    * MEDIAN across all frames of the EDF stack — the robust
    * per-pixel reference every detector correction chain starts
    * from (#135's mask uses sums; the median survives transient
    * cosmic hits a mean would absorb). Shape: posexplode → ONE
    * pixel-keyed aggregate; values-per-key is bounded by STACK DEPTH
    * (frames), never corpus size, so the in-group sort is O(depth)
    * per pixel. Hot-count = frames whose pixel exceeds median + 50.
    * The oracle recomputes the same lower median from the fixture's
    * closed form via list_sort.
    */
  val qFlatField = GateQuery.sql(
    "q_flat_field",
    s"""WITH px AS (SELECT r.r * $EW + c.c AS idx,
       |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v
       |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c)),
       |m AS (SELECT idx, count(*) AS n_frames,
       |    CAST(list_sort(list(v))[(count(*) + 1) // 2] AS BIGINT) AS flat_v
       |  FROM px GROUP BY idx)
       |SELECT m.idx AS idx, m.n_frames AS n_frames, m.flat_v AS flat_v,
       |  CAST(count(*) FILTER (px.v > m.flat_v + 50) AS BIGINT) AS n_hot
       |FROM m JOIN px ON px.idx = m.idx
       |GROUP BY 1, 2, 3 ORDER BY idx""".stripMargin) { (s, _) =>
    val px = s.read.format("edf").load(edfFixture(s))
      .select(col("frame"), posexplode(col("pixels")).as(Seq("i", "v")))
      .select(col("i").cast("long").as("idx"), col("v").cast("long").as("v"))
    px.groupBy(col("idx"))
      .agg(count(lit(1)).as("n_frames"),
        sort_array(collect_list(col("v"))).as("sorted"))
      .select(col("idx"), col("n_frames"),
        element_at(col("sorted"),
          graft.operators.Binning.floorDivCol(col("n_frames") + 1, lit(2L)).cast("int"))
          .as("flat_v"), col("sorted"))
      .select(col("idx"), col("n_frames"), col("flat_v"),
        size(filter(col("sorted"), v => v > col("flat_v") + lit(50L)))
          .cast("long").as("n_hot"))
      .orderedSmall(col("idx"))
  }

  /** Sigma-clipped stack average (#245b/#246): per pixel, the mean
    * over frames EXCLUDING |x − μ| > 2σ outliers — the other classic
    * master-frame estimator next to #219's median (astronomy/
    * diffraction stacking: clip cosmic hits, keep the precision of a
    * mean). Two pixel-keyed aggregates over the same explode; the
    * clip predicate is ENTIRELY integer — |x−μ| > 2σ ⟺
    * (n·x − S)² > 4·(n·Q − S²) (the #160 z-score trick, no sqrt, no
    * float σ) — so the surviving set and the clipped HALF_UP mean
    * are engine-exact.
    */
  val qSigmaClip = GateQuery.sql(
    "q_sigma_clip",
    s"""WITH px AS (SELECT r.r * $EW + c.c AS idx,
       |    (3 + 37 * f.f + 17 * r.r + 5 * c.c) % 251 AS v
       |  FROM range(0, $EFrames) f(f), range(0, $EH) r(r), range(0, $EW) c(c)),
       |st AS (SELECT idx, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
       |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
       |  FROM px GROUP BY idx),
       |k AS (SELECT px.idx AS idx, px.v AS v, st.n AS n,
       |    CAST(st.n AS HUGEINT) * px.v - st.s AS dev2n,
       |    CAST(st.n AS HUGEINT) * st.q - CAST(st.s AS HUGEINT) * st.s AS var_n2
       |  FROM px JOIN st ON st.idx = px.idx),
       |cl AS (SELECT idx, any_value(n) AS n_frames,
       |    count(*) FILTER (dev2n * dev2n <= 4 * var_n2) AS n_kept,
       |    CAST(sum(v) FILTER (dev2n * dev2n <= 4 * var_n2) AS BIGINT) AS s_kept
       |  FROM k GROUP BY idx)
       |SELECT idx, CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST(n_kept AS BIGINT) AS n_kept,
       |  (2 * s_kept + n_kept) // (2 * n_kept) AS clipped_mean
       |FROM cl ORDER BY idx""".stripMargin) { (s, _) =>
    val px = s.read.format("edf").load(edfFixture(s))
      .select(posexplode(col("pixels")).as(Seq("i", "v")))
      .select(col("i").cast("long").as("idx"), col("v").cast("long").as("v"))
    val st = px.groupBy(col("idx")).agg(
      count(lit(1)).cast("long").as("n"), sum(col("v")).cast("long").as("s"),
      sum(col("v").cast("decimal(38,0)") * col("v")).cast("decimal(38,0)").as("q"))
    val k = px.join(st, "idx")
      .withColumn("dev2n", col("n").cast("decimal(38,0)") * col("v") - col("s"))
      .withColumn("var_n2",
        col("n").cast("decimal(38,0)") * col("q") - col("s").cast("decimal(38,0)") * col("s"))
    val keep = col("dev2n") * col("dev2n") <= lit(4L) * col("var_n2")
    k.groupBy(col("idx"))
      .agg(first(col("n")).as("n_frames"),
        count(when(keep, 1)).as("n_kept"),
        sum(when(keep, col("v"))).cast("long").as("s_kept"))
      .select(col("idx"), col("n_frames").cast("long").as("n_frames"),
        col("n_kept").cast("long").as("n_kept"),
        graft.operators.Binning.floorDivCol(lit(2L) * col("s_kept") + col("n_kept"),
          lit(2L) * col("n_kept")).as("clipped_mean"))
      .orderedSmall(col("idx"))
  }

  /** #392 — photon-transfer gain calibration (Janesick, "Photon
    * Transfer", SPIE 2007): regress per-pixel VARIANCE on per-pixel
    * MEAN across the 16-frame SPE stack — the slope IS the detector
    * gain (e⁻/ADU⁻¹ direction) and the intercept the read-noise
    * floor, THE standard CCD camera-calibration reduction, upstream
    * of the flat-field (#219) and hot/dead mask (#135). Per-pixel
    * moments stay exact integers in common-denominator units
    * (x = 16·mean = S_p, y = 240·var = 16·Q_p − S_p²); the global
    * regression sums are decimal-lifted (Σxy ≈ 4e21); gain and
    * intercept are the final mirrored doubles (the /15 undoes the
    * unit scaling). Oracle recomputes from the pixel closed form —
    * certifying decode + both aggregation levels.
    */
  val qGainMap = GateQuery.sql(
    "q_gain_map",
    s"""WITH px AS (SELECT r.r * $W + c.c AS pix,
       |    (1 + 7919 * f.f + 1047 * r.r + 131 * c.c) % 65536 AS v
       |  FROM range(0, $Frames) f(f), range(0, $H) r(r), range(0, $W) c(c)),
       |pp AS (SELECT pix, CAST(sum(v) AS BIGINT) AS s,
       |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
       |  FROM px GROUP BY 1),
       |m AS (SELECT pix, CAST(s AS HUGEINT) AS x,
       |    16 * q - CAST(s AS HUGEINT) * s AS y FROM pp),
       |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(x * x) AS HUGEINT) AS sxx,
       |    CAST(sum(x * y) AS HUGEINT) AS sxy
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n_pixels,
       |  CASE WHEN n * sxx - sx * sx <> 0 THEN
       |    round(CAST(n * sxy - sx * sy AS DOUBLE)
       |      / CAST(n * sxx - sx * sx AS DOUBLE) / 15.0, 4) + 0.0
       |  END AS gain,
       |  CASE WHEN n * sxx - sx * sx <> 0 THEN
       |    round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
       |      - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 240.0, 4) + 0.0
       |  END AS read_var
       |FROM a""".stripMargin) { (s, _) =>
    val px = s.read.format("spe").load(fixture(s))
      .select(col("width"), posexplode(col("pixels")).as(Seq("i", "vd")))
      .select(col("i").cast("long").as("pix"), col("vd").cast("long").as("v"))
    val pp = px.groupBy(col("pix")).agg(
      sum(col("v")).cast("long").as("s"),
      sum(col("v").cast("decimal(38,0)") * col("v")).cast("decimal(38,0)").as("q"))
    val x = col("s").cast("decimal(38,0)")
    val y = lit(16L) * col("q") - x * x
    val a = pp.agg(count(lit(1)).cast("long").as("n"),
      sum(x).cast("decimal(38,0)").as("sx"),
      sum(y).cast("decimal(38,0)").as("sy"),
      sum(x * x).cast("decimal(38,0)").as("sxx"),
      sum(x * y).cast("decimal(38,0)").as("sxy"))
    val nd = col("n").cast("decimal(38,0)")
    val det = nd * col("sxx") - col("sx") * col("sx")
    val slopeNum = nd * col("sxy") - col("sx") * col("sy")
    a.select(col("n").as("n_pixels"),
      when(det =!= 0,
        round(slopeNum.cast("double") / det.cast("double") / lit(15.0), 4) + lit(0.0))
        .as("gain"),
      when(det =!= 0,
        round((col("sy").cast("double") / col("n").cast("double") -
          slopeNum.cast("double") / det.cast("double") *
            col("sx").cast("double") / col("n").cast("double")) / lit(240.0), 4)
          + lit(0.0)).as("read_var"))
  }

  /** #381 — Moran's I + Geary's C spatial autocorrelation over the
    * SPE frame-0 pixel lattice (Moran 1950; Geary 1954): the two
    * classic "is intensity spatially clustered?" statistics — the
    * detector-side screen for beam structure vs white noise (hot
    * pixels drive C up with I flat; smooth gradients drive I → 1),
    * complementing the mask (#135) and second-moment (#136) gates.
    * Rook (4-neighbor) weights; each undirected edge built ONCE as
    * two EQUI-joins on shifted coordinates — no OR-join nested loop,
    * and at full-detector scale the join stays an equi-shuffle on
    * (r, c). Deviations are mean-centered WITHOUT division by the
    * N·x − S lift (both quotients scale-cancel); cross/squared sums
    * accumulate in decimal(38,0) (N·x ≈ 2.7e8, edge sums ≈ 6e20);
    * both statistics land as sign-decomposed HALF_UP micro ints.
    * The oracle recomputes pixels AND the neighbor joins from the
    * closed form, certifying decode + join together.
    */
  val qMoranGeary = GateQuery.sql(
    "q_moran_geary",
    s"""WITH px AS (SELECT r.r AS r, c.c AS c,
       |    (1 + 1047 * r.r + 131 * c.c) % 65536 AS v
       |  FROM range(0, $H) r(r), range(0, $W) c(c)),
       |g AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS s
       |  FROM px),
       |e AS (SELECT a.v AS va, b.v AS vb FROM px a JOIN px b
       |    ON a.r = b.r AND a.c + 1 = b.c
       |  UNION ALL SELECT a.v AS va, b.v AS vb FROM px a JOIN px b
       |    ON a.r + 1 = b.r AND a.c = b.c),
       |dn AS (SELECT CAST(sum((g.n * px.v - g.s) * (g.n * px.v - g.s)) AS HUGEINT)
       |    AS den FROM px, g),
       |nm AS (SELECT CAST(count(*) AS HUGEINT) AS w,
       |    CAST(sum((g.n * va - g.s) * (g.n * vb - g.s)) AS HUGEINT) AS num,
       |    CAST(sum(CAST(va - vb AS HUGEINT) * (va - vb)) AS HUGEINT) AS sq
       |  FROM e, g)
       |SELECT CAST(g.n AS BIGINT) AS n_pixels, CAST(nm.w AS BIGINT) AS n_edges,
       |  CAST(CASE WHEN nm.num >= 0
       |    THEN (2 * g.n * nm.num * 1000000 + nm.w * dn.den)
       |      // (2 * nm.w * dn.den)
       |    ELSE -((2 * g.n * (-nm.num) * 1000000 + nm.w * dn.den)
       |      // (2 * nm.w * dn.den)) END AS BIGINT) AS moran_micro,
       |  CAST((2 * (g.n - 1) * g.n * g.n * nm.sq * 1000000 + 2 * nm.w * dn.den)
       |    // (2 * 2 * nm.w * dn.den) AS BIGINT) AS geary_micro
       |FROM g, dn, nm""".stripMargin) { (s, _) =>
    import graft.operators.Curation
    import graft.operators.Exact.floorDivBig
    val px = s.read.format("spe").load(fixture(s))
      .filter(col("frame") === 0)
      .select(col("width"), posexplode(col("pixels")).as(Seq("i", "vd")))
      .select((col("i") / col("width")).cast("long").as("r"),
        pmod(col("i"), col("width")).cast("long").as("c"),
        col("vd").cast("long").as("v"))
    val g = px.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("v")).cast("decimal(38,0)").as("s"))
    val a = px.select(col("r"), col("c"), col("v"))
    val b = px.select(col("r").as("br"), col("c").as("bc"), col("v").as("vb"))
    val eR = a.join(b, a("r") === col("br") && (a("c") + 1) === col("bc"))
      .select(col("v").as("va"), col("vb"))
    val eD = a.join(b, (a("r") + 1) === col("br") && a("c") === col("bc"))
      .select(col("v").as("va"), col("vb"))
    val e = eR.unionAll(eD)
    val devA = col("n") * col("va").cast("decimal(38,0)") - col("s")
    val devB = col("n") * col("vb").cast("decimal(38,0)") - col("s")
    val devP = col("n") * col("v").cast("decimal(38,0)") - col("s")
    val dn = Curation.withStats(px, g)
      .agg(sum(devP * devP).cast("decimal(38,0)").as("den"))
    val nm = Curation.withStats(e, g)
      .agg(count(lit(1)).cast("decimal(38,0)").as("w"),
        sum(devA * devB).cast("decimal(38,0)").as("num"),
        sum((col("va") - col("vb")).cast("decimal(38,0)") *
          (col("va") - col("vb"))).cast("decimal(38,0)").as("sq"),
        first(col("n")).as("n"))
    val j = Curation.withStats(nm, dn)
    val moranNum = lit(2L) * col("n") * col("num") * lit(1000000L) +
      col("w") * col("den")
    val moranNumNeg = lit(2L) * col("n") * (-col("num")) * lit(1000000L) +
      col("w") * col("den")
    val moranDen = lit(2L) * col("w") * col("den")
    j.select(col("n").cast("long").as("n_pixels"),
      col("w").cast("long").as("n_edges"),
      when(col("num") >= 0, floorDivBig(moranNum, moranDen).cast("long"))
        .otherwise(-floorDivBig(moranNumNeg, moranDen).cast("long"))
        .as("moran_micro"),
      floorDivBig(
        lit(2L) * (col("n") - 1) * col("n") * col("n") * col("sq") * lit(1000000L) +
          lit(2L) * col("w") * col("den"),
        lit(4L) * col("w") * col("den")).cast("long").as("geary_micro"))
  }

  private val SpecScans = 12
  private def specPoints(s: Int): Int = 3 + (s * 7) % 5

  /** Deterministic SPEC text fixture: scans 1..12, scan s carrying
    * 3 + (7s mod 5) points — same atomic write-rename discipline as
    * the SPE/EDF fixtures. */
  private def specFixture(sp: SparkSession): String = synchronized {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_spec_gate")
    dir.mkdirs()
    val f = new java.io.File(dir, "gate.spec")
    val sb = new StringBuilder
    sb.append("#F gate.spec\n#O0 th  tth\n\n")
    for (s0 <- 1 to SpecScans) {
      val np = specPoints(s0)
      sb.append(s"#S $s0  ascan th 0 1 ${np - 1} 1\n")
      sb.append("#D Thu Jan 01 00:00:00 2026\n#T 1 (Seconds)\n")
      sb.append("#P0 0.5 1.5\n#L th  det\n")
      for (i <- 0 until np) sb.append(s"$i ${s0 * 100 + i}\n")
      sb.append("\n")
    }
    val tmp = new java.io.File(dir, s"gate.${java.util.UUID.randomUUID}.tmp")
    java.nio.file.Files.write(tmp.toPath,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    f.getAbsolutePath
  }

  /** SPEC index-only aggregate pushdown (#442): COUNT(*), MIN(scan),
    * MAX(scan) over the SPEC source answer from the scan INDEX alone
    * (per-scan point counts live in the v3 sidecar; no data bytes
    * stream — SpecDataSourceSpec asserts the agg_count plan shape).
    * The oracle recomputes the fixture's closed form — the two sides
    * share nothing but the scan/point arithmetic, so a hash match
    * certifies the index's point accounting end-to-end. SPE/EDF/TIFF
    * parity: the same surface those sources gate.
    */
  val qSpecAgg = GateQuery.sql(
    "q_spec_agg",
    s"""WITH s AS (SELECT s.s AS scan, 3 + (s.s * 7) % 5 AS np
       |  FROM range(1, ${SpecScans + 1}) s(s))
       |SELECT CAST(sum(np) AS BIGINT) AS n_points,
       |  CAST(min(scan) AS BIGINT) AS min_scan,
       |  CAST(max(scan) AS BIGINT) AS max_scan
       |FROM s""".stripMargin) { (s, _) =>
    s.read.format("spec").load(specFixture(s))
      .agg(count(lit(1)).as("n_points"),
        min(col("scan")).as("min_scan"),
        max(col("scan")).as("max_scan"))
  }

  val all: Seq[GateQuery] = Seq(qSpeFrames, qEdfFrames, qRadialProfile, qEdfDarkRadial,
    qTiffFrames, qIqProfile, qFlatRadial, qPeakCom, qSectorProfile, qMaskedRadial,
    qPeakWidths, qLpRadial, qLineCut, qSplitRadial, qGauss2dFit, qFlatField,
    qSigmaClip, qAbsorptionRadial, qMoranGeary, qGainMap, qSpecAgg)
}
