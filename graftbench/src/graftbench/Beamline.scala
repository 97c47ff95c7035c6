package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Binning, GaussFit, LineshapeFit, PeakAnalysis, WindowOps}

object Truth {
  def read(path: String): JsonNode = Json.mapper.readTree(new File(path))
  def list(path: String): Seq[JsonNode] = read(path).elements().asScala.toSeq
}

/** `beamline_batch`: one closed-loop client takes one SPEC file (and
  * the EDF stack recorded with it) per operation through the
  * reference library's core path: read, monitor normalisation, peak
  * moments, lineshape fits, dark-subtracted radial profile and the
  * reciprocal-space grid. Files rotate, so after the warm-up every
  * file's SPEC index sidecar is warm. */
final class Beamline(data: String) extends Workload {
  import Beamline._

  private val files: Seq[String] = Truth.list(s"$data/files.json").map(_.asText)
  private val scans: Map[Long, JsonNode] =
    Truth.list(s"$data/truth_scans.json").map(n => n.get("scan").asLong -> n).toMap
  private val rings: Map[String, JsonNode] =
    Truth.list(s"$data/truth_rings.json").map(n => n.get("file").asText -> n).toMap
  private val scansOf: Map[String, Seq[JsonNode]] =
    scans.values.toSeq.groupBy(_.get("file").asText)

  private var fitsTried, fitsConverged = 0L
  private var streamed: Seq[(String, Double, String)] = Nil

  def setup(spark: SparkSession, k: Int): Unit =
    // a new session on a corpus it has never indexed: no sidecars
    new File(data).listFiles().filter(_.getName.endsWith("idx")).foreach(_.delete())

  /** Opens the corpus (point and frame counts answered from the SPEC
    * and EDF indexes, which builds every sidecar) and processes one file. */
  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    val points = spark.read.format("spec").load(files.map(f => s"$data/$f.spec"): _*).count()
    val frames = spark.read.format("edf").load(files.map(f => s"$data/$f.edf"): _*).count()
    require(points == scans.values.map(_.get("points").asLong).sum, s"corpus holds $points points")
    require(frames == rings.values.map(_.get("frames").asLong + 1).sum, s"stacks hold $frames frames")
    iteration(spark, 0, tr)
  }

  override def startMeasuring(): Unit = { fitsTried = 0; fitsConverged = 0 }

  def iteration(spark: SparkSession, i: Int, tr: Tracer): Seq[Op] = {
    val f = files(i % files.size)
    val t0 = System.nanoTime()
    val (ok, checked, failed) =
      try pipeline(spark, f, tr)
      catch { case e: Exception =>
        System.err.println(s"[beamline] $f failed: $e")
        (0L, scansOf(f).size.toLong, true)
      }
    Seq(Op(f, (System.nanoTime() - t0) / 1e9, scansOf(f).size, failed, checked, ok))
  }

  /** Returns (fits within tolerance, fits checked, operation failed). */
  private def pipeline(spark: SparkSession, f: String, tr: Tracer): (Long, Long, Boolean) = {
    val truth = scansOf(f)
    val raw = tr.span("sources.spec.plan") {
      val d = spark.read.format("spec").load(s"$data/$f.spec").select(
        col("scan"),
        col("data").getItem("TH").as("th"),
        col("data").getItem("H").as("h"),
        col("data").getItem("K").as("k"),
        col("data").getItem("L").as("l"),
        col("data").getItem("Monitor").as("mon"),
        col("data").getItem("Detector").as("det"))
      d.queryExecution.toRdd.partitions.length // plans the scan: index or sidecar
      d
    }
    val pts = tr.span("sources.spec.read") { val p = raw.persist(); Main.noop(p); p }
    val norm = tr.span("operators.normalize") {
      val n = WindowOps.normalizeToMonitor(pts, col("scan"), col("det"), col("mon")).persist()
      Main.noop(n)
      n
    }
    val moments = tr.span("operators.peak_moments") {
      PeakAnalysis.peakMoments(pts, Seq("scan"), col("th").cast("decimal(12,6)"),
        col("det").cast("decimal(18,2)")).collect()
    }
    val y = norm.select(col("scan"), col("th"), (col("norm") * 1e6).as("y"))
    val (gauss, lorentz) = tr.span("operators.fit") {
      (GaussFit.fitGroups(y, "scan", "th", "y").collect(),
        LineshapeFit.fitGroups(y, LineshapeFit.Lorentzian, "scan", "th", "y").collect())
    }
    val frames = tr.span("sources.edf.read") {
      val fr = spark.read.format("edf").load(s"$data/$f.edf")
        .select(col("frame"), col("width"), col("pixels")).persist()
      Main.noop(fr)
      fr
    }
    val ring = rings(f)
    val profile = tr.span("operators.ccd") {
      val dark = frames.filter(col("frame") === 0).select(col("pixels").as("dark"))
      val sub = frames.filter(col("frame") > 0).crossJoin(dark).select(col("frame"),
        col("width"), zip_with(col("pixels"), col("dark"), (a, b) => a - b).as("px"))
      Binning.radialProfile(sub, col("frame"), col("width"), col("px"),
          ring.get("cx").asInt, ring.get("cy").asInt)
        .groupBy(col("rbin"))
        .agg((sum(col("v_sum")) / sum(col("n_px"))).as("mean"))
        .collect()
    }
    val grid = tr.span("operators.grid3d") {
      Binning.grid3d(norm, col("h"), col("k"), col("l"), col("det").cast("decimal(18,2)"),
        0.5, 0.5, 0.05).agg(sum(col("n")), sum(col("w_sum")), count(lit(1))).collect()
    }
    Seq(pts, norm, frames).foreach(_.unpersist(true))

    // checks against the planted truth
    val fitsOk = checkFits(truth, gauss, lorentz)
    val radius = ring.get("radius").asDouble
    val peak = profile.filter(r => !r.isNullAt(1)).maxBy(_.getDouble(1)).getLong(0)
    val ringOk = math.abs(peak + 0.5 - radius) <= 1.5
    val points = truth.map(_.get("points").asLong).sum
    val detSum = truth.map(_.get("det_sum").asLong).sum
    val gridOk = grid.head.getLong(0) == points &&
      math.abs(grid.head.getDouble(1) - detSum) < 0.5
    val momentsOk = moments.length == truth.size
    val failed = !(ringOk && gridOk && momentsOk) || fitsOk < FitOkFloor * truth.size
    if (failed) System.err.println(
      s"[beamline] $f check failed: ring=$ringOk grid=$gridOk moments=$momentsOk fits=$fitsOk/${truth.size}")
    (fitsOk, truth.size.toLong, failed)
  }

  /** Model selection per scan (the lineshape with the lower residual)
    * and the planted-peak tolerance: shape right, center within 10 % of
    * the width, width within 10 %. */
  private def checkFits(truth: Seq[JsonNode], gauss: Array[Row], lorentz: Array[Row]): Long = {
    val g = gauss.map(r => r.getAs[Long]("g") -> r).toMap
    val l = lorentz.map(r => r.getAs[Long]("g") -> r).toMap
    truth.count { t =>
      val s = t.get("scan").asLong
      (g.get(s), l.get(s)) match {
        case (Some(gr), Some(lr)) =>
          fitsTried += 2
          if (gr.getAs[Boolean]("converged")) fitsConverged += 1
          if (lr.getAs[Boolean]("converged")) fitsConverged += 1
          val gRss = gr.getAs[Double]("rss")
          val lRss = lr.getAs[Double]("rss")
          val (shape, c, w) =
            if (gRss <= lRss) ("gauss", gr.getAs[Double]("com"), gr.getAs[Double]("sigma"))
            else ("lorentz", lr.getAs[Double]("center"), math.abs(lr.getAs[Double]("width")))
          val tc = t.get("center").asDouble
          val tw = t.get("width").asDouble
          shape == t.get("shape").asText && math.abs(c - tc) <= 0.1 * tw &&
            math.abs(w - tw) <= 0.1 * tw
        case _ => false
      }
    }.toLong
  }

  /** Streaming-layer probe, once per traced run: a SPEC file grows
    * while `readStream.format("spec")` feeds a per-micro-batch fit.
    * Half the scans are there when the query starts; the rest are
    * appended in one write once the first batch is done. */
  override def probes(spark: SparkSession, tr: Tracer): Unit = if (streamed.isEmpty) {
    val src = Files.readAllBytes(Paths.get(s"$data/${files.head}.spec"))
    val text = new String(src, "ISO-8859-1")
    val starts = "(?m)^#S ".r.findAllMatchIn(text).map(_.start).toSeq
    val cut = starts(starts.size / 2)
    val live = Paths.get(data, "live")
    Files.createDirectories(live)
    val file = live.resolve("live.spec")
    Files.write(file, java.util.Arrays.copyOfRange(src, 0, cut))
    val fitted = new AtomicLong
    val batches = new AtomicLong
    val bytes0 = graft.sources.SpecIOMetrics.total
    var appendedAt = 0L
    var readBeforeAppend = 0L
    tr.span("streaming.probe") {
      val q = spark.readStream.format("spec").load(live.toString)
        .select(col("scan"), col("data").getItem("TH").as("th"),
          col("data").getItem("Detector").as("det"))
        .writeStream
        .option("checkpointLocation", live.resolve("checkpoint").toString)
        .trigger(Trigger.ProcessingTime(100))
        .foreachBatch { (df: DataFrame, _: Long) =>
          fitted.addAndGet(GaussFit.fitGroups(df, "scan", "th", "det").collect().length)
          batches.incrementAndGet()
          ()
        }
        .start()
      try {
        val deadline = System.nanoTime() + 30e9.toLong
        while (fitted.get < starts.size / 2 - 1 && System.nanoTime() < deadline) Thread.sleep(20)
        readBeforeAppend = graft.sources.SpecIOMetrics.total - bytes0
        Files.write(file, java.util.Arrays.copyOfRange(src, cut, src.length),
          StandardOpenOption.APPEND)
        appendedAt = src.length - cut
        // every complete scan is emitted; the last one waits for a next #S
        while (fitted.get < starts.size - 1 && System.nanoTime() < deadline) Thread.sleep(20)
        require(fitted.get == starts.size - 1, s"stream fitted ${fitted.get} of ${starts.size - 1} scans")
      } finally q.stop()
      val prog = q.recentProgress.filter(_.numInputRows > 0).toSeq
      def dur(k: String) = Stats.median(prog.map(p => p.durationMs.getOrDefault(k, 0L) / 1e3))
      val reread = graft.sources.SpecIOMetrics.total - bytes0 - readBeforeAppend
      streamed = Seq(
        ("sources.spec.stream_offset_s", dur("latestOffset"), "s"),
        ("sources.spec.stream_reread_ratio", reread.toDouble / appendedAt, "ratio"),
        ("streaming.batch_s_p50", dur("triggerExecution"), "s"),
        ("streaming.planning_s", dur("queryPlanning"), "s"),
        ("streaming.add_batch_s", dur("addBatch"), "s"),
        ("streaming.scans_per_batch", fitted.get.toDouble / math.max(1L, batches.get), "count"))
    }
  }

  def report(ops: Seq[Op], tr: Tracer): Seq[(String, Double, String)] = {
    val out = Seq(
      ("scans_per_s", ops.map(_.items).sum / ops.map(_.seconds).sum, "1/s"),
      ("fit_ok_frac", ops.map(_.ok).sum.toDouble / ops.map(_.checked).sum, "frac"),
      ("operators.fit.converged_frac", fitsConverged.toDouble / math.max(1L, fitsTried), "frac"))
    if (!tr.enabled) return out
    val self = tr.selfTimes
    def per(name: String): Double = self.get(name).map(x => x._1 / x._3).getOrElse(Double.NaN)
    val specBytes = files.map(f => new File(s"$data/$f.spec").length).sum.toDouble / files.size
    val edfBytes = files.map(f => new File(s"$data/$f.edf").length).sum.toDouble / files.size
    val read = tr.countsOf("sources.spec.read")
    val reads = self.get("sources.spec.read").map(_._3).getOrElse(1)
    val hits = read("spec.prefetch_hits")
    val waits = read("spec.prefetch_waits")
    out ++ Seq(
      ("sources.spec.plan_s", per("sources.spec.plan"), "s"),
      ("sources.spec.read_s", per("sources.spec.read"), "s"),
      ("sources.spec.mb_per_s", specBytes / 1e6 / per("sources.spec.read"), "MB/s"),
      ("sources.spec.bytes_read_ratio", read("spec.bytes_read") / reads / specBytes, "ratio"),
      ("sources.spec.prefetch_wait_frac", if (hits + waits == 0) 0.0 else waits / (hits + waits), "frac"),
      ("sources.edf.read_s", per("sources.edf.read"), "s"),
      ("sources.edf.mb_per_s", edfBytes / 1e6 / per("sources.edf.read"), "MB/s"),
      ("operators.normalize_s", per("operators.normalize"), "s"),
      ("operators.peak_moments_s", per("operators.peak_moments"), "s"),
      ("operators.fit_s", per("operators.fit"), "s"),
      ("operators.ccd_s", per("operators.ccd"), "s"),
      ("operators.grid3d_s", per("operators.grid3d"), "s")) ++ streamed
  }
}

object Beamline {
  /** An operation fails its check when fewer planted peaks than this
    * share are fitted within tolerance. */
  val FitOkFloor = 0.9
}
