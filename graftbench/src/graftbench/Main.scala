package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One measured operation: a SPEC file through the beamline pipeline,
  * a corpus shard through curation, or one gate query. `items` counts
  * the scans, documents or queries it processed; `checked`/`ok` count
  * the outputs it checked and the ones that passed. */
final case class Op(name: String, seconds: Double, items: Long, failed: Boolean,
                    checked: Long = 0, ok: Long = 0)

/** A workload drives graft's public functions over generated inputs. */
trait Workload {
  /** Prepares set-up repetition `k` so that the program's caches start
    * cold for it (the workload's inputs are fresh to the program). */
  def setup(spark: SparkSession, k: Int): Unit
  /** The warm-up run that ends a set-up. */
  def warmup(spark: SparkSession, tr: Tracer): Unit
  /** Called once, after set-up and before the measured loop. */
  def startMeasuring(): Unit = ()
  /** One loop iteration over input `i` (inputs rotate with `i`);
    * returns the operations it ran. */
  def iteration(spark: SparkSession, i: Int, tr: Tracer): Seq[Op]
  /** Runs after a traced run's measured loop, outside the iteration
    * spans: layer probes whose time must not count as iteration time. */
  def probes(spark: SparkSession, tr: Tracer): Unit = ()
  /** Runs after the measured loop: dumps outputs for checks made
    * outside the JVM. */
  def dumpForChecks(spark: SparkSession): Unit = ()
  /** Workload-specific check and layer metrics, as (name, value, unit). */
  def report(ops: Seq[Op], tr: Tracer): Seq[(String, Double, String)]
}

object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** Probe passes a traced run makes after its measured loop. */
  val ProbePasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val seed = opt("seed").toLong
    val workload: Workload = opt("workload") match {
      case "beamline_batch" => new Beamline(data)
      case "corpus_curation" => new CorpusCuration(data, out.toString)
      case "gate_mix" => new GateMix(data, out.toString, opt("queries"), seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", out.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // Set-up: session start plus warm-up, repeated; the median is
    // reported so that one slow repetition does not decide the figure.
    val off = new Tracer(None)
    var spark: SparkSession = null
    val setupTimes = (0 until Setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      workload.setup(spark, k)
      workload.warmup(spark, off)
      (System.nanoTime() - t0) / 1e9
    }

    val counters = if (trace) Some(new Counters(spark.sparkContext)) else None
    val tracer = new Tracer(counters)
    workload.startMeasuring()
    // Every iteration starts from a collected heap (the collection is
    // not timed), so the garbage earlier ones left adds no collection
    // pauses to it.
    System.gc()
    // Closed loop, one client, of whole iterations that end as close to
    // `seconds` as they allow. Traced runs give each input two
    // iterations, one untraced and one traced, which goes first
    // alternating by input, so the difference between the two is the
    // tracing overhead on the same inputs.
    val ops = mutable.ArrayBuffer[(Boolean, Op)]()
    val iterTimes = mutable.ArrayBuffer[(Boolean, Double)]()
    var plainCpu, plainAlloc = 0.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var last = 0.0
    while (i == 0 || elapsed + last / 2 < seconds || (trace && i % 2 == 1)) {
      val e0 = elapsed
      val traced = trace && (i % 2 == 1) != ((i / 2) % 2 == 1)
      val tr = if (traced) tracer else off
      val c0 = Stats.processCpuS()
      val a0 = Stats.allocatedMb()
      val s0 = System.nanoTime()
      val res = tr.iteration(i)(workload.iteration(spark, if (trace) i / 2 else i, tr))
      iterTimes += ((traced, (System.nanoTime() - s0) / 1e9))
      if (!traced) {
        plainCpu += Stats.processCpuS() - c0
        plainAlloc += Stats.allocatedMb() - a0
      }
      res.foreach(o => ops += ((traced, o)))
      System.gc()
      last = elapsed - e0
      i += 1
    }
    val wall = elapsed
    // the last iteration ended with a collection: what is left is live
    val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    // Layer probes run after the loop, so they neither count as
    // iteration time nor leave after-effects in a measured iteration.
    val p0 = System.nanoTime()
    if (trace) (0 until ProbePasses).foreach(_ => workload.probes(spark, tracer))
    val p1 = System.nanoTime()
    workload.dumpForChecks(spark)
    System.err.println(f"[main] set-ups ${setupTimes.map(t => f"$t%.1f").mkString(" ")} s, " +
      f"loop $wall%.1f s, probes ${(p1 - p0) / 1e9}%.1f s, dump ${(System.nanoTime() - p1) / 1e9}%.1f s")
    val measured = ops.map(_._2).toSeq
    val plain = ops.filter(!_._1).map(_._2).toSeq

    val m = mutable.LinkedHashMap[String, (Double, String)]()
    def put(n: String, v: Double, u: String): Unit = if (!v.isNaN && !v.isInfinite) m(n) = (v, u)
    // End-to-end figures come from untraced operations only.
    put("setup_s", Stats.median(setupTimes), "s")
    put("items_per_s", plain.map(_.items).sum / plain.map(_.seconds).sum, "1/s")
    put("op_p50_s", Stats.median(plain.map(_.seconds)), "s")
    put("cpu_s_per_item", plainCpu / plain.map(_.items).sum, "s")
    put("alloc_mb_per_item", plainAlloc / plain.map(_.items).sum, "MB")
    put("heap_live_mb", liveMb, "MB")
    put("peak_rss_mb", Stats.peakRssMb(), "MB")
    val tail = Stats.tail(plain.map(_.seconds))
    tail.foreach { case (p, v, n) =>
      put("op_tail_s", v, "s"); put("op_tail_pct", p, "pct"); put("op_samples", n, "count")
    }
    setupTimes.zipWithIndex.foreach { case (s, k) => put(s"setup_s.rep$k", s, "s") }
    workload.report(measured, tracer).foreach { case (n, v, u) => put(n, v, u) }

    if (trace) {
      val tops = ops.filter(_._1).map(_._2).toSeq
      val tIter = iterTimes.filter(_._1).map(_._2).toSeq
      val uIter = iterTimes.filterNot(_._1).map(_._2).toSeq
      put("trace.overhead_frac", Stats.median(tIter) / Stats.median(uIter) - 1.0, "frac")
      val roots = tracer.recorded.filter(_.name == Tracer.Root)
      val c = roots.map(_.counts).foldLeft(Counts.zero)(_ + _)
      val n = tops.size.toDouble
      val rootWall = roots.map(r => (r.end - r.start) / 1e9).sum
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.codegen_compiles").foreach(k =>
        put(s"$k.per_op", c(k) / n, "count"))
      Seq("spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb").foreach(k =>
        put(s"$k.per_op", c(k) / n, "MB"))
      Seq("spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s").foreach(k =>
        put(s"$k.per_op", c(k) / n, "s"))
      put("spark.core_util", c("spark.executor_run_s") / (rootWall * cores), "frac")
      // Self time per layer: each span's time minus its child spans'.
      // The iteration root's own self time is the unattributed share.
      val self = tracer.iterationSelfTimes
      val layers = (self - Tracer.Root).toSeq.groupBy(_._1.takeWhile(_ != '.'))
      layers.toSeq.sortBy(_._1).foreach { case (layer, xs) =>
        put(s"self_s.$layer.per_op", xs.map(_._2._2).sum / n, "s")
      }
      put("trace.unattributed_frac",
        self.get(Tracer.Root).map(_._2).getOrElse(0.0) / rootWall, "frac")
      tracer.writeJsonl(out.resolve("spans.jsonl"))
    }

    val result = Map(
      "attempted" -> measured.size,
      "failed" -> measured.count(_.failed),
      "checked" -> measured.map(_.checked).sum,
      "ok" -> measured.map(_.ok).sum,
      "wall_s" -> wall,
      "failed_ops" -> measured.filter(_.failed).map(_.name).distinct,
      "ops_by_name" -> measured.groupBy(_.name).map { case (k, v) => k -> v.size },
      "metrics" -> m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.writeString(out.resolve("result.json"), Json.write(result) + "\n")
    counters.foreach(_.stop())
    spark.stop()
  }

  /** Runs `df` to completion into the `noop` sink (nothing is collected
    * and no projection is pruned away). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** JSON reading and writing of the truth, result and span files. */
object Json {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile that still has at least ten samples above
    * it: (percentile, value, sample count), or None under 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Double)] = {
    val n = xs.size
    if (n < 20) None
    else {
      val s = xs.sorted
      Some((100.0 * (n - 10) / n, s(n - 11), n.toDouble))
    }
  }

  /** CPU time of this JVM, all threads, in seconds. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap allocated so far by all threads of this JVM, in MB. */
  def allocatedMb(): Double = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes / 1e6

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
