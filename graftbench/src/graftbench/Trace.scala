package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters from Spark's public listener API. Listener events
  * arrive asynchronously; [[Counters.snapshot]] drains the bus first
  * so a snapshot taken at a span boundary includes that span's tasks.
  */
final class EngineListener extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One reading of every counter the trace records at a span boundary. */
final case class Counts(values: Map[String, Double]) {
  def -(o: Counts): Counts =
    Counts(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def +(o: Counts): Counts =
    Counts((values.keySet ++ o.values.keySet).map(k =>
      k -> (values.getOrElse(k, 0.0) + o.values.getOrElse(k, 0.0))).toMap)
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

object Counts { val zero: Counts = Counts(Map.empty) }

/** Reads the engine listener, Spark's codegen metrics and
  * `SpecIOMetrics` into one [[Counts]]. */
final class Counters(sc: SparkContext) {
  val listener = new EngineListener
  sc.addSparkListener(listener)

  def snapshot(): Counts = {
    org.apache.spark.BenchBus.drain(sc)
    val l = listener
    val spec = graft.sources.SpecIOMetrics
    Counts(Map(
      "spark.jobs" -> l.jobs.get.toDouble,
      "spark.stages" -> l.stages.get.toDouble,
      "spark.tasks" -> l.tasks.get.toDouble,
      "spark.executor_run_s" -> l.runMs.get / 1e3,
      "spark.executor_cpu_s" -> l.cpuNs.get / 1e9,
      "spark.gc_s" -> l.gcMs.get / 1e3,
      "spark.shuffle_write_mb" -> l.shuffleWrite.get / 1e6,
      "spark.shuffle_read_mb" -> l.shuffleRead.get / 1e6,
      "spark.spill_mb" -> l.spill.get / 1e6,
      "spark.codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "spec.bytes_read" -> spec.bytesRead.sum.toDouble,
      "spec.prefetch_hits" -> spec.prefetchHits.sum.toDouble,
      "spec.prefetch_waits" -> spec.prefetchWaits.sum.toDouble))
  }

  def stop(): Unit = sc.removeSparkListener(listener)
}

/** A recorded span: `iter` is the iteration id every span of one
  * iteration shares, `parent` the id of the enclosing span (-1 for the
  * iteration root). Times are `System.nanoTime` values. */
final case class Span(iter: Int, id: Int, parent: Int, name: String,
                      start: Long, end: Long, counts: Counts) {
  /** A probe runs after the measured loop, outside any iteration span. */
  def probe: Boolean = parent < 0 && name != Tracer.Root
}

/** Span recorder around the calls the benchmark makes into each layer.
  * Disabled (the end-to-end mode), `span` only runs its body. Enabled,
  * spans are kept in memory and written out once at the end. The layer
  * of a span is the prefix of its name before the first dot. */
final class Tracer(counters: Option[Counters]) {
  val enabled: Boolean = counters.isDefined
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, String, Long, Counts)]()
  private var nextId = 0
  private var iter = -1

  def iteration[T](i: Int)(body: => T): T = {
    iter = i
    span(Tracer.Root)(body)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val c0 = counters.get.snapshot()
    stack.push((id, name, System.nanoTime(), c0))
    try body
    finally {
      val end = System.nanoTime()
      val c1 = counters.get.snapshot()
      val (_, _, start, _) = stack.pop()
      val parent = if (stack.isEmpty) -1 else stack.top._1
      spans += Span(iter, id, parent, name, start, end, c1 - c0)
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Per span name: total time, self time (time not covered by child
    * spans) and call count. */
  def selfTimes: Map[String, (Double, Double, Int)] = selfTimes(spans.toSeq)

  /** [[selfTimes]] over the spans inside iterations only (no probes). */
  def iterationSelfTimes: Map[String, (Double, Double, Int)] = {
    val probeIds = mutable.Set[Int]()
    spans.sortBy(_.start).foreach { s =>
      if (s.probe || probeIds(s.parent)) probeIds += s.id
    }
    selfTimes(spans.toSeq.filterNot(s => probeIds(s.id)))
  }

  private def selfTimes(spans: Seq[Span]): Map[String, (Double, Double, Int)] = {
    val childTime = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => (s.end - s.start) / 1e9).sum,
        ss.map(s => (s.end - s.start - childTime(s.id)) / 1e9).sum, ss.size)
    }
  }

  /** Counter deltas summed over every span of one name. */
  def countsOf(name: String): Counts =
    spans.filter(_.name == name).map(_.counts).foldLeft(Counts.zero)(_ + _)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.start).map { s =>
      Json.write(Map("iter" -> s.iter, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "counts" -> s.counts.values))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Name of the span around one whole loop iteration. */
  val Root = "bench.iteration"
}
