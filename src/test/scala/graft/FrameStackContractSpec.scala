package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.sources.{EdfFormat, EdfWriterUtil, FrameScanBuilder, FrameStack, SpeSchema,
  SpeWriterUtil, StackFormat, TiffSchema, TiffWriterUtil}

/** The frame-stack core's contract, checked once per format: `frame`
  * filter pushdown, the distributed header pass, aggregate pushdown,
  * byte-capped partitioning, pixel-free projections and live tails
  * behave the same for `spe`, `edf` and `tiff`.
  */
class FrameStackContractSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  /** A source under test: its short name, plug-in and a uint16 writer. */
  private case class Source(name: String, format: StackFormat,
                            write: (String, Int, Int, Seq[Array[Double]]) => Unit)

  private val sources = Seq(
    Source("spe", SpeSchema,
      (p, w, h, fs) => SpeWriterUtil.write(p, conf, w, h, 3, 0.5, fs)),
    Source("edf", EdfFormat(indexCache = true),
      (p, w, h, fs) => EdfWriterUtil.write(p, conf, w, h, "UnsignedShort", true, fs)),
    Source("tiff", TiffSchema,
      (p, w, h, fs) => TiffWriterUtil.write(p, conf, w, h, "uint16", true, fs)))

  private def frames(n: Int, w: Int, h: Int): Seq[Array[Double]] =
    (0 until n).map(k => Array.tabulate(w * h)(i => ((k * 131 + i * 7) % 60000).toDouble))

  /** A fresh directory holding one `n`-frame stack; returns its path. */
  private def stack(src: Source, tag: String, n: Int, w: Int, h: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"fsc_${src.name}_$tag").toFile
    val f = new java.io.File(dir, s"stack.${src.name}")
    src.write(f.getAbsolutePath, w, h, frames(n, w, h))
    f.getAbsolutePath
  }

  for (src <- sources) {
    test(s"${src.name}: untranslatable frame filters stay residual") {
      import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, In}
      val b = new FrameScanBuilder(src.format, Seq(s"/nonexistent.${src.name}"), 1L << 20)
      // a null inside In(...) and a non-numeric EqualTo must be LEFT
      // for Spark to evaluate post-scan — and must not be "accepted"
      val bad: Array[Filter] = Array(
        In("frame", Array[Any](java.lang.Long.valueOf(1L), null)),
        EqualTo("frame", "not-a-number"))
      assert(b.pushFilters(bad).toSeq === bad.toSeq)
      assert(b.pushedFilters().isEmpty)
      // integral literals of every width are accepted
      val good: Array[Filter] = Array(
        EqualTo("frame", java.lang.Integer.valueOf(2)),
        GreaterThan("frame", java.lang.Short.valueOf(0.toShort)))
      assert(b.pushFilters(good).isEmpty)
      assert(b.pushedFilters().toSeq === good.toSeq)
      // a frame filter the builder cannot take still filters the rows
      val p = stack(src, "residual", 4, 2, 2)
      val rows = spark.read.format(src.name).load(p)
        .filter(col("frame") % 2 === 0).select("frame").collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(0L, 2L))
    }

    test(s"${src.name}: more files than the header threshold plan in one job") {
      val dir = java.nio.file.Files.createTempDirectory(s"fsc_${src.name}_many").toFile
      val n = FrameStack.ParallelHeaderThreshold + 4
      for (k <- 1 to n)
        src.write(new java.io.File(dir, f"s$k%03d.${src.name}").getAbsolutePath, 2, 1,
          Seq(Array(k.toDouble, 0.0), Array(k.toDouble, 1.0)))
      val stageTasks = new ConcurrentLinkedQueue[Int]()
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          stageTasks.add(e.stageInfo.numTasks)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = spark.read.format(src.name).load(dir.getAbsolutePath)
        // the aggregate scan has one partition, so an n-task stage is
        // the header pass: one task per file
        val cq = df.groupBy().count()
        assert(cq.queryExecution.executedPlan.toString.contains("agg_count"))
        assert(cq.collect()(0).getLong(0) === 2L * n)
        eventually(timeout(20.seconds)) { assert(stageTasks.contains(n)) }
        val sums = df.select(sum(element_at(col("pixels"), 1))).collect().head.getDouble(0)
        assert(sums === 2.0 * (1 to n).sum)
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    test(s"${src.name}: COUNT/MIN/MAX(frame) push down, with or without filters") {
      val df = spark.read.format(src.name).load(stack(src, "agg", 9, 2, 2))
      def pushed(q: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row = {
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("agg_count") && plan.contains("agg_min_frame") &&
          plan.contains("agg_max_frame"), plan)
        q.collect()(0)
      }
      def census(d: org.apache.spark.sql.DataFrame) =
        d.agg(count(lit(1)), min(col("frame")), max(col("frame")))
      val all = pushed(census(df))
      assert(all.getLong(0) === 9L && all.getLong(1) === 0L && all.getLong(2) === 8L)
      val range = pushed(census(df.filter(col("frame") >= 3 && col("frame") < 7)))
      assert(range.getLong(0) === 4L && range.getLong(1) === 3L && range.getLong(2) === 6L)
      val picked = pushed(census(df.filter(col("frame").isin(1, 4, 5, 42))))
      assert(picked.getLong(0) === 3L && picked.getLong(1) === 1L && picked.getLong(2) === 5L)
      val none = pushed(census(df.filter(col("frame") > 100)))
      assert(none.getLong(0) === 0L && none.isNullAt(1) && none.isNullAt(2))
    }

    test(s"${src.name}: maxPartitionBytes splits stacks into contiguous runs") {
      val (w, h) = (4, 4) // 32 B per uint16 frame
      val p = stack(src, "split", 10, w, h)
      val df = spark.read.format(src.name).option("maxPartitionBytes", (3 * w * h * 2).toString).load(p)
      assert(df.rdd.getNumPartitions === 4) // 3 + 3 + 3 + 1 frames
      val picked = df.filter(col("frame").isin(0, 1, 2, 3, 5, 6, 9))
      assert(picked.rdd.getNumPartitions === 4) // runs 0-3, 5-6 and 9; 0-3 splits 3 + 1
      val rows = picked.select("frame", "pixels").collect().sortBy(_.getLong(0))
      val expect = frames(10, w, h)
      assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L, 5L, 6L, 9L))
      rows.foreach(r => assert(r.getSeq[Double](1) === expect(r.getLong(0).toInt).toSeq))
    }

    test(s"${src.name}: a projection without pixels opens no data file") {
      spark.conf.set("fs.countfs.impl", classOf[OpenCountingFileSystem].getName)
      val df = spark.read.format(src.name).load("countfs://" + stack(src, "meta", 6, 8, 8))
      OpenCountingFileSystem.taskOpens.reset()
      val meta = df.drop("pixels").collect()
      assert(meta.map(_.getAs[Long]("frame")).sorted.toSeq === (0L until 6L))
      assert(meta.forall(_.getAs[Long]("n_frames") === 6L))
      assert(OpenCountingFileSystem.taskOpens.sum === 0L)
      assert(df.select("pixels").collect().length === 6)
      assert(OpenCountingFileSystem.taskOpens.sum > 0L)
    }

    test(s"${src.name}: streaming equals batch on a complete stack") {
      val p = stack(src, "sb", 5, 3, 2)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(r.fieldIndex("frame")), r.getLong(r.fieldIndex("n_frames")),
          r.getSeq[Double](r.fieldIndex("pixels")).toList)
      val batch = spark.read.format(src.name).load(p)
        .select("frame", "n_frames", "pixels").collect().map(key).toSet
      val q = spark.readStream.format(src.name).option("maxPartitionBytes", "24").load(p)
        .select("frame", "n_frames", "pixels")
        .writeStream.format("memory").queryName(s"fsc_${src.name}_sb")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table(s"fsc_${src.name}_sb").collect().map(key).toSet === batch)
      } finally q.stop()
    }
  }
}

/** Local filesystem under the `countfs` scheme that counts the files
  * opened by Spark tasks (partition readers), not by the driver. */
class OpenCountingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (Thread.currentThread.getName.startsWith("Executor task launch worker"))
      OpenCountingFileSystem.taskOpens.increment()
    super.open(f, bufferSize)
  }
}

object OpenCountingFileSystem {
  val taskOpens = new LongAdder
}
