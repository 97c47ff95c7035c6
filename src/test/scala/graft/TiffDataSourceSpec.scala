package graft

import org.apache.spark.sql.functions._
import graft.sources.{TiffSchema, TiffWriterUtil}

/** The TIFF detector-file source: write real baseline-TIFF bytes with
  * the minimal writer, read them back through the DSv2 path, and
  * check values, strip handling, pruning and malformed-input
  * behavior.
  */
class TiffDataSourceSpec extends SparkSpec {

  private def tmpFile(name: String): java.io.File = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_tiff_spec")
    dir.mkdirs()
    new java.io.File(dir, name)
  }

  private def conf = spark.sessionState.newHadoopConf()

  test("round-trip every datatype in both byte orders") {
    val w = 7; val h = 4
    for {
      dt <- Seq("uint8", "int8", "uint16", "int16", "uint32", "int32",
        "float32", "float64")
      little <- Seq(true, false)
    } {
      // keep values exactly representable in every type (incl. int8)
      val frame = Array.tabulate(w * h)(i => (i * 3 % 100).toDouble)
      val f = tmpFile(s"rt_${dt}_$little.tiff")
      TiffWriterUtil.write(f.getAbsolutePath, conf, w, h, dt, little, Seq(frame))
      val rows = spark.read.format("tiff").load(f.getAbsolutePath).collect()
      assert(rows.length === 1, s"$dt little=$little")
      val r = rows(0)
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      assert(r.getAs[String]("datatype") === dt)
      assert(r.getAs[String]("byte_order") === (if (little) "II" else "MM"))
      assert(r.getAs[Seq[Double]]("pixels") === frame.toSeq, s"$dt little=$little")
    }
  }

  test("multi-strip pages concatenate strips in order") {
    // height 11 with 4-row strips -> 3 strips (4+4+3 rows)
    val w = 6; val h = 11
    val frame = Array.tabulate(w * h)(i => ((i * 17 + 3) % 251).toDouble)
    val f = tmpFile("strips.tiff")
    TiffWriterUtil.write(f.getAbsolutePath, conf, w, h, "uint16", true,
      Seq(frame), rowsPerStrip = 4)
    val fr = TiffSchema.walk(f.getAbsolutePath, conf).head
    assert(fr.stripOffsets.size === 3)
    val r = spark.read.format("tiff").load(f.getAbsolutePath).collect()(0)
    assert(r.getAs[Seq[Double]]("pixels") === frame.toSeq)
  }

  test("multi-page stack: ordinals, frame-filter pruning, metadata-only read") {
    val w = 8; val h = 5
    val frames = (0 until 6).map(fr => Array.tabulate(w * h)(i => (fr * 100 + i).toDouble))
    val f = tmpFile("stack.tiff")
    TiffWriterUtil.write(f.getAbsolutePath, conf, w, h, "uint32", false, frames)
    val df = spark.read.format("tiff").load(f.getAbsolutePath)
    val all = df.orderBy("frame").collect()
    assert(all.length === 6)
    all.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("frame") === i.toLong)
      assert(r.getAs[Long]("n_frames") === 6L)
      assert(r.getAs[Seq[Double]]("pixels") === frames(i).toSeq)
    }
    // frame filter prunes partitions before any data read
    val pruned = df.filter(col("frame") === 3)
    val parts = pruned.rdd.getNumPartitions
    assert(parts === 1, s"expected 1 pruned partition, got $parts")
    assert(pruned.collect()(0).getAs[Seq[Double]]("pixels") === frames(3).toSeq)
    // metadata-only projection decodes nothing and still answers
    val meta = df.select("frame", "width", "datatype").orderBy("frame").collect()
    assert(meta.length === 6 && meta(0).getAs[String]("datatype") === "uint32")
  }

  test("partition cap splits a stack into bounded contiguous runs") {
    val w = 16; val h = 8 // 256 B per uint16 page
    val frames = (0 until 10).map(fr => Array.tabulate(w * h)(i => ((fr + i) % 100).toDouble))
    val f = tmpFile("cap.tiff")
    TiffWriterUtil.write(f.getAbsolutePath, conf, w, h, "uint16", true, frames)
    val df = spark.read.format("tiff")
      .option("maxPartitionBytes", (3 * w * h * 2).toString)
      .load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions === 4) // ceil(10 / 3) with 3 pages/part
    assert(df.count() === 10)
  }

  test("directory of single-page files composes a series") {
    val w = 4; val h = 4
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_tiff_dir")
    dir.mkdirs()
    dir.listFiles().foreach(_.delete())
    (0 until 3).foreach { i =>
      TiffWriterUtil.write(new java.io.File(dir, f"img_$i%03d.tiff").getAbsolutePath,
        conf, w, h, "uint16", true,
        Seq(Array.tabulate(w * h)(p => (i * 10 + p).toDouble)))
    }
    val df = spark.read.format("tiff").load(dir.getAbsolutePath)
    assert(df.count() === 3)
    // each file is its own frame 0; files distinguish the series
    assert(df.select("file").distinct().count() === 3)
    val sums = df.select(col("file"),
        aggregate(col("pixels"), lit(0L), (a, x) => a + x.cast("long")).as("s"))
      .orderBy("file").collect().map(_.getLong(1))
    val expect = (0 until 3).map(i => (0 until w * h).map(p => i * 10 + p).sum.toLong)
    assert(sums.toSeq === expect)
  }

  test("malformed inputs fail with the path in the message") {
    val f = tmpFile("bad.tiff")
    val out = new java.io.FileOutputStream(f)
    out.write("GARBAGE!".getBytes); out.close()
    val e = intercept[Exception](TiffSchema.walk(f.getAbsolutePath, conf))
    assert(e.getMessage.contains(f.getName))
    // compressed pages are rejected, not silently mis-decoded
    val g = tmpFile("comp.tiff")
    TiffWriterUtil.write(g.getAbsolutePath, conf, 4, 4, "uint16", true,
      Seq(Array.fill(16)(1.0)))
    val bytes = java.nio.file.Files.readAllBytes(g.toPath)
    // IFD starts at 8 + 32 data bytes; entry 4 (Compression) value at
    // +2 (count) + 3*12 (entries) + 8 (tag/type/count) = entry offset
    val ifdAt = 8 + 32
    val compValueAt = ifdAt + 2 + 3 * 12 + 8
    bytes(compValueAt) = 5 // LZW
    java.nio.file.Files.write(g.toPath, bytes)
    // the byte surgery invalidates Hadoop's checksum sidecar
    new java.io.File(g.getParentFile, s".${g.getName}.crc").delete()
    val e2 = intercept[Exception](TiffSchema.walk(g.getAbsolutePath, conf))
    assert(e2.getMessage.contains("Compression"))
  }

  test("64-bit integer pages fail at planning with the path in the message") {
    val f = tmpFile("int64.tiff")
    TiffWriterUtil.write(f.getAbsolutePath, conf, 2, 2, "float64", true,
      Seq(Array(1.0, 2.0, 3.0, 4.0)))
    // patch SampleFormat (tag 339) from 3 (float) to 1 (unsigned):
    // BitsPerSample stays 64, so the page now claims uint64 samples
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val entry = (0 until bb.getShort(ifd)).map(i => ifd + 2 + 12 * i)
      .find(e => bb.getShort(e) == 339).get
    assert(bb.getShort(entry + 8) === 3)
    bb.putShort(entry + 8, 1.toShort)
    java.nio.file.Files.write(f.toPath, bytes)
    // the byte surgery invalidates Hadoop's checksum sidecar
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception](TiffSchema.walk(f.getAbsolutePath, conf))
    assert(e.getMessage.contains(f.getName))
    val e2 = intercept[Exception](spark.read.format("tiff").load(f.getAbsolutePath).count())
    assert(messages(e2).exists(_.contains(f.getName)), messages(e2))
  }

  test("decoded TIFF stack feeds the CCD operators (radial profile)") {
    val w = 12; val h = 10
    val frames = (0 until 2).map(fr => Array.tabulate(w * h)(i => (fr + i % 7).toDouble))
    val f = tmpFile("compose.tiff")
    TiffWriterUtil.write(f.getAbsolutePath, conf, w, h, "uint16", true, frames)
    val prof = graft.operators.Binning.radialProfile(
      spark.read.format("tiff").load(f.getAbsolutePath),
      col("frame"), col("width"), col("pixels"), cx = w / 2, cy = h / 2)
    val rows = prof.collect()
    assert(rows.length > 0)
    // total mass is conserved through the binning
    val total = rows.map(r => r.getAs[Long]("v_sum")).sum
    assert(total === frames.flatten.map(_.toLong).sum)
  }

  test("COUNT(*)/MIN/MAX(frame) push down to the planning index: one agg row, no pixel read") {
    val f = tmpFile("agg.tiff")
    val frames = (0 until 7).map(i => Array.tabulate(6)(j => (i * 10 + j).toDouble))
    TiffWriterUtil.write(f.getAbsolutePath, conf, 3, 2, "uint16", true, frames)
    val df = spark.read.format("tiff").load(f.getAbsolutePath)
    // count(*): answered from headers; scan output is the pushed agg column
    val cq = df.groupBy().count()
    val cplan = cq.queryExecution.executedPlan.toString
    assert(cplan.contains("agg_count"), cplan)
    assert(cq.collect()(0).getLong(0) == 7L)
    // min/max over frame, combined with count
    val mq = df.agg(count(lit(1)), min(col("frame")), max(col("frame")))
    val mplan = mq.queryExecution.executedPlan.toString
    assert(mplan.contains("agg_min_frame") && mplan.contains("agg_max_frame"), mplan)
    val r = mq.collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 0L && r.getLong(2) == 6L)
    // pushed frame filters narrow the planning index before aggregating
    val fq = df.filter(col("frame") >= 2 && col("frame") <= 5).groupBy().count()
    assert(fq.queryExecution.executedPlan.toString.contains("agg_count"))
    assert(fq.collect()(0).getLong(0) == 4L)
    // non-pushable aggregates still work through the row path
    val avg = df.agg(sum(col("width"))).collect()(0).getLong(0)
    assert(avg == 21L)
    // and an empty selection returns count 0, null min/max
    val eq = df.filter(col("frame") > 100)
      .agg(count(lit(1)), min(col("frame"))).collect()(0)
    assert(eq.getLong(0) == 0L && eq.isNullAt(1))
  }

  test("streaming source tails a growing TIFF stack; a page mid-write is held back") {
    val dir = java.nio.file.Files.createTempDirectory("tiffstream").toFile
    val f = new java.io.File(dir, "live.tiff")
    val w = 2; val h = 2
    def frame(k: Int) = Array.tabulate(w * h)(i => (10.0 * k + i))
    def stackBytes(n: Int): Array[Byte] = {
      val tmp = new java.io.File(dir, s"stage_$n.tiff")
      TiffWriterUtil.write(tmp.getAbsolutePath, conf, w, h, "uint16", true,
        (0 until n).map(frame))
      val b = java.nio.file.Files.readAllBytes(tmp.toPath)
      tmp.delete(); b
    }
    java.nio.file.Files.write(f.toPath, stackBytes(2))
    val q = spark.readStream.format("tiff").load(f.getPath)
      .select(col("frame"), element_at(col("pixels"), 1).as("p0"))
      .writeStream.format("memory").queryName("tiff_live")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tiff_live").collect().map(_.getLong(0)).toSet === Set(0L, 1L))
      // acquisition starts page 2: its strips land but the final IFD is
      // still mid-write (truncate the 3-page image inside the last IFD)
      val b3 = stackBytes(3)
      java.nio.file.Files.write(f.toPath, b3.take(b3.length - 30))
      q.processAllAvailable()
      assert(spark.table("tiff_live").collect().map(_.getLong(0)).toSet === Set(0L, 1L),
        "page mid-write must be held back")
      // the writer finishes page 2 and appends page 3
      java.nio.file.Files.write(f.toPath, stackBytes(4))
      q.processAllAvailable()
      val now = spark.table("tiff_live").collect()
      assert(now.map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L))
      assert(now.map(_.getDouble(1)).sorted.toSeq === Seq(0.0, 10.0, 20.0, 30.0))
    } finally q.stop()
  }

  test("streaming equals batch on a complete stack") {
    val w = 3; val h = 2
    val frames = (0 until 5).map(k => Array.tabulate(w * h)(i => (k * 7 + i).toDouble))
    val f = tmpFile("sb.tiff")
    TiffWriterUtil.write(f.getAbsolutePath, conf, w, h, "int32", true, frames)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("frame")), r.getSeq[Double](r.fieldIndex("pixels")).toList)
    val batch = spark.read.format("tiff").load(f.getAbsolutePath)
      .select("frame", "pixels").collect().map(key).toSet
    val q = spark.readStream.format("tiff").load(f.getAbsolutePath)
      .select("frame", "pixels")
      .writeStream.format("memory").queryName("tiff_sb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tiff_sb").collect().map(key).toSet === batch)
    } finally q.stop()
  }
}
