package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{SerializableHadoopConf, SpecIOMetrics, SpecIndex, SpecInputPartition,
  SpecMicroBatchStream, SpecSchema}

class SpecDataSourceSpec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("specds").toFile
    val f = new java.io.File(dir, "sample.spec")
    val content =
      """#F sample.spec
        |#E 1704067200
        |#D Mon Jan 01 00:00:00 2024
        |#O0 Theta  Two Theta  Chi
        |#O1 Phi
        |
        |#S 1 ascan th 0 1 5 1
        |#D Mon Jan 01 00:10:00 2024
        |#T 1 (Seconds)
        |#M 10000 (Monitor)
        |#G0 0 0 1 0
        |#G1 1.54 1.54 90
        |#Q 1 0 2.5
        |#P0 0.5 1.25 -3.0
        |#P1 12.5
        |#N 4
        |#L th  detector  monitor  seconds
        |0.0 10 1000 1
        |0.2 14 1001 1
        |0.4 30 999 1
        |0.6 55 1002 1
        |0.8 31 1000 1
        |1.0 11 998 1
        |
        |#S 2 dscan chi -1 1 3 1
        |#D Mon Jan 01 00:20:00 2024
        |#P0 0.7 1.25 -3.0
        |#P1 12.5
        |#N 3
        |#L chi  detector  seconds
        |-1.0 5 1
        |0.0 50 1
        |1.0 6 1
        |#C a trailing comment
        |""".stripMargin
    Files.write(f.toPath, content.getBytes("UTF-8"))
    f.getPath
  }

  /** `(file, scan, startByte, endByte)` of every `#S` block under
    * `path`, from the scan index. */
  private def blocksOf(path: String): Seq[(String, Long, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    SpecSchema.expand(Seq(path), conf).flatMap { m =>
      SpecIndex.indexFile(m, conf).scans.map { case (no, s, e) => (m.path, no, s, e) }
    }
  }

  /** `body` with session confs set, restored afterwards. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** A spec file whose blocks are `(scan number, points)`; each point's
    * `det` encodes the file tag, block position and point index. */
  private def specFile(dir: java.io.File, name: String, tag: Int, scans: Seq[(Int, Int)]): String = {
    val sb = new StringBuilder(s"#F $name\n#O0 Theta  Chi\n")
    scans.zipWithIndex.foreach { case ((no, n), k) =>
      sb.append(s"\n#S $no ascan th 0 1 $n 1\n#P0 $k.5 1.25\n#L th  det\n")
      for (p <- 0 until n) sb.append(s"$p ${det(tag, k, p)}\n")
    }
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
    f.getPath
  }
  private def det(tag: Int, block: Int, point: Int): Double = tag * 100000 + block * 100 + point

  /** (scan, point, det) of a read, in read order. */
  private def points(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("scan"), col("point"), element_at(col("data"), "det")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** All columns of a read's rows, in read order. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** The rows of `read` under the packed plan, checked against the same
    * read planned one scan block per partition (a 1-byte cap): same
    * rows, same order. */
  private def packedEqualsPerScan(read: => org.apache.spark.sql.DataFrame, nBlocks: Int): Seq[String] = {
    val packed = rowsOf(read)
    val perScan = withConf("spark.sql.files.maxPartitionBytes" -> "1") {
      val df = read
      assert(df.rdd.getNumPartitions == nBlocks)
      rowsOf(df)
    }
    assert(packed == perScan)
    packed
  }

  test("reads scans with schema, motors and data maps") {
    val df = spark.read.format("spec").load(fixture)
    assert(df.columns.toSeq ==
      Seq("file", "scan", "command", "date", "count_time", "monitor",
        "geometry", "hkl", "point", "motors", "data", "mca"))
    assert(df.count() == 9) // 6 + 3 data points
    val s1 = df.filter(col("scan") === 1).orderBy("point")
    assert(s1.count() == 6)
    val first = s1.collect().head
    assert(first.getString(first.fieldIndex("command")) == "ascan th 0 1 5 1")
    assert(first.getString(first.fieldIndex("date")) == "Mon Jan 01 00:10:00 2024")
    val motors = first.getMap[String, Double](first.fieldIndex("motors"))
    assert(motors("Theta") == 0.5)
    assert(motors("Two Theta") == 1.25) // two-space separated name with a space inside
    assert(motors("Phi") == 12.5) // #P1 continuation
    val data = first.getMap[String, Double](first.fieldIndex("data"))
    assert(data("th") == 0.0 && data("detector") == 10.0 && data("monitor") == 1000.0)
    assert(first.getDouble(first.fieldIndex("count_time")) == 1.0) // #T header
    assert(first.getDouble(first.fieldIndex("monitor")) == 10000.0) // #M header
  }

  test("scans without #T/#M headers carry nulls") {
    val df = spark.read.format("spec").load(fixture)
    val s2 = df.filter(col("scan") === 2).collect().head
    assert(s2.isNullAt(s2.fieldIndex("count_time")))
    assert(s2.isNullAt(s2.fieldIndex("monitor")))
    assert(s2.isNullAt(s2.fieldIndex("geometry")))
    assert(s2.isNullAt(s2.fieldIndex("hkl")))
  }

  test("#G blocks concatenate in order; #Q parses as hkl") {
    val df = spark.read.format("spec").load(fixture)
    val s1 = df.filter(col("scan") === 1).collect().head
    assert(s1.getSeq[Double](s1.fieldIndex("geometry")) ==
      Seq(0.0, 0.0, 1.0, 0.0, 1.54, 1.54, 90.0))
    assert(s1.getSeq[Double](s1.fieldIndex("hkl")) == Seq(1.0, 0.0, 2.5))
  }

  test("scan 2 has its own labels and positions") {
    val df = spark.read.format("spec").load(fixture)
    val s2 = df.filter(col("scan") === 2).orderBy("point").collect()
    assert(s2.length == 3)
    val d = s2(1).getMap[String, Double](s2(1).fieldIndex("data"))
    assert(d("chi") == 0.0 && d("detector") == 50.0)
    assert(!d.contains("monitor"))
    val m = s2(0).getMap[String, Double](s2(0).fieldIndex("motors"))
    assert(m("Theta") == 0.7)
  }

  test("scan-number filter prunes partitions (random access)") {
    val df = spark.read.format("spec").load(fixture).filter(col("scan") === 2)
    assert(df.count() == 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") || plan.contains("spec"))
    // partition pruning: only one partition planned
    assert(df.rdd.getNumPartitions == 1)
  }

  test("scan range filters and file equality prune partitions") {
    val dir = Files.createTempDirectory("specprune").toFile
    val mk = (name: String, scans: Range) => Files.write(
      new java.io.File(dir, name).toPath,
      scans.map(s => s"#S $s x\n#L th  det\n0 $s\n").mkString("\n").getBytes("UTF-8"))
    mk("a.spec", 1 to 6)
    mk("b.spec", 1 to 6)
    val df = spark.read.format("spec").load(dir.getPath)
    assert(df.count() == 12)
    val blocks = blocksOf(dir.getPath)
    // bytes the partition readers fetch for a read of `q`
    def fetched(q: org.apache.spark.sql.DataFrame, rows: Long): Long = {
      SpecIOMetrics.reset()
      assert(q.collect().length == rows)
      SpecIOMetrics.total
    }
    def wanted(keep: (String, Long) => Boolean): Long =
      blocks.collect { case (f, no, s, e) if keep(f, no) => e - s }.sum
    // range predicate prunes blocks, not just rows: scans 3, 4 of both
    // files and not one byte more
    val mid = df.filter(col("scan") > 2 && col("scan") <= 4)
    assert(fetched(mid, 4) == wanted((_, no) => no == 3 || no == 4))
    // file equality prunes the other file entirely
    val one = df.select("file").distinct().orderBy("file").collect().head.getString(0)
    val fOnly = df.filter(col("file") === one && col("scan") === 5)
    assert(fetched(fOnly, 1) == wanted((f, no) => f == one && no == 5))
    // at the default cap each file's wanted blocks are one partition
    assert(df.rdd.getNumPartitions == 2)
    assert(mid.rdd.getNumPartitions == 2)
    assert(fOnly.rdd.getNumPartitions == 1)
  }

  test("glob paths expand; malformed data lines are skipped") {
    val dir = Files.createTempDirectory("specglob").toFile
    val mk = (name: String, body: String) => Files.write(
      new java.io.File(dir, name).toPath, body.getBytes("UTF-8"))
    mk("run1.spec",
      """#S 1 ascan th 0 1 2 1
        |#L th  det
        |0.0 1
        |0.5 garbage_here
        |1.0 3
        |""".stripMargin)
    mk("run2.spec", "#S 1 ascan th 0 1 1 1\n#L th  det\n0.0 9\n")
    mk("notes.txt", "not a spec file but matches nothing")
    val df = spark.read.format("spec").load(s"${dir.getPath}/run*.spec")
    assert(df.select("file").distinct().count() == 2)
    // run1's malformed middle line parses as a single-value row
    // (garbage token dropped), not a task failure
    assert(df.filter(col("file").endsWith("run1.spec")).count() == 3)
  }

  test("@A MCA blocks (with continuations) attach to the following data point") {
    val dir = Files.createTempDirectory("specmca").toFile
    val f = new java.io.File(dir, "mca.spec")
    Files.write(f.toPath,
      """#F mca.spec
        |#O0 Theta
        |
        |#S 1 mcascan th 0 1 2 1
        |#P0 0.1
        |#L th  detector
        |@A 1 2 3 4 \
        |5 6 7 8 \
        |9 10
        |0.0 100
        |@A 11 12 13
        |1.0 200
        |""".stripMargin.getBytes("UTF-8"))
    val df = spark.read.format("spec").load(f.getPath)
    val rows = df.select(col("point"),
        element_at(col("data"), "detector").as("det"), col("mca"))
      .orderBy("point").collect()
    assert(rows.length == 2) // @A lines are spectra, not data rows
    assert(rows(0).getDouble(1) == 100.0)
    assert(rows(0).getSeq[Double](2) == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0))
    assert(rows(1).getSeq[Double](2) == Seq(11.0, 12.0, 13.0))
    // scans without MCA carry null
    val plain = spark.read.format("spec").load(fixture)
      .select(col("mca")).collect()
    assert(plain.forall(_.isNullAt(0)))
  }

  test("duplicates=last keeps only the newest occurrence of a re-run scan") {
    val dir = Files.createTempDirectory("specdup").toFile
    val f = new java.io.File(dir, "dup.spec")
    Files.write(f.toPath,
      """#F dup.spec
        |#O0 Theta
        |
        |#S 1 ascan th 0 1 2 1
        |#P0 0.1
        |#L th  detector
        |0.0 10
        |1.0 20
        |
        |#S 1 ascan th 0 1 2 1
        |#P0 0.9
        |#L th  detector
        |0.0 30
        |1.0 40
        |""".stripMargin.getBytes("UTF-8"))
    val all = spark.read.format("spec").load(f.getPath)
    assert(all.count() == 4) // default: both blocks visible
    val last = spark.read.format("spec").option("duplicates", "last").load(f.getPath)
    val rows = last.select(col("scan"), col("point"),
        element_at(col("data"), "detector").as("det"),
        element_at(col("motors"), "Theta").as("th"))
      .orderBy("point").collect()
    assert(rows.length == 2) // only the re-run block
    assert(rows.map(_.getDouble(2)).toSeq == Seq(30.0, 40.0))
    assert(rows.forall(_.getDouble(3) == 0.9)) // newest #P0
  }

  test("write round-trip: read -> write -> re-read preserves rows") {
    val out = Files.createTempDirectory("specout").toFile.getPath
    val src = spark.read.format("spec").load(fixture)
    src.repartition(1).write.format("spec").mode("append").save(out)
    val back = spark.read.format("spec").load(out)
    def key(df: org.apache.spark.sql.DataFrame) = df.select(
        col("scan"), col("point"), col("command"), col("date"),
        col("count_time"), col("monitor"), col("geometry"), col("hkl"),
        col("motors"), col("data"))
      .collect().map(_.toString).sorted.toSeq
    assert(key(back) == key(src))
    // MCA survives the round-trip too
    val mcaDir = Files.createTempDirectory("specmcart").toFile
    val mf = new java.io.File(mcaDir, "m.spec")
    Files.write(mf.toPath,
      """#S 1 x
        |#L th  det
        |@A 1 2 3
        |0.5 7
        |""".stripMargin.getBytes("UTF-8"))
    val mcaOut = Files.createTempDirectory("specmcaout").toFile.getPath
    spark.read.format("spec").load(mf.getPath)
      .write.format("spec").mode("append").save(mcaOut)
    val mcaBack = spark.read.format("spec").load(mcaOut).collect().head
    assert(mcaBack.getSeq[Double](mcaBack.fieldIndex("mca")) == Seq(1.0, 2.0, 3.0))
  }

  test("write: scans with mismatched motor names lose motors, never misalign") {
    val dir = Files.createTempDirectory("spechet").toFile
    val f = new java.io.File(dir, "het.spec")
    // two scans with DIFFERENT motor sets in one source file (#O is
    // file-level, so the reader positionally maps both scans onto the
    // same names — the second scan's map is wrong at the source, but
    // the writer must not make it worse)
    Files.write(f.toPath,
      """#F het.spec
        |#O0 Alpha  Beta
        |
        |#S 1 a
        |#P0 1.0 2.0
        |#L x  y
        |0 10
        |
        |#S 2 b
        |#P0 3.0
        |#L x  y
        |0 20
        |""".stripMargin.getBytes("UTF-8"))
    val out = Files.createTempDirectory("spechetout").toFile.getPath
    val src = spark.read.format("spec").load(f.getPath)
    src.repartition(1).write.format("spec").mode("append").save(out)
    val back = spark.read.format("spec").load(out)
    val s1 = back.filter(col("scan") === 1).collect().head
    assert(s1.getMap[String, Double](s1.fieldIndex("motors"))("Alpha") == 1.0)
    // the partial-motors scan still reads back with its (prefix)
    // values under the file-level names — identical to the source
    val s2 = back.filter(col("scan") === 2).collect().head
    assert(s2.getMap[String, Double](s2.fieldIndex("motors")) ==
      Map("Alpha" -> 3.0))
    // exactly ONE file-level #O block in the written file
    val written = new java.io.File(out).listFiles().filter(_.getName.endsWith(".spec"))
    val content = new String(java.nio.file.Files.readAllBytes(written.head.toPath))
    assert(content.linesIterator.count(_.startsWith("#O")) == 1)
  }

  test("reader never throws on arbitrary line soup (fuzz)") {
    val rnd = new scala.util.Random(424242)
    val fragments = Seq(
      "#S ", "#S 1 ascan", "#D ", "#T abc", "#M ", "#G0 x y", "#Q 1 2",
      "#P0 ", "#P0 bad 1.0", "#L a  b", "#O0 m1  m2", "@A 1 2 \\",
      "3 4", "@A", "\\", "1.0 2.0", "not a number line", "#C comment",
      "", "   ", "#N 3", "0.5", "#unknownheader x")
    (0 until 20).foreach { trial =>
      val dir = Files.createTempDirectory(s"specfuzz$trial").toFile
      val f = new java.io.File(dir, "fuzz.spec")
      val lines = (0 until 50).map(_ => fragments(rnd.nextInt(fragments.length)))
      // guarantee at least one well-formed scan header somewhere
      val content = (lines.take(25) ++ Seq("#S 9 fuzzscan", "#L v", "1.25") ++
        lines.drop(25)).mkString("\n")
      Files.write(f.toPath, content.getBytes("UTF-8"))
      val df = spark.read.format("spec").load(f.getPath)
      val n = df.count() // must not throw
      assert(n >= 0)
      assert(df.filter(col("scan") === 9).count() >= 1)
    }
  }

  test("reads through an explicit file: URI (Hadoop FileSystem path)") {
    val df = spark.read.format("spec").load("file://" + fixture)
    assert(df.count() == 9)
    assert(df.filter(col("scan") === 1).count() == 6)
  }

  test("readers seek: a K-scan file costs O(file bytes) total, not O(K x file)") {
    val dir = Files.createTempDirectory("specseek").toFile
    val f = new java.io.File(dir, "many.spec")
    val sb = new StringBuilder("#F many.spec\n#O0 Theta\n")
    for (s <- 1 to 50) {
      sb.append(s"\n#S $s ascan th 0 1 9 1\n#P0 0.$s\n#L th  det\n")
      for (i <- 0 until 10) sb.append(s"$i ${i * s}\n")
    }
    Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
    val fileLen = f.length()
    graft.sources.SpecIOMetrics.reset()
    val df = spark.read.format("spec").load(f.getPath)
    assert(df.count() == 500)
    val total = graft.sources.SpecIOMetrics.total
    // partition readers fetch only their own #S block: the 50 slices
    // sum to ~the file size (pre-fix this was ~50x the file size)
    assert(total <= fileLen + 256, s"read $total bytes for a $fileLen-byte file")
    // and a pruned scan filter reads only that scan's slice
    graft.sources.SpecIOMetrics.reset()
    assert(spark.read.format("spec").load(f.getPath)
      .filter(col("scan") === 7).count() == 10)
    assert(graft.sources.SpecIOMetrics.total < fileLen / 10,
      s"pruned read fetched ${graft.sources.SpecIOMetrics.total} of $fileLen bytes")
  }

  test("large scan blocks read through the prefetch thread (IO/parse overlap)") {
    val dir = Files.createTempDirectory("specpre").toFile
    val f = new java.io.File(dir, "big.spec")
    // two scans, each ~1 MiB of data lines => well past PrefetchMinBytes
    val sb = new StringBuilder
    for (scan <- 1 to 2) {
      sb.append(s"\n#S $scan bigscan\n#L th  det\n")
      for (i <- 0 until 60000) sb.append(s"$i.0 ${i % 977}.5\n")
    }
    Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
    graft.sources.SpecIOMetrics.reset()
    val df = spark.read.format("spec").load(f.getPath)
      .groupBy("scan").agg(count(lit(1)).as("n"),
        sum(element_at(col("data"), "det")).as("s"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // parity: exact counts and sums through the prefetch path
    val expSum = (0 until 60000).map(i => (i % 977) + 0.5).sum
    assert(rows(1L) == ((60000L, expSum)) && rows(2L) == ((60000L, expSum)))
    assert(graft.sources.SpecIOMetrics.prefetchHits.sum() > 0,
      "no chunk was ever found pre-buffered: prefetch not overlapping")
  }

  test("indexCache (default-on) writes a sidecar; stale sidecars self-evict") {
    val dir = Files.createTempDirectory("specidx").toFile
    val f = new java.io.File(dir, "c.spec")
    Files.write(f.toPath,
      "#S 1 a\n#L th  det\n0 1\n1 2\n\n#S 2 b\n#L th  det\n0 3\n".getBytes("UTF-8"))
    // no option: caching is the default
    val df = spark.read.format("spec").load(f.getPath)
    assert(df.count() == 3)
    val sidecar = new java.io.File(dir, "c.spec.specidx")
    assert(sidecar.exists(), "sidecar index not written")
    val content = new String(Files.readAllBytes(sidecar.toPath))
    assert(content.startsWith(s"specidx\tv4\t${f.length()}\t"))
    // cached index is used on re-read and yields identical partitions
    val again = spark.read.format("spec").load(f.getPath)
    assert(again.count() == 3 && again.filter(col("scan") === 2).count() == 1)
    // a sidecar with a wrong length (stale) is ignored, not trusted
    Files.write(sidecar.toPath,
      "specidx\tv4\t999999\t0\t0\t1\nS\t1\t0\t10\t2\n".getBytes("UTF-8"))
    assert(spark.read.format("spec").option("indexCache", "false").load(f.getPath).count() == 3)
    assert(spark.read.format("spec").load(f.getPath).count() == 3)
    // ... and the read above overwrote it with a fresh valid v4 (GC =
    // eviction-by-rewrite, one sidecar per file)
    val healed = new String(Files.readAllBytes(sidecar.toPath))
    assert(healed.startsWith(s"specidx\tv4\t${f.length()}\t"))
    assert(!healed.contains("999999"))
  }

  test("sidecar fingerprint catches same-length same-mtime rewrites") {
    val dir = Files.createTempDirectory("specfp").toFile
    val f = new java.io.File(dir, "fp.spec")
    Files.write(f.toPath,
      "#S 1 a\n#L th  det\n0 1\n1 2\n".getBytes("UTF-8"))
    assert(spark.read.format("spec").load(f.getPath).count() == 2)
    val sidecar = new java.io.File(dir, "fp.spec.specidx")
    assert(sidecar.exists())
    val mtime = f.lastModified()
    // rewrite: SAME byte length, scan renumbered 1 -> 7, mtime pinned
    // back — (length, mtime) validation alone would serve the stale
    // index and report scan 1
    Files.write(f.toPath,
      "#S 7 a\n#L th  det\n0 1\n1 2\n".getBytes("UTF-8"))
    assert(f.setLastModified(mtime))
    val scans = spark.read.format("spec").load(f.getPath)
      .select("scan").distinct().collect().map(_.getLong(0)).toSet
    assert(scans == Set(7L), s"stale sidecar served: $scans")
  }

  test("a .specidx cut short is stale: every scan is read and the sidecar rewritten") {
    val dir = Files.createTempDirectory("spectrunc").toFile
    val f = new java.io.File(dir, "t.spec")
    Files.write(f.toPath, ("#S 1 a\n#L th  det\n0 1\n1 2\n\n#S 2 b\n#L th  det\n0 3\n" +
      "\n#S 3 c\n#L th  det\n0 4\n1 5\n").getBytes("UTF-8"))
    assert(spark.read.format("spec").load(f.getPath).count() == 5)
    val sidecar = new java.io.File(dir, "t.spec.specidx")
    val full = new String(Files.readAllBytes(sidecar.toPath), "UTF-8")
    // a write that died before its last record line: drop that line
    // (and the checksum file the raw edit would invalidate)
    Files.write(sidecar.toPath,
      full.linesIterator.toSeq.init.map(_ + "\n").mkString.getBytes("UTF-8"))
    new java.io.File(dir, ".t.spec.specidx.crc").delete()
    val df = spark.read.format("spec").load(f.getPath)
    assert(df.count() == 5)
    assert(df.select("scan").distinct().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(new String(Files.readAllBytes(sidecar.toPath), "UTF-8") == full, "sidecar not rewritten")
  }

  test("many files index via the distributed job path") {
    // > SpecIndex.ParallelThreshold files => one index task per file
    val dir = Files.createTempDirectory("specpar").toFile
    for (i <- 1 to 6)
      Files.write(new java.io.File(dir, f"r$i%02d.spec").toPath,
        s"#S 1 scan$i\n#L th  det\n0 $i\n1 ${i * 10}\n".getBytes("UTF-8"))
    val df = spark.read.format("spec").load(dir.getPath)
    assert(df.count() == 12)
    assert(df.select("file").distinct().count() == 6)
    val v = df.filter(col("file").endsWith("r03.spec"))
      .select(element_at(col("data"), "det")).orderBy(col("point")).collect()
    assert(v.map(_.getDouble(0)).toSeq == Seq(3.0, 30.0))
  }

  test("singleFile write: partition-parallel serialization into ONE spec file") {
    val out = Files.createTempDirectory("specsingle").toFile.getPath
    val src = spark.read.format("spec").load(fixture)
    // 4 partitions serialize concurrently; commit merges them
    src.repartition(4).write.format("spec")
      .option("singleFile", "run.spec").mode("append").save(out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".spec"))
    assert(files.map(_.getName).toSeq == Seq("run.spec"), "expected exactly one merged file")
    // no leftover temps
    assert(!new java.io.File(out).listFiles().exists(_.getName.endsWith(".specpart")))
    val content = new String(Files.readAllBytes(files.head.toPath))
    assert(content.linesIterator.count(_.startsWith("#O")) <= 1, "one file-level #O block")
    val back = spark.read.format("spec").load(out)
    def key(df: org.apache.spark.sql.DataFrame) = df.select(
        col("scan"), col("point"), col("command"), col("date"),
        col("count_time"), col("monitor"), col("geometry"), col("hkl"),
        col("motors"), col("data"))
      .collect().map(_.toString).sorted.toSeq
    assert(key(back) == key(src))
  }

  test("column pruning reaches the scan (2-column projection)") {
    val df = spark.read.format("spec").load(fixture)
      .select(col("scan"), element_at(col("data"), "detector").as("det"))
    val scanCols = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.output.map(_.name)
    }.flatten
    assert(scanCols.toSet == Set("scan", "data"),
      s"scan must read only (scan, data), got $scanCols")
    // and values are unchanged under pruning
    val agg = df.groupBy("scan").agg(max("det")).orderBy("scan").collect()
    assert(agg(0).getDouble(1) == 55.0 && agg(1).getDouble(1) == 50.0)
    // minimal projection still returns one row per data point
    assert(spark.read.format("spec").load(fixture).select("scan").count() == 9)
  }

  test("singleFile merge drops #P lines of parts with mismatched motor sets") {
    // scan 1 motors (Alpha, Beta); scan 2 motors (Gamma) — clustered
    // by scan they land in different parts, and the merge must not
    // let Gamma's position read back under Alpha's name
    val dir = Files.createTempDirectory("spechetsf").toFile
    val mk = (name: String, motors: String, pos: String, scan: Int) => Files.write(
      new java.io.File(dir, name).toPath,
      s"#O0 $motors\n\n#S $scan a\n#P0 $pos\n#L x  y\n0 1\n".getBytes("UTF-8"))
    mk("m1.spec", "Alpha  Beta", "1.0 2.0", 1)
    mk("m2.spec", "Gamma", "9.0", 2)
    val src = spark.read.format("spec").load(dir.getPath)
    val out = Files.createTempDirectory("spechetsfout").toFile.getPath
    src.write.format("spec").option("singleFile", "het.spec").mode("append").save(out)
    val back = spark.read.format("spec").load(out)
    val s1 = back.filter(col("scan") === 1).collect().head
    assert(s1.getMap[String, Double](s1.fieldIndex("motors")) ==
      Map("Alpha" -> 1.0, "Beta" -> 2.0))
    val s2 = back.filter(col("scan") === 2).collect().head
    // mismatched part: its #P was dropped in the merge — motors null,
    // never positionally misassigned
    assert(s2.isNullAt(s2.fieldIndex("motors")) ||
      s2.getMap[String, Double](s2.fieldIndex("motors")).isEmpty)
    val content = new String(Files.readAllBytes(
      new java.io.File(out, "het.spec").toPath))
    assert(content.linesIterator.count(_.startsWith("#O")) == 1)
  }

  test("singleFile merge keeps #P of a superset part (longest motor list wins)") {
    // scan 1 knows (Alpha); scan 2 knows (Alpha, Beta) — the longer
    // list must become the file #O so BOTH parts' positions survive
    // (first-nonempty selection would truncate Beta and drop scan 2's
    // positions despite perfect alignment)
    val dir = Files.createTempDirectory("specsuper").toFile
    val mk = (name: String, motors: String, pos: String, scan: Int) => Files.write(
      new java.io.File(dir, name).toPath,
      s"#O0 $motors\n\n#S $scan a\n#P0 $pos\n#L x  y\n0 1\n".getBytes("UTF-8"))
    mk("s1.spec", "Alpha", "1.5", 1)
    mk("s2.spec", "Alpha  Beta", "2.5 3.5", 2)
    val src = spark.read.format("spec").load(dir.getPath)
    val out = Files.createTempDirectory("specsuperout").toFile.getPath
    src.write.format("spec").option("singleFile", "sup.spec").mode("append").save(out)
    val back = spark.read.format("spec").load(out)
    val s1 = back.filter(col("scan") === 1).collect().head
    assert(s1.getMap[String, Double](s1.fieldIndex("motors")) == Map("Alpha" -> 1.5))
    val s2 = back.filter(col("scan") === 2).collect().head
    assert(s2.getMap[String, Double](s2.fieldIndex("motors")) ==
      Map("Alpha" -> 2.5, "Beta" -> 3.5))
  }

  test("streaming source tails a growing spec file, emitting completed scans") {
    val dir = Files.createTempDirectory("specstream").toFile
    val f = new java.io.File(dir, "live.spec")
    def append(s: String): Unit =
      Files.write(f.toPath, s.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    append("""#F live.spec
             |#O0 Theta
             |
             |#S 1 ascan th 0 1 2 1
             |#P0 0.1
             |#L th  det
             |0.0 10
             |1.0 20
             |
             |#S 2 ascan th 0 1 2 1
             |#P0 0.2
             |#L th  det
             |0.0 30
             |""".stripMargin)
    val stream = spark.readStream.format("spec").load(f.getPath)
      .select(col("scan"), element_at(col("data"), "det").as("det"),
        element_at(col("motors"), "Theta").as("th"))
    val q = stream.writeStream.format("memory").queryName("spec_live")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // scan 2 has no following #S yet -> held back as possibly live
      val first = spark.table("spec_live").collect()
      assert(first.map(_.getLong(0)).toSet == Set(1L))
      assert(first.map(_.getDouble(1)).sorted.toSeq == Seq(10.0, 20.0))
      assert(first.forall(_.getDouble(2) == 0.1)) // #P under cached #O names
      // the instrument finishes scan 2 and starts scan 3
      append("""1.0 40
               |
               |#S 3 ascan th 0 1 2 1
               |#L th  det
               |0.0 50
               |""".stripMargin)
      q.processAllAvailable()
      val now = spark.table("spec_live").collect()
      assert(now.map(_.getLong(0)).toSet == Set(1L, 2L)) // 3 still live
      assert(now.filter(_.getLong(0) == 2L).map(_.getDouble(1)).sorted.toSeq ==
        Seq(30.0, 40.0)) // scan 2 complete, BOTH points
    } finally q.stop()
    // emitLast=true flushes the trailing block (file known complete)
    val all = spark.readStream.format("spec").option("emitLast", "true").load(f.getPath)
      .select(col("scan"))
    val q2 = all.writeStream.format("memory").queryName("spec_done")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("spec_done").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    } finally q2.stop()
  }

  test("streaming: a malformed #S still releases the completed scan before it") {
    // The malformed header terminates scan 1's block — batch emits
    // scan 1, so the stream boundary must advance over the raw #S
    // even though its scan number never parses.
    val dir = Files.createTempDirectory("specbadhdr").toFile
    val f = new java.io.File(dir, "bad.spec")
    Files.write(f.toPath,
      """#F bad.spec
        |
        |#S 1 ascan th 0 1 2 1
        |#L th  det
        |0.0 10
        |1.0 20
        |
        |#S x garbage header
        |#L th  det
        |0.0 99
        |""".stripMargin.getBytes("UTF-8"))
    val q = spark.readStream.format("spec").load(f.getPath)
      .select(col("scan"))
      .writeStream.format("memory").queryName("spec_badhdr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("spec_badhdr").collect().map(_.getLong(0)).toSet == Set(1L))
    } finally q.stop()
  }

  test("streaming (emitLast) equals batch on arbitrary line soup (parity fuzz)") {
    val rnd = new scala.util.Random(787878)
    val fragments = Seq(
      "#S ", "#S 1 ascan", "#D ", "#T abc", "#M ", "#G0 x y", "#Q 1 2",
      "#P0 ", "#P0 bad 1.0", "#L a  b", "#O0 m1  m2", "@A 1 2 \\",
      "3 4", "@A", "\\", "1.0 2.0", "not a number line", "#C comment",
      "", "   ", "#N 3", "0.5", "#unknownheader x")
    (0 until 5).foreach { trial =>
      val dir = Files.createTempDirectory(s"specsfuzz$trial").toFile
      val f = new java.io.File(dir, "fuzz.spec")
      val lines = (0 until 60).map(_ => fragments(rnd.nextInt(fragments.length)))
      val content = (lines.take(30) ++ Seq("#S 9 fuzzscan", "#L v", "1.25") ++
        lines.drop(30)).mkString("\n")
      Files.write(f.toPath, content.getBytes("UTF-8"))
      val batchRows = spark.read.format("spec").load(f.getPath)
        .select("scan", "point").collect().map(_.toString).sorted.toSeq
      val q = spark.readStream.format("spec").option("emitLast", "true").load(f.getPath)
        .select("scan", "point")
        .writeStream.format("memory").queryName(s"fuzz_par$trial")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamRows = spark.table(s"fuzz_par$trial")
          .collect().map(_.toString).sorted.toSeq
        assert(streamRows == batchRows, s"trial $trial")
      } finally q.stop()
    }
  }

  test("spec columns integrate with DataFrame ops (per-scan stats)") {
    val df = spark.read.format("spec").load(fixture)
    val stats = df.select(col("scan"), element_at(col("data"), "detector").as("det"))
      .groupBy("scan").agg(max("det").as("peak"))
      .orderBy("scan").collect()
    assert(stats(0).getDouble(1) == 55.0)
    assert(stats(1).getDouble(1) == 50.0)
  }

  test("COUNT(*)/MIN/MAX(scan) push down to the scan index: one agg row, no data read") {
    val df = spark.read.format("spec").load(fixture)
    // count(*): answered from the index's per-scan point counts
    val cq = df.groupBy().count()
    val cplan = cq.queryExecution.executedPlan.toString
    assert(cplan.contains("agg_count"), cplan)
    assert(cq.collect()(0).getLong(0) === 9L)
    // combined count/min/max over scan
    val mq = df.agg(count(lit(1)), min(col("scan")), max(col("scan")))
    val mplan = mq.queryExecution.executedPlan.toString
    assert(mplan.contains("agg_min_scan") && mplan.contains("agg_max_scan"), mplan)
    assert(mq.collect()(0).toSeq === Seq(9L, 1L, 2L))
    // MCA blocks (incl. backslash continuations) never count as points
    val dir = Files.createTempDirectory("specaggmca").toFile
    val f = new java.io.File(dir, "mca.spec")
    Files.write(f.toPath,
      """#F mca.spec
        |#O0 Theta
        |
        |#S 7 mcascan th 0 1 2 1
        |#P0 0.1
        |#L th  detector
        |@A 1 2 3 4 \
        |5 6 7 8 \
        |9 10
        |0.0 100
        |@A 11 12 13
        |1.0 200
        |""".stripMargin.getBytes("UTF-8"))
    val m = spark.read.format("spec").load(f.getPath)
      .agg(count(lit(1)), min(col("scan")), max(col("scan"))).collect()(0)
    assert(m.toSeq === Seq(2L, 7L, 7L))
    // duplicates=last: the agg path honors the keepLast dedup
    val dup = new java.io.File(dir, "dup.spec")
    Files.write(dup.toPath,
      """#S 3 ascan th 0 1 2 1
        |#L th  det
        |0.0 10
        |1.0 20
        |2.0 30
        |
        |#S 3 ascan th 0 1 2 1
        |#L th  det
        |0.0 40
        |1.0 50
        |""".stripMargin.getBytes("UTF-8"))
    val lastCnt = spark.read.format("spec").option("duplicates", "last")
      .load(dup.getPath).groupBy().count().collect()(0).getLong(0)
    assert(lastCnt === 2L)
    // a residual filter falls back to the row scan — same answer
    val filtered = df.filter(col("scan") === 2).count()
    assert(filtered === 3L)
  }

  test("packed plan: a multi-file corpus reads one partition per file, rows as per scan") {
    val dir = Files.createTempDirectory("specpack").toFile
    val layout = Seq(
      "a.spec" -> Seq((1, 3), (2, 5), (3, 1), (4, 4)),
      "b.spec" -> Seq((10, 2), (11, 6), (12, 3)),
      "c.spec" -> Seq((7, 4), (8, 2), (9, 5), (20, 1), (21, 3)))
    layout.zipWithIndex.foreach { case ((name, scans), tag) => specFile(dir, name, tag, scans) }
    def read = spark.read.format("spec").load(dir.getPath)
    assert(read.rdd.getNumPartitions == 3)
    packedEqualsPerScan(read, 12)
    val expect = layout.zipWithIndex.flatMap { case ((_, scans), tag) =>
      scans.zipWithIndex.flatMap { case ((no, n), k) =>
        (0 until n).map(p => (no.toLong, p.toLong, det(tag, k, p)))
      }
    }
    assert(points(read) == expect)
    // each block keeps its own #P under the file's #O names
    val th = read.select(col("scan"), element_at(col("motors"), "Theta")).distinct().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(th == layout.flatMap(_._2.map(_._1.toLong).zipWithIndex.map { case (no, k) => no -> (k + 0.5) }).toMap)
  }

  test("packed plan: duplicates=last seeks over the superseded block") {
    val dir = Files.createTempDirectory("specpackdup").toFile
    val scans = Seq((1, 3), (2, 4), (3, 2), (2, 5), (4, 3))
    val path = specFile(dir, "rerun.spec", 1, scans)
    def read = spark.read.format("spec").option("duplicates", "last").load(path)
    assert(read.rdd.getNumPartitions == 1)
    packedEqualsPerScan(read, 4)
    // blocks 0, 2, 3, 4 in file order: the first run of scan 2 is skipped
    val kept = Seq(0, 2, 3, 4)
    assert(points(read) == kept.flatMap { k =>
      (0 until scans(k)._2).map(p => (scans(k)._1.toLong, p.toLong, det(1, k, p)))
    })
    val bs = blocksOf(path)
    SpecIOMetrics.reset()
    read.collect()
    assert(SpecIOMetrics.total == kept.map(k => bs(k)._4 - bs(k)._3).sum)
  }

  test("packed plan: a scan IN filter with gaps reads its blocks in one partition") {
    val dir = Files.createTempDirectory("specpackin").toFile
    val scans = (1 to 8).map(no => (no, 1 + no % 4))
    val path = specFile(dir, "in.spec", 2, scans)
    def read = spark.read.format("spec").load(path).filter(col("scan").isin(2, 3, 6, 8))
    assert(read.rdd.getNumPartitions == 1)
    packedEqualsPerScan(read, 4)
    val kept = Seq(1, 2, 5, 7)
    assert(points(read) == kept.flatMap { k =>
      (0 until scans(k)._2).map(p => (scans(k)._1.toLong, p.toLong, det(2, k, p)))
    })
    val bs = blocksOf(path)
    SpecIOMetrics.reset()
    read.collect()
    assert(SpecIOMetrics.total == kept.map(k => bs(k)._4 - bs(k)._3).sum)
  }

  test("packed plan: a small maxPartitionBytes cuts a file into contiguous whole-scan runs") {
    val dir = Files.createTempDirectory("specpackcap").toFile
    val scans = (1 to 10).map(no => (no, 2 + no % 3))
    val path = specFile(dir, "cap.spec", 3, scans)
    val size = blocksOf(path).map(b => b._2 -> (b._4 - b._3)).toMap
    val cap = (1L to 3L).map(size).sum
    withConf("spark.sql.files.maxPartitionBytes" -> cap.toString) {
      def read = spark.read.format("spec").load(path)
      val byPart = read.select(spark_partition_id(), col("scan")).distinct().collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.map(_.getLong(1)).sorted.toSeq)
      assert(byPart.size == read.rdd.getNumPartitions && byPart.size >= 3)
      // every scan exactly once, in file order, each partition a contiguous run
      assert(byPart.flatten == (1L to 10L))
      assert(byPart.forall(run => run == (run.head to run.last)))
      // under the cap, and no run could take its successor's first scan
      assert(byPart.forall(run => run.size == 1 || run.map(size).sum <= cap))
      assert(byPart.sliding(2).forall { case Seq(a, b) => a.map(size).sum + size(b.head) > cap })
      assert(points(read) == scans.zipWithIndex.flatMap { case ((no, n), k) =>
        (0 until n).map(p => (no.toLong, p.toLong, det(3, k, p)))
      })
    }
    packedEqualsPerScan(spark.read.format("spec").load(path), 10)
  }

  test("packed plan: each partition opens its file once") {
    spark.conf.set("fs.countfs.impl", classOf[OpenCountingFileSystem].getName)
    val dir = Files.createTempDirectory("specpackopen").toFile
    specFile(dir, "a.spec", 4, (1 to 6).map((_, 3)))
    specFile(dir, "b.spec", 5, (1 to 6).map((_, 3)))
    val cap = blocksOf(dir.getPath).take(2).map(b => b._4 - b._3).sum
    def opensPerPartition(): (Long, Int) = {
      val df = spark.read.format("spec").load("countfs://" + dir.getPath)
      val n = df.rdd.getNumPartitions
      OpenCountingFileSystem.taskOpens.reset()
      assert(df.collect().length == 36)
      (OpenCountingFileSystem.taskOpens.sum, n)
    }
    assert(opensPerPartition() == ((2L, 2)))
    val (opens, parts) = withConf("spark.sql.files.maxPartitionBytes" -> cap.toString)(opensPerPartition())
    assert(parts > 2 && parts < 12 && opens == parts)
  }

  test("streaming: a micro-batch's completed scans of one file plan one partition") {
    val dir = Files.createTempDirectory("specpackstream").toFile
    val path = specFile(dir, "live.spec", 6, Seq((1, 2), (2, 3), (3, 4), (4, 2), (5, 3)))
    // scans 1-4 are complete; 5 may still be acquiring and waits
    val stream = new SpecMicroBatchStream(Seq(path),
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      SpecSchema.schema.fieldNames, emitLast = false)
    val parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
    assert(parts.length == 1)
    assert(parts.head.asInstanceOf[SpecInputPartition].blocks.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val q = spark.readStream.format("spec").load(path)
      .writeStream.format("memory").queryName("spec_packed").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(rowsOf(spark.table("spec_packed")) ==
        rowsOf(spark.read.format("spec").load(path).filter(col("scan") <= 4)))
    } finally q.stop()
  }
}
