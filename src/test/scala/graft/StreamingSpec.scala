package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Evt

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Offset from epoch 0 (a whole number of minutes, so window bounds
  // shift cleanly): an event at exactly the initial watermark (0) is
  // filtered as late by stateful operators (strict comparison).
  private def ts(sec: Long) = new Timestamp((1200 + sec) * 1000)

  test("windowed agg with watermark finalizes windows as watermark advances") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val agg = StreamingOps.windowedAgg(
      input.toDF().toDF("ts", "user", "value"),
      "ts", "user", "value", "1 minute", "10 seconds")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(5), 1L, 2.0), (ts(20), 1L, 3.0), (ts(30), 2L, 1.0))
      q.processAllAvailable()
      // watermark still below window end -> nothing finalized
      assert(spark.table("winagg").count() == 0)
      input.addData((ts(200), 1L, 9.0)) // watermark -> 190s, first window closes
      q.processAllAvailable()
      input.addData((ts(201), 2L, 1.0)) // nudge trigger with updated watermark
      q.processAllAvailable()
      val rows = spark.table("winagg").orderBy("win_start", "user").collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(rows(0).fieldIndex("n")) == 2L) // user 1: 2 events in [0,60)
      assert(rows(0).getDouble(rows(0).fieldIndex("total")) == 5.0)
      assert(rows(1).getLong(rows(1).fieldIndex("n")) == 1L) // user 2
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered content within the watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingOps.dedupStream(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text", "1 minute")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), 1L, "alpha"), (ts(1), 2L, "beta"), (ts(2), 3L, "alpha"))
      q.processAllAvailable()
      input.addData((ts(10), 4L, "beta"), (ts(11), 5L, "gamma"))
      q.processAllAvailable()
      val rows = spark.table("dedup").orderBy("doc_id").collect()
      // first arrival of each distinct text survives; re-deliveries drop
      assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L, 5L))
    } finally q.stop()
  }

  test("stream-stream interval join enriches within the time bound") {
    implicit val ctx = spark.sqlContext
    val readings = MemoryStream[(Timestamp, Long, Double)]
    val commands = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamingOps.intervalJoin(
      readings.toDF().toDF("ts", "user", "value").withWatermark("ts", "10 seconds"),
      commands.toDF().toDF("cts", "cuser", "cmd").withWatermark("cts", "10 seconds"),
      "user", "cuser", "ts", "cts", boundSeconds = 30)
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      commands.addData((ts(0), 1L, "start"), (ts(100), 1L, "stop"), (ts(5), 2L, "start"))
      readings.addData((ts(20), 1L, 7.0), (ts(50), 1L, 8.0), (ts(20), 3L, 9.0))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select("user", "value", "cmd").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      // reading(1, t=20) pairs with command(1, t=0) (within 30s);
      // reading(1, t=50) pairs with nothing (start is 50s stale, stop is future);
      // reading(3, ...) has no commands at all
      assert(rows == Set((1L, 7.0, "start")))
    } finally q.stop()
  }

  test("streaming as-of picks the MOST RECENT right event, not just any match") {
    implicit val ctx = spark.sqlContext
    val readings = MemoryStream[(Timestamp, Long, Long)] // (ts, event_id, user)
    val monitors = MemoryStream[(Timestamp, Long, Double)] // (mts, muser, mval)
    val out = StreamingOps.asOfStream(
      readings.toDF().toDF("ts", "event_id", "user").withWatermark("ts", "5 seconds"),
      monitors.toDF().toDF("mts", "muser", "mval").withWatermark("mts", "5 seconds"),
      "user", "muser", "ts", "mts", "event_id", "mval", boundSeconds = 60)
    val q = out.writeStream.format("memory").queryName("asof_live")
      .outputMode(OutputMode.Append()).start()
    try {
      // two monitor updates BEFORE the reading: as-of must take the newer
      monitors.addData((ts(0), 1L, 100.0), (ts(20), 1L, 200.0))
      readings.addData((ts(30), 7L, 1L))
      // user 2 has NO monitor events at all: batch as-of keeps the
      // event with a null payload, so the stream must too
      readings.addData((ts(31), 8L, 2L))
      // push watermarks far ahead so join state + aggregate finalize
      monitors.addData((ts(500), 9L, 0.0))
      readings.addData((ts(500), 99L, 9L))
      q.processAllAvailable()
      monitors.addData((ts(1000), 9L, 0.0))
      readings.addData((ts(1000), 98L, 9L))
      q.processAllAvailable()
      val rows = spark.table("asof_live")
        .select("event_id", "asof_mval").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(rows(7L).contains(200.0)) // latest-before, not first match
      assert(rows.contains(8L) && rows(8L).isEmpty,
        "unmatched left event must emit with null payload (left-outer as-of)")
    } finally q.stop()
  }

  test("streaming decontamination flags eval-overlapping docs, same as batch") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val evalDf = Seq("the quick brown fox jumps").toDF("text")
    val docs = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.contaminationStream(
      docs.toDF().toDF("ts", "doc_id", "text"),
      evalDf, "ts", "doc_id", "text", col("text"), k = 3,
      windowDur = "1 minute", watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("contam_live")
      .outputMode(OutputMode.Append()).start()
    try {
      docs.addData(
        (ts(0), 1L, "the quick brown fox sleeps"), // shares "the quick brown", "quick brown fox"
        (ts(1), 2L, "completely different words entirely here"),
        (ts(2), 3L, "brown fox jumps high today")) // shares "brown fox jumps"
      docs.addData((ts(400), 99L, "watermark push x y z")) // close the window
      q.processAllAvailable()
      val rows = spark.table("contam_live")
        .select("doc_id", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows.keySet == Set(1L, 3L)) // doc 2 never flagged
      assert(rows(1L) == 2L && rows(3L) == 1L)
      // batch operator agrees on the same inputs
      val batch = graft.operators.Dedup.contamination(
          Seq((1L, "the quick brown fox sleeps"),
            (2L, "completely different words entirely here"),
            (3L, "brown fox jumps high today")).toDF("doc_id", "text"),
          evalDf, col("doc_id"), col("text"), k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(batch == rows)
    } finally q.stop()
  }

  test("sessionization closes sessions on gap and on event-time timeout") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Evt]
    val sessions = StreamingOps.sessionize(
      input.toDS().withWatermark("ts", "10 seconds").as[Evt], gapMs = 30000)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Evt(1, ts(0), 1.0), Evt(1, ts(10), 2.0))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // session still open
      input.addData(Evt(1, ts(100), 5.0)) // in-stream gap closes first session
      q.processAllAvailable()
      val afterGap = spark.table("sessions").collect()
      assert(afterGap.length == 1)
      assert(afterGap(0).getLong(afterGap(0).fieldIndex("startMs")) == 1200000L)
      assert(afterGap(0).getLong(afterGap(0).fieldIndex("endMs")) == 1210000L)
      assert(afterGap(0).getLong(afterGap(0).fieldIndex("n")) == 2L)
      // advance watermark far past last+gap -> timeout closes session 2
      input.addData(Evt(2, ts(500), 1.0))
      q.processAllAvailable()
      input.addData(Evt(2, ts(501), 1.0))
      q.processAllAvailable()
      val all = spark.table("sessions").orderBy("startMs").collect()
      assert(all.length == 2)
      assert(all(1).getLong(all(1).fieldIndex("startMs")) == 1300000L)
      assert(all(1).getDouble(all(1).fieldIndex("total")) == 5.0)
    } finally q.stop()
  }

  test("streaming corpus curation: quality filter + exact dedup compose end-to-end") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    // the batch text operators are plain column expressions, so they
    // drop into a streaming plan unchanged
    val w = graft.operators.TextOps.tokens(col("text"))
    val curated = StreamingOps.dedupStream(
      docs.withColumn("n_words", size(w))
        .withColumn("n_distinct", size(array_distinct(w)))
        .filter(col("n_words") >= 5 && col("n_distinct") * 2 >= col("n_words")),
      "ts", "text", "10 seconds")
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append()).start()
    try {
      val good = "a quick brown fox jumps over the lazy dog"
      input.addData(
        (ts(1), 1L, good),
        (ts(2), 2L, "spam spam spam spam spam spam"), // low diversity -> dropped
        (ts(3), 3L, "too short"),                     // < 5 words -> dropped
        (ts(4), 4L, good))                            // exact dup -> deduped
      q.processAllAvailable()
      val kept = spark.table("curated").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L), s"expected only doc 1, got $kept")
    } finally q.stop()
  }

  test("benford monitor: digit counts accumulate, deviations exact") {
    import StreamingOps.{BenfordPoint, BenfordOut}
    implicit val ctx = spark.sqlContext
    val exp = (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)
    val input = MemoryStream[BenfordPoint]
    val mon = StreamingOps.benfordStream(input.toDS())
    val q = mon.writeStream.format("memory").queryName("benmon")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: digits 1,1,9 (19 -> 1, 123 -> 1, 900 -> 9); 0 ignored
      input.addData(BenfordPoint(ts(1), 7L, 19L), BenfordPoint(ts(2), 7L, 123L),
        BenfordPoint(ts(3), 7L, 900L), BenfordPoint(ts(4), 7L, 0L))
      q.processAllAvailable()
      // batch 2 (state carries): digit 2 -> counts 2,1,0,...,1 over n=4
      input.addData(BenfordPoint(ts(5), 7L, 25L))
      q.processAllAvailable()
      val rows = spark.table("benmon").as[BenfordOut].collect()
        .map(o => o.n -> o).toMap
      val c1 = Array(2L, 0, 0, 0, 0, 0, 0, 0, 1)
      val d1 = c1.zipWithIndex.map { case (c, i) => math.abs(c * 1000000L / 3 - exp(i)) }
      assert(rows(3L).l1_ppm == d1.sum && rows(3L).max_dev_ppm == d1.max &&
        rows(3L).top_digit == 1)
      val c2 = Array(2L, 1, 0, 0, 0, 0, 0, 0, 1)
      val d2 = c2.zipWithIndex.map { case (c, i) => math.abs(c * 1000000L / 4 - exp(i)) }
      assert(rows(4L).l1_ppm == d2.sum && rows(4L).max_dev_ppm == d2.max &&
        rows(4L).top_digit == 1)
    } finally q.stop()
  }

  test("hhi monitor: concentration updates across batches, state carries counts") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamingOps.HhiDoc]
    val mon = StreamingOps.hhiStream(input.toDS(), windowSec = 60L)
    val q = mon.writeStream.format("memory").queryName("hhimon")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: balanced 2-source mix -> HHI = 2 * 500000^2
      input.addData(StreamingOps.HhiDoc(ts(1), "a"), StreamingOps.HhiDoc(ts(2), "b"))
      q.processAllAvailable()
      // batch 2 (same window): two more 'a' docs -> 3/4 vs 1/4
      input.addData(StreamingOps.HhiDoc(ts(3), "a"), StreamingOps.HhiDoc(ts(4), "a"))
      q.processAllAvailable()
      val rows = spark.table("hhimon").collect()
        .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("hhi_ppm2"),
          r.getAs[Long]("top1_ppm")))
      assert(rows.contains((2L, 2L * 500000L * 500000L, 500000L)), s"got ${rows.toSeq}")
      assert(rows.contains((4L, 750000L * 750000L + 250000L * 250000L, 750000L)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("var-exception monitor: per-window exception rate and Kupiec term") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val mon = StreamingOps.varExceptionStream(
      input.toDF().toDF("ts", "v"), "ts", "v",
      varThreshold = 100L, pExpected = 0.25, "1 minute", "10 seconds")
    val q = mon.writeStream.format("memory").queryName("varmon")
      .outputMode(OutputMode.Append()).start()
    try {
      // window 1: 1 of 4 readings exceeds 100 -> rate 250000 ppm, LR = 0
      input.addData((ts(1), 50L), (ts(2), 150L), (ts(3), 80L), (ts(4), 99L))
      q.processAllAvailable()
      input.addData((ts(200), 1L)) // advance watermark
      q.processAllAvailable()
      val r = spark.table("varmon").collect()
        .filter(_.getAs[Timestamp]("win_start").getTime == (1200 + 0) * 1000L)
      assert(r.length == 1)
      assert(r.head.getAs[Long]("exception_rate_ppm") == 250000L)
      assert(math.abs(r.head.getAs[Double]("lr_pof")) < 1e-9,
        s"LR should be 0 at the expected rate, got ${r.head.getAs[Double]("lr_pof")}")
    } finally q.stop()
  }

  test("uplift monitor: exact ppm rate delta per window, empty arm yields null") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val up = StreamingOps.upliftStream(
      input.toDF().toDF("ts", "user", "etype"), "ts", "user", "etype",
      "purchase", "1 minute", "10 seconds")
    val q = up.writeStream.format("memory").queryName("upliftmon")
      .outputMode(OutputMode.Append()).start()
    try {
      // window 1: treated (odd users) 2/4 convert, control 1/4
      input.addData(
        (ts(1), 1L, "purchase"), (ts(2), 1L, "view"),
        (ts(3), 3L, "purchase"), (ts(4), 3L, "view"),
        (ts(5), 2L, "purchase"), (ts(6), 2L, "view"),
        (ts(7), 4L, "view"), (ts(8), 4L, "view"))
      q.processAllAvailable()
      // window 2: control-only traffic -> uplift NULL
      input.addData((ts(70), 2L, "view"))
      q.processAllAvailable()
      input.addData((ts(200), 6L, "view")) // advance watermark, finalize
      q.processAllAvailable()
      val rows = spark.table("upliftmon").collect()
        .map(r => r.getAs[Timestamp]("win_start").getTime ->
          Option(r.getAs[java.lang.Long]("uplift_ppm"))).toMap
      assert(rows((1200 + 0) * 1000L).contains(250000L), s"got $rows") // 500000-250000
      assert(rows((1200 + 60) * 1000L).isEmpty, s"got $rows")
    } finally q.stop()
  }

  test("novel-token monitor: first arrivals counted once, repeats suppressed across batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val novel = StreamingOps.novelTokenStream(
      input.toDF().toDF("ts", "text"), "ts", "text", "1 minute", "10 seconds")
    val q = novel.writeStream.format("memory").queryName("novelmon")
      .outputMode(OutputMode.Append()).start()
    try {
      // window 1 (ts 1..30): 4 distinct words; "beam scan" repeats in
      // a later batch of the SAME window and must not recount
      input.addData((ts(1), "beam scan detector beam"))
      q.processAllAvailable()
      input.addData((ts(20), "beam scan motor"))
      q.processAllAvailable()
      // window 2: one genuinely new word + two already-seen ones;
      // watermark-advance batch finalizes both windows
      input.addData((ts(70), "beam scan shutter"))
      q.processAllAvailable()
      input.addData((ts(200), "flux"))
      q.processAllAvailable()
      val rows = spark.table("novelmon").collect()
        .map(r => r.getAs[Timestamp]("win_start").getTime -> r.getAs[Long]("n_novel"))
        .toMap
      val w1 = (1200 + 0) * 1000L
      val w2 = (1200 + 60) * 1000L
      assert(rows.get(w1).contains(4L), s"window1: $rows") // beam scan detector motor
      assert(rows.get(w2).contains(1L), s"window2: $rows") // shutter only
    } finally q.stop()
  }

  test("streaming moore-lewis filter: literal-model scores match batch bit-for-bit") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Curation
    // batch-train the two unigram models on tiny corpora
    val inDomain = Seq("physics beam detector scan", "beam scan physics")
      .toDF("text").select(explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
    val general = Seq("the cat sat on the mat", "physics of the mat", "cat cat mat")
      .toDF("text").select(explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
    val (lpIn, oovInDf) = Curation.unigramModel(inDomain, topV = Some(100))
    val (lpGen, oovGenDf) = Curation.unigramModel(general, topV = Some(100))
    val (mIn, oovIn) = Curation.collectModel(lpIn, oovInDf)
    val (mGen, oovGen) = Curation.collectModel(lpGen, oovGenDf)
    val docs = Seq(
      (1L, "beam scan detector physics"), // in-domain -> selected
      (2L, "the cat sat on the mat"),     // general -> rejected
      (3L, "physics mat"))                // mixed
      .toDF("doc_id", "text")
    // batch reference: the same expression over a batch relation
    val batch = docs.select(col("doc_id"), Curation.mlScoreExpr(
        col("text"), mIn, oovIn, mGen, oovGen).as("ml_micro"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch(1L) > 0 && batch(2L) < 0, s"fixture not separating: $batch")
    val input = MemoryStream[(Long, String)]
    val filtered = StreamingOps.mooreLewisStream(
      input.toDF().toDF("doc_id", "text"), "text", mIn, oovIn, mGen, oovGen, 0L)
    val q = filtered.writeStream.format("memory").queryName("mlsel")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "beam scan detector physics"),
        (2L, "the cat sat on the mat"), (3L, "physics mat"))
      q.processAllAvailable()
      val live = spark.table("mlsel").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ml_micro")).toMap
      // stream==batch on every survivor, and only positive scores pass
      assert(live.keySet == batch.filter(_._2 > 0L).keySet)
      live.foreach { case (id, s) => assert(s == batch(id), s"doc $id: $s != ${batch(id)}") }
    } finally q.stop()
  }

  test("grid3dStream accumulates per-cell stats and finalizes on watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double, Double, Double, Double)]
    val grid = StreamingOps.grid3dStream(
      input.toDF().toDF("ts", "qx", "qy", "qz", "i"),
      "ts", col("qx"), col("qy"), col("qz"), col("i"),
      sx = 1.0, sy = 1.0, sz = 1.0,
      windowDur = "1 minute", watermarkDelay = "10 seconds")
    val q = grid.writeStream.format("memory").queryName("livegrid")
      .outputMode(OutputMode.Append()).start()
    try {
      // two points in cell (0,0,0), one in (1,0,0), same window
      input.addData(
        (ts(1), 0.2, 0.3, 0.4, 10.0),
        (ts(2), 0.8, 0.1, 0.9, 30.0),
        (ts(3), 1.5, 0.5, 0.5, 7.0))
      q.processAllAvailable()
      assert(spark.table("livegrid").count() == 0) // window still open
      input.addData((ts(200), 5.0, 5.0, 5.0, 1.0)) // advance watermark
      q.processAllAvailable()
      input.addData((ts(201), 5.0, 5.0, 5.0, 1.0))
      q.processAllAvailable()
      val cells = spark.table("livegrid")
        .select("gx", "gy", "gz", "n", "w_sum", "w_mean").collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          (r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
      assert(cells((0L, 0L, 0L)) == ((2L, 40.0, 20.0)))
      assert(cells((1L, 0L, 0L)) == ((1L, 7.0, 7.0)))
    } finally q.stop()
  }

  test("fitPeaksStream fits a closed scan to the generating gaussian") {
    implicit val ctx = spark.sqlContext
    import StreamingOps.ScanPoint
    // y = 2 + 10*exp(-(x-10)^2 / (2*2^2)) sampled at x = 0..20
    val pts = (0 to 20).map { i =>
      ScanPoint(7L, ts(i), i.toDouble,
        2.0 + 10.0 * math.exp(-(i - 10.0) * (i - 10.0) / 8.0))
    }
    val input = MemoryStream[ScanPoint]
    val fits = StreamingOps.fitPeaksStream(
      input.toDS().withWatermark("ts", "5 seconds").as[ScanPoint], gapMs = 30000)
    val q = fits.toDF().writeStream.format("memory").queryName("scanfits")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(pts: _*)
      q.processAllAvailable()
      assert(spark.table("scanfits").count() == 0) // scan still open
      // advance the watermark far past last + gap -> timeout closes it
      input.addData(ScanPoint(8L, ts(500), 0.0, 0.0))
      q.processAllAvailable()
      input.addData(ScanPoint(8L, ts(501), 0.0, 0.0))
      q.processAllAvailable()
      val r = spark.table("scanfits").filter(col("user") === 7L).collect()
      assert(r.length == 1)
      val row = r.head
      assert(row.getLong(row.fieldIndex("n")) == 21L)
      assert(math.abs(row.getDouble(row.fieldIndex("com")) - 10.0) < 0.01)
      assert(math.abs(row.getDouble(row.fieldIndex("sigma")) - 2.0) < 0.01)
      assert(math.abs(row.getDouble(row.fieldIndex("height")) - 10.0) < 0.05)
      assert(math.abs(row.getDouble(row.fieldIndex("bg")) - 2.0) < 0.05)
      // parity: identical points through the batch fitter agree
      val batch = graft.operators.GaussFit.fitArrays(7L,
        pts.map(_.x).toArray, pts.map(_.y).toArray)
      assert(math.abs(batch.com - row.getDouble(row.fieldIndex("com"))) < 1e-12)
      assert(math.abs(batch.sigma - row.getDouble(row.fieldIndex("sigma"))) < 1e-12)
    } finally q.stop()
  }

  test("nearDupStream flags later docs sharing LSH bands with an earlier doc") {
    implicit val ctx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while counting many tokens"
    // "reading" picked so the two docs agree on 5 of the 8 signature
    // components, two whole bands among them, under the deterministic
    // md5-seeded permutations (checked against the kernel's
    // arithmetic) — the test is not at the mercy of LSH collision
    // probability
    val nearDup = base.replace("counting", "reading")
    val unrelated = "completely different content about spark structured streaming state stores"
    val input = MemoryStream[(Timestamp, Long, String)]
    val hits = StreamingOps.nearDupStream(
      input.toDF().toDF("ts", "doc_id", "text"),
      "ts", "doc_id", "text", k = 3, numPerms = 8, bands = 4,
      watermarkDelay = "10 seconds", ttlMs = 60000L)
    val q = hits.toDF().writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), 1L, base))
      q.processAllAvailable()
      input.addData((ts(5), 2L, nearDup), (ts(6), 3L, unrelated))
      q.processAllAvailable()
      val dupOf = spark.table("neardup")
        .select("docId", "dupOf").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dupOf.contains((2L, 1L)), s"near-dup 2 should hit 1, got $dupOf")
      assert(!dupOf.exists(_._1 == 3L), s"unrelated doc 3 flagged: $dupOf")
      // batch parity: the same docs through the batch detector agree
      val batchPairs = graft.operators.Dedup.minhashPairs(
          Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text"),
          col("doc_id"), col("text"), k = 3, numPerms = 8, bands = 4, minMatch = 4)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs.contains((1L, 2L)))
      assert(!batchPairs.exists(p => p._1 == 3L || p._2 == 3L))
    } finally q.stop()
  }

  test("streaming quality scoring equals batch scores and filters below-threshold docs") {
    implicit val ctx = spark.sqlContext
    import graft.operators.QualityClassifier
    // Train on a small labeled corpus, then deploy the model both as
    // a batch select and over a MemoryStream; scores must be equal
    // (the expression is stateless and shared verbatim).
    val train = Seq(
      (1L, "good clean data good clean data", "en"),
      (2L, "good clean data good clean", "en"),
      (3L, "junk noisy text junk noisy text", "de"),
      (4L, "junk noisy text junk noisy", "de"))
      .toDF("doc_id", "text", "lang")
    val feat = QualityClassifier.features(train, col("lang") === "en", 64)
    val w = QualityClassifier.train(feat, 64, iters = 6, lr = 0.5)

    val live = Seq((10L, "good clean data good"), (11L, "junk noisy text junk"))
    val batchScores = live.toDF("doc_id", "text")
      .withColumn("s", QualityClassifier.scoreExpr(col("text"), w, 64))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batchScores(10L) > 0L && batchScores(11L) < 0L)

    val input = MemoryStream[(Long, String)]
    val scored = StreamingOps.qualityScoreStream(
      input.toDF().toDF("doc_id", "text"), "text", w,
      buckets = 64, thresholdMicro = 0L)
    val q = scored.writeStream.format("memory").queryName("qscore")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(live: _*)
      q.processAllAvailable()
      val rows = spark.table("qscore").collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) ->
          r.getLong(r.fieldIndex("score_micro"))).toMap
      assert(rows.keySet === Set(10L)) // below-threshold doc filtered
      assert(rows(10L) === batchScores(10L)) // stream == batch
    } finally q.stop()
  }

  test("streaming heavy hitters: hot terms survive across batches with bounded state") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.heavyHittersStream(
      input.toDF().toDF("ts", "term"), "ts", "term", groups = 4, sketchSize = 8)
    val q = out.writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((1 to 30).map(i => (ts(i), "hot")) ++
        (1 to 10).map(i => (ts(i), s"noise$i")): _*)
      q.processAllAvailable()
      input.addData((1 to 20).map(i => (ts(30 + i), "hot")) ++
        (1 to 15).map(i => (ts(30 + i), "warm")) ++
        (1 to 10).map(i => (ts(30 + i), s"late$i")): _*)
      q.processAllAvailable()
      // latest emission per (grp, term): MemoryStream Update sink appends;
      // take the max lower bound seen per term
      val rows = spark.table("hh").collect()
        .map(r => (r.getString(1), r.getLong(2))).groupBy(_._1).view
        .mapValues(_.map(_._2).max)
      // 'hot' total = 50 across two batches: the sketch must carry it over
      assert(rows("hot") >= 30L, s"hot lower bound ${rows.get("hot")}")
      assert(rows.contains("warm"))
      // state stayed bounded: no group can emit more than sketchSize terms
      val lastPerGroup = spark.table("hh").collect()
        .map(r => (r.getInt(0), r.getLong(3), r.getString(1)))
        .groupBy(_._1).view.mapValues(g => { val mx = g.map(_._2).max; g.filter(_._2 == mx).map(_._3).distinct.size })
      assert(lastPerGroup.values.forall(_ <= 8))
    } finally q.stop()
  }

  test("page-hinkley: stable stream stays quiet, mean shift alarms across batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamingOps.PhPoint]
    // δ = 0.5 units, λ = 30 units (micro-scaled)
    val out = StreamingOps.pageHinkleyStream(input.toDS(), 500000L, 30000000L)
    val q = out.writeStream.format("memory").queryName("phmon")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: stable around 100 — PH must stay below λ
      input.addData((1 to 40).map(i =>
        StreamingOps.PhPoint(1L, ts(i), 100L + (i % 3) - 1)): _*)
      q.processAllAvailable()
      val stable = spark.table("phmon").collect()
      assert(stable.forall(!_.getAs[Boolean]("alarmed")), "stable stream alarmed")
      // batch 2: level shifts to 200 — the cumulative deviation crosses λ
      // (state must carry the pre-shift mean across the batch boundary)
      input.addData((41 to 80).map(i =>
        StreamingOps.PhPoint(1L, ts(i), 200L)): _*)
      q.processAllAvailable()
      val all = spark.table("phmon").collect()
      assert(all.exists(_.getAs[Boolean]("alarmed")), "shift not detected")
      // PH is nondecreasing through the pure-shift run's tail
      val tailPh = all.sortBy(_.getAs[Timestamp]("ts").getTime)
        .takeRight(10).map(_.getAs[Long]("ph_micro"))
      assert(tailPh.sliding(2).forall(p => p(1) >= p(0)))
    } finally q.stop()
  }

  test("streaming decay features: exact at half-life spacing, state carries across batches") {
    implicit val ctx = spark.sqlContext
    val H = 21600L
    val input = MemoryStream[StreamingOps.DecayPoint]
    val out = StreamingOps.decayStream(input.toDS(), H)
    val q = out.writeStream.format("memory").queryName("decaymon")
      .outputMode(OutputMode.Update()).start()
    try {
      // events exactly one half-life apart: incremental decay telescopes
      // exactly (floor(floor(x/2)/2) == floor(x/4)), so the running
      // totals equal the batch gate's single-step weights bit-for-bit
      input.addData(
        StreamingOps.DecayPoint(1L, ts(0), 100L),
        StreamingOps.DecayPoint(1L, new Timestamp(ts(0).getTime + H * 1000), 100L))
      q.processAllAvailable()
      // third event arrives in a LATER micro-batch — state must carry
      input.addData(
        StreamingOps.DecayPoint(1L, new Timestamp(ts(0).getTime + 2 * H * 1000), 100L))
      q.processAllAvailable()
      val rows = spark.table("decaymon").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getLong(2), r.getLong(3))).sortBy(_._2)
      assert(rows.length === 3)
      assert(rows(0)._3 === 1000000L)
      assert(rows(1)._3 === 1500000L) // 1e6>>1 + 1e6
      assert(rows(2)._3 === 1750000L) // 1e6>>2 + 1e6>>1 + 1e6 — batch parity
      assert(rows(2)._4 === 100L * 1750000L)
    } finally q.stop()
  }

  test("streaming itemset monitor: hot pair survives across batches, bounded per-group state") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Seq[String])]
    val out = StreamingOps.itemsetStream(
      input.toDF().toDF("ts", "items"), "ts", "items", groups = 4, sketchSize = 8)
    val q = out.writeStream.format("memory").queryName("itemmon")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: {a,b} co-occur 12×; duplicate items inside a basket
      // must collapse (array_distinct) so {d,d,e} yields only (d,e)
      input.addData(
        (1 to 12).map(i => (ts(i), Seq("a", "b", s"x$i"))) :+
          ((ts(20), Seq("d", "d", "e"))): _*)
      q.processAllAvailable()
      // batch 2: 8 more {a,b} plus noise — the sketch must carry over
      input.addData(
        (1 to 8).map(i => (ts(30 + i), Seq("b", "a"))) ++
          (1 to 6).map(i => (ts(40 + i), Seq(s"n$i", s"m$i"))): _*)
      q.processAllAvailable()
      val rows = spark.table("itemmon").collect()
        .map(r => (r.getString(1), r.getLong(2))).groupBy(_._1).view
        .mapValues(_.map(_._2).max)
      // (a,b) total = 20 across batches — canonical u<v ordering means
      // the {b,a} basket lands on the SAME pair key
      assert(rows("a|b") >= 12L, s"a|b lower bound ${rows.get("a|b")}")
      assert(rows.contains("d|e") && !rows.keySet.exists(_ == "d|d"),
        "in-basket duplicates must not form a pair")
      // bounded state: at the latest emission no group exceeds sketchSize
      val lastPerGroup = spark.table("itemmon").collect()
        .map(r => (r.getInt(0), r.getLong(3), r.getString(1)))
        .groupBy(_._1).view.mapValues(g => {
          val mx = g.map(_._2).max
          g.filter(_._2 == mx).map(_._3).distinct.size
        })
      assert(lastPerGroup.values.forall(_ <= 8))
    } finally q.stop()
  }

  test("streaming SRM monitor flags a skewed window, matches the batch formula") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = StreamingOps.srmStream(
      input.toDF().toDF("ts", "user"), "ts", "user", "1 minute", "10 seconds")
    val q = df.writeStream.format("memory").queryName("srmmon")
      .outputMode(OutputMode.Append()).start()
    try {
      // minute 0: balanced — users 1..8 (4 even, 4 odd), duplicates of
      // user 2 must collapse; minute 1: skewed — 10 even users, 1 odd.
      val m0 = (1L to 8L).map(u => (ts(u), u)) :+ ((ts(30), 2L))
      val m1 = (0L until 10L).map(i => (ts(70 + i), 100L + 2 * i)) :+ ((ts(85), 7L))
      input.addData(m0 ++ m1: _*)
      q.processAllAvailable()
      input.addData((ts(400), 999L)) // advance watermark past both windows
      q.processAllAvailable()
      input.addData((ts(401), 999L))
      q.processAllAvailable()
      val rows = spark.table("srmmon").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
      // minute 0 (win_start 1200): 4 even vs 4 odd -> chi2 = 0, no flag
      assert(rows(1200L) == ((4L, 4L, 0L, false)), s"rows = $rows")
      // minute 1 (1260): 10 even vs 1 odd -> chi2 = 81e6 // 11 = 7363636
      assert(rows(1260L) == ((10L, 1L, 7363636L, true)), s"rows = $rows")
      // batch parity: the same closed form over the same distinct users
      val batchChi2 = graft.operators.Exact.floorDivBig(
        (lit(10L) - 1L).cast("decimal(38,0)") * (lit(10L) - 1L) * lit(1000000L),
        (lit(10L) + 1L).cast("decimal(38,0)")).cast("long")
      assert(spark.range(1).select(batchChi2).head.getLong(0) == 7363636L)
    } finally q.stop()
  }

  test("streaming rolling actives counts distinct users per sliding window exactly") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = StreamingOps.rollingActivesStream(
      input.toDF().toDF("ts", "user"),
      "ts", "user", "2 minutes", "1 minute", "10 seconds")
    val q = df.writeStream.format("memory").queryName("ractives")
      .outputMode(OutputMode.Append()).start()
    try {
      // minute bucket of ts(0) = 1200 s: windows slide on the minute.
      // user 1 active twice in minute 0 (dedup must collapse), user 2
      // once in minute 0, user 3 in minute 1.
      input.addData((ts(5), 1L), (ts(10), 1L), (ts(20), 2L), (ts(70), 3L))
      q.processAllAvailable()
      input.addData((ts(400), 9L)) // advance watermark past both windows
      q.processAllAvailable()
      input.addData((ts(401), 9L))
      q.processAllAvailable()
      val rows = spark.table("ractives").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1))).toMap
      // window [19:00, 21:00) (starting one slide before minute 0) holds
      // users {1, 2}; [20:00, 22:00) holds {1, 2, 3}; [21:00, 23:00) = {3}
      assert(rows(1140L) == 2L, s"rows = $rows")
      assert(rows(1200L) == 3L, s"rows = $rows")
      assert(rows(1260L) == 1L, s"rows = $rows")
    } finally q.stop()
  }

  test("streaming z-score flags a spike against its trailing window, state bounded") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{ZFlag, ZPoint}
    val input = MemoryStream[(Timestamp, Long, Long)]
    val flags = StreamingOps.zscoreStream(
      input.toDF().toDF("ts", "user", "x")
        .select(col("user"), col("ts"), col("x")).as[ZPoint], window = 8)
    val q = flags.writeStream.format("memory").queryName("zflags")
      .outputMode(OutputMode.Update()).start()
    try {
      // 6 steady readings then a spike, same scan
      input.addData((0 until 6).map(i => (ts(i * 10), 1L, 500L + i % 2)): _*)
      q.processAllAvailable()
      input.addData((ts(70), 1L, 50000L)) // the spike
      input.addData((ts(80), 1L, 501L))   // back to normal
      q.processAllAvailable()
      val rows = spark.table("zflags").as[ZFlag].collect().sortBy(_.ts.getTime)
      assert(rows.length === 8)
      // warm-up readings unflagged, spike flagged
      assert(!rows.take(6).exists(_.flagged))
      val spike = rows.find(_.x == 50000L).get
      assert(spike.flagged, s"spike must flag: $spike")
      assert(spike.n_win === 6)
      // the post-spike normal reading: window now contains the spike,
      // variance explodes, so it must NOT flag
      assert(!rows.last.flagged)
      // state bound: n_win never exceeds the ring size
      assert(rows.forall(_.n_win <= 8))
    } finally q.stop()
  }

  test("streaming cusum matches the batch closed form across batch boundaries") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{CuFlag, CuPoint}
    val input = MemoryStream[(Timestamp, Long, Long)]
    val target = 150L
    val flags = StreamingOps.cusumStream(
      input.toDF().toDF("ts", "user", "x")
        .select(col("user"), col("ts"), col("x")).as[CuPoint],
      target = target, threshold = 500L)
    val q = flags.writeStream.format("memory").queryName("cuflags")
      .outputMode(OutputMode.Update()).start()
    try {
      val xs = Seq(100L, 300L, 50L, 50L, 400L, 10L, 10L, 900L)
      // split across two micro-batches: state must carry over
      input.addData(xs.take(4).zipWithIndex.map { case (x, i) => (ts(i * 10), 1L, x) }: _*)
      q.processAllAvailable()
      input.addData(xs.drop(4).zipWithIndex.map { case (x, i) => (ts((i + 4) * 10), 1L, x) }: _*)
      q.processAllAvailable()
      val rows = spark.table("cuflags").as[CuFlag].collect().sortBy(_.ts.getTime)
      val expected = xs.scanLeft(0L)((s, x) => math.max(0L, s + x - target)).tail
      assert(rows.map(_.cusum).toSeq === expected)
      // the final spike crosses the threshold, nothing before it does
      assert(rows.last.alarm && !rows.init.exists(_.alarm))
    } finally q.stop()
  }

  test("cusum idle-evict: a dead key's state drops and the chart restarts on return") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{CuFlag, CuPoint, IdleEvict}
    val input = MemoryStream[(Timestamp, Long, Long)]
    val flags = StreamingOps.cusumStream(
      input.toDF().toDF("ts", "user", "x")
        .select(col("user"), col("ts"), col("x")).as[CuPoint],
      target = 150L, threshold = 500L,
      idleEvict = Some(IdleEvict("10 seconds", idleMs = 60000L)))
    val q = flags.writeStream.format("memory").queryName("cuevict")
      .outputMode(OutputMode.Update()).start()
    try {
      // user 1 reads once (chart 250), then goes silent
      input.addData((ts(0), 1L, 400L))
      q.processAllAvailable()
      // user 2 advances the event-time watermark far past user 1's
      // 60 s idle horizon...
      input.addData((ts(300), 2L, 150L))
      q.processAllAvailable()
      // ...and the next batch fires user 1's timeout (timeouts are
      // evaluated against the watermark set by the PREVIOUS batch)
      input.addData((ts(310), 2L, 150L))
      q.processAllAvailable()
      // user 1 returns: an evicted chart restarts at 250, a carried
      // one would read 500 (and alarm)
      input.addData((ts(320), 1L, 400L))
      q.processAllAvailable()
      val u1 = spark.table("cuevict").as[CuFlag].collect()
        .filter(_.user == 1L).sortBy(_.ts.getTime)
      assert(u1.map(_.cusum).toSeq === Seq(250L, 250L))
      assert(!u1.exists(_.alarm))
    } finally q.stop()
  }

  test("kalman idle-evict: evicted key re-initializes; un-evicted default is unchanged") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{KEst, KPoint, IdleEvict}
    val input = MemoryStream[(Timestamp, Long, Double)]
    val est = StreamingOps.kalmanStream(
      input.toDF().toDF("ts", "user", "y")
        .select(col("user"), col("ts"), col("y")).as[KPoint],
      q = 0.5, r = 2.0,
      idleEvict = Some(IdleEvict("10 seconds", idleMs = 60000L)))
    val q2 = est.writeStream.format("memory").queryName("kalevict")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((ts(0), 1L, 10.0))
      q2.processAllAvailable()
      input.addData((ts(300), 2L, 0.0))
      q2.processAllAvailable()
      input.addData((ts(310), 2L, 0.0))
      q2.processAllAvailable()
      input.addData((ts(320), 1L, 50.0))
      q2.processAllAvailable()
      val u1 = spark.table("kalevict").as[KEst].collect()
        .filter(_.user == 1L).sortBy(_.ts.getTime)
      // first reading of a FRESH state pins level = y, gain = 1 —
      // the re-initialization signature (a carried state would blend)
      assert(u1.map(_.level).toSeq === Seq(10.0, 50.0))
      assert(u1.forall(_.gain === 1.0))
    } finally q2.stop()
  }

  test("idle-evict contract: every IdleEvict monitor drops a silent key, keeps a live one") {
    implicit val ctx = spark.sqlContext
    import StreamingOps._
    // input rows (ts, key, v); v = 100 opens a key, v = 400 returns to it.
    // Each case maps them onto the monitor's input and names the output
    // key column and the columns that reveal the key's carried state.
    final case class Monitor(name: String, keyCol: String, sigCols: Seq[String],
                             run: (org.apache.spark.sql.DataFrame, Option[IdleEvict]) =>
                               org.apache.spark.sql.DataFrame,
                             mode: OutputMode = OutputMode.Update())
    val etype = when(col("v") === 100L, "view").otherwise("purchase")
    val monitors = Seq(
      Monitor("zscore", "user", Seq("n_win"), (df, e) => zscoreStream(
        df.select(col("key").as("user"), col("ts"), col("v").as("x")).as[ZPoint], 8, e).toDF()),
      Monitor("page-hinkley", "key", Seq("ph_micro"), (df, e) => pageHinkleyStream(
        df.select(col("key"), col("ts"), col("v").as("x")).as[PhPoint], 0L, 1000000000000L, e)
        .toDF()),
      Monitor("decay", "key", Seq("decayed_n_micro"), (df, e) => decayStream(
        df.select(col("key"), col("ts"), col("v")).as[DecayPoint], 3600L, e).toDF()),
      Monitor("cusum", "user", Seq("cusum"), (df, e) => cusumStream(
        df.select(col("key").as("user"), col("ts"), col("v").as("x")).as[CuPoint],
        0L, 1000000L, e).toDF()),
      Monitor("hodges-lehmann", "user", Seq("nSeen", "nRes"), (df, e) => hlStream(
        df.select(col("key").as("user"), col("ts"), col("v").as("x")).as[HlPoint], 32, e).toDF()),
      Monitor("kalman", "user", Seq("level", "gain"), (df, e) => kalmanStream(
        df.select(col("key").as("user"), col("ts"), col("v").cast("double").as("y")).as[KPoint],
        0.5, 2.0, e).toDF()),
      Monitor("pattern", "user", Seq("gapUs"), (df, e) => patternStream(
        df.select(col("key").as("user"), col("ts"), etype.as("etype")).as[CepEvt],
        "view", "purchase", 1000L * 1000000L, e).toDF(), OutputMode.Append()),
      Monitor("attribution", "user", Seq("touchType"), (df, e) => attributionStream(
        df.select(col("key").as("user"), col("ts"), (col("key") * 1000L + col("v")).as("eventId"),
          etype.as("eventType"), lit(0L).as("cents")).as[TouchEvt],
        1000L * 1000000L, e).toDF()),
      Monitor("benford", "key", Seq("n"), (df, e) => benfordStream(
        df.select(col("ts"), col("key"), col("v")).as[BenfordPoint], e).toDF()))
    // qteStream is left out: its state sits under one global key, so no
    // other key can advance the watermark while it stays silent.
    monitors.foreach { m =>
      val input = MemoryStream[(Timestamp, Long, Long)]
      val out = m.run(input.toDF().toDF("ts", "key", "v"),
        Some(IdleEvict("10 seconds", idleMs = 60000L)))
      val name = "evict_" + m.name.replace("-", "_")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(m.mode).start()
      try {
        input.addData((ts(0), 1L, 100L))    // key 1 reads once, then goes silent
        q.processAllAvailable()
        input.addData((ts(280), 3L, 100L), (ts(300), 2L, 100L)) // key 3 stays inside 60 s
        q.processAllAvailable()
        input.addData((ts(310), 2L, 100L))  // the watermark passes key 1's horizon
        q.processAllAvailable()
        val before = spark.table(name).count().toInt
        // keys 1 and 3 return; key 4 is new and shows a fresh state's output
        input.addData((ts(320), 1L, 400L), (ts(320), 3L, 400L), (ts(320), 4L, 400L))
        q.processAllAvailable()
        val last = spark.table(name).collect().drop(before)
        def sig(key: Long): Seq[String] = last
          .filter(r => r.getAs[Long](m.keyCol) == key)
          .map(r => m.sigCols.map(c => String.valueOf(r.getAs[Any](c))).mkString(",")).toSeq.sorted
        assert(sig(1L) == sig(4L), s"${m.name}: evicted key 1 must restart from scratch")
        assert(sig(3L) != sig(4L), s"${m.name}: key 3 inside the horizon must keep its state")
      } finally q.stop()
    }
  }

  test("monitors reject out-of-range parameters when built") {
    implicit val ctx = spark.sqlContext
    import StreamingOps._
    val docs = MemoryStream[(Timestamp, Long, String)].toDF().toDF("ts", "doc_id", "text")
    val builds: Seq[(String, () => Any)] = Seq(
      "decayStream halflifeSec = 0" ->
        (() => decayStream(MemoryStream[DecayPoint].toDS(), halflifeSec = 0L)),
      "zscoreStream window = 0" -> (() => zscoreStream(MemoryStream[ZPoint].toDS(), window = 0)),
      "nearDupStream ttlMs = 0" -> (() => nearDupStream(docs, "ts", "doc_id", "text",
        k = 3, numPerms = 8, bands = 4, watermarkDelay = "10 seconds", ttlMs = 0L)),
      "sessionize gapMs = 0" -> (() => sessionize(MemoryStream[Evt].toDS(), gapMs = 0L)),
      "fitPeaksStream gapMs = 0" ->
        (() => fitPeaksStream(MemoryStream[ScanPoint].toDS(), gapMs = 0L)))
    builds.foreach { case (name, build) =>
      withClue(name) { intercept[IllegalArgumentException](build()) }
    }
  }

  test("streaming drift monitor: on-reference windows score near 0, shifted ones alarm") {
    implicit val ctx = spark.sqlContext
    val buckets = 16
    // reference = the uniform distribution over the 4 base words' buckets
    val words = Seq("alpha", "beta", "gamma", "delta")
    val md = (w: String) => {
      val d = java.security.MessageDigest.getInstance("MD5").digest(w.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16) % buckets
    }
    val refPpm = Array.fill(buckets)(0L)
    words.foreach(w => refPpm(md(w).toInt) += 250000L)
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.driftStream(input.toDF().toDF("ts", "text"),
      "ts", "text", buckets, refPpm, "1 minute", "0 seconds")
    val q = out.writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Append()).start()
    try {
      // window 1: exactly the reference mix; window 2: disjoint vocabulary
      input.addData((1 to 25).flatMap(i => words.map(w => (ts(i), w))): _*)
      input.addData((1 to 100).map(i => (ts(120 + i % 30), s"drifted$i")): _*)
      // a third window far ahead closes the first two past the watermark
      input.addData((1 to 4).map(i => (ts(400 + i), "alpha")): _*)
      q.processAllAvailable()
      val rows = spark.table("drift").collect()
        .map(r => r.getTimestamp(0).getTime -> r.getDouble(2)).toMap
      assert(rows.size >= 2)
      val sorted = rows.toSeq.sortBy(_._1).map(_._2)
      assert(sorted.head < 20.0, s"on-reference window jsd_milli ${sorted.head}")
      assert(sorted(1) > 200.0, s"drifted window jsd_milli ${sorted(1)}")
    } finally q.stop()
  }

  test("streaming CEP: A-then-B within window matches across batch boundaries") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{CepEvt, CepMatch}
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.patternStream(
      input.toDF().toDF("ts", "user", "etype")
        .select(col("user"), col("ts"), col("etype")).as[CepEvt],
      typeA = "view", typeB = "purchase", withinUs = 60L * 1000000)
    val q = out.writeStream.format("memory").queryName("cep")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: A at t=10; B at t=30 (match, gap 20s); B at t=200 (expired)
      input.addData((ts(10), 1L, "view"), (ts(30), 1L, "purchase"),
        (ts(200), 1L, "purchase"))
      q.processAllAvailable()
      // batch 2: A carried in state from... new A at 300, B at 320 across
      // batches; user 2's B without any A never matches
      input.addData((ts(300), 1L, "view"))
      q.processAllAvailable()
      input.addData((ts(320), 1L, "purchase"), (ts(321), 2L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("cep").as[CepMatch].collect().sortBy(_.tsB.getTime)
      assert(rows.length === 2, s"matches: ${rows.mkString(", ")}")
      assert(rows(0).gapUs === 20L * 1000000)
      assert(rows(1).gapUs === 20L * 1000000)
      assert(rows.forall(_.user === 1L))
    } finally q.stop()
  }

  test("streaming kalman matches the batch recursion across batch boundaries") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{KEst, KPoint}
    val input = MemoryStream[(Timestamp, Long, Double)]
    val est = StreamingOps.kalmanStream(
      input.toDF().toDF("ts", "user", "y")
        .select(col("user"), col("ts"), col("y")).as[KPoint],
      q = 25.0, r = 400.0)
    val q = est.writeStream.format("memory").queryName("kest")
      .outputMode(OutputMode.Update()).start()
    try {
      val ys = Seq(10.0, 30.0, 20.0, 80.0, 40.0, 35.0)
      input.addData(ys.take(3).zipWithIndex.map { case (y, i) => (ts(i * 10), 1L, y) }: _*)
      q.processAllAvailable()
      input.addData(ys.drop(3).zipWithIndex.map { case (y, i) => (ts((i + 3) * 10), 1L, y) }: _*)
      q.processAllAvailable()
      val rows = spark.table("kest").as[KEst].collect().sortBy(_.ts.getTime)
      // batch reference through the identical recursion
      val batch = {
        val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toDouble, y) }
          .toDF("g", "x", "y")
        graft.operators.WindowOps.kalman(df, "g", "x", "y", q = 25.0, r = 400.0)
          .orderBy("x").select("level").as[Double].collect()
      }
      assert(rows.length === ys.length)
      rows.map(_.level).zip(batch).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"stream $a != batch $b")
      }
    } finally q.stop()
  }

  test("streaming ohlc finalizes a bar matching the batch struct-ordered semantics") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long, Long)] // ts, user, tie, cents
    val bars = StreamingOps.ohlcStream(
      input.toDF().toDF("ts", "user", "tie", "c"),
      "ts", "user", "tie", "c", windowDur = "1 minute", watermarkDelay = "0 seconds")
    val q = bars.writeStream.format("memory").queryName("ohlc_bars")
      .outputMode(OutputMode.Append()).start()
    try {
      // one minute of readings: open 50, high 90, low 10, close 70
      input.addData(
        (ts(0), 1L, 0L, 50L), (ts(10), 1L, 1L, 90L),
        (ts(20), 1L, 2L, 10L), (ts(50), 1L, 3L, 70L))
      q.processAllAvailable()
      input.addData((ts(200), 1L, 4L, 999L)) // advances the watermark
      q.processAllAvailable()
      val rows = spark.table("ohlc_bars")
        .select("n", "open", "high", "low", "close")
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(rows.toSeq === Seq((4L, 50L, 90L, 10L, 70L)))
    } finally q.stop()
  }

  test("streaming quantile monitor emits sane per-window percentiles") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long)]
    val mons = StreamingOps.quantileStream(
      input.toDF().toDF("ts", "svc", "lat"),
      "ts", "svc", "lat", windowDur = "1 minute", watermarkDelay = "0 seconds")
    val q = mons.writeStream.format("memory").queryName("lat_mons")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L to 50L).map(i => (ts(i), 7L, i * 10L)): _*)
      q.processAllAvailable()
      input.addData((ts(200), 7L, 1L))
      q.processAllAvailable()
      val rows = spark.table("lat_mons").select("n", "p50", "p90", "p99")
        .as[(Long, Long, Long, Long)].collect()
      assert(rows.length === 1)
      val (n, p50, p90, p99) = rows.head
      assert(n === 50)
      assert(p50 >= 240 && p50 <= 260, s"p50 = $p50")
      assert(p90 >= 440 && p90 <= 460, s"p90 = $p90")
      assert(p99 >= 480 && p99 <= 500, s"p99 = $p99")
      assert(p50 <= p90 && p90 <= p99)
    } finally q.stop()
  }

  test("streaming attribution credits the carried touch across batch boundaries") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{Credit, TouchEvt}
    val input = MemoryStream[(Timestamp, Long, Long, String, Long)]
    val credits = StreamingOps.attributionStream(
      input.toDF().toDF("ts", "user", "eventId", "eventType", "cents")
        .select(col("user"), col("ts"), col("eventId"), col("eventType"), col("cents"))
        .as[TouchEvt],
      lookbackUs = 7L * 86400L * 1000000L)
    val q = credits.writeStream.format("memory").queryName("credits")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: user 1 clicks then views; user 2 purchases cold
      input.addData(
        (ts(10), 1L, 1L, "click", 0L), (ts(20), 1L, 2L, "view", 0L),
        (ts(5), 2L, 3L, "purchase", 2000L))
      q.processAllAvailable()
      // batch 2: user 1 purchases — the VIEW (latest touch) must be
      // carried over from the previous micro-batch's state
      input.addData((ts(30), 1L, 4L, "purchase", 1000L))
      q.processAllAvailable()
      // batch 3: a stale touch (8 days later) credits 'none'
      input.addData((ts(30 + 8 * 86400), 1L, 5L, "purchase", 500L))
      q.processAllAvailable()
      val rows = spark.table("credits").as[Credit].collect()
        .map(c => c.purchaseId -> c.touchType).toMap
      assert(rows === Map(3L -> "none", 4L -> "view", 5L -> "none"))
    } finally q.stop()
  }

  test("rank-churn monitor: day-close RBO vs previous day's top-k") {
    import StreamingOps.{ChurnEvent, ChurnOut}
    implicit val ctx = spark.sqlContext
    def dayTs(day: Long, sec: Long) = new Timestamp((day * 86400L + sec) * 1000L)
    val input = MemoryStream[ChurnEvent]
    val mon = StreamingOps.rankChurnStream(input.toDS(), k = 3)
    val q = mon.writeStream.format("memory").queryName("churnmon")
      .outputMode(OutputMode.Update()).start()
    try {
      // day 1 top-3 = (1, 2, 3); day 2 top-3 = (1, 3, 4):
      //   A1 = |{1}∩{1}| = 1, A2 = |{1,3}∩{1,2}| = 1, A3 = |{1,3,4}∩{1,2,3}| = 2
      //   rbo = 1·1e6//10 + 9e6//200 + 2·81e6//3000 = 100000+45000+54000 = 199000
      input.addData(
        ChurnEvent(dayTs(1, 10), 1L, 30L), ChurnEvent(dayTs(1, 20), 2L, 20L),
        ChurnEvent(dayTs(1, 30), 3L, 10L))
      q.processAllAvailable()
      // split across micro-batches: day-2 spend arrives in two pieces
      // (state must carry partial sums), then a day-3 event closes day 2
      input.addData(
        ChurnEvent(dayTs(2, 10), 1L, 15L), ChurnEvent(dayTs(2, 20), 3L, 20L))
      q.processAllAvailable()
      input.addData(
        ChurnEvent(dayTs(2, 30), 1L, 15L), ChurnEvent(dayTs(2, 40), 4L, 10L),
        ChurnEvent(dayTs(3, 5), 9L, 1L))
      q.processAllAvailable()
      val rows = spark.table("churnmon").as[ChurnOut].collect()
      assert(rows.length == 1, s"got ${rows.toSeq}") // day 1 has no predecessor
      assert(rows.head.day == 2L && rows.head.n_top == 3L &&
        rows.head.rbo_ppm == 199000L, s"got ${rows.head}")
    } finally q.stop()
  }

  test("streaming Hodges-Lehmann: exact HL under cap, fixture-pinned") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{HlOut, HlPoint}
    val input = MemoryStream[(Timestamp, Long, Long)]
    val out = StreamingOps.hlStream(
      input.toDF().toDF("ts", "user", "x")
        .select(col("user"), col("ts"), col("x")).as[HlPoint], cap = 32)
    val q = out.writeStream.format("memory").queryName("hlmon")
      .outputMode(OutputMode.Update()).start()
    try {
      // [1, 3, 5]: doubled Walsh sums [2,4,6,6,8,10], lower median
      // rank (6+1)/2 = 3 -> hl2 = 6, hl = 3 — split across batches,
      // the reservoir must carry over
      input.addData((ts(0), 7L, 1L), (ts(10), 7L, 3L))
      q.processAllAvailable()
      input.addData((ts(20), 7L, 5L))
      q.processAllAvailable()
      val rows = spark.table("hlmon").as[HlOut].collect().sortBy(_.ts.getTime)
      assert(rows.length === 3)
      assert(rows.last.nSeen === 3L && rows.last.nRes === 3L)
      assert(rows.last.hl2Cents === 6L && rows.last.hlCents === 3L, s"${rows.last}")
    } finally q.stop()
  }

  test("streaming Hodges-Lehmann: capped reservoir is batch-split-independent") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{HlOut, HlPoint}
    val pts = (0 until 20).map(i => (ts(i * 10), 5L, (i * 37 % 11).toLong))
    def finalEstimate(splitAt: Int, name: String): HlOut = {
      val input = MemoryStream[(Timestamp, Long, Long)]
      val out = StreamingOps.hlStream(
        input.toDF().toDF("ts", "user", "x")
          .select(col("user"), col("ts"), col("x")).as[HlPoint], cap = 8)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(pts.take(splitAt): _*)
        q.processAllAvailable()
        input.addData(pts.drop(splitAt): _*)
        q.processAllAvailable()
        spark.table(name).as[HlOut].collect().maxBy(_.ts.getTime)
      } finally q.stop()
    }
    val a = finalEstimate(3, "hlsplit_a")
    val b = finalEstimate(15, "hlsplit_b")
    assert(a.nRes === 8L && a.nSeen === 20L)
    // bottom-k by fixed priority is merge-associative: identical final
    // reservoir and estimate whatever the micro-batch boundaries
    assert(a.hl2Cents === b.hl2Cents && a.hlCents === b.hlCents,
      s"split-dependent: $a vs $b")
  }

  test("streaming QTE: under-cap quantile differences are exact; carries across batches") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{QteOut, QtePoint}
    val input = MemoryStream[(Timestamp, Long, Long)]
    val out = StreamingOps.qteStream(
      input.toDF().toDF("ts", "user", "cents")
        .select(col("user"), col("ts"), col("cents")).as[QtePoint], cap = 32)
    val q = out.writeStream.format("memory").queryName("qtemon")
      .outputMode(OutputMode.Update()).start()
    try {
      // treated (odd users): [100, 300, 500]; control (even): [90, 200]
      // ceil-rank quantiles: t25=100 t50=300 t75=500; c25=90 c50=90
      // (rk=(2*50+99)//100=1) c75=200
      input.addData((ts(0), 1L, 100L), (ts(10), 2L, 90L))
      q.processAllAvailable()
      input.addData((ts(20), 3L, 300L), (ts(30), 4L, 200L), (ts(40), 5L, 500L))
      q.processAllAvailable()
      val rows = spark.table("qtemon").as[QteOut].collect().sortBy(_.ts.getTime)
      // first point emits nothing (control side empty until point 2)
      assert(rows.length === 4)
      val last = rows.last
      assert(last.nSeenTreated === 3L && last.nSeenControl === 2L)
      assert(last.qte25Cents === 10L, s"$last")  // 100 - 90
      assert(last.qte50Cents === 210L, s"$last") // 300 - 90
      assert(last.qte75Cents === 300L, s"$last") // 500 - 200
    } finally q.stop()
  }

  test("streaming QTE: capped reservoirs are batch-split-independent") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{QteOut, QtePoint}
    val pts = (0 until 24).map(i => (ts(i * 10), i.toLong, (i * 53 % 17 * 10).toLong))
    def lastOut(splitAt: Int, name: String): QteOut = {
      val input = MemoryStream[(Timestamp, Long, Long)]
      val out = StreamingOps.qteStream(
        input.toDF().toDF("ts", "user", "cents")
          .select(col("user"), col("ts"), col("cents")).as[QtePoint], cap = 6)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(pts.take(splitAt): _*)
        q.processAllAvailable()
        input.addData(pts.drop(splitAt): _*)
        q.processAllAvailable()
        spark.table(name).as[QteOut].collect().maxBy(_.ts.getTime)
      } finally q.stop()
    }
    val a = lastOut(5, "qtesplit_a")
    val b = lastOut(17, "qtesplit_b")
    assert(a.nResTreated === 6L && a.nResControl === 6L)
    assert(a.qte25Cents === b.qte25Cents && a.qte50Cents === b.qte50Cents &&
      a.qte75Cents === b.qte75Cents, s"split-dependent: $a vs $b")
  }

  test("streaming QTE: per-partition pre-reduce keeps exact counts + reservoir (r12)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StreamingOps.{QteOut, QtePoint}
    val pts = (0 until 30).map(i =>
      (ts(i * 10), i.toLong, ((i * 71) % 23 * 10 + 10).toLong))
    val input = MemoryStream[(Timestamp, Long, Long)]
    val ds = input.toDF().toDF("ts", "user", "cents")
      .select(col("user"), col("ts"), col("cents")).as[QtePoint]
      .repartition(1) // one over-cap partition: cap=3 forces real drops
    val out = StreamingOps.qteStream(ds, cap = 3)
    val q = out.writeStream.format("memory").queryName("qtepre")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(pts: _*)
      q.processAllAvailable()
      val rows = spark.table("qtepre").as[QteOut].collect()
      // over-cap batches emit once per SURVIVING candidate (≤ 2·cap),
      // not per raw point — the pre-reduce path is actually engaged
      assert(rows.nonEmpty && rows.length <= 6, s"${rows.length} emissions")
      val last = rows.maxBy(_.ts.getTime)
      // drop counters keep nSeen exact: 15 odd users, 15 even
      assert(last.nSeenTreated === 15L && last.nSeenControl === 15L)
      assert(last.nResTreated === 3L && last.nResControl === 3L)
      // final reservoir = bottom-cap by the fixed md5 priority per arm
      // over ALL raw points — exactly what the unreduced loop retains
      def prio(user: Long, tsMs: Long, c: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(s"qte:$user:$tsMs:$c".getBytes("UTF-8"))
        java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16)
      }
      def quant(vals: Seq[Long], qq: Long): Long =
        vals(((vals.length * qq + 99) / 100 - 1).toInt)
      def res(arm: Long): Seq[Long] = pts.filter(_._2 % 2 == arm)
        .map(p => (prio(p._2, p._1.getTime, p._3), p._1.getTime, p._3))
        .sorted.take(3).map(_._3).sorted
      val (tv, cv) = (res(1L), res(0L))
      assert(last.qte25Cents === quant(tv, 25) - quant(cv, 25), s"$last")
      assert(last.qte50Cents === quant(tv, 50) - quant(cv, 50), s"$last")
      assert(last.qte75Cents === quant(tv, 75) - quant(cv, 75), s"$last")
    } finally q.stop()
  }
}
