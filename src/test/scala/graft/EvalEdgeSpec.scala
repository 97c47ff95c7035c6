package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.queries.EvalQueries

/** Edge-case pins for the classifier-evaluation / statistical-testing
  * gates (SURVEY.md §2 #207–#212). Same discipline as StatsEdgeSpec:
  * each pin writes a tiny synthetic table directory with a closed-form
  * expected answer and runs the REAL gate against it.
  */
class EvalEdgeSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, Long)]): String = {
    val dir = Files.createTempDirectory("graft_eval_fix").toString
    rows.toDF("doc_id", "text", "lang", "n_chars")
      .withColumn("source", lit("s0"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("confusion matrix: balanced fixture splits 1/1/1/1 at the mean threshold") {
    // mean n_chars = 24/4 = 6; predicted positive = {10s}, label = en
    val dir = docsDir(Seq(
      (1L, "a", "en", 10L), (2L, "b", "de", 10L),
      (3L, "c", "en", 2L), (4L, "d", "de", 2L)))
    val r = EvalQueries.qConfusion.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("threshold") === 6L)
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"),
      r.getAs[Long]("tn")) === ((1L, 1L, 1L, 1L)))
    assert(r.getAs[Long]("precision_ppm") === 500000L)
    assert(r.getAs[Long]("recall_ppm") === 500000L)
    assert(r.getAs[Long]("f1_ppm") === 500000L)
    assert(r.getAs[Long]("accuracy_ppm") === 500000L)
  }

  test("brier score: closed-form two-doc fixture") {
    // mx = 10: p = {900000, 0}, y = {1, 0} → sq = (1e5)^2 = 1e10
    // brier_ppm = 1e10 // (2·1e6) = 5000
    val dir = docsDir(Seq((1L, "a", "en", 9L), (2L, "b", "de", 0L)))
    val r = EvalQueries.qBrier.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n") === 2L)
    assert(r.getAs[Long]("mean_p_ppm") === 450000L)
    assert(r.getAs[Long]("base_rate_ppm") === 500000L)
    assert(r.getAs[Long]("brier_ppm") === 5000L)
  }

  test("ECE: perfectly calibrated bucket contributes zero gap") {
    // mx = 6. n_chars=3 → p=500000, bucket 5, one en of two → gap 0.
    // n_chars=5 → p=833333, bucket 8, one en of two → gap 666666.
    // ece = 666666 // 4 = 166666; worst bucket gap = 666666 // 2 = 333333.
    val dir = docsDir(Seq(
      (1L, "a", "en", 3L), (2L, "b", "de", 3L),
      (3L, "c", "en", 5L), (4L, "d", "de", 5L)))
    val r = EvalQueries.qEce.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_buckets") === 2L)
    assert(r.getAs[Long]("ece_ppm") === 166666L)
    assert(r.getAs[Long]("max_gap_ppm") === 333333L)
  }

  test("Cohen's kappa: perfect agreement → 1.0, total disagreement → -1.0") {
    // means: mc = 6, mt = 2 (tokens: 4 and 1)
    val agree = docsDir(Seq((1L, "w w w w", "en", 10L), (2L, "w", "en", 2L)))
    val ra = EvalQueries.qCohenKappa.run(spark, agree).collect()(0)
    assert(ra.getAs[Double]("kappa") === 1.0)
    assert(ra.getAs[Long]("po_ppm") === 1000000L)
    val disagree = docsDir(Seq((1L, "w", "en", 10L), (2L, "w w w w", "en", 2L)))
    val rd = EvalQueries.qCohenKappa.run(spark, disagree).collect()(0)
    assert(rd.getAs[Double]("kappa") === -1.0)
    assert(rd.getAs[Long]("po_ppm") === 0L)
  }

  test("ANOVA: two-cohort closed form (SSB=40000, SSW=10000, F=8)") {
    // g0 = {1.00, 2.00}, g1 = {3.00, 4.00} (all 'view')
    val dir = eventsDir(Seq(
      (1L, 0L, "view", 1.00), (2L, 0L, "view", 2.00),
      (3L, 1L, "view", 3.00), (4L, 1L, "view", 4.00)))
    val r = EvalQueries.qAnova.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("k") === 2L)
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("ssb_cents2") === 40000L)
    assert(r.getAs[Long]("ssw_cents2") === 10000L)
    assert(r.getAs[Long]("f_ppm") === 8000000L)
  }

  test("ANOVA: zero within-group variance → NULL F, not a crash") {
    val dir = eventsDir(Seq(
      (1L, 0L, "view", 1.00), (2L, 0L, "view", 1.00),
      (3L, 1L, "view", 3.00), (4L, 1L, "view", 3.00)))
    val r = EvalQueries.qAnova.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("ssw_cents2") === 0L)
    assert(r.isNullAt(r.fieldIndex("f_ppm")))
  }

  test("Mann-Whitney: fully separated samples hit max U, z = 1.5492") {
    // clicks {3.00, 4.00} above views {1.00, 2.00}: R1 = 7,
    // 2·U1 = 2·R1 − n1(n1+1) = 8; z = 4 / (2·sqrt(5/3)) → 1.5492
    val dir = eventsDir(Seq(
      (1L, 0L, "click", 3.00), (2L, 0L, "click", 4.00),
      (3L, 0L, "view", 1.00), (4L, 0L, "view", 2.00)))
    val r = EvalQueries.qMannWhitney.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n1") === 2L)
    assert(r.getAs[Long]("n2") === 2L)
    assert(r.getAs[Long]("u1_x2") === 8L)
    assert(r.getAs[Double]("z_approx") === 1.5492)
  }

  test("Mann-Whitney: all-tied samples give U = n1·n2/2 exactly") {
    // every value identical: midranks make R1 = n1·(n+1)/2 → 2U = n1·n2
    val dir = eventsDir(Seq(
      (1L, 0L, "click", 5.00), (2L, 0L, "click", 5.00),
      (3L, 0L, "view", 5.00), (4L, 0L, "view", 5.00)))
    val r = EvalQueries.qMannWhitney.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("u1_x2") === 4L) // 2·U1 = n1·n2 = 4
    // variance degenerates to 0 → z undefined, guarded to NULL
    assert(r.isNullAt(r.fieldIndex("z_approx")))
  }

  test("Zipf fit: an exact 1/r frequency profile recovers slope -1") {
    // word r repeated 24/r times: counts 24, 12, 8, 6 over ranks 1..4
    val words = (1 to 4).flatMap(r => Seq.fill(24 / r)(s"w$r"))
    val dir = docsDir(Seq((1L, words.mkString(" "), "en", 10L)))
    val r = graft.queries.CurationQueries.qZipfFit.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_words") === 4L)
    val slope = r.getAs[Double]("zipf_slope")
    assert(math.abs(slope + 1.0) < 0.01, s"slope $slope")
  }

  test("Min-K%: the k lowest-probability tokens bound the mean NLL from above") {
    // 10-token docs → k = 2; 'rare'/'rarer' appear once vs 'a' × many,
    // so the min-k mean must exceed the full-doc mean NLL
    val dir = docsDir(Seq(
      (1L, "a a a a a a a a rare rarer", "en", 10L),
      (2L, "a a a a a a a a a a", "en", 10L)))
    val rows = graft.queries.CurationQueries.qMinkPct.run(spark, dir).collect()
    val ppl = graft.queries.CurationQueries.qLmPerplexity.run(spark, dir).collect()
    val mink = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val avg = ppl.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("nll_micro") / r.getAs[Long]("n_tokens"))).toMap
    assert(mink(1L).getAs[Long]("k") === 2L)
    assert(mink(1L).getAs[Long]("mink_nll_micro") > avg(1L))
    // uniform doc: every token has the same NLL → min-k mean == doc mean
    assert(math.abs(mink(2L).getAs[Long]("mink_nll_micro") - avg(2L)) <= 1L)
  }

  test("attribution: prior click credited, stale or missing touch → none") {
    // user 1: click at t=1, purchase at t=2 → 'click'
    // user 2: purchase at t=3, no prior → 'none'
    // user 3: view at t=4, purchase 8 days later → stale → 'none'
    val dir = eventsDir(Seq(
      (1L, 1L, "click", 1.00), (2L, 1L, "purchase", 10.00),
      (3L, 2L, "purchase", 20.00),
      (4L, 3L, "view", 1.00), (5L, 3L, "purchase", 40.00)))
    // make event 5 land 8 days after event 4: re-write with explicit ts
    val dir2 = Files.createTempDirectory("graft_eval_fix").toString
    Seq((1L, 1L, "click", 1.00, 1L), (2L, 1L, "purchase", 10.00, 2L),
        (3L, 2L, "purchase", 20.00, 3L),
        (4L, 3L, "view", 1.00, 4L), (5L, 3L, "purchase", 40.00, 4L + 8L * 86400L))
      .toDF("event_id", "user_id", "event_type", "value", "off")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val out = graft.queries.AnalysisQueries.qAttribution.run(spark, dir2).collect()
      .map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_conversions"), r.getAs[Long]("attributed_cents"))).toMap
    assert(out("click") === ((1L, 1000L)))
    assert(out("none") === ((2L, 6000L)))
    assert(!out.contains("view"))
    assert(dir.nonEmpty) // silence unused warning for the first fixture
  }

  test("changepoint: a clean level shift is localized exactly with its gain") {
    // 10 hours at 1.00 then 10 hours at 5.00 (one 'view' per hour):
    // split at grid 9, means 100/500 cents,
    // gain = n1·n2/n·(m1−m2)² = 100/20·400² = 800000 cents²
    val rows = (0L until 20L).map { h =>
      (h + 1, 0L, "view", if (h < 10) 1.00 else 5.00, h * 3600L + 30L)
    }
    val dir = Files.createTempDirectory("graft_eval_fix").toString
    rows.toDF("event_id", "user_id", "event_type", "value", "off")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.StatsQueries.qChangepoint.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n1") === 10L)
    assert(r.getAs[Long]("mean1_cents") === 100L)
    assert(r.getAs[Long]("mean2_cents") === 500L)
    assert(r.getAs[Long]("gain_cents2") === 800000L)
  }

  test("seasonal decomposition: a flat series has zero seasonal deltas") {
    val rows = (0L until 48L).map(h => (h + 1, 0L, "view", 2.00, h * 3600L + 30L))
    val dir = Files.createTempDirectory("graft_eval_fix").toString
    rows.toDF("event_id", "user_id", "event_type", "value", "off")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rs = graft.queries.StatsQueries.qSeasonal.run(spark, dir).collect()
    assert(rs.length === 24)
    assert(rs.forall(_.getAs[Long]("seasonal_delta_cents") === 0L))
    assert(rs.forall(_.getAs[Long]("n_hours") === 2L))
  }

  test("boilerplate filter: prose segment survives, function-word-free segment dropped") {
    // segment 1: 2/8 function words (250000 ppm ≥ 1/8) → keep
    // segment 2: 0/8 → drop
    val text = "a b the c d e f g" + " " + "s t u v w x y z"
    val dir = docsDir(Seq((1L, text, "en", 10L)))
    val r = graft.queries.CurationQueries.qBoilerplate.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_segs") === 2L)
    assert(r.getAs[Long]("n_kept") === 1L)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("a b the c d e f g".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(r.getAs[String]("new_md5") === expected)
  }

  test("DTW: stretch-aligned series at zero distance, band clamp, sentinels") {
    import graft.operators.Dtw
    // identical
    assert(Dtw.distance(Array(1L, 2L, 3L), Array(1L, 2L, 3L), 2) === 0L)
    // a time-stretched copy still aligns at zero cost (the point of DTW)
    assert(Dtw.distance(Array(0L, 0L, 100L), Array(0L, 100L, 100L), 2) === 0L)
    assert(Dtw.distance(Array(10L, 20L, 20L, 30L), Array(10L, 20L, 30L, 30L), 3) === 0L)
    // singletons: plain |a−b|
    assert(Dtw.distance(Array(100L), Array(40L), 1) === 60L)
    // band narrower than the length gap is clamped so a path exists
    assert(Dtw.distance(Array(5L, 5L, 5L, 5L, 5L), Array(5L), 0) === 0L)
    // empty series → sentinel, not a crash
    assert(Dtw.distance(Array.empty[Long], Array(1L), 3) === -1L)
  }

  test("mutual information: a deterministic dependence hits exactly ln 10") {
    // value cents == k, k uniform over 0..99 → deciles coincide:
    // MI = ln 10 = 2.302585 (micro-ln floored) exactly
    val rows = (0L until 1000L).map { i =>
      val k = i % 100
      (i + 1, 0L, "view", k / 100.0, s"""{"k": $k}""")
    }
    val dir = Files.createTempDirectory("graft_eval_fix").toString
    rows.toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("event_id")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.StatsQueries.qMutualInfo.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_cells") === 10L)
    assert(r.getAs[Double]("mi") === 2.302585)
  }

  test("learning-curve subsets are nested and k-folds partition the corpus") {
    val dir = "/root/testdata/sf0.001"
    val lc = graft.queries.TextQueries.qLearningCurve.run(spark, dir).collect()
      .map(r => r.getAs[Long]("pct") -> r.getAs[Long]("n_docs")).toMap
    assert(lc(10L) <= lc(25L) && lc(25L) <= lc(50L) && lc(50L) <= lc(100L))
    val folds = graft.queries.TextQueries.qKfold.run(spark, dir).collect()
    assert(folds.map(_.getAs[Long]("n_docs")).sum === lc(100L))
    assert(folds.length === 5)
  }

  test("Theil-Sen recovers the exact slope of a clean linear series") {
    // y = 200·grid cents, 6 hours → every pairwise slope is 200
    val rows = (0L until 6L).map(h => (h + 1, 0L, "view", 2.00 * h, h * 3600L + 30L))
    val dir = Files.createTempDirectory("graft_eval_fix").toString
    rows.toDF("event_id", "user_id", "event_type", "value", "off")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.StatsQueries.qTheilSen.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_pairs") === 15L)
    assert(r.getAs[Double]("slope_cents_per_hour") === 200.0)
  }

  test("negative-sampling weight of a 16-count word is exactly 8e6 micro") {
    // 16^0.75 = 8 exactly: sqrt(16·sqrt(16)) = sqrt(64)
    val words = Seq.fill(16)("common") ++ Seq("rare")
    val dir = docsDir(Seq((1L, words.mkString(" "), "en", 10L)))
    val rows = graft.queries.CurationQueries.qNegativeSampling.run(spark, dir).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("weight_micro")).toMap
    assert(rows("common") === 8000000L)
    assert(rows("rare") === 1000000L)
  }

  test("quantile normalization: a single-source corpus maps every value to itself") {
    val dir = docsDir(Seq((1L, "a", "en", 5L), (2L, "b", "en", 9L),
      (3L, "c", "en", 9L), (4L, "d", "en", 20L)))
    val rows = graft.queries.CurationQueries.qQuantileNorm.run(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Long]("target") === r.getAs[Long]("val"), r.toString))
  }

  test("count-min estimates never undercount") {
    val rows = graft.queries.TextQueries.qCountMin.run(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 20)
    rows.foreach(r => assert(r.getAs[Long]("overcount") >= 0L, r.toString))
  }

  test("Platt fit recovers a monotone calibrated curve on separable stats") {
    import graft.operators.Calibrate
    val stats = Seq((0.1, 100L, 10L), (0.5, 100L, 50L), (0.9, 100L, 90L))
    val (a, b) = Calibrate.plattFit(stats)
    assert(a > 0, s"slope $a")
    def p(s: Double) = 1.0 / (1.0 + math.exp(-(a * s + b)))
    assert(math.abs(p(0.5) - 0.5) < 0.05)
    assert(p(0.1) < p(0.5) && p(0.5) < p(0.9))
    assert(p(0.1) > 0.05 && p(0.1) < 0.2)
    assert(p(0.9) > 0.8 && p(0.9) < 0.95)
    // determinism: identical inputs, identical model
    assert(Calibrate.plattFit(stats) === ((a, b)))
  }

  test("mutual-NN pairs: every vector joins at most one reciprocal pair") {
    val rows = graft.queries.EmbeddingQueries.qMutualNn
      .run(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val ids = rows.flatMap(r => Seq(r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(ids.distinct.length === ids.length)
    rows.foreach(r => assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
  }

  test("forward as-of: earliest following row, same-time inclusive, none → null") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 35L, "c"), (2L, 5L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 30L, 300L), (1L, 31L, 310L))
      .toDF("k", "t", "v")
    val out = AsOfJoin.forward(left, right, "k", "t", Seq("v"))
      .select("tag", "right_t", "right_v").collect()
      .map(r => r.getAs[String]("tag") ->
        (Option(r.getAs[java.lang.Long]("right_t")), Option(r.getAs[java.lang.Long]("right_v"))))
      .toMap
    // same-time right row IS a match (>= semantics)
    assert(out("a") === ((Some(10L), Some(100L))))
    // earliest of the following rows, not the latest
    assert(out("b") === ((Some(30L), Some(300L))))
    // no right row at-or-after t=35 → null payload
    assert(out("c") === ((None, None)))
    // key with no right rows at all → null payload
    assert(out("d") === ((None, None)))
  }

  test("stickiness: users active every day of the week → exactly 1e6 ppm") {
    // 2 users × 7 consecutive days of activity in week 0
    val rows = for (u <- 0L to 1L; day <- 0L to 6L)
      yield (u * 7 + day + 1, u, "view", 1.00, day * 86400L + 60L)
    val dir = Files.createTempDirectory("graft_eval_fix").toString
    rows.toDF("event_id", "user_id", "event_type", "value", "off")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.AnalysisQueries.qStickiness.run(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_days") === 7L)
    assert(r(0).getAs[Long]("wau") === 2L)
    assert(r(0).getAs[Long]("stickiness_ppm") === 1000000L)
  }

  test("cuped: perfect pre-post correlation gives 1e6 ppm reduction and equal adjusted means") {
    // user u: pre value (u+1) at xs=u, post value 3(u+1)+10 at xs=1000+u
    // → per-user cents y = 3x + 1000 exactly. Then c = 3·vx, vy = 9·vx,
    // so the reduction product (c/vx)(c/vy) = 3·(1/3) = 1 EXACTLY, and
    // CUPED adjustment removes ALL between-arm difference: both arms'
    // adjusted means equal b + θ·x̄_pool even though raw means differ.
    val rows = (0 until 10).flatMap { u =>
      Seq((u.toLong, u.toLong, "view", (u + 1).toDouble),
        ((1000 + u).toLong, u.toLong, "view", (3 * (u + 1) + 10).toDouble))
    }
    val out = graft.queries.EvalQueries.qCuped.run(spark, eventsDir(rows)).collect()
    assert(out.length === 2)
    val byArm = out.map(r => r.getAs[Long]("arm") -> r).toMap
    assert(byArm(0L).getAs[Long]("var_reduction_ppm") === 1000000L)
    assert(byArm(0L).getAs[Double]("theta") === 3.0)
    // raw post means differ (odd users have larger u) ...
    assert(byArm(0L).getAs[Long]("mean_post_cents") !==
      byArm(1L).getAs[Long]("mean_post_cents"))
    // ... but the adjusted means coincide exactly
    assert(byArm(0L).getAs[Double]("adj_mean_post") ===
      byArm(1L).getAs[Double]("adj_mean_post"))
  }

  test("ratio delta: identical users collapse the CI to the point estimate") {
    // every user contributes the same (y, n): all three sample
    // (co)variances are exactly 0 → se = 0, ci_lo = ci_hi = R
    val rows = (0 until 8).flatMap { u =>
      Seq((2L * u, u.toLong, "view", 3.0), ((2L * u + 1), u.toLong, "view", 7.0))
    }
    val out = graft.queries.EvalQueries.qRatioDelta
      .run(spark, eventsDir(rows)).collect()
    assert(out.length === 2)
    out.foreach { r =>
      // 10.00 dollars over 2 events = 500 cents/event = 5e8 ppm-cents
      assert(r.getAs[Long]("ratio_ppm") === 500000000L)
      assert(r.getAs[Double]("se") === 0.0)
      assert(r.getAs[Double]("ci_lo") === r.getAs[Double]("ci_hi"))
      assert(r.getAs[Double]("ci_lo") === 500.0)
    }
  }

  test("siegel-tukey: extremes-in-one-group fixture matches the hand-ranked z") {
    // N=4 distinct values 100,500,600,900 cents → ST ranks 1,4,3,2;
    // clicks hold the extremes {100,900} → scores {1,2}, W = 3e6.
    // z = (3e6 − 2·10e6/4)/sqrt(2·2·(30e12 − 1e14/4)/(4·3)) = −1.549193…
    val dir = eventsDir(Seq(
      (0L, 0L, "click", 1.0), (1L, 0L, "click", 9.0),
      (2L, 0L, "view", 5.0), (3L, 0L, "view", 6.0)))
    val r = EvalQueries.qSiegelTukey.run(spark, dir).collect()(0)
    assert((r.getAs[Long]("n1"), r.getAs[Long]("n2")) === ((2L, 2L)))
    assert(r.getAs[Long]("w1_micro") === 3000000L)
    assert(r.getAs[Double]("z_siegel_tukey") === -1.5492)
  }

  test("siegel-tukey: odd-N middle observation takes rank N") {
    // N=5: ranks by position are 1,4,5,3,2 — middle (300 cents) = 5.
    // click = {3.00} → W = 5e6; z = (5e6−3e6)/sqrt(4/20·10e12) = √2.
    val dir = eventsDir(Seq(
      (0L, 0L, "view", 1.0), (1L, 0L, "view", 2.0), (2L, 0L, "click", 3.0),
      (3L, 0L, "view", 4.0), (4L, 0L, "view", 5.0)))
    val r = EvalQueries.qSiegelTukey.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("w1_micro") === 5000000L)
    assert(r.getAs[Double]("z_siegel_tukey") === 1.4142)
  }

  test("siegel-tukey: fully tied samples give midrank scores and NULL z") {
    // one distinct value, t=3, N=3: T(3)=1+3+2=6 → midrank 2e6 each.
    val dir = eventsDir(Seq(
      (0L, 0L, "click", 5.0), (1L, 0L, "view", 5.0), (2L, 0L, "view", 5.0)))
    val r = EvalQueries.qSiegelTukey.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("w1_micro") === 2000000L)
    assert(r.isNullAt(r.fieldIndex("z_siegel_tukey")))
  }

  test("siegel-tukey: tied-run rank sums match the brute-force alternating assignment") {
    // Mixed ties across both samples, N=13 (odd, middle inside a tied
    // run): expected W from a literal brute-force ST ranking.
    val vals = Seq( // (cents value, sample) — 13 observations
      (100, "click"), (100, "view"), (200, "view"), (300, "click"),
      (300, "click"), (300, "view"), (400, "view"), (400, "view"),
      (500, "click"), (500, "view"), (600, "view"), (700, "click"), (700, "view"))
    val rows = vals.zipWithIndex.map { case ((c, t), i) =>
      (i.toLong, 0L, t, c / 100.0) }
    // brute-force: position → ST score (pattern L;HH;LL;HH;…, middle=N)
    val n = vals.size
    val seq = scala.collection.mutable.ArrayBuffer[Int]()
    var lo = 1; var hi = n
    seq += lo; lo += 1
    while (lo <= hi) {
      var k = 0
      while (k < 2 && hi >= lo) { seq += hi; hi -= 1; k += 1 }
      k = 0
      while (k < 2 && lo <= hi) { seq += lo; lo += 1; k += 1 }
    }
    val rankOfPos = new Array[Int](n + 1)
    seq.zipWithIndex.foreach { case (pos, idx) => rankOfPos(pos) = idx + 1 }
    // value-collapsed micro midranks (floor), then the click sum
    val sorted = vals.map(_._1).sorted
    val groups = sorted.distinct
    var cum = 0
    var expectedW = 0L
    groups.foreach { v =>
      val t = sorted.count(_ == v)
      val sumSt = (cum + 1 to cum + t).map(rankOfPos).sum.toLong
      val mm = sumSt * 1000000L / t
      val c1 = vals.count(x => x._1 == v && x._2 == "click")
      expectedW += c1 * mm
      cum += t
    }
    val r = EvalQueries.qSiegelTukey.run(spark, eventsDir(rows)).collect()(0)
    assert(r.getAs[Long]("w1_micro") === expectedW)
  }
}
