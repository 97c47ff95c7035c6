package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Exact, WindowOps}
import graft.queries.StatsQueries

/** Edge-case pins for the statistical-testing / eval / graph gates
  * (SURVEY.md §2 #178–#185). Gates read `$dir/<table>.parquet`, so
  * each pin writes a tiny synthetic table directory with a
  * closed-form expected answer and runs the REAL gate against it —
  * behavior pins, not formula re-derivations.
  */
class StatsEdgeSpec extends SparkSpec {
  import spark.implicits._

  test("cusum closed form equals the textbook recursion") {
    val xs = Seq(100L, 300L, 50L, 50L, 400L, 10L, 10L, 500L)
    val target = 150L
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("i", "x")
    val out = WindowOps.cusum(df, Seq(lit(1)), Seq(col("i")), col("x"), lit(target))
      .orderBy("i").select("cusum").as[Long].collect()
    // direct recursion S_i = max(0, S_{i-1} + (x - target))
    val expected = xs.scanLeft(0L)((s, x) => math.max(0L, s + x - target)).tail
    assert(out.toSeq === expected)
  }

  test("floorDivBig matches BigInt floor division beyond long range") {
    val cases = Seq(
      ("123456789012345678901234567", "7"),
      ("999999999999999999999999", "1000000000001"),
      ("0", "3"))
    val df = cases.toDF("x", "y")
      .select(Exact.floorDivBig(col("x").cast("decimal(38,0)"),
        col("y").cast("decimal(38,0)")).as("q")).collect()
    cases.zip(df).foreach { case ((x, y), r) =>
      assert(BigInt(r.getDecimal(0).toBigInteger) === BigInt(x) / BigInt(y))
    }
  }

  test("NDCG discount weights are the literal floor(1e6/log2(1+r)) table") {
    val w = StatsQueries.ndcgWeights
    assert(w.head === 1000000L)
    assert(w(1) === 630929L) // 1e6/log2(3)
    assert(w.sliding(2).forall(p => p(0) > p(1)), "strictly decreasing")
    assert(w.size === 10)
  }

  test("chi-squared on an exactly independent contingency table is ~0") {
    // counts(g, t) = a_g * b_t with A = B = 10 makes O·N = R·C exactly;
    // every pico term floors exactly, so chi2_micro == 0.
    val a = Seq(1, 2, 3, 4) // user buckets 0..3 (users 0..3 mod 8)
    val b = Seq(2, 3, 5) // types
    val types = Seq("click", "view", "purchase")
    var id = -1L
    val rows = for {
      (ag, g) <- a.zipWithIndex
      (bt, t) <- b.zipWithIndex
      _ <- 1 to (ag * bt)
    } yield { id += 1; (id, g.toLong, types(t), 100.0) }
    val dir = eventsDir(rows)
    val out = StatsQueries.qChisq.run(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head.getValuesMap[Any](Seq("n_events", "dof", "chi2_micro"))
    assert(r("n_events") === 100L) // A·B = 10·10
    assert(r("dof") === 6L) // (4-1)·(3-1)
    assert(r("chi2_micro") === 0L)
  }

  test("friedman on perfectly consistent blocks gives chi2 = b(k-1)") {
    // b complete blocks (users), k=5 treatments, every block ranking the
    // treatments identically and with no ties: ranks are 1..5 in each
    // block, so R_j = b·j, ΣR_j² = b²·55, A1 = b·55 and the tie-general
    // statistic collapses to exactly χ² = b(k−1). The r7 bug (an extra
    // b in the denominator) yielded (k−1) here for ANY b — asserting two
    // different block counts pins the b-scaling, not just one value.
    val types = Seq("a", "b", "c", "d", "e")
    def consistent(b: Int): Seq[(Long, Long, String, Double)] = {
      var id = -1L
      for {
        u <- 0 until b
        (t, j) <- types.zipWithIndex
      } yield { id += 1; (id, u.toLong, t, 10.0 * (j + 1)) }
    }
    for (b <- Seq(3, 6)) {
      val out = StatsQueries.qFriedman.run(spark, eventsDir(consistent(b))).collect()
      assert(out.length === 1)
      val r = out.head.getValuesMap[Any](
        Seq("n_blocks", "k_treatments", "dof", "chi2_micro"))
      assert(r("n_blocks") === b.toLong)
      assert(r("k_treatments") === 5L)
      assert(r("dof") === 4L)
      assert(r("chi2_micro") === b * 4L * 1000000L, s"b=$b")
    }
  }

  test("decay features: boundary weights are exact table/shift values") {
    // ts = epoch + event_id, so xs == event_id. Reference (newest) event
    // at 70 half-lives; others at exact Δt boundaries:
    //   Δt=0 → 1e6; Δt=H → 1e6>>1; Δt=H/2 → tab(32)=707106;
    //   Δt=40H → 1e6>>40 == 0; Δt=70H → k>62 clamp → 0.
    val H = 21600L
    val ref = 70L * H
    val rows = Seq(ref, ref - H, ref - H / 2, ref - 40L * H, 0L)
      .zipWithIndex.map { case (xs, i) => (xs, i.toLong, "a", 1.00) }
    val out = graft.queries.AnalysisQueries.qDecayFeatures
      .run(spark, eventsDir(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_events") === 5L)
    assert(r.getAs[Long]("decayed_n_micro") === 1000000L + 500000L + 707106L)
    assert(r.getAs[Long]("decayed_sum_micro") === 100L * 2207106L)
  }

  test("embed outlier: off-subspace vector tops the residual ranking") {
    // 40 inliers confined to input dims 0..31 — rank 8 with strong
    // variance AFTER the gate's 4→1 rebin (rebinned dims 0..7) — plus
    // one vector with a modest input-dim-60 component (rebinned dim
    // 15): its variance share is far below every subspace eigenvalue
    // (so the top-8 rebinned basis stays on the inlier subspace) but
    // its residual dominates.
    val dims = 64
    def h(i: Int, j: Int): Double =
      (((i + 1) * (j + 3) * 2654435761L) % 1000L).toDouble / 1000.0 - 0.5
    val inliers = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(dims)(j => if (j < 32) (h(i, j) * 2.0).toFloat else 0.0f), 0)
    }
    val outlier = (99L,
      Seq.tabulate(dims)(j => if (j == 60) 0.5f else 0.0f), 1)
    val dir = Files.createTempDirectory("graft_outl_fix").toString
    (inliers :+ outlier).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = StatsQueries.qEmbedOutlier.run(spark, dir).collect()
    assert(out.head.getAs[Long]("vec_id") === 99L, out.take(3).mkString(";"))
    val r1 = out.head.getAs[Long]("resid2_u")
    val r2 = out(1).getAs[Long]("resid2_u")
    assert(r1 > 10L * math.max(r2, 1L), s"r1=$r1 r2=$r2")
  }

  test("logrank: mirrored cohorts give an exactly zero statistic") {
    // user pair (2k, 2k+1) shares first/last activity exactly, so at
    // every death time n1 = n/2 and d1 = d/2 — the group-1 excess and
    // every floored E term cancel EXACTLY (d even throughout).
    // Sentinel pair at day 30 keeps earlier pairs uncensored.
    val day = 86400L
    def pair(k: Int, firstId: Long, lastDay: Long) = Seq(
      (firstId, 2L * k, "view", 1.0), (firstId + 1, 2L * k + 1, "view", 1.0),
      (lastDay * day, 2L * k, "view", 1.0), (lastDay * day + 1, 2L * k + 1, "view", 1.0))
    // eventsDir: ts = epoch + event_id seconds → xs == event_id
    val rows = (1 to 4).flatMap(k => pair(k, 10L * k, k.toLong)) ++
      pair(9, 100L, 30L)
    val out = graft.queries.StatsQueries.qLogRank
      .run(spark, eventsDir(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_users_1") === 5L)
    assert(r.getAs[Long]("n_users_0") === 5L)
    assert(r.getAs[Long]("o_minus_e_micro") === 0L)
    assert(r.getAs[Double]("chi2") === 0.0)
  }

  test("friedman fully tied blocks yield NULL by the exact predicate") {
    // every treatment equal within every block → A2 == b·k(k+1)² exactly
    val types = Seq("a", "b", "c", "d", "e")
    var id = -1L
    val rows = for {
      u <- 0 until 3
      t <- types
    } yield { id += 1; (id, u.toLong, t, 42.0) }
    val out = StatsQueries.qFriedman.run(spark, eventsDir(rows)).collect()
    assert(out.length === 1)
    assert(out.head.isNullAt(out.head.fieldIndex("chi2_micro")))
  }

  test("gini: equal spend is 0; a single holder of n users is (n-1)/n") {
    // 4 users, one event each, all equal -> gini 0
    val eq = eventsDir((0L to 3L).map(u => (u, u, "view", 50.0)))
    val gEq = StatsQueries.qGini.run(spark, eq).select("gini_ppm").as[Long].collect()
    assert(gEq.toSeq === Seq(0L))
    // 4 users, only user 0 spends -> G = (n-1)/n = 750000 ppm
    val one = eventsDir(
      (0L to 3L).map(u => (u, u, "view", if (u == 0) 80.0 else 0.0)))
    val gOne = StatsQueries.qGini.run(spark, one).select("gini_ppm").as[Long].collect()
    assert(gOne.toSeq === Seq(750000L))
  }

  test("average precision: all positives ranked first is exactly 1") {
    // purchases have the highest values -> P@k = 1 at every positive
    val rows = Seq(
      (0L, 0L, "purchase", 90.0), (1L, 0L, "purchase", 80.0),
      (2L, 0L, "view", 50.0), (3L, 0L, "view", 40.0))
    val out = StatsQueries.qAvgPrecision.run(spark, eventsDir(rows))
      .select("ap_ppm").as[Long].collect()
    assert(out.toSeq === Seq(1000000L))
  }

  test("NDCG: value ranking aligned with gains is exactly 1") {
    // gains strictly follow value order -> realized == ideal ranking
    val rows = (0L to 5L).map(i => (i, 0L, "view", 450.0 - 50.0 * i))
    val out = StatsQueries.qNdcg.run(spark, eventsDir(rows))
      .select("ndcg_ppm").as[Long].collect()
    assert(out.toSeq === Seq(1000000L))
  }

  test("pagerank: a symmetric graph yields equal ranks") {
    val dir = Files.createTempDirectory("graft_pr_fix").toString
    // two disjoint customer-supplier pairs; all 4 nodes symmetric
    Seq((1L, 10L), (2L, 20L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, 100L), (2L, 200L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((10L, 1L), (20L, 2L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((100L, 3L), (200L, 4L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    val out = StatsQueries.qPagerank.run(spark, dir)
      .select("rank_pico").as[Long].collect()
    assert(out.length === 4)
    assert(out.toSet.size === 1, s"symmetric nodes must tie: ${out.toSeq}")
    // and the tied value is teleport + 0.85·(1/N) of the unit mass
    assert(out.head === (15L * 1000000000000L) / (100L * 4) +
      (85L * (1000000000000L / 4)) / 100L)
  }

  test("poisson bootstrap weights: mean ~1, deterministic, CDF table pinned") {
    // CDF table: cumulative Poisson(1) in ppm, strictly increasing to ~1
    val thr = StatsQueries.poissonCdfPpm
    assert(thr.head === 367879 && thr.size === 8)
    assert(thr.sliding(2).forall(p => p(0) < p(1)))
    assert(thr.last > 999980)
    // empirical mean weight over a large deterministic draw is ~1
    val n = 20000
    val df = (0 until n).map(_.toLong).toDF("id")
      .select(pmod(graft.operators.TextOps.baseHash(
        concat(lit("boot:0:"), col("id"))), lit(1000000L)).as("u"))
      .select(thr.map(t => when(col("u") >= t, 1L).otherwise(0L)).reduce(_ + _).as("w"))
    val meanW = df.agg(avg("w")).as[Double].head()
    assert(math.abs(meanW - 1.0) < 0.05, s"mean weight $meanW far from 1")
  }

  test("kaplan-meier: with everyone dying at distinct times, ln-survival is exact") {
    // 3 users, lifetimes 0,1,2 days, corpus spans > 7 days past the
    // last death so nobody is censored: S = 2/3 after t=0, 1/3 after
    // t=1, 0 after t=2 (ln -> microLn sums)
    val day = 86400L
    val dir = Files.createTempDirectory("graft_km_fix").toString
    Seq(
      (0L, 0L, 0L, "view", 1.0),
      (1L, 1L, 0L, "view", 1.0), (2L, 1L, day, "view", 1.0),
      (3L, 2L, 0L, "view", 1.0), (4L, 2L, 2 * day, "view", 1.0),
      (5L, 3L, 0L, "view", 1.0), (6L, 3L, 20 * day, "view", 1.0))
      .toDF("event_id", "user_id", "off", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsQueries.qKaplanMeier.run(spark, dir)
      .select("t_days", "n_risk", "n_deaths", "n_censored", "ln_surv_micro")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    def mln(x: Double) = math.floor(math.log(x) * 1e6).toLong
    // t=0: 4 at risk, 1 death; t=1: 3 at risk, 1 death; t=2: 2 at risk,
    // 1 death; t=20: anchor user censored (within final 7 days)
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq ===
      Seq((0L, 4L, 1L, 0L), (1L, 3L, 1L, 0L), (2L, 2L, 1L, 0L), (20L, 1L, 0L, 1L)))
    assert(out(0)._5 === mln(3.0 / 4))
    assert(out(1)._5 === mln(3.0 / 4) + mln(2.0 / 3))
    assert(out(2)._5 === mln(3.0 / 4) + mln(2.0 / 3) + mln(1.0 / 2))
    assert(out(3)._5 === out(2)._5) // censoring adds no survival drop
  }

  test("kaplan-meier: the curve goes NULL once the whole risk set dies") {
    // user A spans [0, 2d] (uncensored death at lifetime 2, the LAST
    // at-risk user); user B's single event at day 30 sets the horizon
    // (censored). At t=2, d == n_risk: S(t) = 0, ln S = -inf -> NULL.
    val day = 86400L
    val dir = Files.createTempDirectory("graft_km0_fix").toString
    Seq(
      (0L, 0L, 0L, "view", 1.0), (1L, 0L, 2 * day, "view", 1.0),
      (2L, 1L, 30 * day, "view", 1.0))
      .toDF("event_id", "user_id", "off", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsQueries.qKaplanMeier.run(spark, dir)
      .select("t_days", "n_deaths", "ln_surv_micro")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1)
    assert(out.toSeq === Seq((0L, 0L, Some(0L)), (2L, 1L, None)))
  }

  test("theil index of equal spend is 0; quantile sketch meets its rank-error bound") {
    val eq = eventsDir((0L to 3L).map(u => (u, u, "view", 50.0)))
    val t = StatsQueries.qTheil.run(spark, eq).select("theil_micro").as[Long].collect()
    assert(t.toSeq === Seq(0L))
    // sketch: estimated p50/p90/p99 of sf0.001 'view' cents must sit
    // within eps*n ranks of the target (eps = 1/accuracy = 1e-4)
    val dir = "/root/testdata/sf0.001"
    val est = StatsQueries.qQuantileSketch.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val cents = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select((col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .as[Long].collect().sorted
    val n = cents.length
    val eps = 1e-4
    for (((q, e), i) <- Seq((0.5, est("view")._1), (0.9, est("view")._2),
        (0.99, est("view")._3)).zipWithIndex) {
      val rank = cents.count(_ <= e).toDouble / n
      assert(math.abs(rank - q) <= eps + 1.0 / n + 0.01,
        s"quantile $q estimate $e has rank $rank")
    }
  }

  test("periodogram peaks at the true frequency of a pure sinusoid") {
    val n = 64
    val kTrue = 5
    val pts = (0 until n).map(t =>
      (1L, t.toDouble, 100.0 * math.sin(2 * math.Pi * kTrue * t / n) + 42.0))
    val df = pts.toDF("g", "o", "y")
    val out = graft.operators.Spectral.periodogram(df, col("g"), col("o"), col("y"), kMax = 10)
      .orderBy(desc("power")).select("k", "power").as[(Int, Double)].collect()
    assert(out.head._1 === kTrue)
    // all other frequencies carry ~zero power for a pure tone
    assert(out.tail.forall(_._2 < out.head._2 * 1e-10))
  }

  test("holt smoothing continues an exactly linear series exactly") {
    val pts = (0 until 20).map(t => (7L, t.toDouble, 3.0 + 2.5 * t))
    val out = graft.operators.WindowOps.holt(
      pts.toDF("g", "x", "y"), "g", "x", "y", alpha = 0.42, beta = 0.17)
      .orderBy("x").select("level", "trend", "forecast")
      .as[(Double, Double, Double)].collect()
    out.zipWithIndex.foreach { case ((l, b, f), t) =>
      assert(math.abs(l - (3.0 + 2.5 * t)) < 1e-9, s"level at $t")
      assert(math.abs(b - 2.5) < 1e-9, s"trend at $t")
      assert(math.abs(f - (3.0 + 2.5 * (t + 1))) < 1e-9, s"forecast at $t")
    }
  }

  test("pca recovers planted components and their variance ordering") {
    import graft.operators.Pca
    // plant: x = a·u + b·w in 6-d, var(a)=25, var(b)=1, u ⊥ w
    val d = 6
    val u = Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val w = Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 4000).map { _ =>
      val a = rnd.nextGaussian() * 5.0
      val b = rnd.nextGaussian() * 1.0
      (0 until d).map(i => math.round((a * u(i) + b * w(i)) * 1e6)).toSeq
    }
    val df = rows.toDF("q")
    // planted |x| peaks at ~1.8e7 micro (seed-7 gaussian ×5e6): a
    // 2e7 bound admits 23k rows/partition — the guard must not trip
    val (n, mean, cov) = Pca.scatter(df, col("q"), d, maxAbs = 20000000L)
    assert(n === 4000L)
    assert(mean.forall(m => math.abs(m) < 0.2e6), "means near 0")
    val (evals, evecs) = Pca.jacobiEigen(cov)
    // eigenvalues in micro^2 units: ~25e12 and ~1e12, rest ~0
    assert(math.abs(evals(0) / 1e12 - 25.0) < 2.0, s"ev0 = ${evals(0) / 1e12}")
    assert(math.abs(evals(1) / 1e12 - 1.0) < 0.2, s"ev1 = ${evals(1) / 1e12}")
    assert(evals.drop(2).forall(e => math.abs(e) / 1e12 < 0.01))
    // top component aligns with u (|cos| ~ 1), second with w
    def cos(x: Array[Double], y: Array[Double]) = {
      val dot = x.zip(y).map { case (a, b) => a * b }.sum
      dot / math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
    }
    assert(math.abs(cos(evecs(0), u)) > 0.999)
    assert(math.abs(cos(evecs(1), w)) > 0.999)
    // determinism: a second run gives bit-identical results
    val (evals2, evecs2) = Pca.jacobiEigen(cov)
    assert(evals.toSeq === evals2.toSeq)
    assert(evecs.map(_.toSeq).toSeq === evecs2.map(_.toSeq).toSeq)
    // projectExpr: scores onto the top-2 components carry the planted
    // variances (micro² units) and are mean-centered
    val proj = df.select(Pca.projectExpr(col("q"), mean, evecs.take(2)).as("p"))
      .select(element_at(col("p"), 1).as("p1"), element_at(col("p"), 2).as("p2"))
    val stats = proj.agg(
      avg(col("p1")).as("m1"), avg(col("p2")).as("m2"),
      variance(col("p1")).as("v1"), variance(col("p2")).as("v2")).head()
    assert(math.abs(stats.getDouble(0)) < 1e3 && math.abs(stats.getDouble(1)) < 1e3)
    assert(math.abs(stats.getDouble(2) / 1e12 - 25.0) < 2.0)
    assert(math.abs(stats.getDouble(3) / 1e12 - 1.0) < 0.2)
  }

  test("correlation matrix: a type correlates +1 with itself-copied counts") {
    // users where click count == view count exactly -> r(click,view) = 1
    val rows = (0L until 8L).flatMap { u =>
      val k = (u % 4) + 1
      (0L until k).flatMap(i => Seq(
        (u * 100 + 2 * i, u, "click", 10.0), (u * 100 + 2 * i + 1, u, "view", 10.0)))
    }
    val out = StatsQueries.qCorrMatrix.run(spark, eventsDir(rows))
      .filter(col("type_a") === "click" && col("type_b") === "view")
      .select("r").as[Double].collect()
    assert(out.toSeq === Seq(1.0))
  }

  test("approx distinct meets its 3·rsd relative-error contract") {
    val dir = "/root/testdata/sf0.001"
    val rows = StatsQueries.qApproxDistinct.run(spark, dir)
      .select("approx_users", "exact_users").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (approx, exact) =>
      val rel = math.abs(approx - exact).toDouble / exact
      assert(rel <= 0.06, s"approx $approx vs exact $exact: rel err $rel")
    }
  }

  test("peakfit pipeline recovers two planted gaussian peaks") {
    // one user, hourly series = two clean Gaussians at grid 20 and 60
    def gauss(t: Double, c: Double, h: Double, s: Double) =
      h * math.exp(-(t - c) * (t - c) / (2 * s * s))
    val rows = (0 until 100).flatMap { t =>
      val y = 5.0 + gauss(t, 20.0, 300.0, 2.0) + gauss(t, 60.0, 150.0, 3.0)
      // one event per hour with value = series level (cents = value*100)
      Seq((t.toLong, 0L, 3600L * t, "view", math.rint(y * 100) / 100.0))
    }
    val dir = Files.createTempDirectory("graft_pk_fix").toString
    rows.toDF("event_id", "user_id", "off", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsQueries.peakfitFitted(spark, dir)
      .filter(col("converged"))
      .select("peak_grid", "center", "height", "sigma")
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(out.length === 2, s"expected 2 converged peaks: ${out.toSeq}")
    val Seq(p1, p2) = out.toSeq
    assert(math.abs(p1._2 - 20.0) < 0.1 && math.abs(p1._3 - 30000.0) < 1500 &&
      math.abs(p1._4 - 2.0) < 0.2, s"peak 1: $p1")
    assert(math.abs(p2._2 - 60.0) < 0.1 && math.abs(p2._4 - 3.0) < 0.3, s"peak 2: $p2")
  }

  test("range-frame trailing sum counts exactly the past hour") {
    // user 0: events at t = 0, 1800, 3600, 7201 sec, 100 cents each;
    // trailing [t-3600, t] sums: 100, 200, 300 (3600-0 <= 3600 included),
    // then 100 (7201 sees nothing since 3601)
    val rows = Seq((0L, 0L, 0L), (1L, 0L, 1800L), (2L, 0L, 3600L), (3L, 0L, 7201L))
    val dir = Files.createTempDirectory("graft_rw_fix").toString
    rows.toDF("event_id", "user_id", "off")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("event_type", lit("purchase"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsQueries.qRangeWindow.run(spark, dir)
      .select("n_events", "max_trail_cents", "first_peak_xs")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((4L, 300L, 3600L)))
  }

  test("interval join attributes errors to the containing session only") {
    // user 0: activity at t=0 and t=10h (one session spanning [0,10h]);
    // errors at 5h (inside) and at 50h (outside any session)
    val h = 3600L
    val dir = Files.createTempDirectory("graft_ij_fix").toString
    Seq(
      (0L, 0L, 0L, "view", 1.0), (1L, 0L, 10 * h, "click", 1.0),
      (2L, 0L, 5 * h, "error", 2.0), (3L, 0L, 50 * h, "error", 4.0))
      .toDF("event_id", "user_id", "off", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsQueries.qIntervalJoin.run(spark, dir)
      .select("n_err_sessions", "n_errors_in", "err_cents")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L, 200L)))
  }

  test("novelty: an exact duplicate document has zero novel shingles") {
    val text = "a b c d e f g h"
    val docs = Seq((0L, text, "en", "s0", text.length.toLong),
      (1L, text, "en", "s0", text.length.toLong))
    val dir = Files.createTempDirectory("graft_nv_fix").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = StatsQueries.qNovelty.run(spark, dir)
      .select("doc_id", "novelty_ppm").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((0L, 1000000L), (1L, 0L)))
  }

  test("twap holds each reading until the next event or the day boundary") {
    // readings 100.00 at t=0 and 400.00 at 6h, same day:
    // twap = (10000·21600 + 40000·64800) / 86400 = 32500 cents
    val dir = Files.createTempDirectory("graft_tw_fix").toString
    Seq((0L, 0L, 0L, "view", 100.0), (1L, 0L, 21600L, "view", 400.0))
      .toDF("event_id", "user_id", "off", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("off")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsQueries.qTwap.run(spark, dir)
      .select("held_sec", "twap_cents").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((86400L, 32500L)))
  }

  test("ohlc open/close pick by time with id tie pins") {
    val rows = Seq(
      (0L, 0L, "view", 50.0), (1L, 0L, "view", 90.0),
      (2L, 0L, "view", 10.0), (3L, 0L, "view", 70.0))
    val out = StatsQueries.qOhlc.run(spark, eventsDir(rows))
      .select("open_cents", "high_cents", "low_cents", "close_cents")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((5000L, 9000L, 1000L, 7000L)))
  }

  test("weighted sampling includes heavy rows proportionally more often") {
    import graft.operators.Sampling
    // 1000 rows: 100 heavy (w=9), 900 light (w=1); sample 100 of them
    val df = (0L until 1000L).map(i => (i, if (i < 100) 9L else 1L))
      .toDF("id", "w")
    val got = Sampling.weightedSample(df, col("id"), col("w"),
      Seq(lit(0L).as("g")), k = 100).select("id").as[Long].collect().toSet
    assert(got.size === 100)
    val heavy = got.count(_ < 100)
    // E[heavy] ≈ 100·(1 - (1-9/1800)^100) ≈ 40; require a clear gap vs
    // the unweighted expectation of 10
    assert(heavy > 20 && heavy < 70, s"heavy inclusion $heavy out of band")
    // determinism: same call, same sample
    val got2 = Sampling.weightedSample(df, col("id"), col("w"),
      Seq(lit(0L).as("g")), k = 100).select("id").as[Long].collect().toSet
    assert(got === got2)
  }

  test("KS statistic: identical samples give 0, disjoint samples give 1") {
    // identical click/view distributions -> D = 0
    val same = (0L until 20L).flatMap(i => Seq(
      (2 * i, 0L, "click", 10.0 + i), (2 * i + 1, 0L, "view", 10.0 + i)))
    val d0 = StatsQueries.qKsTest.run(spark, eventsDir(same))
      .select("ks_ppm").as[Long].collect()
    assert(d0.toSeq === Seq(0L))
    // fully separated supports -> D = 1 (at the largest click value)
    val split = (0L until 10L).flatMap(i => Seq(
      (2 * i, 0L, "click", 10.0 + i), (2 * i + 1, 0L, "view", 100.0 + i)))
    val out = StatsQueries.qKsTest.run(spark, eventsDir(split))
      .select("ks_ppm", "at_cents").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1000000L, 1900L)))
  }

  test("welch t on two identical samples is 0") {
    val rows = (0L to 9L).flatMap(i =>
      Seq((2 * i, 0L, "click", 10.0 + i), (2 * i + 1, 0L, "view", 10.0 + i)))
    val out = StatsQueries.qTtest.run(spark, eventsDir(rows))
      .select("t_stat").as[Double].collect()
    assert(out.toSeq === Seq(0.0))
  }

  test("somers' d: predictor ties drop from D_yx but stay in D_xy") {
    // hours 0,1,2 → (x, v) = (100,100), (100,200), (200,300):
    // pairs: (0,1) x-tied v-up, (0,2) concordant, (1,2) concordant
    // → C=2, D=0, Tx=1, Ty=0; D_yx = 2/2 = 1e6, D_xy = 2/3 → 666667.
    val rows = Seq(
      (0L, 0L, "click", 1.0), (1L, 0L, "view", 1.0),
      (3600L, 0L, "click", 1.0), (3601L, 0L, "view", 2.0),
      (7200L, 0L, "click", 2.0), (7201L, 0L, "view", 3.0))
    val r = StatsQueries.qSomersD.run(spark, eventsDir(rows)).collect()(0)
    assert((r.getAs[Long]("concordant"), r.getAs[Long]("discordant")) === ((2L, 0L)))
    assert((r.getAs[Long]("ties_x"), r.getAs[Long]("ties_y")) === ((1L, 0L)))
    assert(r.getAs[Double]("d_yx_ppm") === 1000000.0)
    assert(r.getAs[Double]("d_xy_ppm") === 666667.0)
  }

  test("spline: exact recovery of a curve generated from its own basis") {
    import graft.operators.Spline
    // y generated from the restricted basis with known coefficients —
    // least squares must recover them (residual 0, full-rank design)
    val xs = (0L to 100L).toSeq
    val ks = Spline.knots(0L, 100L)
    assert(ks.toSeq === Seq(5L, 35L, 65L, 95L))
    val truth = Array(3.0, -0.5, 0.002, -0.004)
    val rows = xs.map { x =>
      val xd = x.toDouble
      val y = truth(0) + truth(1) * xd + truth(2) * Spline.basis(xd, ks, 0) +
        truth(3) * Spline.basis(xd, ks, 1)
      (x, math.round(y * 1000)) // integer grid values (milli-scaled)
    }
    val cf = Spline.fit(rows, ks)
    // fitted on the milli-scaled y: coefficients scale by 1000 up to
    // the integer rounding of y (grid values within 0.5 milli)
    truth.zip(cf).foreach { case (t, c) =>
      assert(math.abs(c / 1000.0 - t) < 1e-3, s"coef $c vs $t")
    }
    // deterministic: bit-identical refit
    val cf2 = Spline.fit(rows, ks)
    assert(cf.toSeq === cf2.toSeq)
    // linear tails: second differences of the fitted curve vanish
    // beyond the boundary knots
    def yhat(x: Double) = ((cf(0) + cf(1) * x) + cf(2) * Spline.basis(x, ks, 0)) +
      cf(3) * Spline.basis(x, ks, 1)
    val d2 = yhat(200.0) - 2 * yhat(201.0) + yhat(202.0)
    assert(math.abs(d2) < 1e-6, s"tail curvature $d2")
  }

  test("spline: degenerate spans and empty grids fail loudly (r12 ADVICE)") {
    import graft.operators.Spline
    // span < 4 collapses integer-floored knots (span ≤ 2 ⇒ k3 = k4 ⇒
    // basis() would divide by zero) — knots() must refuse
    for (span <- Seq(0L, 1L, 2L, 3L)) {
      val e = intercept[IllegalArgumentException] { Spline.knots(100L, 100L + span) }
      assert(e.getMessage.contains("distinct knots"), s"span=$span: ${e.getMessage}")
    }
    // smallest legal span yields 4 distinct knots
    assert(Spline.knots(0L, 4L).distinct.length === 4)
    // empty grid refuses instead of NPE/NaN
    val e2 = intercept[IllegalArgumentException] {
      Spline.fit(Seq.empty, Spline.knots(0L, 100L))
    }
    assert(e2.getMessage.contains("empty grid"))
  }
}
