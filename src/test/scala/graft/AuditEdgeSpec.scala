package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Graphs
import graft.queries.AuditQueries

/** Edge-case pins for the second audit layer (SURVEY.md §2
  * #247–#253): closed-form fixtures through the REAL operators/gates.
  */
class AuditEdgeSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toSeq.toDF("u", "v")

  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = Files.createTempDirectory("graft_audit_fix").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("canonicalEdges collapses self-loops, reversals and duplicates") {
    val e = Graphs.canonicalEdges(edges((1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L), (3L, 2L)))
    assert(e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 3L)))
  }

  test("K4 has 4 triangles, clustering 1.0 everywhere") {
    val k4 = Graphs.canonicalEdges(edges(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    val st = Graphs.clusteringStats(k4).collect().head
    assert(st.getAs[Long]("n_nodes") === 4L)
    assert(st.getAs[Long]("n_edges") === 6L)
    assert(st.getAs[Long]("n_triangles") === 4L)
    assert(st.getAs[Long]("wedges") === 12L) // 4 nodes × C(3,2)
    assert(st.getAs[Long]("global_ppm") === 1000000L)
    assert(st.getAs[Long]("avg_local_ppm") === 1000000L)
  }

  test("path graph has wedges but zero triangles") {
    val p4 = Graphs.canonicalEdges(edges((1L, 2L), (2L, 3L), (3L, 4L)))
    val st = Graphs.clusteringStats(p4).collect().head
    assert(st.getAs[Long]("n_triangles") === 0L)
    assert(st.getAs[Long]("wedges") === 2L)
    assert(st.getAs[Long]("global_ppm") === 0L)
    assert(st.getAs[Long]("avg_local_ppm") === 0L)
  }

  test("triangle + pendant: local coefficients average over deg>=2 only") {
    // K3 on {1,2,3} plus pendant 4–1: node 1 has deg 3, t=1 →
    // lc = 2·1e6/6 = 333333; nodes 2,3 have lc = 1e6; node 4 deg 1
    // (excluded). avg = (333333 + 2e6) // 3 = 777777.
    val g = Graphs.canonicalEdges(edges((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)))
    val st = Graphs.clusteringStats(g).collect().head
    assert(st.getAs[Long]("n_triangles") === 1L)
    assert(st.getAs[Long]("avg_local_ppm") === 777777L)
    assert(st.getAs[Long]("global_ppm") === 600000L) // 3·1e6/5 wedges (3+1+1)
  }

  test("mann-kendall: strictly increasing per-user values pin tau = 1") {
    // user 0 (cohort 0): values rise with time; user 1 (cohort 1): fall
    val dir = eventsDir(Seq(
      (0L, 0L, "view", 1.0), (1L, 0L, "view", 2.0), (2L, 0L, "view", 3.0),
      (3L, 1L, "view", 9.0), (4L, 1L, "view", 8.0), (5L, 1L, "view", 7.0)))
    val out = AuditQueries.qMannKendall.run(spark, dir).collect()
      .map(r => r.getAs[Long]("g") -> r).toMap
    assert(out(0L).getAs[Double]("tau") === 1.0)
    assert(out(0L).getAs[Long]("n_pairs") === 3L)
    assert(out(1L).getAs[Double]("tau") === -1.0)
    assert(out(1L).getAs[Long]("ties") === 0L)
  }

  test("levene: identically-dispersed groups pin F = 0") {
    // types A and B shifted copies → identical |x − lo-median| sets
    val dir = eventsDir(Seq(
      (0L, 0L, "click", 1.00), (1L, 1L, "click", 3.00),
      (2L, 2L, "view", 11.00), (3L, 3L, "view", 13.00)))
    val r = AuditQueries.qLevene.run(spark, dir).collect().head
    assert(r.getAs[Long]("k") === 2L)
    assert(r.getAs[Long]("f_ppm") === 0L)
  }

  test("jsd: identical unigram distributions pin jsd = 0") {
    val dir = docsDir(Seq(
      (1L, "a b c a", "en", "s1"), (2L, "a b c a", "en", "s2")))
    val r = AuditQueries.qJsd.run(spark, dir).collect().head
    assert(r.getAs[Long]("kl1_micro") === 0L)
    assert(r.getAs[Long]("kl2_micro") === 0L)
    assert(r.getAs[Double]("jsd") === 0.0)
  }

  test("jsd: disjoint vocabularies pin jsd = ln 2") {
    // no shared words → the pair is OMITTED by design (documented);
    // verify via one shared word with negligible... instead pin the
    // near-disjoint case: one common word, rest disjoint, jsd < ln 2.
    val dir = docsDir(Seq(
      (1L, "x x x w", "en", "s1"), (2L, "y y y w", "en", "s2")))
    val r = AuditQueries.qJsd.run(spark, dir).collect().head
    val ln2 = math.log(2)
    assert(r.getAs[Double]("jsd") > 0.0 && r.getAs[Double]("jsd") < ln2)
  }

  test("simpson: single-source language pins lambda = 1") {
    val dir = docsDir(Seq(
      (1L, "a", "en", "s1"), (2L, "b", "en", "s1"), (3L, "c", "en", "s1"),
      (4L, "d", "de", "s1"), (5L, "e", "de", "s2")))
    val out = AuditQueries.qSimpson.run(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(out("en").getAs[Long]("simpson_ppm") === 1000000L)
    assert(out("en").getAs[Long]("gini_simpson_ppm") === 0L)
    // de: 2 docs, 2 sources → λ = 0
    assert(out("de").getAs[Long]("simpson_ppm") === 0L)
  }

  test("kalman: Q = 0 pins the posterior level to the exact running mean") {
    val ys = Seq(10.0, 20.0, 60.0, 30.0)
    val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toDouble, y) }
      .toDF("g", "x", "y")
    val out = graft.operators.WindowOps.kalman(df, "g", "x", "y", q = 0.0, r = 7.0)
      .orderBy("x").select("level").as[Double].collect()
    val means = ys.scanLeft((0.0, 0)) { case ((s, n), y) => (s + y, n + 1) }
      .tail.map { case (s, n) => s / n }
    out.zip(means).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("kalman: huge Q tracks the observations") {
    val df = Seq((1L, 0.0, 5.0), (1L, 1.0, 50.0), (1L, 2.0, -3.0)).toDF("g", "x", "y")
    val out = graft.operators.WindowOps.kalman(df, "g", "x", "y", q = 1e12, r = 1.0)
      .orderBy("x").select("level").as[Double].collect()
    Seq(5.0, 50.0, -3.0).zip(out).foreach { case (e, a) => assert(math.abs(a - e) < 1e-3) }
  }

  private def mmrPool(rows: Seq[(Long, Long, Seq[Long], Double)]) =
    rows.toDF("query_id", "vec_id", "q", "rel")
      .withColumn("n", expr("aggregate(q, 0L, (s, x) -> s + x * x)"))

  test("mmr: lambda = 1 reproduces the pure relevance order") {
    val pool = mmrPool(Seq(
      (1L, 10L, Seq(1000000L, 0L), 0.9),
      (1L, 11L, Seq(0L, 1000000L), 0.8),
      (1L, 12L, Seq(707107L, 707107L), 0.7)))
    val out = graft.operators.Retrieval.mmr(pool, k = 3, lambda = 1.0)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(out.toSeq === Seq(10L, 11L, 12L))
  }

  test("mmr: a duplicate of the top hit is pushed below a diverse candidate") {
    // vec 11 duplicates vec 10 (cos 1) with nearly equal relevance;
    // vec 12 is orthogonal with lower relevance. MMR at λ=0.5 picks
    // the orthogonal one second: 0.5·0.7 − 0.5·0 > 0.5·0.89 − 0.5·1.
    val pool = mmrPool(Seq(
      (1L, 10L, Seq(1000000L, 0L), 0.9),
      (1L, 11L, Seq(1000000L, 0L), 0.89),
      (1L, 12L, Seq(0L, 1000000L), 0.7)))
    val out = graft.operators.Retrieval.mmr(pool, k = 2, lambda = 0.5)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(out.toSeq === Seq(10L, 12L))
  }

  test("markov: two-channel closed form (A converts, B never does)") {
    // user 1: A → purchase; user 2: B → end
    val trans = Seq(
      ("START", "A", 1L), ("A", "CONV", 1L),
      ("START", "B", 1L), ("B", "NULL", 1L)).toDF("src", "dst", "n")
    val out = graft.operators.Markov.removalEffects(trans).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("base_ppm") === 500000L)
    assert(out("A").getAs[Long]("removal_ppm") === 1000000L) // conv impossible without A
    assert(out("B").getAs[Long]("removal_ppm") === 0L)
    assert(out("A").getAs[Long]("share_ppm") === 1000000L)
    assert(out("B").getAs[Long]("share_ppm") === 0L)
  }

  test("markov transitions: path truncates at first conversion, non-converters get NULL") {
    val e = Seq(
      // user 1: view → purchase → click (click is AFTER conv — dropped)
      (1L, 1L, "view"), (1L, 2L, "purchase"), (1L, 3L, "click"),
      // user 2: click → end (no conversion)
      (2L, 1L, "click"))
      .toDF("user_id", "ts_us", "event_type")
      .withColumn("event_id", col("ts_us"))
    val trans = graft.operators.Markov.transitions(e,
        col("user_id"), col("ts_us"), col("event_id"), col("event_type"), "purchase")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(trans(("START", "view")) === 1L)
    assert(trans(("view", "CONV")) === 1L)
    assert(trans(("START", "click")) === 1L)
    assert(trans(("click", "NULL")) === 1L)
    assert(!trans.contains(("CONV", "click")), "post-conversion events must be dropped")
  }

  test("holt-winters: exactly periodic zero-trend series forecasts itself") {
    val season = Seq(10.0, 50.0, 20.0, 80.0)
    val ys = season ++ season ++ season // 3 full seasons, m = 4
    val df = ys.zipWithIndex.map { case (y, i) => (1L, i.toDouble, y) }
      .toDF("g", "x", "y")
    val out = graft.operators.WindowOps.holtWinters(df, "g", "x", "y",
        m = 4, alpha = 0.3, beta = 0.2, gamma = 0.4)
      .orderBy("x").collect()
    // rows start at t = m; forecast at t predicts y_{t+1} exactly
    assert(out.length === ys.length - 4)
    out.dropRight(1).zipWithIndex.foreach { case (r, i) =>
      val predicted = r.getAs[Double]("forecast")
      val actual = ys(4 + i + 1)
      assert(math.abs(predicted - actual) < 1e-9, s"t=${4 + i}: $predicted != $actual")
      assert(math.abs(r.getAs[Double]("trend")) < 1e-9)
    }
  }

  test("holt-winters: series shorter than two seasons yields no rows") {
    val df = (0 until 7).map(i => (1L, i.toDouble, i * 1.0)).toDF("g", "x", "y")
    assert(graft.operators.WindowOps.holtWinters(df, "g", "x", "y",
      m = 4, alpha = 0.3, beta = 0.2, gamma = 0.4).count() === 0)
  }

  test("k-core: pendant and tail peel away, K4 survives the 3-core (both paths)") {
    // K4 on {1,2,3,4} + path 4–5–6: 2-core drops the path tail,
    // 3-core = exactly K4. Peeling must cascade (6 falls, then 5).
    // Asserted on the driver fast path AND the distributed loop
    // (driverMaxEdges = 0 pins the loop).
    val g = Graphs.canonicalEdges(edges(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)))
    for (bound <- Seq(2000000L, 0L)) {
      val core2 = Graphs.kCore(g, 2, driverMaxEdges = bound)
      assert(core2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
        s"bound=$bound")
      val core3 = Graphs.kCore(g, 3, driverMaxEdges = bound)
      assert(core3.count() === 6L, s"bound=$bound") // K4's edges
      assert(Graphs.kCore(g, 4, driverMaxEdges = bound).count() === 0L,
        s"bound=$bound") // K4 has max degree 3
    }
  }

  test("k-truss: star and pendants peel away, K5 survives the 5-truss (both paths)") {
    // K5 on {1..5} + a lone triangle {10,11,12} + pendant edge 5–20 +
    // star center 30 → {31,32,33}: every K5 edge has support 3, the
    // triangle's edges support 1, the pendant and star edges 0. So
    // 3-truss = K5 ∪ triangle (13 edges), 4-truss = 5-truss = K5
    // (10 edges — support 3 ≥ 5−2), 6-truss = ∅. The star survives
    // NO truss despite its hub's degree — the degree-vs-support
    // distinction that motivates the operator next to k-core.
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val g = Graphs.canonicalEdges(edges(
      k5 ++ Seq((10L, 11L), (10L, 12L), (11L, 12L), (5L, 20L),
        (30L, 31L), (30L, 32L), (30L, 33L)): _*))
    for (bound <- Seq(2000000L, 0L)) {
      assert(Graphs.trussEdges(g, 3, driverMaxEdges = bound).count() === 13L,
        s"bound=$bound")
      val t4 = Graphs.trussEdges(g, 4, driverMaxEdges = bound)
      assert(t4.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        k5.toSet, s"bound=$bound")
      assert(Graphs.trussEdges(g, 5, driverMaxEdges = bound).count() === 10L,
        s"bound=$bound")
      assert(Graphs.trussEdges(g, 6, driverMaxEdges = bound).count() === 0L,
        s"bound=$bound")
    }
  }

  test("k-truss: non-canonical input canonicalizes identically on both paths (r12 ADVICE)") {
    // duplicated, reversed and self-loop rows — previously the driver
    // path threw while the distributed path silently canonicalized,
    // so behavior flipped on input SIZE; now both canonicalize first
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val messy = edges(
      (k5 ++ k5.map(_.swap) ++ Seq((3L, 3L), (5L, 20L), (20L, 5L))): _*)
    for (bound <- Seq(2000000L, 0L)) {
      val t4 = Graphs.trussEdges(messy, 4, driverMaxEdges = bound)
      assert(t4.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        k5.toSet, s"bound=$bound")
      assert(Graphs.trussSizes(messy, Seq(3, 6), driverMaxEdges = bound) ===
        Seq((3, 5L, 10L), (6, 0L, 0L)), s"bound=$bound")
    }
  }

  test("coreSizes: incremental multi-k peel matches per-k kCore (both paths)") {
    // same K4+tail fixture: 2-core = K4 + the 4–5 edge gone (tail
    // cascades), 3-core = K4 exactly, 4-core empty
    val g = Graphs.canonicalEdges(edges(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)))
    for (bound <- Seq(2000000L, 0L)) {
      val sizes = Graphs.coreSizes(g, Seq(2, 3, 4), driverMaxEdges = bound)
      assert(sizes === Seq((2, 4L, 6L), (3, 4L, 6L), (4, 0L, 0L)),
        s"bound=$bound")
    }
  }

  test("bfs hops: distances agree between the driver fast path and the loop") {
    // chain c1->s1->c2->s2 (doubled arcs) + isolated pair; seed {c1}
    val pairs = Seq(("c1", "s1"), ("s1", "c2"), ("c2", "s2"), ("x", "y"))
    val arcs = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val seeds = Seq("c1").toDF("node")
    def run(bound: Long) =
      Graphs.bfsHops(arcs, seeds, maxHops = 2, driverMaxEdges = bound)
        .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
    val fast = run(2000000L)
    val loop = run(0L)
    assert(fast === loop)
    assert(fast === Seq(("c1", 0), ("c2", 2), ("s1", 1)))
  }

  test("iterative-graph rounds: src-partitioned arcs are never re-exchanged") {
    // Mirrors the per-round plan shape inside kCore/bfsHops: with the
    // arc relation hash-partitioned on src and persisted ONCE, (a) the
    // degree groupBy and (b) the frontier join (even forced to a
    // shuffle join) must exchange only the node-sized side — no
    // ShuffleExchange may sit above the cached arc scan.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val arcs = (1 to 500).flatMap(i => Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("src", "dst").repartition(col("src")).persist()
    arcs.count()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def arcSideExchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec
              if e.collect { case s: InMemoryTableScanExec => s }.nonEmpty => e
        }.size
      val deg = arcs.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      assert(arcSideExchanges(deg) === 0,
        s"degree agg re-exchanged the arcs:\n${deg.queryExecution.executedPlan}")
      val frontier = Seq(1L, 7L, 42L).toDF("src")
      val hop = frontier.join(arcs, "src").select(col("dst"))
      assert(arcSideExchanges(hop) === 0,
        s"frontier join re-exchanged the arcs:\n${hop.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      arcs.unpersist()
    }
  }

  test("shapley: two-channel closed form (phi_A = 0.75, phi_B = -0.25)") {
    // journeys: {A}→conv, {B}→no conv, {A,B}... absent.
    // v({A})=1, v({B})=0, v({A,B})=1/2 (both journeys ⊆), v(∅)=0.
    // φ_A = ½(1−0) + ½(½−0) = 0.75; φ_B = ½(0−0) + ½(½−1) = −0.25.
    val coal = Seq(("A", 1L, 1L), ("B", 1L, 0L))
      .toDF("set_key", "n_journeys", "n_conv")
    val out = graft.operators.Markov.shapley(coal).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("phi_micro") === 750000L)
    assert(out("B").getAs[Long]("phi_micro") === -250000L)
    // efficiency: Σφ = v(C) = 1/2
    assert(out("A").getAs[Long]("phi_micro") + out("B").getAs[Long]("phi_micro")
      === 500000L)
    assert(out("A").getAs[Long]("share_ppm") === 1000000L)
    assert(out("B").getAs[Long]("share_ppm") === 0L)
  }

  test("coalitions: channel sets truncate at first conversion, dedupe and sort") {
    val e = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view"), (1L, 4L, "purchase"),
      (1L, 5L, "error"), // after conversion — must not enter the set
      (2L, 1L, "error"))
      .toDF("user_id", "ts_us", "event_type")
      .withColumn("event_id", col("ts_us"))
    val out = graft.operators.Markov.coalitions(e,
        col("user_id"), col("ts_us"), col("event_id"), col("event_type"), "purchase")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("click,view") === ((1L, 1L)))
    assert(out("error") === ((1L, 0L)))
  }

  test("jarque-bera: constant series is degenerate → NULL") {
    val dir = eventsDir(Seq(
      (0L, 0L, "click", 5.00), (1L, 1L, "click", 5.00), (2L, 2L, "click", 5.00)))
    val r = AuditQueries.qJarqueBera.run(spark, dir).collect().head
    assert(r.isNullAt(r.fieldIndex("jb_stat")))
  }

  test("shapiro-wilk coefficients: antisymmetric, zero-sum, decreasing-magnitude ends") {
    val a = AuditQueries.swCoefMicro
    assert(a.size === AuditQueries.swN)
    assert(a.sum === 0L, "mirrored quantization must make the weights sum to 0 exactly")
    a.indices.foreach(i => assert(a(i) === -a(a.size - 1 - i), s"antisymmetry at $i"))
    // Royston's (1992) approximate end weights for n=50 — the values the
    // standard swilk implementations use (c_n + polynomial-in-1/√n
    // correction). NOTE: deliberately NOT the exact Shapiro–Wilk 1965
    // table (a_50 = 0.3751); Royston's W replaces the covariance-based
    // exact weights with corrected Blom scores.
    assert(a.last === 350599L, s"a_50 = ${a.last}")
    assert(a(a.size - 2) === 266221L, s"a_49 = ${a(a.size - 2)}")
    assert(a.last > a(a.size - 2), "end weights decrease inward")
    // weights must be strictly decreasing from the top end inward
    assert(a.reverse.sliding(2).forall(p => p(0) > p(1)))
  }

  test("shapiro-wilk is exactly affine-invariant and flags a planted outlier") {
    // 60 rows per type: the gate samples 50 by hash of event_id, which is
    // IDENTICAL across the two types (same event_ids), so type "b" sees
    // exactly 3x+700 of type "a"'s sampled values — w_ppm must match
    // exactly (integer-exact location/scale invariance).
    val base = (0 until 60).map(i => ((i * 37) % 97 + (i % 7) * 13).toDouble)
    val rows =
      base.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong, "a", v) } ++
        base.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong, "b", 3.0 * v + 700.0) } ++
        // type "c": EXACTLY 50 rows (sample = whole type), 49 identical
        // values + one huge outlier — W collapses to a_50²·50/49 ≈ 0.125
        (0 until 50).map(i =>
          (i.toLong, i.toLong, "c", if (i == 13) 10000.0 else 5.0))
    val out = AuditQueries.qShapiroWilk.run(spark, eventsDir(rows)).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out("a").isDefined)
    assert(out("a") === out("b"), "affine transform must not change W")
    assert(out("a").get > 900000L, s"roughly-uniform data should score high: ${out("a")}")
    assert(out("c").isDefined)
    // 49-of-50 constant + one outlier: W ≈ a_50² ≈ 0.14 (exactly
    // b²·n/(1e6·(nQ−S²)) with x = 1e6·e_k) — far below any normal sample
    assert(out("c").get < 300000L, s"outlier sample must collapse W: ${out("c")}")
  }

  test("shapiro-wilk excludes types that cannot fill the fixed-size sample") {
    val rows = (0 until 20).map(i => (i.toLong, i.toLong, "tiny", i.toDouble))
    assert(AuditQueries.qShapiroWilk.run(spark, eventsDir(rows)).count() === 0L)
  }

  test("bh-fdr: an exactly independent table rejects nothing at p = 1") {
    // counts(g, t) = a_g·b_t makes every cell's O == E exactly → z = 0;
    // the A&S tail polynomial gives tail(0) ≈ 0.4999995 (its |ε|<7.5e-8
    // contract), so p_micro lands at 999999 — far above every BH
    // critical value, kmax = 0, nothing rejected.
    val a = Seq(1, 2, 3)
    val b = Seq(2, 5)
    val types = Seq("click", "view")
    var id = -1L
    val rows = for {
      (ag, g) <- a.zipWithIndex
      (bt, t) <- b.zipWithIndex
      _ <- 1 to (ag * bt)
    } yield { id += 1; (id, g.toLong, types(t), 10.0) }
    val out = AuditQueries.qBhFdr.run(spark, eventsDir(rows)).collect()
    assert(out.length === 6)
    out.foreach { r =>
      assert(r.getAs[Long]("p_micro") >= 999990L)
      assert(!r.getAs[Boolean]("rejected"))
    }
  }

  test("ad drift: identical per-source distributions give exactly 0") {
    // two sources with the SAME length multiset: every grid row has
    // cums = cumc/2 and n_s = N/2, so d = N·cums − n_s·cumc = 0 exactly
    val lens = Seq(3, 5, 5, 8, 13)
    var id = -1L
    val rows = for {
      src <- Seq("s1", "s2"); l <- lens
    } yield { id += 1; (id, "x" * l, "en", src) }
    val out = AuditQueries.qAdDrift.run(spark, docsDir(rows)).collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Long]("ad_micro") === 0L, r.getString(0))
      assert(r.getAs[Long]("n_src") === 5L)
      assert(r.getAs[Long]("n_rest") === 5L)
    }
  }

  test("ad drift: disjoint-support source scores higher than an overlapping one") {
    var id = -1L
    def docs(src: String, lens: Seq[Int]) =
      lens.map { l => id += 1; (id, "x" * l, "en", src) }
    val rows = docs("base", Seq(10, 11, 12, 13, 14)) ++
      docs("near", Seq(10, 11, 12, 13, 20)) ++ // one value off the base support
      docs("far", Seq(30, 31, 32, 33, 34)) // entirely disjoint lengths
    val out = AuditQueries.qAdDrift.run(spark, docsDir(rows)).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("ad_micro")).toMap
    assert(out("far") > out("near"), out.toString)
    assert(out("near") > 0L)
  }
}
