package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Binning, Curation, DriverBound, Exact, Graphs, Relational, TextOps}
import graft.operators.Exact.{centsSql, dec}

/** Second audit layer (SURVEY.md §2 #247–#253): static-graph
  * structure (triangles / clustering), normality and trend tests
  * (Jarque–Bera, Mann–Kendall), variance homogeneity
  * (Brown–Forsythe), partial autocorrelation, and two corpus-mix
  * divergence/diversity audits (pairwise Jensen–Shannon, Simpson
  * index) — the checks that decide whether the OTHER gates'
  * assumptions hold (normal-theory tests need JB, pooled variances
  * need Levene, AR-order choice needs PACF) and how far the source
  * mix has drifted.
  *
  * Discipline is SURVEY.md §4 throughout: exact integer cents /
  * micro-nat quantization BEFORE any distributed sum, floor division
  * only on nonnegative numerators, doubles confined to final closed
  * forms mirrored textually on both engines.
  */
object AuditQueries {

  import Exact.{floorDivBig, floorDivBigSql}

  /** Triangle counting + clustering coefficients (#247) on the
    * part-co-occurrence graph (parts sharing an order — the
    * market-basket projection): n/m/T, wedge count, global
    * transitivity 3T/wedges and the average local coefficient, all
    * exact-integer ppm. See [[graft.operators.Graphs]] for the
    * degree-ordered orientation that bounds the wedge fan-out at
    * O(m^1.5) regardless of hub degrees — the 100 TB shape.
    */
  val qTriangles = GateQuery.sql(
    "q_triangles",
    """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, count(*) AS deg FROM
      |    (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      |  GROUP BY 1),
      |o AS (SELECT
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |      THEN e.u ELSE e.v END AS s,
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |      THEN e.v ELSE e.u END AS t
      |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
      |tr AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
      |  FROM o e1 JOIN o e2 ON e1.t = e2.s
      |  JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t),
      |tv AS (SELECT node, count(*) AS t FROM
      |    (SELECT a AS node FROM tr UNION ALL SELECT b AS node FROM tr
      |     UNION ALL SELECT c AS node FROM tr)
      |  GROUP BY 1),
      |nd AS (SELECT deg.node, deg.deg, coalesce(tv.t, 0) AS t
      |  FROM deg LEFT JOIN tv ON deg.node = tv.node),
      |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum(deg) AS BIGINT) // 2 AS n_edges,
      |    CAST(sum(t) AS BIGINT) // 3 AS n_triangles,
      |    CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS wedges,
      |    CAST(sum(CASE WHEN deg >= 2
      |        THEN (t * 2000000) // (deg * (deg - 1)) ELSE 0 END) AS BIGINT) AS lc_sum,
      |    CAST(sum(CASE WHEN deg >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_deg2
      |  FROM nd)
      |SELECT n_nodes, n_edges, n_triangles, wedges,
      |  CASE WHEN wedges > 0 THEN (n_triangles * 3000000) // wedges
      |    ELSE NULL END AS global_ppm,
      |  CASE WHEN n_deg2 > 0 THEN lc_sum // n_deg2 ELSE NULL END AS avg_local_ppm
      |FROM ag""".stripMargin) { (s, d) =>
    // canonical edges come from the session-scoped materialized
    // snapshot shared by all six graph gates (SharedRelations)
    Graphs.clusteringStats(graft.SharedRelations.partCoEdges(s, d))
  }

  /** Adamic–Adar link prediction (#390, Adamic & Adar 2003): the
    * top non-adjacent part pairs by Σ_{w∈N(u)∩N(v)} 1/ln(deg w) —
    * common neighbors weighted down by their promiscuity, the
    * standard "which products WILL co-occur next" baseline on the
    * #247 graph. Wedges fan out per CENTER, so hub centers are
    * capped at deg ≤ 64 (they contribute ≈ 1/ln(hub) ≈ nothing per
    * pair but quadratic volume — the same candidate-cap convention
    * as `maxBandDf`; the cap is mirrored in the oracle, so parity
    * is unaffected). Per-center fan-out ≤ cap²; weights are exact
    * 1e12//microLn(deg) integer floors; adjacency removal is one
    * anti-join; top-20 via TakeOrdered. Measured floor (r13,
    * sf0.1): 10 jobs ≈ 1.0 s of local scheduling floor out of the
    * ~2.1 s wall — the degree probe, wedge fan-out, AA aggregate,
    * adjacency anti-join and TakeOrdered each stage under AQE; the
    * residual ~1 s is the genuine capped-wedge shuffle volume.
    * DuckDB's same-cap oracle runs ~0.7 s, so the >2× ratio is job
    * floors + one real shuffle, not a scale defect — the shape is
    * cap²-bounded per center at any corpus size.
    */
  val qAdamicAdar = GateQuery.sql(
    "q_adamic_adar", {
      val mln = graft.operators.Curation.microLnSql("a.deg")
      s"""WITH e AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         |    greatest(a.l_partkey, b.l_partkey) AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |adj AS (SELECT u AS c, v AS n FROM e UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT c AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY 1),
         |ctr AS (SELECT adj.c, adj.n, deg.deg FROM adj
         |  JOIN deg ON adj.c = deg.node WHERE deg.deg BETWEEN 2 AND 64),
         |wg AS (SELECT a.n AS u, b.n AS v, 1000000000000 // $mln AS w
         |  FROM ctr a JOIN ctr b ON a.c = b.c AND a.n < b.n),
         |sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum(w) AS BIGINT) AS aa_micro
         |  FROM wg GROUP BY 1, 2),
         |cand AS (SELECT sc.u, sc.v, sc.n_common, sc.aa_micro FROM sc
         |  LEFT JOIN e ON sc.u = e.u AND sc.v = e.v WHERE e.u IS NULL)
         |SELECT u, v, n_common, aa_micro FROM cand
         |ORDER BY aa_micro DESC, u, v LIMIT 20""".stripMargin
    }) { (s, d) =>
    // session-cached driver peel graph (the q_kcore/q_ktruss CSR,
    // shared): the capped wedge fan-out is node-bounded (≤ cap² per
    // center — 252 k pairs at sf0.1), so under the driver edge bound
    // the whole wedge→aggregate→anti-join→top-20 chain runs off the
    // cached topology in one pass. Past the bound: the distributed
    // capped-wedge plan below, unchanged.
    peelGraph(s, d) match {
      case Some(pg) =>
        import s.implicits._
        pg.adamicAdarTop(minDeg = 2, maxDeg = 64, k = 20)
          .toDF("u", "v", "n_common", "aa_micro")
          .orderBy(col("aa_micro").desc, col("u"), col("v"))
      case None =>
        import graft.operators.Curation.microLn
        // the distinct pair stage feeds BOTH adjacency directions AND
        // the final anti-join — all three consumers re-scan the shared
        // materialized snapshot (cheap columnar read, no recompute)
        val e = graft.SharedRelations.partCoEdges(s, d)
        val adj = e.select(col("u").as("c"), col("v").as("n"))
          .unionAll(e.select(col("v").as("c"), col("u").as("n")))
        val deg = adj.groupBy(col("c").as("node"))
          .agg(count(lit(1)).cast("long").as("deg"))
        val ctr = adj.join(deg.withColumnRenamed("node", "c"), "c")
          .filter(col("deg") >= 2 && col("deg") <= 64)
        val a = ctr.select(col("c"), col("n").as("nu"), col("deg"))
        val b = ctr.select(col("c"), col("n").as("nv"))
        val wg = a.join(b, "c").filter(col("nu") < col("nv"))
          .select(col("nu").as("u"), col("nv").as("v"),
            Binning.floorDivCol(lit(1000000000000L), microLn(col("deg"))).as("w"))
        val sc = wg.groupBy(col("u"), col("v")).agg(
          count(lit(1)).cast("long").as("n_common"),
          sum(col("w")).cast("long").as("aa_micro"))
        sc.join(e, Seq("u", "v"), "left_anti")
          .orderBy(col("aa_micro").desc, col("u"), col("v"))
          .limit(20)
    }
  }

  /** Rich-club coefficient (#427, r10, Zhou & Mondragón 2004;
    * Colizza et al. 2006): for degree thresholds k, the density
    * φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) of the subgraph induced
    * by nodes of degree > k on the part-co-occurrence graph — do the
    * hub parts preferentially co-occur with EACH OTHER (φ → 1, a
    * "rich club" of staples bought together) or only with the
    * periphery? The structural complement of assortativity (#382:
    * one global correlation; this: the actual hub-subgraph density
    * profile). Raw φ only (the normalized variant needs
    * degree-preserving random rewiring — out of the deterministic
    * contract; documented). One degree aggregate + one per-k
    * endpoint-degree semi-join over the shared edge snapshot;
    * exact ppm floors.
    */
  val qRichClub = GateQuery.sql(
    "q_rich_club", {
      val ks = Seq(2, 4, 8)
      val perK = ks.map { k =>
        s"""SELECT $k AS k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE deg > $k) AS n_nodes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM e
           |     JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
           |     WHERE du.deg > $k AND dv.deg > $k) AS n_edges""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
         |    (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
         |  GROUP BY 1),
         |pk AS ($perK)
         |SELECT k, n_nodes, n_edges,
         |  CASE WHEN n_nodes > 1 THEN
         |    CAST((2 * n_edges * 1000000) // (n_nodes * (n_nodes - 1)) AS BIGINT)
         |  END AS phi_ppm
         |FROM pk ORDER BY k""".stripMargin
    }) { (s, d) =>
    // session-cached driver peel graph (the q_kcore/q_ktruss CSR,
    // shared): each threshold is one O(V+E) counting pass over the
    // cached topology — the per-k node-count + two-semi-join rounds
    // below collapse to zero distributed jobs. Past the driver
    // bound: the distributed per-k chain, unchanged.
    val counts = peelGraph(s, d) match {
      case Some(pg) =>
        import s.implicits._
        pg.richClub(Seq(2, 4, 8)).toDF("k", "n_nodes", "n_edges")
      case None =>
        val e = graft.SharedRelations.partCoEdges(s, d)
        val deg = Graphs.degrees(e).persist() // read once per threshold
        val perK = Seq(2, 4, 8).map { k =>
          val rich = deg.filter(col("deg") > k).select(col("node"))
          val nNodes = rich.agg(count(lit(1)).cast("long").as("n_nodes"))
          val nEdges = e
            .join(rich.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
            .join(rich.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
            .agg(count(lit(1)).cast("long").as("n_edges"))
          nNodes.join(nEdges)
            .select(lit(k).as("k"), col("n_nodes"), col("n_edges"))
        }
        perK.reduce(_.unionAll(_))
    }
    counts
      .select(col("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") > 1,
          Binning.floorDivCol(lit(2L) * col("n_edges") * lit(1000000L),
            col("n_nodes") * (col("n_nodes") - 1)))
          .otherwise(lit(null).cast("long")).as("phi_ppm"))
      .orderedSmall(col("k"))
  }

  /** Degree assortativity (#382, Newman 2002): Pearson correlation
    * of endpoint degrees over the symmetric edge list of the same
    * part-co-occurrence graph as #247 — do hub parts co-occur with
    * hubs (r > 0, social-network-like) or with leaves (r < 0, the
    * hub-and-spoke catalog shape)? The one-number structure summary
    * that tells you whether degree-ordered orientation (#247) and
    * hot-key salting will pay off. One distinct pair stage (shared
    * shape with #247), one degree aggregate, two equi-joins to tag
    * endpoint degrees, one moment aggregate; exact decimal sums
    * (Σd² ≈ M·deg² overflows long at corpus scale); the final r is
    * one mirrored double from exact integers.
    */
  val qAssortativity = GateQuery.sql(
    "q_assortativity",
    """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e2 AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
      |  FROM e2 GROUP BY 1),
      |j AS (SELECT du.deg AS dj, dv.deg AS dk FROM e2
      |  JOIN deg du ON e2.u = du.node JOIN deg dv ON e2.v = dv.node),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(dj) AS HUGEINT) AS sx, CAST(sum(dk) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(dj AS HUGEINT) * dj) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(dk AS HUGEINT) * dk) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(dj AS HUGEINT) * dk) AS HUGEINT) AS sxy
      |  FROM j),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
      |SELECT nn.n_nodes, a.m AS n_edges_directed,
      |  CASE WHEN a.m * a.sxx - a.sx * a.sx > 0
      |      AND a.m * a.syy - a.sy * a.sy > 0 THEN
      |    round(CAST(a.m * a.sxy - a.sx * a.sy AS DOUBLE)
      |      / sqrt(CAST(a.m * a.sxx - a.sx * a.sx AS DOUBLE)
      |        * CAST(a.m * a.syy - a.sy * a.sy AS DOUBLE)), 4) + 0.0
      |  END AS assortativity
      |FROM a, nn""".stripMargin) { (s, d) =>
    // session-cached driver peel graph (the q_kcore/q_ktruss CSR,
    // shared): every moment is an O(V+E) pass over the cached
    // topology — sums exact (BigInt for the decimal(38,0) columns),
    // the final r the same cast/round tail, so rows are identical.
    // Past the driver bound: the distributed moment plan, unchanged.
    peelGraph(s, d) match {
      case Some(pg) =>
        import s.implicits._
        val (nNodes, m, r) = pg.assortativityStats()
        Seq((nNodes, m, r))
          .toDF("n_nodes", "n_edges_directed", "assortativity")
      case None =>
        qAssortativityDistributed(s, d)
    }
  }

  /** The distributed q_assortativity moment plan — the 100 TB path
    * past the driver peel-graph bound. */
  private def qAssortativityDistributed(s: SparkSession, d: String): DataFrame = {
    // both union branches re-read the distinct pair stage — they scan
    // the shared materialized snapshot (SharedRelations), so the
    // lineitem self-join never re-runs here
    val e = graft.SharedRelations.partCoEdges(s, d)
    val e2 = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = e2.select(col("u").as("node"))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("deg"))
      .persist() // feeds the moment aggregate, the S(v) join and n_nodes
    // e2 is SYMMETRIC, so the oracle's j-relation moments collapse to
    // degree-relation sums (node u appears as an endpoint deg(u)
    // times): m = Σdeg, sx = sy = Σdeg², sxx = syy = Σdeg³ — zero
    // edge-level joins for five of the six sums. Only the joint
    // moment sxy = Σ_v deg(v)·S(v), S(v) = Σ_{u∈N(v)} deg(u), needs
    // the edge list: ONE edge-level join tagging the source degree,
    // then a node-level aggregate + node-level join — the r8 plan
    // paid TWO edge-level degree-tag joins for the same integers.
    val dd = col("deg").cast("decimal(38,0)")
    val mom = deg.agg(
      count(lit(1)).cast("long").as("n_nodes"),
      sum(col("deg")).cast("long").as("m"),
      sum(dd * col("deg")).cast("decimal(38,0)").as("sx"),
      sum(dd * col("deg") * col("deg")).cast("decimal(38,0)").as("sxx"))
    val sv = e2.join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .groupBy(col("v")).agg(sum(col("du").cast("decimal(38,0)")).as("sv"))
    val sxy = sv.join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .agg(sum(col("sv") * col("dv")).cast("decimal(38,0)").as("sxy"))
    val md = col("m").cast("decimal(38,0)")
    val vx = md * col("sxx") - col("sx") * col("sx")
    graft.operators.Curation.withStats(mom, sxy)
      .select(col("n_nodes"), col("m").as("n_edges_directed"),
        when(vx > 0,
          round((md * col("sxy") - col("sx") * col("sx")).cast("double") /
            sqrt(vx.cast("double") * vx.cast("double")), 4) + lit(0.0))
          .as("assortativity"))
  }

  /** Jarque–Bera normality test (#248): per event type,
    * JB = n·(S²/6 + K²/24) from the same four exact power sums as
    * the moment profile (#241) — the "is a normal-theory test even
    * applicable here" audit (Jarque & Bera 1980). The closed form is
    * one mirrored double expression over exact integer sums.
    */
  val qJarqueBera = GateQuery.sql(
    "q_jarque_bera",
    s"""WITH e AS (SELECT event_type, ${centsSql("vd")} AS x FROM $E t),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS s1,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
       |    CAST(sum(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
       |    CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
       |  FROM e GROUP BY 1),
       |m AS (SELECT event_type, n, s1, s2,
       |    CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
       |    CAST(s3 AS DOUBLE) / n
       |      - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
       |      + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m3,
       |    CAST(s4 AS DOUBLE) / n
       |      - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
       |      + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
       |      - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
       |        * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
       |  FROM a),
       |k AS (SELECT event_type, n, s1, s2,
       |    m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) AS sk,
       |    m4 / (m2 * m2) - 3.0 AS ek
       |  FROM m)
       |SELECT event_type, n,
       |  CASE WHEN n * s2 = s1 * s1 THEN NULL
       |    ELSE round(n * (sk * sk / 6.0 + ek * ek / 24.0), 3) + 0.0 END AS jb_stat
       |FROM k ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(col("event_type"), Exact.cents(col("vd")).as("x"))
    val xd = col("x").cast("decimal(38,0)")
    val a = e.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("s1"),
      sum(xd * col("x")).cast("decimal(38,0)").as("s2"),
      sum(xd * col("x") * col("x")).cast("decimal(38,0)").as("s3"),
      sum(xd * col("x") * col("x") * col("x")).cast("decimal(38,0)").as("s4"))
    def dv(c: Column) = c.cast("double") / col("n")
    val m2 = dv(col("s2")) - dv(col("s1")) * dv(col("s1"))
    val m3 = dv(col("s3")) - lit(3) * dv(col("s1")) * dv(col("s2")) +
      lit(2) * dv(col("s1")) * dv(col("s1")) * dv(col("s1"))
    val m4 = dv(col("s4")) - lit(4) * dv(col("s1")) * dv(col("s3")) +
      lit(6) * dv(col("s1")) * dv(col("s1")) * dv(col("s2")) -
      lit(3) * dv(col("s1")) * dv(col("s1")) * dv(col("s1")) * dv(col("s1"))
    val sk = m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))
    val ek = m4 / (m2 * m2) - lit(3.0)
    val degenerate = col("n") * col("s2") === col("s1") * col("s1")
    a.select(col("event_type"), col("n"),
        when(degenerate, lit(null).cast("double"))
          .otherwise(round(col("n") * (sk * sk / lit(6.0) + ek * ek / lit(24.0)), 3) + lit(0.0))
          .as("jb_stat"))
      .orderedSmall(col("event_type"))
  }

  /** Anderson–Darling normality test (#307): the tail-weighted EDF
    * companion to Jarque–Bera (#248, moment-based) and KS (#206,
    * sup-based) — A² weights squared EDF deviations by 1/[F(1−F)],
    * so it catches tail departures JB's four moments and KS's single
    * sup miss (Anderson & Darling 1954; Stephens 1974 for the n≥8
    * practical form). Per event type over exact cents:
    *
    *   A² = −n − (1/n)·Σᵢ (2i−1)·[ln F(zᵢ) + ln(1−F(z_{n+1−i}))]
    *
    * with zᵢ the ascending standardized order statistics. The
    * reversed index folds into per-row weights — substituting
    * j = n+1−i makes the sum Σⱼ (2j−1)·lnF(zⱼ) + (2n+1−2j)·ln(1−F(zⱼ))
    * — so ONE type-keyed window pass (row_number + the n/S/Q scalar
    * sums share the same exchange) computes everything; no reversal
    * join. zⱼ = (n·xⱼ−S)·√((n−1)/(n·D)) with D = n·Q−S² is a double
    * built ONLY from exact integers through IEEE-exact ops (cast /
    * divide / sqrt / multiply), so both engines see bit-identical z.
    * F is the Abramowitz–Stegun 26.2.17 polynomial (the pinned
    * contract; |z| clamped to 8 keeps every tail term finite), and
    * each ln is micro-floored BEFORE the weighted integer sum —
    * order-free, partitioning-free. Ties are safe: equal x ⇒ equal
    * F, and the weight sum over a tie block is permutation-
    * invariant. Types with zero variance or n<8 are excluded by
    * exact predicate. Output in exact micro units via nonnegative
    * truncating division ((−sum) and n both positive).
    */
  val qAndersonDarling = GateQuery.sql(
    "q_anderson_darling", {
      val phi = "0.3989422804014327" // 1/sqrt(2*pi), double literal
      s"""WITH e AS (SELECT event_type, ${centsSql("vd")} AS x FROM $E t),
         |w AS (SELECT event_type, x,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         |    CAST(sum(x) OVER (PARTITION BY event_type) AS HUGEINT) AS s,
         |    CAST(sum(CAST(x AS HUGEINT) * x) OVER (PARTITION BY event_type) AS HUGEINT) AS q
         |  FROM e),
         |z0 AS (SELECT event_type, rn, n,
         |    CAST(n * x - s AS DOUBLE)
         |      * sqrt(CAST(n - 1 AS DOUBLE) / CAST(n * (n * q - s * s) AS DOUBLE)) AS z
         |  FROM w WHERE n * q - s * s > 0 AND n >= 8),
         |zc AS (SELECT event_type, rn, n, least(8.0, greatest(-8.0, z)) AS z FROM z0),
         |ft AS (SELECT event_type, rn, n, z,
         |    (exp(-(abs(z) * abs(z)) / 2.0) * $phi)
         |      * ((1.0 / (1.0 + 0.2316419 * abs(z)))
         |        * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
         |          * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
         |            * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
         |              * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
         |                * 1.330274429))))) AS tail
         |  FROM zc),
         |t AS (SELECT event_type, n,
         |    (2 * rn - 1) * CAST(floor(1000000 * (CASE WHEN z >= 0
         |        THEN ln(1.0 - tail) ELSE ln(tail) END)) AS BIGINT)
         |    + (2 * n + 1 - 2 * rn) * CAST(floor(1000000 * (CASE WHEN z >= 0
         |        THEN ln(tail) ELSE ln(1.0 - tail) END)) AS BIGINT) AS term
         |  FROM ft),
         |a AS (SELECT event_type, any_value(n) AS n,
         |    CAST(sum(term) AS HUGEINT) AS sm FROM t GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |  CAST((-sm) // n - n * 1000000 AS BIGINT) AS a2_micro
         |FROM a ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    val e = ev(s, d).select(col("event_type"), Exact.cents(col("vd")).as("x"))
    val wp = Window.partitionBy(col("event_type"))
    val wo = wp.orderBy(col("x"))
    val xd = col("x").cast("decimal(38,0)")
    val w = e.select(col("event_type"), col("x"),
      row_number().over(wo).cast("long").as("rn"),
      count(lit(1)).over(wp).cast("long").as("n"),
      sum(col("x")).over(wp).cast("decimal(38,0)").as("s"),
      sum(xd * col("x")).over(wp).cast("decimal(38,0)").as("q"))
    val d2 = col("n").cast("decimal(38,0)") * col("q") - col("s") * col("s")
    val z0 = w.filter(d2 > 0 && col("n") >= 8)
      .select(col("event_type"), col("rn"), col("n"),
        ((col("n").cast("decimal(38,0)") * col("x") - col("s")).cast("double") *
          sqrt((col("n") - 1).cast("double") /
            (col("n").cast("decimal(38,0)") * d2).cast("double"))).as("z"))
    val zcl = z0.select(col("event_type"), col("rn"), col("n"),
      least(lit(8.0), greatest(lit(-8.0), col("z"))).as("z"))
    val tcol = lit(1.0) / (lit(1.0) + lit(0.2316419) * abs(col("z")))
    val tail = (exp(-(abs(col("z")) * abs(col("z"))) / lit(2.0)) * lit(0.3989422804014327)) *
      (tcol * (lit(0.319381530) + tcol * (lit(-0.356563782) + tcol *
        (lit(1.781477937) + tcol * (lit(-1.821255978) + tcol * lit(1.330274429))))))
    val ft = zcl.select(col("event_type"), col("rn"), col("n"), col("z"), tail.as("tail"))
    val term = (lit(2L) * col("rn") - 1) *
      floor(lit(1000000) * when(col("z") >= 0, log(lit(1.0) - col("tail")))
        .otherwise(log(col("tail")))).cast("long") +
      (lit(2L) * col("n") + 1 - lit(2L) * col("rn")) *
      floor(lit(1000000) * when(col("z") >= 0, log(col("tail")))
        .otherwise(log(lit(1.0) - col("tail")))).cast("long")
    ft.select(col("event_type"), col("n"), term.as("term"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n0"),
        sum(col("term").cast("decimal(38,0)")).cast("decimal(38,0)").as("sm"))
      .select(col("event_type"), col("n0").cast("long").as("n"),
        (floorDivBig(-col("sm"), col("n0")) - col("n0").cast("decimal(38,0)") * lit(1000000L))
          .cast("long").as("a2_micro"))
      .orderedSmall(col("event_type"))
  }

  /** Acklam's rational approximation to the standard-normal inverse
    * CDF (|relative error| < 1.15e-9; the widely published 2003
    * algorithm). DRIVER-SIDE ONLY — feeds the precomputed
    * Shapiro–Wilk coefficient literals, never runs in a gate plan
    * (the Benford/NDCG literal-domain discipline).
    */
  private def invPhi(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1.0)
    } else if (p <= 1.0 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1.0)
    }
  }

  /** Shapiro–Wilk sample size: the classic table's upper bound (the
    * original test is specified for 3 ≤ n ≤ 50), which is exactly
    * what makes a FIXED-n design sound — the coefficient vector
    * depends on n, so pinning n = 50 lets both engines inline the
    * same literal table.
    */
  private[graft] val swN = 50

  /** Royston (1992, AS R94) approximate Shapiro–Wilk weights for
    * n = [[swN]], micro-quantized (×1e6, round-nearest) — computed
    * ONCE in the driver from Blom scores mᵢ = Φ⁻¹((i−3/8)/(n+1/4)),
    * the two polynomial-corrected end weights, and the normalizing
    * φ. The lower half MIRRORS the quantized upper half
    * (aᵢ = −a_{n+1−i} exactly in integer units), so Σaᵢ = 0 exactly
    * and the statistic is location-invariant in exact arithmetic.
    */
  private[graft] val swCoefMicro: Seq[Long] = {
    val n = swN
    val m = (1 to n).map(i => invPhi((i - 0.375) / (n + 0.25)))
    val mm = m.map(x => x * x).sum
    val u = 1.0 / math.sqrt(n.toDouble)
    val cn = m(n - 1) / math.sqrt(mm)
    val cn1 = m(n - 2) / math.sqrt(mm)
    val an = cn + u * (0.221157 + u * (-0.147981 + u * (-2.071190 +
      u * (4.434685 + u * -2.706056))))
    val an1 = cn1 + u * (0.042981 + u * (-0.293762 + u * (-1.752461 +
      u * (5.682633 + u * -3.582633))))
    val phi = (mm - 2.0 * m(n - 1) * m(n - 1) - 2.0 * m(n - 2) * m(n - 2)) /
      (1.0 - 2.0 * an * an - 2.0 * an1 * an1)
    val raw = Array.tabulate(n) { idx =>
      val i = idx + 1
      if (i == n) an
      else if (i == n - 1) an1
      else m(idx) / math.sqrt(phi)
    }
    val micro = new Array[Long](n)
    var idx = n / 2
    while (idx < n) { micro(idx) = math.round(raw(idx) * 1e6); idx += 1 }
    idx = 0
    while (idx < n / 2) { micro(idx) = -micro(n - 1 - idx); idx += 1 }
    micro.toSeq
  }

  /** Shapiro–Wilk normality test (#317): the highest-power small-n
    * normality test (Shapiro & Wilk 1965), completing the family next
    * to Jarque–Bera (#248, moments), KS (#206, sup-EDF) and
    * Anderson–Darling (#307, tail-weighted EDF) — W compares the
    * BLUE estimate of σ from order statistics against the sample
    * variance, so it reacts to both skew and tail weight at sample
    * sizes where the EDF tests are underpowered.
    *
    * 100 TB design: the classic test is only SPECIFIED to n ≤ 50, so
    * the operator takes a deterministic fixed-size sample — the
    * [[swN]] smallest portable-hash keys per event type through the
    * salted two-phase top-K window (never a per-type full sort; a
    * billion-row type costs its top-50-per-salt partials). Fixing n
    * makes the n-dependent Royston weight vector a LITERAL both
    * engines index by rank (`element_at` / `list_extract` — zero
    * joins, the NDCG-discount trick), and the whole statistic is then
    * exact integers: b = Σ aᵢ_micro·x_(i) (ties safe — equal x make
    * any rank assignment within the tie block sum identically),
    * W_ppm = ⌊b²·n / (1e6·(n·Q − S²))⌋ with S, Q the sample power
    * sums. Types that cannot fill the full sample, or with zero
    * sample variance, are excluded by exact predicates. W is exactly
    * location/scale-invariant in integer units (Σaᵢ = 0 by mirrored
    * quantization) — pinned in AuditEdgeSpec along with the
    * outlier-sensitivity direction.
    */
  val qShapiroWilk = GateQuery.sql(
    "q_shapiro_wilk", {
      val coefList = swCoefMicro.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT event_id, event_type, ${centsSql("vd")} AS x,
         |    ${TextOps.baseHashSql("'sw:' || CAST(event_id AS VARCHAR)")} AS h
         |  FROM $E t),
         |smp AS (SELECT event_type, event_id, x FROM (
         |    SELECT event_type, event_id, x,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rs
         |    FROM e) WHERE rs <= $swN),
         |r AS (SELECT event_type, x,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY x, event_id)
         |      AS INTEGER) AS j,
         |    count(*) OVER (PARTITION BY event_type) AS ns
         |  FROM smp),
         |f AS (SELECT event_type, x, list_extract($coefList, j) AS a
         |  FROM r WHERE ns = $swN),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(a AS HUGEINT) * x) AS HUGEINT) AS b,
         |    CAST(sum(x) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
         |  FROM f GROUP BY 1)
         |SELECT event_type, n AS n_sample,
         |  CASE WHEN n * q - sx * sx > 0 THEN
         |    CAST((b * b * n) // (1000000 * (n * q - sx * sx)) AS BIGINT)
         |  ELSE NULL END AS w_ppm
         |FROM g ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    val e = ev(s, d).select(col("event_type"), col("event_id"),
      Exact.cents(col("vd")).as("x"),
      TextOps.baseHash(concat(lit("sw:"), col("event_id").cast("string"))).as("h"))
    val smp = Relational.topKPerGroupSalted(e, Seq(col("event_type")),
      Seq(col("h"), col("event_id")), swN, col("event_id"), rankCol = "_rs")
      .drop("_rs", "h")
    val wp = Window.partitionBy(col("event_type"))
    val ranked = smp
      .withColumn("j", row_number().over(wp.orderBy(col("x"), col("event_id"))).cast("int"))
      .withColumn("ns", count(lit(1)).over(wp).cast("long"))
      .filter(col("ns") === swN)
    val aCol = element_at(array(swCoefMicro.map(lit(_)): _*), col("j"))
    val g = ranked.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(aCol.cast("decimal(38,0)") * col("x")).cast("decimal(38,0)").as("b"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)").as("q"))
    val dvar = col("n").cast("decimal(38,0)") * col("q") - col("sx") * col("sx")
    g.select(col("event_type"), col("n").as("n_sample"),
        when(dvar > 0,
          floorDivBig(col("b") * col("b") * col("n"),
            lit(1000000L).cast("decimal(38,0)") * dvar).cast("long"))
          .otherwise(lit(null).cast("long")).as("w_ppm"))
      .orderedSmall(col("event_type"))
  }

  /** The A&S 26.2.17 upper-tail polynomial for the standard normal —
    * the SAME pinned contract as the Anderson–Darling gate (#307):
    * both engines evaluate this exact expression text, so the doubles
    * are bit-identical. `z` must already be |z| (nonnegative).
    */
  private def normTailSql(az: String): String =
    s"""(exp(-(($az) * ($az)) / 2.0) * 0.3989422804014327)
       |      * ((1.0 / (1.0 + 0.2316419 * ($az)))
       |        * (0.319381530 + (1.0 / (1.0 + 0.2316419 * ($az)))
       |          * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * ($az)))
       |            * (1.781477937 + (1.0 / (1.0 + 0.2316419 * ($az)))
       |              * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * ($az)))
       |                * 1.330274429)))))""".stripMargin

  /** Spark mirror of [[normTailSql]]. */
  private def normTail(az: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    (exp(-(az * az) / lit(2.0)) * lit(0.3989422804014327)) *
      (t * (lit(0.319381530) + t * (lit(-0.356563782) + t *
        (lit(1.781477937) + t * (lit(-1.821255978) + t * lit(1.330274429))))))
  }

  /** Benjamini–Hochberg FDR over the cell-residual battery (#327):
    * every corpus audit here runs MANY tests at once, and at 40+
    * simultaneous cells "p < 0.05 somewhere" is guaranteed noise —
    * BH (Benjamini & Hochberg 1995) is the standard step-up control
    * next to the single-test gates (#178 tells you IF the table
    * deviates; this tells you WHICH cells survive multiplicity).
    * Battery: the (cohort × event type) standardized Pearson
    * residuals z = (O−E)/√(E(1−R/N)(1−C/N)) of #178's contingency
    * table; two-sided p = 2·tail(|z|) through the pinned A&S
    * polynomial (mirrored doubles over exact counts), micro-floored
    * per cell. The step-up itself is EXACT integers: reject ranks
    * i ≤ kmax where kmax = max{i : p_micro·m ≤ i·α_micro}
    * (α = 0.05 → 50000) — windows run over the 40-row CELL relation,
    * never the corpus. Fully-tied-rank order pinned by (p, type,
    * cohort).
    */
  val qBhFdr = GateQuery.sql(
    "q_bh_fdr",
    s"""WITH o AS (SELECT user_id % 8 AS g, event_type AS t,
       |    CAST(count(*) AS BIGINT) AS o
       |  FROM $E e GROUP BY 1, 2),
       |m AS (SELECT g, t, o, CAST(sum(o) OVER (PARTITION BY g) AS BIGINT) AS r,
       |    CAST(sum(o) OVER (PARTITION BY t) AS BIGINT) AS c,
       |    CAST(sum(o) OVER () AS BIGINT) AS n FROM o),
       |z0 AS (SELECT g, t,
       |    (CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * c / n)
       |      / sqrt((CAST(r AS DOUBLE) * c / n)
       |        * (1.0 - CAST(r AS DOUBLE) / n) * (1.0 - CAST(c AS DOUBLE) / n)) AS z
       |  FROM m WHERE r < n AND c < n),
       |zc AS (SELECT g, t, least(8.0, abs(z)) AS az FROM z0),
       |p AS (SELECT g, t,
       |    CAST(floor(2000000 * ${normTailSql("az")}) AS BIGINT) AS p_micro
       |  FROM zc),
       |r2 AS (SELECT g, t, p_micro,
       |    CAST(row_number() OVER (ORDER BY p_micro, t, g) AS BIGINT) AS i,
       |    CAST(count(*) OVER () AS BIGINT) AS mm FROM p),
       |k AS (SELECT max(CASE WHEN p_micro * mm <= i * 50000 THEN i ELSE 0 END) AS kmax
       |  FROM r2)
       |SELECT g AS cohort, t AS event_type, p_micro, i AS p_rank,
       |  (i * 50000) // mm AS bh_crit_micro,
       |  i <= kmax AS rejected
       |FROM r2, k ORDER BY i""".stripMargin) { (s, d) =>
    val o = ev(s, d)
      .groupBy(pmod(col("user_id"), lit(8L)).as("g"), col("event_type").as("t"))
      .agg(count(lit(1)).cast("long").as("o"))
    val m = o
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("g"))).cast("long"))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("t"))).cast("long"))
      .withColumn("n", sum(col("o")).over(
        Window.partitionBy()).cast("long"))
      .filter(col("r") < col("n") && col("c") < col("n"))
    val ed = col("r").cast("double") * col("c") / col("n")
    val z = (col("o").cast("double") - ed) /
      sqrt(ed * (lit(1.0) - col("r").cast("double") / col("n")) *
        (lit(1.0) - col("c").cast("double") / col("n")))
    val p = m.select(col("g"), col("t"),
      floor(lit(2000000) * normTail(least(lit(8.0), abs(z)))).cast("long").as("p_micro"))
    val r2 = p
      .withColumn("i", row_number().over(
        Window.orderBy(col("p_micro"), col("t"), col("g"))).cast("long"))
      .withColumn("mm", count(lit(1)).over(Window.partitionBy()).cast("long"))
    val k = r2.agg(max(when(col("p_micro") * col("mm") <= col("i") * 50000L, col("i"))
      .otherwise(lit(0L))).as("kmax"))
    Curation.withStats(r2, k)
      .select(col("g").as("cohort"), col("t").as("event_type"), col("p_micro"),
        col("i").as("p_rank"),
        Binning.floorDivCol(col("i") * lit(50000L), col("mm")).as("bh_crit_micro"),
        (col("i") <= col("kmax")).as("rejected"))
      .orderedSmall(col("p_rank"))
  }

  /** Per-source Anderson–Darling drift panel (#318): each source's
    * doc-length distribution tested against the REST of the corpus by
    * the two-sample Anderson–Darling statistic (Scholz & Stephens
    * 1987, the right-continuous discrete form — scipy's
    * anderson_ksamp midrank=false shape, specialized to k=2) —
    * the tail-weighted member of the drift family next to W1 (#169,
    * mass transport), KS (#206, sup gap) and CvM (#314, integrated
    * gap²). For k=2 the two per-sample terms collapse (the two
    * cross-scaled deviations are exact negatives), giving
    *
    *   A² = Σ_{j: B_j<N} ℓ_j·d_j² / (n₁·n₂·B_j·(N−B_j)),
    *   d_j = N·M₁ⱼ − n₁·B_j
    *
    * over the VALUE-COLLAPSED pooled grid (distinct n_chars — never
    * per-doc rows): d is the SAME cross-scaled integer deviation the
    * KS/CvM gates use; the AD weight 1/(B(N−B)) upweights the tails
    * where CvM's uniform N² weight is flat. Each term is
    * micro-floored from exact integers (d² nonnegative) before the
    * per-source sum — order-free, engine-identical. Shape: the
    * q_w1_drift layout verbatim — bounded source list × value grid
    * broadcast product, cumulative windows over the grid, 1-row
    * totals broadcast. Sources comprising the whole corpus are
    * excluded by the exact predicate n_s < N.
    */
  val qAdDrift = GateQuery.sql(
    "q_ad_drift",
    """WITH v AS (SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
      |g AS (SELECT v, CAST(sum(c) AS BIGINT) AS cc FROM v GROUP BY v),
      |cg AS (SELECT v, cc, CAST(sum(cc) OVER (ORDER BY v) AS BIGINT) AS cumc FROM g),
      |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM g),
      |sv AS (SELECT s.source, cg.v, cg.cc, cg.cumc,
      |    CAST(sum(coalesce(x.c, 0)) OVER (PARTITION BY s.source ORDER BY cg.v) AS BIGINT) AS cums
      |  FROM (SELECT DISTINCT source FROM documents) s
      |  CROSS JOIN cg
      |  LEFT JOIN v x ON x.source = s.source AND x.v = cg.v),
      |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1),
      |t AS (SELECT sv.source, n_s, nc,
      |    CASE WHEN cumc < nc THEN
      |      (1000000 * CAST(cc AS HUGEINT)
      |         * (CAST(nc AS HUGEINT) * cums - CAST(n_s AS HUGEINT) * cumc)
      |         * (CAST(nc AS HUGEINT) * cums - CAST(n_s AS HUGEINT) * cumc))
      |      // (CAST(n_s AS HUGEINT) * (nc - n_s) * cumc * (nc - cumc))
      |    ELSE 0 END AS term
      |  FROM sv, tot JOIN ns ON ns.source = sv.source
      |  WHERE n_s < nc)
      |SELECT source, any_value(n_s) AS n_src, any_value(nc - n_s) AS n_rest,
      |  CAST(sum(term) AS BIGINT) AS ad_micro
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val v = docs.groupBy(col("source"), col("n_chars").as("v")).agg(count(lit(1)).as("c"))
    val g = v.groupBy(col("v")).agg(sum(col("c")).cast("long").as("cc"))
    val wOrd = Window.orderBy(col("v"))
    val cg = g.withColumn("cumc", sum(col("cc")).over(wOrd).cast("long"))
    val tot = g.agg(sum(col("cc")).cast("long").as("nc"))
    val sources = docs.select(col("source")).distinct()
    val sv = cg.crossJoin(broadcast(sources))
      .join(v.select(col("source"), col("v"), col("c")), Seq("source", "v"), "left")
      .withColumn("cums",
        sum(coalesce(col("c"), lit(0L)))
          .over(Window.partitionBy(col("source")).orderBy(col("v"))).cast("long"))
    val ns = docs.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_s"))
    val st = Curation.withStats(sv, tot).join(broadcast(ns), "source")
      .filter(col("n_s") < col("nc"))
    val dj = col("nc").cast("decimal(38,0)") * col("cums") -
      col("n_s").cast("decimal(38,0)") * col("cumc")
    val den = col("n_s").cast("decimal(38,0)") * (col("nc") - col("n_s")) *
      col("cumc") * (col("nc") - col("cumc"))
    val term = when(col("cumc") < col("nc"),
      floorDivBig(lit(1000000L).cast("decimal(38,0)") * col("cc") * dj * dj, den))
      .otherwise(lit(0L).cast("decimal(38,0)"))
    st.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_src"),
        max(col("nc") - col("n_s")).cast("long").as("n_rest"),
        sum(term).cast("long").as("ad_micro"))
      .orderedSmall(col("source"))
  }

  /** Partial autocorrelation (#249): PACF at lags 1–3 of each event
    * type's hourly totals via the Durbin–Levinson recursion unrolled
    * to closed forms over the ACF values (#181's exact num/den
    * integers) — the AR-order diagnostic (an AR(p) series' PACF cuts
    * off after lag p, where the ACF only decays). One ordered window
    * + one aggregate per type; the recursion itself is three mirrored
    * double expressions per 10-row output.
    */
  val qPacf = GateQuery.sql(
    "q_pacf",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |st AS (SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS s
       |  FROM g GROUP BY 1),
       |l AS (SELECT g.event_type, st.n, st.s, y,
       |    lead(y, 1) OVER (PARTITION BY g.event_type ORDER BY grid) AS y1,
       |    lead(y, 2) OVER (PARTITION BY g.event_type ORDER BY grid) AS y2,
       |    lead(y, 3) OVER (PARTITION BY g.event_type ORDER BY grid) AS y3
       |  FROM g JOIN st USING (event_type)),
       |a AS (SELECT event_type, any_value(n) AS n,
       |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)) AS HUGEINT) AS den,
       |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y1 - s)) AS HUGEINT) AS num1,
       |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y2 - s)) AS HUGEINT) AS num2,
       |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y3 - s)) AS HUGEINT) AS num3
       |  FROM l GROUP BY event_type),
       |r AS (SELECT event_type, n,
       |    CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
       |    CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
       |    CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3
       |  FROM a),
       |p AS (SELECT event_type, n, r1, r2, r3,
       |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
       |  FROM r),
       |q AS (SELECT event_type, n, r1, r2, r3, p2, r1 - p2 * r1 AS a21 FROM p)
       |SELECT event_type, CAST(n AS BIGINT) AS n_points,
       |  round(r1, 6) + 0.0 AS pacf1,
       |  CASE WHEN 1.0 - r1 * r1 = 0 THEN NULL
       |    ELSE round(p2, 6) + 0.0 END AS pacf2,
       |  CASE WHEN 1.0 - r1 * r1 = 0 OR 1.0 - a21 * r1 - p2 * r2 = 0 THEN NULL
       |    ELSE round((r3 - a21 * r2 - p2 * r1) / (1.0 - a21 * r1 - p2 * r2), 6) + 0.0 END AS pacf3
       |FROM q ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val st = g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumUnits(col("y")).cast("long").as("s"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val withLead = (1 to 3).foldLeft(g.join(broadcast(st), "event_type")) { (df, k) =>
      df.withColumn(s"y$k", lead(col("y"), k).over(wo))
    }
    def dev(c: Column) = col("n").cast("decimal(38,0)") * c - col("s")
    val a = withLead.groupBy(col("event_type")).agg(
      first(col("n")).as("n"),
      sum(dev(col("y")) * dev(col("y"))).cast("decimal(38,0)").as("den"),
      sum(dev(col("y")) * dev(col("y1"))).cast("decimal(38,0)").as("num1"),
      sum(dev(col("y")) * dev(col("y2"))).cast("decimal(38,0)").as("num2"),
      sum(dev(col("y")) * dev(col("y3"))).cast("decimal(38,0)").as("num3"))
    val r1 = col("num1").cast("double") / col("den").cast("double")
    val r2 = col("num2").cast("double") / col("den").cast("double")
    val r3 = col("num3").cast("double") / col("den").cast("double")
    val p2 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val a21 = r1 - p2 * r1
    a.select(col("event_type"), col("n").cast("long").as("n_points"),
        (round(r1, 6) + lit(0.0)).as("pacf1"),
        when(lit(1.0) - r1 * r1 === 0, lit(null).cast("double"))
          .otherwise(round(p2, 6) + lit(0.0)).as("pacf2"),
        when(lit(1.0) - r1 * r1 === 0 || lit(1.0) - a21 * r1 - p2 * r2 === 0,
            lit(null).cast("double"))
          .otherwise(round((r3 - a21 * r2 - p2 * r1) / (lit(1.0) - a21 * r1 - p2 * r2), 6)
            + lit(0.0)).as("pacf3"))
      .orderedSmall(col("event_type"))
  }

  /** Mann–Kendall trend test (#250): per user cohort, S = Σ_{i<j}
    * sgn(x_j − x_i) over each user's time-ordered event values —
    * the standard nonparametric monotone-trend statistic (Mann 1945;
    * Kendall's τ against time). Pairs form per USER (bounded per-user
    * event counts — the same per-entity quadratic bound as the DTW
    * gate), never across users, so the self-join fan-out is
    * Σ_u n_u² with n_u data-model-bounded; cohort aggregation then
    * reduces to 8 rows. τ = S / n_pairs is the one mirrored double.
    */
  val qMannKendall = GateQuery.sql(
    "q_mann_kendall",
    s"""WITH e AS (SELECT user_id, user_id % 8 AS g, ts_us, event_id,
       |    ${centsSql("vd")} AS c FROM $E t),
       |p AS (SELECT a.g AS g,
       |    CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS co,
       |    CASE WHEN b.c < a.c THEN 1 ELSE 0 END AS di
       |  FROM e a JOIN e b ON a.user_id = b.user_id
       |    AND (a.ts_us < b.ts_us OR (a.ts_us = b.ts_us AND a.event_id < b.event_id))),
       |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(co) AS BIGINT) AS concordant,
       |    CAST(sum(di) AS BIGINT) AS discordant
       |  FROM p GROUP BY g)
       |SELECT g, n_pairs, concordant, discordant,
       |  n_pairs - concordant - discordant AS ties,
       |  round(CAST(concordant - discordant AS DOUBLE) / n_pairs, 6) + 0.0 AS tau
       |FROM a ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(col("user_id"), pmod(col("user_id"), lit(8L)).as("g"),
      col("ts_us"), col("event_id"), Exact.cents(col("vd")).as("c"))
    // per-user O(n log n) kernel instead of the event×event self-join
    // (the r8 verdict's scale-killer): ONE groupBy shuffles each
    // user's series once, sort_array pins the exact (ts, event_id)
    // pair order the join predicate used, and the merge-sort
    // inversion count reproduces the identical pair aggregate —
    // shuffle volume n per user, never n²
    val per = e.groupBy(col("user_id"), col("g"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("c"))))
        .as("seq"))
      .select(col("g"), graft.expressions.SeriesExpressions.mkPairStats(
        transform(col("seq"), x => x.getField("c"))).as("mk"))
    val agg = per.groupBy(col("g")).agg(
      sum(element_at(col("mk"), 1)).cast("long").as("n_pairs"),
      sum(element_at(col("mk"), 2)).cast("long").as("concordant"),
      sum(element_at(col("mk"), 3)).cast("long").as("discordant"))
    // single-event users contribute zero pairs; a cohort with none at
    // all never appeared in the join formulation's output either
    agg.filter(col("n_pairs") > 0)
      .select(col("g"), col("n_pairs"), col("concordant"), col("discordant"),
        (col("n_pairs") - col("concordant") - col("discordant")).as("ties"),
        (round((col("concordant") - col("discordant")).cast("double") / col("n_pairs"), 6)
          + lit(0.0)).as("tau"))
      .orderedSmall(col("g"))
  }

  /** Seasonal Mann–Kendall trend test (#365): is spend trending
    * across DAYS after removing the hour-of-day cycle? Plain MK
    * (#250) on a periodic series reads the daily cycle as noise (or
    * worse, trend); the seasonal variant (Hirsch & Slack 1984 — the
    * water-quality monitoring standard) runs MK WITHIN each
    * hour-of-day season and sums: S = Σ_h S_h,
    * Var = Σ_h n_h(n_h−1)(2n_h+5)/18. Pairs are (day, day') within a
    * (type, hour) season — bounded by calendar days², never event
    * count, on an equi-join key; S exact integer (ties contribute 0),
    * z the single mirrored double with the ±1 continuity correction
    * picked by exact sign predicates.
    */
  val qSeasonalMk = GateQuery.sql(
    "q_seasonal_mk",
    s"""WITH g AS (SELECT event_type, xs // 86400 AS day,
       |    (xs // 3600) % 24 AS hod, CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2, 3),
       |p AS (SELECT a.event_type AS event_type,
       |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sg
       |  FROM g a JOIN g b ON a.event_type = b.event_type AND a.hod = b.hod
       |    AND a.day < b.day),
       |sv AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS nh
       |  FROM g GROUP BY 1, 2),
       |vv AS (SELECT event_type,
       |    CAST(sum(CAST(nh AS HUGEINT) * (nh - 1) * (2 * nh + 5)) AS BIGINT) AS v18,
       |    CAST(count(*) AS BIGINT) AS n_seasons
       |  FROM sv GROUP BY 1),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(sg) AS BIGINT) AS s FROM p GROUP BY 1)
       |SELECT a.event_type AS event_type, n_seasons, n_pairs, s AS s_stat,
       |  CASE WHEN v18 = 0 THEN NULL
       |    WHEN s > 0 THEN round((s - 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0), 4) + 0.0
       |    WHEN s < 0 THEN round((s + 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0), 4) + 0.0
       |    ELSE 0.0 END AS z_trend
       |FROM a JOIN vv ON vv.event_type = a.event_type
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    // One corpus aggregate to the CALENDAR-BOUNDED (type, day, hod)
    // grid, then the within-season sign pairs + variance replay on
    // the driver — the q_theil_sen r13 shape (exact integers; the
    // only doubles are the z expression, replayed op-for-op).
    val g = ev(s, d).groupBy(col("event_type"),
        Binning.floorDiv(col("xs"), 86400L).as("day"),
        pmod(Binning.floorDiv(col("xs"), 3600L), lit(24L)).as("hod"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val grid = g.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = grid.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (et, rows) =>
      var nPairs = 0L
      var sStat = 0L
      var v18 = 0L
      var nSeasons = 0L
      rows.groupBy(_._3).foreach { case (_, season) =>
        val pts = season.map(r => (r._2, r._4)).sortBy(_._1)
        val nh = pts.length.toLong
        nSeasons += 1
        v18 += nh * (nh - 1) * (2 * nh + 5)
        var i = 0
        while (i < pts.length) {
          var j = i + 1
          while (j < pts.length) {
            nPairs += 1
            sStat += java.lang.Long.signum(pts(j)._2 - pts(i)._2)
            j += 1
          }
          i += 1
        }
      }
      if (nPairs == 0) None // the SQL a CTE emits nothing for this type
      else {
        val sd = math.sqrt(v18.toDouble / 18.0)
        def r4(x: Double): java.lang.Double = java.lang.Double.valueOf(
          java.math.BigDecimal.valueOf(x)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0)
        val z: java.lang.Double =
          if (v18 == 0) null
          else if (sStat > 0) r4((sStat - 1).toDouble / sd)
          else if (sStat < 0) r4((sStat + 1).toDouble / sd)
          else java.lang.Double.valueOf(0.0)
        Some((et, nSeasons, nPairs, sStat, Option(z).map(_.doubleValue)))
      }
    }
    out.toDF("event_type", "n_seasons", "n_pairs", "s_stat", "z_trend")
      .orderedSmall(col("event_type"))
  }

  /** Seasonal Sen's slope (#367): the MAGNITUDE companion of the
    * seasonal MK test (#365) — the median of all within-season
    * pairwise slopes (y₂−y₁)/(d₂−d₁) (Sen 1968 / Hirsch & Slack
    * 1984), robust to outliers and the hour-of-day cycle alike;
    * answers "HOW FAST is spend drifting per day" where #365 only
    * answers whether. Same bounded (type, hour)-keyed day-pair
    * equi-join as #365; each slope quantized to exact micro
    * cents/day by floor division (deterministic total order — no
    * cross-multiplied rational comparisons), then the LO-median is
    * the #251 pinned rule (smallest value with 2·cum ≥ n) over the
    * VALUE-COLLAPSED slope grid.
    */
  val qSenSlope = GateQuery.sql(
    "q_sen_slope",
    s"""WITH g AS (SELECT event_type, xs // 86400 AS day,
       |    (xs // 3600) % 24 AS hod, CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2, 3),
       |p AS (SELECT a.event_type AS event_type,
       |    CASE WHEN b.y - a.y >= 0 THEN ((b.y - a.y) * 1000000) // (b.day - a.day)
       |      ELSE -(((a.y - b.y) * 1000000) // (b.day - a.day)) END AS sl
       |  FROM g a JOIN g b ON a.event_type = b.event_type AND a.hod = b.hod
       |    AND a.day < b.day),
       |v AS (SELECT event_type, sl, count(*) AS cnt FROM p GROUP BY 1, 2),
       |w AS (SELECT event_type, sl, cnt,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY sl) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM v)
       |SELECT event_type, CAST(any_value(n) AS BIGINT) AS n_slopes,
       |  CAST(min(sl) AS BIGINT) AS sen_slope_micro
       |FROM w WHERE 2 * cum >= n GROUP BY event_type
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    // One corpus aggregate to the CALENDAR-BOUNDED (type, day, hod)
    // grid (≤ types × days × 24 rows), then the within-season pair
    // fan-out + LO-median replay on the driver in the exact integer
    // arithmetic of the SQL mirror — the q_theil_sen r13 shape; the
    // same days²·24 horizon bound governs driver memory.
    val g = ev(s, d).groupBy(col("event_type"),
        Binning.floorDiv(col("xs"), 86400L).as("day"),
        pmod(Binning.floorDiv(col("xs"), 3600L), lit(24L)).as("hod"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val grid = g.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = grid.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (et, rows) =>
      val slopes = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.groupBy(_._3).foreach { case (_, season) =>
        val pts = season.map(r => (r._2, r._4)).sortBy(_._1)
        var i = 0
        while (i < pts.length) {
          var j = i + 1
          while (j < pts.length) {
            val dy = pts(j)._2 - pts(i)._2
            val dd = pts(j)._1 - pts(i)._1
            slopes += (if (dy >= 0) Math.floorDiv(dy * 1000000L, dd)
                       else -Math.floorDiv(-dy * 1000000L, dd))
            j += 1
          }
          i += 1
        }
      }
      if (slopes.isEmpty) None // no within-season pair: SQL emits nothing
      else {
        val a = slopes.toArray
        java.util.Arrays.sort(a)
        val n = a.length.toLong
        // LO-median: smallest sl with 2·cum ≥ n (the #251 pinned rule)
        val k = ((n + 1) / 2 - 1).toInt
        Some((et, n, a(k)))
      }
    }
    out.toDF("event_type", "n_slopes", "sen_slope_micro")
      .orderedSmall(col("event_type"))
  }

  /** Brown–Forsythe / Levene variance-homogeneity test (#251): the
    * one-way ANOVA F statistic (#211's exact micro-integer
    * decomposition, reused verbatim) applied to z = |x − med_g| with
    * med_g the per-type LO-MEDIAN — Brown & Forsythe 1974's robust
    * center choice, pinned to "smallest value with 2·cum ≥ n" over
    * the VALUE-COLLAPSED per-type grid so both engines pick the
    * identical integer median (no engine median() semantics
    * involved). Gate for every pooled-variance assumption upstream.
    */
  val qLevene = GateQuery.sql(
    "q_levene",
    s"""WITH e AS (SELECT event_type, ${centsSql("vd")} AS c FROM $E t),
       |v AS (SELECT event_type, c, count(*) AS cnt FROM e GROUP BY 1, 2),
       |w AS (SELECT event_type, c, cnt,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM v),
       |med AS (SELECT event_type, min(c) AS med FROM w WHERE 2 * cum >= n GROUP BY 1),
       |z AS (SELECT e.event_type, abs(e.c - med.med) AS zc
       |  FROM e JOIN med USING (event_type)),
       |a AS (SELECT event_type, count(*) AS n_g, CAST(sum(zc) AS BIGINT) AS s_g,
       |    CAST(sum(CAST(zc AS HUGEINT) * zc) AS HUGEINT) AS q_g
       |  FROM z GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(q_g) AS HUGEINT) AS q,
       |    CAST(sum((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g) AS HUGEINT) AS a_scaled,
       |    CAST(sum(s_g) AS HUGEINT) AS s
       |  FROM a),
       |f AS (SELECT k, n, q,
       |    greatest(a_scaled - (s * s * 1000000) // n, 0) AS ssb_micro,
       |    q * 1000000 - a_scaled AS ssw_micro
       |  FROM t)
       |SELECT k, n, k - 1 AS dof_between, n - k AS dof_within,
       |  CASE WHEN ssw_micro = 0 OR k <= 1 THEN NULL
       |    ELSE CAST((ssb_micro * (n - k) * 1000000) // (ssw_micro * (k - 1)) AS BIGINT)
       |  END AS f_ppm
       |FROM f""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(col("event_type"), Exact.cents(col("vd")).as("c"))
    val v = e.groupBy(col("event_type"), col("c")).agg(count(lit(1)).cast("long").as("cnt"))
    // value-collapsed grid (distinct cents per type — price-domain
    // bounded, ~49 k rows at sf0.1): ONE corpus aggregate, then the
    // per-type median + |c − med| moment folds and the F statistic
    // replay on the driver in the SQL mirror's exact integer
    // arithmetic (BigInt where the oracle says HUGEINT; every
    // division is a nonnegative floor). The r12 shape paid a SECOND
    // corpus pass for the z moments plus two windows and a join.
    // r14: distinct cents is DATA-dependent, not calendar-bounded, so
    // the collect is guarded by the driver row budget; past it the
    // distributed shape runs.
    import s.implicits._
    DriverBound.driverOr(v, DriverBound.rows) { rows0 =>
      val rows = rows0.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val types = rows.groupBy(_._1).toSeq.sortBy(_._1)
      var k = 0L
      var nTot = 0L
      var q = BigInt(0)
      var aScaled = BigInt(0)
      var sTot = BigInt(0)
      types.foreach { case (_, rs) =>
        val pts = rs.map(r => (r._2, r._3)).sortBy(_._1)
        val n = pts.iterator.map(_._2).sum
        // LO-median: smallest value with 2·cum ≥ n (the pinned rule)
        var cum = 0L
        var med = 0L
        var found = false
        pts.foreach { case (c, cnt) =>
          if (!found) { cum += cnt; if (2 * cum >= n) { med = c; found = true } }
        }
        var sg = BigInt(0)
        var qg = BigInt(0)
        pts.foreach { case (c, cnt) =>
          val zc = math.abs(c - med)
          sg += BigInt(zc) * cnt
          qg += BigInt(zc) * zc * cnt
        }
        k += 1
        nTot += n
        q += qg
        aScaled += sg * sg * 1000000L / n
        sTot += sg
      }
      val out =
        if (k == 0) // empty corpus: the single-row aggregate still emits
          Seq((0L, None: Option[Long], -1L, None: Option[Long], None: Option[Long]))
        else {
          val ssb = (aScaled - sTot * sTot * 1000000L / nTot).max(BigInt(0))
          val ssw = q * 1000000L - aScaled
          val fPpm =
            if (ssw == 0 || k <= 1) None
            else Some((ssb * (nTot - k) * 1000000L / (ssw * (k - 1))).toLong)
          Seq((k, Some(nTot), k - 1, Some(nTot - k), fPpm))
        }
      out.toDF("k", "n", "dof_between", "dof_within", "f_ppm")
    }(qLeveneDistributed(e, v))
  }

  /** The r12 distributed Brown–Forsythe shape — the 100 TB path past
    * the value-grid driver bound: per-type LO-median via windows over
    * the value-collapsed grid, one z-moment corpus pass, exact
    * decimal F-statistic tail. Same integers as the driver replay.
    */
  private def qLeveneDistributed(e: DataFrame, v: DataFrame): DataFrame = {
    import graft.operators.Exact.floorDivBig
    val w = v
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("c"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val med = w.filter(lit(2) * col("cum") >= col("n"))
      .groupBy(col("event_type")).agg(min(col("c")).as("med"))
    val z = e.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("c") - col("med")).as("zc"))
    val a = z.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_g"), sum(col("zc")).cast("long").as("s_g"),
      sum(col("zc").cast("decimal(38,0)") * col("zc")).cast("decimal(38,0)").as("q_g"))
    val t = a.agg(
      count(lit(1)).cast("long").as("k"), sum(col("n_g")).cast("long").as("n"),
      sum(col("q_g")).cast("decimal(38,0)").as("q"),
      sum(floorDivBig(col("s_g").cast("decimal(38,0)") * col("s_g") * lit(1000000L),
        col("n_g"))).cast("decimal(38,0)").as("a_scaled"),
      sum(col("s_g")).cast("decimal(38,0)").as("s"))
    val f = t.select(col("k"), col("n"), col("q"),
      greatest(col("a_scaled") - floorDivBig(col("s") * col("s") * lit(1000000L), col("n")),
        lit(0L).cast("decimal(38,0)")).as("ssb_micro"),
      (col("q") * lit(1000000L) - col("a_scaled")).as("ssw_micro"))
    f.select(col("k"), col("n"),
      (col("k") - 1).as("dof_between"), (col("n") - col("k")).as("dof_within"),
      when(col("ssw_micro") === lit(0L).cast("decimal(38,0)") || col("k") <= 1,
          lit(null).cast("long"))
        .otherwise(floorDivBig(
          col("ssb_micro") * (col("n") - col("k")) * lit(1000000L),
          col("ssw_micro") * (col("k") - 1)).cast("long")).as("f_ppm"))
  }

  /** floor(ln(2)·1e6) — the exact micro-nat weight of a word the
    * other source lacks (its P/M ratio is exactly 2). */
  private val MicroLn2 = 693147L

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions (#252): the SYMMETRIC, bounded drift measure next
    * to #138's per-source KL — JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M),
    * M = ½(P+Q). Each in-vocabulary term is c·µln(2·c₁·n₂ /
    * (c₁·n₂ + c₂·n₁)) — an exact integer from exact rationals — and
    * the mass on words the OTHER source lacks folds in as
    * (n − Σc_common)·µln(2) without ever materializing the
    * missing-word rows (no outer join). Source pairs that share zero
    * vocabulary would have JSD = ln 2 exactly and are omitted (none
    * exist in practice; a corpus audit cares about near, not
    * disjoint, sources). Shape: one (source, word) count aggregate
    * (vocab-bounded), one word-keyed self-join producing vocab×pairs
    * rows, 5-row totals broadcast — no corpus-scale exchange.
    */
  val qJsd = GateQuery.sql(
    "q_jsd",
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS word
       |              FROM documents),
       |sw AS (SELECT source, word, count(*) AS c FROM toks GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sw GROUP BY 1),
       |pe AS (SELECT a.source AS s1, b.source AS s2, n1.n AS n1, n2.n AS n2,
       |    a.c AS c1, b.c AS c2
       |  FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
       |  JOIN ns n1 ON a.source = n1.source JOIN ns n2 ON b.source = n2.source),
       |ag AS (SELECT s1, s2, any_value(n1) AS n1, any_value(n2) AS n2,
       |    CAST(sum(c1) AS BIGINT) AS c1s, CAST(sum(c2) AS BIGINT) AS c2s,
       |    CAST(sum(c1 * ${Curation.microLnSql(
             "(2.0 * c1 * n2) / (1.0 * c1 * n2 + 1.0 * c2 * n1)")}) AS BIGINT) AS kl1c,
       |    CAST(sum(c2 * ${Curation.microLnSql(
             "(2.0 * c2 * n1) / (1.0 * c1 * n2 + 1.0 * c2 * n1)")}) AS BIGINT) AS kl2c
       |  FROM pe GROUP BY s1, s2)
       |SELECT s1, s2, n1 AS n_tokens_1, n2 AS n_tokens_2,
       |  kl1c + (n1 - c1s) * $MicroLn2 AS kl1_micro,
       |  kl2c + (n2 - c2s) * $MicroLn2 AS kl2_micro,
       |  round((CAST(kl1c + (n1 - c1s) * $MicroLn2 AS DOUBLE) / n1
       |       + CAST(kl2c + (n2 - c2s) * $MicroLn2 AS DOUBLE) / n2) / 2000000.0, 6) + 0.0 AS jsd
       |FROM ag ORDER BY s1, s2""".stripMargin) { (s, d) =>
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    val ns = sw.groupBy(col("source")).agg(sum(col("c")).cast("long").as("n"))
    val a = sw.select(col("source").as("s1"), col("word"), col("c").as("c1"))
    val b = sw.select(col("source").as("s2"), col("word"), col("c").as("c2"))
    val pe = a.join(b, Seq("word")).filter(col("s1") < col("s2"))
      .join(broadcast(ns.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(ns.select(col("source").as("s2"), col("n").as("n2"))), "s2")
    // the µln argument parenthesization mirrors the SQL text exactly:
    // doubles of exact ints (< 2^53), so both engines see identical IEEE
    val num1 = lit(2.0) * col("c1") * col("n2")
    val num2 = lit(2.0) * col("c2") * col("n1")
    val den = lit(1.0) * col("c1") * col("n2") + lit(1.0) * col("c2") * col("n1")
    val ag = pe.groupBy(col("s1"), col("s2")).agg(
      first(col("n1")).as("n1"), first(col("n2")).as("n2"),
      sum(col("c1")).cast("long").as("c1s"), sum(col("c2")).cast("long").as("c2s"),
      sum(col("c1") * Curation.microLn(num1 / den)).cast("long").as("kl1c"),
      sum(col("c2") * Curation.microLn(num2 / den)).cast("long").as("kl2c"))
    val kl1 = col("kl1c") + (col("n1") - col("c1s")) * lit(MicroLn2)
    val kl2 = col("kl2c") + (col("n2") - col("c2s")) * lit(MicroLn2)
    ag.select(col("s1"), col("s2"),
        col("n1").as("n_tokens_1"), col("n2").as("n_tokens_2"),
        kl1.as("kl1_micro"), kl2.as("kl2_micro"),
        (round((kl1.cast("double") / col("n1") + kl2.cast("double") / col("n2"))
          / lit(2000000.0), 6) + lit(0.0)).as("jsd"))
      .orderedSmall(col("s1"), col("s2"))
  }

  /** Simpson diversity index (#253): per language, the probability
    * that two random documents come from the SAME source — λ =
    * Σ n_s(n_s−1) / (N(N−1)) (the unbiased finite-sample form) plus
    * its Gini–Simpson complement, both exact ppm integers. The
    * "effective number of sources" audit next to entropy (#142),
    * Gini (#185) and Theil (#188) — it answers the mix question
    * those don't: how concentrated is each language slice on a
    * single source. Two tiny aggregates; nothing corpus-scale moves.
    */
  val qSimpson = GateQuery.sql(
    "q_simpson",
    """WITH d AS (SELECT lang, source, count(*) AS n_s FROM documents GROUP BY 1, 2),
      |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
      |    CAST(sum(n_s) AS BIGINT) AS n_docs,
      |    CAST(sum(CAST(n_s AS HUGEINT) * (n_s - 1)) AS HUGEINT) AS num
      |  FROM d GROUP BY lang)
      |SELECT lang, n_docs, n_sources,
      |  CASE WHEN n_docs >= 2
      |    THEN CAST((num * 1000000) // (CAST(n_docs AS HUGEINT) * (n_docs - 1)) AS BIGINT)
      |    ELSE NULL END AS simpson_ppm,
      |  CASE WHEN n_docs >= 2
      |    THEN 1000000 - CAST((num * 1000000) // (CAST(n_docs AS HUGEINT) * (n_docs - 1)) AS BIGINT)
      |    ELSE NULL END AS gini_simpson_ppm
      |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
    val dd = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_s"))
    val a = dd.groupBy(col("lang")).agg(
      count(lit(1)).cast("long").as("n_sources"),
      sum(col("n_s")).cast("long").as("n_docs"),
      sum(col("n_s").cast("decimal(38,0)") * (col("n_s") - 1)).cast("decimal(38,0)").as("num"))
    val sp = floorDivBig(col("num") * lit(1000000L),
      col("n_docs").cast("decimal(38,0)") * (col("n_docs") - 1)).cast("long")
    a.select(col("lang"), col("n_docs"), col("n_sources"),
        when(col("n_docs") >= 2, sp).otherwise(lit(null).cast("long")).as("simpson_ppm"),
        when(col("n_docs") >= 2, lit(1000000L) - sp)
          .otherwise(lit(null).cast("long")).as("gini_simpson_ppm"))
      .orderedSmall(col("lang"))
  }

  private val HurstSizes = Seq(8, 16, 32)

  /** Hurst exponent via rescaled-range analysis (#254): per event
    * type, mean R/S over full blocks of 8/16/32 hourly points, H =
    * the log-log slope across the (ln-equispaced) sizes — the
    * long-memory diagnostic (H ≈ 0.5 random walk, > 0.5 persistent)
    * next to ACF/PACF. Per block, the cumulative deviation is kept
    * exact by scaling with the block size: D_i = s·cum_i − (i+1)·S_b
    * (integers), so R/S = (maxD − minD)/√(s·Q_b − S_b²) — ONE double
    * expression per block from exact ints, micro-floored before the
    * per-type mean (integer, order-independent). Degenerate
    * (zero-variance) blocks are excluded by the exact den > 0
    * predicate on both engines. Three block relations share the one
    * windowed series; everything is bounded by the calendar grid.
    */
  val qHurst = GateQuery.sql(
    "q_hurst", {
      val sizeCtes = HurstSizes.map { s =>
        s"""b$s AS (SELECT event_type, idx // $s AS blk, idx % $s AS pos, y
           |  FROM series),
           |v$s AS (SELECT event_type, blk, count(*) AS m,
           |    CAST(sum(y) AS BIGINT) AS sb,
           |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qb
           |  FROM b$s GROUP BY 1, 2),
           |c$s AS (SELECT b.event_type, b.blk, b.pos, v.sb, v.qb,
           |    $s * sum(b.y) OVER (PARTITION BY b.event_type, b.blk ORDER BY b.pos)
           |      - (b.pos + 1) * v.sb AS dd
           |  FROM b$s b JOIN v$s v ON b.event_type = v.event_type AND b.blk = v.blk
           |  WHERE v.m = $s),
           |r$s AS (SELECT event_type, blk, max(dd) - min(dd) AS rn,
           |    CAST($s AS HUGEINT) * any_value(qb)
           |      - CAST(any_value(sb) AS HUGEINT) * any_value(sb) AS den2
           |  FROM c$s GROUP BY 1, 2),
           |m$s AS (SELECT event_type,
           |    CAST(sum(CASE WHEN den2 > 0 THEN CAST(floor(
           |      CAST(rn AS DOUBLE) / sqrt(CAST(den2 AS DOUBLE)) * 1000000) AS BIGINT)
           |      END) AS BIGINT) AS rs_sum,
           |    count(*) FILTER (den2 > 0) AS nb
           |  FROM r$s GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E e GROUP BY 1, 2),
         |series AS (SELECT event_type,
         |    row_number() OVER (PARTITION BY event_type ORDER BY grid) - 1 AS idx, y
         |  FROM g),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM series GROUP BY 1),
         |$sizeCtes,
         |j AS (SELECT st.event_type, st.n,
         |    CASE WHEN m8.nb > 0 THEN m8.rs_sum // m8.nb END AS rs8,
         |    CASE WHEN m16.nb > 0 THEN m16.rs_sum // m16.nb END AS rs16,
         |    CASE WHEN m32.nb > 0 THEN m32.rs_sum // m32.nb END AS rs32
         |  FROM st
         |  LEFT JOIN m8 ON st.event_type = m8.event_type
         |  LEFT JOIN m16 ON st.event_type = m16.event_type
         |  LEFT JOIN m32 ON st.event_type = m32.event_type)
         |SELECT event_type, n AS n_points,
         |  rs8 AS rs8_micro, rs16 AS rs16_micro, rs32 AS rs32_micro,
         |  CASE WHEN rs8 > 0 AND rs32 > 0
         |    THEN round((ln(CAST(rs32 AS DOUBLE)) - ln(CAST(rs8 AS DOUBLE)))
         |      / (2 * ln(2.0)), 4) + 0.0 END AS hurst
         |FROM j ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    // calendar-bounded grid (≤ types × hours rows): ONE corpus
    // aggregate, then the per-size R/S block fold replays the SQL
    // mirror's exact arithmetic on the driver (the theil_sen/spline
    // convention) — the r12 shape re-ran a corpus-scale aggregate per
    // block size plus the count pass (4 jobs + 3 joins per gate)
    val grid = g.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = grid.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, rows) =>
      val ys = rows.sortBy(_._2).map(_._3).toArray // y ordered by grid
      // mean capped R/S over complete sz-blocks — longs where the SQL
      // uses BIGINT (cum/dd/rn), BigInt where it uses HUGEINT (qb,
      // den2); the double divide/sqrt/floor is the mirrored libm tail
      def meanRs(sz: Int): Option[Long] = {
        var rsSum = 0L
        var nb = 0L
        var blk = 0
        while ((blk + 1) * sz <= ys.length) {
          val base = blk * sz
          var sb = 0L
          var qb = BigInt(0)
          var i = 0
          while (i < sz) { val y = ys(base + i); sb += y; qb += BigInt(y) * y; i += 1 }
          var cum = 0L
          var mn = Long.MaxValue
          var mx = Long.MinValue
          i = 0
          while (i < sz) {
            cum += ys(base + i)
            val dd = sz.toLong * cum - (i + 1).toLong * sb
            if (dd < mn) mn = dd
            if (dd > mx) mx = dd
            i += 1
          }
          val rn = mx - mn
          val den2 = BigInt(sz) * qb - BigInt(sb) * sb
          if (den2 > 0) {
            val den2D = new java.math.BigDecimal(den2.bigInteger).doubleValue()
            rsSum += math.floor(rn.toDouble / math.sqrt(den2D) * 1000000).toLong
            nb += 1
          }
          blk += 1
        }
        if (nb > 0) Some(Math.floorDiv(rsSum, nb)) else None
      }
      val rs8 = meanRs(8)
      val rs16 = meanRs(16)
      val rs32 = meanRs(32)
      val hurst =
        if (rs8.exists(_ > 0) && rs32.exists(_ > 0))
          Some(java.math.BigDecimal
            .valueOf((math.log(rs32.get.toDouble) - math.log(rs8.get.toDouble))
              / (2.0 * math.log(2.0)))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0)
        else None
      (et, ys.length.toLong, rs8, rs16, rs32, hurst)
    }
    out.toDF("event_type", "n_points", "rs8_micro", "rs16_micro",
        "rs32_micro", "hurst")
      .orderedSmall(col("event_type"))
  }

  /** Local-level Kalman filter (#255): optimal recursive smoothing
    * of each user's 'view' series
    * ([[graft.operators.WindowOps.kalman]]) summarized to the final
    * level and converged gain — the adaptive-gain upgrade of EWMA
    * (#63) / Holt (#191). AuditEdgeSpec pins the Q = 0 closed form
    * (posterior level = exact running mean). Hash-checked SQL since
    * r10 (the q_holt recipe): predict/gain/update is pure IEEE
    * +/−/×/÷ over doubles, so a RECURSIVE CTE carrying (l, P, K) one
    * point per round replays it bit-identically — the gain
    * expression is repeated textually wherever the Scala reuses the
    * variable, which preserves the value exactly.
    */
  val qKalman = GateQuery.sql(
    "q_kalman", {
      val kNew = "(r.p + CAST(25.0 AS DOUBLE)) / " +
        "((r.p + CAST(25.0 AS DOUBLE)) + CAST(400.0 AS DOUBLE))"
      s"""WITH RECURSIVE pts AS (SELECT user_id,
         |    CAST(xs AS DOUBLE) AS x, CAST(${centsSql("vd")} AS DOUBLE) AS y,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY CAST(xs AS DOUBLE), CAST(${centsSql("vd")} AS DOUBLE)) AS i
         |  FROM $E e WHERE event_type = 'view'),
         |rec(user_id, i, l, p, k) AS (
         |  SELECT user_id, 1, y, CAST(400.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
         |    FROM pts WHERE i = 1
         |  UNION ALL
         |  SELECT n.user_id, n.i,
         |      r.l + ($kNew) * (n.y - r.l),
         |      (r.p + CAST(25.0 AS DOUBLE)) * (1.0 - ($kNew)),
         |      $kNew
         |    FROM rec r JOIN pts n ON n.user_id = r.user_id AND n.i = r.i + 1),
         |lastp AS (SELECT user_id, max(i) AS mi, CAST(count(*) AS BIGINT) AS n_points
         |  FROM pts GROUP BY user_id)
         |SELECT lp.user_id, lp.n_points,
         |  round(r.l, 4) + 0.0 AS last_level,
         |  round(r.k, 6) + 0.0 AS last_gain
         |FROM lastp lp JOIN rec r ON r.user_id = lp.user_id AND r.i = lp.mi
         |ORDER BY lp.user_id""".stripMargin
    }) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("xs").cast("double").as("x"),
        Exact.cents(col("vd")).cast("double").as("y"))
    graft.operators.WindowOps.kalman(e, "user_id", "x", "y", q = 25.0, r = 400.0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        round(max_by(col("level"), col("x")), 4).as("last_level"),
        round(max_by(col("gain"), col("x")), 6).as("last_gain"))
      .orderedSmall(col("user_id"))
  }

  /** MMR diversity re-ranking (#256): brute-force top-20 relevance
    * pool per query (vec_id < 10, the KNN-gate query set), re-ranked
    * to 5 by Maximal Marginal Relevance at λ = 0.7
    * ([[graft.operators.Retrieval.mmr]]) — the retrieve-then-rerank
    * shape. Pool scoring is the same broadcast query-set pass as
    * q_knn_bruteforce (allow-listed single-broadcast nested loop);
    * the greedy loop is one mapGroups over bounded pools.
    * Hash-checked SQL since r10: the greedy selection UNROLLS to k=5
    * argmax CTEs (one per rank — tie order score DESC, rel DESC,
    * vec_id, the pool-scan-order convention), each carrying the
    * selected vector so the next step's max-sim penalty is a
    * greatest() over the mirrored IEEE cosines; (1 − λ) stays
    * written as (1.0 − 0.7) because the subtraction is NOT the
    * double literal 0.3.
    */
  val qMmrRerank = GateQuery.sql(
    "q_mmr_rerank", {
      import graft.operators.VectorOps.{cosineQSql, dotQSql, normQSql, quantizeSql}
      val lam = "CAST(0.7 AS DOUBLE)"
      def sim(j: Int) =
        cosineQSql(dotQSql("p.q", s"s$j.q"), "p.n", s"s$j.n")
      val steps = (2 to 5).map { r =>
        val joins = (1 until r).map(j => s"JOIN s$j ON s$j.query_id = p.query_id")
          .mkString(" ")
        val notSel = (1 until r).map(j => s"p.vec_id <> s$j.vec_id").mkString(" AND ")
        val sims = (1 until r).map(j => s", ${sim(j)}").mkString
        s"""ms$r AS (SELECT p.query_id, p.vec_id, p.q, p.n, p.rel,
           |    greatest(CAST(0 AS DOUBLE)$sims) AS msim
           |  FROM pool p $joins WHERE $notSel),
           |s$r AS (SELECT query_id, vec_id, q, n, rel, score FROM (
           |  SELECT m.*, $lam * m.rel - (1.0 - $lam) * m.msim AS score,
           |    row_number() OVER (PARTITION BY m.query_id
           |      ORDER BY $lam * m.rel - (1.0 - $lam) * m.msim DESC,
           |        m.rel DESC, m.vec_id) AS rn
           |  FROM ms$r m) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val ranks = (1 to 5).map(r =>
        s"SELECT query_id, CAST($r AS INTEGER) AS rnk, vec_id, score FROM s$r")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |en AS (SELECT vec_id, q, ${normQSql("q")} AS n FROM e),
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS nq FROM en WHERE vec_id < 10),
         |scored AS (SELECT qs.query_id, c.vec_id, c.q, c.n,
         |    ${cosineQSql(dotQSql("qs.qq", "c.q"), "qs.nq", "c.n")} AS rel
         |  FROM en c CROSS JOIN qs WHERE c.vec_id <> qs.query_id),
         |pool AS (SELECT query_id, vec_id, q, n, rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, vec_id) AS prn FROM scored) WHERE prn <= 20),
         |s1 AS (SELECT query_id, vec_id, q, n, rel, rel AS score FROM (
         |  SELECT p.*, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, vec_id) AS rn FROM pool p) WHERE rn = 1),
         |$steps
         |SELECT query_id, rnk, vec_id,
         |  floor(score * 1000000.0) / 1000000.0 AS mmr
         |FROM ($ranks)
         |ORDER BY query_id, rnk""".stripMargin
    }) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.expressions.VectorExpressions.quantizeVec(col("embedding")).as("q"))
      .select(col("vec_id"), col("q"),
        graft.expressions.VectorExpressions.normQ(col("q")).as("n"))
    val qs = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq")))
    val scored = e.crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("q"), col("n"),
        graft.operators.VectorOps.cosineQ(
          graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")),
          col("nq"), col("n")).as("_c"))
    val pool = graft.operators.Relational.topKPerGroupSalted(scored,
        Seq(col("query_id")), Seq(col("_c").desc, col("vec_id")), 20, col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("q"), col("n"), col("_c").as("rel"))
    graft.operators.Retrieval.mmr(pool, k = 5, lambda = 0.7)
      .orderedSmall(col("query_id"), col("rnk"))
  }

  /** Markov removal-effect attribution (#257): per-user journeys →
    * bounded transition matrix → absorbing-chain solves on the
    * driver ([[graft.operators.Markov]]) — the data-driven
    * multi-touch credit next to last-touch (#215). Hash-checked SQL
    * since r10: the journey/transition derivation is plain window
    * SQL, and the driver's Gaussian eliminations (one per system:
    * base + one per removed channel, each over the ≤(channels+1)²
    * matrix) replay in a recursive CTE — one column per step, the
    * partial-pivot argmax mirrored as `ORDER BY |a| DESC, i LIMIT 1`
    * (the driver's strict `>` keeps the first max), swap and
    * eliminate composed through a LATERAL binding, every double op
    * in the driver's order. AuditEdgeSpec still pins the
    * two-channel closed form.
    */
  val qMarkovAttrib = GateQuery.sql(
    "q_markov_attrib",
    """WITH RECURSIVE pre AS (SELECT user_id u, epoch_us(ts) t, event_id tie, event_type ty,
      |    coalesce(count(CASE WHEN event_type='purchase' THEN 1 END)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pc
      |  FROM events),
      |live AS MATERIALIZED (SELECT * FROM pre WHERE pc = 0),
      |m2 AS MATERIALIZED (SELECT u, t, tie, dst,
      |    coalesce(lag(dst) OVER (PARTITION BY u ORDER BY t, tie), 'START') AS src
      |  FROM (SELECT u, t, tie,
      |      CASE WHEN ty = 'purchase' THEN 'CONV' ELSE ty END AS dst FROM live) z),
      |trans AS MATERIALIZED (
      |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT u, src, dst FROM m2
      |    UNION ALL
      |    SELECT u, dst AS src, 'NULL' AS dst FROM (
      |      SELECT u, dst, row_number() OVER (PARTITION BY u ORDER BY t DESC, tie DESC) rn
      |      FROM m2) z WHERE rn = 1 AND dst <> 'CONV') s
      |  GROUP BY 1, 2),
      |probs AS MATERIALIZED (
      |  SELECT src, dst, CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) AS p
      |  FROM trans),
      |chan AS MATERIALIZED (
      |  SELECT c, CAST(row_number() OVER (ORDER BY c) AS INTEGER) AS bi FROM (
      |    SELECT DISTINCT x AS c FROM (
      |      SELECT src AS x FROM trans UNION SELECT dst FROM trans) z
      |    WHERE x NOT IN ('START', 'CONV', 'NULL')) w),
      |sys AS MATERIALIZED (
      |  SELECT -1 AS sid, CAST(NULL AS VARCHAR) AS removed
      |  UNION ALL SELECT bi, c FROM chan),
      |tri AS MATERIALIZED (
      |  SELECT s.sid, z.state,
      |    CAST(row_number() OVER (PARTITION BY s.sid
      |      ORDER BY CASE WHEN z.state = 'START' THEN 0 ELSE 1 END, z.state) - 1 AS INTEGER) AS idx
      |  FROM sys s, (SELECT 'START' AS state UNION ALL SELECT c FROM chan) z
      |  WHERE z.state = 'START' OR s.removed IS NULL OR z.state <> s.removed),
      |tm AS MATERIALIZED (SELECT sid, CAST(count(*) AS INTEGER) AS m FROM tri GROUP BY 1),
      |cells AS MATERIALIZED (
      |  SELECT a.sid, a.idx AS i, b.idx AS j,
      |    (CASE WHEN a.idx = b.idx THEN 1.0 ELSE 0.0 END) - coalesce(pr.p, 0.0) AS val
      |  FROM tri a JOIN tri b ON a.sid = b.sid
      |  LEFT JOIN probs pr ON pr.src = a.state AND pr.dst = b.state
      |  UNION ALL
      |  SELECT a.sid, a.idx, tm.m, coalesce(pr.p, 0.0)
      |  FROM tri a JOIN tm ON tm.sid = a.sid
      |  LEFT JOIN probs pr ON pr.src = a.state AND pr.dst = 'CONV'),
      |matl AS MATERIALIZED (
      |  SELECT c.sid, tm.m, list(val ORDER BY i * (tm.m + 1) + j) AS a
      |  FROM cells c JOIN tm ON tm.sid = c.sid GROUP BY 1, 2),
      |elim AS (
      |  SELECT sid, m, 0 AS c0, a FROM matl
      |  UNION ALL
      |  SELECT st.sid, st.m, st.c0 + 1,
      |    CASE WHEN abs(sw.s[st.c0 * (st.m + 1) + st.c0 + 1]) > 1e-12 THEN
      |      [CASE WHEN i // (st.m + 1) <> st.c0 AND i % (st.m + 1) >= st.c0
      |        THEN sw.s[i + 1] - (sw.s[(i // (st.m + 1)) * (st.m + 1) + st.c0 + 1]
      |            / sw.s[st.c0 * (st.m + 1) + st.c0 + 1])
      |          * sw.s[st.c0 * (st.m + 1) + (i % (st.m + 1)) + 1]
      |        ELSE sw.s[i + 1] END for i in range(0, st.m * (st.m + 1))]
      |    ELSE sw.s END
      |  FROM elim st,
      |  LATERAL (SELECT i.i AS piv FROM (SELECT unnest(range(0, st.m)) AS i) i
      |    WHERE i.i >= st.c0
      |    ORDER BY abs(st.a[CAST(i.i AS INTEGER) * (st.m + 1) + st.c0 + 1]) DESC, i.i
      |    LIMIT 1) pv,
      |  LATERAL (SELECT [CASE
      |      WHEN i // (st.m + 1) = st.c0 THEN st.a[CAST(pv.piv AS INTEGER) * (st.m + 1) + (i % (st.m + 1)) + 1]
      |      WHEN i // (st.m + 1) = pv.piv THEN st.a[st.c0 * (st.m + 1) + (i % (st.m + 1)) + 1]
      |      ELSE st.a[i + 1] END for i in range(0, st.m * (st.m + 1))] AS s) sw
      |  WHERE st.c0 < st.m),
      |fin AS MATERIALIZED (
      |  SELECT sid, m, a FROM (
      |    SELECT sid, m, a, row_number() OVER (PARTITION BY sid ORDER BY c0 DESC) AS r
      |    FROM elim) z WHERE r = 1),
      |conv AS MATERIALIZED (
      |  SELECT sid, CASE WHEN abs(a[1]) <= 1e-12 THEN 0.0 ELSE a[m + 1] / a[1] END AS cp
      |  FROM fin),
      |eff AS MATERIALIZED (
      |  SELECT ch.c AS channel, ch.bi,
      |    CASE WHEN b.cp > 0 THEN greatest(0.0, (b.cp - r.cp) / b.cp) ELSE 0.0 END AS re,
      |    b.cp AS base
      |  FROM chan ch
      |  JOIN conv r ON r.sid = ch.bi
      |  CROSS JOIN (SELECT cp FROM conv WHERE sid = -1) b),
      |rs AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(re ORDER BY channel)), (x, y) -> x + y) AS resum FROM eff)
      |SELECT e.channel, CAST(floor(e.base * 1000000.0) AS BIGINT) AS base_ppm,
      |  CAST(floor(e.re * 1000000.0) AS BIGINT) AS removal_ppm,
      |  CASE WHEN rs.resum > 0 THEN CAST(floor(e.re / rs.resum * 1000000.0) AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS share_ppm
      |FROM eff e, rs ORDER BY e.channel""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val trans = graft.operators.Markov.transitions(e,
      col("user_id"), col("ts_us"), col("event_id"), col("event_type"), "purchase")
    graft.operators.Markov.removalEffects(trans)
      .orderedSmall(col("channel"))
  }

  private val RulesMinSup = 3L
  private val RulesTopK = 20

  /** Association rules (#258): market-basket support / confidence /
    * lift over part co-occurrence in orders (Agrawal & Srikant 1994
    * — the Apriori output surface for pair rules). Supports are
    * DISTINCT-order counts from one (order, a, b) dedup + one
    * (a, b) aggregate — the same bounded per-order pair fan-out as
    * the triangle gate, never parts². Directional rules both ways,
    * min-support pruned, exact ppm confidence and micro lift, top-20
    * by lift with full tie pins.
    */
  val qAssocRules = GateQuery.sql(
    "q_assoc_rules",
    s"""WITH pr AS (SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS s_ab FROM pr GROUP BY 1, 2),
       |po AS (SELECT l_partkey AS p, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS s_p
       |  FROM lineitem GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem),
       |rules AS (
       |  SELECT u AS ante, v AS cons, s_ab FROM sup WHERE s_ab >= $RulesMinSup
       |  UNION ALL
       |  SELECT v AS ante, u AS cons, s_ab FROM sup WHERE s_ab >= $RulesMinSup),
       |sc AS (SELECT r.ante, r.cons, r.s_ab, pa.s_p AS s_a, pc.s_p AS s_c, n.n_orders,
       |    (r.s_ab * 1000000) // pa.s_p AS conf_ppm,
       |    (n.n_orders * r.s_ab * 1000000) // (pa.s_p * pc.s_p) AS lift_micro
       |  FROM rules r JOIN po pa ON r.ante = pa.p JOIN po pc ON r.cons = pc.p, n)
       |SELECT ante, cons, s_ab AS support, conf_ppm, lift_micro
       |FROM sc ORDER BY lift_micro DESC, ante, cons LIMIT $RulesTopK""".stripMargin) { (s, d) =>
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val a = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
    val b = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("v"))
    val pr = a.join(b, "ok").filter(col("u") < col("v")).distinct()
    val sup = pr.groupBy(col("u"), col("v")).agg(count(lit(1)).cast("long").as("s_ab"))
      .filter(col("s_ab") >= RulesMinSup)
      .persist() // both rule directions read it — without this the
                 // per-order self-join + distinct runs twice
    val po = l.groupBy(col("l_partkey").as("p"))
      .agg(countDistinct(col("l_orderkey")).cast("long").as("s_p"))
      .persist() // antecedent and consequent support joins both read it
    val nOrders = l.agg(countDistinct(col("l_orderkey")).cast("long").as("n_orders"))
    val rules = sup.select(col("u").as("ante"), col("v").as("cons"), col("s_ab"))
      .unionAll(sup.select(col("v").as("ante"), col("u").as("cons"), col("s_ab")))
    val sc = rules
      .join(po.select(col("p").as("ante"), col("s_p").as("s_a")), "ante")
      .join(po.select(col("p").as("cons"), col("s_p").as("s_c")), "cons")
    Curation.withStats(sc, nOrders)
      .select(col("ante"), col("cons"), col("s_ab").as("support"),
        Binning.floorDivCol(col("s_ab") * lit(1000000L), col("s_a")).as("conf_ppm"),
        Binning.floorDivCol(col("n_orders") * col("s_ab") * lit(1000000L),
          col("s_a") * col("s_c")).as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("ante"), col("cons"))
      .limit(RulesTopK)
  }

  private val Items3MinPairSup = 3L
  private val Items3TopK = 20

  /** Frequent 3-itemsets (#310): the Apriori level-3 step #258 stops
    * short of — brand triples co-bought in one order, built STRICTLY
    * over the capped frequent-PAIR stage (Agrawal & Srikant 1994):
    * per-basket pairs are semi-joined against the min-support pair
    * relation FIRST (the Apriori prune — an item set can only be
    * frequent if every subset is), and only then does the bounded
    * candidate join (u,v)⋈(v,w) on the basket key form triples, so
    * the level-3 fan-out is bounded by the FREQUENT-pair degree,
    * never the item vocabulary³. All joins are basket/pair-keyed
    * equi-joins; supports are exact distinct-basket counts; top-K by
    * support with full (u, v, w) tie pins; share in exact ppm. The
    * distinct (basket, brand) relation is a session-materialized
    * snapshot (r12 verdict item 2: deriving it in-gate re-ran the
    * lineitem⋈part join + distinct — the same
    * materialized-basket-view pattern as the graph gates' edges);
    * the snapshot read replaces the in-gate persist, and both pair
    * self-join sides scan it with full pushdown. Measured floor
    * (r13, sf0.1): 8 jobs ≈ 0.8 s of the ~1.4 s wall — the pair
    * self-join runs twice (support + pruned-candidate consumers,
    * the documented persist trade), then the semi-join, candidate
    * join and TakeOrdered each stage under AQE; the residual ~0.6 s
    * is the genuine basket-keyed shuffle volume. DuckDB runs the
    * same SQL ~0.3 s in-process, so the >2× ratio is stage floors
    * over a deliberately prune-bounded shape (per-basket fan-out ≤
    * frequent-pair degree, never brands³) — flat in corpus size.
    */
  val qItemsets3 = GateQuery.sql(
    "q_itemsets3",
    s"""WITH bk AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS it
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM bk),
       |pr AS (SELECT a.ok, a.it AS u, b.it AS v
       |  FROM bk a JOIN bk b ON a.ok = b.ok AND a.it < b.it),
       |sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS s
       |  FROM pr GROUP BY 1, 2),
       |prf AS (SELECT pr.ok, pr.u, pr.v FROM pr
       |  JOIN sup ON pr.u = sup.u AND pr.v = sup.v
       |  WHERE sup.s >= $Items3MinPairSup),
       |tri AS (SELECT a.ok, a.u, a.v, b.v AS w
       |  FROM prf a JOIN prf b ON a.ok = b.ok AND a.v = b.u),
       |s3 AS (SELECT u, v, w, CAST(count(*) AS BIGINT) AS support
       |  FROM tri GROUP BY 1, 2, 3)
       |SELECT u, v, w, support,
       |  CAST((support * 1000000) // n_baskets AS BIGINT) AS support_ppm
       |FROM s3, nb WHERE support >= $Items3MinPairSup
       |ORDER BY support DESC, u, v, w LIMIT $Items3TopK""".stripMargin) { (s, d) =>
    val bk = graft.SharedRelations.snapshot(s, "brandbk", d)(
      Tables.lineitem(s, d).select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand")),
          "l_partkey")
        .select(col("ok"), col("p_brand").as("it")).distinct())
    val nb = bk.agg(countDistinct(col("ok")).cast("long").as("n_baskets"))
    // r14: the item domain is the brand catalog (tiny — ≤ the distinct
    // items per basket, itself bounded by the order's line count), so
    // the basket-keyed pair self-join + Apriori pair prune + candidate
    // join (two shuffles of the pair relation plus a persist) collapse
    // to ONE groupBy(ok) collect_set + a bounded C(n,3) per-basket
    // triple fan-out + ONE (u,v,w) aggregate. Equivalence: the SQL's
    // tri relation counts, per (u<v<w), every basket containing all
    // three whenever pairs (u,v),(v,w) are globally frequent; any
    // triple passing the final support ≥ min filter has all its pairs
    // ≥ min by monotonicity, and the pair prune never drops a basket
    // of a kept triple (it prunes per-PAIR, not per-basket) — so the
    // filtered triple sets and counts are identical (the ≥ min final
    // filter is the same constant as the pair prune).
    val its = col("its")
    val baskets = bk.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("it"))).as("its"))
      .filter(size(its) >= 3)
    // three chained index explodes (codegen-friendly Generate nodes —
    // nested `transform` lambdas evaluate interpreted) enumerate the
    // sorted combinations i < j < k
    val tri2 = baskets
      .select(its, explode(sequence(lit(1), size(its) - 2)).as("i"))
      .select(its, col("i"), explode(sequence(col("i") + 1, size(its) - 1)).as("j"))
      .select(its, col("i"), col("j"),
        explode(sequence(col("j") + 1, size(its))).as("k"))
      .select(element_at(its, col("i")).as("u"), element_at(its, col("j")).as("v"),
        element_at(its, col("k")).as("w"))
    val s3 = tri2.groupBy(col("u"), col("v"), col("w"))
      .agg(count(lit(1)).cast("long").as("support"))
      .filter(col("support") >= Items3MinPairSup)
    Curation.withStats(s3, nb)
      .select(col("u"), col("v"), col("w"), col("support"),
        Binning.floorDivCol(col("support") * lit(1000000L), col("n_baskets"))
          .as("support_ppm"))
      .orderBy(col("support").desc, col("u"), col("v"), col("w"))
      .limit(Items3TopK)
  }

  /** First-week/second-week split second for [[qMcnemar]]. */
  private val McnemarSplit = 604800L

  /** McNemar's paired test (#259): did per-user purchase behavior
    * CHANGE between the first and second week? The within-subject
    * 2×2 design (McNemar 1947) the independent-sample tests
    * (#179/#230) cannot answer — only the discordant cells b
    * (purchased week 1 only) and c (week 2 only) matter:
    * χ² = (b−c)²/(b+c). Users collapse to one row in a single
    * conditional aggregate; the statistic is exact micro integers.
    */
  val qMcnemar = GateQuery.sql(
    "q_mcnemar",
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND xs < $McnemarSplit
       |      THEN 1 ELSE 0 END) AS p1,
       |    max(CASE WHEN event_type = 'purchase' AND xs >= $McnemarSplit
       |      THEN 1 ELSE 0 END) AS p2
       |  FROM $E e GROUP BY user_id),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM u)
       |SELECT n_users, b, c,
       |  CASE WHEN b + c > 0 THEN ((b - c) * (b - c) * 1000000) // (b + c)
       |    END AS chi2_micro
       |FROM a""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id")).agg(
      max(when(col("event_type") === "purchase" && col("xs") < McnemarSplit, 1)
        .otherwise(0)).as("p1"),
      max(when(col("event_type") === "purchase" && col("xs") >= McnemarSplit, 1)
        .otherwise(0)).as("p2"))
    val a = u.agg(
      count(lit(1)).cast("long").as("n_users"),
      sum(when(col("p1") === 1 && col("p2") === 0, 1L).otherwise(0L)).cast("long").as("b"),
      sum(when(col("p1") === 0 && col("p2") === 1, 1L).otherwise(0L)).cast("long").as("c"))
    a.select(col("n_users"), col("b"), col("c"),
      when(col("b") + col("c") > 0,
        Binning.floorDivCol((col("b") - col("c")) * (col("b") - col("c")) * lit(1000000L),
          col("b") + col("c"))).as("chi2_micro"))
  }

  /** Cochran's Q test (#349): did per-user purchase behavior differ
    * across the FIRST THREE WEEKS — the k-condition generalization of
    * McNemar (#259 is exactly its k=2 case; Cochran 1950), the
    * within-subject companion of Friedman (#315) for BINARY outcomes:
    *
    *   Q = (k−1)·(k·ΣCⱼ² − S²) / (k·S − ΣRᵢ²)
    *
    * with Cⱼ the per-week converter totals, Rᵢ each user's row sum,
    * S = ΣCⱼ. Users collapse to one (p1,p2,p3) row in a single
    * conditional aggregate; Q is ONE exact decimal-lifted micro
    * floor division (numerator ≥ 0 by Cauchy–Schwarz); all-concordant
    * corpora (denominator 0) → NULL by exact predicate.
    */
  val qCochranQ = GateQuery.sql(
    "q_cochran_q",
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND xs < $McnemarSplit
       |      THEN 1 ELSE 0 END) AS p1,
       |    max(CASE WHEN event_type = 'purchase' AND xs >= $McnemarSplit
       |      AND xs < 2 * $McnemarSplit THEN 1 ELSE 0 END) AS p2,
       |    max(CASE WHEN event_type = 'purchase' AND xs >= 2 * $McnemarSplit
       |      AND xs < 3 * $McnemarSplit THEN 1 ELSE 0 END) AS p3
       |  FROM $E e GROUP BY user_id),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(p1) AS BIGINT) AS c1, CAST(sum(p2) AS BIGINT) AS c2,
       |    CAST(sum(p3) AS BIGINT) AS c3,
       |    CAST(sum((p1 + p2 + p3) * (p1 + p2 + p3)) AS BIGINT) AS sr2
       |  FROM u)
       |SELECT n_users, c1, c2, c3,
       |  CASE WHEN 3 * (c1 + c2 + c3) - sr2 > 0 THEN
       |    CAST((2 * (3 * (CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2
       |        + CAST(c3 AS HUGEINT) * c3)
       |      - CAST(c1 + c2 + c3 AS HUGEINT) * (c1 + c2 + c3)) * 1000000)
       |      // (3 * (c1 + c2 + c3) - sr2) AS BIGINT)
       |  END AS q_micro
       |FROM a""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id")).agg(
      max(when(col("event_type") === "purchase" && col("xs") < McnemarSplit, 1L)
        .otherwise(0L)).as("p1"),
      max(when(col("event_type") === "purchase" && col("xs") >= McnemarSplit &&
        col("xs") < 2 * McnemarSplit, 1L).otherwise(0L)).as("p2"),
      max(when(col("event_type") === "purchase" && col("xs") >= 2 * McnemarSplit &&
        col("xs") < 3 * McnemarSplit, 1L).otherwise(0L)).as("p3"))
    val a = u.agg(
      count(lit(1)).cast("long").as("n_users"),
      sum(col("p1")).cast("long").as("c1"), sum(col("p2")).cast("long").as("c2"),
      sum(col("p3")).cast("long").as("c3"),
      sum((col("p1") + col("p2") + col("p3")) * (col("p1") + col("p2") + col("p3")))
        .cast("long").as("sr2"))
    val sTot = col("c1") + col("c2") + col("c3")
    a.select(col("n_users"), col("c1"), col("c2"), col("c3"),
      when(lit(3L) * sTot - col("sr2") > 0,
        Exact.floorDivBig(
          ((dec(col("c1")) * col("c1") + dec(col("c2")) * col("c2") +
            dec(col("c3")) * col("c3")) * lit(3L) - dec(sTot) * sTot) *
            lit(2L) * lit(1000000L),
          lit(3L) * sTot - col("sr2")).cast("long"))
        .as("q_micro"))
  }

  /** Cramér's V (#260): the EFFECT-SIZE companion of the chi-squared
    * test (#178) — V = √(χ²/(N·min(r−1, c−1))), so a huge-N χ² that
    * is "significant but tiny" is visible. Reuses #178's exact
    * pico-floored χ² construction verbatim; V is the single mirrored
    * double at the end.
    */
  /** Theil's uncertainty coefficient (#433, r10, Theil 1970): the
    * DIRECTED categorical association U(T|G) = I(G;T)/H(T) on the
    * same (user-bucket, event-type) contingency table as #310's
    * Cramér's V — "what share of the event-type entropy do the user
    * buckets explain", asymmetric where V is symmetric, which is the
    * feature-selection read-out (does knowing the segment predict
    * the action?). All three entropies ride the corpus-exact
    * c·µln(N/c) integer sums (the #142/#246 discipline), so
    * N·I = N·H(G) + N·H(T) − N·H(G,T) stays an exact micro-nat
    * integer and U leaves as one ppm floor division.
    */
  val qUncertaintyCoeff = GateQuery.sql(
    "q_uncertainty_coeff",
    s"""WITH o AS (SELECT user_id % 8 AS g, event_type AS t,
       |    CAST(count(*) AS BIGINT) AS c FROM $E e GROUP BY 1, 2),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM o),
       |hg AS (SELECT CAST(sum(c * ${Curation.microLnSql("CAST(n.n AS DOUBLE) / c")}) AS BIGINT) AS v
       |  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS c FROM o GROUP BY 1) z, n),
       |ht AS (SELECT CAST(sum(c * ${Curation.microLnSql("CAST(n.n AS DOUBLE) / c")}) AS BIGINT) AS v
       |  FROM (SELECT t, CAST(sum(c) AS BIGINT) AS c FROM o GROUP BY 1) z, n),
       |hgt AS (SELECT CAST(sum(c * ${Curation.microLnSql("CAST(n.n AS DOUBLE) / c")}) AS BIGINT) AS v
       |  FROM o, n)
       |SELECT n.n AS n_events,
       |  CAST(hg.v // n.n AS BIGINT) AS h_g_micro,
       |  CAST(ht.v // n.n AS BIGINT) AS h_t_micro,
       |  CAST(hgt.v // n.n AS BIGINT) AS h_gt_micro,
       |  CASE WHEN ht.v > 0 THEN
       |    CAST(greatest(hg.v + ht.v - hgt.v, 0) * 1000000 // ht.v AS BIGINT)
       |  END AS u_ppm
       |FROM n, hg, ht, hgt""".stripMargin) { (s, d) =>
    import graft.operators.Curation.microLn
    val e = ev(s, d)
    val o = e.groupBy(pmod(col("user_id"), lit(8L)).as("g"), col("event_type").as("t"))
      .agg(count(lit(1)).cast("long").as("c")).persist()
    val n = o.agg(sum(col("c")).cast("long").as("n"))
    def ent(df: DataFrame): DataFrame = df.join(n)
      .agg(sum(col("c") * microLn(col("n").cast("double") / col("c")))
        .cast("long").as("v"))
    val hg = ent(o.groupBy(col("g")).agg(sum(col("c")).cast("long").as("c")))
      .withColumnRenamed("v", "vg")
    val ht = ent(o.groupBy(col("t")).agg(sum(col("c")).cast("long").as("c")))
      .withColumnRenamed("v", "vt")
    val hgt = ent(o).withColumnRenamed("v", "vgt")
    n.join(hg).join(ht).join(hgt)
      .select(col("n").as("n_events"),
        Binning.floorDivCol(col("vg"), col("n")).as("h_g_micro"),
        Binning.floorDivCol(col("vt"), col("n")).as("h_t_micro"),
        Binning.floorDivCol(col("vgt"), col("n")).as("h_gt_micro"),
        when(col("vt") > 0,
          Binning.floorDivCol(
            greatest(col("vg") + col("vt") - col("vgt"), lit(0L)) * lit(1000000L),
            col("vt")))
          .otherwise(lit(null).cast("long")).as("u_ppm"))
      .orderedSmall(col("n_events"))
  }

  val qCramersV = GateQuery.sql(
    "q_cramers_v",
    s"""WITH o AS (SELECT user_id % 8 AS g, event_type AS t, count(*) AS o
       |  FROM $E e GROUP BY 1, 2),
       |m AS (SELECT g, t, o,
       |    sum(o) OVER (PARTITION BY g) AS r,
       |    sum(o) OVER (PARTITION BY t) AS c,
       |    sum(o) OVER () AS n
       |  FROM o),
       |s AS (SELECT any_value(n) AS n,
       |    count(DISTINCT g) AS ng, count(DISTINCT t) AS nt,
       |    CAST(sum(${floorDivBigSql("CAST(o AS HUGEINT) * o * 1000000000000", "CAST(r AS HUGEINT) * c")}) AS HUGEINT) AS u
       |  FROM m),
       |x AS (SELECT CAST(n AS BIGINT) AS n,
       |    least(ng - 1, nt - 1) AS mindof,
       |    CAST(${floorDivBigSql("greatest(CAST(n AS HUGEINT) * u - CAST(n AS HUGEINT) * 1000000000000, 0)", "1000000")} AS BIGINT)
       |      AS chi2_micro
       |  FROM s)
       |SELECT n, CAST(mindof AS BIGINT) AS mindof, chi2_micro,
       |  CASE WHEN mindof > 0 THEN
       |    round(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0 / (CAST(n AS DOUBLE) * mindof)), 6) + 0.0
       |  END AS cramers_v
       |FROM x""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val o = e.groupBy(pmod(col("user_id"), lit(8L)).as("g"), col("event_type").as("t"))
      .agg(count(lit(1)).as("o"))
    val m = o
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("g"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("t"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    val st = m.agg(
      first(col("n")).as("n"),
      countDistinct(col("g")).as("ng"), countDistinct(col("t")).as("nt"),
      sum(floorDivBig(col("o").cast("decimal(38,0)") * col("o") * lit(1000000000000L),
        col("r").cast("decimal(38,0)") * col("c"))).cast("decimal(38,0)").as("u"))
    val x = st.select(
      col("n").cast("long").as("n"),
      least(col("ng") - 1, col("nt") - 1).as("mindof"),
      floorDivBig(
        greatest(col("n").cast("decimal(38,0)") * col("u") -
          col("n").cast("decimal(38,0)") * lit(1000000000000L),
          lit(0L).cast("decimal(38,0)")),
        lit(1000000L)).cast("long").as("chi2_micro"))
    x.select(col("n"), col("mindof").cast("long").as("mindof"), col("chi2_micro"),
      when(col("mindof") > 0,
        round(sqrt(col("chi2_micro").cast("double") / lit(1000000.0) /
          (col("n").cast("double") * col("mindof"))), 6) + lit(0.0)).as("cramers_v"))
  }

  /** Grubbs' outlier test (#261): per event type, the maximum
    * studentized deviation G = max|x − x̄|/s and WHICH event attains
    * it (Grubbs 1950) — the single-outlier audit feeding the despike
    * operators. max|n·x − S| is an exact integer argmax (event_id tie
    * pin via one rank window); G leaves as one mirrored closed form
    * over exact sums.
    */
  val qGrubbs = GateQuery.sql(
    "q_grubbs",
    s"""WITH e AS (SELECT event_type, event_id, ${centsSql("vd")} AS x FROM $E t),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS s,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
       |  FROM e GROUP BY 1),
       |dv AS (SELECT e.event_type, e.event_id, a.n, a.s, a.q,
       |    abs(CAST(a.n AS HUGEINT) * e.x - a.s) AS dev,
       |    row_number() OVER (PARTITION BY e.event_type
       |      ORDER BY abs(CAST(a.n AS HUGEINT) * e.x - a.s) DESC, e.event_id) AS rk
       |  FROM e JOIN a USING (event_type))
       |SELECT event_type, n, event_id AS outlier_event_id,
       |  CASE WHEN n > 1 AND n * q > CAST(s AS HUGEINT) * s THEN
       |    round(CAST(dev AS DOUBLE) / (n * sqrt(
       |      (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1.0))), 6) + 0.0
       |  END AS g_stat
       |FROM dv WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(col("event_type"), col("event_id"), Exact.cents(col("vd")).as("x"))
    val a = e.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("long").as("s"),
      sum(col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)").as("q"))
    // argmax via a map-side-combinable min-struct aggregate (§2.3 —
    // aggregate before the shuffle): the rank window this replaces
    // exchanged and sorted the WHOLE corpus by event_type to keep one
    // row per type; min(struct(−dev, event_id)) is the identical
    // (dev desc, event_id asc) tie rule and shuffles one partial row
    // per (partition × type).
    val devC = abs(col("n").cast("decimal(38,0)") * col("x") - col("s"))
    val dv = e.join(broadcast(a), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"), first(col("s")).as("s"), first(col("q")).as("q"),
        min(struct((-devC).as("nd"), col("event_id").as("eid"))).as("b"))
      .select(col("event_type"), col("n"), col("s"), col("q"),
        (-col("b.nd")).as("dev"), col("b.eid").as("event_id"))
    dv.select(col("event_type"), col("n"), col("event_id").as("outlier_event_id"),
        when(col("n") > 1 &&
            col("n").cast("decimal(38,0)") * col("q") > col("s").cast("decimal(38,0)") * col("s"),
          round(col("dev").cast("double") / (col("n") * sqrt(
            (col("q").cast("double") - col("s").cast("double") * col("s") / col("n"))
              / (col("n") - lit(1.0)))), 6) + lit(0.0)).as("g_stat"))
      .orderedSmall(col("event_type"))
  }

  /** Holt–Winters additive seasonal smoothing (#262): triple
    * exponential smoothing of each event type's hourly totals with a
    * 24-hour season ([[graft.operators.WindowOps.holtWinters]])
    * summarized to the final state + one-step forecast — the
    * seasonal upgrade of Holt (#191). The m-periodic exact-forecast
    * closed form is pinned in AuditEdgeSpec. Hash-checked SQL since
    * r10 (the q_holt recursive-CTE recipe, with the 24-slot seasonal
    * state carried as a list column updated by comprehension); the
    * init means are exact because the hourly totals are
    * integer-valued doubles, so their sum is order-free.
    */
  val qHoltWinters = GateQuery.sql(
    "q_holt_winters", {
      // one textual l-expression reused everywhere the Scala reuses
      // the variable (q_holt recipe); α=0.25 β=0.125 γ=0.25 and their
      // complements are exact binary doubles, so pre-folded literals
      // are bit-safe
      val lNew = "0.25 * (n.y - r.s[((n.i - 1) % 24) + 1]) + 0.75 * (r.l + r.b)"
      val bNew = s"0.125 * (($lNew) - r.l) + 0.875 * r.b"
      val sUpd = s"[CASE WHEN j = ((n.i - 1) % 24) + 1 " +
        s"THEN 0.25 * (n.y - ($lNew)) + 0.75 * r.s[j] " +
        s"ELSE r.s[j] END for j in range(1, 25)]"
      s"""WITH RECURSIVE g AS (SELECT event_type, xs // 3600 AS grid,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E e GROUP BY 1, 2),
         |pts AS (SELECT ${graft.operators.TextOps.baseHashSql("event_type")}
         |      % 1000000 AS gk,
         |    CAST(grid AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY CAST(grid AS DOUBLE), CAST(y AS DOUBLE)) AS i,
         |    count(*) OVER (PARTITION BY event_type) AS cnt
         |  FROM g),
         |elig AS (SELECT gk, any_value(cnt) AS cnt FROM pts
         |  WHERE cnt >= 48 GROUP BY gk),
         |init AS (SELECT p.gk,
         |    sum(p.y) FILTER (WHERE p.i <= 24) / 24 AS m1,
         |    sum(p.y) FILTER (WHERE p.i > 24 AND p.i <= 48) / 24 AS m2,
         |    list(p.y ORDER BY p.i) FILTER (WHERE p.i <= 24) AS y24
         |  FROM pts p JOIN elig USING (gk) GROUP BY p.gk),
         |rec(gk, i, l, b, s, fc) AS (
         |  SELECT gk, 24, m1, (m2 - m1) / 24,
         |      [y24[j] - m1 for j in range(1, 25)], CAST(NULL AS DOUBLE)
         |    FROM init
         |  UNION ALL
         |  SELECT n.gk, n.i,
         |      $lNew,
         |      $bNew,
         |      $sUpd,
         |      ($lNew) + ($bNew) + ($sUpd)[(n.i % 24) + 1]
         |    FROM rec r JOIN pts n ON n.gk = r.gk AND n.i = r.i + 1),
         |fin AS (SELECT r.gk, r.l, r.b, r.fc, e.cnt
         |  FROM rec r JOIN elig e ON r.gk = e.gk AND r.i = e.cnt)
         |SELECT gk, CAST(cnt - 24 AS BIGINT) AS n_points,
         |  round(l, 4) + 0.0 AS last_level,
         |  round(b, 4) + 0.0 AS last_trend,
         |  round(fc, 4) + 0.0 AS next_forecast
         |FROM fin ORDER BY gk""".stripMargin
    }) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
      .withColumn("gk", pmod(graft.operators.TextOps.baseHash(col("event_type")),
        lit(1000000L)))
    graft.operators.WindowOps.holtWinters(
        g.select(col("gk"), col("grid").cast("double").as("x"),
          col("y").cast("double").as("y")),
        "gk", "x", "y", m = 24, alpha = 0.25, beta = 0.125, gamma = 0.25)
      .groupBy(col("gk"))
      .agg(count(lit(1)).as("n_points"),
        round(max_by(col("level"), col("x")), 4).as("last_level"),
        round(max_by(col("trend"), col("x")), 4).as("last_trend"),
        round(max_by(col("forecast"), col("x")), 4).as("next_forecast"))
      .orderedSmall(col("gk"))
  }

  /** K-core decomposition (#263): sizes of the 2- and 3-cores of the
    * part-co-occurrence graph ([[graft.operators.Graphs.kCore]]
    * iterative peeling) — the cohesion audit next to the triangle
    * gate. Hash-checked SQL since r10: the k-core is the UNIQUE
    * maximal subgraph with min degree ≥ k regardless of peel order,
    * so the oracle re-derives it with a strict-decrease recursive
    * CTE (each round unnests endpoints, windows per-(k, node)
    * degrees, and keeps an edge only when both survive; the guard
    * `n_surv < n_cur` ends the recursion at the fixpoint). The
    * generations are NESTED, so the final one is the max-multiplicity
    * edge set; a one-round stability re-check distinguishes "last
    * generation IS the core" from "core is empty" (a generation that
    * peels to nothing emits no rows). The K4+pendant closed form
    * stays pinned in AuditEdgeSpec.
    */
  val qKcore = GateQuery.sql(
    "q_kcore",
    s"""WITH RECURSIVE e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |peel AS (
       |  SELECT k, u, v FROM (VALUES (2), (3)) ks(k), e
       |  UNION ALL
       |  SELECT k, u, v FROM (
       |    SELECT k, u, v, ok,
       |      count(*) OVER (PARTITION BY k) AS n_cur,
       |      sum(CASE WHEN ok THEN 1 ELSE 0 END) OVER (PARTITION BY k) AS n_surv
       |    FROM (
       |      SELECT k, u, v, min(dg) >= k AS ok
       |      FROM (
       |        SELECT k, u, v, nd, count(*) OVER (PARTITION BY k, nd) AS dg
       |        FROM (SELECT k, u, v, unnest([u, v]) AS nd FROM peel) un
       |      ) dgt GROUP BY k, u, v
       |    ) okt
       |  ) grd WHERE ok AND n_surv < n_cur),
       |mult AS MATERIALIZED (SELECT k, u, v, count(*) AS c FROM peel GROUP BY 1, 2, 3),
       |mx AS MATERIALIZED (SELECT k, max(c) AS mc FROM mult GROUP BY 1),
       |lastg AS MATERIALIZED (SELECT m.k, m.u, m.v FROM mult m
       |  JOIN mx ON m.k = mx.k AND m.c = mx.mc),
       |chk AS MATERIALIZED (SELECT k, min(dgmin) AS worst FROM (
       |    SELECT k, u, v, min(dg) AS dgmin FROM (
       |      SELECT k, u, v, nd, count(*) OVER (PARTITION BY k, nd) AS dg
       |      FROM (SELECT k, u, v, unnest([u, v]) AS nd FROM lastg) un2
       |    ) dg2 GROUP BY 1, 2, 3) l2 GROUP BY 1),
       |core AS MATERIALIZED (SELECT l.k, l.u, l.v FROM lastg l
       |  JOIN chk ON l.k = chk.k WHERE chk.worst >= l.k),
       |nn AS (SELECT k, CAST(count(DISTINCT nd) AS BIGINT) AS n_nodes
       |  FROM (SELECT k, unnest([u, v]) AS nd FROM core) cu GROUP BY 1),
       |ne AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges FROM core GROUP BY 1)
       |SELECT CAST(ks.k AS BIGINT) AS k,
       |  coalesce(nn.n_nodes, 0) AS n_nodes, coalesce(ne.n_edges, 0) AS n_edges
       |FROM (VALUES (2), (3)) ks(k)
       |LEFT JOIN nn ON ks.k = nn.k LEFT JOIN ne ON ks.k = ne.k
       |ORDER BY k""".stripMargin) { (s, d) =>
    // session-cached driver peel graph (ONE collect + CSR build
    // shared with q_ktruss); ascending-k incremental peel covers both
    // cores. Past the driver bound: the distributed chain over the
    // persisted snapshot, unchanged.
    val stats = peelGraph(s, d) match {
      case Some(pg) => pg.coreSizes(Seq(2, 3))
      case None =>
        val edges = graft.SharedRelations.partCoEdges(s, d).persist()
        try graft.operators.Graphs.coreSizes(edges, Seq(2, 3), driverMaxEdges = 0L)
        finally edges.unpersist()
    }
    import s.implicits._
    stats.map { case (k, n, e) => (k.toLong, n, e) }
      .toDF("k", "n_nodes", "n_edges")
      .orderedSmall(col("k"))
  }

  /** Session-cached driver peel graph over the canonical
    * co-occurrence edge snapshot: ONE collect + dense-id/CSR build
    * (+ capped truss support) serves q_kcore and q_ktruss — each
    * previously re-collected the 1.2 M-edge relation and rebuilt its
    * own index per call (~1 s each at sf0.1). None past the driver
    * bound (the gates then run their distributed loops unchanged).
    */
  private def peelGraph(s: SparkSession, d: String)
      : Option[graft.operators.Graphs.PeelGraph] =
    graft.SharedRelations.cachedValue("pcepeel", d)(
      graft.operators.Graphs.peelGraphUnder(
        graft.SharedRelations.partCoEdges(s, d)))

  /** Peel-round cap for the k-truss gate — mirrored EXACTLY in the
    * oracle's unrolled rounds (see [[graft.operators.Graphs
    * .trussEdges]]: post-fixpoint rounds are no-ops, so equal caps ⇒
    * equal results; fixpoint is reached well inside 10 at every
    * tested scale, and GraphSpec pins fixture fixpoints).
    */
  private val TrussRounds = 10

  /** K-truss decomposition (#429, r10, Cohen 2008): sizes of the 3-
    * and 4-trusses of the part-co-occurrence graph — the EDGE
    * analog of the k-core (#263): keep edges supported by ≥ k−2
    * triangles, to a fixpoint. Degree keeps a star in any k-core its
    * hub clears; triangle support doesn't, so the truss isolates the
    * clique-like "bought together" structure the association-rule
    * and community gates mine. Hash-checked SQL: each gate-pinned
    * peel round is one canonical-triangle (u<v<w) 3-way self-join +
    * a per-edge support aggregate, unrolled [[TrussRounds]] times
    * per k (a recursive CTE cannot self-join its working table).
    */
  val qKtruss = GateQuery.sql(
    "q_ktruss", {
      def chain(k: Int): String = (1 to TrussRounds).map { r =>
        val p = s"e${k}_${r - 1}"
        s"""tri${k}_$r AS MATERIALIZED (SELECT ab.u AS x, ab.v AS y, bc.v AS z
           |  FROM $p ab JOIN $p bc ON ab.v = bc.u
           |  JOIN $p ac ON ac.u = ab.u AND ac.v = bc.v),
           |sup${k}_$r AS MATERIALIZED (SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT x AS u, y AS v FROM tri${k}_$r UNION ALL
           |    SELECT x, z FROM tri${k}_$r UNION ALL
           |    SELECT y, z FROM tri${k}_$r) s GROUP BY 1, 2),
           |e${k}_$r AS MATERIALIZED (SELECT e.u, e.v FROM $p e
           |  LEFT JOIN sup${k}_$r s ON e.u = s.u AND e.v = s.v
           |  WHERE coalesce(s.c, 0) >= ${k - 2})""".stripMargin
      }.mkString(",\n")
      val per = Seq(3, 4).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  (SELECT CAST(count(DISTINCT nd) AS BIGINT) FROM (
           |     SELECT u AS nd FROM e${k}_$TrussRounds
           |     UNION SELECT v FROM e${k}_$TrussRounds) z) AS n_nodes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM e${k}_$TrussRounds) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e3_0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |e4_0 AS (SELECT * FROM e3_0),
         |${chain(3)},
         |${chain(4)}
         |SELECT * FROM ($per) f ORDER BY k""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    // session-cached driver peel graph (collect + CSR + capped
    // support shared with q_kcore and across calls); sizes read
    // straight off the peel's alive flags. Past the bound: the
    // distributed per-round loop, unchanged.
    val stats = peelGraph(s, d) match {
      case Some(pg) => pg.trussSizes(Seq(3, 4), TrussRounds)
      case None => graft.operators.Graphs.trussSizes(
        graft.SharedRelations.partCoEdges(s, d), Seq(3, 4),
        rounds = TrussRounds, driverMaxEdges = 0L)
    }
    stats.map { case (k, n, e) => (k.toLong, n, e) }
      .toDF("k", "n_nodes", "n_edges").orderedSmall(col("k"))
  }

  /** Seasonal strength (#265): per event type, the share of hourly
    * variance explained by the hour-of-day seasonal means —
    * Hyndman's F_s = SSB/SST over the hod grouping, i.e. one-way
    * ANOVA of the hourly series on hour-of-day (the QUANTIFIER for
    * what #223's decomposition shows and the model-selection gate
    * for Holt–Winters #262). #211's exact micro-integer
    * decomposition reused verbatim on the (type, hod) grouping;
    * strength leaves as an exact ppm floor division.
    */
  val qSeasonalStrength = GateQuery.sql(
    "q_seasonal_strength",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |h AS (SELECT event_type, grid % 24 AS hod, count(*) AS n_h,
       |    CAST(sum(y) AS BIGINT) AS s_h,
       |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q_h
       |  FROM g GROUP BY 1, 2),
       |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(n_h) AS BIGINT) AS n, CAST(sum(q_h) AS HUGEINT) AS q,
       |    CAST(sum(s_h) AS HUGEINT) AS s,
       |    CAST(sum((CAST(s_h AS HUGEINT) * s_h * 1000000) // n_h) AS HUGEINT) AS a_scaled
       |  FROM h GROUP BY 1),
       |f AS (SELECT event_type, k, n,
       |    greatest(a_scaled - (s * s * 1000000) // n, 0) AS ssb_micro,
       |    q * 1000000 - (s * s * 1000000) // n AS sst_micro
       |  FROM t)
       |SELECT event_type, n AS n_hours, k AS n_hods,
       |  CASE WHEN sst_micro > 0
       |    THEN CAST((ssb_micro * 1000000) // sst_micro AS BIGINT) END AS strength_ppm
       |FROM f ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val h = g.groupBy(col("event_type"), pmod(col("grid"), lit(24L)).as("hod"))
      .agg(count(lit(1)).as("n_h"), sum(col("y")).cast("long").as("s_h"),
        sum(col("y").cast("decimal(38,0)") * col("y")).cast("decimal(38,0)").as("q_h"))
    val t = h.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("k"), sum(col("n_h")).cast("long").as("n"),
      sum(col("q_h")).cast("decimal(38,0)").as("q"),
      sum(col("s_h")).cast("decimal(38,0)").as("s"),
      sum(floorDivBig(col("s_h").cast("decimal(38,0)") * col("s_h") * lit(1000000L),
        col("n_h"))).cast("decimal(38,0)").as("a_scaled"))
    val f = t.select(col("event_type"), col("k"), col("n"),
      greatest(col("a_scaled") - floorDivBig(col("s") * col("s") * lit(1000000L), col("n")),
        lit(0L).cast("decimal(38,0)")).as("ssb_micro"),
      (col("q") * lit(1000000L) -
        floorDivBig(col("s") * col("s") * lit(1000000L), col("n"))).as("sst_micro"))
    f.select(col("event_type"), col("n").as("n_hours"), col("k").as("n_hods"),
        when(col("sst_micro") > 0,
          floorDivBig(col("ssb_micro") * lit(1000000L), col("sst_micro")).cast("long"))
          .as("strength_ppm"))
      .orderedSmall(col("event_type"))
  }

  private val CcfLags = -3 to 3

  /** Cross-correlation function (#266): r_xy(k) between the 'click'
    * and 'view' hourly series at lags −3..+3 — the lead/lag
    * diagnostic ACF (#181) cannot see (does one stream FORESHADOW
    * the other?). Full-series deviations n·y − S stay exact via the
    * per-series 1-row stats broadcast; each lag is one grid-shifted
    * equi-join of the two BOUNDED hourly relations; the denominator
    * is the full-series product (textbook CCF), so r leaves as one
    * mirrored double per lag row.
    */
  val qCcf = GateQuery.sql(
    "q_ccf", {
      val lagSelects = CcfLags.map { k =>
        s"""SELECT $k AS lag, count(*) AS n_overlap,
           |  CAST(sum((CAST(sx.n AS HUGEINT) * x.y - sx.s)
           |    * (CAST(sy.n AS HUGEINT) * y.y - sy.s)) AS HUGEINT) AS num
           |FROM x JOIN y ON y.grid = x.grid + $k, sx, sy""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
         |x AS (SELECT grid, y FROM g WHERE event_type = 'click'),
         |y AS (SELECT grid, y FROM g WHERE event_type = 'view'),
         |sx0 AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS s FROM x),
         |sx AS (SELECT n, s,
         |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)) AS HUGEINT) AS d2
         |  FROM x, sx0 GROUP BY n, s),
         |sy0 AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS s FROM y),
         |sy AS (SELECT n, s,
         |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)) AS HUGEINT) AS d2
         |  FROM y, sy0 GROUP BY n, s),
         |l AS ($lagSelects)
         |SELECT l.lag, l.n_overlap,
         |  CASE WHEN sx.d2 > 0 AND sy.d2 > 0 THEN
         |    round(CAST(l.num AS DOUBLE)
         |      / (sqrt(CAST(sx.d2 AS DOUBLE)) * sqrt(CAST(sy.d2 AS DOUBLE))), 6) + 0.0
         |  END AS r
         |FROM l, sx, sy ORDER BY l.lag""".stripMargin
    }) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
      .filter(col("event_type").isin("click", "view"))
      .persist() // series, stats and the lag join all read it; harness-freed
    // per-series exact stats in TWO single-action passes total (r12;
    // was two actions PER series): (n, s) per type first, then d2
    // with those scalars inlined as literals — the 1-row values the
    // SQL oracle's CTE cross joins express
    val ns = g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (nx, sxs) = ns.getOrElse("click", (0L, 0L))
    val (ny, sys) = ns.getOrElse("view", (0L, 0L))
    def dev(n: Long, sv: Long) = lit(n).cast("decimal(38,0)") * col("y") - lit(sv)
    val d2s = g.groupBy(col("event_type"))
      .agg(sum(when(col("event_type") === "click", dev(nx, sxs) * dev(nx, sxs))
          .otherwise(dev(ny, sys) * dev(ny, sys)))
        .cast("decimal(38,0)").as("d2"))
      .collect().map(r => r.getString(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
    val dx2 = d2s.getOrElse("click", BigInt(0))
    val dy2 = d2s.getOrElse("view", BigInt(0))
    // ALL 7 lags in ONE equi-join + lag-keyed aggregate (r12; was 7
    // unioned single-lag branches, each its own scheduled job group):
    // the click series fans out ×7 to (lag, grid + lag) keys, the
    // static 7-row lag frame restores lags with zero overlap
    val x = g.filter(col("event_type") === "click")
      .select(col("grid"), col("y").as("xv"))
    val y = g.filter(col("event_type") === "view")
      .select(col("grid").as("jg"), col("y").as("yv"))
    val xl = x.withColumn("lag", explode(lit(CcfLags.map(_.toLong).toArray)))
      .select(col("lag"), (col("grid") + col("lag")).as("jg"), col("xv"))
    val agg = xl.join(y, "jg")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_overlap"),
        sum((lit(nx).cast("decimal(38,0)") * col("xv") - lit(sxs)) *
            (lit(ny).cast("decimal(38,0)") * col("yv") - lit(sys)))
          .cast("decimal(38,0)").as("num"))
    val sess = s
    import sess.implicits._
    val frame = CcfLags.map(_.toLong).toDF("lag")
    frame.join(agg, Seq("lag"), "left")
      .select(col("lag"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (if (dx2 > 0 && dy2 > 0)
          round(col("num").cast("double") /
            (sqrt(lit(dx2.toString).cast("decimal(38,0)").cast("double")) *
             sqrt(lit(dy2.toString).cast("decimal(38,0)").cast("double"))), 6)
            + lit(0.0)
        else lit(null).cast("double")).as("r"))
      .orderedSmall(col("lag"))
  }

  /** ε for the DP release gate: 0.5 (scale b = 2). */
  private val DpEps = 0.5

  /** Differentially-private count release (#267): per event type,
    * the true count plus Laplace(1/ε) noise — the Dwork et al. 2006
    * mechanism as a PIPELINE operator (privacy-preserving statistics
    * release over user data). The "noise" is deterministic and
    * engine-portable like every random draw here: u = portable hash
    * ppm, X = −b·sgn(u−½)·ln(1−2|u−½|) (inverse CDF), micro-floored
    * — so the gate hash-matches while exercising the real mechanism
    * shape. Sensitivity 1 (one event per count); ε = 0.5.
    */
  val qDpCounts = GateQuery.sql(
    "q_dp_counts", {
      val b = 1.0 / DpEps
      val u = "((" + graft.operators.TextOps.baseHashSql("'dp:' || event_type") +
        " % 1000000) + 0.5) / 1000000.0 - 0.5"
      s"""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |  FROM $E e GROUP BY 1),
         |x AS (SELECT event_type, n, $u AS v FROM c)
         |SELECT event_type, n AS true_count,
         |  CAST(floor(-$b * sign(v) * ln(1 - 2 * abs(v)) * 1000000) AS BIGINT) AS noise_micro,
         |  n * 1000000
         |    + CAST(floor(-$b * sign(v) * ln(1 - 2 * abs(v)) * 1000000) AS BIGINT) AS released_micro
         |FROM x ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    val b = 1.0 / DpEps
    val c = ev(s, d).groupBy(col("event_type")).agg(count(lit(1)).cast("long").as("n"))
    val v = ((graft.operators.TextOps.baseHash(concat(lit("dp:"), col("event_type")))
      % lit(1000000L)) + lit(0.5)) / lit(1000000.0) - lit(0.5)
    val noise = floor(lit(-b) * signum(v) * log(lit(1) - lit(2) * abs(v)) * lit(1000000))
      .cast("long")
    c.select(col("event_type"), col("n").as("true_count"),
        noise.as("noise_micro"),
        (col("n") * lit(1000000L) + noise).as("released_micro"))
      .orderedSmall(col("event_type"))
  }

  /** Shapley-value attribution (#268): journey channel coalitions →
    * exact driver Shapley over the bounded coalition table
    * ([[graft.operators.Markov.shapley]]) — the other
    * industry-standard multi-touch model next to the Markov removal
    * effect (#257). Hash-checked SQL since r10: coalitions become
    * channel bitmasks, v(S) is a containment-join aggregate over all
    * 2^K subsets, and the driver's credit folds replay in the
    * size-major lexicographic enumeration the operator now uses
    * explicitly (masks ordered by (bit_count, set-index list);
    * ordered seeded list_reduce mirrors Seq.sum). Exact-double
    * factorials agree across engines for K ≤ 18 (K = 4 here; the
    * driver require caps at 20). Efficiency and the 2-channel
    * closed form stay pinned in AuditEdgeSpec.
    */
  val qShapleyAttrib = GateQuery.sql(
    "q_shapley_attrib",
    """WITH pre AS (SELECT user_id u, epoch_us(ts) t, event_id tie, event_type ty,
      |    coalesce(count(CASE WHEN event_type='purchase' THEN 1 END)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pc
      |  FROM events),
      |live AS MATERIALIZED (SELECT * FROM pre WHERE pc = 0),
      |chidx AS MATERIALIZED (SELECT c, row_number() OVER (ORDER BY c) - 1 AS bi FROM
      |  (SELECT DISTINCT ty AS c FROM live WHERE ty <> 'purchase') z),
      |nch AS MATERIALIZED (SELECT CAST(count(*) AS INTEGER) AS k FROM chidx),
      |keys AS MATERIALIZED (
      |  SELECT mask, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c FROM (
      |    SELECT l.u, coalesce(CAST(sum(DISTINCT CASE WHEN ch.bi IS NOT NULL THEN 1 << ch.bi END) AS BIGINT), 0) AS mask,
      |      max(CASE WHEN l.ty = 'purchase' THEN 1 ELSE 0 END) AS conv
      |    FROM live l LEFT JOIN chidx ch ON ch.c = l.ty
      |    GROUP BY 1) jm GROUP BY 1),
      |subs AS MATERIALIZED (SELECT CAST(unnest(range(0, 1 << (SELECT k FROM nch))) AS BIGINT) AS mask),
      |vv AS MATERIALIZED (
      |  SELECT s.mask, CASE WHEN coalesce(sum(k.n), 0) > 0
      |      THEN CAST(coalesce(sum(k.c), 0) AS DOUBLE) / coalesce(sum(k.n), 0)
      |      ELSE 0.0 END AS v
      |  FROM subs s LEFT JOIN keys k ON (k.mask & s.mask) = k.mask GROUP BY s.mask),
      |sord AS MATERIALIZED (
      |  SELECT mask, bit_count(CAST(mask AS BIGINT)) AS sz,
      |    row_number() OVER (ORDER BY bit_count(CAST(mask AS BIGINT)),
      |      [i for i in range(0, (SELECT k FROM nch)) if (mask >> i) & 1 = 1]) AS ord
      |  FROM subs),
      |terms AS MATERIALIZED (
      |  SELECT ch.c AS channel, so.ord,
      |    (CAST(factorial(so.sz) AS DOUBLE) * CAST(factorial(nch.k - so.sz - 1) AS DOUBLE)
      |      / CAST(factorial(nch.k) AS DOUBLE))
      |    * (vs.v - vv.v) AS term
      |  FROM chidx ch, nch, sord so
      |  JOIN vv ON vv.mask = so.mask
      |  JOIN vv vs ON TRUE
      |  WHERE (so.mask >> ch.bi) & 1 = 0 AND vs.mask = (so.mask | (1 << ch.bi))),
      |phi AS MATERIALIZED (
      |  SELECT channel,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY ord)),
      |      (x, y) -> x + y) AS p
      |  FROM terms GROUP BY 1),
      |ps AS MATERIALIZED (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(greatest(p, 0.0) ORDER BY channel)), (x, y) -> x + y) AS possum
      |  FROM phi)
      |SELECT phi.channel, CAST(floor(phi.p * 1000000.0) AS BIGINT) AS phi_micro,
      |  CASE WHEN ps.possum > 0
      |    THEN CAST(floor(greatest(phi.p, 0.0) / ps.possum * 1000000.0) AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS share_ppm
      |FROM phi, ps ORDER BY channel""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val coal = graft.operators.Markov.coalitions(e,
      col("user_id"), col("ts_us"), col("event_id"), col("event_type"), "purchase")
    graft.operators.Markov.shapley(coal)
      .orderedSmall(col("channel"))
  }

  /** Week-1/week-2 split for the DiD design (same as [[qMcnemar]]). */
  private val DidSplit = 604800L

  /** Difference-in-differences (#269): the 2×2 causal-inference
    * workhorse — treated (user_id even) vs control, pre vs post
    * week: DiD = (T_post − T_pre) − (C_post − C_pre) with the
    * interaction t-statistic from the pooled within-cell variance
    * (the OLS-with-interaction closed form; Card & Krueger 1994
    * shape). All four cells accumulate (n, S, Q) exact integers in
    * ONE conditional aggregate; DiD and t are mirrored doubles over
    * exact inputs.
    */
  val qDid = GateQuery.sql(
    "q_did",
    s"""WITH e AS (SELECT user_id % 2 AS treat,
       |    CASE WHEN xs >= $DidSplit THEN 1 ELSE 0 END AS post,
       |    ${centsSql("vd")} AS c
       |  FROM $E t),
       |a AS (SELECT treat, post, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(c) AS BIGINT) AS s,
       |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
       |  FROM e GROUP BY 1, 2),
       |w AS (SELECT
       |    max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_tp,
       |    max(CASE WHEN treat = 0 AND post = 1 THEN s END) AS s_tp,
       |    max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_t0,
       |    max(CASE WHEN treat = 0 AND post = 0 THEN s END) AS s_t0,
       |    max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_cp,
       |    max(CASE WHEN treat = 1 AND post = 1 THEN s END) AS s_cp,
       |    max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_c0,
       |    max(CASE WHEN treat = 1 AND post = 0 THEN s END) AS s_c0,
       |    CAST(sum(q) AS HUGEINT) AS qq, CAST(sum(n) AS BIGINT) AS nn,
       |    CAST(sum((CAST(s AS HUGEINT) * s * 1000000) // n) AS HUGEINT) AS a_scaled
       |  FROM a),
       |f AS (SELECT n_tp, n_t0, n_cp, n_c0,
       |    (CAST(s_tp AS DOUBLE) / n_tp - CAST(s_t0 AS DOUBLE) / n_t0)
       |      - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_c0 AS DOUBLE) / n_c0) AS did,
       |    CAST(qq * 1000000 - a_scaled AS DOUBLE) / 1000000.0 / (nn - 4) AS s2,
       |    1.0 / n_tp + 1.0 / n_t0 + 1.0 / n_cp + 1.0 / n_c0 AS invn
       |  FROM w)
       |SELECT n_tp, n_t0, n_cp, n_c0,
       |  round(did, 4) + 0.0 AS did_cents,
       |  CASE WHEN s2 > 0 THEN round(did / sqrt(s2 * invn), 4) + 0.0 END AS t_stat
       |FROM f""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(
      pmod(col("user_id"), lit(2L)).as("treat"),
      when(col("xs") >= DidSplit, 1).otherwise(0).as("post"),
      Exact.cents(col("vd")).as("c"))
    val a = e.groupBy(col("treat"), col("post")).agg(
      count(lit(1)).cast("long").as("n"), sum(col("c")).cast("long").as("s"),
      sum(col("c").cast("decimal(38,0)") * col("c")).cast("decimal(38,0)").as("q"))
    def cell(t: Int, p: Int, c: String) =
      max(when(col("treat") === t && col("post") === p, col(c)))
    val w = a.agg(
      cell(0, 1, "n").as("n_tp"), cell(0, 1, "s").as("s_tp"),
      cell(0, 0, "n").as("n_t0"), cell(0, 0, "s").as("s_t0"),
      cell(1, 1, "n").as("n_cp"), cell(1, 1, "s").as("s_cp"),
      cell(1, 0, "n").as("n_c0"), cell(1, 0, "s").as("s_c0"),
      sum(col("q")).cast("decimal(38,0)").as("qq"), sum(col("n")).cast("long").as("nn"),
      sum(floorDivBig(col("s").cast("decimal(38,0)") * col("s") * lit(1000000L),
        col("n"))).cast("decimal(38,0)").as("a_scaled"))
    val did = (col("s_tp").cast("double") / col("n_tp")
        - col("s_t0").cast("double") / col("n_t0")) -
      (col("s_cp").cast("double") / col("n_cp")
        - col("s_c0").cast("double") / col("n_c0"))
    val s2 = (col("qq") * lit(1000000L) - col("a_scaled")).cast("double") /
      lit(1000000.0) / (col("nn") - 4)
    val invn = lit(1.0) / col("n_tp") + lit(1.0) / col("n_t0") +
      lit(1.0) / col("n_cp") + lit(1.0) / col("n_c0")
    w.select(col("n_tp"), col("n_t0"), col("n_cp"), col("n_c0"),
      (round(did, 4) + lit(0.0)).as("did_cents"),
      when(s2 > 0, round(did / sqrt(s2 * invn), 4) + lit(0.0)).as("t_stat"))
  }

  /** SPRT design constants, computed once in the driver with libm
    * and inlined as integer literals on BOTH engines (the
    * poissonCdfPpm discipline): micro-nat LLR increments for
    * conversion-rate H0 p=0.05 vs H1 p=0.08, thresholds for
    * α = β = 0.05.
    */
  private val SprtP0 = 0.05
  private val SprtP1 = 0.08
  private val SprtIncPos = math.floor(math.log(SprtP1 / SprtP0) * 1e6).toLong
  private val SprtIncNeg = math.floor(math.log((1 - SprtP1) / (1 - SprtP0)) * 1e6).toLong
  private val SprtA = math.floor(math.log(0.95 / 0.05) * 1e6).toLong
  private val SprtB = math.floor(math.log(0.05 / 0.95) * 1e6).toLong

  /** Sequential probability ratio test (#270, Wald 1945): per user
    * cohort, walk the conversion-rate log-likelihood ratio event by
    * event (purchase = hit) until it crosses ln((1−β)/α) (accept H1)
    * or ln(β/(1−α)) (accept H0) — THE always-valid sequential test
    * a live experiment runs instead of a fixed-horizon t-test. LLR
    * increments are driver-inlined micro-nat literals, the walk is
    * one cumulative window of exact integers, and the first-crossing
    * decision is a min(when) aggregate — all order-pinned by
    * (ts, event_id).
    */
  val qSprt = GateQuery.sql(
    "q_sprt",
    s"""WITH e AS (SELECT user_id % 8 AS g, ts_us, event_id,
       |    CASE WHEN event_type = 'purchase' THEN $SprtIncPos
       |      ELSE $SprtIncNeg END AS inc
       |  FROM $E t),
       |c AS (SELECT g, inc,
       |    sum(inc) OVER (PARTITION BY g ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr,
       |    row_number() OVER (PARTITION BY g ORDER BY ts_us, event_id) AS i,
       |    count(*) OVER (PARTITION BY g) AS n_g
       |  FROM e),
       |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(min(CASE WHEN llr >= $SprtA THEN i END) AS BIGINT) AS first_h1,
       |    CAST(min(CASE WHEN llr <= $SprtB THEN i END) AS BIGINT) AS first_h0,
       |    CAST(max(CASE WHEN i = n_g THEN llr END) AS BIGINT) AS final_llr
       |  FROM c GROUP BY g)
       |SELECT g, n_events, final_llr,
       |  CASE
       |    WHEN first_h1 IS NOT NULL AND (first_h0 IS NULL OR first_h1 < first_h0)
       |      THEN 'accept_h1'
       |    WHEN first_h0 IS NOT NULL THEN 'accept_h0'
       |    ELSE 'continue' END AS decision,
       |  CASE
       |    WHEN first_h1 IS NOT NULL AND (first_h0 IS NULL OR first_h1 < first_h0)
       |      THEN first_h1
       |    WHEN first_h0 IS NOT NULL THEN first_h0 END AS decided_at
       |FROM a ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(pmod(col("user_id"), lit(8L)).as("g"),
      col("ts_us"), col("event_id"),
      when(col("event_type") === "purchase", SprtIncPos).otherwise(SprtIncNeg).as("inc"))
    val wo = Window.partitionBy(col("g")).orderBy(col("ts_us"), col("event_id"))
    val c = e
      .withColumn("llr", sum(col("inc")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("i", row_number().over(wo))
      .withColumn("n_g", count(lit(1)).over(Window.partitionBy(col("g"))))
    val a = c.groupBy(col("g")).agg(
      count(lit(1)).cast("long").as("n_events"),
      min(when(col("llr") >= SprtA, col("i"))).cast("long").as("first_h1"),
      min(when(col("llr") <= SprtB, col("i"))).cast("long").as("first_h0"),
      max(when(col("i") === col("n_g"), col("llr"))).cast("long").as("final_llr"))
    val h1First = col("first_h1").isNotNull &&
      (col("first_h0").isNull || col("first_h1") < col("first_h0"))
    a.select(col("g"), col("n_events"), col("final_llr"),
        when(h1First, lit("accept_h1"))
          .when(col("first_h0").isNotNull, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"),
        when(h1First, col("first_h1"))
          .when(col("first_h0").isNotNull, col("first_h0")).as("decided_at"))
      .orderedSmall(col("g"))
  }

  /** Bounded-hop BFS neighborhood (#282): minimum trade distance
    * (≤ 3 hops) from a 5-supplier seed set (smallest keys — present
    * at every SF) over the customer⇄supplier graph
    * ([[graft.operators.Graphs.bfsHops]]) — the blast-radius /
    * path-distance query next to PageRank (#184) and communities
    * (#237). One frontier⋈edges join + visited anti-join per
    * unrolled round; output is the FIXED 4-row distance histogram
    * (zero counts preserved on both engines). Measured floor (r13,
    * sf0.1): 12 jobs ≈ 1.2 s of the ~1.3 s wall — three unrolled
    * frontier rounds × (frontier join + visited anti-join + dedup)
    * each stage under AQE, i.e. the cost IS the iteration job
    * floors; per-round data volume is frontier-bounded. DuckDB's
    * recursive oracle runs ~0.36 s in-process, so the ~2× ratio is
    * pure scheduling floor — flat in corpus size, and on a real
    * cluster the same rounds amortize across executors.
    */
  val qBfsHops = GateQuery.sql(
    "q_bfs_hops",
    """WITH pairs AS (SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e0 AS (SELECT 2 * ck AS src, 2 * sk + 1 AS dst FROM pairs
      |  UNION ALL SELECT 2 * sk + 1, 2 * ck FROM pairs),
      |d0 AS (SELECT 2 * s_suppkey + 1 AS node FROM supplier
      |  ORDER BY s_suppkey LIMIT 5),
      |r1 AS (SELECT DISTINCT e.dst AS node FROM e0 e JOIN d0 ON e.src = d0.node
      |  WHERE e.dst NOT IN (SELECT node FROM d0)),
      |r2 AS (SELECT DISTINCT e.dst AS node FROM e0 e JOIN r1 ON e.src = r1.node
      |  WHERE e.dst NOT IN (SELECT node FROM d0)
      |    AND e.dst NOT IN (SELECT node FROM r1)),
      |r3 AS (SELECT DISTINCT e.dst AS node FROM e0 e JOIN r2 ON e.src = r2.node
      |  WHERE e.dst NOT IN (SELECT node FROM d0)
      |    AND e.dst NOT IN (SELECT node FROM r1)
      |    AND e.dst NOT IN (SELECT node FROM r2))
      |SELECT dist, n_nodes FROM (
      |  SELECT 0 AS dist, CAST(count(*) AS BIGINT) AS n_nodes FROM d0
      |  UNION ALL SELECT 1, CAST(count(*) AS BIGINT) FROM r1
      |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM r2
      |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM r3)
      |ORDER BY dist""".stripMargin) { (s, d) =>
    // integer node encoding (customers even, suppliers odd): the r8
    // string keys ('c'||ck) tripled the doubled-arc relation's bytes
    // and made the driver-BFS adjacency a boxed string map — longs
    // collect and hash at a fraction of the cost, same histogram.
    // Session-cached driver trade graph (SharedRelations.tradeGraph,
    // shared with q_pagerank): ONE collect + CSR serves every call;
    // per call only the seed probe + the in-memory BFS run. Past the
    // driver bound: the distributed frontier loop, unchanged (it
    // keeps its own identically-budgeted driver branch).
    graft.SharedRelations.tradeGraph(s, d) match {
      case Some(tg) =>
        import s.implicits._
        val seeds = Tables.supplier(s, d).orderBy(col("s_suppkey")).limit(5)
          .select((col("s_suppkey") * 2 + 1).as("node"))
          .collect().map(_.getLong(0))
        tg.bfsHist(seeds, maxHops = 3).zipWithIndex
          .map { case (c, i) => (i.toLong, c) }.toSeq
          .toDF("dist", "n_nodes")
          .orderedSmall(col("dist"))
      case None =>
        val pairs = graft.SharedRelations.custSuppPairs(s, d)
        val edges = pairs.select((col("ck") * 2).as("u"), (col("sk") * 2 + 1).as("v"))
        val seeds = Tables.supplier(s, d).orderBy(col("s_suppkey")).limit(5)
          .select((col("s_suppkey") * 2 + 1).as("node"))
        val dist = graft.operators.Graphs.bfsHopsUndirected(edges, seeds, maxHops = 3)
        val hist = dist.groupBy(col("dist").cast("long").as("dist"))
          .agg(count(lit(1)).cast("long").as("n_nodes"))
        val frame = s.range(0, 4).select(col("id").as("dist"))
        val out = frame.join(hist, Seq("dist"), "left")
          .select(col("dist"), coalesce(col("n_nodes"), lit(0L)).as("n_nodes"))
          .cache()
        out.count() // materialize before the BFS round caches drop
        edges.unpersist()
        out.orderedSmall(col("dist"))
    }
  }

  /** Bhattacharyya coefficient / Hellinger distance (#294): per
    * source vs the pooled corpus unigram distribution — BC =
    * Σ_w √(p_s(w)·p_corpus(w)), H = √(1 − BC). The BOUNDED
    * (H ∈ [0,1]) geometric divergence next to KL (#138), JSD
    * (#252), PSI (#277), W1 (#169) and KS (#206) — it penalizes
    * mass the source has where the corpus is thin via the √ product
    * (no ln, so no OOV-floor bookkeeping: a word absent from either
    * side contributes exactly 0). Every √ term is micro-FLOORED
    * before the source-keyed integer sum, so the aggregate is
    * order/partitioning-independent; the √ argument is one mirrored
    * double of exact integers (products < 2^53 at any count the
    * vocab relation can hold). Shape: the (source, word) COUNT
    * relation (vocab-bounded, never corpus tokens) joins the
    * word-keyed corpus counts; totals ride 1-row/source-row
    * broadcasts. BC ≤ 1e6 structurally (flooring only loses mass).
    */
  val qBhattacharyya = GateQuery.sql(
    "q_bhattacharyya",
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS word
       |              FROM documents),
       |sw AS (SELECT source, word, count(*) AS c FROM toks GROUP BY 1, 2),
       |cw AS (SELECT word, CAST(sum(c) AS BIGINT) AS cc FROM sw GROUP BY 1),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sw GROUP BY 1),
       |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS ntot FROM cw),
       |ag AS (SELECT s.source, any_value(n.n) AS n_tokens,
       |    CAST(sum(CAST(floor(sqrt((1.0 * s.c * w.cc) / (1.0 * n.n * t.ntot))
       |      * 1000000) AS BIGINT)) AS BIGINT) AS bc_micro
       |  FROM sw s JOIN cw w ON s.word = w.word
       |  JOIN ns n ON s.source = n.source CROSS JOIN tot t
       |  GROUP BY s.source)
       |SELECT source, n_tokens, bc_micro,
       |  round(sqrt(greatest(1000000 - bc_micro, 0) / 1000000.0), 6) + 0.0
       |    AS hellinger
       |FROM ag ORDER BY source""".stripMargin) { (s, d) =>
    // the (source, word) counts feed THREE consumers (corpus counts,
    // source totals, the scored join) — materialize once
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      .persist() // freed by the harness post-action
    val cw = sw.groupBy(col("word")).agg(sum(col("c")).cast("long").as("cc"))
    val ns = sw.groupBy(col("source")).agg(sum(col("c")).cast("long").as("n"))
    val tot = cw.agg(sum(col("cc")).cast("long").as("ntot"))
    val j = sw.join(cw, "word")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
    // mirrored double of exact ints, micro-floored BEFORE the sum
    val term = floor(sqrt((lit(1.0) * col("c") * col("cc")) /
      (lit(1.0) * col("n") * col("ntot"))) * lit(1000000)).cast("long")
    val ag = j.groupBy(col("source")).agg(
      first(col("n")).as("n_tokens"), sum(term).cast("long").as("bc_micro"))
    ag.select(col("source"), col("n_tokens"), col("bc_micro"),
        (round(sqrt(greatest(lit(1000000L) - col("bc_micro"), lit(0L)) / lit(1000000.0)), 6)
          + lit(0.0)).as("hellinger"))
      .orderedSmall(col("source"))
  }

  /** Log-likelihood keyness (#302): WHICH words distinguish the
    * 'en' slice from the rest of the corpus — Dunning's (1993) G²
    * as operationalized by Rayson & Garside (2000): per word,
    * G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] against the frequency
    * expected under a shared rate, top-20 by keyness. The keyword
    * EXTRACTION dual of the aggregate divergences (#138 KL / #252
    * JSD tell you THAT the slices differ; keyness tells you WHERE).
    * Gibbs' inequality keeps G² ≥ 0 analytically; each a·µln(·)
    * term is an exact integer product (µln arg one mirrored double
    * of exact ints), zero cells contribute exactly 0 (x·ln x → 0),
    * and the enrichment direction is an exact integer cross-product
    * compare. Vocab-bounded relation + 1-row totals broadcast; the
    * corpus moves once.
    */
  val qKeyness = GateQuery.sql(
    "q_keyness",
    s"""WITH toks AS (SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'rest' END AS grp,
       |    unnest(string_split(text, ' ')) AS word FROM documents),
       |wc AS (SELECT word,
       |    count(*) FILTER (grp = 'en') AS a,
       |    count(*) FILTER (grp = 'rest') AS b
       |  FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM wc),
       |g AS (SELECT w.word, w.a, w.b,
       |    2 * (CASE WHEN w.a > 0 THEN w.a * ${Curation.microLnSql(
             "(1.0 * w.a * (t.na + t.nb)) / (1.0 * t.na * (w.a + w.b))")} ELSE 0 END
       |       + CASE WHEN w.b > 0 THEN w.b * ${Curation.microLnSql(
             "(1.0 * w.b * (t.na + t.nb)) / (1.0 * t.nb * (w.a + w.b))")} ELSE 0 END) AS g2_micro,
       |    CASE WHEN CAST(w.a AS HUGEINT) * t.nb > CAST(w.b AS HUGEINT) * t.na
       |      THEN 'en' ELSE 'rest' END AS enriched
       |  FROM wc w CROSS JOIN tot t)
       |SELECT word, a AS n_en, b AS n_rest, g2_micro, enriched
       |FROM g ORDER BY g2_micro DESC, word LIMIT 20""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(when(col("lang") === "en", lit("en")).otherwise(lit("rest")).as("grp"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
    val wc = toks.groupBy(col("word")).agg(
      count(when(col("grp") === "en", 1)).as("a"),
      count(when(col("grp") === "rest", 1)).as("b"))
    val tot = wc.agg(sum(col("a")).cast("long").as("na"), sum(col("b")).cast("long").as("nb"))
    val g = wc.crossJoin(broadcast(tot))
    val t1 = when(col("a") > 0, col("a") * Curation.microLn(
      (lit(1.0) * col("a") * (col("na") + col("nb"))) /
        (lit(1.0) * col("na") * (col("a") + col("b"))))).otherwise(lit(0L))
    val t2 = when(col("b") > 0, col("b") * Curation.microLn(
      (lit(1.0) * col("b") * (col("na") + col("nb"))) /
        (lit(1.0) * col("nb") * (col("a") + col("b"))))).otherwise(lit(0L))
    g.select(col("word"), col("a").as("n_en"), col("b").as("n_rest"),
        (lit(2L) * (t1 + t2)).as("g2_micro"),
        when(col("a").cast("decimal(38,0)") * col("nb") >
          col("b").cast("decimal(38,0)") * col("na"), lit("en"))
          .otherwise(lit("rest")).as("enriched"))
      .orderBy(col("g2_micro").desc, col("word")).limit(20)
      .orderedSmall(col("g2_micro").desc, col("word"))
  }

  /** Word dispersion (#304): Gries' (2008) deviation of proportions
    * — is a word's mass spread across sources like the sources
    * themselves, or clumped in one feed? DP_w = ½·Σ_s |v_ws/f_w −
    * n_s/N| ∈ [0, 1): ~0 = distributed like the corpus, → 1 =
    * concentrated in one source. The per-WORD burstiness audit that
    * separates topical/boilerplate vocabulary from general
    * vocabulary at equal frequency — raw counts (Zipf #213) and
    * entropy (#142) can't see it. Cross-scaling clears every
    * denominator: |v_ws·N − f_w·n_s| is an exact integer, so DP =
    * Σ|·|·1e6 div (2·f·N) is ONE ppm floor division per word over
    * the vocab-bounded (source, word) relation; source sizes ride a
    * source-keyed broadcast. Top-20 by (DP desc, word) among words
    * with f ≥ 100 (an exact threshold so the slice is stable).
    */
  val qDispersion = GateQuery.sql(
    "q_dispersion",
    s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS word
       |              FROM documents),
       |sw AS (SELECT source, word, count(*) AS v FROM toks GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(sum(v) AS BIGINT) AS n FROM sw GROUP BY 1),
       |fw AS (SELECT word, CAST(sum(v) AS BIGINT) AS f FROM sw GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM ns),
       |grid AS (SELECT f.word, f.f, s.source, s.n, t.nt,
       |    coalesce(w.v, 0) AS v
       |  FROM fw f CROSS JOIN ns s CROSS JOIN tot t
       |  LEFT JOIN sw w ON w.word = f.word AND w.source = s.source
       |  WHERE f.f >= 100),
       |dp AS (SELECT word, any_value(f) AS f,
       |    CAST(sum(abs(CAST(v AS HUGEINT) * nt - CAST(f AS HUGEINT) * n)) AS HUGEINT) AS num,
       |    any_value(nt) AS nt
       |  FROM grid GROUP BY word)
       |SELECT word, f AS n_occurrences,
       |  CAST(num * 1000000 // (2 * CAST(f AS HUGEINT) * nt) AS BIGINT) AS dp_ppm
       |FROM dp ORDER BY dp_ppm DESC, word LIMIT 20""".stripMargin) { (s, d) =>
    import Exact.floorDivBig
    // (source, word) counts feed the word totals, source totals and
    // the dispersion grid — materialize once
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("v"))
      .persist() // freed by the harness post-action
    val ns = sw.groupBy(col("source")).agg(sum(col("v")).cast("long").as("n"))
    val fw = sw.groupBy(col("word")).agg(sum(col("v")).cast("long").as("f"))
      .filter(col("f") >= 100)
    val tot = ns.agg(sum(col("n")).cast("long").as("nt"))
    // full word×source grid (absent cells count v = 0 — they still
    // contribute |0 − f·n_s| to the deviation)
    val grid = fw.crossJoin(broadcast(ns)).crossJoin(broadcast(tot))
      .join(sw, Seq("word", "source"), "left")
      .withColumn("v", coalesce(col("v"), lit(0L)))
    val dp = grid.groupBy(col("word")).agg(
      first(col("f")).as("f"),
      sum(abs(col("v").cast("decimal(38,0)") * col("nt") -
        col("f").cast("decimal(38,0)") * col("n"))).cast("decimal(38,0)").as("num"),
      first(col("nt")).as("nt"))
    dp.select(col("word"), col("f").as("n_occurrences"),
        floorDivBig(col("num") * lit(1000000L),
          lit(2L).cast("decimal(38,0)") * col("f") * col("nt")).cast("long").as("dp_ppm"))
      .orderBy(col("dp_ppm").desc, col("word")).limit(20)
      .orderedSmall(col("dp_ppm").desc, col("word"))
  }

  /** Bartlett's test (#306): the PARAMETRIC variance-homogeneity
    * test next to Brown–Forsythe (#251) — more powerful under
    * normality (which Jarque–Bera #248 checks), where Levene is the
    * robust fallback. χ² = [(N−k)·ln s_p² − Σ(nᵢ−1)·ln sᵢ²]/C with
    * C the Bartlett correction. Discipline: per-cohort variances
    * come from exact (n, S, Q) integers; each cohort's
    * (nᵢ−1)·µln sᵢ² term and its 1/(nᵢ−1) correction term are
    * quantized to exact integers (micro-nats / pico) BEFORE the
    * k-bounded sums, so the distributed aggregate is order-free;
    * the final closed form is one mirrored double. Degenerate
    * cohorts (n ≤ 1 or zero variance, both exact predicates) are
    * excluded identically on both engines.
    */
  val qBartlett = GateQuery.sql(
    "q_bartlett",
    s"""WITH c AS (SELECT user_id % 8 AS g, count(*) AS n,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS s,
       |    CAST(sum(CAST(${centsSql("vd")} AS HUGEINT) * ${centsSql("vd")}) AS HUGEINT) AS q
       |  FROM $E e WHERE event_type = 'view' GROUP BY 1),
       |t AS (SELECT g, n,
       |    n * q - CAST(s AS HUGEINT) * s AS m2,
       |    CAST((n * q - CAST(s AS HUGEINT) * s) * 1000000 // n AS BIGINT) AS ssw_micro,
       |    CAST(1000000000000 // (n - 1) AS BIGINT) AS inv_pico
       |  FROM c WHERE n > 1),
       |tm AS (SELECT g, n, ssw_micro, inv_pico,
       |    (n - 1) * ${Curation.microLnSql("CAST(m2 AS DOUBLE) / (1.0 * n * (n - 1))")} AS term
       |  FROM t WHERE m2 > 0),
       |a AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS nt,
       |    CAST(sum(ssw_micro) AS HUGEINT) AS ssw,
       |    CAST(sum(term) AS BIGINT) AS sterm,
       |    CAST(sum(inv_pico) AS BIGINT) AS sinv
       |  FROM tm)
       |SELECT CAST(k AS BIGINT) AS n_cohorts, nt AS n_obs,
       |  CAST(k - 1 AS BIGINT) AS dof,
       |  CASE WHEN k > 1 AND nt > k THEN round(
       |    (CAST((nt - k) * ${Curation.microLnSql(
             "(CAST(ssw AS DOUBLE) / 1000000.0) / (nt - k)")} - sterm AS DOUBLE) / 1000000.0)
       |    / (1.0 + (CAST(sinv AS DOUBLE) / 1000000000000.0 - 1.0 / (nt - k))
       |       / (3.0 * (k - 1))), 4) + 0.0
       |  ELSE NULL END AS bartlett_chi2
       |FROM a""".stripMargin) { (s, d) =>
    import Exact.floorDivBig
    val c = ev(s, d).filter(col("event_type") === "view")
      .select(pmod(col("user_id"), lit(8L)).as("g"), Exact.cents(col("vd")).as("cents"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"),
        Exact.sumUnits(col("cents")).cast("long").as("s"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).cast("decimal(38,0)").as("q"))
    val m2 = col("n") * col("q") - col("s").cast("decimal(38,0)") * col("s")
    val t = c.filter(col("n") > 1).select(col("g"), col("n"),
      m2.as("m2"),
      floorDivBig(m2 * lit(1000000L), col("n").cast("decimal(38,0)"))
        .cast("long").as("ssw_micro"),
      expr("1000000000000 div (n - 1)").as("inv_pico"))
    val tm = t.filter(col("m2") > 0).select(col("g"), col("n"),
      col("ssw_micro"), col("inv_pico"),
      ((col("n") - 1) * Curation.microLn(
        col("m2").cast("double") / (lit(1.0) * col("n") * (col("n") - 1)))).as("term"))
    val a = tm.agg(count(lit(1)).as("k"), sum(col("n")).cast("long").as("nt"),
      sum(col("ssw_micro")).cast("decimal(38,0)").as("ssw"),
      sum(col("term")).cast("long").as("sterm"),
      sum(col("inv_pico")).cast("long").as("sinv"))
    val lnSp = Curation.microLn(
      (col("ssw").cast("double") / lit(1000000.0)) / (col("nt") - col("k")))
    val num = ((col("nt") - col("k")) * lnSp - col("sterm")).cast("double") / lit(1000000.0)
    val den = lit(1.0) + (col("sinv").cast("double") / lit(1000000000000.0) -
      lit(1.0) / (col("nt") - col("k"))) / (lit(3.0) * (col("k") - 1))
    a.select(col("k").cast("long").as("n_cohorts"), col("nt").as("n_obs"),
        (col("k") - 1).cast("long").as("dof"),
        when(col("k") > 1 && col("nt") > col("k"), round(num / den, 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("bartlett_chi2"))
      .orderedSmall(col("n_cohorts"))
  }

  val all: Seq[GateQuery] = Seq(
    qTriangles, qRichClub, qJarqueBera, qPacf, qMannKendall, qSeasonalMk, qSenSlope, qLevene, qJsd, qSimpson,
    qHurst, qKalman, qMmrRerank, qMarkovAttrib,
    qAssocRules, qMcnemar, qCochranQ, qCramersV, qGrubbs, qHoltWinters, qKcore, qKtruss, qUncertaintyCoeff,
    qSeasonalStrength, qCcf, qDpCounts, qShapleyAttrib, qDid, qSprt, qBfsHops,
    qBhattacharyya, qKeyness, qDispersion, qBartlett, qAndersonDarling,
    qShapiroWilk, qAdDrift, qBhFdr,
    qItemsets3, qAssortativity, qAdamicAdar)
}
