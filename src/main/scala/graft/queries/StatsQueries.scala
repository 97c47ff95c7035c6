package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Binning, Curation, DriverBound, Exact, TextOps}
import graft.operators.Exact.centsSql

/** Statistical-testing / ML-evaluation / graph extensions
  * (SURVEY.md §2 #178–#185): chi-squared independence, Welch's
  * t-test, CUSUM drift detection, autocorrelation, average
  * precision, NDCG@10, 5-iteration PageRank and the Gini
  * concentration index — the audit/eval layer a production corpus
  * pipeline runs NEXT TO the curation gates (is the event mix
  * independent of the user cohort? did the score distribution
  * drift? how good is the ranker?).
  *
  * Discipline is SURVEY.md §4 throughout: every input quantized to
  * exact integer cents BEFORE any aggregate, integer floor-division
  * only on NONNEGATIVE numerators (DuckDB `//` truncates toward
  * zero, Spark's pmod-based floor matches it only for x ≥ 0), and
  * doubles confined to final closed forms mirrored textually on
  * both engines.
  */
object StatsQueries {

  /** Shared DuckDB prep over events (mirror of [[ev]]). */
  private val E: String =
    """(SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |   (epoch_us(ts) // 1000000) - 1704067200 AS xs,
      |   CAST(value AS DECIMAL(18,2)) AS vd, event_type
      | FROM events)""".stripMargin

  /** Shared Spark prep — mirror of [[E]]. */
  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("ts_us"),
      (expr("ts_us div 1000000") - lit(1704067200L)).as("xs"),
      col("value").cast("decimal(18,2)").as("vd"),
      col("event_type"))

  import Exact.{floorDivBig, floorDivBigSql}

  /** Chi-squared independence test (#178): is the event-type mix
    * independent of the user cohort (user_id mod 8)? The classic
    * contingency-table audit, computed from the identity
    * χ² = N·(Σ O²/(R·C) − 1) with each cell's O²/(R·C) floored at
    * pico precision (O² ≤ R·C ⇒ every term ≤ 1e12, and the shared
    * floor order makes the sum engine-identical). Shape: one
    * (cohort, type)-keyed count — map-side combined, 40 cells at any
    * corpus size — then windows over the 40-row cell relation.
    */
  val qChisq = GateQuery.sql(
    "q_chisq",
    s"""WITH o AS (SELECT user_id % 8 AS g, event_type AS t, count(*) AS o
       |  FROM $E e GROUP BY 1, 2),
       |m AS (SELECT g, t, o,
       |    sum(o) OVER (PARTITION BY g) AS r,
       |    sum(o) OVER (PARTITION BY t) AS c,
       |    sum(o) OVER () AS n
       |  FROM o),
       |s AS (SELECT any_value(n) AS n, count(*) AS n_cells,
       |    CAST(sum(${floorDivBigSql("CAST(o AS HUGEINT) * o * 1000000000000", "CAST(r AS HUGEINT) * c")}) AS HUGEINT) AS u
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n_events, CAST(n_cells AS BIGINT) AS n_cells,
       |  CAST((SELECT count(DISTINCT user_id % 8) FROM $E e) - 1 AS BIGINT)
       |    * CAST((SELECT count(DISTINCT event_type) FROM $E e) - 1 AS BIGINT) AS dof,
       |  CAST(${floorDivBigSql("greatest(CAST(n AS HUGEINT) * u - CAST(n AS HUGEINT) * 1000000000000, 0)", "1000000")} AS BIGINT)
       |    AS chi2_micro
       |FROM s""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val o = e.groupBy(pmod(col("user_id"), lit(8L)).as("g"), col("event_type").as("t"))
      .agg(count(lit(1)).as("o"))
    val m = o
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("g"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("t"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    // cast BEFORE multiplying: o·o·1e12 and r·c overflow long at only
    // ~3e3 events per cell (and n·1e12 at ~9e6 events)
    val st = m.agg(
      first(col("n")).as("n"), count(lit(1)).as("n_cells"),
      sum(floorDivBig(col("o").cast("decimal(38,0)") * col("o") * lit(1000000000000L),
        col("r").cast("decimal(38,0)") * col("c"))).cast("decimal(38,0)").as("u"),
      countDistinct(col("g")).as("ng"), countDistinct(col("t")).as("nt"))
    // per-cell pico flooring can push the numerator a hair below 0 on
    // a near-independent table (χ² ≥ 0 analytically): clamp BEFORE the
    // division so floor (Spark) vs truncate (DuckDB) can't diverge
    st.select(
      col("n").cast("long").as("n_events"),
      col("n_cells").cast("long").as("n_cells"),
      ((col("ng") - 1) * (col("nt") - 1)).cast("long").as("dof"),
      floorDivBig(
        greatest(col("n").cast("decimal(38,0)") * col("u") -
          col("n").cast("decimal(38,0)") * lit(1000000000000L),
          lit(0L).cast("decimal(38,0)")),
        lit(1000000L)).cast("long").as("chi2_micro"))
  }

  /** G-test of independence (#340): the likelihood-ratio companion
    * of #178's Pearson χ² on the SAME cohort×type contingency —
    * G = 2·Σ O·ln(O·N/(R·C)) (Sokal & Rohlf; additive across table
    * partitions, which Pearson's χ² is not, and the statistic
    * #302's keyness already uses in 2×2 form — this is the full-table
    * version). Per-cell term micro-floored from the mirrored double
    * ln of exact integer counts BEFORE the order-free 40-cell sum;
    * O = 0 cells contribute 0 by convention (excluded exactly);
    * negative total clamped at 0 (G ≥ 0 analytically, per-cell
    * flooring can dip a hair under on a near-independent table).
    */
  val qGTest = GateQuery.sql(
    "q_gtest",
    s"""WITH o AS (SELECT user_id % 8 AS g, event_type AS t, count(*) AS o
       |  FROM $E e GROUP BY 1, 2),
       |m AS (SELECT g, t, o,
       |    sum(o) OVER (PARTITION BY g) AS r,
       |    sum(o) OVER (PARTITION BY t) AS c,
       |    sum(o) OVER () AS n
       |  FROM o),
       |s AS (SELECT any_value(n) AS n, count(*) AS n_cells,
       |    CAST(count(DISTINCT g) AS BIGINT) AS ng,
       |    CAST(count(DISTINCT t) AS BIGINT) AS nt,
       |    CAST(sum(CAST(floor(o * ln(CAST(o AS DOUBLE) * n
       |      / (CAST(r AS DOUBLE) * c)) * 1000000) AS BIGINT)) AS BIGINT) AS u
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n_events, CAST(n_cells AS BIGINT) AS n_cells,
       |  (ng - 1) * (nt - 1) AS dof,
       |  greatest(2 * u, 0) AS g_micro
       |FROM s""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val o = e.groupBy(pmod(col("user_id"), lit(8L)).as("g"), col("event_type").as("t"))
      .agg(count(lit(1)).as("o"))
    val m = o
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("g"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("t"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    val term = floor(col("o") * log(col("o").cast("double") * col("n") /
      (col("r").cast("double") * col("c"))) * lit(1000000L)).cast("long")
    val st = m.agg(
      first(col("n")).as("n"), count(lit(1)).as("n_cells"),
      countDistinct(col("g")).cast("long").as("ng"),
      countDistinct(col("t")).cast("long").as("nt"),
      sum(term).cast("long").as("u"))
    st.select(
      col("n").cast("long").as("n_events"),
      col("n_cells").cast("long").as("n_cells"),
      ((col("ng") - 1) * (col("nt") - 1)).as("dof"),
      greatest(lit(2L) * col("u"), lit(0L)).as("g_micro"))
  }

  /** Welch's t-test (#179): per user cohort, does the mean 'click'
    * value differ from the mean 'view' value? n/Σ/Σ² accumulate as
    * exact integers in ONE cohort-keyed conditional aggregate (the
    * A/B-test shape: no join between the two samples); the t
    * statistic and Welch–Satterthwaite df are closed-form doubles
    * mirrored textually from identical integer inputs.
    */
  val qTtest = GateQuery.sql(
    "q_ttest",
    s"""WITH a AS (SELECT user_id % 8 AS g,
       |    count(*) FILTER (event_type = 'click') AS n1,
       |    CAST(sum(${centsSql("vd")}) FILTER (event_type = 'click') AS BIGINT) AS s1,
       |    CAST(sum(${centsSql("vd")} * ${centsSql("vd")})
       |      FILTER (event_type = 'click') AS HUGEINT) AS q1,
       |    count(*) FILTER (event_type = 'view') AS n2,
       |    CAST(sum(${centsSql("vd")}) FILTER (event_type = 'view') AS BIGINT) AS s2,
       |    CAST(sum(${centsSql("vd")} * ${centsSql("vd")})
       |      FILTER (event_type = 'view') AS HUGEINT) AS q2
       |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1),
       |f AS (SELECT g, n1, n2,
       |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
       |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) / n1 AS se1,
       |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) / n2 AS se2
       |  FROM a)
       |SELECT g, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  round((m1 - m2) / sqrt(se1 + se2), 4) + 0.0 AS t_stat,
       |  round((se1 + se2) * (se1 + se2)
       |    / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 2) + 0.0 AS df_welch
       |FROM f ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type").isin("click", "view"))
      .select(pmod(col("user_id"), lit(8L)).as("g"), col("event_type"),
        Exact.cents(col("vd")).as("c"))
    def side(t: String, i: Int): Seq[Column] = Seq(
      count(when(col("event_type") === t, 1)).as(s"n$i"),
      Exact.sumUnits(when(col("event_type") === t, col("c"))).cast("long").as(s"s$i"),
      sum(when(col("event_type") === t, col("c") * col("c")).cast("decimal(38,0)"))
        .as(s"q$i"))
    val a = e.groupBy(col("g")).agg(
      side("click", 1).head, (side("click", 1).tail ++ side("view", 2)): _*)
    def m(i: Int) = col(s"s$i").cast("double") / col(s"n$i")
    def se(i: Int) =
      (col(s"q$i").cast("double") - col(s"s$i").cast("double") * col(s"s$i") / col(s"n$i")) /
        (col(s"n$i") - 1) / col(s"n$i")
    val sePool = se(1) + se(2)
    a.select(col("g"), col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        (round((m(1) - m(2)) / sqrt(sePool), 4) + lit(0.0)).as("t_stat"),
        (round(sePool * sePool /
          (se(1) * se(1) / (col("n1") - 1) + se(2) * se(2) / (col("n2") - 1)), 2) +
          lit(0.0)).as("df_welch"))
      .orderedSmall(col("g"))
  }

  /** Cohen's d with Hedges' g correction (#350): the STANDARDIZED
    * mean difference per cohort — the effect size #179's t-statistic
    * deliberately is not (t grows with √n; d does not), the metric
    * meta-analyses pool, reported next to Cliff's delta (#295, its
    * ordinal cousin):
    *
    *   d = (m₁−m₂)/s_pooled,  g = d·(1 − 3/(4(n₁+n₂)−9)).
    *
    * SAME single conditional aggregate as #179 (exact integer
    * n/Σ/Σ² per side, decimal-lifted squares); d, the pooled sd and
    * Hedges' small-sample factor are mirrored double closed forms;
    * degenerate sides (n ≤ 1) or zero pooled variance → NULL.
    */
  val qCohensD = GateQuery.sql(
    "q_cohens_d",
    s"""WITH a AS (SELECT user_id % 8 AS g,
       |    count(*) FILTER (event_type = 'click') AS n1,
       |    CAST(sum(${centsSql("vd")}) FILTER (event_type = 'click') AS BIGINT) AS s1,
       |    CAST(sum(${centsSql("vd")} * ${centsSql("vd")})
       |      FILTER (event_type = 'click') AS HUGEINT) AS q1,
       |    count(*) FILTER (event_type = 'view') AS n2,
       |    CAST(sum(${centsSql("vd")}) FILTER (event_type = 'view') AS BIGINT) AS s2,
       |    CAST(sum(${centsSql("vd")} * ${centsSql("vd")})
       |      FILTER (event_type = 'view') AS HUGEINT) AS q2
       |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1),
       |f AS (SELECT g, n1, n2,
       |    CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md,
       |    ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
       |      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
       |      / (n1 + n2 - 2) AS sp2
       |  FROM a WHERE n1 > 1 AND n2 > 1)
       |SELECT g, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  round(md, 4) + 0.0 AS mean_diff_cents,
       |  CASE WHEN sp2 <= 0.0 THEN NULL
       |    ELSE round(md / sqrt(sp2), 6) + 0.0 END AS cohens_d,
       |  CASE WHEN sp2 <= 0.0 THEN NULL
       |    ELSE round(md / sqrt(sp2) * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) + 0.0
       |  END AS hedges_g
       |FROM f ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type").isin("click", "view"))
      .select(pmod(col("user_id"), lit(8L)).as("g"), col("event_type"),
        Exact.cents(col("vd")).as("c"))
    def side(t: String, i: Int): Seq[Column] = Seq(
      count(when(col("event_type") === t, 1)).as(s"n$i"),
      Exact.sumUnits(when(col("event_type") === t, col("c"))).cast("long").as(s"s$i"),
      sum(when(col("event_type") === t, col("c") * col("c")).cast("decimal(38,0)"))
        .as(s"q$i"))
    val a = e.groupBy(col("g")).agg(
      side("click", 1).head, (side("click", 1).tail ++ side("view", 2)): _*)
    val md = col("s1").cast("double") / col("n1") - col("s2").cast("double") / col("n2")
    val sp2 = ((col("q1").cast("double") - col("s1").cast("double") * col("s1") / col("n1")) +
      (col("q2").cast("double") - col("s2").cast("double") * col("s2") / col("n2"))) /
      (col("n1") + col("n2") - 2)
    val f = a.filter(col("n1") > 1 && col("n2") > 1)
      .select(col("g"), col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        md.as("md"), sp2.as("sp2"))
    f.select(col("g"), col("n1"), col("n2"),
        (round(col("md"), 4) + lit(0.0)).as("mean_diff_cents"),
        when(col("sp2") <= 0.0, lit(null).cast("double"))
          .otherwise(round(col("md") / sqrt(col("sp2")), 6) + lit(0.0)).as("cohens_d"),
        when(col("sp2") <= 0.0, lit(null).cast("double"))
          .otherwise(round(col("md") / sqrt(col("sp2")) *
            (lit(1.0) - lit(3.0) / (lit(4.0) * (col("n1") + col("n2")) - lit(9.0))), 6) +
            lit(0.0)).as("hedges_g"))
      .orderedSmall(col("g"))
  }

  /** Yuen's trimmed-mean t-test (#329): the ROBUST two-sample
    * comparison completing the family — Welch (#179) collapses under
    * heavy tails, Mann–Whitney (#212) answers a different hypothesis
    * (stochastic dominance, not means); Yuen (1974) compares 20%-
    * trimmed means with winsorized variances, keeping a mean-like
    * interpretation at a 20% breakdown point. Same click-vs-view ×
    * user-cohort battery as #179. Shape: ONE ranked window pass per
    * (cohort, side) + ONE conditional aggregate (the #166/#229
    * trimmed/winsorized machinery — interior sums plus k·boundary
    * terms, boundaries via max(CASE rank = …) in the SAME aggregate);
    * all sums exact integers, the winsorized variance numerator
    * n·Q_w − S_w² an exact decimal, and t/df one mirrored double
    * closed form each:
    *   t = (m_t1 − m_t2)/√(d₁+d₂), d_i = num_i/(n_i²·h_i·(h_i−1))
    * with h = n − 2k the trimmed count. Degenerate (h ≤ 1 or both
    * winsorized variances zero) → NULL by exact predicates.
    */
  val qYuen = GateQuery.sql(
    "q_yuen",
    s"""WITH c AS (SELECT user_id % 8 AS g, event_type AS t, event_id,
       |    ${centsSql("vd")} AS x
       |  FROM $E e WHERE event_type IN ('click', 'view')),
       |r AS (SELECT g, t, x,
       |    CAST(row_number() OVER (PARTITION BY g, t ORDER BY x, event_id) AS BIGINT) AS ra,
       |    CAST(count(*) OVER (PARTITION BY g, t) AS BIGINT) AS n
       |  FROM c),
       |a AS (SELECT g, t, any_value(n) AS n, n // 5 AS k,
       |    CAST(sum(x) FILTER (ra > n // 5 AND ra <= n - n // 5) AS BIGINT) AS s_in,
       |    CAST(sum(CAST(x AS HUGEINT) * x)
       |      FILTER (ra > n // 5 AND ra <= n - n // 5) AS HUGEINT) AS q_in,
       |    max(CASE WHEN ra = n // 5 + 1 THEN x END) AS lo,
       |    max(CASE WHEN ra = n - n // 5 THEN x END) AS hi
       |  FROM r GROUP BY g, t, n // 5),
       |w AS (SELECT g, t, n, k, n - 2 * k AS h, s_in,
       |    CAST(s_in + k * lo + k * hi AS HUGEINT) AS sw,
       |    q_in + CAST(k AS HUGEINT) * lo * lo + CAST(k AS HUGEINT) * hi * hi AS qw
       |  FROM a),
       |v AS (SELECT g, t, n, h, s_in, CAST(n AS HUGEINT) * qw - sw * sw AS num FROM w),
       |p AS (SELECT g,
       |    max(CASE WHEN t = 'click' THEN n END) AS n1,
       |    max(CASE WHEN t = 'click' THEN h END) AS h1,
       |    max(CASE WHEN t = 'click' THEN s_in END) AS st1,
       |    max(CASE WHEN t = 'click' THEN num END) AS num1,
       |    max(CASE WHEN t = 'view' THEN n END) AS n2,
       |    max(CASE WHEN t = 'view' THEN h END) AS h2,
       |    max(CASE WHEN t = 'view' THEN s_in END) AS st2,
       |    max(CASE WHEN t = 'view' THEN num END) AS num2
       |  FROM v GROUP BY g),
       |f AS (SELECT g, n1, h1, st1, n2, h2, st2, num1, num2,
       |    CAST(num1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1 * h1 * (h1 - 1)) AS d1,
       |    CAST(num2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2 * h2 * (h2 - 1)) AS d2
       |  FROM p WHERE h1 > 1 AND h2 > 1)
       |SELECT g, CAST(h1 AS BIGINT) AS h1, CAST(h2 AS BIGINT) AS h2,
       |  ${Exact.roundedRatioSignedSql("st1", "h1", 4)} AS trim_mean1,
       |  ${Exact.roundedRatioSignedSql("st2", "h2", 4)} AS trim_mean2,
       |  CASE WHEN num1 > 0 OR num2 > 0 THEN
       |    round((CAST(st1 AS DOUBLE) / h1 - CAST(st2 AS DOUBLE) / h2)
       |      / sqrt(d1 + d2), 4) + 0.0 END AS t_yuen,
       |  CASE WHEN num1 > 0 OR num2 > 0 THEN
       |    round((d1 + d2) * (d1 + d2)
       |      / (d1 * d1 / (h1 - 1) + d2 * d2 / (h2 - 1)), 2) + 0.0 END AS df_yuen
       |FROM f ORDER BY g""".stripMargin) { (s, d) =>
    val c = ev(s, d).filter(col("event_type").isin("click", "view"))
      .select(pmod(col("user_id"), lit(8L)).as("g"), col("event_type").as("t"),
        col("event_id"), Exact.cents(col("vd")).as("x"))
    val wa = Window.partitionBy(col("g"), col("t")).orderBy(col("x"), col("event_id"))
    val r = c
      .withColumn("ra", row_number().over(wa).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("g"), col("t"))).cast("long"))
    val inP = col("ra") > col("k") && col("ra") <= col("n") - col("k")
    val a = r.withColumn("k", Binning.floorDiv(col("n"), 5L))
      .groupBy(col("g"), col("t"), col("k"))
      .agg(first(col("n")).as("n"),
        sum(when(inP, col("x"))).cast("long").as("s_in"),
        sum(when(inP, col("x").cast("decimal(38,0)") * col("x")))
          .cast("decimal(38,0)").as("q_in"),
        max(when(col("ra") === col("k") + 1, col("x"))).as("lo"),
        max(when(col("ra") === col("n") - col("k"), col("x"))).as("hi"))
    val kD = col("k").cast("decimal(38,0)")
    val w = a.select(col("g"), col("t"), col("n"), (col("n") - lit(2L) * col("k")).as("h"),
      col("s_in"),
      (col("s_in").cast("decimal(38,0)") + kD * col("lo") + kD * col("hi")).as("sw"),
      (col("q_in") + kD * col("lo") * col("lo") + kD * col("hi") * col("hi")).as("qw"))
    val v = w.select(col("g"), col("t"), col("n"), col("h"), col("s_in"),
      (col("n").cast("decimal(38,0)") * col("qw") - col("sw") * col("sw")).as("num"))
    def pc(t: String, c0: String, as0: String) =
      max(when(col("t") === t, col(c0))).as(as0)
    val p = v.groupBy(col("g")).agg(
      pc("click", "n", "n1"), pc("click", "h", "h1"), pc("click", "s_in", "st1"),
      pc("click", "num", "num1"),
      pc("view", "n", "n2"), pc("view", "h", "h2"), pc("view", "s_in", "st2"),
      pc("view", "num", "num2"))
      .filter(col("h1") > 1 && col("h2") > 1)
    def dI(i: Int) = col(s"num$i").cast("double") /
      (col(s"n$i").cast("double") * col(s"n$i") * col(s"h$i") * (col(s"h$i") - 1))
    val ok = col("num1") > 0 || col("num2") > 0
    val dSum = dI(1) + dI(2)
    p.select(col("g"), col("h1").cast("long").as("h1"), col("h2").cast("long").as("h2"),
        Exact.roundedRatioSigned(col("st1"), col("h1"), 4).as("trim_mean1"),
        Exact.roundedRatioSigned(col("st2"), col("h2"), 4).as("trim_mean2"),
        when(ok, round((col("st1").cast("double") / col("h1") -
            col("st2").cast("double") / col("h2")) / sqrt(dSum), 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("t_yuen"),
        when(ok, round(dSum * dSum /
            (dI(1) * dI(1) / (col("h1") - 1) + dI(2) * dI(2) / (col("h2") - 1)), 2) +
            lit(0.0))
          .otherwise(lit(null).cast("double")).as("df_yuen"))
      .orderedSmall(col("g"))
  }

  /** CUSUM drift detection (#180): the one-sided cumulative-sum
    * control chart over each user's 'view' series. The textbook
    * recursion S_t = max(0, S_{t−1} + dev_t) is exactly the running
    * sum minus its own running minimum — P_t − min(0, min_{j≤t} P_j)
    * — so the whole chart is two chained window functions sharing
    * ONE user-keyed shuffle (no recursion, no UDAF). Target = the
    * user's HALF_UP mean; alarm when the excursion exceeds twice the
    * target. All integer cents.
    */
  val qCusum = GateQuery.sql(
    "q_cusum",
    s"""WITH e AS (SELECT user_id, ts_us, event_id, ${centsSql("vd")} AS c
       |  FROM $E t WHERE event_type = 'view'),
       |t AS (SELECT *, (2 * sum(c) OVER (PARTITION BY user_id) + count(*) OVER (PARTITION BY user_id))
       |    // (2 * count(*) OVER (PARTITION BY user_id)) AS target FROM e),
       |p AS (SELECT *, sum(c - target)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS UNBOUNDED PRECEDING) AS p FROM t),
       |s AS (SELECT *, p - least(0, min(p)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS UNBOUNDED PRECEDING)) AS cusum FROM p)
       |SELECT user_id, count(*) AS n_points,
       |  CAST(any_value(target) AS BIGINT) AS target_cents,
       |  CAST(max(cusum) AS BIGINT) AS max_cusum,
       |  count(*) FILTER (cusum > 2 * target) AS n_alarms
       |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("event_id"), Exact.cents(col("vd")).as("c"))
    val wu = Window.partitionBy(col("user_id"))
    val t = e.withColumn("target",
      Binning.floorDivCol(lit(2L) * sum(col("c")).over(wu) + count(lit(1)).over(wu),
        lit(2L) * count(lit(1)).over(wu)))
    val cu = graft.operators.WindowOps.cusum(t, Seq(col("user_id")),
      Seq(col("ts_us"), col("event_id")), col("c"), col("target"))
    cu.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"), first(col("target")).as("target_cents"),
        max(col("cusum")).as("max_cusum"),
        count(when(col("cusum") > lit(2L) * col("target"), 1)).as("n_alarms"))
      .orderedSmall(col("user_id"))
  }

  private val AcfLags = Seq(1, 2, 3)

  /** Autocorrelation function (#181): r_k at series lags 1..3 of each
    * event type's hourly totals — the periodicity/drift diagnostic of
    * a monitoring stream. With the per-type (n, S) scalars attached
    * as a broadcast, every deviation n·y_t − S is an exact integer,
    * the lag products accumulate as exact decimals through ONE
    * type-keyed ordered window + aggregate, and r_k leaves as a
    * single mirrored double division.
    */
  val qAcf = GateQuery.sql(
    "q_acf",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |st AS (SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS s
       |  FROM g GROUP BY 1),
       |l AS (SELECT g.event_type, st.n, st.s, y,
       |    ${AcfLags.map(k => s"lead(y, $k) OVER (PARTITION BY g.event_type ORDER BY grid) AS y$k")
             .mkString(", ")}
       |  FROM g JOIN st USING (event_type)),
       |a AS (SELECT event_type, any_value(n) AS n,
       |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)) AS HUGEINT) AS den,
       |    ${AcfLags.map(k =>
             s"CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y$k - s)) AS HUGEINT) AS num$k")
             .mkString(", ")}
       |  FROM l GROUP BY event_type)
       |SELECT event_type, lag, CAST(n AS BIGINT) AS n_points, r_k FROM (
       |  ${AcfLags.map(k =>
            s"""SELECT event_type, $k AS lag, n,
               |  round(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0 AS r_k
               |  FROM a""".stripMargin).mkString("\n  UNION ALL ")})
       |ORDER BY event_type, lag""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val st = g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumUnits(col("y")).cast("long").as("s"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val withLead = AcfLags.foldLeft(g.join(broadcast(st), "event_type")) { (df, k) =>
      df.withColumn(s"y$k", lead(col("y"), k).over(wo))
    }
    // cast BEFORE the n·y product: it overflows long once hourly cent
    // totals reach ~1e18/n (same overflow-before-cast trap as q_chisq)
    def dev(c: Column) = col("n").cast("decimal(38,0)") * c - col("s")
    val aggCols: Seq[Column] =
      sum(dev(col("y")) * dev(col("y"))).cast("decimal(38,0)").as("den") +:
        AcfLags.map(k =>
          sum(dev(col("y")) * dev(col(s"y$k"))).cast("decimal(38,0)").as(s"num$k"))
    val a = withLead.groupBy(col("event_type"))
      .agg(first(col("n")).as("n"), aggCols: _*)
    val perLag = AcfLags.map { k =>
      a.select(col("event_type"), lit(k).as("lag"), col("n"),
        (round(col(s"num$k").cast("double") / col("den").cast("double"), 6) + lit(0.0))
          .as("r_k"))
    }
    perLag.reduce(_.unionAll(_))
      .select(col("event_type"), col("lag"), col("n").cast("long").as("n_points"), col("r_k"))
      .orderedSmall(col("event_type"), col("lag"))
  }

  /** Average precision (#182): the ranking-quality metric of a
    * retrieval/quality ranker — per cohort, events ranked by value
    * (event_id tie pin), 'purchase' rows relevant; AP = mean of
    * precision-at-k over the relevant ranks, in exact ppm (each
    * P@k floored at ppm, then the mean floored — identical order
    * both engines). One rank window + one aggregate per cohort.
    */
  val qAvgPrecision = GateQuery.sql(
    "q_avg_precision",
    s"""WITH e AS (SELECT user_id % 8 AS g, event_id,
       |    ${centsSql("vd")} AS c,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
       |  FROM $E t),
       |r AS (SELECT g, rel,
       |    row_number() OVER (PARTITION BY g ORDER BY c DESC, event_id) AS k,
       |    sum(rel) OVER (PARTITION BY g ORDER BY c DESC, event_id
       |      ROWS UNBOUNDED PRECEDING) AS cum_pos
       |  FROM e)
       |SELECT g, count(*) AS n_events, CAST(sum(rel) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN rel = 1 THEN cum_pos * 1000000 // k END) // sum(rel)
       |    AS BIGINT) AS ap_ppm
       |FROM r GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(
      pmod(col("user_id"), lit(8L)).as("g"), col("event_id"),
      Exact.cents(col("vd")).as("c"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("rel"))
    val wo = Window.partitionBy(col("g")).orderBy(col("c").desc, col("event_id"))
    val r = e
      .withColumn("k", row_number().over(wo).cast("long"))
      .withColumn("cum_pos",
        sum(col("rel")).over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    r.groupBy(col("g"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumUnits(col("rel")).cast("long").as("n_pos"),
        floorDivBig(
          Exact.sumUnits(when(col("rel") === 1,
            Binning.floorDivCol(col("cum_pos") * lit(1000000L), col("k")))),
          Exact.sumUnits(col("rel"))).cast("long").as("ap_ppm"))
      .orderedSmall(col("g"))
  }

  private val NdcgK = 10
  /** floor(1e6 / log2(1 + r)) for r = 1..K — the DCG discount weights
    * precomputed in the driver and inlined as LITERALS on both
    * engines (the Benford literal-domain trick: libm never runs in
    * either gate path, so cross-engine log differences can't leak).
    */
  private[graft] val ndcgWeights: Seq[Long] =
    (1 to NdcgK).map(r => math.floor(1e6 / (math.log(1.0 + r) / math.log(2.0))).toLong)
  private def NdcgW = ndcgWeights

  /** NDCG@10 (#183): graded ranking quality — gains are value
    * ventiles (c div 5000, capped at 9), the realized ranking is by
    * value with event_id tie pin, the ideal ranking is the same
    * rows by gain. Two rank windows SHARE one cohort shuffle; DCG
    * and IDCG are exact integer dot products with the literal
    * discount table; ndcg = DCG·1e6 div IDCG in exact ppm.
    */
  val qNdcg = GateQuery.sql(
    "q_ndcg",
    s"""WITH e AS (SELECT user_id % 8 AS g, event_id,
       |    ${centsSql("vd")} AS c,
       |    least(${centsSql("vd")} // 5000, 9) AS gain
       |  FROM $E t),
       |r AS (SELECT g, gain,
       |    row_number() OVER (PARTITION BY g ORDER BY c DESC, event_id) AS rk,
       |    row_number() OVER (PARTITION BY g ORDER BY gain DESC, c DESC, event_id) AS ik
       |  FROM e),
       |w(rank, w) AS (VALUES ${NdcgW.zipWithIndex.map { case (w, i) => s"(${i + 1}, $w)" }
           .mkString(", ")}),
       |a AS (SELECT g,
       |    CAST(sum(CASE WHEN rk <= $NdcgK THEN gain * (SELECT w FROM w WHERE rank = rk) ELSE 0 END)
       |      AS BIGINT) AS dcg,
       |    CAST(sum(CASE WHEN ik <= $NdcgK THEN gain * (SELECT w FROM w WHERE rank = ik) ELSE 0 END)
       |      AS BIGINT) AS idcg
       |  FROM r GROUP BY g)
       |SELECT g, dcg, idcg,
       |  CASE WHEN idcg = 0 THEN 0 ELSE CAST(dcg * 1000000 // idcg AS BIGINT) END AS ndcg_ppm
       |FROM a ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(
      pmod(col("user_id"), lit(8L)).as("g"), col("event_id"),
      Exact.cents(col("vd")).as("c"),
      least(Binning.floorDiv(Exact.cents(col("vd")), 5000L), lit(9L)).as("gain"))
    val wr = Window.partitionBy(col("g")).orderBy(col("c").desc, col("event_id"))
    val wi = Window.partitionBy(col("g"))
      .orderBy(col("gain").desc, col("c").desc, col("event_id"))
    // rank → literal discount weight (falls through to 0 past K)
    def wOf(rank: Column): Column =
      NdcgW.zipWithIndex.foldLeft(lit(0L)) { case (acc, (w, i)) =>
        when(rank === (i + 1), lit(w)).otherwise(acc)
      }
    val r = e
      .withColumn("rk", row_number().over(wr))
      .withColumn("ik", row_number().over(wi))
    val a = r.groupBy(col("g")).agg(
      Exact.sumUnits(when(col("rk") <= NdcgK, col("gain") * wOf(col("rk"))).otherwise(lit(0L)))
        .cast("long").as("dcg"),
      Exact.sumUnits(when(col("ik") <= NdcgK, col("gain") * wOf(col("ik"))).otherwise(lit(0L)))
        .cast("long").as("idcg"))
    a.select(col("g"), col("dcg"), col("idcg"),
        when(col("idcg") === 0, lit(0L))
          .otherwise(Binning.floorDivCol(col("dcg") * lit(1000000L), col("idcg")))
          .as("ndcg_ppm"))
      .orderedSmall(col("g"))
  }

  /** Expected reciprocal rank (#345): the CASCADE-model ranking
    * metric next to NDCG (#183) — ERR = Σᵣ (1/r)·Rᵣ·∏ᵢ<ᵣ(1−Rᵢ)
    * models a user who STOPS at the first satisfying result
    * (Chapelle et al. 2009), so a top-heavy list is rewarded where
    * NDCG's independent-position discounts can't tell. Graded
    * relevance on the TREC 4-point scale (R = (2^g−1)/8) makes the
    * whole cascade EXACT 64-bit integers: stop-probability
    * numerators ∏(8−(2^g−1)) ≤ 8⁹, per-rank terms one floor division
    * by r·8^r — no doubles anywhere. Shape: the SAME per-cohort
    * ranking window as #183, then the top-10 grades PIVOT to one row
    * per cohort (10 conditional aggregates) and the rank-unrolled
    * cascade is a pure projection.
    */
  val qErr = GateQuery.sql(
    "q_err", {
      def rnumS(i: Int) =
        s"(CASE WHEN g$i = 1 THEN 1 WHEN g$i = 2 THEN 3 WHEN g$i = 3 THEN 7 ELSE 0 END)"
      def numS(i: Int) =
        s"(CASE WHEN g$i = 1 THEN 7 WHEN g$i = 2 THEN 5 WHEN g$i = 3 THEN 1 ELSE 8 END)"
      val terms = (1 to 10).map { r =>
        val p = if (r == 1) "1" else (1 until r).map(numS).mkString(" * ")
        val den = r.toLong * math.pow(8, r).toLong
        s"(CAST(${rnumS(r)} AS BIGINT) * $p * 1000000) // $den"
      }.mkString("\n    + ")
      val pivots = (1 to 10).map(i => s"max(CASE WHEN rk = $i THEN gr END) AS g$i")
        .mkString(", ")
      s"""WITH e AS (SELECT user_id % 8 AS g, event_id, ${centsSql("vd")} AS c,
         |    least(${centsSql("vd")} // 12500, 3) AS gr
         |  FROM $E t),
         |r AS (SELECT g, gr,
         |    row_number() OVER (PARTITION BY g ORDER BY c DESC, event_id) AS rk
         |  FROM e),
         |p AS (SELECT g, $pivots FROM r GROUP BY g)
         |SELECT g, CAST($terms AS BIGINT) AS err_micro
         |FROM p ORDER BY g""".stripMargin
    }) { (s, d) =>
    def rnumC(i: Int): Column =
      when(col(s"g$i") === 1, 1L).when(col(s"g$i") === 2, 3L)
        .when(col(s"g$i") === 3, 7L).otherwise(0L)
    def numC(i: Int): Column =
      when(col(s"g$i") === 1, 7L).when(col(s"g$i") === 2, 5L)
        .when(col(s"g$i") === 3, 1L).otherwise(8L)
    val e = ev(s, d).select(
      pmod(col("user_id"), lit(8L)).as("g"), col("event_id"),
      Exact.cents(col("vd")).as("c"),
      least(Binning.floorDiv(Exact.cents(col("vd")), 12500L), lit(3L)).as("gr"))
    val wr = Window.partitionBy(col("g")).orderBy(col("c").desc, col("event_id"))
    val r = e.withColumn("rk", row_number().over(wr))
    val p = r.groupBy(col("g")).agg(
      max(when(col("rk") === 1, col("gr"))).as("g1"),
      (2 to 10).map(i => max(when(col("rk") === i, col("gr"))).as(s"g$i")): _*)
    val err = (1 to 10).map { rr =>
      val prod = (1 until rr).foldLeft(lit(1L): Column)((acc, i) => acc * numC(i))
      val den = rr.toLong * math.pow(8, rr).toLong // up to 10·8^10 ≈ 1.1e10
      Binning.floorDivCol(rnumC(rr) * prod * lit(1000000L), lit(den))
    }.reduce(_ + _)
    p.select(col("g"), err.cast("long").as("err_micro"))
      .orderedSmall(col("g"))
  }

  private val PrIters = 5
  private val PrDampNum = 85L // d = 0.85 as an exact rational
  private val PrUnit = 1000000000000L // pico rank units

  /** 5-iteration PageRank (#184): the canonical iterative-graph
    * operator, over the customer⇄supplier trade graph (distinct
    * orders⋈lineitem pairs, doubled into both directions so every
    * node has out-degree ≥ 1 — no dangling mass). Ranks live in
    * exact pico units; each transfer r div outdeg and each damping
    * (85·in) div 100 + teleport floors identically on both engines,
    * so five rounds stay bit-exact. Per iteration: one join of the
    * rank relation against the src-keyed edge relation + one
    * dst-keyed aggregate — the classic 2-shuffle PageRank step; at
    * cluster scale the edge side would be bucketed on src once
    * ([[graft.operators.Layout.writeBucketed]]) making the join
    * zero-exchange. Output folds node ranks onto (nation, role) —
    * bounded at 50 rows at any scale.
    */
  val qPagerank = GateQuery.sql(
    "q_pagerank", {
      val iterCtes = (1 to PrIters).map { i =>
        s"""r$i AS (SELECT n.node,
           |    (15 * $PrUnit) // (100 * (SELECT n FROM cnt))
           |      + ($PrDampNum * coalesce(c.in_sum, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, CAST(sum(r.r // e.outdeg) AS BIGINT) AS in_sum
           |    FROM edges e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1) c
           |  ON n.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e0 AS (SELECT 2 * ck AS src, 2 * sk + 1 AS dst FROM pairs
         |  UNION ALL SELECT 2 * sk + 1, 2 * ck FROM pairs),
         |deg AS (SELECT src AS node, count(*) AS outdeg FROM e0 GROUP BY 1),
         |nodes AS (SELECT node FROM deg),
         |cnt AS (SELECT count(*) AS n FROM nodes),
         |edges AS (SELECT e0.src, e0.dst, d.outdeg FROM e0 JOIN deg d ON e0.src = d.node),
         |r0 AS (SELECT node, $PrUnit // (SELECT n FROM cnt) AS r FROM nodes),
         |$iterCtes,
         |nat AS (SELECT 2 * c_custkey AS node, c_nationkey AS nationkey,
         |    'customer' AS role FROM customer
         |  UNION ALL SELECT 2 * s_suppkey + 1, s_nationkey, 'supplier' FROM supplier)
         |SELECT nat.nationkey, nat.role, count(*) AS n_nodes,
         |  CAST(sum(r.r) AS BIGINT) AS rank_pico
         |FROM r$PrIters r JOIN nat ON r.node = nat.node
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }) { (s, d) =>
    // integer node encoding (customers even, suppliers odd — the
    // q_bfs_hops convention) and the shared exact-integer PageRank
    // operator: under the driver edge bound the five rounds run in
    // primitive arrays off one fused collect; the distributed
    // 2-shuffle loop is unchanged as the 100 TB path
    // session-cached driver trade graph (SharedRelations.tradeGraph):
    // ONE collect + CSR build serves every call of this gate and
    // q_bfs_hops — the per-call arc collect + boxed index build was
    // most of the gate's wall; the five exact PR rounds re-run per
    // call on the immutable topology. Past the driver bound the
    // distributed pageRankPico loop is unchanged.
    val r = graft.SharedRelations.tradeGraph(s, d) match {
      case Some(tg) =>
        import s.implicits._
        tg.pageRank(PrIters, PrUnit, PrDampNum).toDF("node", "r")
      case None =>
        val pairs = graft.SharedRelations.custSuppPairs(s, d)
        val e0 = pairs.select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
          .unionAll(pairs.select((col("sk") * 2 + 1).as("src"), (col("ck") * 2).as("dst")))
        graft.operators.Graphs.pageRankPico(e0, PrIters, PrUnit, PrDampNum)
    }
    val cust = Tables.customer(s, d).select(
      (col("c_custkey") * 2).as("node"),
      col("c_nationkey").as("nationkey"), lit("customer").as("role"))
    val supp = Tables.supplier(s, d).select(
      (col("s_suppkey") * 2 + 1).as("node"),
      col("s_nationkey").as("nationkey"), lit("supplier").as("role"))
    r.join(cust.unionAll(supp), "node")
      .groupBy(col("nationkey"), col("role"))
      .agg(count(lit(1)).as("n_nodes"),
        Exact.sumUnits(col("r")).cast("long").as("rank_pico"))
      .orderedSmall(col("nationkey"), col("role"))
  }

  /** Gini concentration index (#185): how concentrated is spend
    * across users, per event type — the corpus-audit inequality
    * measure (a handful of users dominating a source is a data-mix
    * smell). Users COLLAPSE to per-user totals first (the
    * value-collapsed discipline: windows see users, never raw
    * events); G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending
    * ranks with user_id tie pin — numerator nonnegative by the
    * rearrangement inequality, so the ppm floor-division mirrors.
    */
  val qGini = GateQuery.sql(
    "q_gini",
    s"""WITH u AS (SELECT event_type, user_id,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS x
       |  FROM $E e GROUP BY 1, 2),
       |r AS (SELECT event_type, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i
       |  FROM u),
       |a AS (SELECT event_type, count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS s,
       |    CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS ix
       |  FROM r GROUP BY 1)
       |SELECT event_type, CAST(n AS BIGINT) AS n_users, s AS total_cents,
       |  CAST(${floorDivBigSql("(2 * ix - (n + 1) * CAST(s AS HUGEINT)) * 1000000", "CAST(n AS HUGEINT) * s")}
       |    AS BIGINT) AS gini_ppm
       |FROM a WHERE s > 0 ORDER BY event_type""".stripMargin) { (s, d) =>
    val u = ev(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("x"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("x"), col("user_id"))
    val r = u.withColumn("i", row_number().over(wo).cast("long"))
    val a = r.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      Exact.sumUnits(col("x")).cast("long").as("s"),
      sum(col("i").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)").as("ix"))
    // zero total mass (every user at 0 cents) has no defined Lorenz
    // curve — excluded identically on both engines (0 div 0 is NULL
    // on DuckDB, an ANSI crash on Spark)
    a.filter(col("s") > 0)
      .select(col("event_type"), col("n").cast("long").as("n_users"),
        col("s").as("total_cents"),
        floorDivBig(
          (lit(2L) * col("ix") - (col("n") + 1).cast("decimal(38,0)") * col("s")) *
            lit(1000000L),
          col("n").cast("decimal(38,0)") * col("s")).cast("long").as("gini_ppm"))
      .orderedSmall(col("event_type"))
  }

  private val BootB = 32
  /** Cumulative Poisson(1) thresholds in ppm, precomputed in the
    * driver and inlined as literals on both engines: a row's resample
    * weight is the number of thresholds ≤ its uniform hash draw —
    * the inverse-CDF transform with libm confined to the driver.
    */
  private[graft] val poissonCdfPpm: Seq[Long] = {
    val pmf = Iterator.iterate((0, math.exp(-1.0))) { case (k, p) => (k + 1, p / (k + 1)) }
    pmf.take(8).foldLeft((0.0, Seq.empty[Long])) { case ((cum, acc), (_, p)) =>
      val c = cum + p
      (c, acc :+ math.floor(c * 1e6).toLong)
    }._2
  }

  /** Poisson-bootstrap confidence interval (#186): the resampling
    * scheme that actually runs at 100 TB (Chamandy et al. 2012) — a
    * conventional bootstrap would need B independent full-data
    * passes; the Poisson trick gives every row an independent
    * Poisson(1) weight per replicate in ONE pass (a bounded ×B
    * explode, map-side combined to types×B rows). Weights come from
    * the portable md5 `base_hash` (replicate fate is a pure function
    * of (event_id, b) — partitioning/order/engine independent), the
    * inverse CDF is the inlined literal table [[poissonCdfPpm]], and
    * each replicate mean is an exact HALF_UP integer ratio. The
    * interval is the 2nd/31st order statistic of the 32 replicate
    * means.
    */
  val qBootstrapCi = GateQuery.sql(
    "q_bootstrap_ci", {
      val thr = poissonCdfPpm
      val wSql = thr.map(t => s"CASE WHEN u >= $t THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH e AS (SELECT event_type, event_id, ${centsSql("vd")} AS c FROM $E t),
         |x AS (SELECT event_type, c, b4.b4 * 4 + r.r AS b,
         |    CAST(concat('0x', substr(
         |      md5('boot:' || CAST(b4.b4 AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)),
         |      1 + r.r * 8, 8)) AS BIGINT) % 1000000 AS u
         |  FROM e, (SELECT unnest(generate_series(0, ${BootB / 4 - 1})) AS b4) b4,
         |    (SELECT unnest(generate_series(0, 3)) AS r) r),
         |w AS (SELECT event_type, b, c, $wSql AS w FROM x),
         |m AS (SELECT event_type, b,
         |    CAST(sum(w) AS BIGINT) AS sw, CAST(sum(w * c) AS BIGINT) AS swc
         |  FROM w GROUP BY 1, 2),
         |mm AS (SELECT event_type, b, (2 * swc + sw) // (2 * sw) AS mean_b,
         |    row_number() OVER (PARTITION BY event_type ORDER BY (2 * swc + sw) // (2 * sw), b) AS rk
         |  FROM m WHERE sw > 0),
         |full_m AS (SELECT event_type,
         |    (2 * CAST(sum(c) AS BIGINT) + count(*)) // (2 * count(*)) AS mean_cents
         |  FROM e GROUP BY 1)
         |SELECT f.event_type, $BootB AS n_boot, f.mean_cents,
         |  max(CASE WHEN rk = 2 THEN mean_b END) AS lo_cents,
         |  max(CASE WHEN rk = ${BootB - 1} THEN mean_b END) AS hi_cents
         |FROM full_m f JOIN mm USING (event_type)
         |GROUP BY 1, 3 ORDER BY 1""".stripMargin
    }) { (s, d) =>
    val e = ev(s, d).select(col("event_type"), col("event_id"), Exact.cents(col("vd")).as("c"))
    // ALL 32 replicate weights come out of ONE kernel call per row
    // (8 digests + 32 threshold counts in a primitive loop) — the r8
    // shape exploded ×8 rows before the md5 and ×4 again before a
    // 32-CASE chain, multiplying expression-stack work 32×; only the
    // already-tiny (b, w) pairs fan out here, straight into the
    // map-side partial aggregate.
    // r14 (the r13 measured-floor note's follow-up): decimal partial
    // sums cost ~2× a long sum at the 3.2 M-row explode, so when a
    // session-cached corpus bound PROVES the widest intermediate
    // (2·maxW·max|c|·n) fits a long, the sums run as longs — exact
    // integers either way, so values are identical; past the bound
    // the overflow-proof decimal sums stay (the oracle is HUGEINT
    // regardless).
    val (nRows, maxAbsC) = graft.SharedRelations.cachedValue("evabs", d) {
      val r = ev(s, d).agg(count(lit(1)).cast("long"),
        max(abs(Exact.cents(col("vd")))).cast("long")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // max|c| floors at 1 so the guard also bounds sw = Σw ≤ maxW·n
    // on an all-zero-cents corpus
    val longSafe = BigInt(2) * poissonCdfPpm.length * math.max(maxAbsC, 1L) * nRows <
      BigInt(Long.MaxValue) / 4
    def sumExact(c: Column) =
      if (longSafe) sum(c).cast("long") else Exact.sumUnits(c).cast("long")
    val w = e.select(col("event_type"), col("c"),
      posexplode(graft.expressions.SeriesExpressions.bootWeights(
        col("event_id"), BootB / 4, poissonCdfPpm.toArray)).as(Seq("b", "w")))
    // a replicate CAN draw weight 0 for every row of a small group
    // (P = e^-n): drop it identically on both engines — unguarded,
    // 0 div 0 is NULL on DuckDB but an ANSI crash on Spark, and the
    // engines rank NULLs at opposite ends
    val m = w.groupBy(col("event_type"), col("b"))
      .agg(sumExact(col("w")).as("sw"),
        sumExact(col("w") * col("c")).as("swc"))
      .filter(col("sw") > 0)
      .withColumn("mean_b",
        Binning.floorDivCol(lit(2L) * col("swc") + col("sw"), lit(2L) * col("sw")))
    val mm = m.withColumn("rk", row_number().over(
      Window.partitionBy(col("event_type")).orderBy(col("mean_b"), col("b"))))
    val fullM = e.groupBy(col("event_type"))
      .agg(Binning.floorDivCol(
        lit(2L) * sumExact(col("c")) + count(lit(1)),
        lit(2L) * count(lit(1))).as("mean_cents"))
    fullM.join(mm, "event_type")
      .groupBy(col("event_type"), col("mean_cents"))
      .agg(max(when(col("rk") === 2, col("mean_b"))).as("lo_cents"),
        max(when(col("rk") === BootB - 1, col("mean_b"))).as("hi_cents"))
      .select(col("event_type"), lit(BootB.toLong).as("n_boot"), col("mean_cents"),
        col("lo_cents"), col("hi_cents"))
      .orderedSmall(col("event_type"))
  }

  /** Kaplan–Meier survival estimator (#187): user-churn survival —
    * lifetime = days between a user's first and last event; users
    * still active in the final 7 days of the corpus are right-
    * CENSORED (their lifetime is a lower bound, they leave the risk
    * set without a death). The curve is carried in micro-nats:
    * ln S(t) = Σ_{tᵢ≤t} microLn((nᵢ−dᵢ)/nᵢ) — the same micro-ln
    * quantization as the LM gates, so the cumulative product never
    * meets floating addition. Users COLLAPSE to one row each, then
    * windows run over DISTINCT lifetimes only.
    */
  val qKaplanMeier = GateQuery.sql(
    "q_kaplan_meier",
    s"""WITH u AS (SELECT user_id,
       |    (max(xs) - min(xs)) // 86400 AS lt,
       |    CASE WHEN max(xs) >= (SELECT max(xs) FROM $E e2) - 7 * 86400
       |      THEN 1 ELSE 0 END AS censored
       |  FROM $E e GROUP BY user_id),
       |t AS (SELECT lt, count(*) AS n_at,
       |    CAST(sum(1 - censored) AS BIGINT) AS d,
       |    CAST(sum(censored) AS BIGINT) AS cens
       |  FROM u GROUP BY lt),
       |r AS (SELECT *,
       |    CAST(sum(n_at) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
       |  FROM t),
       |s AS (SELECT *, CAST(sum(CASE WHEN d > 0 AND d < n_risk THEN
       |      ${Curation.microLnSql("CAST(n_risk - d AS DOUBLE) / n_risk")}
       |    ELSE 0 END) OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS cum_ln,
       |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
       |      OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS died
       |  FROM r)
       |SELECT lt AS t_days, n_risk, d AS n_deaths, cens AS n_censored,
       |  CASE WHEN died = 1 THEN NULL ELSE cum_ln END AS ln_surv_micro
       |FROM s ORDER BY t_days""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .select(col("lt"),
        when(col("last_xs") >= col("mxs") - lit(7L * 86400L), 1L).otherwise(0L)
          .as("censored"))
    val t = u.groupBy(col("lt"))
      .agg(count(lit(1)).as("n_at"),
        Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("d"),
        Exact.sumUnits(col("censored")).cast("long").as("cens"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("lt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t.withColumn("n_risk", sum(col("n_at")).over(wDesc).cast("long"))
    // when a time's deaths wipe the whole risk set, S(t) hits exactly
    // 0 and ln S = −∞: from that point the curve is NULL on BOTH
    // engines (DuckDB ln(0) hard-errors, Spark log(0) returns NULL
    // which window sums silently skip — both wrong unguarded)
    val sdf = r
      .withColumn("cum_ln",
        sum(when(col("d") > 0 && col("d") < col("n_risk"),
          Curation.microLn((col("n_risk") - col("d")).cast("double") / col("n_risk")))
          .otherwise(lit(0L))).over(wAsc).cast("long"))
      .withColumn("died",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wAsc))
    sdf.select(col("lt").as("t_days"), col("n_risk"), col("d").as("n_deaths"),
        col("cens").as("n_censored"),
        when(col("died") === 1, lit(null).cast("long")).otherwise(col("cum_ln"))
          .as("ln_surv_micro"))
      .orderedSmall(col("t_days"))
  }

  /** Log-rank (Mantel–Cox) test (#328): do two user cohorts have the
    * SAME survival curve? — the hypothesis test #187's Kaplan–Meier
    * estimator only displays (Mantel 1966; the standard churn A/B
    * readout). Same lifetime/censoring derivation as #187 (users
    * collapse to one row; right-censored in the final 7 days); at
    * each distinct death time the group-1 death excess d₁ − d·n₁/n
    * and the hypergeometric variance d·n₁(n−n₁)(n−d)/(n²(n−1))
    * accumulate over the VALUE-COLLAPSED lifetime grid — every term
    * micro-floored from exact integer products (HUGEINT/decimal
    * lifted: the five-factor numerator overflows int64) before the
    * order-free sums; at-risk counts are the same descending
    * cumulative windows as #187. O₁ is an exact integer;
    * χ² = (O₁−E₁)²/V is one mirrored double; V = 0 → NULL by exact
    * predicate.
    */
  val qLogRank = GateQuery.sql(
    "q_logrank",
    s"""WITH u AS (SELECT user_id % 2 AS grp,
       |    (max(xs) - min(xs)) // 86400 AS lt,
       |    CASE WHEN max(xs) >= (SELECT max(xs) FROM $E e2) - 7 * 86400
       |      THEN 1 ELSE 0 END AS censored
       |  FROM $E e GROUP BY user_id),
       |t AS (SELECT lt,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
       |    CAST(count(*) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN grp = 1 AND censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(sum(CASE WHEN censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM u GROUP BY lt),
       |r AS (SELECT *,
       |    CAST(sum(a1) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1,
       |    CAST(sum(a) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
       |  FROM t),
       |g AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
       |    CAST(sum((CAST(1000000 AS HUGEINT) * d * n1) // n) AS BIGINT) AS se,
       |    CAST(sum(CASE WHEN n > 1 THEN
       |        (CAST(1000000 AS HUGEINT) * d * n1 * (n - n1) * (n - d))
       |          // (CAST(n AS HUGEINT) * n * (n - 1))
       |      ELSE 0 END) AS BIGINT) AS sv
       |  FROM r WHERE d > 0),
       |tot AS (SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0 FROM u)
       |SELECT m1 AS n_users_1, m0 AS n_users_0, o1 AS deaths_1,
       |  CAST(o1 * 1000000 - se AS BIGINT) AS o_minus_e_micro, sv AS v_micro,
       |  CASE WHEN sv > 0 THEN
       |    round((CAST(o1 * 1000000 - se AS DOUBLE) / sqrt(CAST(sv AS DOUBLE) * 1000000.0))
       |      * (CAST(o1 * 1000000 - se AS DOUBLE) / sqrt(CAST(sv AS DOUBLE) * 1000000.0)), 4)
       |      + 0.0
       |  END AS chi2
       |FROM g, tot""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .select(pmod(col("user_id"), lit(2L)).as("grp"), col("lt"),
        when(col("last_xs") >= col("mxs") - lit(7L * 86400L), 1L).otherwise(0L)
          .as("censored"))
    val t = u.groupBy(col("lt")).agg(
      Exact.sumUnits(when(col("grp") === 1, 1L).otherwise(0L)).cast("long").as("a1"),
      count(lit(1)).cast("long").as("a"),
      Exact.sumUnits(when(col("grp") === 1 && col("censored") === 0, 1L).otherwise(0L))
        .cast("long").as("d1"),
      Exact.sumUnits(when(col("censored") === 0, 1L).otherwise(0L)).cast("long").as("d"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t
      .withColumn("n1", sum(col("a1")).over(wDesc).cast("long"))
      .withColumn("n", sum(col("a")).over(wDesc).cast("long"))
      .filter(col("d") > 0)
    val dD = col("d").cast("decimal(38,0)")
    val nD = col("n").cast("decimal(38,0)")
    val g = r.agg(
      sum(col("d1")).cast("long").as("o1"),
      sum(floorDivBig(lit(1000000L).cast("decimal(38,0)") * col("d") * col("n1"), nD))
        .cast("long").as("se"),
      sum(when(col("n") > 1,
        floorDivBig(lit(1000000L).cast("decimal(38,0)") * dD * col("n1") *
            (col("n") - col("n1")) * (col("n") - col("d")),
          nD * col("n") * (col("n") - 1))).otherwise(lit(0L).cast("decimal(38,0)")))
        .cast("long").as("sv"))
    val tot = u.agg(
      Exact.sumUnits(when(col("grp") === 1, 1L).otherwise(0L)).cast("long").as("m1"),
      Exact.sumUnits(when(col("grp") === 0, 1L).otherwise(0L)).cast("long").as("m0"))
    val ome = (col("o1") * lit(1000000L) - col("se")).cast("double")
    val zz = ome / sqrt(col("sv").cast("double") * lit(1000000.0))
    Curation.withStats(g, tot)
      .select(col("m1").as("n_users_1"), col("m0").as("n_users_0"),
        col("o1").as("deaths_1"),
        (col("o1") * lit(1000000L) - col("se")).cast("long").as("o_minus_e_micro"),
        col("sv").as("v_micro"),
        when(col("sv") > 0, round(zz * zz, 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("chi2"))
  }

  /** Stratified log-rank test (#418, r10): the log-rank test (#328)
    * computed WITHIN baseline strata and pooled across them —
    * χ² = (Σ_s(O₁ₛ−E₁ₛ))²/Σ_s Vₛ (Mantel 1966 §4; Peto & Peto
    * 1972) — the churn A/B readout when cohorts differ on a
    * confounder: each stratum contributes its own at-risk tables, so
    * a covariate that shifts lifetimes but not the treatment effect
    * no longer biases the statistic. Strata = (user_id div 2) mod 4
    * (independent of the group bit by construction); the per-stratum
    * machinery is #328's verbatim with one extra key: users
    * collapse to one row, windows run over the VALUE-COLLAPSED
    * per-stratum lifetime grid, every expectation/variance term
    * micro-floors from exact integer products before the order-free
    * sums. Output: one row per stratum (local O−E, V) with the
    * pooled χ² repeated as a scalar — both the global answer and
    * WHICH stratum drives it.
    */
  val qLogrankStrat = GateQuery.sql(
    "q_logrank_strat",
    s"""WITH u AS (SELECT user_id % 2 AS grp, (user_id // 2) % 4 AS st,
       |    (max(xs) - min(xs)) // 86400 AS lt,
       |    CASE WHEN max(xs) >= (SELECT max(xs) FROM $E e2) - 86400
       |      THEN 1 ELSE 0 END AS censored
       |  FROM $E e GROUP BY user_id),
       |t AS (SELECT st, lt,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
       |    CAST(count(*) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN grp = 1 AND censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(sum(CASE WHEN censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM u GROUP BY st, lt),
       |r AS (SELECT *,
       |    CAST(sum(a1) OVER (PARTITION BY st ORDER BY lt DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1,
       |    CAST(sum(a) OVER (PARTITION BY st ORDER BY lt DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
       |  FROM t),
       |g AS (SELECT st, CAST(sum(d1) AS BIGINT) AS o1,
       |    CAST(sum((CAST(1000000 AS HUGEINT) * d * n1) // n) AS BIGINT) AS se,
       |    CAST(sum(CASE WHEN n > 1 THEN
       |        (CAST(1000000 AS HUGEINT) * d * n1 * (n - n1) * (n - d))
       |          // (CAST(n AS HUGEINT) * n * (n - 1))
       |      ELSE 0 END) AS BIGINT) AS sv
       |  FROM r WHERE d > 0 GROUP BY st),
       |nu AS (SELECT st, CAST(count(*) AS BIGINT) AS n_users FROM u GROUP BY st),
       |p AS (SELECT CAST(sum(o1 * 1000000 - se) AS BIGINT) AS ome,
       |    CAST(sum(sv) AS BIGINT) AS v FROM g)
       |SELECT g.st AS stratum, nu.n_users, g.o1 AS deaths_1,
       |  CAST(g.o1 * 1000000 - g.se AS BIGINT) AS o_minus_e_micro,
       |  g.sv AS v_micro,
       |  CASE WHEN p.v > 0 THEN
       |    round((CAST(p.ome AS DOUBLE) / sqrt(CAST(p.v AS DOUBLE) * 1000000.0))
       |      * (CAST(p.ome AS DOUBLE) / sqrt(CAST(p.v AS DOUBLE) * 1000000.0)), 4)
       |      + 0.0
       |  END AS pooled_chi2
       |FROM g JOIN nu ON g.st = nu.st CROSS JOIN p
       |ORDER BY stratum""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .select(pmod(col("user_id"), lit(2L)).as("grp"),
        pmod(Binning.floorDiv(col("user_id"), 2L), lit(4L)).as("st"), col("lt"),
        when(col("last_xs") >= col("mxs") - lit(86400L), 1L).otherwise(0L)
          .as("censored"))
      .persist() // feeds the lifetime grid AND the per-stratum user
                 // counts; freed by the harness post-action
    val t = u.groupBy(col("st"), col("lt")).agg(
      Exact.sumUnits(when(col("grp") === 1, 1L).otherwise(0L)).cast("long").as("a1"),
      count(lit(1)).cast("long").as("a"),
      Exact.sumUnits(when(col("grp") === 1 && col("censored") === 0, 1L).otherwise(0L))
        .cast("long").as("d1"),
      Exact.sumUnits(when(col("censored") === 0, 1L).otherwise(0L)).cast("long").as("d"))
    val wDesc = Window.partitionBy(col("st")).orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t
      .withColumn("n1", sum(col("a1")).over(wDesc).cast("long"))
      .withColumn("n", sum(col("a")).over(wDesc).cast("long"))
      .filter(col("d") > 0)
    val dD = col("d").cast("decimal(38,0)")
    val nD = col("n").cast("decimal(38,0)")
    val g = r.groupBy(col("st")).agg(
      sum(col("d1")).cast("long").as("o1"),
      sum(floorDivBig(lit(1000000L).cast("decimal(38,0)") * col("d") * col("n1"), nD))
        .cast("long").as("se"),
      sum(when(col("n") > 1,
        floorDivBig(lit(1000000L).cast("decimal(38,0)") * dD * col("n1") *
            (col("n") - col("n1")) * (col("n") - col("d")),
          nD * col("n") * (col("n") - 1))).otherwise(lit(0L).cast("decimal(38,0)")))
        .cast("long").as("sv"))
      .persist() // read by the per-stratum rows AND the pooled scalar
    val nu = u.groupBy(col("st")).agg(count(lit(1)).cast("long").as("n_users"))
    val p = g.agg(
      sum(col("o1") * lit(1000000L) - col("se")).cast("long").as("ome"),
      sum(col("sv")).cast("long").as("v"))
    val zz = col("ome").cast("double") / sqrt(col("v").cast("double") * lit(1000000.0))
    g.join(nu, "st")
      .join(broadcast(p))
      .select(col("st").as("stratum"), col("n_users"), col("o1").as("deaths_1"),
        (col("o1") * lit(1000000L) - col("se")).cast("long").as("o_minus_e_micro"),
        col("sv").as("v_micro"),
        when(col("v") > 0, round(zz * zz, 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("pooled_chi2"))
      .orderedSmall(col("stratum"))
  }

  /** Aalen additive-hazards estimator (#419, r10, Aalen 1989): the
    * NONPARAMETRIC additive counterpart of Cox (#333) —
    * h(t|x) = β₀(t) + β₁(t)·x, read through the CUMULATIVE
    * coefficients B(t) = ∫β. With the single binary covariate
    * x = group bit, the per-death-time least-squares increment has
    * the closed form ΔB₀ = d₀/n₀ (baseline-group hazard) and
    * ΔB₁ = d₁/n₁ − d₀/n₀ (the additive treatment effect) — so the
    * whole estimator is the same value-collapsed lifetime grid as
    * Kaplan–Meier (#187) with per-group at-risk windows and two
    * running sums. Each group hazard micro-floors EXACTLY
    * (nonnegative floor division) before the signed subtraction and
    * the cumulative sum, so the curve is bit-identical on any
    * engine/partitioning. Death times where either group's risk set
    * is empty are singular (the 2×2 design loses rank) and
    * contribute zero increment — flagged in the output rather than
    * silently skipped. Same one-day censoring horizon as #418 (the
    * 7-day convention empties the death grid on this corpus).
    */
  val qAalen = GateQuery.sql(
    "q_aalen",
    s"""WITH u AS (SELECT user_id % 2 AS grp,
       |    (max(xs) - min(xs)) // 86400 AS lt,
       |    CASE WHEN max(xs) >= (SELECT max(xs) FROM $E e2) - 86400
       |      THEN 1 ELSE 0 END AS censored
       |  FROM $E e GROUP BY user_id),
       |t AS (SELECT lt,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
       |    CAST(sum(CASE WHEN grp = 0 AND censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
       |    CAST(sum(CASE WHEN grp = 1 AND censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1
       |  FROM u GROUP BY lt),
       |r AS (SELECT *,
       |    CAST(sum(a0) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n0,
       |    CAST(sum(a1) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
       |  FROM t),
       |i AS (SELECT lt, n0, n1, d0, d1,
       |    CASE WHEN n0 > 0 AND n1 > 0 THEN (d0 * 1000000) // n0 ELSE 0 END AS db0,
       |    CASE WHEN n0 > 0 AND n1 > 0
       |      THEN (d1 * 1000000) // n1 - (d0 * 1000000) // n0 ELSE 0 END AS db1,
       |    CASE WHEN n0 = 0 OR n1 = 0 THEN 1 ELSE 0 END AS singular
       |  FROM r WHERE d0 + d1 > 0),
       |c AS (SELECT *,
       |    CAST(sum(db0) OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS b0,
       |    CAST(sum(db1) OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS b1
       |  FROM i)
       |SELECT lt AS t_days, n0 AS n_risk_0, n1 AS n_risk_1,
       |  d0 AS deaths_0, d1 AS deaths_1,
       |  b0 AS cum_b0_micro, b1 AS cum_b1_micro,
       |  CAST(singular AS BIGINT) AS singular
       |FROM c ORDER BY t_days""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .select(pmod(col("user_id"), lit(2L)).as("grp"), col("lt"),
        when(col("last_xs") >= col("mxs") - lit(86400L), 1L).otherwise(0L)
          .as("censored"))
    val t = u.groupBy(col("lt")).agg(
      Exact.sumUnits(when(col("grp") === 0, 1L).otherwise(0L)).cast("long").as("a0"),
      Exact.sumUnits(when(col("grp") === 1, 1L).otherwise(0L)).cast("long").as("a1"),
      Exact.sumUnits(when(col("grp") === 0 && col("censored") === 0, 1L).otherwise(0L))
        .cast("long").as("d0"),
      Exact.sumUnits(when(col("grp") === 1 && col("censored") === 0, 1L).otherwise(0L))
        .cast("long").as("d1"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("lt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t
      .withColumn("n0", sum(col("a0")).over(wDesc).cast("long"))
      .withColumn("n1", sum(col("a1")).over(wDesc).cast("long"))
      .filter(col("d0") + col("d1") > 0)
    val ok = col("n0") > 0 && col("n1") > 0
    val i = r.select(col("lt"), col("n0"), col("n1"), col("d0"), col("d1"),
      when(ok, Binning.floorDivCol(col("d0") * lit(1000000L), col("n0")))
        .otherwise(lit(0L)).as("db0"),
      when(ok, Binning.floorDivCol(col("d1") * lit(1000000L), col("n1"))
          - Binning.floorDivCol(col("d0") * lit(1000000L), col("n0")))
        .otherwise(lit(0L)).as("db1"),
      when(col("n0") === 0 || col("n1") === 0, 1L).otherwise(0L).as("singular"))
    i.withColumn("b0", sum(col("db0")).over(wAsc).cast("long"))
      .withColumn("b1", sum(col("db1")).over(wAsc).cast("long"))
      .select(col("lt").as("t_days"), col("n0").as("n_risk_0"),
        col("n1").as("n_risk_1"), col("d0").as("deaths_0"), col("d1").as("deaths_1"),
        col("b0").as("cum_b0_micro"), col("b1").as("cum_b1_micro"),
        col("singular").cast("long").as("singular"))
      .orderedSmall(col("t_days"))
  }

  /** Schoenfeld-residual PH-trend test (#422, r10, Schoenfeld 1982 /
    * Grambsch & Therneau 1994): does the Cox gate's (#415) hazard
    * ratio DRIFT with time — the proportional-hazards assumption
    * check every Cox fit owes its reader. At β = 0 the per-death-
    * time Schoenfeld residual for the binary covariate is exactly
    * the log-rank increment dx − d·n₁/n (micro-floored integers from
    * the same risk-set windows as #415), and the trend test is the
    * Pearson correlation of those residuals against the death-time
    * RANK: r drifting positive means the covariate's hazard grows
    * with time (PH violated). All five moment sums are exact
    * decimal-lifted integers over the value-collapsed death grid; r
    * and z = r·√(m−2)/√(1−r²) are mirrored doubles.
    */
  val qSchoenfeld = GateQuery.sql(
    "q_schoenfeld",
    s"""WITH f AS (SELECT user_id, min(xs) AS fx, max(xs) AS lx,
       |    min(CASE WHEN event_type = 'purchase' AND ${centsSql("vd")} >= 9000
       |      THEN xs END) AS px,
       |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nclick,
       |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nview
       |  FROM $E e GROUP BY user_id),
       |u AS (SELECT (coalesce(px, lx) - fx) // 86400 AS lt,
       |    CASE WHEN px IS NULL THEN 1 ELSE 0 END AS censored,
       |    CASE WHEN nclick > nview THEN 1 ELSE 0 END AS x
       |  FROM f),
       |t AS (SELECT lt, CAST(sum(1 - censored) AS BIGINT) AS d,
       |    CAST(sum((1 - censored) * x) AS BIGINT) AS dx,
       |    CAST(count(*) AS BIGINT) AS n_at, CAST(sum(x) AS BIGINT) AS n_at1
       |  FROM u GROUP BY lt),
       |r AS (SELECT *,
       |    CAST(sum(n_at) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nr,
       |    CAST(sum(n_at1) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
       |  FROM t),
       |dts AS (SELECT lt,
       |    CAST(dx * 1000000 - (d * n1 * 1000000) // nr AS BIGINT) AS res,
       |    CAST(row_number() OVER (ORDER BY lt) AS BIGINT) AS i
       |  FROM r WHERE d > 0),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(i) AS HUGEINT) AS si,
       |    CAST(sum(CAST(i AS HUGEINT) * i) AS HUGEINT) AS sii,
       |    CAST(sum(res) AS HUGEINT) AS sr,
       |    CAST(sum(CAST(res AS HUGEINT) * res) AS HUGEINT) AS srr,
       |    CAST(sum(CAST(i AS HUGEINT) * res) AS HUGEINT) AS sir
       |  FROM dts)
       |SELECT m AS n_death_times, CAST(sr AS BIGINT) AS sum_resid_micro,
       |  CASE WHEN m > 2 AND m * sii - si * si > 0 AND m * srr - sr * sr > 0 THEN
       |    round(CAST(m * sir - si * sr AS DOUBLE)
       |      / (sqrt(CAST(m * sii - si * si AS DOUBLE))
       |        * sqrt(CAST(m * srr - sr * sr AS DOUBLE))), 6) + 0.0
       |  END AS trend_corr
       |FROM m""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val u = e.groupBy(col("user_id"))
      .agg(min(col("xs")).as("fx"), max(col("xs")).as("lx"),
        min(when(col("event_type") === "purchase" &&
          Exact.cents(col("vd")) >= 9000L, col("xs"))).as("px"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nclick"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nview"))
      .select(
        Binning.floorDiv(coalesce(col("px"), col("lx")) - col("fx"), 86400L).as("lt"),
        when(col("px").isNull, 1L).otherwise(0L).as("censored"),
        when(col("nclick") > col("nview"), 1L).otherwise(0L).as("x"))
    val t = u.groupBy(col("lt"))
      .agg(Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("d"),
        Exact.sumUnits((lit(1L) - col("censored")) * col("x")).cast("long").as("dx"),
        count(lit(1)).cast("long").as("n_at"),
        Exact.sumUnits(col("x")).cast("long").as("n_at1"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t
      .withColumn("nr", sum(col("n_at")).over(wDesc).cast("long"))
      .withColumn("n1", sum(col("n_at1")).over(wDesc).cast("long"))
      .filter(col("d") > 0)
    val dts = r.select(
        (col("dx") * lit(1000000L) -
          Binning.floorDivCol(col("d") * col("n1") * lit(1000000L), col("nr")))
          .cast("long").as("res"),
        row_number().over(Window.orderBy(col("lt"))).cast("long").as("i"))
    def dec(x: Column) = x.cast("decimal(38,0)")
    val m = dts.agg(count(lit(1)).cast("long").as("m"),
      sum(dec(col("i"))).cast("decimal(38,0)").as("si"),
      sum(dec(col("i")) * col("i")).cast("decimal(38,0)").as("sii"),
      sum(dec(col("res"))).cast("decimal(38,0)").as("sr"),
      sum(dec(col("res")) * col("res")).cast("decimal(38,0)").as("srr"),
      sum(dec(col("i")) * col("res")).cast("decimal(38,0)").as("sir"))
    val md = col("m").cast("decimal(38,0)")
    val vi = md * col("sii") - col("si") * col("si")
    val vr = md * col("srr") - col("sr") * col("sr")
    val cov = md * col("sir") - col("si") * col("sr")
    m.select(col("m").as("n_death_times"),
      col("sr").cast("long").as("sum_resid_micro"),
      when(col("m") > 2 && vi > 0 && vr > 0,
        round(cov.cast("double") / (sqrt(vi.cast("double")) * sqrt(vr.cast("double"))), 6)
          + lit(0.0))
        .otherwise(lit(null).cast("double")).as("trend_corr"))
  }

  /** Restricted mean survival time (#423, r10, Royston & Parmar
    * 2013): RMST(τ) = ∫₀^τ S(t)dt per cohort arm — the
    * model-free "days of life gained" number a hazard ratio cannot
    * give (it stays meaningful when PH fails, which #422 tests).
    * Built on #187's machinery per arm: the KM curve is carried in
    * micro-nats, each step's survival level micro-floors through
    * ONE mirrored exp (the microLn convention in reverse), and the
    * area is an exact integer sum of level·Δday rectangles up to
    * τ = 21 days, including the tail rectangle from the last death
    * to τ. Same 1-day censoring horizon as #418/#419.
    */
  val qRmst = GateQuery.sql(
    "q_rmst", {
      val tau = 21L
      s"""WITH u AS (SELECT user_id % 2 AS grp,
         |    (max(xs) - min(xs)) // 86400 AS lt,
         |    CASE WHEN max(xs) >= (SELECT max(xs) FROM $E e2) - 86400
         |      THEN 1 ELSE 0 END AS censored
         |  FROM $E e GROUP BY user_id),
         |t AS (SELECT grp, lt, count(*) AS n_at,
         |    CAST(sum(1 - censored) AS BIGINT) AS d
         |  FROM u GROUP BY grp, lt),
         |r AS (SELECT *,
         |    CAST(sum(n_at) OVER (PARTITION BY grp ORDER BY lt DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
         |  FROM t),
         |dt AS (SELECT grp, lt, d, n_risk,
         |    CAST(sum(CASE WHEN d > 0 AND d < n_risk THEN
         |        ${Curation.microLnSql("CAST(n_risk - d AS DOUBLE) / n_risk")}
         |      ELSE 0 END) OVER (PARTITION BY grp ORDER BY lt
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ln,
         |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY grp ORDER BY lt ROWS UNBOUNDED PRECEDING) AS died
         |  FROM r WHERE d > 0),
         |seg AS (SELECT grp, lt, cum_ln, died,
         |    coalesce(lag(lt) OVER w, 0) AS t_prev,
         |    coalesce(lag(cum_ln) OVER w, 0) AS ln_prev,
         |    coalesce(lag(died) OVER w, 0) AS died_prev,
         |    row_number() OVER (PARTITION BY grp ORDER BY lt DESC) AS rdesc
         |  FROM dt WHERE lt <= $tau
         |  WINDOW w AS (PARTITION BY grp ORDER BY lt)),
         |ar AS (SELECT grp,
         |    CAST(sum(CASE WHEN died_prev = 1 THEN 0 ELSE
         |        CAST(floor(exp(CAST(ln_prev AS DOUBLE) / 1000000.0) * 1000000)
         |          AS BIGINT) * (lt - t_prev) END) AS BIGINT) AS area_mid,
         |    CAST(sum(CASE WHEN rdesc = 1 THEN CASE WHEN died = 1 THEN 0 ELSE
         |        CAST(floor(exp(CAST(cum_ln AS DOUBLE) / 1000000.0) * 1000000)
         |          AS BIGINT) * ($tau - lt) END ELSE 0 END) AS BIGINT) AS area_tail,
         |    CAST(count(*) AS BIGINT) AS n_death_times
         |  FROM seg GROUP BY grp),
         |nu AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(1 - censored) AS BIGINT) AS n_deaths FROM u GROUP BY grp)
         |SELECT nu.grp, nu.n_users, nu.n_deaths, CAST($tau AS BIGINT) AS tau_days,
         |  coalesce(ar.area_mid, 0) + coalesce(ar.area_tail, 0)
         |    + CASE WHEN ar.grp IS NULL THEN 1000000 * $tau ELSE 0 END
         |    AS rmst_micro_days
         |FROM nu LEFT JOIN ar ON nu.grp = ar.grp
         |ORDER BY nu.grp""".stripMargin
    }) { (s, d) =>
    val tau = 21L
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .select(pmod(col("user_id"), lit(2L)).as("grp"), col("lt"),
        when(col("last_xs") >= col("mxs") - lit(86400L), 1L).otherwise(0L)
          .as("censored"))
      .persist() // feeds the day grid AND per-arm totals
    val t = u.groupBy(col("grp"), col("lt"))
      .agg(count(lit(1)).as("n_at"),
        Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("d"))
    val wDesc = Window.partitionBy(col("grp")).orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.partitionBy(col("grp")).orderBy(col("lt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLag = Window.partitionBy(col("grp")).orderBy(col("lt"))
    val r = t.withColumn("n_risk", sum(col("n_at")).over(wDesc).cast("long"))
    val dt = r.filter(col("d") > 0)
      .withColumn("cum_ln",
        sum(when(col("d") > 0 && col("d") < col("n_risk"),
          Curation.microLn((col("n_risk") - col("d")).cast("double") / col("n_risk")))
          .otherwise(lit(0L))).over(wAsc).cast("long"))
      .withColumn("died",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wAsc))
    val seg = dt.filter(col("lt") <= tau)
      .withColumn("t_prev", coalesce(lag(col("lt"), 1).over(wLag), lit(0L)))
      .withColumn("ln_prev", coalesce(lag(col("cum_ln"), 1).over(wLag), lit(0L)))
      .withColumn("died_prev", coalesce(lag(col("died"), 1).over(wLag), lit(0)))
      .withColumn("rdesc", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("lt").desc)))
    def sMicro(ln: Column) =
      floor(exp(ln.cast("double") / lit(1000000.0)) * lit(1000000)).cast("long")
    val ar = seg.groupBy(col("grp")).agg(
      sum(when(col("died_prev") === 1, 0L)
        .otherwise(sMicro(col("ln_prev")) * (col("lt") - col("t_prev"))))
        .cast("long").as("area_mid"),
      sum(when(col("rdesc") === 1,
          when(col("died") === 1, 0L)
            .otherwise(sMicro(col("cum_ln")) * (lit(tau) - col("lt"))))
        .otherwise(lit(0L))).cast("long").as("area_tail"),
      count(lit(1)).cast("long").as("n_death_times"))
    val nu = u.groupBy(col("grp")).agg(count(lit(1)).cast("long").as("n_users"),
      Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("n_deaths"))
    nu.join(ar.withColumnRenamed("grp", "agrp"),
        col("grp") === col("agrp"), "left")
      .select(col("grp"), col("n_users"), col("n_deaths"),
        lit(tau).as("tau_days"),
        (coalesce(col("area_mid"), lit(0L)) + coalesce(col("area_tail"), lit(0L)) +
          when(col("agrp").isNull, lit(1000000L * tau)).otherwise(lit(0L)))
          .as("rmst_micro_days"))
      .orderedSmall(col("grp"))
  }

  /** Aalen–Johansen cumulative incidence (#424, r10, Aalen & Johansen
    * 1978): competing-risks decomposition of churn — each death is
    * CLASSIFIED by the user's final event type, and the cumulative
    * incidence of cause k is CIF_k(t) = Σ_{tᵢ≤t} S(tᵢ₋)·d_k(tᵢ)/n(tᵢ)
    * with S the ALL-CAUSE Kaplan–Meier. 1 − Σ_k CIF_k(∞) = S(∞) —
    * the decomposition naive per-cause KM curves get wrong (they
    * treat competing deaths as censoring and overestimate every
    * cause). Machinery: #187's all-cause micro-nat curve, lagged one
    * death time, one mirrored exp to the survival level, then the
    * per-cause increment (S_micro · d_k) div n — exact integers —
    * accumulated per cause. Output: final CIF per cause (bounded by
    * the event-type domain).
    */
  val qCumIncidence = GateQuery.sql(
    "q_cum_incidence",
    s"""WITH last AS (SELECT user_id, event_type AS cause FROM (
       |    SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM $E e) WHERE rn = 1),
       |u AS (SELECT e.user_id,
       |    (max(e.xs) - min(e.xs)) // 86400 AS lt,
       |    CASE WHEN max(e.xs) >= (SELECT max(xs) FROM $E e2) - 86400
       |      THEN 1 ELSE 0 END AS censored,
       |    any_value(l.cause) AS cause
       |  FROM $E e JOIN last l ON e.user_id = l.user_id GROUP BY e.user_id),
       |t AS (SELECT lt, count(*) AS n_at,
       |    CAST(sum(1 - censored) AS BIGINT) AS d
       |  FROM u GROUP BY lt),
       |r AS (SELECT *,
       |    CAST(sum(n_at) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS n_risk
       |  FROM t),
       |dt AS (SELECT lt, d, n_risk,
       |    CAST(sum(CASE WHEN d > 0 AND d < n_risk THEN
       |        ${Curation.microLnSql("CAST(n_risk - d AS DOUBLE) / n_risk")}
       |      ELSE 0 END) OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ln
       |  FROM r WHERE d > 0),
       |sl AS (SELECT lt, n_risk,
       |    CAST(floor(exp(CAST(coalesce(lag(cum_ln) OVER (ORDER BY lt), 0) AS DOUBLE)
       |      / 1000000.0) * 1000000) AS BIGINT) AS s_prev
       |  FROM dt),
       |dk AS (SELECT lt, cause, CAST(sum(1 - censored) AS BIGINT) AS d_k
       |  FROM u GROUP BY lt, cause HAVING sum(1 - censored) > 0)
       |SELECT dk.cause, CAST(sum(dk.d_k) AS BIGINT) AS n_deaths,
       |  CAST(sum((sl.s_prev * dk.d_k) // sl.n_risk) AS BIGINT) AS cif_micro
       |FROM dk JOIN sl ON dk.lt = sl.lt
       |GROUP BY dk.cause ORDER BY dk.cause""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val last = e.groupBy(col("user_id"))
      .agg(max_by(col("event_type"), struct(col("ts_us"), col("event_id"))).as("cause"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .join(last, "user_id")
      .select(col("lt"),
        when(col("last_xs") >= col("mxs") - lit(86400L), 1L).otherwise(0L)
          .as("censored"),
        col("cause"))
      .persist() // feeds the all-cause grid AND the per-cause deaths
    val t = u.groupBy(col("lt"))
      .agg(count(lit(1)).as("n_at"),
        Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("d"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("lt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t.withColumn("n_risk", sum(col("n_at")).over(wDesc).cast("long"))
    val dt = r.filter(col("d") > 0)
      .withColumn("cum_ln",
        sum(when(col("d") > 0 && col("d") < col("n_risk"),
          Curation.microLn((col("n_risk") - col("d")).cast("double") / col("n_risk")))
          .otherwise(lit(0L))).over(wAsc).cast("long"))
    val sl = dt.select(col("lt"), col("n_risk"),
      floor(exp(coalesce(lag(col("cum_ln"), 1).over(Window.orderBy(col("lt"))), lit(0L))
        .cast("double") / lit(1000000.0)) * lit(1000000)).cast("long").as("s_prev"))
    val dk = u.groupBy(col("lt"), col("cause"))
      .agg(Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("d_k"))
      .filter(col("d_k") > 0)
    dk.join(sl, "lt")
      .groupBy(col("cause"))
      .agg(sum(col("d_k")).cast("long").as("n_deaths"),
        sum(Binning.floorDivCol(col("s_prev") * col("d_k"), col("n_risk")))
          .cast("long").as("cif_micro"))
      .orderedSmall(col("cause"))
  }

  /** Cochran–Mantel–Haenszel test + MH common odds ratio (#425, r10,
    * Mantel & Haenszel 1959; Cochran 1954): stratified 2×2
    * association — does the cohort bit predict "ever purchased"
    * AFTER controlling for the #418 strata? χ²_CMH =
    * (Σ(aₛ−Eₛ))²/ΣVₛ with the hypergeometric Vₛ, and the
    * Mantel–Haenszel common OR = Σ(aₛdₛ/nₛ) / Σ(bₛcₛ/nₛ) — the
    * pooled effect estimate stratification-safe where the crude OR
    * is Simpson-paradox-prone. Every E/V/OR term micro-floors from
    * exact integer products before the order-free sums (no
    * continuity correction — documented); one row per stratum with
    * the pooled statistics repeated (the #418 convention).
    */
  val qCmh = GateQuery.sql(
    "q_cmh",
    s"""WITH u AS (SELECT user_id % 2 AS x, (user_id // 2) % 4 AS st,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
       |      THEN 1 ELSE 0 END AS out
       |  FROM $E e GROUP BY user_id),
       |t AS (SELECT st,
       |    CAST(sum(CASE WHEN x = 1 AND out = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN x = 1 AND out = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN x = 0 AND out = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN x = 0 AND out = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM u GROUP BY st),
       |m AS (SELECT st, a, b, c, d, a + b + c + d AS n,
       |    ((a + b) * (a + c) * 1000000) // (a + b + c + d) AS e_micro,
       |    CASE WHEN a + b + c + d > 1 THEN
       |      (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d) * 1000000)
       |        // (CAST(a + b + c + d AS HUGEINT) * (a + b + c + d)
       |            * (a + b + c + d - 1)) ELSE 0 END AS v_micro,
       |    (a * d * 1000000) // (a + b + c + d) AS ad_micro,
       |    (b * c * 1000000) // (a + b + c + d) AS bc_micro
       |  FROM t WHERE a + b + c + d > 0),
       |p AS (SELECT CAST(sum(a * 1000000 - e_micro) AS BIGINT) AS ome,
       |    CAST(sum(v_micro) AS BIGINT) AS v,
       |    CAST(sum(ad_micro) AS BIGINT) AS sad,
       |    CAST(sum(bc_micro) AS BIGINT) AS sbc
       |  FROM m)
       |SELECT m.st AS stratum, m.a, m.b, m.c, m.d,
       |  CAST(m.a * 1000000 - m.e_micro AS BIGINT) AS a_minus_e_micro,
       |  CASE WHEN p.v > 0 THEN
       |    round((CAST(p.ome AS DOUBLE) / sqrt(CAST(p.v AS DOUBLE) * 1000000.0))
       |      * (CAST(p.ome AS DOUBLE) / sqrt(CAST(p.v AS DOUBLE) * 1000000.0)), 4)
       |      + 0.0 END AS cmh_chi2,
       |  CASE WHEN p.sbc > 0 THEN
       |    CAST((CAST(p.sad AS HUGEINT) * 1000000) // p.sbc AS BIGINT)
       |  END AS or_mh_micro
       |FROM m, p ORDER BY stratum""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(Exact.sumUnits(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .cast("long").as("np"))
      .select(pmod(col("user_id"), lit(2L)).as("x"),
        pmod(Binning.floorDiv(col("user_id"), 2L), lit(4L)).as("st"),
        when(col("np") > 0, 1L).otherwise(0L).as("out"))
    val t = u.groupBy(col("st")).agg(
      Exact.sumUnits(when(col("x") === 1 && col("out") === 1, 1L).otherwise(0L))
        .cast("long").as("a"),
      Exact.sumUnits(when(col("x") === 1 && col("out") === 0, 1L).otherwise(0L))
        .cast("long").as("b"),
      Exact.sumUnits(when(col("x") === 0 && col("out") === 1, 1L).otherwise(0L))
        .cast("long").as("c"),
      Exact.sumUnits(when(col("x") === 0 && col("out") === 0, 1L).otherwise(0L))
        .cast("long").as("d"))
    val n = col("a") + col("b") + col("c") + col("d")
    def dec(x: Column) = x.cast("decimal(38,0)")
    val m = t.filter(n > 0).select(col("st"), col("a"), col("b"), col("c"), col("d"),
      Binning.floorDivCol((col("a") + col("b")) * (col("a") + col("c")) * lit(1000000L), n)
        .as("e_micro"),
      when(n > 1, floorDivBig(
          dec(col("a") + col("b")) * (col("c") + col("d")) *
            (col("a") + col("c")) * (col("b") + col("d")) * lit(1000000L),
          dec(n) * n * (n - 1)).cast("long"))
        .otherwise(lit(0L)).as("v_micro"),
      Binning.floorDivCol(col("a") * col("d") * lit(1000000L), n).as("ad_micro"),
      Binning.floorDivCol(col("b") * col("c") * lit(1000000L), n).as("bc_micro"))
      .persist() // per-stratum rows AND the pooled scalar read it
    val p = m.agg(
      sum(col("a") * lit(1000000L) - col("e_micro")).cast("long").as("ome"),
      sum(col("v_micro")).cast("long").as("v"),
      sum(col("ad_micro")).cast("long").as("sad"),
      sum(col("bc_micro")).cast("long").as("sbc"))
    val zz = col("ome").cast("double") / sqrt(col("v").cast("double") * lit(1000000.0))
    m.join(broadcast(p))
      .select(col("st").as("stratum"), col("a"), col("b"), col("c"), col("d"),
        (col("a") * lit(1000000L) - col("e_micro")).cast("long").as("a_minus_e_micro"),
        when(col("v") > 0, round(zz * zz, 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("cmh_chi2"),
        when(col("sbc") > 0,
          floorDivBig(dec(col("sad")) * lit(1000000L), dec(col("sbc"))).cast("long"))
          .otherwise(lit(null).cast("long")).as("or_mh_micro"))
      .orderedSmall(col("stratum"))
  }

  /** Negative-binomial overdispersion audit (#426, r10): per event
    * type, are per-USER event counts Poisson (variance ≈ mean) or
    * clumped (variance ≫ mean — the regime where a Poisson model's
    * standard errors are fiction)? The user-level companion of the
    * TEMPORAL Fano factor (#285, hourly arrival counts): #285 reads
    * burstiness in time, this reads heterogeneity across users, and
    * the NB size k̂ is the number a count model actually needs.
    * Method-of-moments on the
    * value-collapsed per-user counts: VMR = v/m and the NB size
    * k̂ = m²/(v−m) = S²(U−1) / (U·(UQ−S²−S(U−1))) — both derived as
    * single exact-integer floor divisions from (U, S=Σn, Q=Σn²), no
    * intermediate float. k̂ is NULL when v ≤ m (under/equi-dispersed
    * — NB degenerate) by exact integer predicate.
    */
  val qNbDispersion = GateQuery.sql(
    "q_nb_dispersion",
    s"""WITH u AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
       |  FROM $E e GROUP BY 1, 2),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS uu,
       |    CAST(sum(n) AS BIGINT) AS s,
       |    CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS q
       |  FROM u GROUP BY 1)
       |SELECT event_type, uu AS n_users, s AS n_events,
       |  (s * 1000) // uu AS mean_milli,
       |  CASE WHEN uu > 1 THEN
       |    CAST(((uu * q - CAST(s AS HUGEINT) * s) * 1000)
       |      // (CAST(uu AS HUGEINT) * (uu - 1)) AS BIGINT) END AS var_milli,
       |  CASE WHEN uu > 1 AND s > 0 THEN
       |    CAST(((uu * q - CAST(s AS HUGEINT) * s) * 1000)
       |      // (CAST(s AS HUGEINT) * (uu - 1)) AS BIGINT) END AS vmr_milli,
       |  CASE WHEN uu > 1 AND uu * q - CAST(s AS HUGEINT) * s - s * CAST(uu - 1 AS HUGEINT) > 0
       |    THEN CAST((CAST(s AS HUGEINT) * s * (uu - 1) * 1000)
       |      // (CAST(uu AS HUGEINT)
       |          * (uu * q - CAST(s AS HUGEINT) * s - s * CAST(uu - 1 AS HUGEINT)))
       |      AS BIGINT) END AS nb_k_milli
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"))
    def dec(x: Column) = x.cast("decimal(38,0)")
    val a = u.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("uu"),
      sum(col("n")).cast("long").as("s"),
      sum(dec(col("n")) * col("n")).cast("decimal(38,0)").as("q"))
    val uuD = dec(col("uu"))
    val sD = dec(col("s"))
    val num = uuD * col("q") - sD * col("s")
    val kDen = num - sD * (col("uu") - 1)
    a.select(col("event_type"), col("uu").as("n_users"), col("s").as("n_events"),
        Binning.floorDivCol(col("s") * lit(1000L), col("uu")).as("mean_milli"),
        when(col("uu") > 1,
          floorDivBig(num * lit(1000L), uuD * (col("uu") - 1)).cast("long"))
          .otherwise(lit(null).cast("long")).as("var_milli"),
        when(col("uu") > 1 && col("s") > 0,
          floorDivBig(num * lit(1000L), sD * (col("uu") - 1)).cast("long"))
          .otherwise(lit(null).cast("long")).as("vmr_milli"),
        when(col("uu") > 1 && kDen > 0,
          floorDivBig(sD * col("s") * (col("uu") - 1) * lit(1000L), uuD * kDen)
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("nb_k_milli"))
      .orderedSmall(col("event_type"))
  }

  /** Proportional-odds ordinal regression (#420, r10, McCullagh
    * 1980): cumulative-logit model P(Y ≤ j|x) = σ(θ_j − βx) of the
    * ordered per-user spend tier against the cohort bit, fit by FULL
    * Newton (analytic gradient + Hessian, deterministic step
    * halving) — the ordinal-outcome regression none of the binary
    * (#96 logistic) or continuous (#9 linreg) fits cover. The corpus
    * value-collapses to the (x, tier) contingency cells (≤ 8 rows —
    * the Platt sufficient-statistic discipline); the fit is driver
    * flops on that table; spend tiers use FIXED cent thresholds so
    * the outcome definition is engine- and scale-independent.
    * Hash-checked SQL since r11 via [[graft.operators.Ordinal
    * .replaySql]]: the 30 full-Newton iterations replay in a
    * recursive CTE — driver-ordered gradient/Hessian cell folds,
    * unrolled 4×4 partial-pivot elimination LATERALs (the
    * q_markov_attrib recipe), ascending-column back-substitution,
    * and the deterministic step halving as a 21-candidate
    * first-accepted comprehension over exact 2^-s steps. Closed-form
    * 2×2 reduction, monotone cutpoints and determinism stay pinned
    * in OrdinalSpec.
    */
  val qPropOdds = GateQuery.sql(
    "q_prop_odds",
    s"""WITH RECURSIVE uu AS (SELECT user_id, CAST(sum(${centsSql("vd")}) AS BIGINT) AS t
       |  FROM $E e GROUP BY 1),
       |cc0 AS (SELECT user_id % 2 AS x,
       |    CASE WHEN t < 290000 THEN 0 WHEN t < 330000 THEN 1
       |      WHEN t < 365000 THEN 2 ELSE 3 END AS y
       |  FROM uu),
       |cells AS MATERIALIZED (SELECT x, y, CAST(count(*) AS BIGINT) AS n
       |  FROM cc0 GROUP BY 1, 2),
       |${graft.operators.Ordinal.replaySql(30)},
       |grid AS (SELECT a.x, b.j FROM (SELECT unnest([0, 1]) AS x) a,
       |  (SELECT unnest([0, 1, 2]) AS j) b),
       |nx AS (SELECT x, CAST(sum(n) AS BIGINT) AS n_x FROM cells GROUP BY 1)
       |SELECT CAST(g.x AS BIGINT) AS x, CAST(g.j AS BIGINT) AS cut_j,
       |  CAST(coalesce(nx.n_x, 0) AS BIGINT) AS n_x,
       |  (SELECT CAST(coalesce(sum(c.n), 0) AS BIGINT) FROM cells c
       |     WHERE c.x = g.x AND c.y <= g.j) AS n_le,
       |  CAST(floor(fin.p[CAST(g.j AS INTEGER) + 1] * 1e6) AS BIGINT) AS theta_micro,
       |  CAST(floor(fin.p[4] * 1e6) AS BIGINT) AS beta_micro,
       |  CAST(floor((1e0 / (1e0 + exp(-(fin.p[CAST(g.j AS INTEGER) + 1]
       |    - fin.p[4] * CAST(g.x AS DOUBLE))))) * 1e6) AS BIGINT) AS p_le_micro
       |FROM grid g LEFT JOIN nx ON nx.x = g.x, fin
       |ORDER BY x, cut_j""".stripMargin) { (s, d) =>
    import graft.operators.Ordinal
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("t"))
      .select(pmod(col("user_id"), lit(2L)).as("x"),
        when(col("t") < 290000L, 0)
          .when(col("t") < 330000L, 1)
          .when(col("t") < 365000L, 2)
          .otherwise(3).as("y"))
    val cells = u.groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1), r.getLong(2)))
      .toSeq.sortBy(c => (c._1, c._2))
    val fit = Ordinal.fitPropOdds(cells, iters = 30)
    val jm = fit.theta.length
    val out = for {
      x <- Seq(0, 1)
      j <- 0 until jm
    } yield {
      val nLe = cells.filter(c => c._1 == x && c._2 <= j).map(_._3).sum
      val nX = cells.filter(_._1 == x).map(_._3).sum
      val pLe = 1.0 / (1.0 + math.exp(-(fit.theta(j) - fit.beta * x)))
      (x.toLong, j.toLong, nX, nLe,
        math.floor(fit.theta(j) * 1e6).toLong,
        math.floor(fit.beta * 1e6).toLong,
        math.floor(pLe * 1e6).toLong)
    }
    import s.implicits._
    out.toDF("x", "cut_j", "n_x", "n_le", "theta_micro", "beta_micro", "p_le_micro")
      .orderedSmall(col("x"), col("cut_j"))
  }

  /** Turnbull interval-censored survival NPMLE (#421, r10, Turnbull
    * 1976): user lifetimes observed only to a WEEKLY inspection grid
    * — a death at day t is known only as t ∈ (7·(t div 7),
    * 7·(t div 7) + 7], still-active users are right-censored at
    * (lt, ∞) — and the nonparametric MLE places mass on the
    * innermost Turnbull intervals via the classic EM
    * ([[graft.operators.Turnbull]]). The estimator Kaplan–Meier
    * (#187) is NOT: KM on interval-censored data needs an arbitrary
    * within-interval death-day convention; the NPMLE does not.
    * Observations value-collapse to ((l, r), count) cells — bounded
    * by the inspection grid², never users — and only those cross to
    * the driver (fixed 100 EM iterations, sorted-order loops).
    * Hash-checked SQL since r10: the Turnbull-interval derivation is
    * plain SQL over the endpoint sets, and the 100 EM steps replay
    * in a recursive CTE — each step one list_reduce over the sorted
    * cell list (cells encoded as [count, memberflag…] double lists),
    * the per-cell denominator recomputed per term with the driver's
    * ascending-j fold order (adding 0.0 for non-members is bit-safe
    * on the nonnegative mass sums). KM reduction, mass-sums-to-one
    * and determinism stay pinned in TurnbullSpec.
    */
  val qTurnbull = GateQuery.sql(
    "q_turnbull", {
      val inf = Long.MaxValue
      s"""WITH RECURSIVE ev0 AS (SELECT user_id, (epoch_us(ts) // 1000000) - 1704067200 AS xs FROM events),
         |mx AS (SELECT max(xs) AS mxs FROM ev0),
         |u AS (SELECT user_id, (max(xs) - min(xs)) // 86400 AS lt, max(xs) AS last_xs
         |  FROM ev0 GROUP BY 1),
         |cells AS MATERIALIZED (
         |  SELECT l, r, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT CASE WHEN last_xs >= mxs - 86400 THEN lt ELSE (lt // 7) * 7 END AS l,
         |      CASE WHEN last_xs >= mxs - 86400 THEN $inf ELSE (lt // 7) * 7 + 7 END AS r
         |    FROM u, mx) o GROUP BY 1, 2),
         |lefts AS MATERIALIZED (SELECT DISTINCT l AS q FROM cells),
         |rights AS MATERIALIZED (SELECT DISTINCT r FROM cells),
         |alle AS MATERIALIZED (SELECT q AS e FROM lefts UNION SELECT r FROM rights),
         |ti AS MATERIALIZED (
         |  SELECT q, p, CAST(row_number() OVER (ORDER BY q, p) AS INTEGER) AS j FROM (
         |    SELECT l.q, (SELECT min(r.r) FROM rights r WHERE r.r > l.q) AS p FROM lefts l) z
         |  WHERE p IS NOT NULL
         |    AND NOT EXISTS (SELECT 1 FROM alle a WHERE a.e > z.q AND a.e < z.p)),
         |kk AS MATERIALIZED (SELECT CAST(count(*) AS INTEGER) AS k FROM ti),
         |nt AS MATERIALIZED (SELECT CAST(sum(n) AS DOUBLE) AS ntot FROM cells),
         |cellm AS MATERIALIZED (
         |  SELECT c.l, c.r, [CAST(c.n AS DOUBLE)] ||
         |    list(CASE WHEN t.q >= c.l AND t.p <= c.r THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END ORDER BY t.j) AS cell
         |  FROM cells c, ti t GROUP BY c.l, c.r, c.n),
         |cl AS MATERIALIZED (SELECT list(cell ORDER BY l, r) AS cs FROM cellm),
         |em AS (
         |  SELECT 0 AS it, [1.0 / kk.k for j in range(0, kk.k)] AS s FROM kk
         |  UNION ALL
         |  SELECT st.it + 1,
         |    list_transform(
         |      list_reduce(
         |        [[CAST(0.0 AS DOUBLE) for j in range(0, len(st.s))]] || cl.cs,
         |        (acc, cell) -> [acc[j + 1] +
         |            CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                  [CASE WHEN cell[jj + 2] = 1.0 THEN st.s[jj + 1] ELSE 0.0 END
         |                   for jj in range(0, len(st.s))]), (a, b) -> a + b) > 0
         |                AND cell[j + 2] = 1.0
         |              THEN (cell[1] / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                  [CASE WHEN cell[jj + 2] = 1.0 THEN st.s[jj + 1] ELSE 0.0 END
         |                   for jj in range(0, len(st.s))]), (a, b) -> a + b)) * st.s[j + 1]
         |              ELSE 0.0 END
         |          for j in range(0, len(st.s))]),
         |      x -> x / nt.ntot) AS s
         |  FROM em st, cl, nt WHERE st.it < 100),
         |fin AS MATERIALIZED (SELECT s FROM em ORDER BY it DESC LIMIT 1),
         |cum AS MATERIALIZED (
         |  SELECT list_reduce([[fin.s[1]]] || [[fin.s[j]] for j in range(2, len(fin.s) + 1)],
         |    (acc, xj) -> acc || [acc[len(acc)] + xj[1]]) AS c
         |  FROM fin)
         |SELECT t.q AS q_day,
         |  CASE WHEN t.p = $inf THEN CAST(-1 AS BIGINT) ELSE t.p END AS p_day,
         |  CAST(floor(fin.s[t.j] * 1000000.0) AS BIGINT) AS mass_micro,
         |  CAST(floor(greatest(1.0 - cum.c[t.j], 0.0) * 1000000.0) AS BIGINT) AS surv_micro
         |FROM ti t, fin, cum
         |ORDER BY q_day, p_day""".stripMargin
    }) { (s, d) =>
    import graft.operators.Turnbull
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .select(col("lt"),
        when(col("last_xs") >= col("mxs") - lit(86400L), 1L).otherwise(0L)
          .as("censored"))
    val cells = u
      .select(
        when(col("censored") === 1, col("lt"))
          .otherwise(Binning.floorDiv(col("lt"), 7L) * 7).as("l"),
        when(col("censored") === 1, lit(Turnbull.Inf))
          .otherwise(Binning.floorDiv(col("lt"), 7L) * 7 + 7).as("r"))
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(c => (c._1, c._2))
    val masses = Turnbull.npmle(cells, iters = 100)
    import s.implicits._
    masses.map(m => (m.q, if (m.p == Turnbull.Inf) -1L else m.p,
        math.floor(m.s * 1e6).toLong, math.floor(m.surv * 1e6).toLong))
      .toDF("q_day", "p_day", "mass_micro", "surv_micro")
      .orderedSmall(col("q_day"), col("p_day"))
  }

  /** Theil T index (#188): the entropy-form inequality measure that
    * DECOMPOSES across sources (unlike Gini) — T = Σ (xᵢ/S)·ln(xᵢ·n/S).
    * Each user's ln term is micro-ln quantized, the weighted sum is
    * an exact decimal, and the result leaves as one floor division:
    * T_micro = (Σ xᵢ·microLn(xᵢ·n/S) + S−1) handled as the plain
    * floored ratio (numerator may be negative only by quantization;
    * clamped at 0 — T ≥ 0 analytically). Zero-spend users carry no
    * mass and are excluded from the ln (lim x→0 x·ln x = 0).
    */
  val qTheil = GateQuery.sql(
    "q_theil",
    s"""WITH u AS (SELECT event_type, user_id,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS x
       |  FROM $E e GROUP BY 1, 2),
       |w AS (SELECT event_type, x,
       |    count(*) OVER (PARTITION BY event_type) AS n,
       |    CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
       |  FROM u),
       |a AS (SELECT event_type, any_value(n) AS n, any_value(s) AS s,
       |    CAST(sum(CASE WHEN x > 0 THEN
       |      x * ${Curation.microLnSql("CAST(x AS DOUBLE) * n / s")}
       |    ELSE 0 END) AS HUGEINT) AS num
       |  FROM w GROUP BY event_type),
       |f AS (SELECT event_type, n, s,
       |    greatest(${Exact.floorDivBigSql("num + CAST(s AS HUGEINT) - 1", "s")}, 0) AS theil
       |  FROM a WHERE s > 0)
       |SELECT event_type, CAST(n AS BIGINT) AS n_users, s AS total_cents,
       |  CAST(theil AS BIGINT) AS theil_micro
       |FROM f ORDER BY event_type""".stripMargin) { (s, d) =>
    val u = ev(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("x"))
    val wt = Window.partitionBy(col("event_type"))
    val withStats = u
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("s", sum(col("x")).over(wt).cast("long"))
    val a = withStats.groupBy(col("event_type")).agg(
      first(col("n")).as("n"), first(col("s")).as("s"),
      sum(when(col("x") > 0,
        col("x").cast("decimal(38,0)") *
          Curation.microLn(col("x").cast("double") * col("n") / col("s")))
        .otherwise(lit(0L).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as("num"))
    a.filter(col("s") > 0)
      .select(col("event_type"), col("n").cast("long").as("n_users"),
        col("s").as("total_cents"),
        greatest(Exact.floorDivBig(
          col("num") + col("s").cast("decimal(38,0)") - lit(1L), col("s")), lit(0L).cast("decimal(38,0)"))
          .cast("long").as("theil_micro"))
      .orderedSmall(col("event_type"))
  }

  /** Mergeable quantile sketch — the SCALE PATH of #43's exact
    * percentiles (#189, rows+test): Spark's built-in
    * `approx_percentile` (Greenwald–Khanna) is the
    * single-pass, mergeable, bounded-memory shape a 100 TB
    * percentile query actually runs — map-side sketches merge on
    * one reducer row per group instead of shuffling every value.
    * Non-deterministic across engines only in its error slack, so
    * the gate is rows-only; StatsEdgeSpec pins the rank-error
    * contract |rank(est) − target| ≤ ε·n against the exact ranks.
    */
  val qQuantileSketch = GateQuery.rowsOnly("q_quantile_sketch") { (s, d) =>
    ev(s, d)
      .select(col("event_type"), Exact.cents(col("vd")).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"),
        percentile_approx(col("c"), array(lit(0.5), lit(0.9), lit(0.99)), lit(10000))
          .as("p_est"))
      .select(col("event_type"), col("n_points"),
        element_at(col("p_est"), 1).as("p50_est"),
        element_at(col("p_est"), 2).as("p90_est"),
        element_at(col("p_est"), 3).as("p99_est"))
      .orderedSmall(col("event_type"))
  }

  /** Calendar-grid length of [[qPeriodogram]]'s hourly series: the
    * 30-day events horizon (720 hours), absent buckets zero-filled —
    * the fixed-n dense grid is what makes the DFT a LITERAL-domain
    * computation (cos(2πkt/n) depends only on (k·t) mod n, so the
    * whole trig surface is one n-row driver literal table on both
    * engines — the Benford/NDCG precedent, r12 verdict item 3). */
  private val PgN = 720
  private val PgKMax = 8
  /** Trig literal scale (cos/sin in 1e4 units). */
  private val PgTs = 10000L
  /** Power output divisor n²·PgTs²·1000: emits power in kilo-cents²
    * units. Headroom (the established exactness-bound convention):
    * |c_t| = |n·y_t − Σy| ≤ 2n·max y ⇒ |re| ≤ n·|c|·PgTs ~ 1e17 at
    * ×10 scale (fits the decimal(19) lift), power = re²+im² ~ 1e34
    * (fits decimal(38)/HUGEINT through ~×1000). */
  private val PgDiv = PgN.toLong * PgN * PgTs * PgTs * 1000L
  /** (p, cos, sin) literals at phase 2πp/n, rint-quantized to PgTs
    * units ONCE on the driver — both engines consume the same
    * integers, so no libm call runs inside either engine. */
  private val PgPhase: IndexedSeq[(Long, Long, Long)] = (0 until PgN).map { p =>
    val a = 2.0 * math.Pi * p / PgN
    (p.toLong, math.rint(PgTs * math.cos(a)).toLong,
      math.rint(PgTs * math.sin(a)).toLong)
  }

  /** Periodogram (#190): power spectrum of each event type's hourly
    * spend series at integer frequencies 1..8 over the fixed 720-hour
    * calendar grid (absent hours zero-filled — the regular-sampling
    * form; the irregular per-scan variant stays
    * [[graft.operators.Spectral.periodogram]], StatsEdgeSpec-pinned).
    * Hash-exact since r13 (rows-only before): with n fixed, the DFT
    * is Σ_t c_t·trig[(k·t) mod n] over the n-row driver-literal trig
    * table ([[PgPhase]]) with c_t = n·y_t − Σy (the ×n-scaled
    * mean-removed series — integer), so re/im/power are exact
    * integer sums on both engines; power floors to kilo-cents² via
    * one exact floor. Peak = argmax power, ties → lowest k, exact.
    * Shape: ONE corpus aggregate collapses the corpus to the
    * CALENDAR-BOUNDED (event_type, hour) grid (≤ type-catalog × 720
    * rows at ANY corpus size); only that grid crosses to the driver,
    * where the DFT replays in exact integer arithmetic (the
    * q_spline_rate convention — the 100 TB cost is the aggregate,
    * and the bounded tail doesn't bill seven more job floors).
    */
  val qPeriodogram = GateQuery.sql(
    "q_periodogram", {
      val phRows = PgPhase.map { case (p, cm, sm) => s"($p, $cm, $sm)" }.mkString(", ")
      s"""WITH ph(p, cm, sm) AS (VALUES $phRows),
         |tg AS (SELECT unnest(range(0, $PgN)) AS t),
         |kk AS (SELECT unnest(range(1, ${PgKMax + 1})) AS k),
         |g AS (SELECT event_type, xs // 3600 AS h,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E e WHERE xs >= 0 AND xs < ${PgN * 3600L} GROUP BY 1, 2),
         |et AS (SELECT event_type, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(count(*) AS BIGINT) AS n_points FROM g GROUP BY 1),
         |dn AS (SELECT et.event_type, tg.t,
         |    $PgN * COALESCE(gg.y, 0) - et.sy AS c
         |  FROM et CROSS JOIN tg
         |  LEFT JOIN g gg ON gg.event_type = et.event_type AND gg.h = tg.t),
         |dd AS (SELECT dn.event_type, kk.k,
         |    CAST(sum(CAST(dn.c AS HUGEINT) * ph.cm) AS HUGEINT) AS re,
         |    CAST(sum(CAST(dn.c AS HUGEINT) * ph.sm) AS HUGEINT) AS im
         |  FROM dn CROSS JOIN kk JOIN ph ON ph.p = (kk.k * dn.t) % $PgN
         |  GROUP BY 1, 2),
         |pw AS (SELECT event_type, k,
         |    (re * re + im * im) // CAST($PgDiv AS HUGEINT) AS pw FROM dd),
         |rk AS (SELECT event_type, k, pw, row_number() OVER (
         |    PARTITION BY event_type ORDER BY pw DESC, k) AS rn FROM pw)
         |SELECT rk.event_type, et.n_points, CAST(rk.k AS BIGINT) AS peak_k,
         |  CAST(rk.pw AS BIGINT) AS peak_power
         |FROM rk JOIN et ON rk.event_type = et.event_type
         |WHERE rn = 1 ORDER BY rk.event_type""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val g = ev(s, d).filter(col("xs") >= 0 && col("xs") < PgN * 3600L)
      .groupBy(col("event_type"), Binning.floorDiv(col("xs"), 3600L).as("h"))
      .agg(sum(Exact.cents(col("vd"))).cast("long").as("y"))
    // calendar-bounded grid: ≤ |type catalog| × 720 rows at any SF
    val grid = g.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = grid.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, rows) =>
      val ys = rows.map(r => r._2 -> r._3).toMap
      val sy = rows.iterator.map(_._3).sum
      val nPoints = rows.length.toLong
      // exact replay of the SQL dense DFT: c_t = n·y_t − Σy, trig
      // from the SAME literal table; BigInt squares, one floor
      val powers = (1 to PgKMax).map { k =>
        var re = BigInt(0); var im = BigInt(0)
        var t = 0
        while (t < PgN) {
          val c = PgN.toLong * ys.getOrElse(t.toLong, 0L) - sy
          val (_, cm, sm) = PgPhase((k * t) % PgN)
          re += BigInt(c) * cm
          im += BigInt(c) * sm
          t += 1
        }
        (k.toLong, (re * re + im * im) / PgDiv) // nonneg: / == floor
      }
      val (peakK, peakPw) = powers.maxBy { case (k, p) => (p, -k) }
      (et, nPoints, peakK, peakPw.toLong)
    }
    out.toDF("event_type", "n_points", "peak_k", "peak_power")
      .orderedSmall(col("event_type"))
  }

  /** Holt linear-trend smoothing (#191): double exponential
    * smoothing of each user's 'view' series
    * ([[graft.operators.WindowOps.holt]]) summarized to the final
    * level/trend/one-step forecast — the classic short-horizon
    * forecaster next to #63's EWMA. Exact-linear-continuation is
    * pinned in StatsEdgeSpec. Hash-checked SQL since r10: the
    * recursion is pure IEEE +/−/× over doubles, so a RECURSIVE CTE
    * stepping every user's ordered series one point per round (the
    * l-expression repeated textually inside the b update — same
    * value, same bits) replays it bit-identically; each recursion
    * round advances ALL users, so rounds = max series length, and
    * every mirrored literal is spelled the same on both engines
    * ((1.0 - 0.5), never a pre-folded 0.5).
    */
  val qHolt = GateQuery.sql(
    "q_holt", {
      val lNew = "CAST(0.5 AS DOUBLE) * n.y + (1.0 - CAST(0.5 AS DOUBLE)) * (r.l + r.b)"
      s"""WITH RECURSIVE pts AS (SELECT user_id,
         |    CAST(xs AS DOUBLE) AS x, CAST(${centsSql("vd")} AS DOUBLE) AS y,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY CAST(xs AS DOUBLE), CAST(${centsSql("vd")} AS DOUBLE)) AS i
         |  FROM $E e WHERE event_type = 'view'),
         |rec(user_id, i, l, b) AS (
         |  SELECT p.user_id, 1, p.y,
         |      coalesce(p2.y - p.y, CAST(0 AS DOUBLE))
         |    FROM pts p LEFT JOIN pts p2 ON p2.user_id = p.user_id AND p2.i = 2
         |    WHERE p.i = 1
         |  UNION ALL
         |  SELECT n.user_id, n.i,
         |      $lNew,
         |      CAST(0.3 AS DOUBLE) * (($lNew) - r.l)
         |        + (1.0 - CAST(0.3 AS DOUBLE)) * r.b
         |    FROM rec r JOIN pts n ON n.user_id = r.user_id AND n.i = r.i + 1),
         |lastp AS (SELECT user_id, max(i) AS mi, CAST(count(*) AS BIGINT) AS n_points
         |  FROM pts GROUP BY user_id)
         |SELECT lp.user_id, lp.n_points,
         |  round(r.l, 4) + 0.0 AS last_level,
         |  round(r.b, 4) + 0.0 AS last_trend,
         |  round(r.l + r.b, 4) + 0.0 AS next_forecast
         |FROM lastp lp JOIN rec r ON r.user_id = lp.user_id AND r.i = lp.mi
         |ORDER BY lp.user_id""".stripMargin
    }) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("xs").cast("double").as("x"),
        Exact.cents(col("vd")).cast("double").as("y"))
    graft.operators.WindowOps.holt(e, "user_id", "x", "y", alpha = 0.5, beta = 0.3)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        round(max_by(col("level"), col("x")), 4).as("last_level"),
        round(max_by(col("trend"), col("x")), 4).as("last_trend"),
        round(max_by(col("forecast"), col("x")), 4).as("next_forecast"))
      .orderedSmall(col("user_id"))
  }

  private val CorrTypes = Seq("click", "error", "purchase", "signup", "view")
  private val CorrPairs: Seq[(String, String)] =
    for { a <- CorrTypes; b <- CorrTypes if a < b } yield (a, b)

  /** Kendall tau-b (#330): the RANK-concordance association between
    * the click and view hourly series — completing the trio next to
    * Pearson (#193, linear) and Spearman (#177, rank-linear):
    * tau answers "when one moves up, does the other?" with no
    * linearity assumption at all, robust to any monotone
    * transformation, with the tie-corrected tau-b denominator
    * √((n₀−n₁)(n₀−n₂)) (Kendall 1945). The pair stage self-joins the
    * CALENDAR-BOUNDED hourly grid (the Theil–Sen #234 bound — hours²,
    * never event count; broadcast build side), concordant /
    * discordant / tie counts are ONE exact conditional aggregate,
    * and tau-b is one mirrored double. All-tied series → NULL by
    * exact predicate.
    */
  val qKendall = GateQuery.sql(
    "q_kendall",
    s"""WITH g AS (SELECT xs // 3600 AS grid, event_type,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
       |a AS (SELECT grid, coalesce(max(CASE WHEN event_type = 'click' THEN y END), 0) AS x,
       |    coalesce(max(CASE WHEN event_type = 'view' THEN y END), 0) AS v
       |  FROM g GROUP BY grid),
       |p AS (SELECT
       |    CASE WHEN (b.x - a.x) * (b.v - a.v) > 0 THEN 1 ELSE 0 END AS co,
       |    CASE WHEN (b.x - a.x) * (b.v - a.v) < 0 THEN 1 ELSE 0 END AS di,
       |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
       |    CASE WHEN a.v = b.v THEN 1 ELSE 0 END AS tv
       |  FROM a a JOIN a b ON a.grid < b.grid),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(co) AS BIGINT) AS c, CAST(sum(di) AS BIGINT) AS d,
       |    CAST(sum(tx) AS BIGINT) AS n1, CAST(sum(tv) AS BIGINT) AS n2
       |  FROM p),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM a)
       |SELECT n_hours, n0 AS n_pairs, c AS concordant, d AS discordant,
       |  n1 AS ties_x, n2 AS ties_y,
       |  CASE WHEN n0 > n1 AND n0 > n2 THEN
       |    round(CAST(c - d AS DOUBLE)
       |      / (sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE))), 6) + 0.0
       |  END AS tau_b
       |FROM s, h""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
      .filter(col("event_type").isin("click", "view"))
    val a = g.groupBy(col("grid"))
      .agg(coalesce(max(when(col("event_type") === "click", col("y"))), lit(0L)).as("x"),
        coalesce(max(when(col("event_type") === "view", col("y"))), lit(0L)).as("v"))
    val a1 = a.select(col("grid").as("g1"), col("x").as("x1"), col("v").as("v1"))
    val a2 = a.select(col("grid").as("g2"), col("x").as("x2"), col("v").as("v2"))
    val prod = (col("x2") - col("x1")) * (col("v2") - col("v1"))
    val p = a1.join(broadcast(a2), col("g1") < col("g2"))
    val st = p.agg(count(lit(1)).cast("long").as("n0"),
      Exact.sumUnits(when(prod > 0, 1L).otherwise(0L)).cast("long").as("c"),
      Exact.sumUnits(when(prod < 0, 1L).otherwise(0L)).cast("long").as("d"),
      Exact.sumUnits(when(col("x1") === col("x2"), 1L).otherwise(0L)).cast("long").as("n1"),
      Exact.sumUnits(when(col("v1") === col("v2"), 1L).otherwise(0L)).cast("long").as("n2"))
    val h = a.agg(count(lit(1)).cast("long").as("n_hours"))
    Curation.withStats(st, h)
      .select(col("n_hours"), col("n0").as("n_pairs"), col("c").as("concordant"),
        col("d").as("discordant"), col("n1").as("ties_x"), col("n2").as("ties_y"),
        when(col("n0") > col("n1") && col("n0") > col("n2"),
          round((col("c") - col("d")).cast("double") /
            (sqrt((col("n0") - col("n1")).cast("double")) *
              sqrt((col("n0") - col("n2")).cast("double"))), 6) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("tau_b"))
  }

  /** Goodman–Kruskal gamma (#351): the ties-EXCLUDED ordinal
    * association on the SAME bounded hourly-grid pair stage as
    * Kendall's tau-b (#330) — γ = (C−D)/(C+D) (Goodman & Kruskal
    * 1954). Reported NEXT TO tau-b deliberately: on heavily tied
    * data γ ≫ τ_b because γ ignores ties entirely — seeing both is
    * the standard check that an "association" isn't a tie artifact.
    * Entirely exact integers: concordant/discordant counts from ONE
    * conditional aggregate, γ one signed HALF_UP ppm ratio.
    */
  val qGkGamma = GateQuery.sql(
    "q_gk_gamma",
    s"""WITH g AS (SELECT xs // 3600 AS grid, event_type,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
       |a AS (SELECT grid, coalesce(max(CASE WHEN event_type = 'click' THEN y END), 0) AS x,
       |    coalesce(max(CASE WHEN event_type = 'view' THEN y END), 0) AS v
       |  FROM g GROUP BY grid),
       |p AS (SELECT
       |    CASE WHEN (b.x - a.x) * (b.v - a.v) > 0 THEN 1 ELSE 0 END AS co,
       |    CASE WHEN (b.x - a.x) * (b.v - a.v) < 0 THEN 1 ELSE 0 END AS di
       |  FROM a a JOIN a b ON a.grid < b.grid),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(co) AS BIGINT) AS c, CAST(sum(di) AS BIGINT) AS d
       |  FROM p)
       |SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
       |  CASE WHEN c + d = 0 THEN NULL
       |    ELSE ${Exact.roundedRatioSignedSql("(c - d) * 1000000", "c + d", 0)}
       |  END AS gamma_ppm
       |FROM s""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
      .filter(col("event_type").isin("click", "view"))
    val a = g.groupBy(col("grid"))
      .agg(coalesce(max(when(col("event_type") === "click", col("y"))), lit(0L)).as("x"),
        coalesce(max(when(col("event_type") === "view", col("y"))), lit(0L)).as("v"))
    val a1 = a.select(col("grid").as("g1"), col("x").as("x1"), col("v").as("v1"))
    val a2 = a.select(col("grid").as("g2"), col("x").as("x2"), col("v").as("v2"))
    val prod = (col("x2") - col("x1")) * (col("v2") - col("v1"))
    val p = a1.join(broadcast(a2), col("g1") < col("g2"))
    val st = p.agg(count(lit(1)).cast("long").as("n0"),
      Exact.sumUnits(when(prod > 0, 1L).otherwise(0L)).cast("long").as("c"),
      Exact.sumUnits(when(prod < 0, 1L).otherwise(0L)).cast("long").as("d"))
    st.select(col("n0").as("n_pairs"), col("c").as("concordant"),
      col("d").as("discordant"),
      when(col("c") + col("d") === 0, lit(null).cast("double"))
        .otherwise(Exact.roundedRatioSigned((col("c") - col("d")) * lit(1000000L),
          col("c") + col("d"), 0)).as("gamma_ppm"))
  }

  /** Somers' D (#376): the ASYMMETRIC ordinal association completing
    * the tau-b (#330) / gamma (#351) family off the SAME bounded
    * hourly-grid pair stage — D_YX = (C−D)/(pairs not tied on X)
    * treats X as the predictor (ties on the response stay in the
    * denominator, ties on the predictor drop out), which is why
    * D_YX is THE ordinal-predictor effect size (and for a binary X
    * it IS 2·AUC−1, tying it to #175). Reported both directions plus
    * the identity check τ_b² = D_YX·D_XY. Exact integer counts from
    * ONE conditional aggregate over the pair product; each D a
    * signed HALF_UP ppm ratio; zero denominators → NULL by exact
    * predicate.
    */
  val qSomersD = GateQuery.sql(
    "q_somers_d",
    s"""WITH g AS (SELECT xs // 3600 AS grid, event_type,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
       |a AS (SELECT grid, coalesce(max(CASE WHEN event_type = 'click' THEN y END), 0) AS x,
       |    coalesce(max(CASE WHEN event_type = 'view' THEN y END), 0) AS v
       |  FROM g GROUP BY grid),
       |p AS (SELECT
       |    CASE WHEN (b.x - a.x) * (b.v - a.v) > 0 THEN 1 ELSE 0 END AS co,
       |    CASE WHEN (b.x - a.x) * (b.v - a.v) < 0 THEN 1 ELSE 0 END AS di,
       |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
       |    CASE WHEN a.v = b.v THEN 1 ELSE 0 END AS tv
       |  FROM a a JOIN a b ON a.grid < b.grid),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(co) AS BIGINT) AS c, CAST(sum(di) AS BIGINT) AS d,
       |    CAST(sum(tx) AS BIGINT) AS n1, CAST(sum(tv) AS BIGINT) AS n2
       |  FROM p)
       |SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
       |  n1 AS ties_x, n2 AS ties_y,
       |  CASE WHEN n0 = n1 THEN NULL
       |    ELSE ${Exact.roundedRatioSignedSql("(c - d) * 1000000", "n0 - n1", 0)}
       |  END AS d_yx_ppm,
       |  CASE WHEN n0 = n2 THEN NULL
       |    ELSE ${Exact.roundedRatioSignedSql("(c - d) * 1000000", "n0 - n2", 0)}
       |  END AS d_xy_ppm
       |FROM s""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
      .filter(col("event_type").isin("click", "view"))
    val a = g.groupBy(col("grid"))
      .agg(coalesce(max(when(col("event_type") === "click", col("y"))), lit(0L)).as("x"),
        coalesce(max(when(col("event_type") === "view", col("y"))), lit(0L)).as("v"))
    val a1 = a.select(col("grid").as("g1"), col("x").as("x1"), col("v").as("v1"))
    val a2 = a.select(col("grid").as("g2"), col("x").as("x2"), col("v").as("v2"))
    val prod = (col("x2") - col("x1")) * (col("v2") - col("v1"))
    val p = a1.join(broadcast(a2), col("g1") < col("g2"))
    val st = p.agg(count(lit(1)).cast("long").as("n0"),
      Exact.sumUnits(when(prod > 0, 1L).otherwise(0L)).cast("long").as("c"),
      Exact.sumUnits(when(prod < 0, 1L).otherwise(0L)).cast("long").as("d"),
      Exact.sumUnits(when(col("x1") === col("x2"), 1L).otherwise(0L)).cast("long").as("n1"),
      Exact.sumUnits(when(col("v1") === col("v2"), 1L).otherwise(0L)).cast("long").as("n2"))
    st.select(col("n0").as("n_pairs"), col("c").as("concordant"),
      col("d").as("discordant"), col("n1").as("ties_x"), col("n2").as("ties_y"),
      when(col("n0") === col("n1"), lit(null).cast("double"))
        .otherwise(Exact.roundedRatioSigned((col("c") - col("d")) * lit(1000000L),
          col("n0") - col("n1"), 0)).as("d_yx_ppm"),
      when(col("n0") === col("n2"), lit(null).cast("double"))
        .otherwise(Exact.roundedRatioSigned((col("c") - col("d")) * lit(1000000L),
          col("n0") - col("n2"), 0)).as("d_xy_ppm"))
  }

  /** Pearson correlation matrix (#193): pairwise correlation of
    * per-user activity counts across event types — the behavioral
    * covariance audit ("do users who click also buy?"). Users
    * collapse to ONE pivoted count row each, all 5 sums + 5 squares
    * + 10 cross-products accumulate in a single exact-decimal
    * aggregate (one pass, one shuffle bounded by users), and the 10
    * correlations leave the one-row stats relation through mirrored
    * double closed forms in one projection — never 10 re-reads.
    */
  val qCorrMatrix = GateQuery.sql(
    "q_corr_matrix", {
      def c(t: String) = s"c_$t"
      val pivots = CorrTypes.map(t =>
        s"count(*) FILTER (event_type = '$t') AS ${c(t)}").mkString(", ")
      val sums = CorrTypes.map(t =>
        s"CAST(sum(${c(t)}) AS BIGINT) AS s_$t, CAST(sum(${c(t)} * ${c(t)}) AS HUGEINT) AS q_$t")
        .mkString(", ")
      val crosses = CorrPairs.map { case (a, b) =>
        s"CAST(sum(${c(a)} * ${c(b)}) AS HUGEINT) AS x_${a}_$b" }.mkString(", ")
      val pairRows = CorrPairs.map { case (a, b) =>
        val da = s"CAST(n * q_$a - CAST(s_$a AS HUGEINT) * s_$a AS DOUBLE)"
        val db = s"CAST(n * q_$b - CAST(s_$b AS HUGEINT) * s_$b AS DOUBLE)"
        s"""SELECT '$a' AS type_a, '$b' AS type_b, n AS n_users,
           |  CASE WHEN $da = 0 OR $db = 0 THEN NULL ELSE
           |    round(CAST(n * x_${a}_$b - CAST(s_$a AS HUGEINT) * s_$b AS DOUBLE)
           |      / sqrt($da * $db), 6) + 0.0 END AS r
           |  FROM a""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH u AS (SELECT user_id, $pivots FROM $E e GROUP BY user_id),
         |a AS (SELECT count(*) AS n, $sums, $crosses FROM u)
         |SELECT type_a, type_b, CAST(n_users AS BIGINT) AS n_users, r FROM (
         |  $pairRows)
         |ORDER BY type_a, type_b""".stripMargin
    }) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(count(when(col("event_type") === CorrTypes.head, 1)).as(s"c_${CorrTypes.head}"),
        CorrTypes.tail.map(t => count(when(col("event_type") === t, 1)).as(s"c_$t")): _*)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val statCols: Seq[Column] =
      CorrTypes.flatMap(t => Seq(
        sum(dec(col(s"c_$t"))).cast("decimal(38,0)").as(s"s_$t"),
        sum(dec(col(s"c_$t") * col(s"c_$t"))).cast("decimal(38,0)").as(s"q_$t"))) ++
        CorrPairs.map { case (a, b) =>
          sum(dec(col(s"c_$a") * col(s"c_$b"))).cast("decimal(38,0)").as(s"x_${a}_$b") }
    val a = u.agg(count(lit(1)).cast("decimal(38,0)").as("n"), statCols: _*)
    val pairStructs = CorrPairs.map { case (ta, tb) =>
      def d2(c: Column) = c.cast("double")
      val num = d2(col("n") * col(s"x_${ta}_$tb") - col(s"s_$ta") * col(s"s_$tb"))
      val da = d2(col("n") * col(s"q_$ta") - col(s"s_$ta") * col(s"s_$ta"))
      val db = d2(col("n") * col(s"q_$tb") - col(s"s_$tb") * col(s"s_$tb"))
      struct(lit(ta).as("type_a"), lit(tb).as("type_b"),
        col("n").cast("long").as("n_users"),
        when(da === 0.0 || db === 0.0, lit(null).cast("double"))
          .otherwise(round(num / sqrt(da * db), 6) + lit(0.0)).as("r"))
    }
    a.select(explode(array(pairStructs: _*)).as("p"))
      .select(col("p.type_a"), col("p.type_b"), col("p.n_users"), col("p.r"))
      .orderedSmall(col("type_a"), col("type_b"))
  }

  /** Kulldorff temporal scan statistic (#335): WHERE is the purchase
    * burst — the maximum-likelihood anomalous time window under the
    * Poisson scan model (Kulldorff 1997, the epidemic-surveillance
    * standard; the localization upgrade of #224's single changepoint
    * and #286's threshold bursts: it returns the window itself with a
    * likelihood score, not just a boundary). Candidate windows span
    * ≤ 24 h and, by the classic dominance argument, need only
    * start/end at NONEMPTY hours — an empty-edge window has the same
    * count at larger expectation, so it can never beat its trimmed
    * core. LLR = c·ln(c/e) + (C−c)·ln((C−c)/(C−e)) for c > e.
    *
    * Shape: the sparse hourly grid fans out ×24 via explode +
    * EQUI-join (never a nested-loop range join), per-start cumsums
    * ride ≤24-row window partitions, corpus totals a 1-row broadcast,
    * and the argmax is the exact min-struct-FILTER idiom on the
    * floored micro LLR. Calendar-bounded everywhere — hours², never
    * event count.
    */
  val qScanStat = GateQuery.sql(
    "q_scan_stat",
    s"""WITH g AS (SELECT xs // 3600 AS h, CAST(count(*) AS BIGINT) AS c
       |  FROM $E e WHERE event_type = 'purchase' GROUP BY 1),
       |st AS (SELECT CAST(sum(c) AS BIGINT) AS ct,
       |    CAST(max(h) - min(h) + 1 AS BIGINT) AS th FROM g),
       |p AS (SELECT g.h AS s, g.h + t.off AS hh
       |  FROM g, (SELECT unnest(generate_series(0, 23)) AS off) t),
       |j AS (SELECT p.s AS s, b.h AS e2, b.c AS cb FROM p JOIN g b ON b.h = p.hh),
       |w AS (SELECT s, e2,
       |    CAST(sum(cb) OVER (PARTITION BY s ORDER BY e2) AS BIGINT) AS cw
       |  FROM j),
       |l AS (SELECT s, e2, cw, e2 - s + 1 AS len,
       |    CAST(floor((cw * ln(cw / (CAST(ct AS DOUBLE) * (e2 - s + 1) / th))
       |      + CASE WHEN cw = ct THEN 0.0 ELSE (ct - cw)
       |          * ln((ct - cw) / (ct - CAST(ct AS DOUBLE) * (e2 - s + 1) / th)) END)
       |      * 1000000) AS BIGINT) AS llr_micro
       |  FROM w, st WHERE cw > CAST(ct AS DOUBLE) * (e2 - s + 1) / th),
       |mx AS (SELECT max(llr_micro) AS m FROM l)
       |SELECT CAST(b[1] AS BIGINT) AS start_h, CAST(b[2] AS BIGINT) AS end_h,
       |  CAST(b[4] AS BIGINT) AS len_hours, CAST(b[3] AS BIGINT) AS c_window,
       |  ct AS c_total, th AS t_hours, m AS llr_micro
       |FROM (SELECT min((s, e2, cw, len)) FILTER (llr_micro = m) AS b, max(m) AS m
       |  FROM l, mx) q, st""".stripMargin) { (s, d) =>
    val g = ev(s, d).filter(col("event_type") === "purchase")
      .groupBy(Binning.floorDiv(col("xs"), 3600L).as("h"))
      .agg(count(lit(1)).cast("long").as("c"))
    val st = g.agg(sum(col("c")).cast("long").as("ct"),
      (max(col("h")) - min(col("h")) + 1).cast("long").as("th"))
    val p = g.select(col("h").as("s"))
      .select(col("s"), explode(sequence(lit(0L), lit(23L))).as("off"))
      .select(col("s"), (col("s") + col("off")).as("h"))
    val j = p.join(g, "h").select(col("s"), col("h").as("e2"), col("c").as("cb"))
    val w = j.withColumn("cw",
      sum(col("cb")).over(Window.partitionBy(col("s")).orderBy(col("e2"))).cast("long"))
    val ee = col("ct").cast("double") * (col("e2") - col("s") + 1) / col("th")
    val l = Curation.withStats(w, st)
      .filter(col("cw") > ee)
      .select(col("s"), col("e2"), col("cw"), (col("e2") - col("s") + 1).as("len"),
        floor((col("cw") * log(col("cw") / ee) +
          when(col("cw") === col("ct"), lit(0.0))
            .otherwise((col("ct") - col("cw")) *
              log((col("ct") - col("cw")) / (col("ct") - ee)))) * lit(1000000L))
          .cast("long").as("llr_micro"))
    val mx = l.agg(max(col("llr_micro")).as("m"))
    val best = Curation.withStats(l, mx)
      .agg(min(when(col("llr_micro") === col("m"),
        struct(col("s"), col("e2"), col("cw"), col("len")))).as("b"),
        max(col("m")).as("m"))
    Curation.withStats(best, st)
      .select(col("b.s").as("start_h"), col("b.e2").as("end_h"),
        col("b.len").cast("long").as("len_hours"),
        col("b.cw").cast("long").as("c_window"),
        col("ct").as("c_total"), col("th").as("t_hours"),
        col("m").as("llr_micro"))
  }

  /** Partial correlation (#334): does the click↔purchase association
    * survive CONTROLLING for overall browsing volume (views)? The
    * confounder-adjusted companion to #193's raw correlation matrix —
    * users who view more do more of everything, so raw r_xy overstates
    * the direct click→purchase link; the first-order partial
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))
    *
    * is the regression-residual correlation without materializing
    * residuals (Yule 1907). Shape: users collapse to one (x,y,z)
    * count row (one shuffle), then ONE global aggregate of the ten
    * sufficient statistics as exact decimal-lifted integers; all
    * three pairwise r's and the partial are mirrored double closed
    * forms; any degenerate marginal variance or |r·z| = 1 collider
    * → NULL by exact/mirrored predicates.
    */
  val qPartialCorr = GateQuery.sql(
    "q_partial_corr", {
      def da(s: String, q: String) =
        s"CAST(n * $q - CAST($s AS HUGEINT) * $s AS DOUBLE)"
      def num(x: String, sa: String, sb: String) =
        s"CAST(n * $x - CAST($sa AS HUGEINT) * $sb AS DOUBLE)"
      s"""WITH u AS (SELECT user_id,
         |    count(*) FILTER (event_type = 'click') AS cx,
         |    count(*) FILTER (event_type = 'purchase') AS cy,
         |    count(*) FILTER (event_type = 'view') AS cz
         |  FROM $E e GROUP BY user_id),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cx) AS BIGINT) AS sx, CAST(sum(cy) AS BIGINT) AS sy,
         |    CAST(sum(cz) AS BIGINT) AS sz,
         |    CAST(sum(cx * cx) AS HUGEINT) AS qx,
         |    CAST(sum(cy * cy) AS HUGEINT) AS qy,
         |    CAST(sum(cz * cz) AS HUGEINT) AS qz,
         |    CAST(sum(cx * cy) AS HUGEINT) AS xxy,
         |    CAST(sum(cx * cz) AS HUGEINT) AS xxz,
         |    CAST(sum(cy * cz) AS HUGEINT) AS xyz
         |  FROM u),
         |r AS (SELECT n,
         |    CASE WHEN ${da("sx", "qx")} = 0 OR ${da("sy", "qy")} = 0 THEN NULL
         |      ELSE ${num("xxy", "sx", "sy")} / sqrt(${da("sx", "qx")} * ${da("sy", "qy")}) END AS rxy,
         |    CASE WHEN ${da("sx", "qx")} = 0 OR ${da("sz", "qz")} = 0 THEN NULL
         |      ELSE ${num("xxz", "sx", "sz")} / sqrt(${da("sx", "qx")} * ${da("sz", "qz")}) END AS rxz,
         |    CASE WHEN ${da("sy", "qy")} = 0 OR ${da("sz", "qz")} = 0 THEN NULL
         |      ELSE ${num("xyz", "sy", "sz")} / sqrt(${da("sy", "qy")} * ${da("sz", "qz")}) END AS ryz
         |  FROM a)
         |SELECT n AS n_users, round(rxy, 6) + 0.0 AS r_xy,
         |  round(rxz, 6) + 0.0 AS r_xz, round(ryz, 6) + 0.0 AS r_yz,
         |  CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) <= 0.0 THEN NULL
         |    ELSE round((rxy - rxz * ryz)
         |      / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) + 0.0
         |  END AS r_partial
         |FROM r""".stripMargin
    }) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id")).agg(
      count(when(col("event_type") === "click", 1)).as("cx"),
      count(when(col("event_type") === "purchase", 1)).as("cy"),
      count(when(col("event_type") === "view", 1)).as("cz"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val a = u.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(col("cx"))).cast("decimal(38,0)").as("sx"),
      sum(dec(col("cy"))).cast("decimal(38,0)").as("sy"),
      sum(dec(col("cz"))).cast("decimal(38,0)").as("sz"),
      sum(dec(col("cx") * col("cx"))).cast("decimal(38,0)").as("qx"),
      sum(dec(col("cy") * col("cy"))).cast("decimal(38,0)").as("qy"),
      sum(dec(col("cz") * col("cz"))).cast("decimal(38,0)").as("qz"),
      sum(dec(col("cx") * col("cy"))).cast("decimal(38,0)").as("xxy"),
      sum(dec(col("cx") * col("cz"))).cast("decimal(38,0)").as("xxz"),
      sum(dec(col("cy") * col("cz"))).cast("decimal(38,0)").as("xyz"))
    def d2(c: Column) = c.cast("double")
    def varD(sc: Column, qc: Column) = d2(col("n") * qc - sc * sc)
    def r(xc: Column, sa: Column, sb: Column, qa: Column, qb: Column) =
      when(varD(sa, qa) === 0.0 || varD(sb, qb) === 0.0, lit(null).cast("double"))
        .otherwise(d2(col("n") * xc - sa * sb) / sqrt(varD(sa, qa) * varD(sb, qb)))
    val rxy = r(col("xxy"), col("sx"), col("sy"), col("qx"), col("qy"))
    val rxz = r(col("xxz"), col("sx"), col("sz"), col("qx"), col("qz"))
    val ryz = r(col("xyz"), col("sy"), col("sz"), col("qy"), col("qz"))
    a.select(col("n").cast("long").as("n_users"),
      (round(rxy, 6) + lit(0.0)).as("r_xy"),
      (round(rxz, 6) + lit(0.0)).as("r_xz"),
      (round(ryz, 6) + lit(0.0)).as("r_yz"),
      when((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz) <= 0.0,
          lit(null).cast("double"))
        .otherwise(round((rxy - rxz * ryz) /
          sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6) + lit(0.0))
        .as("r_partial"))
  }

  /** Distributed PCA explained variance (#194): one `mapPartitions`
    * pass folds the corpus into partition-local (n, Σx, Σx·xᵀ)
    * accumulators on the quantized integer vectors (exact — the
    * shuffle carries partitions×(d²+d+1) values, never data), the
    * d×d eigenproblem solves in the driver by deterministic cyclic
    * Jacobi ([[graft.operators.Pca]]), and the gate reports the
    * top-8 eigenvalue shares. Hash-checked SQL since r10: the gate
    * input is the EXACT-integer 4→1 rebin of the quantized vector
    * (d = 16), which makes the oracle's bit-identical Jacobi tape
    * replay ([[Pca.jacobiReplaySql]] — 12·120 recursive-CTE steps)
    * tractable; `round_even` mirrors `math.rint` (validated on
    * 2000 random + tie values) and the share/cum folds replay the
    * driver's left-to-right double sums via ordered list_reduce.
    * Full 64-dim component recovery on planted data stays pinned in
    * StatsEdgeSpec.
    */
  /** (n, mean, cov) of the 16-dim rebinned quantized embeddings —
    * the model pass q_pca_var and q_embed_outlier both start from
    * (identical input, identical maxAbs): one exact scatter job per
    * session via [[graft.SharedRelations.cachedValue]] instead of
    * one per gate. Model-sized (16 + 16² doubles). */
  private def pcaScatter16(s: SparkSession, d: String)
      : (Long, Array[Double], Array[Array[Double]]) =
    graft.SharedRelations.cachedValue("pca16", d) {
      import graft.operators.{Pca, VectorOps}
      val e = Tables.embeddings(s, d)
        .select(VectorOps.rebinQ(VectorOps.quantize(col("embedding")), 4, 16).as("q"))
      Pca.scatter(e, col("q"), 16, maxAbs = 4000000L)
    }

  val qPcaVar = GateQuery.sql(
    "q_pca_var", {
      import graft.operators.{Pca, VectorOps}
      s"""WITH RECURSIVE qv AS MATERIALIZED (
         |  SELECT vec_id, label, ${VectorOps.rebinQSql("qq", 4, 16)} AS q
         |  FROM (SELECT vec_id, label, ${VectorOps.quantizeSql("embedding")} AS qq
         |    FROM embeddings) z),
         |${Pca.jacobiReplaySql(16)},
         |tot AS (SELECT list_reduce(evl.evl, (x, y) -> x + y) AS total FROM evl)
         |SELECT CAST(k.k AS BIGINT) AS component, nn.n AS n_vectors,
         |  round_even(evl.evl[CAST(k.k AS INTEGER)] / tot.total * 1000000.0, 0)
         |    / 1000000.0 + 0.0 AS var_share,
         |  round_even(list_reduce(list_slice(evl.evl, 1, CAST(k.k AS INTEGER)),
         |      (x, y) -> x + y) / tot.total * 1000000.0, 0) / 1000000.0 + 0.0 AS cum_share
         |FROM (SELECT unnest(range(1, 9)) AS k) k, nn, evl, tot
         |ORDER BY component""".stripMargin
    }) { (s, d) =>
    import graft.operators.Pca
    // scatter pass shared with q_embed_outlier (identical rebinned
    // input): one corpus pass + driver Jacobi per session, two gates
    val (n, _, cov) = pcaScatter16(s, d)
    val (evals, _) = Pca.jacobiEigen(cov)
    val total = evals.sum
    import s.implicits._
    (1 to 8).map(k =>
        (k.toLong, n, math.rint(evals(k - 1) / total * 1e6) / 1e6,
          math.rint(evals.take(k).sum / total * 1e6) / 1e6))
      .toDF("component", "n_vectors", "var_share", "cum_share")
      .orderedSmall(col("component"))
  }

  /** PCA-residual embedding outlier score (#325): the
    * embedding-space data-quality screen — corrupt/degenerate vectors
    * (zeroed dims, wrong modality, encoder failures) sit FAR from the
    * corpus principal subspace even when their norm looks normal, so
    * the reconstruction residual r² = ‖x−μ‖² − Σ_{j≤p}((x−μ)·vⱼ)²
    * (orthonormal top-p PCA basis) ranks exactly the rows an
    * embedding-based pipeline (SemDeDup #87, ANN #38/#112) should
    * quarantine first. Model = #194's exact scatter pass + driver
    * Jacobi (deterministic, sign-canonicalized); scoring inlines μ
    * and the p×d component matrix as LITERALS (the JL/projectExpr
    * pattern — zero join, zero shuffle, one codegen span);
    * top-20 by (residual, vec_id) through the salted two-phase
    * window. Hash-checked SQL since r10 on the d = 16 rebinned gate
    * input (the q_pca_var recipe): the oracle replays the Jacobi
    * tape, sign-canonicalizes the top-8 rows of V with the same
    * (|component| desc, index) argmax, and re-scores every vector
    * with the driver's left-fold double sums. Subspace-recovery
    * fixture (full 64-dim) stays pinned in StatsEdgeSpec.
    */
  val qEmbedOutlier = GateQuery.sql(
    "q_embed_outlier", {
      import graft.operators.{Pca, VectorOps}
      s"""WITH RECURSIVE qv AS MATERIALIZED (
         |  SELECT vec_id, label, ${VectorOps.rebinQSql("qq", 4, 16)} AS q
         |  FROM (SELECT vec_id, label, ${VectorOps.quantizeSql("embedding")} AS qq
         |    FROM embeddings) z),
         |${Pca.jacobiReplaySql(16)},
         |ev8 AS MATERIALIZED (
         |  SELECT list(vr ORDER BY rk) AS comps FROM (
         |    SELECT o.rk, CASE WHEN fin.v[o.i * 16 + mx.mi + 1] < 0
         |        THEN [-fin.v[o.i * 16 + j + 1] for j in range(0, 16)]
         |        ELSE [fin.v[o.i * 16 + j + 1] for j in range(0, 16)] END AS vr
         |    FROM ord o, fin,
         |    LATERAL (SELECT j.j AS mi FROM (SELECT unnest(range(0, 16)) AS j) j
         |      ORDER BY abs(fin.v[o.i * 16 + j.j + 1]) DESC, j.j LIMIT 1) mx
         |    WHERE o.rk <= 8) z),
         |scored AS MATERIALIZED (
         |  SELECT qv.vec_id, qv.label,
         |    greatest(
         |      list_reduce([(qv.q[i + 1] - mn.m[i + 1]) * (qv.q[i + 1] - mn.m[i + 1])
         |          for i in range(0, 16)], (x, y) -> x + y)
         |      - list_reduce(list_prepend(0.0, [pj * pj for pj in
         |          [list_reduce([(qv.q[i + 1] - mn.m[i + 1]) * cmp[i + 1]
         |             for i in range(0, 16)], (x, y) -> x + y) for cmp in ev8.comps]]),
         |          (x, y) -> x + y),
         |      0.0) AS resid2
         |  FROM qv, mn, ev8)
         |SELECT CAST(row_number() OVER (ORDER BY resid2 DESC, vec_id) AS BIGINT) AS rank,
         |  vec_id, label, CAST(round(resid2, 0) AS BIGINT) AS resid2_u
         |FROM scored ORDER BY resid2 DESC, vec_id LIMIT 20""".stripMargin
    }) { (s, d) =>
    import graft.operators.{Pca, Relational, VectorOps}
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        VectorOps.rebinQ(VectorOps.quantize(col("embedding")), 4, 16).as("q"))
    val dDim = 16
    val p = 8
    // scatter pass shared with q_pca_var (identical rebinned input)
    val (_, mean, cov) = pcaScatter16(s, d)
    val (_, evecs) = Pca.jacobiEigen(cov)
    val proj = Pca.projectExpr(col("q"), mean, evecs.take(p))
    val cent2 = (0 until dDim).map { i =>
      val t = col("q").getItem(i) - lit(mean(i)); t * t
    }.reduce(_ + _)
    val pr2 = aggregate(proj, lit(0.0), (acc, x) => acc + x * x)
    val scored = e.select(col("vec_id"), col("label"),
      greatest(cent2 - pr2, lit(0.0)).as("resid2"))
    Relational.topKPerGroupSalted(scored, Seq(lit(1)),
        Seq(col("resid2").desc, col("vec_id")), 20, col("vec_id"))
      .select(col("rnk").as("rank"), col("vec_id"), col("label"),
        round(col("resid2"), 0).cast("long").as("resid2_u"))
      .orderedSmall(col("rank"))
  }

  /** RANGE-frame trailing window (#195): the event-TIME-bounded
    * trailing sum (how much did this user spend in the hour ending
    * at each event) — a different window machinery from every ROWS
    * frame in the inventory: the frame is [t−3600, t] by VALUE, so
    * peers at the same timestamp share a frame on both engines by
    * the SQL standard. One user-keyed ordered window + aggregate,
    * exact cents.
    */
  val qRangeWindow = GateQuery.sql(
    "q_range_window",
    s"""WITH e AS (SELECT user_id, xs, ${centsSql("vd")} AS c FROM $E t
       |  WHERE event_type IN ('purchase', 'click')),
       |w AS (SELECT user_id, xs,
       |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY xs
       |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail
       |  FROM e),
       |w2 AS (SELECT *, max(trail) OVER (PARTITION BY user_id) AS mx FROM w)
       |SELECT user_id, count(*) AS n_events,
       |  max(trail) AS max_trail_cents,
       |  min(CASE WHEN trail = mx THEN xs END) AS first_peak_xs
       |FROM w2 GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("xs"), Exact.cents(col("vd")).as("c"))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("xs"))
      .rangeBetween(-3600L, 0L)
    val w = e.withColumn("trail", sum(col("c")).over(wr).cast("long"))
      .withColumn("mx", max(col("trail")).over(Window.partitionBy(col("user_id"))))
    w.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("trail")).as("max_trail_cents"),
        min(when(col("trail") === col("mx"), col("xs"))).as("first_peak_xs"))
      .orderedSmall(col("user_id"))
  }

  /** HyperLogLog approximate distinct (#196, rows+test): the SCALE
    * PATH of exact distinct counting (#150's rolling actives shuffle
    * every (day, user) pair; the sketch is one pass, mergeable,
    * bounded memory — the count-distinct a 100 TB audit actually
    * runs first). `approx_count_distinct` is deterministic for fixed
    * data, so StatsEdgeSpec pins the relative-error contract
    * against the exact count.
    */
  val qApproxDistinct = GateQuery.rowsOnly("q_approx_distinct") { (s, d) =>
    ev(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderedSmall(col("event_type"))
  }

  /** Shared closed-form stages of the peak-fit pipeline (#197):
    * strict ±2-neighbor local maxima over each user's hourly series,
    * ±6-point windows attached via the BOUNDED ×13 lag explode +
    * (user, peak-grid) equi-join — never a range join. Returns the
    * window points (user_id, peak_grid, grid, y). */
  private def peakWindows(s: SparkSession, d: String): DataFrame = {
    val g = ev(s, d).filter(col("event_type") === "view")
      .groupBy(col("user_id"), Binning.floorDiv(col("xs"), 3600L).as("grid"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val wo = Window.partitionBy(col("user_id")).orderBy(col("grid"))
    val peaks = g
      .withColumn("l1", lag(col("y"), 1).over(wo))
      .withColumn("l2", lag(col("y"), 2).over(wo))
      .withColumn("r1", lead(col("y"), 1).over(wo))
      .withColumn("r2", lead(col("y"), 2).over(wo))
      .filter(col("l1").isNotNull && col("r1").isNotNull &&
        col("y") > col("l1") && col("y") > col("r1") &&
        (col("l2").isNull || col("y") > col("l2")) &&
        (col("r2").isNull || col("y") > col("r2")))
      .select(col("user_id"), col("grid").as("peak_grid"))
    // bounded ±6 lag explode attaches each point to nearby peaks
    g.withColumn("peak_grid", explode(sequence(col("grid") - 6, col("grid") + 6)))
      .join(peaks, Seq("user_id", "peak_grid"))
  }

  /** The FULL peak-find → Gaussian-fit pipeline (#197): pyspec's
    * canonical interactive workflow (`findpeaks` then `fit`) as one
    * distributed pipeline — [[peakWindows]]' closed-form stages
    * seeding per-(user, peak) Levenberg–Marquardt fits (#10's
    * machinery, one task per group). ScalaTest-pinned (StatsEdgeSpec
    * two-peak recovery); the closed-form stages are SQL-gated by
    * [[qPeakfitPipeline]], so only the LM step itself rides the
    * test pin (the q_gauss_fit rows-gate covers its fit surface).
    */
  def peakfitFitted(s: SparkSession, d: String): DataFrame = {
    import graft.operators.GaussFit
    // composite long key: grids are bounded (hours since epoch base)
    val keyed = peakWindows(s, d).select(
      (col("user_id") * lit(1000000L) + col("peak_grid")).as("fg"),
      col("grid").cast("double").as("x"), col("y").cast("double").as("y"))
    GaussFit.fitGroups(keyed, "fg", "x", "y")
      .select(expr("g div 1000000").as("user_id"),
        pmod(col("g"), lit(1000000L)).as("peak_grid"),
        col("n").as("n_pts"), round(col("com"), 4).as("center"),
        round(col("height"), 2).as("height"),
        round(col("sigma"), 4).as("sigma"), col("converged"))
      .orderedSmall(col("user_id"), col("peak_grid"))
  }

  /** Peak-find pipeline, closed-form stages (#197, SQL-gated r12 —
    * the r11 verdict's one contestable rows-only residue): peak
    * SELECTION (strict ±2 local maxima), the bounded ±6 window
    * attach, and the per-peak MOMENT SEEDS the Levenberg–Marquardt stage
    * starts from — weight total, height, micro-floored center of
    * mass and second central moment — all exact integer arithmetic
    * the DuckDB oracle replays (signed-floor division macros, the
    * ipw/aipw convention). The iterative LM refinement stays outside
    * the SQL gate by nature ([[peakfitFitted]], test-pinned).
    */
  val qPeakfitPipeline = {
    def fd(n: String, dn: String): String =
      s"CAST(((($n) - (((($n) % ($dn)) + ($dn)) % ($dn))) // ($dn)) AS BIGINT)"
    GateQuery.sql(
      "q_peakfit_pipeline",
      s"""WITH g AS (SELECT user_id, xs // 3600 AS grid,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E e WHERE event_type = 'view' GROUP BY 1, 2),
         |p AS (SELECT user_id, grid, y,
         |    lag(y, 1) OVER w AS l1, lag(y, 2) OVER w AS l2,
         |    lead(y, 1) OVER w AS r1, lead(y, 2) OVER w AS r2
         |  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY grid)),
         |pk AS (SELECT user_id, grid AS peak_grid FROM p
         |  WHERE l1 IS NOT NULL AND r1 IS NOT NULL AND y > l1 AND y > r1
         |    AND (l2 IS NULL OR y > l2) AND (r2 IS NULL OR y > r2)),
         |pts AS (SELECT g.user_id, pk.peak_grid, g.grid, g.y
         |  FROM g JOIN pk ON pk.user_id = g.user_id
         |    AND g.grid BETWEEN pk.peak_grid - 6 AND pk.peak_grid + 6),
         |m AS (SELECT user_id, peak_grid, CAST(count(*) AS BIGINT) AS n_pts,
         |    CAST(sum(y) AS BIGINT) AS sum_y, CAST(max(y) AS BIGINT) AS height,
         |    CAST(sum(CAST(grid AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(grid AS HUGEINT) * grid * y) AS HUGEINT) AS sxxy
         |  FROM pts GROUP BY 1, 2)
         |SELECT user_id, peak_grid, n_pts, sum_y, height,
         |  CASE WHEN sum_y <> 0 THEN ${fd("sxy * 1000000", "sum_y")} END AS com_micro,
         |  CASE WHEN sum_y <> 0 THEN
         |    ${fd("(sum_y * sxxy - sxy * sxy) * 1000000",
               "CAST(sum_y AS HUGEINT) * sum_y")} END AS var_micro
         |FROM m ORDER BY user_id, peak_grid""".stripMargin) { (s, d) =>
      def dec(x: Column) = x.cast("decimal(38,0)")
      val m = peakWindows(s, d)
        .groupBy(col("user_id"), col("peak_grid"))
        .agg(count(lit(1)).cast("long").as("n_pts"),
          sum(col("y")).cast("long").as("sum_y"),
          max(col("y")).cast("long").as("height"),
          sum(dec(col("grid")) * col("y")).cast("decimal(38,0)").as("sxy"),
          sum(dec(col("grid")) * col("grid") * col("y")).cast("decimal(38,0)").as("sxxy"))
      m.select(col("user_id"), col("peak_grid"), col("n_pts"), col("sum_y"),
          col("height"),
          when(col("sum_y") =!= 0,
            Exact.floorDivBig(col("sxy") * lit(1000000L), col("sum_y"))
              .cast("long")).as("com_micro"),
          when(col("sum_y") =!= 0,
            Exact.floorDivBig(
              (dec(col("sum_y")) * col("sxxy") - col("sxy") * col("sxy")) * lit(1000000L),
              dec(col("sum_y")) * col("sum_y")).cast("long")).as("var_micro"))
        .orderedSmall(col("user_id"), col("peak_grid"))
    }
  }

  private val SessGapUs = 24L * 3600L * 1000000L // 24 h, in µs

  /** Interval containment join (#198): sessionize each user's
    * non-error activity (24 h gap), then join every 'error' event
    * into the session interval CONTAINING it — the classic "point in
    * interval" join engines mis-plan as a quadratic range join. The
    * scalable shape: sessions EXPLODE to their covered gap-width
    * buckets — consecutive in-session gaps are ≤ the gap by
    * construction, so a session of n events spans ≤ n buckets
    * (fan-out bounded by event count, NOT by wall-clock span) —
    * errors key by their own bucket, and the join is pure
    * (user, bucket) EQUALITY + containment filter; an error's bucket
    * is unique so no dedup pass is needed. One shuffle each side,
    * never a nested loop.
    */
  val qIntervalJoin = GateQuery.sql(
    "q_interval_join",
    s"""WITH v AS (SELECT user_id, ts_us, event_id FROM $E t WHERE event_type <> 'error'),
       |b AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > $SessGapUs
       |    THEN 1 ELSE 0 END AS brk
       |  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |sess AS (SELECT user_id,
       |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id, ts_us
       |  FROM b),
       |si AS (SELECT user_id, session_id, min(ts_us) AS t0, max(ts_us) AS t1,
       |    count(*) AS n_views
       |  FROM sess GROUP BY 1, 2),
       |err AS (SELECT user_id, ts_us, ${centsSql("vd")} AS c FROM $E t
       |  WHERE event_type = 'error'),
       |hit AS (SELECT e.user_id, s.session_id, e.c
       |  FROM err e JOIN si s ON e.user_id = s.user_id
       |    AND e.ts_us >= s.t0 AND e.ts_us <= s.t1)
       |SELECT user_id, count(DISTINCT session_id) AS n_err_sessions,
       |  count(*) AS n_errors_in, CAST(sum(c) AS BIGINT) AS err_cents
       |FROM hit GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    import graft.operators.Sessionize
    val v = ev(s, d).filter(col("event_type") =!= "error")
    val si = Sessionize.batch(v, col("user_id"), col("ts_us"), col("event_id"),
        lit(0L), SessGapUs)
      .select(col("k").as("user_id"), col("session_id"),
        col("t_start").as("t0"), col("t_end").as("t1"))
    val sessBuckets = si.withColumn("bkt",
      explode(sequence(Binning.floorDivCol(col("t0"), lit(SessGapUs)),
        Binning.floorDivCol(col("t1"), lit(SessGapUs)))))
    val err = ev(s, d).filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us"), Exact.cents(col("vd")).as("c"),
        Binning.floorDivCol(col("ts_us"), lit(SessGapUs)).as("bkt"))
    val hit = err.join(sessBuckets, Seq("user_id", "bkt"))
      .filter(col("ts_us") >= col("t0") && col("ts_us") <= col("t1"))
    hit.groupBy(col("user_id"))
      .agg(countDistinct(col("session_id")).as("n_err_sessions"),
        count(lit(1)).as("n_errors_in"),
        Exact.sumUnits(col("c")).cast("long").as("err_cents"))
      .orderedSmall(col("user_id"))
  }

  /** Per-document TF-IDF top terms (#199): the keyword-extraction
    * primitive (BM25's per-doc cousin) — tf from one (doc, word)
    * aggregate, idf = microLn(n_docs / df) joined by word, top-3
    * terms per doc by ONE rank window with (score, word) tie pin.
    * The n_docs scalar rides a 1-row broadcast; every relation is
    * word- or doc-keyed — nothing quadratic.
    */
  val qTfidfTerms = GateQuery.sql(
    "q_tfidf_terms",
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT tf.doc_id, tf.word,
       |    tf.tf * ${Curation.microLnSql("CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df")}
       |      AS score
       |  FROM tf JOIN df USING (word)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, word) AS rank FROM sc)
       |SELECT doc_id, rank, word, CAST(score AS BIGINT) AS tfidf_micro
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
    val tf = t.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val sc = tf.join(df, "word")
      .join(broadcast(n))
      .select(col("doc_id"), col("word"),
        (col("tf") * Curation.microLn(col("n_docs").cast("double") / col("df")))
          .as("score"))
    val wr = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("word"))
    sc.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"),
        col("score").cast("long").as("tfidf_micro"))
      .orderedSmall(col("doc_id"), col("rank"))
  }

  /** Shingle novelty scoring (#200): what fraction of each document's
    * 3-gram shingles appear for the FIRST time in the corpus (by
    * doc_id order) — the dedup-aware data-valuation signal (a doc
    * whose shingles all occurred before adds nothing even if no
    * single prior doc matches it). First-occurrence attribution is
    * one min(doc_id) aggregate over the same shingle relation as the
    * Jaccard family, joined back by (shingle, doc) — shingle-keyed
    * throughout, never pairwise.
    */
  val qNovelty = GateQuery.sql(
    "q_novelty",
    s"""WITH ${TextQueries.ShinglesSql},
       |fo AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h),
       |j AS (SELECT sh.doc_id, count(*) AS n_shingles,
       |    CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_novel
       |  FROM sh JOIN fo USING (h) GROUP BY 1)
       |SELECT doc_id, n_shingles, n_novel,
       |  (n_novel * 1000000 // n_shingles) AS novelty_ppm
       |FROM j ORDER BY doc_id""".stripMargin) { (s, d) =>
    // native portable-md5 kernel — value-identical to the
    // TextOps.shingles HOF whose interpreted md5/conv lambda chain
    // dominated this gate's scan
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.expressions.TextExpressions.shingleKeys(col("text"), 3)).as("h"))
    // first-holder via ONE shingle-keyed window (not agg + join-back):
    // the shingle relation is scanned once and shuffled once, then
    // reduces doc-keyed — two shuffles total where the join shape
    // paid three and computed the explode twice
    val withFirst = sh.withColumn("first_doc",
      min(col("doc_id")).over(Window.partitionBy(col("h"))))
    withFirst
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        Exact.sumUnits(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .cast("long").as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        Binning.floorDivCol(col("n_novel") * lit(1000000L), col("n_shingles"))
          .as("novelty_ppm"))
      .orderedSmall(col("doc_id"))
  }

  /** Time-weighted average (#201): each reading holds until the next
    * one, so its weight is the µs until the user's next event
    * (last reading of a day weights to the day boundary) — the TWAP
    * of monitoring/finance, where a plain mean over-counts bursts.
    * One lead window + one (user, day) aggregate; weights and
    * weighted sums are exact integers; the average leaves as one
    * HALF_UP ratio.
    */
  val qTwap = GateQuery.sql(
    "q_twap",
    s"""WITH e AS (SELECT user_id, xs, event_id, ${centsSql("vd")} AS c
       |  FROM $E t WHERE event_type = 'view'),
       |l AS (SELECT *, xs // 86400 AS day,
       |    lead(xs) OVER (PARTITION BY user_id ORDER BY xs, event_id) AS nxt
       |  FROM e),
       |w AS (SELECT user_id, day, c,
       |    least(coalesce(nxt, (day + 1) * 86400), (day + 1) * 86400) - xs AS wt
       |  FROM l),
       |a AS (SELECT user_id, day, count(*) AS n_readings,
       |    CAST(sum(wt) AS BIGINT) AS held_sec,
       |    CAST(sum(wt * c) AS HUGEINT) AS swc
       |  FROM w WHERE wt > 0 GROUP BY 1, 2)
       |SELECT user_id, day, n_readings, held_sec,
       |  CAST(${Exact.floorDivBigSql("2 * swc + CAST(held_sec AS HUGEINT)", "2 * CAST(held_sec AS HUGEINT)")} AS BIGINT)
       |    AS twap_cents
       |FROM a ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("xs"), col("event_id"), Exact.cents(col("vd")).as("c"))
    val wo = Window.partitionBy(col("user_id")).orderBy(col("xs"), col("event_id"))
    val l = e
      .withColumn("day", Binning.floorDiv(col("xs"), 86400L))
      .withColumn("nxt", lead(col("xs"), 1).over(wo))
    val w = l.select(col("user_id"), col("day"), col("c"),
      (least(coalesce(col("nxt"), (col("day") + 1) * 86400L),
        (col("day") + 1) * 86400L) - col("xs")).as("wt"))
    w.filter(col("wt") > 0)
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_readings"),
        Exact.sumUnits(col("wt")).cast("long").as("held_sec"),
        sum((col("wt") * col("c")).cast("decimal(38,0)")).cast("decimal(38,0)").as("swc"))
      .select(col("user_id"), col("day"), col("n_readings"), col("held_sec"),
        Exact.floorDivBig(lit(2L) * col("swc") + col("held_sec").cast("decimal(38,0)"),
          lit(2L) * col("held_sec").cast("decimal(38,0)")).cast("long").as("twap_cents"))
      .orderedSmall(col("user_id"), col("day"))
  }

  /** OHLC bars (#202): open/high/low/close of each user-day's 'view'
    * readings — the canonical time-series downsampling (candlestick
    * bars; a beamline uses the same shape for per-scan first/last
    * monitor readings). Open/close are argmin/argmax BY TIME with
    * event_id tie pins carried through a (xs, event_id, c) struct
    * min/max — ONE aggregate, no window, no self-join.
    */
  val qOhlc = GateQuery.sql(
    "q_ohlc",
    s"""WITH e AS (SELECT user_id, xs, event_id, ${centsSql("vd")} AS c
       |  FROM $E t WHERE event_type = 'view')
       |SELECT user_id, xs // 86400 AS day, count(*) AS n,
       |  min((xs, event_id, c))[3] AS open_cents,
       |  max(c) AS high_cents, min(c) AS low_cents,
       |  max((xs, event_id, c))[3] AS close_cents
       |FROM e GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("xs"), col("event_id"), Exact.cents(col("vd")).as("c"))
    e.groupBy(col("user_id"), Binning.floorDiv(col("xs"), 86400L).as("day"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("xs"), col("event_id"), col("c"))).getField("c").as("open_cents"),
        max(col("c")).as("high_cents"), min(col("c")).as("low_cents"),
        max(struct(col("xs"), col("event_id"), col("c"))).getField("c").as("close_cents"))
      .orderedSmall(col("user_id"), col("day"))
  }

  /** Efraimidis–Spirakis weighted sampling (#203): a deterministic
    * weighted sample WITHOUT replacement — each row's key is ln(u)/w
    * (u a portable md5 draw, w its integer weight) and the top-k
    * keys per stratum are the sample (Efraimidis & Spirakis 2006).
    * Stateless per-row scoring + one rank window: reruns, backfills
    * and engines agree row-for-row, and inclusion probability tracks
    * weight (pinned in StatsEdgeSpec). The pipeline use:
    * value-weighted corpus subsampling where plain Bernoulli
    * sampling under-covers heavy documents. Hash-checked SQL since
    * r10: the md5 draw, the ln-key and the rank window all mirror
    * textually (the q_dsir_weights ln-parity precedent).
    */
  val qWeightedSample = GateQuery.sql(
    "q_weighted_sample", {
      val draw = "CAST(concat('0x', substr(md5('es:' || CAST(event_id AS VARCHAR)), 1, 5)) AS BIGINT)"
      s"""WITH e AS (SELECT user_id, event_id, ${centsSql("vd")} AS w
         |  FROM $E t WHERE event_type = 'purchase'),
         |sc AS (SELECT user_id % 4 AS stratum, event_id, w,
         |    ln(CAST($draw + 1 AS DOUBLE) / 1048576.0) / CAST(w AS DOUBLE) AS k
         |  FROM e WHERE w > 0),
         |rk AS (SELECT stratum, w, row_number() OVER (PARTITION BY stratum
         |    ORDER BY k DESC, event_id) AS rn FROM sc)
         |SELECT stratum, CAST(count(*) AS BIGINT) AS n_sampled,
         |  CAST(sum(w) AS BIGINT) AS sampled_cents
         |FROM rk WHERE rn <= 50 GROUP BY stratum ORDER BY stratum""".stripMargin
    }) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), Exact.cents(col("vd")).as("w"))
    val sampled = graft.operators.Sampling.weightedSample(
      e, col("event_id"), col("w"), Seq(pmod(col("user_id"), lit(4L)).as("stratum")), k = 50)
    sampled.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_sampled"),
        Exact.sumUnits(col("w")).cast("long").as("sampled_cents"))
      .orderedSmall(col("stratum"))
  }

  /** Two-sample Kolmogorov–Smirnov test (#206): the distribution-
    * shape drift test that #169's Wasserstein distance and #179's
    * t-test both miss (W1 integrates, t compares means; KS catches a
    * localized CDF gap). EXACT: over the VALUE-COLLAPSED merged
    * grid, the statistic is max |cum₁·n₂ − cum₂·n₁| in integers
    * (cross-scaled CDFs — no division until the final ppm), with the
    * smallest gap location as tie pin. Windows see distinct values
    * only, never raw rows.
    */
  val qKsTest = GateQuery.sql(
    "q_ks_test",
    s"""WITH e AS (SELECT ${centsSql("vd")} AS v,
       |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
       |  FROM $E t WHERE event_type IN ('click', 'view')),
       |g AS (SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
       |    CAST(sum(1 - is1) AS BIGINT) AS c2
       |  FROM e GROUP BY v),
       |c AS (SELECT v,
       |    CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
       |    CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
       |  FROM g),
       |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g),
       |gap AS (SELECT v, abs(cum1 * (SELECT n2 FROM n) - cum2 * (SELECT n1 FROM n)) AS gp
       |  FROM c),
       |mx AS (SELECT max(gp) AS mg FROM gap)
       |SELECT (SELECT n1 FROM n) AS n1, (SELECT n2 FROM n) AS n2,
       |  CAST(${Exact.floorDivBigSql(
             "(SELECT mg FROM mx) * 1000000",
             "CAST((SELECT n1 FROM n) AS HUGEINT) * (SELECT n2 FROM n)")} AS BIGINT)
       |    AS ks_ppm,
       |  (SELECT min(v) FROM gap WHERE gp = (SELECT mg FROM mx)) AS at_cents""".stripMargin) {
    (s, d) =>
    val e = ev(s, d).filter(col("event_type").isin("click", "view"))
      .select(Exact.cents(col("vd")).as("v"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is1"))
    val g = e.groupBy(col("v"))
      .agg(Exact.sumUnits(col("is1")).cast("long").as("c1"),
        Exact.sumUnits(lit(1L) - col("is1")).cast("long").as("c2"))
    val wAsc = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g
      .withColumn("cum1", sum(col("c1")).over(wAsc).cast("long"))
      .withColumn("cum2", sum(col("c2")).over(wAsc).cast("long"))
    val n = g.agg(Exact.sumUnits(col("c1")).cast("long").as("n1"),
      Exact.sumUnits(col("c2")).cast("long").as("n2"))
    val gap = c.join(broadcast(n))
      .withColumn("gp", abs(col("cum1").cast("decimal(38,0)") * col("n2") -
        col("cum2").cast("decimal(38,0)") * col("n1")).cast("decimal(38,0)"))
    val withMax = gap.withColumn("mg", max(col("gp")).over(Window.partitionBy()))
    withMax.agg(
        first(col("n1")).as("n1"), first(col("n2")).as("n2"),
        first(col("mg")).as("mg"),
        min(when(col("gp") === col("mg"), col("v"))).as("at_cents"))
      .select(col("n1"), col("n2"),
        Exact.floorDivBig(col("mg") * lit(1000000L),
          col("n1").cast("decimal(38,0)") * col("n2")).cast("long").as("ks_ppm"),
        col("at_cents"))
  }

  /** Two-sample Cramér–von Mises criterion (#314): the INTEGRATED
    * EDF-gap companion to KS (#206, sup-gap) and W1 (#169, mass
    * transport) — T = (n₁n₂/N²)·Σ_pooled (F₁−F₂)² weights every
    * pooled observation's squared CDF gap (Anderson 1962), so many
    * small distributed gaps register where KS's single sup misses
    * them. EXACT end to end on the same value-collapsed grid as
    * #206: per distinct value the cross-scaled gap d = cum₁·n₂ −
    * cum₂·n₁ (= n₁n₂·(F₁−F₂)) is an integer, each pooled-count-
    * weighted d² accumulates exactly, and T = Σ c·d²/(n₁n₂N²)
    * leaves as ONE micro floor division. Ties handled by
    * construction (the pooled weight at a tied value is its c).
    */
  val qCvm = GateQuery.sql(
    "q_cvm",
    s"""WITH e AS (SELECT ${centsSql("vd")} AS v,
       |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
       |  FROM $E t WHERE event_type IN ('click', 'view')),
       |g AS (SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
       |    CAST(sum(1 - is1) AS BIGINT) AS c2
       |  FROM e GROUP BY v),
       |c AS (SELECT v, c1 + c2 AS c,
       |    CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
       |    CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
       |  FROM g),
       |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g),
       |s AS (SELECT CAST(sum(CAST(c AS HUGEINT) *
       |      (cum1 * CAST((SELECT n2 FROM n) AS HUGEINT) - cum2 * (SELECT n1 FROM n))
       |      * (cum1 * CAST((SELECT n2 FROM n) AS HUGEINT) - cum2 * (SELECT n1 FROM n)))
       |    AS HUGEINT) AS sd2 FROM c)
       |SELECT (SELECT n1 FROM n) AS n1, (SELECT n2 FROM n) AS n2,
       |  CASE WHEN (SELECT n1 FROM n) > 0 AND (SELECT n2 FROM n) > 0 THEN
       |    CAST(((SELECT sd2 FROM s) * 1000000)
       |      // (CAST((SELECT n1 FROM n) AS HUGEINT) * (SELECT n2 FROM n)
       |        * ((SELECT n1 FROM n) + (SELECT n2 FROM n))
       |        * ((SELECT n1 FROM n) + (SELECT n2 FROM n))) AS BIGINT)
       |  END AS t_micro""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type").isin("click", "view"))
      .select(Exact.cents(col("vd")).as("v"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is1"))
    val g = e.groupBy(col("v"))
      .agg(Exact.sumUnits(col("is1")).cast("long").as("c1"),
        Exact.sumUnits(lit(1L) - col("is1")).cast("long").as("c2"))
    val wAsc = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g
      .withColumn("c", col("c1") + col("c2"))
      .withColumn("cum1", sum(col("c1")).over(wAsc).cast("long"))
      .withColumn("cum2", sum(col("c2")).over(wAsc).cast("long"))
    val n = g.agg(Exact.sumUnits(col("c1")).cast("long").as("n1"),
      Exact.sumUnits(col("c2")).cast("long").as("n2"))
    val dGap = col("cum1").cast("decimal(38,0)") * col("n2") -
      col("cum2").cast("decimal(38,0)") * col("n1")
    val sd2 = c.join(broadcast(n))
      .select(col("n1"), col("n2"),
        (col("c").cast("decimal(38,0)") * dGap * dGap).as("wd2"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("wd2")).cast("decimal(38,0)").as("sd2"))
    val nn = (col("n1") + col("n2")).cast("decimal(38,0)")
    sd2.select(col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0,
          Exact.floorDivBig(col("sd2") * lit(1000000L),
            col("n1").cast("decimal(38,0)") * col("n2") * nn * nn).cast("long"))
          .otherwise(lit(null).cast("long")).as("t_micro"))
  }

  /** Friedman test (#315): the within-BLOCK rank test the k-sample
    * family still lacked — users are blocks, the five event types
    * are treatments, and each complete block (user with all k types,
    * exact HAVING predicate) ranks its OWN per-type spend totals, so
    * between-user spend scale cancels entirely (what #311's pooled
    * ranks cannot do; Friedman 1937). Midranks in doubled units come
    * from a BOUNDED k×k within-block self-join (midrank2 =
    * 2·#less + #equal + 1, self included — never a window over
    * rows); with R2ⱼ the per-type doubled rank sums, A2 = Σ r2²,
    * the tie-general statistic clears all denominators to ONE
    * exact integer ratio:
    *   χ² = (k−1)·(ΣR2ⱼ² − b²k(k+1)²) / (A2 − b·k(k+1)²),
    * numerator nonnegative by Cauchy–Schwarz (doubled rank sums per
    * block are constant = k(k+1)), denominator zero only when every
    * block is fully tied → NULL by exact predicate. Output in exact
    * micro units.
    *
    * Derivation of the doubled-unit form (r8 advisory fix — the
    * committed r7 statistic divided by an extra b): the tie-general
    * statistic in ordinary ranks is
    *   χ² = (k−1)·(ΣRⱼ² − b²k(k+1)²/4) / (A1 − b·k(k+1)²/4)
    * with A1 = Σ rᵢⱼ². Substituting R2ⱼ = 2Rⱼ, A2 = 4·A1 multiplies
    * numerator and denominator by the SAME factor 4, so
    *   χ² = (k−1)·(ΣR2ⱼ² − b²k(k+1)²) / (A2 − b·k(k+1)²)
    * — no b in the denominator. Sanity: no ties ⇒ A1 =
    * b·k(k+1)(2k+1)/6 ⇒ χ² = 12ΣRⱼ²/(bk(k+1)) − 3b(k+1) (the classic
    * form), and perfect consistency gives χ² = b(k−1) — pinned by the
    * hand-computed fixture in StatsEdgeSpec.
    */
  val qFriedman = GateQuery.sql(
    "q_friedman", {
      val k = 5
      s"""WITH u AS (SELECT user_id, event_type,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E t GROUP BY 1, 2),
         |cb AS (SELECT user_id FROM u GROUP BY user_id HAVING count(*) = $k),
         |ub AS (SELECT u.user_id, u.event_type, u.y FROM u JOIN cb USING (user_id)),
         |r AS (SELECT a.user_id, a.event_type,
         |    CAST(sum(CASE WHEN b.y < a.y THEN 2 WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
         |      AS BIGINT) AS r2
         |  FROM ub a JOIN ub b ON a.user_id = b.user_id
         |  GROUP BY a.user_id, a.event_type, a.y),
         |tj AS (SELECT event_type, CAST(sum(r2) AS HUGEINT) AS rj,
         |    CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS aj,
         |    CAST(count(*) AS BIGINT) AS b
         |  FROM r GROUP BY 1),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS k, any_value(b) AS b,
         |    CAST(sum(rj * rj) AS HUGEINT) AS srj2,
         |    CAST(sum(aj) AS HUGEINT) AS a2
         |  FROM tj)
         |SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
         |  CAST(k - 1 AS BIGINT) AS dof,
         |  CASE WHEN b > 0 AND a2 > CAST(b AS HUGEINT) * k * (k + 1) * (k + 1) THEN
         |    CAST(((k - 1) * (srj2 - CAST(b AS HUGEINT) * b * k * (k + 1) * (k + 1))
         |      * 1000000)
         |      // (a2 - CAST(b AS HUGEINT) * k * (k + 1) * (k + 1))
         |      AS BIGINT)
         |  END AS chi2_micro
         |FROM a""".stripMargin
    }) { (s, d) =>
    val k = 5
    val u = ev(s, d).groupBy(col("user_id"), col("event_type"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val cb = u.groupBy(col("user_id")).agg(count(lit(1)).as("_k"))
      .filter(col("_k") === k).select(col("user_id"))
    val ub = u.join(cb, Seq("user_id"), "left_semi")
    val bSide = ub.select(col("user_id"), col("y").as("yb"))
    val r = ub.join(bSide, Seq("user_id"))
      .groupBy(col("user_id"), col("event_type"), col("y"))
      .agg((sum(when(col("yb") < col("y"), 2L).when(col("yb") === col("y"), 1L)
        .otherwise(0L)) + 1L).cast("long").as("r2"))
    val tj = r.groupBy(col("event_type")).agg(
      sum(col("r2")).cast("decimal(38,0)").as("rj"),
      sum(col("r2").cast("decimal(38,0)") * col("r2")).cast("decimal(38,0)").as("aj"),
      count(lit(1)).cast("long").as("b"))
    val a = tj.agg(
      count(lit(1)).cast("long").as("k"),
      first(col("b")).as("b"),
      sum(col("rj") * col("rj")).cast("decimal(38,0)").as("srj2"),
      sum(col("aj")).cast("decimal(38,0)").as("a2"))
    val bd = col("b").cast("decimal(38,0)")
    val kk1 = col("k") * (col("k") + 1) * (col("k") + 1)
    a.select(col("b").cast("long").as("n_blocks"), col("k").as("k_treatments"),
        (col("k") - 1).cast("long").as("dof"),
        when(col("b") > 0 && col("a2") > bd * kk1,
          Exact.floorDivBig(
            (col("k") - 1) * (col("srj2") - bd * col("b") * kk1) * lit(1000000L),
            col("a2") - bd * kk1).cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"))
  }

  /** Nemenyi post-hoc pairwise comparisons (#413, Nemenyi 1963;
    * Demšar 2006): WHICH event types differ, once Friedman (#—the
    * omnibus) rejects — every pair's mean-rank gap against the
    * critical difference CD = q₀.₀₅(k)·√(k(k+1)/(6b)), the standard
    * "compare k models over b datasets" machinery of ML evaluation
    * (Demšar's CD diagram). Reuses the Friedman doubled-midrank
    * block relation verbatim; mean ranks are exact milli floors of
    * doubled rank sums; the CD and the significance flag come from
    * ONE mirrored double expression (q = 2.728 for k = 5, Demšar's
    * two-tailed table); the pair product is k²-bounded.
    */
  val qNemenyi = GateQuery.sql(
    "q_nemenyi",
    s"""WITH u AS (SELECT user_id, event_type,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E t GROUP BY 1, 2),
       |cb AS (SELECT user_id FROM u GROUP BY user_id HAVING count(*) = 5),
       |ub AS (SELECT u.user_id, u.event_type, u.y FROM u JOIN cb USING (user_id)),
       |r AS (SELECT a.user_id, a.event_type,
       |    CAST(sum(CASE WHEN b.y < a.y THEN 2 WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
       |      AS BIGINT) AS r2
       |  FROM ub a JOIN ub b ON a.user_id = b.user_id
       |  GROUP BY a.user_id, a.event_type, a.y),
       |tj AS (SELECT event_type, CAST(sum(r2) AS HUGEINT) AS rj,
       |    CAST(count(*) AS BIGINT) AS b
       |  FROM r GROUP BY 1),
       |pr AS (SELECT x.event_type AS t_a, y.event_type AS t_b,
       |    x.rj AS ra, y.rj AS rb, x.b AS b
       |  FROM tj x JOIN tj y ON x.event_type < y.event_type)
       |SELECT t_a, t_b, CAST(b AS BIGINT) AS n_blocks,
       |  CAST((ra * 1000) // (2 * b) AS BIGINT) AS mean_rank_a_milli,
       |  CAST((rb * 1000) // (2 * b) AS BIGINT) AS mean_rank_b_milli,
       |  round(abs(CAST(ra - rb AS DOUBLE)) / (2.0 * b), 4) + 0.0 AS rank_diff,
       |  round(2.728 * sqrt(5.0 * 6.0 / (6.0 * b)), 4) + 0.0 AS cd,
       |  abs(CAST(ra - rb AS DOUBLE)) / (2.0 * b)
       |    > 2.728 * sqrt(5.0 * 6.0 / (6.0 * b)) AS significant
       |FROM pr ORDER BY t_a, t_b""".stripMargin) { (s, d) =>
    val k = 5
    val u = ev(s, d).groupBy(col("user_id"), col("event_type"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val cb = u.groupBy(col("user_id")).agg(count(lit(1)).as("_k"))
      .filter(col("_k") === k).select(col("user_id"))
    val ub = u.join(cb, Seq("user_id"), "left_semi")
    val bSide = ub.select(col("user_id"), col("y").as("yb"))
    val r = ub.join(bSide, Seq("user_id"))
      .groupBy(col("user_id"), col("event_type"), col("y"))
      .agg((sum(when(col("yb") < col("y"), 2L).when(col("yb") === col("y"), 1L)
        .otherwise(0L)) + 1L).cast("long").as("r2"))
    val tj = r.groupBy(col("event_type")).agg(
      sum(col("r2")).cast("decimal(38,0)").as("rj"),
      count(lit(1)).cast("long").as("b"))
    val x = tj.select(col("event_type").as("t_a"), col("rj").as("ra"), col("b"))
    val y = tj.select(col("event_type").as("t_b"), col("rj").as("rb"))
    val pr = x.crossJoin(broadcast(y)).filter(col("t_a") < col("t_b"))
    val bD = col("b").cast("double")
    val diff = abs((col("ra") - col("rb")).cast("double")) / (lit(2.0) * bD)
    val cd = lit(2.728) * sqrt(lit(5.0) * lit(6.0) / (lit(6.0) * bD))
    pr.select(col("t_a"), col("t_b"), col("b").as("n_blocks"),
        Exact.floorDivBig(col("ra") * lit(1000L),
          lit(2L) * col("b").cast("decimal(38,0)")).cast("long")
          .as("mean_rank_a_milli"),
        Exact.floorDivBig(col("rb") * lit(1000L),
          lit(2L) * col("b").cast("decimal(38,0)")).cast("long")
          .as("mean_rank_b_milli"),
        (round(diff, 4) + lit(0.0)).as("rank_diff"),
        (round(cd, 4) + lit(0.0)).as("cd"),
        (diff > cd).as("significant"))
      .orderedSmall(col("t_a"), col("t_b"))
  }

  /** Page's L trend test (#354): the ORDERED-alternative Friedman
    * (#315) — do per-user spends trend monotonically across the four
    * day-part bands? (Page 1963; the within-block counterpart of
    * Cochran–Armitage #333, which orders proportions — L orders
    * ranked magnitudes, so between-user scale cancels.) L = Σⱼ j·Rⱼ
    * over band rank sums; blocks = users with spend in ALL four
    * bands (exact HAVING predicate), ranks are the #315 doubled
    * midranks from the BOUNDED k×k within-block self-join (ties →
    * midranks in L; the z uses the classic permutation variance
    * b·k²(k+1)²(k−1)/144, quoted in doubled units). L and E[L] stay
    * exact integers; z is the single mirrored double.
    */
  val qPageTrend = GateQuery.sql(
    "q_page_trend",
    s"""WITH u AS (SELECT user_id, ((xs // 3600) % 24) // 6 AS band,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E t GROUP BY 1, 2),
       |cb AS (SELECT user_id FROM u GROUP BY user_id HAVING count(*) = 4),
       |ub AS (SELECT u.user_id, u.band, u.y FROM u JOIN cb USING (user_id)),
       |r AS (SELECT a.user_id, a.band,
       |    CAST(sum(CASE WHEN b.y < a.y THEN 2 WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
       |      AS BIGINT) AS r2
       |  FROM ub a JOIN ub b ON a.user_id = b.user_id
       |  GROUP BY a.user_id, a.band, a.y),
       |tj AS (SELECT band, CAST(sum(r2) AS BIGINT) AS rj,
       |    CAST(count(*) AS BIGINT) AS b
       |  FROM r GROUP BY 1),
       |a AS (SELECT any_value(b) AS b,
       |    CAST(sum((band + 1) * rj) AS BIGINT) AS l2
       |  FROM tj)
       |SELECT b AS n_blocks, l2 AS l_doubled, 50 * b AS e_doubled,
       |  CASE WHEN b > 0 THEN
       |    round((l2 - 50.0 * b) / sqrt(CAST(b AS DOUBLE) * 1200.0 / 36.0), 4) + 0.0
       |  END AS z_trend
       |FROM a""".stripMargin) { (s, d) =>
    val u = ev(s, d)
      .groupBy(col("user_id"),
        Binning.floorDiv(pmod(Binning.floorDiv(col("xs"), 3600L), lit(24L)), 6L).as("band"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val cb = u.groupBy(col("user_id")).agg(count(lit(1)).as("_k"))
      .filter(col("_k") === 4).select(col("user_id"))
    val ub = u.join(cb, Seq("user_id"), "left_semi")
    val bSide = ub.select(col("user_id"), col("y").as("yb"))
    val r = ub.join(bSide, Seq("user_id"))
      .groupBy(col("user_id"), col("band"), col("y"))
      .agg((sum(when(col("yb") < col("y"), 2L).when(col("yb") === col("y"), 1L)
        .otherwise(0L)) + 1L).cast("long").as("r2"))
    val tj = r.groupBy(col("band")).agg(
      sum(col("r2")).cast("long").as("rj"), count(lit(1)).cast("long").as("b"))
    val a = tj.agg(first(col("b")).as("b"),
      sum((col("band") + 1) * col("rj")).cast("long").as("l2"))
    a.select(col("b").as("n_blocks"), col("l2").as("l_doubled"),
      (lit(50L) * col("b")).as("e_doubled"),
      when(col("b") > 0,
        round((col("l2") - lit(50.0) * col("b")) /
          sqrt(col("b").cast("double") * lit(1200.0) / lit(36.0)), 4) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("z_trend"))
  }

  /** Kupiec proportion-of-failures backtest (#360): does the
    * 95%-VaR threshold estimated on the FIRST half of the daily
    * spend series actually get exceeded ~5% of the time in the
    * SECOND half? (Kupiec 1995 — the standard risk-model validation;
    * on monitoring counters it answers "is my alert threshold
    * calibrated".) Honest out-of-sample: the corpus midpoint and the
    * in-sample exact rank-percentile ride 1-row broadcasts; the
    * exception count is one conditional aggregate; the LR statistic
    * 2[x·ln(x/N)+(N−x)·ln(1−x/N)−x·ln p−(N−x)·ln(1−p)] is one
    * mirrored double closed form with its x=0 / x=N degenerate terms
    * zeroed by exact predicates on both engines.
    *
    * Wall-clock note (r12): ~0.8 s at the sf0.1 bench point vs
    * DuckDB's ~0.3 s is SCHEDULING FLOOR, not compute — the
    * split/threshold/backtest sequence is three dependent scalar
    * stages (midpoint, in-sample rank quantile, exception count),
    * each a separate Spark job billing the ~0.1-0.2 s local job
    * floor that an in-process engine doesn't pay. No per-row work
    * scales past the daily-grid collapse; the shape is
    * corpus-size-independent after the first aggregate.
    */
  val qKupiecPof = GateQuery.sql(
    "q_kupiec_pof",
    s"""WITH dly AS (SELECT xs // 86400 AS day,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS tot
       |  FROM $E e GROUP BY 1),
       |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM dly),
       |ins AS (SELECT tot,
       |    CAST(row_number() OVER (ORDER BY tot, day) AS BIGINT) AS rk,
       |    CAST(count(*) OVER () AS BIGINT) AS n1
       |  FROM dly, mid WHERE day < m),
       |v AS (SELECT any_value(tot) FILTER (rk = (n1 * 95 + 99) // 100) AS var_cents
       |  FROM ins),
       |oos AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN tot > var_cents THEN 1 ELSE 0 END) AS BIGINT) AS x
       |  FROM dly, mid, v WHERE day >= m)
       |SELECT var_cents, n AS n_days_oos, x AS n_exceptions,
       |  (x * 1000000) // n AS exception_rate_ppm,
       |  CASE WHEN n = 0 THEN NULL ELSE
       |    round(2.0 * ((CASE WHEN x = 0 THEN 0.0
       |        ELSE x * ln(CAST(x AS DOUBLE) / n) END)
       |      + (CASE WHEN x = n THEN 0.0
       |        ELSE (n - x) * ln(1.0 - CAST(x AS DOUBLE) / n) END)
       |      - x * ln(0.05) - (n - x) * ln(0.95)), 4) + 0.0
       |  END AS lr_pof
       |FROM oos, v""".stripMargin) { (s, d) =>
    val dly = ev(s, d).groupBy(Binning.floorDiv(col("xs"), 86400L).as("day"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("tot"))
    val mid = dly.agg(
      Binning.floorDivCol(min(col("day")) + max(col("day")) + 1, lit(2L)).as("m"))
    val ins = Curation.withStats(dly, mid).filter(col("day") < col("m"))
      .withColumn("rk", row_number().over(Window.orderBy(col("tot"), col("day")))
        .cast("long"))
      .withColumn("n1", count(lit(1)).over(Window.partitionBy()).cast("long"))
    val v = ins.agg(first(when(col("rk") ===
        Binning.floorDivCol(col("n1") * 95 + 99, lit(100L)), col("tot")),
      ignoreNulls = true).as("var_cents"))
    val oos = Curation.withStats(Curation.withStats(dly, mid), v)
      .filter(col("day") >= col("m"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("tot") > col("var_cents"), 1L).otherwise(0L)).cast("long").as("x"),
        first(col("var_cents")).as("var_cents"))
    val rate = col("x").cast("double") / col("n")
    oos.select(col("var_cents"), col("n").as("n_days_oos"), col("x").as("n_exceptions"),
      Binning.floorDivCol(col("x") * lit(1000000L), col("n")).as("exception_rate_ppm"),
      when(col("n") === 0, lit(null).cast("double"))
        .otherwise(round(lit(2.0) * (
          when(col("x") === 0, lit(0.0)).otherwise(col("x") * log(rate)) +
          when(col("x") === col("n"), lit(0.0))
            .otherwise((col("n") - col("x")) * log(lit(1.0) - rate)) -
          col("x") * log(lit(0.05)) - (col("n") - col("x")) * log(lit(0.95))), 4) +
          lit(0.0)).as("lr_pof"))
  }

  /** Mean reciprocal rank (#361): at which rank does the first
    * purchase sit in each cohort's value-ordered event list? MRR's
    * per-query primitive (Voorhees 1999) — the sharpest-possible
    * top-weighted metric (all credit at the first relevant hit),
    * completing the ranking-metric family AP #182 / NDCG #183 /
    * ERR #345 / RBO #353. The first-relevant rank is min(rk) over a
    * filtered window relation; the reciprocal is an exact micro
    * floor division — no doubles.
    */
  val qMrr = GateQuery.sql(
    "q_mrr",
    s"""WITH e AS (SELECT user_id % 8 AS g, event_id, event_type,
       |    ${centsSql("vd")} AS c
       |  FROM $E t),
       |r AS (SELECT g, event_type,
       |    CAST(row_number() OVER (PARTITION BY g ORDER BY c DESC, event_id) AS BIGINT) AS rk
       |  FROM e),
       |f AS (SELECT g, min(rk) AS first_rank,
       |    CAST(count(*) AS BIGINT) AS n_relevant
       |  FROM r WHERE event_type = 'purchase' GROUP BY g)
       |SELECT g, first_rank, n_relevant,
       |  1000000 // first_rank AS rr_micro
       |FROM f ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(pmod(col("user_id"), lit(8L)).as("g"), col("event_id"),
      col("event_type"), Exact.cents(col("vd")).as("c"))
    val r = e.withColumn("rk",
      row_number().over(Window.partitionBy(col("g"))
        .orderBy(col("c").desc, col("event_id"))).cast("long"))
    val f = r.filter(col("event_type") === "purchase")
      .groupBy(col("g"))
      .agg(min(col("rk")).as("first_rank"), count(lit(1)).cast("long").as("n_relevant"))
    f.select(col("g"), col("first_rank"), col("n_relevant"),
        Binning.floorDivCol(lit(1000000L), col("first_rank")).as("rr_micro"))
      .orderedSmall(col("g"))
  }

  /** Seasonal-means decomposition (#223): each event type's hourly
    * totals split into overall level + hour-of-day seasonal component
    * (y = level + seasonal(hod) + residual) — the first look every
    * monitoring dashboard takes at a periodic series, and the exact
    * companion to #181's ACF (which only DETECTS the periodicity).
    * Hourly totals reduce to a (type, hod) relation of AT MOST
    * 24·types rows regardless of corpus size; means are HALF_UP
    * exact-integer ratios; the seasonal delta is a difference of two
    * exactly-rounded means (signed, but never divided again — no
    * floor-vs-truncate exposure).
    */
  val qSeasonal = GateQuery.sql(
    "q_seasonal",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |h AS (SELECT event_type, grid % 24 AS hod, count(*) AS n_hours,
       |    CAST(sum(y) AS BIGINT) AS sy FROM g GROUP BY 1, 2),
       |t AS (SELECT event_type, CAST(sum(n_hours) AS BIGINT) AS n_total,
       |    CAST(sum(sy) AS BIGINT) AS st FROM h GROUP BY 1)
       |SELECT h.event_type AS event_type, hod, n_hours,
       |  (2 * sy + n_hours) // (2 * n_hours) AS hod_mean_cents,
       |  (2 * sy + n_hours) // (2 * n_hours)
       |    - (2 * st + n_total) // (2 * n_total) AS seasonal_delta_cents
       |FROM h JOIN t ON t.event_type = h.event_type
       |ORDER BY event_type, hod""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val h = g.groupBy(col("event_type"), pmod(col("grid"), lit(24L)).as("hod"))
      .agg(count(lit(1)).as("n_hours"), sum(col("y")).cast("long").as("sy"))
    val t = h.groupBy(col("event_type"))
      .agg(sum(col("n_hours")).cast("long").as("n_total"),
        sum(col("sy")).cast("long").as("st"))
    def meanHalfUp(s2: Column, n: Column) =
      Binning.floorDivCol(lit(2L) * s2 + n, lit(2L) * n)
    h.join(t, "event_type")
      .select(col("event_type"), col("hod"), col("n_hours"),
        meanHalfUp(col("sy"), col("n_hours")).as("hod_mean_cents"),
        (meanHalfUp(col("sy"), col("n_hours")) -
          meanHalfUp(col("st"), col("n_total"))).as("seasonal_delta_cents"))
      .orderedSmall(col("event_type"), col("hod"))
  }

  /** Single changepoint detection (#224): per event type, the hourly
    * split that maximizes the between-segment variance gain
    * n1·n2/n·(m1−m2)² — binary segmentation's first step (the
    * level-shift detector that CUSUM (#180) alarms on but doesn't
    * localize). The candidate scan is ONE ordered window over the
    * HOURLY grid (bounded by the time span, never event count);
    * gain = (S1·n2 − S2·n1)²/(n1·n2·n) is evaluated entirely in
    * exact integers per candidate (decimal-lifted — the square is
    * ~1e27 at sf0.1), and the argmax ties to the earliest grid via
    * one min(struct) aggregate. Means at the split are HALF_UP.
    */
  val qChangepoint = GateQuery.sql(
    "q_changepoint",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |o AS (SELECT event_type, grid, y,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY grid) AS BIGINT) AS rn,
       |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY grid) AS BIGINT) AS s1,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
       |  FROM g),
       |c AS (SELECT event_type, grid, rn AS n1, n - rn AS n2, s1, s - s1 AS s2, n,
       |    CAST(${floorDivBigSql(
            "(CAST(s1 AS HUGEINT) * (n - rn) - CAST(s - s1 AS HUGEINT) * rn)" +
              " * (CAST(s1 AS HUGEINT) * (n - rn) - CAST(s - s1 AS HUGEINT) * rn)",
            "CAST(rn AS HUGEINT) * (n - rn) * n")} AS HUGEINT) AS gain
       |  FROM o WHERE rn < n),
       |mx AS (SELECT event_type, max(gain) AS mg FROM c GROUP BY 1),
       |best AS (SELECT c.event_type AS event_type, any_value(c.n) AS n,
       |    min((grid, n1, n2, s1, s2)) FILTER (gain = mg) AS b,
       |    max(mg) AS gain
       |  FROM c JOIN mx ON mx.event_type = c.event_type GROUP BY 1)
       |SELECT event_type, n AS n_hours, b[1] AS split_grid,
       |  CAST(b[2] AS BIGINT) AS n1, CAST(b[3] AS BIGINT) AS n2,
       |  (2 * b[4] + b[2]) // (2 * b[2]) AS mean1_cents,
       |  (2 * b[5] + b[3]) // (2 * b[3]) AS mean2_cents,
       |  CAST(gain AS BIGINT) AS gain_cents2
       |FROM best ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val wo = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val wa = Window.partitionBy(col("event_type"))
    val o = g
      .withColumn("rn", row_number().over(wo).cast("long"))
      .withColumn("s1", sum(col("y")).over(wo).cast("long"))
      .withColumn("n", count(lit(1)).over(wa).cast("long"))
      .withColumn("s", sum(col("y")).over(wa).cast("long"))
    val d1 = col("s1").cast("decimal(38,0)") * (col("n") - col("rn")) -
      (col("s") - col("s1")).cast("decimal(38,0)") * col("rn")
    val c = o.filter(col("rn") < col("n"))
      .select(col("event_type"), col("grid"), col("rn").as("n1"),
        (col("n") - col("rn")).as("n2"), col("s1"), (col("s") - col("s1")).as("s2"),
        col("n"),
        floorDivBig(d1 * d1,
          col("rn").cast("decimal(38,0)") * (col("n") - col("rn")) * col("n")).as("gain"))
    val mx = c.groupBy(col("event_type")).agg(max(col("gain")).as("mg"))
    val best = c.join(mx, "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"),
        min(when(col("gain") === col("mg"),
          struct(col("grid"), col("n1"), col("n2"), col("s1"), col("s2")))).as("b"),
        max(col("mg")).as("gain"))
    def meanHalfUp(s2: Column, n: Column) =
      Binning.floorDivCol(lit(2L) * s2 + n, lit(2L) * n)
    best.select(col("event_type"), col("n").as("n_hours"),
        col("b.grid").as("split_grid"),
        col("b.n1").cast("long").as("n1"), col("b.n2").cast("long").as("n2"),
        meanHalfUp(col("b.s1"), col("b.n1")).as("mean1_cents"),
        meanHalfUp(col("b.s2"), col("b.n2")).as("mean2_cents"),
        col("gain").cast("long").as("gain_cents2"))
      .orderedSmall(col("event_type"))
  }

  /** Histogram mutual information (#225): MI between the event-value
    * decile and the props.k decile — the model-free dependence
    * measure that catches what #193's Pearson misses (nonlinear,
    * non-monotone association), read next to #178's χ² (which only
    * tests, never quantifies). Both deciles derive from 1-row
    * broadcast maxima; the joint relation is ≤ 100 cells at any
    * corpus size, marginals are windows OVER THE CELL RELATION, and
    * each c·µln(c·N/(c_x·c_y)) term is an exact integer before the
    * sum (#138's KL quantization discipline — MI is the KL of the
    * joint from the product of marginals).
    */
  val qMutualInfo = GateQuery.sql(
    "q_mutual_info",
    s"""WITH e AS (SELECT ${centsSql("vd")} AS vc,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |  FROM (SELECT CAST(value AS DECIMAL(18,2)) AS vd, props FROM events) t),
       |s AS (SELECT 1 + max(vc) AS mv, 1 + max(k) AS mk FROM e),
       |b AS (SELECT (vc * 10) // mv AS x, (k * 10) // mk AS y FROM e, s),
       |xy AS (SELECT x, y, count(*) AS c FROM b GROUP BY 1, 2),
       |m AS (SELECT x, y, c,
       |    CAST(sum(c) OVER (PARTITION BY x) AS BIGINT) AS cx,
       |    CAST(sum(c) OVER (PARTITION BY y) AS BIGINT) AS cy,
       |    CAST(sum(c) OVER () AS BIGINT) AS n
       |  FROM xy),
       |t AS (SELECT any_value(n) AS n, count(*) AS n_cells,
       |    CAST(sum(c * ${Curation.microLnSql("(c * n) * 1.0 / (cx * cy)")}) AS BIGINT) AS mi_sum
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n_events, CAST(n_cells AS BIGINT) AS n_cells,
       |  mi_sum AS mi_micro_sum,
       |  ${Exact.roundedRatioSignedSql("mi_sum", "n * 1000000", 6)} AS mi
       |FROM t""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(
      Exact.cents(col("value").cast("decimal(18,2)")).as("vc"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
    // ONE corpus pass (incl. the per-row JSON parse): collapse to the
    // value grid first, then take the bucketing maxima as windows
    // OVER THE GRID (max over distinct values = max over rows; a
    // single-partition window over the small grid, never the corpus)
    // — the r12 shape paid a second full scan + JSON parse for the
    // 1-row maxima broadcast.
    val g = e.groupBy(col("vc"), col("k")).agg(count(lit(1)).cast("long").as("cnt"))
    val wAll = Window.partitionBy()
    val gw = g
      .withColumn("mv", lit(1L) + max(col("vc")).over(wAll))
      .withColumn("mk", lit(1L) + max(col("k")).over(wAll))
    val xy = gw
      .select(Binning.floorDivCol(col("vc") * lit(10L), col("mv")).as("x"),
        Binning.floorDivCol(col("k") * lit(10L), col("mk")).as("y"), col("cnt"))
      .groupBy(col("x"), col("y")).agg(sum(col("cnt")).as("c"))
    val m = xy
      .withColumn("cx", sum(col("c")).over(Window.partitionBy(col("x"))).cast("long"))
      .withColumn("cy", sum(col("c")).over(Window.partitionBy(col("y"))).cast("long"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()).cast("long"))
    val q = Curation.microLn(
      (col("c") * col("n")).cast("double") / (col("cx") * col("cy")).cast("double"))
    val t = m.agg(first(col("n")).as("n"), count(lit(1)).as("n_cells"),
      sum(col("c") * q).cast("long").as("mi_sum"))
    t.select(col("n").cast("long").as("n_events"),
      col("n_cells").cast("long").as("n_cells"),
      col("mi_sum").as("mi_micro_sum"),
      Exact.roundedRatioSigned(col("mi_sum"), col("n") * lit(1000000L), 6).as("mi"))
  }

  /** Theil–Sen robust slope (#232b/#236): per event type, the MEDIAN
    * of all pairwise slopes of the hourly series — the trend
    * estimator that shrugs off the outliers #9's least squares
    * chases (29% breakdown point). The pair stage self-joins the
    * HOURLY GRID relation (bounded by the time span² — calendar
    * hours, never event count — the same bound as #224's candidate
    * scan); slopes rank by their mirrored double with a (g1, g2) tie
    * pin, the lower median lands via one rank window, and the
    * median pair's EXACT rational (Δcents, Δhours) rides along so
    * the answer is certifiable beyond float.
    *
    * HORIZON bound (r12, documented limit): the pair stage holds
    * hours²/2 slope rows per event type — independent of corpus
    * size (any event volume collapses to the grid first) but
    * quadratic in the time HORIZON. A year is ~8.8k hours → ~38M
    * pairs/type; past roughly hours ≤ 100k, rebin the grid (daily
    * buckets keep the estimator's breakdown point: Theil–Sen over
    * aggregates) or switch to a two-phase value-bucketed selection.
    * The same bound governs q_hodges_lehmann.
    *
    * Shape (r13): ONE corpus aggregate collapses to the
    * calendar-bounded grid (≤ types × hours rows); the grid collects
    * and the pair fan-out + median selection replay on the DRIVER in
    * the exact same arithmetic as the SQL mirror (slope = IEEE
    * double division, sort by (sl, g1, g2), lower-median rank,
    * Spark-convention HALF_UP rounding) — the
    * q_spline_rate/q_periodogram convention. The previous
    * distributed pair join + per-type rank window billed five extra
    * job floors to shuffle a bounded relation; the driver loop is
    * the same hours²/2 work without them (and the horizon bound
    * above governs driver memory exactly as it governed the window
    * partition before).
    */
  val qTheilSen = GateQuery.sql(
    "q_theil_sen",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |nt AS (SELECT event_type, CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n
       |  FROM g GROUP BY 1),
       |p AS (SELECT a.event_type AS event_type,
       |    a.grid AS g1, b.grid AS g2, b.y - a.y AS dy, b.grid - a.grid AS dx,
       |    CAST(b.y - a.y AS DOUBLE) / (b.grid - a.grid) AS sl
       |  FROM g a JOIN g b ON a.event_type = b.event_type AND a.grid < b.grid),
       |r AS (SELECT p.event_type AS event_type, nt.n AS n, dy, dx, sl,
       |    CAST(row_number() OVER (PARTITION BY p.event_type
       |      ORDER BY sl, g1, g2) AS BIGINT) AS rk
       |  FROM p JOIN nt ON nt.event_type = p.event_type)
       |SELECT event_type, n AS n_pairs,
       |  CAST(dy AS BIGINT) AS med_dy_cents, CAST(dx AS BIGINT) AS med_dx_hours,
       |  round(sl, 6) + 0.0 AS slope_cents_per_hour
       |FROM r WHERE rk = (n + 1) // 2 ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    // calendar-bounded grid (<= types x hours rows) -- see shape doc
    val grid = g.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = grid.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (et, rows) =>
      val pts = rows.map(r => (r._2, r._3)).sortBy(_._1).toArray
      val m = pts.length
      val n = m.toLong * (m - 1) / 2
      if (n == 0) None // <2 grid points: the SQL pair CTE emits nothing
      else {
        // (sl, g1, g2) parallel primitive arrays for every g1 < g2
        // pair (the SQL p CTE) — index sort keeps the hot path
        // allocation-free at hours²/2 volume
        val slA = new Array[Double](n.toInt)
        val g1A = new Array[Long](n.toInt)
        val g2A = new Array[Long](n.toInt)
        var p = 0
        var i = 0
        while (i < m) {
          var j = i + 1
          while (j < m) {
            slA(p) = (pts(j)._2 - pts(i)._2).toDouble / (pts(j)._1 - pts(i)._1)
            g1A(p) = pts(i)._1
            g2A(p) = pts(j)._1
            p += 1
            j += 1
          }
          i += 1
        }
        // median VALUE via one primitive sort; the (g1, g2) tie pin
        // only orders pairs INSIDE the tied slope group, so rank
        // within the group = global rank − (# slopes strictly below)
        val sortedSl = slA.clone()
        java.util.Arrays.sort(sortedSl)
        val rank = ((n + 1) / 2 - 1).toInt // 0-based lower-median rank
        val vm = sortedSl(rank)
        var below = java.util.Arrays.binarySearch(sortedSl, vm)
        while (below > 0 && sortedSl(below - 1) == vm) below -= 1
        val tied = slA.indices.filter(i => slA(i) == vm)
          .sortBy(i => (g1A(i), g2A(i)))
        val k = tied(rank - below)
        val dx = g2A(k) - g1A(k)
        // recover dy exactly from the chosen pair's grid positions
        val yOf = pts.map(t => t._1 -> t._2).toMap
        val dyExact = yOf(g2A(k)) - yOf(g1A(k))
        // Spark round(x, 6) semantics: shortest-repr BigDecimal, HALF_UP
        val slR = java.math.BigDecimal.valueOf(vm)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
        Some((et, n, dyExact, dx, slR))
      }
    }
    out.toDF("event_type", "n_pairs", "med_dy_cents", "med_dx_hours",
        "slope_cents_per_hour")
      .orderedSmall(col("event_type"))
  }

  /** Rolling correlation (#237): the trailing-24h Pearson r between
    * the 'click' and 'view' hourly totals — the co-movement monitor
    * that tells a dashboard whether two signals decoupled TODAY
    * (where #193's corpus-wide matrix answers on average). The two
    * series align by ONE full-outer grid join (hour-keyed, zeros for
    * absent hours), then all five power sums run in a single shared
    * 24-row ordered window — exact integers end to end, r one
    * mirrored closed form per row, variance-degenerate windows
    * guarded by the exact predicate (n·Σx² = (Σx)²) → NULL.
    */
  val qRollingCorr = GateQuery.sql(
    "q_rolling_corr",
    s"""WITH g AS (SELECT xs // 3600 AS grid, event_type,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
       |a AS (SELECT grid, coalesce(max(CASE WHEN event_type = 'click' THEN y END), 0) AS x,
       |    coalesce(max(CASE WHEN event_type = 'view' THEN y END), 0) AS v
       |  FROM g GROUP BY grid),
       |w AS (SELECT grid, x, v,
       |    CAST(count(*) OVER win AS BIGINT) AS n,
       |    CAST(sum(x) OVER win AS BIGINT) AS sx, CAST(sum(v) OVER win AS BIGINT) AS sv,
       |    CAST(sum(CAST(x AS HUGEINT) * x) OVER win AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(v AS HUGEINT) * v) OVER win AS HUGEINT) AS svv,
       |    CAST(sum(CAST(x AS HUGEINT) * v) OVER win AS HUGEINT) AS sxv
       |  FROM a
       |  WINDOW win AS (ORDER BY grid ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
       |SELECT grid, CAST(n AS BIGINT) AS n_hours,
       |  CASE WHEN n < 2 OR n * sxx = CAST(sx AS HUGEINT) * sx
       |      OR n * svv = CAST(sv AS HUGEINT) * sv THEN NULL
       |    ELSE round((CAST(n AS DOUBLE) * CAST(sxv AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sv AS DOUBLE))
       |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |        * sqrt(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
       |          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6) + 0.0
       |  END AS r
       |FROM w ORDER BY grid""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
      .filter(col("event_type").isin("click", "view"))
    val a = g.groupBy(col("grid"))
      .agg(coalesce(max(when(col("event_type") === "click", col("y"))), lit(0L)).as("x"),
        coalesce(max(when(col("event_type") === "view", col("y"))), lit(0L)).as("v"))
    val win = Window.orderBy(col("grid")).rowsBetween(-23, Window.currentRow)
    val w = a
      .withColumn("n", count(lit(1)).over(win).cast("long"))
      .withColumn("sx", sum(col("x")).over(win).cast("long"))
      .withColumn("sv", sum(col("v")).over(win).cast("long"))
      .withColumn("sxx", sum(col("x").cast("decimal(38,0)") * col("x")).over(win)
        .cast("decimal(38,0)"))
      .withColumn("svv", sum(col("v").cast("decimal(38,0)") * col("v")).over(win)
        .cast("decimal(38,0)"))
      .withColumn("sxv", sum(col("x").cast("decimal(38,0)") * col("v")).over(win)
        .cast("decimal(38,0)"))
    val degenerate = col("n") < 2 ||
      col("n") * col("sxx") === col("sx").cast("decimal(38,0)") * col("sx") ||
      col("n") * col("svv") === col("sv").cast("decimal(38,0)") * col("sv")
    w.select(col("grid"), col("n").as("n_hours"),
        when(degenerate, lit(null).cast("double")).otherwise(
          round((col("n").cast("double") * col("sxv").cast("double") -
              col("sx").cast("double") * col("sv").cast("double")) /
            (sqrt(col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n").cast("double") * col("svv").cast("double") -
                col("sv").cast("double") * col("sv").cast("double"))), 6) + lit(0.0))
          .as("r"))
      .orderedSmall(col("grid"))
  }

  private val LpIters = 3

  /** Label-propagation communities (#238, Raghavan et al. 2007): 3
    * synchronous rounds of "adopt the MODE of your neighbors'
    * labels" over the customer⇄supplier trade graph — the
    * community-detection complement of #40's connected components
    * (which only finds disconnected islands) and #184's PageRank
    * (which ranks within them). Ties break (count DESC, label ASC)
    * via the min(struct(−count, label)) argmax — one aggregate, no
    * per-node window — making the sync update fully deterministic
    * (async LPA is run-order-dependent; synchronous + total tie
    * order is the engine-reproducible variant). 2 shuffles/round
    * like PageRank; edges persist across rounds. Oracle = unrolled
    * CTEs. Output: the top-20 communities by size.
    */
  val qLabelProp = GateQuery.sql(
    "q_label_prop", {
      val iterCtes = (1 to LpIters).map { i =>
        s"""c$i AS (SELECT e.dst AS node, r.lbl AS lbl, count(*) AS cnt
           |  FROM edges e JOIN l${i - 1} r ON e.src = r.node GROUP BY 1, 2),
           |l$i AS (SELECT node, min((-cnt, lbl))[2] AS lbl FROM c$i GROUP BY node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |edges AS (SELECT 'c' || ck AS src, 's' || sk AS dst FROM pairs
         |  UNION ALL SELECT 's' || sk, 'c' || ck FROM pairs),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
         |$iterCtes,
         |g AS (SELECT lbl, count(*) AS n_members FROM l$LpIters GROUP BY lbl),
         |t AS (SELECT count(*) AS n_comm FROM g)
         |SELECT lbl AS community, n_members, (SELECT n_comm FROM t) AS n_communities
         |FROM g ORDER BY n_members DESC, lbl LIMIT 20""".stripMargin
    }) { (s, d) =>
    // pairs come from the shared materialized trade-graph snapshot
    // (SharedRelations) — the orders⋈lineitem+distinct runs once per
    // session across the graph-gate family
    val pairs = graft.SharedRelations.custSuppPairs(s, d)
    val edges = pairs.select(concat(lit("c"), col("ck")).as("src"),
        concat(lit("s"), col("sk")).as("dst"))
      .unionAll(pairs.select(concat(lit("s"), col("sk")).as("src"),
        concat(lit("c"), col("ck")).as("dst")))
      .persist() // reused by all rounds; freed by the harness post-action
    var lbl = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (i <- 1 to LpIters) {
      val cnt = edges.join(lbl, edges("src") === lbl("node"))
        .groupBy(col("dst").as("nd"), col("lbl").as("nl"))
        .agg(count(lit(1)).as("cnt"))
      lbl = cnt.groupBy(col("nd").as("node"))
        .agg(min(struct((-col("cnt")).as("negc"), col("nl").as("lbl")))
          .getField("lbl").as("lbl"))
    }
    // persist the community-sized result: BOTH consumers (top-20 and
    // the n_communities scalar) otherwise re-run all 3 LPA rounds
    val g = lbl.groupBy(col("lbl").as("community")).agg(count(lit(1)).as("n_members"))
      .persist() // freed by the harness post-action
    Curation.withStats(g, g.agg(count(lit(1)).as("n_communities")))
      .orderBy(col("n_members").desc, col("community")).limit(20)
      .select(col("community"), col("n_members"), col("n_communities"))
      .orderedSmall(col("n_members").desc, col("community"))
  }

  /** Cliff's delta effect size (#295): per user cohort, how often a
    * 'click' value exceeds a 'view' value — δ = (#greater − #less) /
    * (n₁·n₂), the nonparametric ordinal effect size that reports the
    * MAGNITUDE behind Mann–Whitney's (#212) significance (δ =
    * 2·AUC − 1). Pair counts come from the VALUE-COLLAPSED (cohort,
    * cents) grid: for each click value, strictly-smaller view mass is
    * one running-sum window over distinct values — never an n₁×n₂
    * pair stage, never a per-row sort. All counts exact integers
    * (decimal-lifted: Σ c₁·cum₂ reaches n₁·n₂); δ is ONE mirrored
    * double division at the end.
    */
  val qCliffsDelta = GateQuery.sql(
    "q_cliffs_delta",
    s"""WITH g AS (SELECT user_id % 8 AS g, ${centsSql("vd")} AS v,
       |    count(*) FILTER (event_type = 'click') AS c1,
       |    count(*) FILTER (event_type = 'view') AS c2
       |  FROM $E e WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
       |w AS (SELECT g, v, c1, c2,
       |    coalesce(sum(c2) OVER (PARTITION BY g ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt2,
       |    sum(c2) OVER (PARTITION BY g) AS n2,
       |    sum(c1) OVER (PARTITION BY g) AS n1
       |  FROM g),
       |a AS (SELECT g, any_value(n1) AS n1, any_value(n2) AS n2,
       |    CAST(sum(CAST(c1 AS HUGEINT) * lt2) AS HUGEINT) AS gt,
       |    CAST(sum(CAST(c1 AS HUGEINT) * (n2 - lt2 - c2)) AS HUGEINT) AS lt,
       |    CAST(sum(CAST(c1 AS HUGEINT) * c2) AS HUGEINT) AS ties
       |  FROM w GROUP BY g)
       |SELECT g AS cohort, CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
       |  CAST(gt AS BIGINT) AS n_greater, CAST(lt AS BIGINT) AS n_less,
       |  CAST(ties AS BIGINT) AS n_ties,
       |  CASE WHEN n1 > 0 AND n2 > 0
       |    THEN round(CAST(gt - lt AS DOUBLE) / (1.0 * n1 * n2), 6) + 0.0
       |    ELSE NULL END AS cliffs_delta
       |FROM a ORDER BY cohort""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type").isin("click", "view"))
    val gr = e.groupBy(pmod(col("user_id"), lit(8L)).as("g"), Exact.cents(col("vd")).as("v"))
      .agg(count(when(col("event_type") === "click", 1)).as("c1"),
           count(when(col("event_type") === "view", 1)).as("c2"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("g"))
    val w = gr
      .withColumn("lt2", coalesce(sum(col("c2")).over(wOrd), lit(0L)))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .withColumn("n1", sum(col("c1")).over(wAll))
    val a = w.groupBy(col("g")).agg(
      first(col("n1")).as("n1"), first(col("n2")).as("n2"),
      sum(col("c1").cast("decimal(38,0)") * col("lt2")).cast("decimal(38,0)").as("gt"),
      sum(col("c1").cast("decimal(38,0)") * (col("n2") - col("lt2") - col("c2")))
        .cast("decimal(38,0)").as("lt"),
      sum(col("c1").cast("decimal(38,0)") * col("c2")).cast("decimal(38,0)").as("ties"))
    a.select(col("g").as("cohort"),
        col("n1").cast("long").as("n_click"), col("n2").cast("long").as("n_view"),
        col("gt").cast("long").as("n_greater"), col("lt").cast("long").as("n_less"),
        col("ties").cast("long").as("n_ties"),
        when(col("n1") > 0 && col("n2") > 0,
          round((col("gt") - col("lt")).cast("double") /
            (lit(1.0) * col("n1") * col("n2")), 6) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("cliffs_delta"))
      .orderedSmall(col("cohort"))
  }

  /** Odds ratio with Woolf standard error (#296): the 2×2
    * exposure-outcome audit on the odds scale — users collapse to
    * (exposed = user_id mod 2, converted = any purchase), the four
    * cells fill in ONE conditional aggregate, and OR = (a·d)/(b·c)
    * is reported as an EXACT ppm floor division plus ln OR in
    * micro-nats, the Woolf SE √(1/a+1/b+1/c+1/d) and its z — the
    * effect-size companion to the two-proportion z-test (#230,
    * difference scale) and McNemar (#259, paired). Zero cells guard
    * every derived statistic to NULL via exact integer predicates on
    * both engines (Spark 4 ANSI errors even double ÷0).
    */
  val qOddsRatio = GateQuery.sql(
    "q_odds_ratio",
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM $E e GROUP BY user_id),
       |c AS (SELECT
       |    count(*) FILTER (user_id % 2 = 1 AND conv = 1) AS a,
       |    count(*) FILTER (user_id % 2 = 1 AND conv = 0) AS b,
       |    count(*) FILTER (user_id % 2 = 0 AND conv = 1) AS c,
       |    count(*) FILTER (user_id % 2 = 0 AND conv = 0) AS d
       |  FROM u)
       |SELECT CAST(a AS BIGINT) AS n_exp_conv, CAST(b AS BIGINT) AS n_exp_non,
       |  CAST(c AS BIGINT) AS n_ctl_conv, CAST(d AS BIGINT) AS n_ctl_non,
       |  CASE WHEN b > 0 AND c > 0
       |    THEN CAST((CAST(a AS HUGEINT) * d * 1000000) // (CAST(b AS HUGEINT) * c) AS BIGINT)
       |    ELSE NULL END AS odds_ratio_ppm,
       |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
       |    THEN ${Curation.microLnSql("(1.0 * a * d) / (1.0 * b * c)")}
       |    ELSE NULL END AS ln_or_micro,
       |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
       |    THEN round(sqrt(((1.0 / a + 1.0 / b) + 1.0 / c) + 1.0 / d), 6) + 0.0
       |    ELSE NULL END AS se_ln_or,
       |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
       |    THEN round(ln((1.0 * a * d) / (1.0 * b * c))
       |      / sqrt(((1.0 / a + 1.0 / b) + 1.0 / c) + 1.0 / d), 6) + 0.0
       |    ELSE NULL END AS z
       |FROM c""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      .withColumn("ex", pmod(col("user_id"), lit(2L)))
    val cdf = u.agg(
      count(when(col("ex") === 1 && col("conv") === 1, 1)).as("a"),
      count(when(col("ex") === 1 && col("conv") === 0, 1)).as("b"),
      count(when(col("ex") === 0 && col("conv") === 1, 1)).as("c"),
      count(when(col("ex") === 0 && col("conv") === 0, 1)).as("d"))
    val lnArg = (lit(1.0) * col("a") * col("d")) / (lit(1.0) * col("b") * col("c"))
    val se = sqrt(((lit(1.0) / col("a") + lit(1.0) / col("b")) + lit(1.0) / col("c"))
      + lit(1.0) / col("d"))
    val pos = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    cdf.select(
        col("a").cast("long").as("n_exp_conv"), col("b").cast("long").as("n_exp_non"),
        col("c").cast("long").as("n_ctl_conv"), col("d").cast("long").as("n_ctl_non"),
        when(col("b") > 0 && col("c") > 0,
          floorDivBig(col("a").cast("decimal(38,0)") * col("d") * lit(1000000L),
            col("b").cast("decimal(38,0)") * col("c")).cast("long"))
          .otherwise(lit(null).cast("long")).as("odds_ratio_ppm"),
        when(pos, Curation.microLn(lnArg)).otherwise(lit(null).cast("long")).as("ln_or_micro"),
        when(pos, round(se, 6) + lit(0.0)).otherwise(lit(null).cast("double")).as("se_ln_or"),
        when(pos, round(log(lnArg) / se, 6) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("z"))
      .orderedSmall(col("n_exp_conv"))
  }

  /** Quantile treatment effects (#434, r10; Doksum 1974 — the
    * DISTRIBUTIONAL read of the even/odd A/B next to the mean-effect
    * gates #269/#431): at q ∈ {25, 50, 75}, the difference of the
    * treated and control per-user-spend order statistics — where an
    * ATE hides a tail-only effect, the QTE curve shows WHERE in the
    * distribution the lift lives. Exact integer cents; rank =
    * ⌈n·q/100⌉ via integer ceiling; one ranked pass per arm, a
    * 3-row rank probe joined back — no full sort crosses the wire
    * beyond the per-arm rank window.
    */
  val qQte = GateQuery.sql(
    "q_qte",
    s"""WITH u AS (SELECT user_id, user_id % 2 AS tr,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS x
       |  FROM $E e GROUP BY user_id),
       |r AS (SELECT tr, x,
       |    CAST(row_number() OVER (PARTITION BY tr ORDER BY x, user_id) AS BIGINT) AS rk,
       |    CAST(count(*) OVER (PARTITION BY tr) AS BIGINT) AS n
       |  FROM u),
       |qs AS (SELECT q.q, r.tr, r.x, r.n
       |  FROM (VALUES (25), (50), (75)) q(q)
       |  JOIN r ON r.rk = (r.n * q.q + 99) // 100)
       |SELECT CAST(t.q AS BIGINT) AS q,
       |  t.n AS n_treated, c.n AS n_control,
       |  t.x AS treated_cents, c.x AS control_cents,
       |  t.x - c.x AS qte_cents
       |FROM qs t JOIN qs c ON t.q = c.q AND t.tr = 1 AND c.tr = 0
       |ORDER BY q""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("x"))
      .select(col("user_id"), pmod(col("user_id"), lit(2L)).as("tr"), col("x"))
    val w = Window.partitionBy(col("tr")).orderBy(col("x"), col("user_id"))
    val r = u.select(col("tr"), col("x"),
      row_number().over(w).cast("long").as("rk"),
      count(lit(1)).over(Window.partitionBy(col("tr"))).cast("long").as("n"))
    import s.implicits._
    val qs = Seq(25L, 50L, 75L).toDF("q")
    val picked = qs.join(r,
      col("rk") === Binning.floorDivCol(col("n") * col("q") + lit(99L), lit(100L).cast("long")))
    val t = picked.filter(col("tr") === 1)
      .select(col("q"), col("n").as("n_treated"), col("x").as("treated_cents"))
    val c = picked.filter(col("tr") === 0)
      .select(col("q").as("qc"), col("n").as("n_control"), col("x").as("control_cents"))
    t.join(c, col("q") === col("qc"))
      .select(col("q"), col("n_treated"), col("n_control"),
        col("treated_cents"), col("control_cents"),
        (col("treated_cents") - col("control_cents")).as("qte_cents"))
      .orderedSmall(col("q"))
  }

  /** Harrell's concordance index (#435, r10, Harrell et al. 1982):
    * the rank-based discrimination measure for the survival family —
    * over the q_cox_ph cohort (first big purchase = event, censoring
    * at last activity), how often does a higher risk score
    * (activity = clicks + views) come with an EARLIER event?
    * Permissible pairs: i has the event and (t_j > t_i, or t_j = t_i
    * with j censored); concordant when score_i > score_j, score ties
    * count ½. The corpus VALUE-COLLAPSES to (day, event, score)
    * cells first — the pair product is cells², never users²
    * (the Kendall/Lepage grid discipline) — and C leaves as one
    * exact ppm floor over the doubled counts.
    */
  val qCindex = GateQuery.sql(
    "q_cindex",
    s"""WITH f AS (SELECT user_id, min(xs) AS fx, max(xs) AS lx,
       |    min(CASE WHEN event_type = 'purchase' AND ${centsSql("vd")} >= 9000
       |      THEN xs END) AS px,
       |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS act
       |  FROM $E e GROUP BY user_id),
       |u AS (SELECT (coalesce(px, lx) - fx) // 86400 AS lt,
       |    CASE WHEN px IS NULL THEN 0 ELSE 1 END AS ev, act
       |  FROM f),
       |cells AS (SELECT lt, ev, act, CAST(count(*) AS BIGINT) AS n
       |  FROM u GROUP BY 1, 2, 3),
       |pairs AS (SELECT
       |    CAST(sum(CAST(a.n AS HUGEINT) * b.n) AS HUGEINT) AS n_pairs,
       |    CAST(sum(CASE WHEN a.act > b.act THEN CAST(a.n AS HUGEINT) * b.n
       |      ELSE 0 END) AS HUGEINT) AS n_conc,
       |    CAST(sum(CASE WHEN a.act = b.act THEN CAST(a.n AS HUGEINT) * b.n
       |      ELSE 0 END) AS HUGEINT) AS n_tied
       |  FROM cells a JOIN cells b
       |    ON a.ev = 1 AND (b.lt > a.lt OR (b.lt = a.lt AND b.ev = 0)))
       |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(n_conc AS BIGINT) AS n_conc, CAST(n_tied AS BIGINT) AS n_tied,
       |  CASE WHEN n_pairs > 0 THEN
       |    CAST((2 * n_conc + n_tied) * 1000000 // (2 * n_pairs) AS BIGINT)
       |  END AS c_ppm
       |FROM pairs""".stripMargin) { (s, d) =>
    val f = ev(s, d).groupBy(col("user_id"))
      .agg(min(col("xs")).as("fx"), max(col("xs")).as("lx"),
        min(when(col("event_type") === "purchase" &&
          Exact.cents(col("vd")) >= 9000L, col("xs"))).as("px"),
        sum(when(col("event_type").isin("click", "view"), 1).otherwise(0)).as("act"))
    val u = f.select(
      Binning.floorDivCol(coalesce(col("px"), col("lx")) - col("fx"), lit(86400L)).as("lt"),
      when(col("px").isNull, 0).otherwise(1).as("ev"), col("act"))
    val cells = u.groupBy(col("lt"), col("ev"), col("act"))
      .agg(count(lit(1)).cast("long").as("n"))
    val a = cells.select(col("lt").as("lta"), col("ev").as("eva"),
      col("act").as("acta"), col("n").cast("decimal(38,0)").as("na"))
    val b = cells.select(col("lt").as("ltb"), col("ev").as("evb"),
      col("act").as("actb"), col("n").cast("decimal(38,0)").as("nb"))
    val p = a.join(broadcast(b),
      col("eva") === 1 && (col("ltb") > col("lta") ||
        (col("ltb") === col("lta") && col("evb") === 0)))
    val agg = p.agg(
      sum(col("na") * col("nb")).cast("decimal(38,0)").as("n_pairs"),
      sum(when(col("acta") > col("actb"), col("na") * col("nb"))
        .otherwise(lit(0).cast("decimal(38,0)"))).cast("decimal(38,0)").as("n_conc"),
      sum(when(col("acta") === col("actb"), col("na") * col("nb"))
        .otherwise(lit(0).cast("decimal(38,0)"))).cast("decimal(38,0)").as("n_tied"))
    agg.select(
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_conc").cast("long").as("n_conc"),
        col("n_tied").cast("long").as("n_tied"),
        when(col("n_pairs") > 0,
          Exact.floorDivBig(
            (lit(2L).cast("decimal(38,0)") * col("n_conc") + col("n_tied")) * lit(1000000L),
            lit(2L).cast("decimal(38,0)") * col("n_pairs")).cast("long"))
          .otherwise(lit(null).cast("long")).as("c_ppm"))
      .orderedSmall(col("n_pairs"))
  }

  /** E-value sensitivity analysis (#430, r10, VanderWeele & Ding
    * 2017): the minimum strength of unmeasured confounding — on the
    * risk-ratio scale, for BOTH the confounder→treatment and
    * confounder→outcome associations jointly — that could explain
    * away the observed association: E = RR + √(RR·(RR−1)) for
    * RR ≥ 1, computed on 1/RR otherwise. The standard robustness
    * read-out next to the effect gates (#296 OR, #343 MH, #269 DiD):
    * "how big would a hidden confounder have to be?" — an
    * audit-grade answer where a bare p-value is not. Same exact 2×2
    * as q_odds_ratio; RR and E are mirrored double expressions over
    * the exact counts (one sqrt — IEEE-portable).
    */
  val qEvalue = GateQuery.sql(
    "q_evalue",
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM $E e GROUP BY user_id),
       |c AS (SELECT
       |    count(*) FILTER (user_id % 2 = 1 AND conv = 1) AS a,
       |    count(*) FILTER (user_id % 2 = 1 AND conv = 0) AS b,
       |    count(*) FILTER (user_id % 2 = 0 AND conv = 1) AS cc,
       |    count(*) FILTER (user_id % 2 = 0 AND conv = 0) AS d
       |  FROM u),
       |r AS (SELECT a, b, cc, d,
       |    ((1.0 * a) / (a + b)) / ((1.0 * cc) / (cc + d)) AS rr
       |  FROM c WHERE a > 0 AND cc > 0 AND a + b > 0 AND cc + d > 0),
       |e AS (SELECT a, b, cc, d, rr,
       |    CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END AS rrs
       |  FROM r)
       |SELECT CAST(a AS BIGINT) AS n_exp_conv, CAST(b AS BIGINT) AS n_exp_non,
       |  CAST(cc AS BIGINT) AS n_ctl_conv, CAST(d AS BIGINT) AS n_ctl_non,
       |  round(rr, 6) + 0.0 AS risk_ratio,
       |  CASE WHEN rrs > 1.0
       |    THEN round(rrs + sqrt(rrs * (rrs - 1.0)), 6) + 0.0
       |    ELSE 1.0 END AS e_value
       |FROM e""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      .withColumn("ex", pmod(col("user_id"), lit(2L)))
    val cdf = u.agg(
      count(when(col("ex") === 1 && col("conv") === 1, 1)).as("a"),
      count(when(col("ex") === 1 && col("conv") === 0, 1)).as("b"),
      count(when(col("ex") === 0 && col("conv") === 1, 1)).as("cc"),
      count(when(col("ex") === 0 && col("conv") === 0, 1)).as("d"))
    val rr = ((lit(1.0) * col("a")) / (col("a") + col("b"))) /
      ((lit(1.0) * col("cc")) / (col("cc") + col("d")))
    val rrs = when(col("rr") >= 1.0, col("rr")).otherwise(lit(1.0) / col("rr"))
    cdf.filter(col("a") > 0 && col("cc") > 0 &&
        col("a") + col("b") > 0 && col("cc") + col("d") > 0)
      .withColumn("rr", rr)
      .withColumn("rrs", rrs)
      .select(col("a").cast("long").as("n_exp_conv"),
        col("b").cast("long").as("n_exp_non"),
        col("cc").cast("long").as("n_ctl_conv"),
        col("d").cast("long").as("n_ctl_non"),
        (round(col("rr"), 6) + lit(0.0)).as("risk_ratio"),
        when(col("rrs") > 1.0,
          round(col("rrs") + sqrt(col("rrs") * (col("rrs") - lit(1.0))), 6) + lit(0.0))
          .otherwise(lit(1.0)).as("e_value"))
      .orderedSmall(col("n_exp_conv"))
  }

  /** Decile boundaries for the stratum derivation shared by
    * q_ipw_ate / q_aipw_ate. */
  private val DecilePs: Seq[Int] = 10 to 90 by 10

  /** Decile stratum (1–10) per row of `df` from VALUE-HISTOGRAM
    * thresholds over long column `v` — the q_rfm recipe replacing a
    * corpus-wide `ntile(10)` (an `Exchange SinglePartition` sorting
    * the PER-ROW relation in one task — the driver-bottleneck class
    * at 10⁹ users). The (value, count)-collapsed histogram is
    * bounded by the per-user activity DOMAIN (max events per user),
    * never the user count, so it collects to the driver ONCE PER
    * SESSION ([[userCountThresholds]] — r12 verdict item 5: q_ipw_ate
    * and q_aipw_ate derive thresholds from the same events relation,
    * so the histogram pass runs once with two consumers) and the
    * stratum column is pure literals — zero extra jobs per gate.
    * Ties share a stratum (strict `>` crossing, scoring LOW — the
    * q_rfm convention), so strata are activity LEVELS rather than
    * ntile's arbitrary user_id tie splits; a value holding >10% of
    * rows leaves the skipped deciles empty, which the positivity
    * handling downstream already tolerates. Mirrored by
    * [[decileThrSql]] + [[decileStratumSqlExpr]].
    */
  private def decileStratum(s: SparkSession, d: String, df: DataFrame,
                            v: String): DataFrame = {
    val thr = userCountThresholds(s, d)
    val stratum = thr
      .map(t => when(col(v) > t, 1).otherwise(0))
      .foldLeft(lit(1): Column)(_ + _)
    df.withColumn("stratum", stratum.cast("long"))
  }

  /** Session-cached decile thresholds of the per-user event-count
    * histogram (the shared stratifier input of q_ipw_ate/q_aipw_ate).
    * The collect is bounded by the activity-count DOMAIN (distinct
    * per-user event counts — hundreds of values at any corpus size,
    * one (long, long) row each), and the driver replay of the
    * crossing rule (min v with cum·100 ≥ tot·p) is the same exact
    * integer arithmetic as [[decileThrSql]]'s window derivation, so
    * the literal thresholds are bit-identical to the SQL mirror's.
    */
  private def userCountThresholds(s: SparkSession, d: String): Seq[Long] =
    graft.SharedRelations.cachedValue("ipwthr", d) {
      val hist = ev(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).cast("long").as("c"))
      // r14 guard: the activity-count DOMAIN is data-dependent (≤
      // distinct per-user counts), so the collect is guarded by the
      // driver row budget; past it the thresholds come from ONE
      // windowed crossing plan that collects a single row.
      DriverBound.driverOr(hist.orderBy(col("v")), DriverBound.rows) { pv =>
        val tot = pv.iterator.map(_.getLong(1)).sum
        DecilePs.map { p =>
          var cum = 0L
          var res = Long.MaxValue // empty input: vacuous (no rows to stratify)
          var i = 0
          while (i < pv.length && res == Long.MaxValue) {
            cum += pv(i).getLong(1)
            if (cum * 100 >= tot * p) res = pv(i).getLong(0)
            i += 1
          }
          res
        }
      }(userCountThresholdsDistributed(hist))
    }

  /** [[userCountThresholds]] past the driver row budget:
    * [[decileThrSql]]'s windowed derivation over the (v, c) histogram
    * — the identical exact-integer crossing rule (min v with
    * cum·100 ≥ tot·p), so the same thresholds, in one single-row
    * collect. */
  private def userCountThresholdsDistributed(hist: DataFrame): Seq[Long] = {
    val w = hist
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val row = w.agg(
      min(when(col("cum") * 100 >= col("tot") * DecilePs.head, col("v")))
        .as(s"t${DecilePs.head}"),
      DecilePs.tail.map(p =>
        min(when(col("cum") * 100 >= col("tot") * p, col("v"))).as(s"t$p")): _*)
      .head()
    DecilePs.indices.map(i =>
      if (row.isNullAt(i)) Long.MaxValue else row.getLong(i))
  }

  /** DuckDB mirror of [[decileStratum]]'s threshold derivation:
    * emits CTEs pv/cw/th/thr over `uTbl.v`; compose with
    * [[decileStratumSqlExpr]] in a `FROM u, thr` select. */
  private def decileThrSql(uTbl: String, v: String): String =
    s"""pv AS (SELECT $v AS v, CAST(count(*) AS BIGINT) AS c FROM $uTbl GROUP BY 1),
       |cw AS (SELECT v, sum(c) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER () AS tot FROM pv),
       |th AS (SELECT p, min(v) AS t FROM cw,
       |  (SELECT unnest([${DecilePs.mkString(", ")}]) AS p) pp
       |  WHERE cum * 100 >= tot * p GROUP BY 1),
       |thr AS (SELECT ${DecilePs.map(p =>
             s"min(CASE WHEN p = $p THEN t END) AS t$p").mkString(", ")}
       |  FROM th)""".stripMargin

  /** DuckDB mirror of [[decileStratum]]'s per-row stratum expression
    * (expects thr's t10..t90 in scope). */
  private def decileStratumSqlExpr(v: String): String =
    "CAST(1 + " + DecilePs.map(p =>
      s"(CASE WHEN $v > t$p THEN 1 ELSE 0 END)").mkString(" + ") + " AS BIGINT)"

  /** Stratified-propensity IPW average treatment effect (#431, r10;
    * Rosenbaum & Rubin 1983 / Hájek form, stratum-constant
    * propensities): conversion ATE of the even/odd "treatment" with
    * the propensity estimated WITHIN activity strata (per-user event
    * count deciles) — inverse-propensity weighting with stratum
    * propensities is algebraically the stratified estimator
    * Σ (nₛ/N)·(ȳ₁ₛ − ȳ₀ₛ), so the whole pipeline stays exact
    * integer arithmetic: per-stratum effect = (aₛ·c nₛ − cₛ·t nₛ)
    * micro-floored over tₛ·cₛ (signed floor, both engines), overall
    * ATE one more signed floor over N. Strata missing a treatment
    * arm are skipped on both sides (no within-stratum counterfactual
    * — the positivity violation every IPW implementation must
    * handle). One user aggregate + the [[decileStratum]]
    * value-histogram stratifier (no corpus-wide sort — r12, replacing
    * the single-task ntile) + two small aggregates.
    */
  val qIpwAte = GateQuery.sql(
    "q_ipw_ate",
    s"""WITH u AS (SELECT user_id,
       |    CAST(count(*) AS BIGINT) AS n_ev,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM $E e GROUP BY user_id),
       |${decileThrSql("u", "n_ev")},
       |s AS (SELECT user_id, conv, user_id % 2 AS tr,
       |    ${decileStratumSqlExpr("n_ev")} AS stratum
       |  FROM u, thr),
       |g AS (SELECT stratum,
       |    CAST(count(*) AS BIGINT) AS n_s,
       |    CAST(count(*) FILTER (tr = 1) AS BIGINT) AS tn,
       |    CAST(sum(conv) FILTER (tr = 1) AS BIGINT) AS a,
       |    CAST(count(*) FILTER (tr = 0) AS BIGINT) AS cn,
       |    CAST(sum(conv) FILTER (tr = 0) AS BIGINT) AS c
       |  FROM s GROUP BY 1),
       |t AS (SELECT stratum, n_s, tn, a, cn, c,
       |    CASE WHEN tn > 0 AND cn > 0 THEN
       |      CAST(((nx) - ((((nx) % (dx)) + (dx)) % (dx))) // (dx) AS BIGINT)
       |    END AS term_micro
       |  FROM (SELECT *,
       |      CAST(n_s AS HUGEINT) * (a * cn - c * tn) * 1000000 AS nx,
       |      CAST(tn AS HUGEINT) * cn AS dx FROM g) gg),
       |o AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
       |    CAST(sum(term_micro) AS BIGINT) AS num,
       |    CAST(count(*) FILTER (term_micro IS NOT NULL) AS BIGINT) AS n_used
       |  FROM t)
       |SELECT t.stratum, t.n_s, t.tn, t.a AS conv_t, t.cn, t.c AS conv_c,
       |  t.term_micro,
       |  CAST(((o.num) - ((((o.num) % (o.n_total)) + (o.n_total)) % (o.n_total)))
       |    // (o.n_total) AS BIGINT) AS ate_micro,
       |  o.n_used AS n_strata_used
       |FROM t, o ORDER BY t.stratum""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_ev"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
    val st = decileStratum(s, d, u, "n_ev").select(col("user_id"), col("conv"),
      pmod(col("user_id"), lit(2L)).as("tr"), col("stratum"))
    val g = st.groupBy(col("stratum")).agg(
      count(lit(1)).cast("long").as("n_s"),
      count(when(col("tr") === 1, 1)).cast("long").as("tn"),
      sum(when(col("tr") === 1, col("conv"))).cast("long").as("a"),
      count(when(col("tr") === 0, 1)).cast("long").as("cn"),
      sum(when(col("tr") === 0, col("conv"))).cast("long").as("c"))
    val term = when(col("tn") > 0 && col("cn") > 0,
      Binning.floorDivCol(
        col("n_s").cast("decimal(38,0)") *
          (col("a") * col("cn") - col("c") * col("tn")).cast("decimal(38,0)") *
          lit(1000000L),
        (col("tn") * col("cn")).cast("decimal(19,0)")))
    val t = g.withColumn("term_micro", term)
    val o = t.agg(sum(col("n_s")).cast("long").as("n_total"),
      sum(col("term_micro")).cast("long").as("num"),
      count(when(col("term_micro").isNotNull, 1)).cast("long").as("n_used"))
    t.join(o)
      .select(col("stratum"), col("n_s"), col("tn"), col("a").as("conv_t"),
        col("cn"), col("c").as("conv_c"), col("term_micro"),
        Binning.floorDivCol(col("num"), col("n_total")).as("ate_micro"),
        col("n_used").as("n_strata_used"))
      .orderedSmall(col("stratum"))
  }

  /** Doubly-robust AIPW average treatment effect (#437, r11; Robins
    * et al. 1994 augmented IPW): composes #431's stratum-constant
    * propensity with a GLOBAL per-arm linear outcome model
    * (conversion on user activity x = event count) —
    *
    *   ATE = mean[ m₁(x) − m₀(x) + T·(y − m₁(x))/e_s
    *               − (1−T)·(y − m₀(x))/(1−e_s) ],
    *
    * consistent if EITHER the propensity or the outcome model is
    * right (here the models genuinely differ: strata vs regression,
    * so the augmentation terms do NOT vanish the way stratum-constant
    * outcome means would). Exactness: both arm regressions are
    * closed-form least squares carried as exact integer sums; every
    * per-user prediction m̂(x) is ONE signed micro floor of the
    * common-denominator rational (ŷ = (sy·den − num·sx + n·num·x) /
    * (n·den)); augmentation ratios floor per user with the stratum
    * counts as exact integers; the final ATE is one more signed
    * floor. Positivity-violating strata (an arm empty) are excluded
    * on both engines, as in #431. Shape: one user collapse, the
    * [[decileStratum]] value-histogram stratifier (no corpus-wide
    * sort — r12), ONE single-row conditional aggregate for both
    * regressions, a 10-row broadcast join, one global sum —
    * everything else is per-row expressions. (decimal(38)/HUGEINT
    * headroom: n²·x²·1e6 — ample at gate scale, ~1e9-user ceiling
    * at x ≤ 1e4; the established exactness-bound convention.)
    */
  val qAipwAte = {
    // signed floor division (both engines agree on negative
    // numerators; the q_ipw_ate macro)
    def fd(n: String, dn: String): String =
      s"((($n) - (((($n) % ($dn)) + ($dn)) % ($dn))) // ($dn))"
    def h(x: String) = s"CAST($x AS HUGEINT)"
    // per-arm regression scalars (suffix t = treated, c = control)
    def armSql(f: String, sfx: String): String = Seq(
      s"CAST(count(*) FILTER ($f) AS HUGEINT) AS n$sfx",
      s"${h(s"sum(x) FILTER ($f)")} AS sx$sfx",
      s"${h(s"sum(y) FILTER ($f)")} AS sy$sfx",
      s"${h(s"sum(x * x) FILTER ($f)")} AS sxx$sfx",
      s"${h(s"sum(x * y) FILTER ($f)")} AS sxy$sfx").mkString(",\n    ")
    def predSql(sfx: String): String = {
      val num = s"num$sfx"
      val den = s"den$sfx"
      s"""CASE WHEN $den = 0 THEN ${fd(s"sy$sfx * 1000000", s"n$sfx")}
         |  ELSE ${fd(s"(sy$sfx * $den - $num * sx$sfx + n$sfx * $num * x) * 1000000",
               s"n$sfx * $den")} END""".stripMargin
    }
    GateQuery.sql(
      "q_aipw_ate",
      s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |  FROM $E e GROUP BY user_id),
         |${decileThrSql("u", "x")},
         |s AS (SELECT user_id, x, y, user_id % 2 AS tr,
         |    ${decileStratumSqlExpr("x")} AS stratum FROM u, thr),
         |r AS (SELECT
         |    ${armSql("tr = 1", "t")},
         |    ${armSql("tr = 0", "c")}
         |  FROM s),
         |rr AS (SELECT *,
         |    nt * sxyt - sxt * syt AS numt, nt * sxxt - sxt * sxt AS dent,
         |    nc * sxyc - sxc * syc AS numc, nc * sxxc - sxc * sxc AS denc
         |  FROM r),
         |g AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
         |    CAST(count(*) FILTER (tr = 1) AS BIGINT) AS tn,
         |    CAST(count(*) FILTER (tr = 0) AS BIGINT) AS cn
         |  FROM s GROUP BY 1),
         |m AS (SELECT s.user_id, s.y, s.tr, g.n_s, g.tn, g.cn,
         |    ${predSql("t")} AS m1u,
         |    ${predSql("c")} AS m0u
         |  FROM s JOIN g USING (stratum), rr
         |  WHERE g.tn > 0 AND g.cn > 0),
         |t AS (SELECT (m1u - m0u) +
         |    CASE WHEN tr = 1 THEN ${fd(s"(${h("y")} * 1000000 - m1u) * n_s", "tn")}
         |      ELSE -${fd(s"(${h("y")} * 1000000 - m0u) * n_s", "cn")} END AS term
         |  FROM m),
         |o AS (SELECT CAST(count(*) AS BIGINT) AS n_used,
         |    ${h("sum(term)")} AS num FROM t),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM s)
         |SELECT tot.n_users, o.n_used AS n_used_users,
         |  CAST(CASE WHEN dent = 0 THEN 0 ELSE ${fd("numt * 1000000", "dent")} END AS BIGINT) AS b1_micro,
         |  CAST(CASE WHEN denc = 0 THEN 0 ELSE ${fd("numc * 1000000", "denc")} END AS BIGINT) AS b0_micro,
         |  CAST(${fd("o.num", "o.n_used")} AS BIGINT) AS ate_aipw_micro
         |FROM tot, o, rr""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      def dec(x: Column) = x.cast("decimal(38,0)")
      val u = ev(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("x"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("y"))
      val st = decileStratum(s, d, u, "x").select(col("user_id"), col("x"), col("y"),
        pmod(col("user_id"), lit(2L)).as("tr"), col("stratum"))
      def arm(t: Int, sfx: String): Seq[Column] = {
        def f(c: Column) = when(col("tr") === t, c)
        Seq(count(f(lit(1))).cast("decimal(38,0)").as(s"n$sfx"),
          sum(f(col("x"))).cast("decimal(38,0)").as(s"sx$sfx"),
          sum(f(col("y"))).cast("decimal(38,0)").as(s"sy$sfx"),
          sum(f(dec(col("x")) * col("x"))).cast("decimal(38,0)").as(s"sxx$sfx"),
          sum(f(dec(col("x")) * col("y"))).cast("decimal(38,0)").as(s"sxy$sfx"))
      }
      val armCols = arm(1, "t") ++ arm(0, "c")
      val r = st.agg(armCols.head, armCols.tail: _*)
        .withColumn("numt", col("nt") * col("sxyt") - col("sxt") * col("syt"))
        .withColumn("dent", col("nt") * col("sxxt") - col("sxt") * col("sxt"))
        .withColumn("numc", col("nc") * col("sxyc") - col("sxc") * col("syc"))
        .withColumn("denc", col("nc") * col("sxxc") - col("sxc") * col("sxc"))
      val g = st.groupBy(col("stratum")).agg(
        count(lit(1)).cast("long").as("n_s"),
        count(when(col("tr") === 1, 1)).cast("long").as("tn"),
        count(when(col("tr") === 0, 1)).cast("long").as("cn"))
      def pred(sfx: String): Column = {
        val num = col(s"num$sfx"); val den = col(s"den$sfx")
        when(den === 0, Exact.floorDivBig(col(s"sy$sfx") * lit(1000000L), col(s"n$sfx")))
          .otherwise(Exact.floorDivBig(
            (col(s"sy$sfx") * den - num * col(s"sx$sfx") +
              col(s"n$sfx") * num * col("x")) * lit(1000000L),
            col(s"n$sfx") * den))
      }
      val m = graft.operators.Curation.withStats(
          st.join(broadcast(g), "stratum").filter(col("tn") > 0 && col("cn") > 0), r)
        .withColumn("m1u", pred("t"))
        .withColumn("m0u", pred("c"))
      val term = (col("m1u") - col("m0u")) +
        when(col("tr") === 1,
          Exact.floorDivBig((dec(col("y")) * lit(1000000L) - col("m1u")) * col("n_s"),
            col("tn")))
        .otherwise(-Exact.floorDivBig(
          (dec(col("y")) * lit(1000000L) - col("m0u")) * col("n_s"), col("cn")))
      val o = m.select(term.as("term"))
        .agg(count(lit(1)).cast("long").as("n_used"),
          sum(col("term")).cast("decimal(38,0)").as("num"))
      val tot = st.agg(count(lit(1)).cast("long").as("n_users"))
      tot.join(o).join(r.select(col("numt"), col("dent"), col("numc"), col("denc")))
        .select(col("n_users"), col("n_used").as("n_used_users"),
          when(col("dent") === 0, lit(0L))
            .otherwise(Exact.floorDivBig(col("numt") * lit(1000000L), col("dent"))
              .cast("long")).as("b1_micro"),
          when(col("denc") === 0, lit(0L))
            .otherwise(Exact.floorDivBig(col("numc") * lit(1000000L), col("denc"))
              .cast("long")).as("b0_micro"),
          Exact.floorDivBig(col("num"), col("n_used")).cast("long").as("ate_aipw_micro"))
        .orderedSmall(col("n_users"))
    }
  }

  /** Restricted cubic-spline rate curve (#438, r11; Harrell 2001
    * §2.4.4 / Stone & Koo 1985): smooth the hourly event-rate series
    * with the 4-knot natural-spline basis (linear tails — the honest
    * extrapolation property for rate/hazard shapes), fit closed-form
    * ([[graft.operators.Spline]]). The corpus collapses to the
    * CALENDAR-BOUNDED hour grid in one aggregate; only the grid
    * crosses to the driver, where the 4×4 normal equations
    * accumulate in ascending-x order (fixed per-row op order) and
    * solve by the deterministic partial-pivot elimination. The
    * oracle replays everything: exact integer knots, ordered
    * list-fold normal equations, the unrolled-elimination recipe,
    * and the same micro-floored 12-point fitted curve.
    */
  val qSplineRate = GateQuery.sql(
    "q_spline_rate",
    s"""WITH grid AS (SELECT xs // 3600 AS x, CAST(count(*) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1),
       |${graft.operators.Spline.fitReplaySql},
       |pts AS (SELECT unnest(range(0, 12)) AS p),
       |evp AS (SELECT p, kk.xmin + (kk.xmax - kk.xmin) * p // 11 AS xe FROM pts, kk)
       |SELECT CAST(evp.p AS BIGINT) AS pt, CAST(evp.xe AS BIGINT) AS x_eval,
       |  CAST(floor((((cf.c[1] + cf.c[2] * CAST(evp.xe AS DOUBLE))
       |    + cf.c[3] * ${graft.operators.Spline.basisSql("CAST(evp.xe AS DOUBLE)", "k1")})
       |    + cf.c[4] * ${graft.operators.Spline.basisSql("CAST(evp.xe AS DOUBLE)", "k2")})
       |    * 1e6) AS BIGINT) AS yhat_micro,
       |  CAST(floor(cf.c[1] * 1e6) AS BIGINT) AS b0_micro,
       |  CAST(floor(cf.c[2] * 1e6) AS BIGINT) AS b1_micro,
       |  CAST(floor(cf.c[3] * 1e6) AS BIGINT) AS g1_micro,
       |  CAST(floor(cf.c[4] * 1e6) AS BIGINT) AS g2_micro
       |FROM evp, kk, cf ORDER BY pt""".stripMargin) { (s, d) =>
    import graft.operators.Spline
    val g = ev(s, d)
      .groupBy(Binning.floorDiv(col("xs"), 3600L).as("x"))
      .agg(count(lit(1)).cast("long").as("y"))
    val rows = g.orderBy(col("x")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    require(rows.nonEmpty, "q_spline_rate: empty events relation — no hour grid to fit")
    val xmin = rows.head._1
    val xmax = rows.last._1
    val ks = Spline.knots(xmin, xmax)
    val cf = Spline.fit(rows, ks)
    def flo(v: Double) = math.floor(v * 1e6).toLong
    val out = (0 to 11).map { p =>
      val xe = xmin + (xmax - xmin) * p / 11
      val x = xe.toDouble
      val yhat = ((cf(0) + cf(1) * x) + cf(2) * Spline.basis(x, ks, 0)) +
        cf(3) * Spline.basis(x, ks, 1)
      (p.toLong, xe, flo(yhat), flo(cf(0)), flo(cf(1)), flo(cf(2)), flo(cf(3)))
    }
    import s.implicits._
    out.toDF("pt", "x_eval", "yhat_micro", "b0_micro", "b1_micro", "g1_micro", "g2_micro")
      .orderedSmall(col("pt"))
  }

  /** Mantel–Haenszel pooled odds ratio + CMH test (#343): the
    * STRATIFIED upgrade of #296 — pooling conversion odds across
    * user strata without letting a confounded stratum mix (Mantel &
    * Haenszel 1959; the Simpson's-paradox-proof effect estimate
    * every covariate-imbalanced A/B readout needs):
    *
    *   OR_MH = Σᵢ aᵢdᵢ/nᵢ / Σᵢ bᵢcᵢ/nᵢ,
    *   χ²_CMH = (Σaᵢ − ΣE[aᵢ])² / ΣV(aᵢ).
    *
    * Per-stratum ratio terms, hypergeometric means and variances are
    * micro/pico-floored from decimal-lifted exact integer products
    * (the 4-factor V numerator overflows int64) BEFORE the k-bounded
    * sums; OR_MH one exact integer ppm ratio; χ² one mirrored double.
    * Shape: users collapse once, ONE conditional aggregate per
    * stratum (k = 4 rows), one global sum.
    */
  val qMantelHaenszel = GateQuery.sql(
    "q_mantel_haenszel",
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM $E e GROUP BY user_id),
       |c AS (SELECT (user_id // 2) % 4 AS st,
       |    CAST(count(*) FILTER (user_id % 2 = 1 AND conv = 1) AS BIGINT) AS a,
       |    CAST(count(*) FILTER (user_id % 2 = 1 AND conv = 0) AS BIGINT) AS b,
       |    CAST(count(*) FILTER (user_id % 2 = 0 AND conv = 1) AS BIGINT) AS c,
       |    CAST(count(*) FILTER (user_id % 2 = 0 AND conv = 0) AS BIGINT) AS d
       |  FROM u GROUP BY 1),
       |t AS (SELECT st, a, b, c, d, a + b + c + d AS n FROM c WHERE a + b + c + d > 1),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(a) AS BIGINT) AS sa,
       |    CAST(sum((CAST(a AS HUGEINT) * d * 1000000) // n) AS BIGINT) AS rnum,
       |    CAST(sum((CAST(b AS HUGEINT) * c * 1000000) // n) AS BIGINT) AS rden,
       |    CAST(sum((CAST(a + b AS HUGEINT) * (a + c) * 1000000) // n) AS BIGINT) AS se,
       |    CAST(sum((CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d) * 1000000000000)
       |      // (CAST(n AS HUGEINT) * n * (n - 1))) AS BIGINT) AS sv
       |  FROM t)
       |SELECT k AS n_strata, sa AS a_total,
       |  CASE WHEN rden = 0 THEN NULL
       |    ELSE (rnum * 1000000) // rden END AS or_mh_ppm,
       |  se AS e_total_micro, sv AS v_total_pico,
       |  CASE WHEN sv = 0 THEN NULL
       |    ELSE round((CAST(sa AS DOUBLE) * 1000000 - se)
       |      * (CAST(sa AS DOUBLE) * 1000000 - se) / (1000000.0 * sv), 4) + 0.0
       |  END AS chi2_cmh
       |FROM s""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      .select(col("user_id"), col("conv"),
        pmod(expr("user_id div 2"), lit(4L)).as("st"),
        pmod(col("user_id"), lit(2L)).as("ex"))
    val c = u.groupBy(col("st")).agg(
      count(when(col("ex") === 1 && col("conv") === 1, 1)).cast("long").as("a"),
      count(when(col("ex") === 1 && col("conv") === 0, 1)).cast("long").as("b"),
      count(when(col("ex") === 0 && col("conv") === 1, 1)).cast("long").as("c"),
      count(when(col("ex") === 0 && col("conv") === 0, 1)).cast("long").as("d"))
    def dec(x: Column) = x.cast("decimal(38,0)")
    val t = c.withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
    val st = t.agg(count(lit(1)).cast("long").as("k"),
      sum(col("a")).cast("long").as("sa"),
      sum(floorDivBig(dec(col("a")) * col("d") * lit(1000000L), col("n")))
        .cast("long").as("rnum"),
      sum(floorDivBig(dec(col("b")) * col("c") * lit(1000000L), col("n")))
        .cast("long").as("rden"),
      sum(floorDivBig(dec(col("a") + col("b")) * (col("a") + col("c")) * lit(1000000L),
        col("n"))).cast("long").as("se"),
      sum(floorDivBig(
        dec(col("a") + col("b")) * (col("c") + col("d")) * (col("a") + col("c")) *
          (col("b") + col("d")) * lit(1000000000000L),
        dec(col("n")) * col("n") * (col("n") - 1))).cast("long").as("sv"))
    st.select(col("k").as("n_strata"), col("sa").as("a_total"),
      when(col("rden") === 0, lit(null).cast("long"))
        .otherwise(floorDivBig(dec(col("rnum")) * lit(1000000L), col("rden"))
          .cast("long")).as("or_mh_ppm"),
      col("se").as("e_total_micro"), col("sv").as("v_total_pico"),
      when(col("sv") === 0, lit(null).cast("double"))
        .otherwise(round((col("sa").cast("double") * lit(1000000L) - col("se")) *
          (col("sa").cast("double") * lit(1000000L) - col("se")) /
          (lit(1000000.0) * col("sv")), 4) + lit(0.0)).as("chi2_cmh"))
  }

  /** Nelson–Aalen cumulative hazard (#344): the estimator-side
    * companion of #187's Kaplan–Meier — Ĥ(t) = Σ dᵢ/nᵢ with the
    * Poisson-type variance Σ dᵢ(nᵢ−dᵢ)/nᵢ³ (Nelson 1972, Aalen
    * 1978); preferred over −ln Ŝ for small risk sets and the input
    * to every hazard-ratio eyeball. SAME lifetime/censoring
    * derivation and descending at-risk windows as #187; per-time
    * increments are exact micro/pico floor divisions (no ln at
    * all — more exact than KM's quantized logs), cumulated by the
    * ascending window over the VALUE-COLLAPSED lifetime grid.
    */
  val qNelsonAalen = GateQuery.sql(
    "q_nelson_aalen",
    s"""WITH u AS (SELECT user_id,
       |    (max(xs) - min(xs)) // 86400 AS lt,
       |    CASE WHEN max(xs) >= (SELECT max(xs) FROM $E e2) - 7 * 86400
       |      THEN 1 ELSE 0 END AS censored
       |  FROM $E e GROUP BY user_id),
       |t AS (SELECT lt, count(*) AS n_at,
       |    CAST(sum(1 - censored) AS BIGINT) AS d,
       |    CAST(sum(censored) AS BIGINT) AS cens
       |  FROM u GROUP BY lt),
       |r AS (SELECT *,
       |    CAST(sum(n_at) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
       |  FROM t)
       |SELECT lt AS t_days, n_risk, d AS n_deaths, cens AS n_censored,
       |  CAST(sum((d * 1000000) // n_risk)
       |    OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hazard_micro,
       |  CAST(sum((CAST(d AS HUGEINT) * (n_risk - d) * 1000000000000)
       |      // (CAST(n_risk AS HUGEINT) * n_risk * n_risk))
       |    OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_var_pico
       |FROM r ORDER BY t_days""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("mxs"))
    val u = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")) - min(col("xs")), 86400L).as("lt"),
        max(col("xs")).as("last_xs"))
      .join(broadcast(mx))
      .select(col("lt"),
        when(col("last_xs") >= col("mxs") - lit(7L * 86400L), 1L).otherwise(0L)
          .as("censored"))
    val t = u.groupBy(col("lt"))
      .agg(count(lit(1)).as("n_at"),
        Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("d"),
        Exact.sumUnits(col("censored")).cast("long").as("cens"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("lt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def dec(x: Column) = x.cast("decimal(38,0)")
    val r = t.withColumn("n_risk", sum(col("n_at")).over(wDesc).cast("long"))
    r.select(col("lt").as("t_days"), col("n_risk"), col("d").as("n_deaths"),
        col("cens").as("n_censored"),
        sum(Binning.floorDivCol(col("d") * lit(1000000L), col("n_risk")))
          .over(wAsc).cast("long").as("cum_hazard_micro"),
        sum(floorDivBig(dec(col("d")) * (col("n_risk") - col("d")) * lit(1000000000000L),
          dec(col("n_risk")) * col("n_risk") * col("n_risk")))
          .over(wAsc).cast("long").as("cum_var_pico"))
      .orderedSmall(col("t_days"))
  }

  /** Empirical-Bayes rate shrinkage (#297): beta-binomial shrinkage
    * of per-user purchase rates (Robbins 1956 / the "small-n rate
    * ranking" classic) — a user with 1/1 purchases must NOT outrank
    * one with 90/100. Method-of-moments prior (α, β) from the
    * corpus-wide rate distribution; posterior mean (k+α)/(n+α+β)
    * per user. Discipline: raw rates are ppm-FLOORED integers
    * before the moment sums (Σp, Σp² exact — a float Σ(k/n) is
    * order-dependent), the prior is ONE mirrored double pair on a
    * 1-row broadcast, and each user's shrunk rate is micro-floored
    * back to an integer before the cohort mean. Degenerate variance
    * (vr ≤ 0 or ≥ m(1−m)) falls back to the uniform prior α=β=1 on
    * both engines.
    */
  val qEbShrinkage = GateQuery.sql(
    "q_eb_shrinkage",
    s"""WITH u AS (SELECT user_id, count(*) AS n,
       |    count(*) FILTER (event_type = 'purchase') AS k
       |  FROM $E e GROUP BY user_id),
       |p AS (SELECT user_id, n, k, CAST(k * 1000000 // n AS BIGINT) AS p_ppm FROM u),
       |st AS (SELECT count(*) AS nu, CAST(sum(p_ppm) AS HUGEINT) AS sp,
       |    CAST(sum(CAST(p_ppm AS HUGEINT) * p_ppm) AS HUGEINT) AS sq FROM p),
       |pr AS (SELECT nu,
       |    CAST(sp AS DOUBLE) / nu / 1000000.0 AS mr,
       |    (CAST(sq AS DOUBLE) / nu - (CAST(sp AS DOUBLE) / nu) * (CAST(sp AS DOUBLE) / nu))
       |      / 1000000000000.0 AS vr
       |  FROM st),
       |ab AS (SELECT
       |    CASE WHEN vr > 0 AND mr * (1.0 - mr) > vr
       |      THEN mr * (mr * (1.0 - mr) / vr - 1.0) ELSE 1.0 END AS alpha,
       |    CASE WHEN vr > 0 AND mr * (1.0 - mr) > vr
       |      THEN (1.0 - mr) * (mr * (1.0 - mr) / vr - 1.0) ELSE 1.0 END AS beta
       |  FROM pr),
       |sh AS (SELECT p.user_id % 8 AS g, p.n, p.k,
       |    CAST(floor((p.k + a.alpha) * 1000000.0 / (p.n + a.alpha + a.beta)) AS BIGINT) AS s_ppm,
       |    a.alpha AS alpha, a.beta AS beta
       |  FROM p CROSS JOIN ab a)
       |SELECT g AS cohort, CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(sum(k) * 1000000 // sum(n) AS BIGINT) AS raw_rate_ppm,
       |  CAST(sum(s_ppm) // count(*) AS BIGINT) AS mean_shrunk_ppm,
       |  round(any_value(alpha), 6) + 0.0 AS alpha,
       |  round(any_value(beta), 6) + 0.0 AS beta
       |FROM sh GROUP BY g ORDER BY cohort""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      count(when(col("event_type") === "purchase", 1)).as("k"))
    val p = u.withColumn("p_ppm", expr("k * 1000000 div n"))
    val st = p.agg(count(lit(1)).as("nu"),
      sum(col("p_ppm")).cast("decimal(38,0)").as("sp"),
      sum(col("p_ppm").cast("decimal(38,0)") * col("p_ppm")).cast("decimal(38,0)").as("sq"))
    val mr = col("sp").cast("double") / col("nu") / lit(1000000.0)
    val vr = (col("sq").cast("double") / col("nu") -
      (col("sp").cast("double") / col("nu")) * (col("sp").cast("double") / col("nu"))) /
      lit(1000000000000.0)
    val s0 = mr * (lit(1.0) - mr) / vr - lit(1.0)
    val ok = vr > 0 && mr * (lit(1.0) - mr) > vr
    val ab = st.select(
      when(ok, mr * s0).otherwise(lit(1.0)).as("alpha"),
      when(ok, (lit(1.0) - mr) * s0).otherwise(lit(1.0)).as("beta"))
    val sh = p.crossJoin(broadcast(ab))
      .select(pmod(col("user_id"), lit(8L)).as("g"), col("n"), col("k"),
        floor((col("k") + col("alpha")) * lit(1000000.0) /
          (col("n") + col("alpha") + col("beta"))).cast("long").as("s_ppm"),
        col("alpha"), col("beta"))
    sh.groupBy(col("g")).agg(
        count(lit(1)).cast("long").as("n_users"),
        floorDivBig(sum(col("k")).cast("decimal(38,0)") * lit(1000000L),
          sum(col("n")).cast("decimal(38,0)")).cast("long").as("raw_rate_ppm"),
        floorDivBig(sum(col("s_ppm")).cast("decimal(38,0)"),
          count(lit(1)).cast("decimal(38,0)")).cast("long").as("mean_shrunk_ppm"),
        (round(first(col("alpha")), 6) + lit(0.0)).as("alpha"),
        (round(first(col("beta")), 6) + lit(0.0)).as("beta"))
      .withColumnRenamed("g", "cohort")
      .orderedSmall(col("cohort"))
  }

  /** A/B-test power: minimum detectable effect (#298): per event
    * type, the smallest true mean difference a two-sample test on
    * the current cohort sizes would detect at α = 0.05 (two-sided)
    * with 80% power — MDE = (z_{α/2} + z_β)·s_p·√(1/n₁+1/n₂), the
    * experiment-DESIGN companion to Welch's t (#179, which judges
    * after the fact). The z quantiles are LITERAL doubles written
    * identically on both engines (the NDCG/Benford literal-domain
    * trick — no inverse-CDF libm in the gate path); pooled variance
    * comes from exact integer (n, S, Q) cells in ONE conditional
    * aggregate. Degenerate cohorts (n ≤ 1) or zero pooled variance
    * (exact integer predicate) → NULL.
    */
  val qPowerMde = GateQuery.sql(
    "q_power_mde",
    s"""WITH c AS (SELECT event_type, user_id, ${centsSql("vd")} AS c FROM $E e),
       |a AS (SELECT event_type,
       |    count(*) FILTER (user_id % 2 = 0) AS n1,
       |    CAST(coalesce(sum(c) FILTER (user_id % 2 = 0), 0) AS BIGINT) AS s1,
       |    CAST(coalesce(sum(CAST(c AS HUGEINT) * c) FILTER (user_id % 2 = 0), 0) AS HUGEINT) AS q1,
       |    count(*) FILTER (user_id % 2 = 1) AS n2,
       |    CAST(coalesce(sum(c) FILTER (user_id % 2 = 1), 0) AS BIGINT) AS s2,
       |    CAST(coalesce(sum(CAST(c AS HUGEINT) * c) FILTER (user_id % 2 = 1), 0) AS HUGEINT) AS q2
       |  FROM c GROUP BY 1)
       |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  CASE WHEN n1 > 1 AND n2 > 1
       |      AND (n1 * q1 - CAST(s1 AS HUGEINT) * s1) + (n2 * q2 - CAST(s2 AS HUGEINT) * s2) > 0
       |    THEN round((1.959964 + 0.841621)
       |      * sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
       |            + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)) / (n1 + n2 - 2))
       |      * sqrt(1.0 / n1 + 1.0 / n2), 4) + 0.0
       |    ELSE NULL END AS mde_cents,
       |  round(CAST(s1 + s2 AS DOUBLE) / (n1 + n2), 4) + 0.0 AS pooled_mean_cents
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val c = ev(s, d).select(col("event_type"), col("user_id"), Exact.cents(col("vd")).as("c"))
    def side(i: Int, r: Int): Seq[Column] = {
      val f = pmod(col("user_id"), lit(2L)) === r
      Seq(count(when(f, 1)).as(s"n$i"),
        coalesce(Exact.sumUnits(when(f, col("c"))), lit(0)).cast("long").as(s"s$i"),
        coalesce(sum(when(f, col("c") * col("c")).cast("decimal(38,0)")), lit(0))
          .cast("decimal(38,0)").as(s"q$i"))
    }
    val a = c.groupBy(col("event_type")).agg(
      side(1, 0).head, (side(1, 0).tail ++ side(2, 1)): _*)
    val ssw = (col("n1") * col("q1") - col("s1").cast("decimal(38,0)") * col("s1")) +
      (col("n2") * col("q2") - col("s2").cast("decimal(38,0)") * col("s2"))
    val sp = sqrt(((col("q1").cast("double") - col("s1").cast("double") * col("s1") / col("n1")) +
      (col("q2").cast("double") - col("s2").cast("double") * col("s2") / col("n2"))) /
      (col("n1") + col("n2") - 2))
    a.select(col("event_type"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        when(col("n1") > 1 && col("n2") > 1 && ssw > 0,
          round(lit(1.959964 + 0.841621) * sp * sqrt(lit(1.0) / col("n1") + lit(1.0) / col("n2")), 4)
            + lit(0.0))
          .otherwise(lit(null).cast("double")).as("mde_cents"),
        (round((col("s1") + col("s2")).cast("double") / (col("n1") + col("n2")), 4) + lit(0.0))
          .as("pooled_mean_cents"))
      .orderedSmall(col("event_type"))
  }

  /** Gumbel extreme-value fit (#299): per event type, fit a Gumbel
    * distribution to the HOURLY BLOCK MAXIMA of the value series
    * (the Fisher–Tippett/EVT domain for exponential-tailed maxima)
    * by method of moments — β̂ = √(6·s²)/π, μ̂ = x̄ − γ·β̂ — and
    * report the 100-block return level μ̂ + β̂·(−ln(−ln(0.99))):
    * "what hourly peak do we see once per 100 hours", the capacity-
    * planning question next to the Hill TAIL-INDEX (#240, power-law
    * tails) and max-drawdown (#284). Block maxima are exact integer
    * cents off the calendar-bounded (type, hour) grid; π, Euler γ
    * and the return-level constant are literals written identically
    * on both engines (libm never runs in the gate path); variance
    * positivity is an exact integer predicate.
    */
  val qExtremeValue = GateQuery.sql(
    "q_extreme_value",
    s"""WITH b AS (SELECT event_type, ts_us // 3600000000 AS hr,
       |    max(${centsSql("vd")}) AS mx
       |  FROM $E e GROUP BY 1, 2),
       |a AS (SELECT event_type, count(*) AS nb, CAST(sum(mx) AS HUGEINT) AS sb,
       |    CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS qb
       |  FROM b GROUP BY 1)
       |SELECT event_type, CAST(nb AS BIGINT) AS n_blocks,
       |  CASE WHEN nb > 1 AND nb * qb - sb * sb > 0
       |    THEN round(CAST(sb AS DOUBLE) / nb - 0.5772156649015329
       |      * (sqrt(6.0 * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)))
       |         / 3.141592653589793), 4) + 0.0
       |    ELSE NULL END AS mu_cents,
       |  CASE WHEN nb > 1 AND nb * qb - sb * sb > 0
       |    THEN round(sqrt(6.0 * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)))
       |      / 3.141592653589793, 4) + 0.0
       |    ELSE NULL END AS beta_cents,
       |  CASE WHEN nb > 1 AND nb * qb - sb * sb > 0
       |    THEN round(CAST(sb AS DOUBLE) / nb - 0.5772156649015329
       |      * (sqrt(6.0 * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)))
       |         / 3.141592653589793)
       |      + (sqrt(6.0 * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)))
       |         / 3.141592653589793) * 4.600149226776579, 4) + 0.0
       |    ELSE NULL END AS ret100_cents
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val b = ev(s, d).groupBy(col("event_type"), expr("ts_us div 3600000000").as("hr"))
      .agg(max(Exact.cents(col("vd"))).as("mx"))
    val a = b.groupBy(col("event_type")).agg(
      count(lit(1)).as("nb"),
      sum(col("mx")).cast("decimal(38,0)").as("sb"),
      sum(col("mx").cast("decimal(38,0)") * col("mx")).cast("decimal(38,0)").as("qb"))
    val okVar = col("nb") > 1 &&
      col("nb") * col("qb") - col("sb").cast("decimal(38,0)") * col("sb") > 0
    val beta = sqrt(lit(6.0) * ((col("qb").cast("double") -
      col("sb").cast("double") * col("sb") / col("nb")) / (col("nb") - 1))) /
      lit(3.141592653589793)
    val mu = col("sb").cast("double") / col("nb") - lit(0.5772156649015329) * beta
    a.select(col("event_type"), col("nb").cast("long").as("n_blocks"),
        when(okVar, round(mu, 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("mu_cents"),
        when(okVar, round(beta, 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("beta_cents"),
        when(okVar, round(mu + beta * lit(4.600149226776579), 4) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("ret100_cents"))
      .orderedSmall(col("event_type"))
  }

  /** Sample-ratio mismatch check (#301): the FIRST gate of every
    * A/B readout — are users split 50/50 between the arms as the
    * assignment (user_id mod 2) promises? χ²₁ = (n₀−n₁)²/(n₀+n₁)
    * against the even split, ENTIRELY in exact integers
    * (micro-floored), compared to the 3.841459 critical value as an
    * integer micro literal — a biased logging pipeline flips
    * srm_detected long before any metric test is trustworthy
    * (Fabijan et al. 2019 diagnose most broken experiments here).
    * Users collapse to one distinct relation; one conditional
    * aggregate.
    */
  val qSrm = GateQuery.sql(
    "q_srm",
    s"""WITH u AS (SELECT DISTINCT user_id FROM $E e),
       |c AS (SELECT count(*) FILTER (user_id % 2 = 0) AS n0,
       |    count(*) FILTER (user_id % 2 = 1) AS n1 FROM u)
       |SELECT CAST(n0 AS BIGINT) AS n_arm0, CAST(n1 AS BIGINT) AS n_arm1,
       |  CASE WHEN n0 + n1 > 0
       |    THEN CAST((CAST(n0 - n1 AS HUGEINT) * (n0 - n1) * 1000000) // (n0 + n1) AS BIGINT)
       |    ELSE NULL END AS chi2_micro,
       |  CASE WHEN n0 + n1 > 0
       |    THEN (CAST(n0 - n1 AS HUGEINT) * (n0 - n1) * 1000000) // (n0 + n1) > 3841459
       |    ELSE NULL END AS srm_detected
       |FROM c""".stripMargin) { (s, d) =>
    val u = ev(s, d).select(col("user_id")).distinct()
    val c = u.agg(
      count(when(pmod(col("user_id"), lit(2L)) === 0, 1)).as("n0"),
      count(when(pmod(col("user_id"), lit(2L)) === 1, 1)).as("n1"))
    val chi2 = floorDivBig(
      (col("n0") - col("n1")).cast("decimal(38,0)") * (col("n0") - col("n1")) * lit(1000000L),
      (col("n0") + col("n1")).cast("decimal(38,0)"))
    c.select(col("n0").cast("long").as("n_arm0"), col("n1").cast("long").as("n_arm1"),
        when(col("n0") + col("n1") > 0, chi2.cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"),
        when(col("n0") + col("n1") > 0, chi2 > 3841459L)
          .otherwise(lit(null).cast("boolean")).as("srm_detected"))
      .orderedSmall(col("n_arm0"))
  }

  /** Ljung–Box portmanteau test (#313): is the hourly series white
    * noise ACROSS the first 3 lags jointly — Q = n(n+2)·Σ_k r_k²/(n−k)
    * (Ljung & Box 1978) against χ²₃, the standard residual-whiteness
    * gate after any #262/#191 fit, aggregating what #181 reports
    * per lag. Reuses #181's EXACT deviation integers verbatim:
    * r_k = num_k/den as the mirrored double of exact ints, each
    * lag's r_k²/(n−k) micro-floored to an exact integer BEFORE the
    * 3-bounded sum, and Q leaves as one exact n(n+2)-scaled integer
    * (squaring num_k directly would overflow int128 at this SF —
    * the double square of the exact ratio is the pinned contract).
    */
  val qLjungBox = GateQuery.sql(
    "q_ljung_box", {
      val terms = AcfLags.map(k =>
        s"""CAST(floor((CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE))
           |      * (CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE))
           |      / (n - $k) * 1000000) AS BIGINT)""".stripMargin).mkString("\n  + ")
      s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E e GROUP BY 1, 2),
         |st AS (SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS s
         |  FROM g GROUP BY 1),
         |l AS (SELECT g.event_type, st.n, st.s, y,
         |    ${AcfLags.map(k => s"lead(y, $k) OVER (PARTITION BY g.event_type ORDER BY grid) AS y$k")
               .mkString(", ")}
         |  FROM g JOIN st USING (event_type)),
         |a AS (SELECT event_type, any_value(n) AS n,
         |    CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)) AS HUGEINT) AS den,
         |    ${AcfLags.map(k =>
               s"CAST(sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y$k - s)) AS HUGEINT) AS num$k")
               .mkString(", ")}
         |  FROM l GROUP BY event_type)
         |SELECT event_type, CAST(n AS BIGINT) AS n_points,
         |  CAST(${AcfLags.max} AS BIGINT) AS n_lags,
         |  CASE WHEN den > 0 AND n > ${AcfLags.max} THEN
         |    CAST(n AS BIGINT) * (n + 2) * ($terms)
         |  END AS q_scaled_micro
         |FROM a ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val st = g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumUnits(col("y")).cast("long").as("s"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val withLead = AcfLags.foldLeft(g.join(broadcast(st), "event_type")) { (df, k) =>
      df.withColumn(s"y$k", lead(col("y"), k).over(wo))
    }
    def dev(c: Column) = col("n").cast("decimal(38,0)") * c - col("s")
    val aggCols: Seq[Column] =
      sum(dev(col("y")) * dev(col("y"))).cast("decimal(38,0)").as("den") +:
        AcfLags.map(k =>
          sum(dev(col("y")) * dev(col(s"y$k"))).cast("decimal(38,0)").as(s"num$k"))
    val a = withLead.groupBy(col("event_type"))
      .agg(first(col("n")).as("n"), aggCols: _*)
    val termSum = AcfLags.map { k =>
      val r = col(s"num$k").cast("double") / col("den").cast("double")
      floor(r * r / (col("n") - k) * lit(1000000)).cast("long")
    }.reduce(_ + _)
    a.select(col("event_type"), col("n").cast("long").as("n_points"),
        lit(AcfLags.max.toLong).as("n_lags"),
        when(col("den") > 0 && col("n") > AcfLags.max,
          col("n").cast("long") * (col("n") + 2) * termSum)
          .otherwise(lit(null).cast("long")).as("q_scaled_micro"))
      .orderedSmall(col("event_type"))
  }

  /** Durbin–Watson statistic (#312): first-order autocorrelation of
    * the LINEAR-TREND residuals of each event type's hourly series
    * (Durbin & Watson 1950) — the regression-diagnostic companion to
    * the raw-series ACF (#181): a clean trend fit with DW far from 2
    * says the errors are serially dependent and every OLS standard
    * error (#9, #141) is understated. Slope/intercept come from the
    * exact closed-form sums (#9's discipline) as mirrored doubles;
    * each residual micro-floors to an exact BIGINT per hour; DW =
    * Σ(ẽ_t−ẽ_{t−1})²/Σẽ_t² is then an EXACT integer ratio reported
    * in micro units (one ordered window + one aggregate per type,
    * value range [0,4], 2 = independent). Degenerate series (zero
    * residual energy or vertical/constant grids, n<3) are NULL by
    * exact predicate.
    */
  val qDurbinWatson = GateQuery.sql(
    "q_durbin_watson",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(grid) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(grid AS HUGEINT) * grid) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(grid AS HUGEINT) * y) AS HUGEINT) AS sxy
       |  FROM g GROUP BY 1),
       |b AS (SELECT event_type, n,
       |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       |    sx, sy, sxx
       |  FROM st WHERE n >= 3 AND n * sxx - sx * sx <> 0),
       |r AS (SELECT g.event_type, g.grid,
       |    CAST(floor((CAST(y AS DOUBLE)
       |        - (CAST(b.sy AS DOUBLE) - b.slope * CAST(b.sx AS DOUBLE)) / b.n
       |        - b.slope * g.grid) * 1000000) AS BIGINT) AS em
       |  FROM g JOIN b USING (event_type)),
       |l AS (SELECT event_type, em,
       |    lag(em) OVER (PARTITION BY event_type ORDER BY grid) AS em1
       |  FROM r),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points,
       |    CAST(sum(CAST(em - em1 AS HUGEINT) * (em - em1)) AS HUGEINT) AS num,
       |    CAST(sum(CAST(em AS HUGEINT) * em) AS HUGEINT) AS den
       |  FROM l GROUP BY 1)
       |SELECT event_type, n_points,
       |  CASE WHEN den > 0 THEN CAST((num * 1000000) // den AS BIGINT) END AS dw_micro
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val gd = col("grid").cast("decimal(38,0)")
    val st = g.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("grid")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(gd * col("grid")).cast("decimal(38,0)").as("sxx"),
      sum(gd * col("y")).cast("decimal(38,0)").as("sxy"))
    val det = col("n").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx")
    val b = st
      .filter(col("n") >= 3 && det =!= 0)
      .select(col("event_type"), col("n"),
        ((col("n").cast("decimal(38,0)") * col("sxy") - col("sx") * col("sy")).cast("double") /
          det.cast("double")).as("slope"),
        col("sx"), col("sy"))
    val r = g.join(broadcast(b), "event_type")
      .select(col("event_type"), col("grid"),
        floor((col("y").cast("double") -
          (col("sy").cast("double") - col("slope") * col("sx").cast("double")) / col("n") -
          col("slope") * col("grid")) * lit(1000000)).cast("long").as("em"))
    val l = r.withColumn("em1",
      lag(col("em"), 1).over(Window.partitionBy(col("event_type")).orderBy(col("grid"))))
    val a = l.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n_points"),
      sum((col("em") - col("em1")).cast("decimal(38,0)") * (col("em") - col("em1")))
        .cast("decimal(38,0)").as("num"),
      sum(col("em").cast("decimal(38,0)") * col("em")).cast("decimal(38,0)").as("den"))
    a.select(col("event_type"), col("n_points"),
        when(col("den") > 0,
          Exact.floorDivBig(col("num") * lit(1000000L), col("den")).cast("long"))
          .otherwise(lit(null).cast("long")).as("dw_micro"))
      .orderedSmall(col("event_type"))
  }

  /** Dickey–Fuller unit-root test (#409, Dickey & Fuller 1979): per
    * event type, regress Δy on y₋₁ (with drift) over the hourly
    * series — the "is this series actually mean-reverting or a
    * random walk?" test that decides whether the trend fits (#141),
    * Holt (#191) and the changepoint scan (#224) are even
    * well-posed. ρ ≈ 0 (t near 0) = unit root, strongly negative t
    * = stationary. One lag window + one moment aggregate, exact
    * decimal sums; ρ, its standard error and the DF t-statistic are
    * the final mirrored doubles.
    */
  val qDickeyFuller = GateQuery.sql(
    "q_dickey_fuller",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |l AS (SELECT event_type, y,
       |    lag(y) OVER (PARTITION BY event_type ORDER BY grid) AS y1
       |  FROM g),
       |dd AS (SELECT event_type, y1 AS x, y - y1 AS z FROM l WHERE y1 IS NOT NULL),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(z) AS HUGEINT) AS sz,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
       |    CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz
       |  FROM dd GROUP BY 1)
       |SELECT event_type, n,
       |  CASE WHEN n >= 3 AND n * sxx - sx * sx <> 0 THEN
       |    round(CAST(n * sxz - sx * sz AS DOUBLE)
       |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0 END AS rho,
       |  CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
       |      AND CAST(n * szz - sz * sz AS DOUBLE) / n
       |        - CAST(n * sxz - sx * sz AS DOUBLE) * CAST(n * sxz - sx * sz AS DOUBLE)
       |          / (CAST(n AS DOUBLE) * CAST(n * sxx - sx * sx AS DOUBLE)) > 0 THEN
       |    round((CAST(n * sxz - sx * sz AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
       |      * sqrt((CAST(n * sxx - sx * sx AS DOUBLE) / n) * (n - 2.0)
       |        / (CAST(n * szz - sz * sz AS DOUBLE) / n
       |          - CAST(n * sxz - sx * sz AS DOUBLE) * CAST(n * sxz - sx * sz AS DOUBLE)
       |            / (CAST(n AS DOUBLE) * CAST(n * sxx - sx * sx AS DOUBLE)))), 4) + 0.0
       |  END AS df_t
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val l = g.withColumn("y1",
      lag(col("y"), 1).over(Window.partitionBy(col("event_type")).orderBy(col("grid"))))
    val dd = l.filter(col("y1").isNotNull)
      .select(col("event_type"), col("y1").as("x"), (col("y") - col("y1")).as("z"))
    def dec(x: Column) = x.cast("decimal(38,0)")
    val a = dd.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("z")).cast("decimal(38,0)").as("sz"),
      sum(dec(col("x")) * col("x")).cast("decimal(38,0)").as("sxx"),
      sum(dec(col("x")) * col("z")).cast("decimal(38,0)").as("sxz"),
      sum(dec(col("z")) * col("z")).cast("decimal(38,0)").as("szz"))
    val nd = col("n").cast("decimal(38,0)")
    val vx = nd * col("sxx") - col("sx") * col("sx")
    val cxz = nd * col("sxz") - col("sx") * col("sz")
    val vz = nd * col("szz") - col("sz") * col("sz")
    def d2(x: Column) = x.cast("double")
    val rho = d2(cxz) / d2(vx)
    val ssr = d2(vz) / col("n") - d2(cxz) * d2(cxz) / (col("n").cast("double") * d2(vx))
    a.select(col("event_type"), col("n"),
        when(col("n") >= 3 && vx =!= 0, round(rho, 6) + lit(0.0)).as("rho"),
        when(col("n") >= 3 && vx > 0 && ssr > 0,
          round(rho * sqrt((d2(vx) / col("n")) * (col("n").cast("double") - lit(2.0)) /
            ssr), 4) + lit(0.0)).as("df_t"))
      .orderedSmall(col("event_type"))
  }

  /** Granger causality, one lag (#410, Granger 1969): do CLICKS
    * forecast PURCHASES beyond purchases' own history? F compares
    * the restricted AR(1) of hourly purchase counts against the
    * unrestricted regression that adds lagged click counts — the
    * canonical lead-lag screen on top of the CCF (#266, which
    * shows correlation at lags but not whether it adds predictive
    * content). Both series share one hourly grid join + one lag
    * window; 2-regressor OLS is the closed-form 2×2 solve over
    * exact decimal sums; SSRs and F are the final mirrored doubles.
    */
  val qGranger = GateQuery.sql(
    "q_granger",
    s"""WITH g AS (SELECT xs // 3600 AS grid,
       |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS y,
       |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS x
       |  FROM $E e GROUP BY 1),
       |l AS (SELECT y, lag(y) OVER (ORDER BY grid) AS a,
       |    lag(x) OVER (ORDER BY grid) AS b
       |  FROM g),
       |dd AS (SELECT y, a, b FROM l WHERE a IS NOT NULL),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS HUGEINT) AS sy, CAST(sum(a) AS HUGEINT) AS sa,
       |    CAST(sum(b) AS HUGEINT) AS sb,
       |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
       |    CAST(sum(CAST(a AS HUGEINT) * a) AS HUGEINT) AS saa,
       |    CAST(sum(CAST(b AS HUGEINT) * b) AS HUGEINT) AS sbb,
       |    CAST(sum(CAST(a AS HUGEINT) * y) AS HUGEINT) AS say,
       |    CAST(sum(CAST(b AS HUGEINT) * y) AS HUGEINT) AS sby,
       |    CAST(sum(CAST(a AS HUGEINT) * b) AS HUGEINT) AS sab
       |  FROM dd),
       |c AS (SELECT n,
       |    CAST(n * syy - sy * sy AS DOUBLE) / n AS cyy,
       |    CAST(n * saa - sa * sa AS DOUBLE) / n AS caa,
       |    CAST(n * sbb - sb * sb AS DOUBLE) / n AS cbb,
       |    CAST(n * say - sa * sy AS DOUBLE) / n AS cay,
       |    CAST(n * sby - sb * sy AS DOUBLE) / n AS cby,
       |    CAST(n * sab - sa * sb AS DOUBLE) / n AS cab
       |  FROM s),
       |f AS (SELECT n, cyy, caa, cay,
       |    caa * cbb - cab * cab AS det,
       |    (cbb * cay - cab * cby) AS b1n, (caa * cby - cab * cay) AS b2n,
       |    cby, cbb, cab
       |  FROM c)
       |SELECT CAST(n AS BIGINT) AS n,
       |  CASE WHEN n >= 4 AND det <> 0 AND caa <> 0
       |      AND cyy - (b1n / det) * cay - (b2n / det) * cby > 0 THEN
       |    round(((cyy - cay * cay / caa)
       |        - (cyy - (b1n / det) * cay - (b2n / det) * cby))
       |      / ((cyy - (b1n / det) * cay - (b2n / det) * cby) / (n - 3.0)), 4) + 0.0
       |  END AS granger_f
       |FROM f""".stripMargin) { (s, d) =>
    val g = ev(s, d)
      .groupBy(Binning.floorDiv(col("xs"), 3600L).as("grid"))
      .agg(count(when(col("event_type") === "purchase", 1)).cast("long").as("y"),
        count(when(col("event_type") === "click", 1)).cast("long").as("x"))
    val wo = Window.orderBy(col("grid"))
    val l = g.withColumn("a", lag(col("y"), 1).over(wo))
      .withColumn("b", lag(col("x"), 1).over(wo))
    val dd = l.filter(col("a").isNotNull).select(col("y"), col("a"), col("b"))
    def dec(x: Column) = x.cast("decimal(38,0)")
    val sAgg = dd.agg(count(lit(1)).cast("long").as("n"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(col("a")).cast("decimal(38,0)").as("sa"),
      sum(col("b")).cast("decimal(38,0)").as("sb"),
      sum(dec(col("y")) * col("y")).cast("decimal(38,0)").as("syy"),
      sum(dec(col("a")) * col("a")).cast("decimal(38,0)").as("saa"),
      sum(dec(col("b")) * col("b")).cast("decimal(38,0)").as("sbb"),
      sum(dec(col("a")) * col("y")).cast("decimal(38,0)").as("say"),
      sum(dec(col("b")) * col("y")).cast("decimal(38,0)").as("sby"),
      sum(dec(col("a")) * col("b")).cast("decimal(38,0)").as("sab"))
    val nd = col("n").cast("decimal(38,0)")
    def cen(prod: Column, m1: Column, m2: Column): Column =
      (nd * prod - m1 * m2).cast("double") / col("n").cast("double")
    val c = sAgg.select(col("n"),
      cen(col("syy"), col("sy"), col("sy")).as("cyy"),
      cen(col("saa"), col("sa"), col("sa")).as("caa"),
      cen(col("sbb"), col("sb"), col("sb")).as("cbb"),
      cen(col("say"), col("sa"), col("sy")).as("cay"),
      cen(col("sby"), col("sb"), col("sy")).as("cby"),
      cen(col("sab"), col("sa"), col("sb")).as("cab"))
    val det = col("caa") * col("cbb") - col("cab") * col("cab")
    val b1 = (col("cbb") * col("cay") - col("cab") * col("cby")) / det
    val b2 = (col("caa") * col("cby") - col("cab") * col("cay")) / det
    val ssrU = col("cyy") - b1 * col("cay") - b2 * col("cby")
    val ssrR = col("cyy") - col("cay") * col("cay") / col("caa")
    c.select(col("n"),
      when(col("n") >= 4 && det =!= 0 && col("caa") =!= 0 && ssrU > 0,
        round((ssrR - ssrU) / (ssrU / (col("n").cast("double") - lit(3.0))), 4)
          + lit(0.0)).as("granger_f"))
  }

  /** Breusch–Pagan heteroscedasticity test (#404, Breusch & Pagan
    * 1979, Koenker's studentized LM form): does the VARIANCE of the
    * hourly-trend residuals grow with time? LM = n·R² of the
    * auxiliary regression e² ~ grid — the diagnostic Durbin–Watson
    * (#—serial correlation) can't see: a fan-shaped residual cloud
    * passes DW clean and fails here. Same residual construction as
    * the DW gate but floored to whole CENTS, not micro (the
    * auxiliary regression squares residuals twice — Σe⁴ at micro
    * scale overflows even decimal(38)); the auxiliary R² is one
    * mirrored double from exact decimal sums.
    */
  val qBreuschPagan = GateQuery.sql(
    "q_breusch_pagan",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(grid) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(grid AS HUGEINT) * grid) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(grid AS HUGEINT) * y) AS HUGEINT) AS sxy
       |  FROM g GROUP BY 1),
       |b AS (SELECT event_type, n,
       |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       |    sx, sy
       |  FROM st WHERE n >= 3 AND n * sxx - sx * sx <> 0),
       |r AS (SELECT g.event_type, g.grid,
       |    CAST(floor(CAST(y AS DOUBLE)
       |        - (CAST(b.sy AS DOUBLE) - b.slope * CAST(b.sx AS DOUBLE)) / b.n
       |        - b.slope * g.grid) AS BIGINT) AS em
       |  FROM g JOIN b USING (event_type)),
       |z AS (SELECT event_type, grid AS x, CAST(em AS HUGEINT) * em AS z FROM r),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(z) AS HUGEINT) AS sz,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
       |    CAST(sum(z * z) AS HUGEINT) AS szz
       |  FROM z GROUP BY 1)
       |SELECT event_type, n,
       |  CASE WHEN n * sxx - sx * sx <> 0 AND n * szz - sz * sz <> 0 THEN
       |    round(CAST(n AS DOUBLE)
       |      * CAST(n * sxz - sx * sz AS DOUBLE) * CAST(n * sxz - sx * sz AS DOUBLE)
       |      / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)),
       |      4) + 0.0
       |  END AS bp_lm
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val gd = col("grid").cast("decimal(38,0)")
    val st = g.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("grid")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(gd * col("grid")).cast("decimal(38,0)").as("sxx"),
      sum(gd * col("y")).cast("decimal(38,0)").as("sxy"))
    val det0 = col("n").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx")
    val b = st.filter(col("n") >= 3 && det0 =!= 0)
      .select(col("event_type"), col("n"),
        ((col("n").cast("decimal(38,0)") * col("sxy") - col("sx") * col("sy"))
          .cast("double") / det0.cast("double")).as("slope"),
        col("sx"), col("sy"))
    val r = g.join(broadcast(b), "event_type")
      .select(col("event_type"), col("grid"),
        floor(col("y").cast("double") -
          (col("sy").cast("double") - col("slope") * col("sx").cast("double")) / col("n") -
          col("slope") * col("grid")).cast("long").as("em"))
    val z = r.select(col("event_type"), col("grid").as("x"),
      (col("em").cast("decimal(38,0)") * col("em")).as("z"))
    val a = z.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("z")).cast("decimal(38,0)").as("sz"),
      sum(col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)").as("sxx"),
      sum(col("x").cast("decimal(38,0)") * col("z")).cast("decimal(38,0)").as("sxz"),
      sum(col("z") * col("z")).cast("decimal(38,0)").as("szz"))
    val nd = col("n").cast("decimal(38,0)")
    val vx = nd * col("sxx") - col("sx") * col("sx")
    val vz = nd * col("szz") - col("sz") * col("sz")
    val cxz = nd * col("sxz") - col("sx") * col("sz")
    a.select(col("event_type"), col("n"),
        when(vx =!= 0 && vz =!= 0,
          round(col("n").cast("double") * cxz.cast("double") * cxz.cast("double") /
            (vx.cast("double") * vz.cast("double")), 4) + lit(0.0)).as("bp_lm"))
      .orderedSmall(col("event_type"))
  }

  /** Chow structural-break test (#405, Chow 1960): did the hourly
    * revenue trend CHANGE slope/level at the window midpoint? F
    * compares pooled vs split-regression residual sums — the
    * regression-form changepoint test next to #224 (which detects a
    * MEAN shift; Chow detects a model shift, e.g. same mean but a
    * new growth rate). One conditional aggregate computes pooled
    * and per-half exact moment sums simultaneously; SSRs and F are
    * the final mirrored doubles; degenerate halves yield NULL by
    * exact predicates.
    */
  val qChow = GateQuery.sql(
    "q_chow", {
      def ssr(p: String): String =
        s"""(CAST(n$p * syy$p - sy$p * sy$p AS DOUBLE) / n$p
           |  - CAST(n$p * sxy$p - sx$p * sy$p AS DOUBLE)
           |    * CAST(n$p * sxy$p - sx$p * sy$p AS DOUBLE)
           |    / (CAST(n$p AS DOUBLE) * CAST(n$p * sxx$p - sx$p * sx$p AS DOUBLE)))"""
          .stripMargin.replace("\n", " ")
      def sums(p: String, f: String): String =
        s"""CAST(count(*) FILTER ($f) AS BIGINT) AS n$p,
           |    CAST(sum(grid) FILTER ($f) AS HUGEINT) AS sx$p,
           |    CAST(sum(y) FILTER ($f) AS HUGEINT) AS sy$p,
           |    CAST(sum(CAST(grid AS HUGEINT) * grid) FILTER ($f) AS HUGEINT) AS sxx$p,
           |    CAST(sum(CAST(grid AS HUGEINT) * y) FILTER ($f) AS HUGEINT) AS sxy$p,
           |    CAST(sum(CAST(y AS HUGEINT) * y) FILTER ($f) AS HUGEINT) AS syy$p"""
          .stripMargin
      s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E e GROUP BY 1, 2),
         |m AS (SELECT event_type, (min(grid) + max(grid)) // 2 AS mid
         |  FROM g GROUP BY 1),
         |j AS (SELECT g.event_type, g.grid, g.y, m.mid
         |  FROM g JOIN m USING (event_type)),
         |a AS (SELECT event_type,
         |    ${sums("p", "true")},
         |    ${sums("1", "grid <= mid")},
         |    ${sums("2", "grid > mid")}
         |  FROM j GROUP BY 1)
         |SELECT event_type, np AS n,
         |  CASE WHEN n1 >= 3 AND n2 >= 3
         |      AND n1 * sxx1 - sx1 * sx1 <> 0 AND n2 * sxx2 - sx2 * sx2 <> 0
         |      AND np * sxxp - sxp * sxp <> 0
         |      AND ${ssr("1")} + ${ssr("2")} > 0 THEN
         |    round(((${ssr("p")} - ${ssr("1")} - ${ssr("2")}) / 2.0)
         |      / ((${ssr("1")} + ${ssr("2")}) / (CAST(np AS DOUBLE) - 4.0)), 4) + 0.0
         |  END AS chow_f
         |FROM a ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val m = g.groupBy(col("event_type")).agg(
      Binning.floorDivCol(min(col("grid")) + max(col("grid")), lit(2L)).as("mid"))
    val j = g.join(broadcast(m), "event_type")
    def dec(x: Column) = x.cast("decimal(38,0)")
    def sums(p: String, f: Column) = Seq(
      count(when(f, 1)).cast("long").as(s"n$p"),
      sum(when(f, col("grid"))).cast("decimal(38,0)").as(s"sx$p"),
      sum(when(f, col("y"))).cast("decimal(38,0)").as(s"sy$p"),
      sum(when(f, dec(col("grid")) * col("grid"))).cast("decimal(38,0)").as(s"sxx$p"),
      sum(when(f, dec(col("grid")) * col("y"))).cast("decimal(38,0)").as(s"sxy$p"),
      sum(when(f, dec(col("y")) * col("y"))).cast("decimal(38,0)").as(s"syy$p"))
    val allSums = sums("p", lit(true)) ++
      sums("1", col("grid") <= col("mid")) ++ sums("2", col("grid") > col("mid"))
    val a = j.groupBy(col("event_type")).agg(allSums.head, allSums.tail: _*)
    def ssr(p: String): Column = {
      val n = col(s"n$p").cast("decimal(38,0)")
      val det = n * col(s"sxx$p") - col(s"sx$p") * col(s"sx$p")
      val cxy = n * col(s"sxy$p") - col(s"sx$p") * col(s"sy$p")
      (n * col(s"syy$p") - col(s"sy$p") * col(s"sy$p")).cast("double") /
        col(s"n$p").cast("double") -
        cxy.cast("double") * cxy.cast("double") /
          (col(s"n$p").cast("double") * det.cast("double"))
    }
    def det(p: String): Column = {
      val n = col(s"n$p").cast("decimal(38,0)")
      n * col(s"sxx$p") - col(s"sx$p") * col(s"sx$p")
    }
    val ok = col("n1") >= 3 && col("n2") >= 3 &&
      det("1") =!= 0 && det("2") =!= 0 && det("p") =!= 0 &&
      (ssr("1") + ssr("2")) > 0
    a.select(col("event_type"), col("np").as("n"),
        when(ok,
          round(((ssr("p") - ssr("1") - ssr("2")) / lit(2.0)) /
            ((ssr("1") + ssr("2")) / (col("np").cast("double") - lit(4.0))), 4)
            + lit(0.0)).as("chow_f"))
      .orderedSmall(col("event_type"))
  }

  /** Mood's median test (#403, Mood 1950): are the 8 user cohorts'
    * spend distributions centered on the same median? Counts above
    * the GLOBAL median per cohort vs expectation — the blunt-but-
    * robust k-sample location screen that tolerates wild outliers
    * where Kruskal–Wallis (#211's rank cousin) still reads them.
    * The global median comes off the value-collapsed grid (one
    * cumsum window, the #212 convention); the 2×k chi² telescopes
    * to Σ d_g²·n/(n_g·A·B) with d_g = a_g·n − n_g·A all exact
    * integers, per-term micro floors summed exactly (never a
    * float sum whose order could differ across engines).
    */
  val qMedianTest = GateQuery.sql(
    "q_median_test",
    s"""WITH u AS (SELECT user_id % 8 AS g,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS v
       |  FROM $E t GROUP BY user_id, 1),
       |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
       |w AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
       |    (SELECT CAST(count(*) AS BIGINT) FROM u) AS n FROM vc),
       |md AS (SELECT min(v) AS med FROM w WHERE 2 * cum >= n + 1),
       |ct AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
       |    CAST(count(CASE WHEN v > med THEN 1 END) AS BIGINT) AS ag
       |  FROM u, md GROUP BY 1),
       |tt AS (SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(ag) AS BIGINT) AS a
       |  FROM ct),
       |ch AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(
       |      (CAST(ag * n - ng * a AS HUGEINT) * (ag * n - ng * a) * 1000000 * n)
       |        // (CAST(ng AS HUGEINT) * a * (n - a))) AS HUGEINT) AS chi2m
       |  FROM ct, tt WHERE a > 0 AND a < n)
       |SELECT tt.n, tt.a AS n_above, md.med AS median_cents,
       |  ch.k - 1 AS df, CAST(ch.chi2m AS BIGINT) AS chi2_micro
       |FROM tt, md, ch""".stripMargin) { (s, d) =>
    val u = ev(s, d)
      .groupBy(col("user_id"), pmod(col("user_id"), lit(8L)).as("g"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("v"))
      .select(col("g"), col("v"))
    val vc = u.groupBy(col("v")).agg(count(lit(1)).cast("long").as("c"))
    val n1 = u.agg(count(lit(1)).cast("long").as("n"))
    val w = Curation.withStats(vc, n1)
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))).cast("long"))
    val md = w.filter(lit(2L) * col("cum") >= col("n") + 1)
      .agg(min(col("v")).as("med"))
    val ct = Curation.withStats(u, md).groupBy(col("g")).agg(
      count(lit(1)).cast("long").as("ng"),
      count(when(col("v") > col("med"), 1)).cast("long").as("ag"))
    val tt = ct.agg(sum(col("ng")).cast("long").as("n"),
      sum(col("ag")).cast("long").as("a"))
    val j = Curation.withStats(ct, tt)
    def dec(x: Column) = x.cast("decimal(38,0)")
    val dg = dec(col("ag")) * col("n") - dec(col("ng")) * col("a")
    val term = Exact.floorDivBig(dg * dg * lit(1000000L) * col("n"),
      dec(col("ng")) * col("a") * (col("n") - col("a")))
    val ch = j.filter(col("a") > 0 && col("a") < col("n"))
      .agg(first(col("n")).as("n"), first(col("a")).as("a"),
        count(lit(1)).cast("long").as("k"),
        sum(term).cast("decimal(38,0)").as("chi2m"))
    Curation.withStats(ch, md)
      .select(col("n"), col("a").as("n_above"), col("med").as("median_cents"),
        (col("k") - 1).as("df"), col("chi2m").cast("long").as("chi2_micro"))
  }

  /** Turning-point randomness test (#379, Kendall 1973 §21): on each
    * event type's hourly revenue series, the count of strict local
    * extrema (y₋ < y > y₊ or y₋ > y < y₊) against its i.i.d.-null
    * moments E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 — the cheapest
    * "is this series actually random?" screen, complementary to the
    * runs test (#287, which sees level, not shape), Durbin–Watson
    * (serial correlation) and Mann–Kendall (monotone trend): an
    * oscillating seasonal series passes runs but fails HERE on too
    * many turning points. One lag+lead over the bounded hourly grid;
    * the count is exact (ties break the strict inequalities toward
    * "not a turning point" identically on both engines); only the
    * final z is a mirrored double.
    */
  val qTurningPoints = GateQuery.sql(
    "q_turning_points",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |l AS (SELECT event_type, y,
       |    lag(y) OVER (PARTITION BY event_type ORDER BY grid) AS y0,
       |    lead(y) OVER (PARTITION BY event_type ORDER BY grid) AS y2
       |  FROM g),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) FILTER (y0 IS NOT NULL AND y2 IS NOT NULL
       |      AND ((y0 < y AND y > y2) OR (y0 > y AND y < y2))) AS BIGINT) AS t
       |  FROM l GROUP BY 1)
       |SELECT event_type, n, t AS n_turning,
       |  CASE WHEN n >= 2 THEN (2 * (n - 2) * 1000) // 3 END AS expected_milli,
       |  CASE WHEN n >= 3 THEN round((CAST(t AS DOUBLE) - 2.0 * (n - 2) / 3.0)
       |    / sqrt((16.0 * n - 29.0) / 90.0), 4) + 0.0 END AS z_stat
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val w = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val l = g.withColumn("y0", lag(col("y"), 1).over(w))
      .withColumn("y2", lead(col("y"), 1).over(w))
    val isTp = col("y0").isNotNull && col("y2").isNotNull &&
      ((col("y0") < col("y") && col("y") > col("y2")) ||
        (col("y0") > col("y") && col("y") < col("y2")))
    val a = l.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      count(when(isTp, 1)).cast("long").as("t"))
    a.select(col("event_type"), col("n"), col("t").as("n_turning"),
        when(col("n") >= 2,
          Binning.floorDivCol(lit(2L) * (col("n") - 2) * lit(1000L), lit(3L)))
          .as("expected_milli"),
        when(col("n") >= 3,
          round((col("t").cast("double") - lit(2.0) * (col("n") - 2) / lit(3.0)) /
            sqrt((lit(16.0) * col("n") - lit(29.0)) / lit(90.0)), 4) + lit(0.0))
          .as("z_stat"))
      .orderedSmall(col("event_type"))
  }

  /** Hodges–Lehmann pseudo-median (#414, Hodges & Lehmann 1963): per
    * event type, the median of all Walsh averages (yᵢ+yⱼ)/2 over
    * i ≤ j of the HOURLY totals — the robust one-sample location
    * estimator tied to the signed-rank test the way the sample
    * median is tied to the sign test (≈0.96 efficiency at the
    * normal, 29% breakdown). Pairs self-join the calendar-bounded
    * hourly grid (the Theil–Sen #234 bound — hours², never event
    * count; broadcast build side); the doubled Walsh value y₁+y₂
    * stays an exact integer (no halving until the very last floor),
    * and the lower median lands by the (w2, g1, g2) sort rank. The
    * q_theil_sen HORIZON bound (hours²/2 pairs per type; rebin or
    * two-phase selection past ~100k hours) applies verbatim here —
    * and so does its r13 SHAPE: one corpus aggregate to the
    * calendar-bounded grid, then the pair fan-out + median selection
    * replay on the driver in exact integer arithmetic (the
    * q_spline_rate convention; the horizon bound now governs driver
    * memory exactly as it governed the rank-window partition).
    */
  val qHodgesLehmann = GateQuery.sql(
    "q_hodges_lehmann",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
       |    CAST(count(*) * (count(*) + 1) // 2 AS BIGINT) AS n_pairs
       |  FROM g GROUP BY 1),
       |p AS (SELECT a.event_type AS event_type, a.grid AS g1, b.grid AS g2,
       |    a.y + b.y AS w2
       |  FROM g a JOIN g b ON a.event_type = b.event_type AND a.grid <= b.grid),
       |r AS (SELECT p.event_type AS event_type, nt.m, nt.n_pairs, w2,
       |    CAST(row_number() OVER (PARTITION BY p.event_type
       |      ORDER BY w2, g1, g2) AS BIGINT) AS rk
       |  FROM p JOIN nt USING (event_type))
       |SELECT event_type, m AS n_hours, n_pairs,
       |  CAST(w2 AS BIGINT) AS hl2_cents, CAST(w2 // 2 AS BIGINT) AS hl_cents
       |FROM r WHERE rk = (n_pairs + 1) // 2 ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    // calendar-bounded grid (<= types x hours rows) -- see shape doc
    val grid = g.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = grid.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, rows) =>
      val pts = rows.map(r => (r._2, r._3)).sortBy(_._1).toArray
      val m = pts.length
      val nPairs = m.toLong * (m + 1) / 2
      // w2 = y_i + y_j for every g1 <= g2 pair (the SQL p CTE). The
      // (g1, g2) tie pin only selects WHICH pair carries the median
      // rank; tied pairs share w2, so the median w2 is simply the
      // rank-th smallest value — one primitive sort, no tuple boxing.
      val w2A = new Array[Long](nPairs.toInt)
      var p = 0
      var i = 0
      while (i < m) {
        var j = i
        while (j < m) {
          w2A(p) = pts(i)._2 + pts(j)._2
          p += 1
          j += 1
        }
        i += 1
      }
      java.util.Arrays.sort(w2A)
      val w2 = w2A(((nPairs + 1) / 2 - 1).toInt)
      (et, m.toLong, nPairs, w2, Math.floorDiv(w2, 2L))
    }
    out.toDF("event_type", "n_hours", "n_pairs", "hl2_cents", "hl_cents")
      .orderedSmall(col("event_type"))
  }

  /** Cox proportional hazards (#415, Cox 1972; Breslow ties): do
    * click-heavy users convert to a big purchase (≥ $90) faster?
    * Time axis = days from a user's first event to their first big
    * purchase, right-censored at the last event for users who never
    * convert; the one binary covariate x = "more clicks than views"
    * keeps every risk-set quantity a pair of integer counts, so TWO
    * Newton steps on the Breslow partial likelihood run as exact
    * integer arithmetic over the day-grid risk sets: at β=0 the
    * score U₀ = Σ_t (dxₜ − dₜ·n1ₜ/nₜ) and information I₀ are
    * micro-floored per-term integer sums (the partial-likelihood
    * SCORE TEST statistic U₀²/I₀ falls out for free); step two
    * re-evaluates with the single scalar w = ⌊e^β₁·10⁶⌋ (one libm
    * call mirrored on both engines — the microLn convention), all
    * denominators exact HUGEINT/decimal. Day-grid risk sets come
    * from ONE descending cumulative window — never a per-user scan.
    */
  val qCoxPh = GateQuery.sql(
    "q_cox_ph", {
      val M = "1000000"
      def sfloor(x: String, y: String) =
        s"((($x) - (((($x) % ($y)) + ($y)) % ($y))) // ($y))"
      s"""WITH f AS (SELECT user_id, min(xs) AS fx, max(xs) AS lx,
         |    min(CASE WHEN event_type = 'purchase' AND ${centsSql("vd")} >= 9000
         |      THEN xs END) AS px,
         |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nclick,
         |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nview
         |  FROM $E e GROUP BY user_id),
         |u AS (SELECT user_id, (coalesce(px, lx) - fx) // 86400 AS lt,
         |    CASE WHEN px IS NULL THEN 1 ELSE 0 END AS censored,
         |    CASE WHEN nclick > nview THEN 1 ELSE 0 END AS x
         |  FROM f),
         |t AS (SELECT lt, CAST(sum(1 - censored) AS BIGINT) AS d,
         |    CAST(sum((1 - censored) * x) AS BIGINT) AS dx,
         |    CAST(count(*) AS BIGINT) AS n_at, CAST(sum(x) AS BIGINT) AS n_at1
         |  FROM u GROUP BY lt),
         |r AS (SELECT *,
         |    CAST(sum(n_at) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nr,
         |    CAST(sum(n_at1) OVER (ORDER BY lt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
         |  FROM t),
         |s0 AS (SELECT
         |    CAST(sum(dx * $M - (d * n1 * $M) // nr) AS BIGINT) AS u0,
         |    CAST(sum((CAST(d AS HUGEINT) * (nr - n1) * n1 * $M)
         |      // (CAST(nr AS HUGEINT) * nr)) AS BIGINT) AS i0,
         |    CAST(sum(d) AS BIGINT) AS n_deaths
         |  FROM r WHERE d > 0),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(x) AS BIGINT) AS n1_users FROM u),
         |b1 AS (SELECT *, CASE WHEN i0 > 0 THEN
         |    CAST(${sfloor(s"CAST(u0 AS HUGEINT) * $M", "CAST(i0 AS HUGEINT)")} AS BIGINT)
         |  END AS b1m FROM s0),
         |w1 AS (SELECT *, CAST(floor(exp(CAST(b1m AS DOUBLE) / $M.0) * $M) AS BIGINT) AS w
         |  FROM b1),
         |s1 AS (SELECT w1.b1m AS b1m, w1.w AS w, w1.u0 AS u0, w1.i0 AS i0,
         |    w1.n_deaths AS n_deaths,
         |    CAST(sum(dx * $M - (CAST(d AS HUGEINT) * n1 * w1.w * $M)
         |      // (CAST(nr - n1 AS HUGEINT) * $M + CAST(n1 AS HUGEINT) * w1.w)) AS BIGINT) AS u1,
         |    CAST(sum((CAST(d AS HUGEINT) * n1 * w1.w
         |        * ((CAST(nr - n1 AS HUGEINT) * $M + CAST(n1 AS HUGEINT) * w1.w)
         |           - CAST(n1 AS HUGEINT) * w1.w) * $M)
         |      // ((CAST(nr - n1 AS HUGEINT) * $M + CAST(n1 AS HUGEINT) * w1.w)
         |          * (CAST(nr - n1 AS HUGEINT) * $M + CAST(n1 AS HUGEINT) * w1.w))) AS BIGINT) AS i1
         |  FROM r, w1 WHERE d > 0 GROUP BY 1, 2, 3, 4, 5)
         |SELECT nn.n_users, nn.n1_users, s1.n_deaths, s1.u0 AS u0_micro,
         |  s1.i0 AS i0_micro, s1.b1m AS beta1_micro,
         |  CASE WHEN s1.i1 > 0 THEN CAST(s1.b1m +
         |    ${sfloor(s"CAST(s1.u1 AS HUGEINT) * $M", "CAST(s1.i1 AS HUGEINT)")} AS BIGINT)
         |  END AS beta2_micro
         |FROM s1, nn""".stripMargin
    }) { (s, d) =>
    val M = 1000000L
    val e = ev(s, d)
    // lifetime, censor flag and covariate from ONE user-keyed
    // aggregate (min ignores nulls, so px is the first big purchase
    // or null = censored)
    val u = e.groupBy(col("user_id"))
      .agg(min(col("xs")).as("fx"), max(col("xs")).as("lx"),
        min(when(col("event_type") === "purchase" &&
          Exact.cents(col("vd")) >= 9000L, col("xs"))).as("px"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nclick"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nview"))
      .select(
        Binning.floorDiv(coalesce(col("px"), col("lx")) - col("fx"), 86400L).as("lt"),
        when(col("px").isNull, 1L).otherwise(0L).as("censored"),
        when(col("nclick") > col("nview"), 1L).otherwise(0L).as("x"))
    val t = u.groupBy(col("lt"))
      .agg(Exact.sumUnits(lit(1L) - col("censored")).cast("long").as("d"),
        Exact.sumUnits((lit(1L) - col("censored")) * col("x")).cast("long").as("dx"),
        count(lit(1)).cast("long").as("n_at"),
        Exact.sumUnits(col("x")).cast("long").as("n_at1"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t
      .withColumn("nr", sum(col("n_at")).over(wDesc).cast("long"))
      .withColumn("n1", sum(col("n_at1")).over(wDesc).cast("long"))
      .filter(col("d") > 0)
      .persist() // read by both Newton steps; freed by the harness
    def dec(x: Column) = x.cast("decimal(38,0)")
    val s0 = r.agg(
      sum(col("dx") * lit(M) -
        Binning.floorDivCol(col("d") * col("n1") * lit(M), col("nr"))).cast("long").as("u0"),
      sum(floorDivBig(dec(col("d")) * (col("nr") - col("n1")) * col("n1") * lit(M),
        dec(col("nr")) * col("nr")).cast("long")).cast("long").as("i0"),
      sum(col("d")).cast("long").as("n_deaths"))
    val nn = u.agg(count(lit(1)).cast("long").as("n_users"),
      Exact.sumUnits(col("x")).cast("long").as("n1_users"))
    // β₁ and the micro-floored e^β₁ are SCALARS — driver arithmetic
    // (the model-state convention); the risk-set relation is tiny
    // (distinct lifetimes), so the two Newton passes are two cheap
    // aggregates over the persisted day grid
    def sfloorBig(x: BigInt, y: BigInt): Long = {
      val (q, rm) = x /% y
      (if (rm.signum < 0) q - 1 else q).toLong // y > 0
    }
    val s0row = s0.head()
    val (u0, i0, nDeaths) = (s0row.getLong(0), s0row.getLong(1), s0row.getLong(2))
    val (beta1, beta2): (Option[Long], Option[Long]) =
      if (i0 > 0) {
        val b1m = sfloorBig(BigInt(u0) * M, BigInt(i0))
        val w = math.floor(math.exp(b1m.toDouble / 1e6) * 1e6).toLong
        val den = dec(col("nr") - col("n1")) * M + dec(col("n1")) * w
        val s1 = r.agg(
          sum(col("dx") * M -
            floorDivBig(dec(col("d")) * col("n1") * w * M, den).cast("long"))
            .cast("long").as("u1"),
          sum(floorDivBig(
            dec(col("d")) * col("n1") * w * (den - dec(col("n1")) * w) * M,
            den * den).cast("long")).cast("long").as("i1"))
        val s1row = s1.head()
        val (u1, i1) = (s1row.getLong(0), s1row.getLong(1))
        (Some(b1m),
          if (i1 > 0) Some(b1m + sfloorBig(BigInt(u1) * M, BigInt(i1))) else None)
      } else (None, None)
    r.unpersist()
    def optLit(v: Option[Long]) =
      v.map(lit(_).cast("long")).getOrElse(lit(null).cast("long"))
    nn.select(col("n_users"), col("n1_users"),
      lit(nDeaths).as("n_deaths"), lit(u0).as("u0_micro"), lit(i0).as("i0_micro"),
      optLit(beta1).as("beta1_micro"), optLit(beta2).as("beta2_micro"))
  }

  val all: Seq[GateQuery] = Seq(
    qHodgesLehmann, qCoxPh, qLogrankStrat, qAalen, qPropOdds, qTurnbull,
    qSchoenfeld, qRmst, qCumIncidence, qCmh, qNbDispersion,
    qChisq, qGTest, qTtest, qCohensD, qCusum, qAcf, qAvgPrecision, qNdcg, qErr, qPagerank, qGini,
    qBootstrapCi, qKaplanMeier, qNelsonAalen, qLogRank, qYuen, qTheil, qQuantileSketch, qPeriodogram, qHolt,
    qCorrMatrix, qKendall, qGkGamma, qSomersD, qPartialCorr, qScanStat, qPcaVar, qEmbedOutlier, qRangeWindow, qApproxDistinct, qPeakfitPipeline,
    qIntervalJoin, qTfidfTerms, qNovelty, qTwap, qOhlc, qWeightedSample, qKsTest,
    qSeasonal, qPageTrend, qKupiecPof, qMrr, qChangepoint, qMutualInfo, qTheilSen, qRollingCorr, qLabelProp,
    qCliffsDelta, qOddsRatio, qEvalue, qIpwAte, qAipwAte, qSplineRate, qQte, qCindex, qMantelHaenszel, qEbShrinkage, qPowerMde, qExtremeValue, qSrm,
    qDurbinWatson, qLjungBox, qCvm, qFriedman, qTurningPoints, qMedianTest,
    qBreuschPagan, qChow, qDickeyFuller, qGranger, qNemenyi)
}
