package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsOfJoin, Binning, Exact, GaussFit, Interpolate, LineshapeFit, PeakAnalysis, Percentiles, Sessionize, UBMatrix, WindowOps}
import graft.operators.Exact.{centsSql, roundedRatioSql}

/** Scan-analytics gate queries (SURVEY.md §2 #7–#17): the Spark
  * re-expression of pyspec's scan post-processing — per-scan stats,
  * peak moments ("peakguess"), closed-form linear fit, normalization
  * to monitor, rebin/histogram/gridder, smoothing, derivative, and
  * stream alignment (as-of join).
  *
  * Data mapping (SURVEY.md §3): `events` is the scan table —
  * `user_id` ≈ scan number, time ≈ motor position, `value` ≈ detector
  * counts, `event_type` ≈ counter name.
  *
  * Cross-engine exactness rules (SURVEY.md §4):
  *  - all time math uses `ts_us` (µs-truncated) because DuckDB
  *    truncates parquet ns→µs; raw ns never crosses the oracle;
  *  - `xs` = seconds relative to 2024-01-01 (small ints ⇒ decimal
  *    power sums stay inside decimal(38));
  *  - weights go through DECIMAL(18,2) so every sum is
  *    order-independent; lossy double math happens only on reduced
  *    scalars with the SAME expression tree as the SQL oracle.
  */
object ScanQueries {

  /** Shared DuckDB prep — mirror of [[ev]]. */
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

  private def xsd: Column = col("xs").cast("decimal(9,0)")

  val qScanStats = GateQuery.sql(
    "q_scan_stats",
    s"""SELECT user_id, count(*) AS n,
       |  round(CAST(sum(vd) AS DOUBLE), 2) AS v_sum,
       |  ${roundedRatioSql(centsSql("sum(vd)"), "count(*) * 100", 4)} AS v_mean,
       |  round(CASE WHEN count(*) > 1 THEN sqrt(greatest(
       |    (CAST(sum(vd * vd) AS DOUBLE) - CAST(sum(vd) AS DOUBLE) * CAST(sum(vd) AS DOUBLE) / count(*))
       |      / (count(*) - 1.0), 0.0)) END, 4) AS v_std,
       |  round(CAST(min(vd) AS DOUBLE), 2) AS v_min,
       |  round(CAST(max(vd) AS DOUBLE), 2) AS v_max
       |FROM $E e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    PeakAnalysis.groupStats(ev(s, d), Seq("user_id"), col("vd"))
      .orderedSmall(col("user_id"))
  }

  val qPeakMoments = GateQuery.sql(
    "q_peak_moments",
    s"""WITH m AS (
       |  SELECT user_id, count(*) AS n, sum(vd) AS sum_w,
       |    sum(vd * CAST(xs AS DECIMAL(9,0))) AS sum_wx,
       |    sum(vd * CAST(xs AS DECIMAL(9,0)) * CAST(xs AS DECIMAL(9,0))) AS sum_wx2,
       |    max(vd) AS max_w
       |  FROM $E e GROUP BY user_id)
       |SELECT user_id, n,
       |  round(CAST(sum_w AS DOUBLE), 2) AS w_total,
       |  round(CAST(max_w AS DOUBLE), 2) AS height,
       |  ${roundedRatioSql(centsSql("sum_wx"), centsSql("sum_w"), 4)} AS com,
       |  round(2.3548200450309493 * sqrt(greatest(
       |    CAST(sum_wx2 AS DOUBLE) / CAST(sum_w AS DOUBLE)
       |      - (CAST(sum_wx AS DOUBLE) / CAST(sum_w AS DOUBLE)) * (CAST(sum_wx AS DOUBLE) / CAST(sum_w AS DOUBLE)),
       |    0.0)), 4) AS fwhm
       |FROM m ORDER BY user_id""".stripMargin) { (s, d) =>
    PeakAnalysis.peakMoments(ev(s, d), Seq("user_id"), xsd, col("vd"))
      .orderedSmall(col("user_id"))
  }

  val qLinReg = GateQuery.sql(
    "q_linreg",
    s"""WITH m AS (
       |  SELECT user_id, count(*) AS n,
       |    sum(CAST(xs AS DECIMAL(9,0))) AS s_x, sum(vd) AS s_y,
       |    sum(vd * CAST(xs AS DECIMAL(9,0))) AS s_xy,
       |    sum(CAST(xs AS DECIMAL(9,0)) * CAST(xs AS DECIMAL(9,0))) AS s_xx
       |  FROM $E e GROUP BY user_id),
       |t AS (SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
       |    CAST(s_x AS DOUBLE) AS sx, CAST(s_y AS DOUBLE) AS sy,
       |    CAST(s_xy AS DOUBLE) AS sxy, CAST(s_xx AS DOUBLE) AS sxx FROM m)
       |SELECT user_id, n,
       |  round(CASE WHEN nd * sxx - sx * sx <> 0.0
       |    THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END, 6) + 0.0 AS slope,
       |  round(CASE WHEN nd * sxx - sx * sx <> 0.0
       |    THEN (sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx) / nd END, 6) + 0.0 AS intercept
       |FROM t ORDER BY user_id""".stripMargin) { (s, d) =>
    PeakAnalysis.linReg(ev(s, d), Seq("user_id"), xsd, col("vd"))
      .orderedSmall(col("user_id"))
  }

  val qNormalizeMonitor = GateQuery.sql(
    "q_normalize_monitor",
    s"""WITH m AS (SELECT event_id, user_id, vd,
       |    CAST(sum(vd) FILTER (WHERE event_type = 'view')
       |      OVER (PARTITION BY user_id) AS DOUBLE) AS montot
       |  FROM $E e)
       |SELECT event_id, user_id,
       |  round(CAST(vd AS DOUBLE) / montot, 6) AS norm,
       |  CASE WHEN vd >= 0
       |    THEN round(sqrt(CAST(vd AS DOUBLE)) / montot, 6) END AS norm_err
       |FROM m ORDER BY event_id""".stripMargin) { (s, d) =>
    WindowOps.normalizeToMonitor(ev(s, d), col("user_id"), col("vd"),
        when(col("event_type") === "view", col("vd")), withError = true)
      .select(col("event_id"), col("user_id"), col("norm"), col("norm_err"))
      .orderedSmall(col("event_id"))
  }

  val qRebin1d = GateQuery.sql(
    "q_rebin_1d",
    s"""SELECT xs // 3600 AS bin, count(*) AS n,
       |  round(CAST(sum(vd) AS DOUBLE), 2) AS y_sum,
       |  ${roundedRatioSql(centsSql("sum(vd)"), "count(*) * 100", 4)} AS y_mean
       |FROM $E e GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    Binning.rebin1d(ev(s, d), col("xs"), col("vd"), 3600L)
      .orderedSmall(col("bin"))
  }

  val qHistogram = GateQuery.sql(
    "q_histogram",
    """WITH r AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
      |b AS (SELECT CASE WHEN hi = lo THEN 0
      |        ELSE CAST(least(floor((value - lo) / ((hi - lo) / 20.0)), 19.0) AS BIGINT) END AS bin,
      |      lo, hi
      |      FROM events CROSS JOIN r)
      |SELECT bin, count(*) AS n,
      |  round(min(lo + bin * ((hi - lo) / 20.0)), 4) AS bin_lo
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    Binning.histogram(Tables.events(s, d), col("value"), 20)
      .orderedSmall(col("bin"))
  }

  val qGrid3d = GateQuery.sql(
    "q_grid3d",
    s"""WITH g AS (SELECT
       |    CAST(floor(l_quantity / 8.0) AS BIGINT) AS gx,
       |    CAST(floor(l_extendedprice / 25000.0) AS BIGINT) AS gy,
       |    CAST(floor(l_discount / 0.02) AS BIGINT) AS gz,
       |    CAST(l_extendedprice AS DECIMAL(18,2)) AS wd
       |  FROM lineitem),
       |a AS (SELECT gx, gy, gz, count(*) AS n,
       |    sum(wd) AS sum_w, sum(wd * wd) AS sum_w2
       |  FROM g GROUP BY gx, gy, gz)
       |SELECT gx, gy, gz, n,
       |  round(CAST(sum_w AS DOUBLE), 2) AS w_sum,
       |  ${roundedRatioSql(centsSql("sum_w"), "n * 100", 4)} AS w_mean,
       |  CASE WHEN n > 1 THEN round(sqrt(greatest(
       |      (CAST(sum_w2 AS DOUBLE) - CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE) / n)
       |        / (n - 1.0), 0.0)) / sqrt(CAST(n AS DOUBLE)), 4) END AS w_stderr
       |FROM a ORDER BY gx, gy, gz""".stripMargin) { (s, d) =>
    Binning.grid3d(Tables.lineitem(s, d),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_extendedprice").cast("decimal(18,2)"), 8.0, 25000.0, 0.02)
      .orderedSmall(col("gx"), col("gy"), col("gz"))
  }

  val qMovingAvg = GateQuery.sql(
    "q_moving_avg",
    s"""SELECT event_id, user_id,
       |  ${roundedRatioSql(centsSql("sum(vd) OVER w"), "(count(*) OVER w) * 100", 4)} AS ma
       |FROM $E e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
       |ORDER BY event_id""".stripMargin) { (s, d) =>
    WindowOps.movingAvg(ev(s, d), col("user_id"),
        Seq(col("ts_us"), col("event_id")), col("vd"), 2)
      .select(col("event_id"), col("user_id"), col("ma"))
      .orderedSmall(col("event_id"))
  }

  val qDerivative = GateQuery.sql(
    "q_derivative",
    s"""WITH dd AS (
       |  SELECT event_id, user_id,
       |    vd - lag(vd) OVER w AS dv,
       |    ts_us - lag(ts_us) OVER w AS dt_us
       |  FROM $E e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
       |SELECT event_id, user_id,
       |  round(CAST(dv AS DOUBLE) / (dt_us / 1000000.0), 6) + 0.0 AS deriv
       |FROM dd WHERE dt_us IS NOT NULL AND dt_us <> 0
       |ORDER BY event_id""".stripMargin) { (s, d) =>
    WindowOps.derivative(ev(s, d), col("user_id"),
        Seq(col("ts_us"), col("event_id")), col("vd"), col("ts_us"))
      .select(col("event_id"), col("user_id"), col("deriv"))
      .orderedSmall(col("event_id"))
  }

  val qAsOfJoin = GateQuery.sql(
    "q_asof_join",
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
      |    CAST(value AS DECIMAL(18,2)) AS vd, event_type FROM events),
      |l AS (SELECT event_id, user_id, t, vd FROM e WHERE event_type = 'click'),
      |r0 AS (SELECT user_id, t, event_id, vd FROM e WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, t, event_id, vd FROM r0
      |      QUALIFY row_number() OVER (PARTITION BY user_id, t ORDER BY event_id DESC) = 1)
      |SELECT l.event_id AS click_event, l.user_id AS user_id,
      |  round(CAST(l.vd AS DOUBLE), 2) AS click_value,
      |  r.event_id AS purchase_event,
      |  round(CAST(r.vd AS DOUBLE), 2) AS purchase_value,
      |  round((l.t - r.t) / 1000000.0, 6) AS lag_sec
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.t <= l.t
      |ORDER BY click_event""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val left = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us").as("t"), col("vd"))
    val right = AsOfJoin.dedupRight(
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("t"), col("event_id"), col("vd")),
      "user_id", "t", "event_id")
    AsOfJoin.backward(left, right, "user_id", "t", Seq("event_id", "vd"))
      .select(
        col("event_id").as("click_event"),
        col("user_id"),
        round(col("vd").cast("double"), 2).as("click_value"),
        col("right_event_id").as("purchase_event"),
        round(col("right_vd").cast("double"), 2).as("purchase_value"),
        round((col("t") - col("right_t")) / lit(1000000.0), 6).as("lag_sec"))
      .orderedSmall(col("click_event"))
  }

  /** Cosmic-ray despiking (#61): rolling-median spike detection and
    * replacement over each scan — pure integer arithmetic end to end
    * (doubled-cents median), so the oracle matches bit-for-bit. A
    * 1500-cent threshold flags the synthetic corpus's heavy outliers
    * without touching normal variation.
    */
  val qDespike = GateQuery.sql(
    "q_despike",
    s"""WITH c AS (SELECT event_id, user_id, ts_us,
       |    ${Exact.centsSql("vd")} AS vc FROM $E e),
       |w AS (SELECT event_id, user_id, vc,
       |    list_sort(list(vc) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS win
       |  FROM c),
       |m AS (SELECT event_id, user_id, vc, len(win) AS n,
       |    CASE WHEN len(win) % 2 = 1 THEN win[(len(win) + 1) // 2] * 2
       |         ELSE win[len(win) // 2] + win[len(win) // 2 + 1] END AS med2
       |  FROM w)
       |SELECT event_id, user_id,
       |  abs(vc * 2 - med2) > 20000 AS is_spike,
       |  CAST(med2 AS DOUBLE) / 200.0 AS roll_med,
       |  CASE WHEN abs(vc * 2 - med2) > 20000
       |       THEN CAST(med2 AS DOUBLE) / 200.0
       |       ELSE CAST(vc AS DOUBLE) / 100.0 END AS v_clean
       |FROM m ORDER BY event_id""".stripMargin) { (s, d) =>
    WindowOps.despike(ev(s, d), col("user_id"),
        Seq(col("ts_us"), col("event_id")), Exact.cents(col("vd")),
        halfWidth = 2, thrCents = 10000L)
      .select(col("event_id"), col("user_id"), col("is_spike"),
        col("roll_med"), col("v_clean"))
      .orderedSmall(col("event_id"))
  }

  /** Savitzky–Golay smoothing (#62): 5-point quadratic filter per
    * scan — exact integer convolution + tie-proof signed rounding,
    * NULL at scan edges on both engines.
    */
  val qSavGol = GateQuery.sql(
    "q_savgol",
    s"""WITH c AS (SELECT event_id, user_id, ts_us,
       |    ${Exact.centsSql("vd")} AS vc FROM $E e),
       |n AS (SELECT event_id, user_id,
       |    lag(vc, 2) OVER w * (-3) + lag(vc, 1) OVER w * 12 + vc * 17
       |      + lead(vc, 1) OVER w * 12 + lead(vc, 2) OVER w * (-3) AS num
       |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
       |SELECT event_id, user_id,
       |  ${Exact.roundedRatioSignedSql("num", "3500", 4)} AS sg
       |FROM n ORDER BY event_id""".stripMargin) { (s, d) =>
    WindowOps.savitzkyGolay5(ev(s, d), col("user_id"),
        Seq(col("ts_us"), col("event_id")), Exact.cents(col("vd")))
      .select(col("event_id"), col("user_id"), col("sg"))
      .orderedSmall(col("event_id"))
  }

  /** Iterative Levenberg–Marquardt gaussian fit per scan (SURVEY §2
    * #10) — not SQL-expressible, so rows-only gate + ScalaTest tolerance
    * oracle (GaussFitSpec). Deterministic: fixed iteration budget,
    * sorted points.
    */
  val qGaussFit = GateQuery.rowsOnly("q_gauss_fit") { (s, d) =>
    GaussFit.fitGroups(ev(s, d).select(col("user_id"), col("xs"),
        col("vd").cast("double").as("v")), "user_id", "xs", "v")
      .orderedSmall(col("g"))
  }

  /** Generalized lineshape fits (pyspec fitfuncs lorentzian /
    * pseudo-voigt) — rows-only gate + LineshapeFitSpec tolerance
    * oracle. */
  val qLineshapeFit = GateQuery.rowsOnly("q_lineshape_fit") { (s, d) =>
    LineshapeFit.fitGroups(ev(s, d).select(col("user_id"), col("xs"),
        col("vd").cast("double").as("v")),
        LineshapeFit.Lorentzian, "user_id", "xs", "v")
      .orderedSmall(col("g"))
  }

  /** Grid interpolation (#42): every user's event series resampled
    * onto a common 16-point grid spanning the January window — the
    * reference's "align scans on a shared abscissa" primitive. The
    * lerp runs the identical IEEE expression tree on both engines
    * over exact-integer abscissae, so the doubles hash-match.
    */
  val qInterpGrid = GateQuery.sql(
    "q_interp_grid", {
      Interpolate.onGridSql("events", "user_id", "epoch_us(ts)", "value",
        x0 = 1704067200000000L, dx = 162000000000L, n = 16) +
        "\nORDER BY user_id, grid_x"
    }) { (s, d) =>
    Interpolate.onGrid(Tables.events(s, d), Seq("user_id"),
        col("ts_us"), col("value"),
        x0 = 1704067200000000L, dx = 162000000000L, n = 16)
      .orderedSmall(col("user_id"), col("grid_x"))
  }

  /** Exact per-scan percentiles (#43): explicit order statistics +
    * verbatim-mirrored interpolation — deterministic doubles by
    * construction (see [[Percentiles]]).
    */
  val qPercentiles = GateQuery.sql(
    "q_percentiles",
    Percentiles.perGroupSql("events", "user_id", "value", "event_id",
      Seq(0.5, 0.9)) + "\nORDER BY user_id") { (s, d) =>
    Percentiles.perGroup(Tables.events(s, d), Seq("user_id"),
        col("value"), col("event_id"), Seq(0.5, 0.9))
      .orderedSmall(col("user_id"))
  }

  /** Batch sessionization (#45): gaps-and-islands over event time —
    * the offline mirror of the streaming sessionizer, SQL-gated
    * (the streaming one is MemoryStream-tested). 6-hour gap.
    */
  val qSessionizeBatch = GateQuery.sql(
    "q_sessionize_batch",
    s"""WITH e AS (SELECT user_id, ts_us AS t, event_id,
       |    ${Exact.centsSql("vd")} AS v FROM $E AS ev),
       |b AS (SELECT user_id, t, event_id, v,
       |    CASE WHEN t - lag(t) OVER w > 21600000000 THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |s AS (SELECT user_id, t, v,
       |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM b)
       |SELECT user_id, session_id, min(t) AS t_start, max(t) AS t_end,
       |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS total_cents
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    Sessionize.batch(ev(s, d), col("user_id"), col("ts_us"),
        col("event_id"), Exact.cents(col("vd")), gap = 21600000000L)
      .select(col("k").as("user_id"), col("session_id"), col("t_start"),
        col("t_end"), col("n_events"), col("total_cents"))
      .orderedSmall(col("user_id"), col("session_id"))
  }

  /** UB from two reflections (pyspec diffractometer): per scan
    * (user_id), two synthetic oriented reflections are built by
    * rotating the triclinic B columns through a per-scan angle
    * θ = user_id degrees IN SPARK, and [[UBMatrix.ubGroups]] must
    * recover Rz(θ)·B. Rows-only gate (3×3 closed-form linear algebra
    * is not worth a 60-line SQL oracle); exactness against analytic
    * U·B is pinned by UBMatrixSpec.
    */
  val qUbMatrix = GateQuery.rowsOnly("q_ub_matrix") { (s, d) =>
    val lat = UBMatrix.Lattice(5.43, 6.28, 7.11, 89.0, 92.0, 101.0)
    val bm = UBMatrix.bMatrix(lat)
    val theta = radians(col("user_id").cast("double"))
    def refl(h: Int, k: Int): Column = {
      // B·h for unit h is just column h of B; rotate it by Rz(θ)
      val cidx = if (h == 1) 0 else 1
      val v = Array(bm(0)(cidx), bm(1)(cidx), bm(2)(cidx))
      struct(lit(h.toDouble).as("h"), lit(k.toDouble).as("k"), lit(0.0).as("l"),
        (cos(theta) * lit(v(0)) - sin(theta) * lit(v(1))).as("qx"),
        (sin(theta) * lit(v(0)) + cos(theta) * lit(v(1))).as("qy"),
        lit(v(2)).as("qz"))
    }
    val refls = ev(s, d).select(col("user_id")).distinct()
      .select(col("user_id"), explode(array(refl(1, 0), refl(0, 1))).as("r"))
      .select(col("user_id"), col("r.h").as("h"), col("r.k").as("k"),
        col("r.l").as("l"), col("r.qx").as("qx"), col("r.qy").as("qy"),
        col("r.qz").as("qz"))
    UBMatrix.ubGroups(refls, lat, "user_id", "h", "k", "l", "qx", "qy", "qz")
      .orderedSmall(col("g"))
  }

  /** #125 — ordered funnel analysis (view → click → purchase, each
    * step strictly after the previous): the event-analytics shape
    * behind every conversion dashboard, as three chained
    * min-aggregates — step k is one user-keyed aggregate over the
    * step-k event slice joined to step k−1's times. No window over
    * per-user event sequences (a power user with millions of events
    * costs nothing beyond their aggregate), no self-join explosion;
    * the three user-keyed relations co-partition after the first
    * shuffle. µs-truncated times per the oracle contract.
    */
  val qFunnel = GateQuery.sql(
    "q_funnel",
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT ev.user_id, min(ts_us) AS t2 FROM ev JOIN s1 USING (user_id)
       |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
       |s3 AS (SELECT ev.user_id, min(ts_us) AS t3 FROM ev JOIN s2 USING (user_id)
       |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1)
       |SELECT step, n_users FROM (
       |  SELECT 1 AS ord, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
       |  UNION ALL SELECT 2, 'view>click', CAST(count(*) AS BIGINT) FROM s2
       |  UNION ALL SELECT 3, 'view>click>purchase', CAST(count(*) AS BIGINT) FROM s3)
       |ORDER BY ord""".stripMargin) { (s, d) =>
    val evs = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
    val s1 = evs.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val s2 = evs.filter(col("event_type") === "click").join(s1, Seq("user_id"))
      .filter(col("ts_us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
    val s3 = evs.filter(col("event_type") === "purchase").join(s2, Seq("user_id"))
      .filter(col("ts_us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    def cnt(df: DataFrame, ord: Int, name: String) =
      df.agg(count(lit(1)).cast("long").as("n_users"))
        .select(lit(ord).as("ord"), lit(name).as("step"), col("n_users"))
    cnt(s1, 1, "view")
      .union(cnt(s2, 2, "view>click"))
      .union(cnt(s3, 3, "view>click>purchase"))
      .orderBy(col("ord")).drop("ord")
      .coalesce(1)
  }

  /** #126 — cohort retention matrix: users grouped by first-activity
    * week (cohort), counted once per (cohort, weeks-since-first)
    * cell — the second standard event-analytics surface next to
    * [[qFunnel]]. Two user-keyed aggregates + one distinct; exact
    * integer week arithmetic (floor division on µs-derived seconds)
    * on both engines.
    */
  val qRetention = GateQuery.sql(
    "q_retention",
    """WITH ev AS (SELECT user_id, epoch_us(ts) // 1000000 AS tsec FROM events),
      |fe AS (SELECT user_id, min(tsec) // 604800 AS w0 FROM ev GROUP BY 1),
      |act AS (SELECT DISTINCT e.user_id, w0, (tsec // 604800) - w0 AS wk
      |        FROM ev e JOIN fe USING (user_id))
      |SELECT CAST(w0 AS BIGINT) AS cohort_week, CAST(wk AS BIGINT) AS week_offset,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM act GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
    val evs = Tables.events(s, d)
      .select(col("user_id"), expr("ts_us div 1000000").as("tsec"))
    val fe = evs.groupBy(col("user_id"))
      .agg(expr("min(tsec) div 604800").as("w0"))
    evs.join(fe, Seq("user_id"))
      .select(col("user_id"), col("w0"),
        (expr("tsec div 604800") - col("w0")).as("wk"))
      .distinct()
      .groupBy(col("w0").cast("long").as("cohort_week"),
        col("wk").cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderedSmall(col("cohort_week"), col("week_offset"))
  }

  /** #141 — WEIGHTED least-squares line fit per scan: pyspec's fits
    * weight every point by counting statistics (w = 1/σ²); here the
    * integer weight `xs % 7 + 1` stands in for a per-point
    * exposure/monitor count. Same one-aggregate closed form as
    * `q_linreg` with the five weighted power sums in exact decimals.
    */
  val qWLinReg = GateQuery.sql(
    "q_wlinreg", {
      val wSql = "CAST(xs % 7 + 1 AS DECIMAL(9,0))"
      val xSql = "CAST(xs AS DECIMAL(9,0))"
      s"""WITH m AS (
         |  SELECT user_id, count(*) AS n,
         |    sum($wSql) AS s_w,
         |    sum($wSql * $xSql) AS s_wx,
         |    sum($wSql * vd) AS s_wy,
         |    sum($wSql * vd * $xSql) AS s_wxy,
         |    sum($wSql * $xSql * $xSql) AS s_wxx
         |  FROM $E e GROUP BY user_id),
         |t AS (SELECT user_id, n,
         |    CAST(s_w AS DOUBLE) AS sw, CAST(s_wx AS DOUBLE) AS swx,
         |    CAST(s_wy AS DOUBLE) AS swy, CAST(s_wxy AS DOUBLE) AS swxy,
         |    CAST(s_wxx AS DOUBLE) AS swxx FROM m)
         |SELECT user_id, n,
         |  round(CASE WHEN sw * swxx - swx * swx <> 0.0
         |    THEN (sw * swxy - swx * swy) / (sw * swxx - swx * swx) END, 6) + 0.0 AS slope,
         |  round(CASE WHEN sw * swxx - swx * swx <> 0.0
         |    THEN (swy - ((sw * swxy - swx * swy) / (sw * swxx - swx * swx)) * swx) / sw END, 6) + 0.0 AS intercept
         |FROM t ORDER BY user_id""".stripMargin
    }) { (s, d) =>
    PeakAnalysis.wLinReg(ev(s, d), Seq("user_id"), xsd, col("vd"),
        (col("xs") % 7 + 1).cast("decimal(9,0)"))
      .orderedSmall(col("user_id"))
  }

  /** Forward as-of join (#218): every click enriched with the NEXT
    * purchase at-or-after it by the same user — the "time to convert"
    * direction #17's backward join cannot answer. Same one-shuffle
    * union + carry shape ([[AsOfJoin.forward]]: first-ignoreNulls over
    * a currentRow→following frame), mirrored by DuckDB's ASOF JOIN
    * with the >= comparator.
    */
  val qAsOfForward = GateQuery.sql(
    "q_asof_forward",
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
      |    CAST(value AS DECIMAL(18,2)) AS vd, event_type FROM events),
      |l AS (SELECT event_id, user_id, t, vd FROM e WHERE event_type = 'click'),
      |r0 AS (SELECT user_id, t, event_id, vd FROM e WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, t, event_id, vd FROM r0
      |      QUALIFY row_number() OVER (PARTITION BY user_id, t ORDER BY event_id DESC) = 1)
      |SELECT l.event_id AS click_event, l.user_id AS user_id,
      |  round(CAST(l.vd AS DOUBLE), 2) AS click_value,
      |  r.event_id AS purchase_event,
      |  round(CAST(r.vd AS DOUBLE), 2) AS purchase_value,
      |  round((r.t - l.t) / 1000000.0, 6) AS lead_sec
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.t >= l.t
      |ORDER BY click_event""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val left = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us").as("t"), col("vd"))
    val right = AsOfJoin.dedupRight(
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("t"), col("event_id"), col("vd")),
      "user_id", "t", "event_id")
    AsOfJoin.forward(left, right, "user_id", "t", Seq("event_id", "vd"))
      .select(
        col("event_id").as("click_event"),
        col("user_id"),
        round(col("vd").cast("double"), 2).as("click_value"),
        col("right_event_id").as("purchase_event"),
        round(col("right_vd").cast("double"), 2).as("purchase_value"),
        round((col("right_t") - col("t")) / lit(1000000.0), 6).as("lead_sec"))
      .orderedSmall(col("click_event"))
  }

  val all: Seq[GateQuery] = Seq(
    qScanStats, qPeakMoments, qLinReg, qNormalizeMonitor, qRebin1d,
    qHistogram, qGrid3d, qMovingAvg, qDerivative, qAsOfJoin, qGaussFit,
    qLineshapeFit, qInterpGrid, qPercentiles, qSessionizeBatch, qDespike,
    qSavGol, qUbMatrix, qFunnel, qRetention, qWLinReg, qAsOfForward)
}
