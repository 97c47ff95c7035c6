package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Exact, Percentiles, RangeJoin, Relational, WindowOps}
import graft.operators.Exact.centsSql

/** Round-3 extensions (SURVEY.md §2 #49–#53): bounded range join,
  * cube aggregation, exact per-group mode, linear background
  * subtraction, and exact weighted percentiles — each SQL-gated with
  * the same exact-numerics discipline as the rest of the inventory
  * (SURVEY.md §4).
  */
object ExtendedQueries {

  /** Bounded range join (#49): per click, the count and exact-cents
    * total of the same user's purchases in the preceding 6 hours.
    * The Spark plan is the bucketized equi-join ([[RangeJoin]]) —
    * the oracle states the same semantics as a theta-join, which
    * DuckDB can afford at oracle scale.
    */
  val qRangeJoin = GateQuery.sql(
    "q_range_join",
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
       |    CAST(value AS DECIMAL(18,2)) AS vd, event_type FROM events),
       |l AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'click'),
       |r AS (SELECT user_id, t AS rt, vd FROM e WHERE event_type = 'purchase')
       |SELECT l.event_id AS click_event, l.user_id AS user_id,
       |  count(*) AS n_recent,
       |  CAST(sum(${centsSql("r.vd")}) AS BIGINT) AS v_recent_cents
       |FROM l JOIN r ON l.user_id = r.user_id
       |  AND r.rt >= l.t - 21600000000 AND r.rt <= l.t
       |GROUP BY 1, 2 ORDER BY click_event""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val left = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us").as("t"))
    val right = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("rt"), col("vd"))
    RangeJoin.lookback(left, right, "user_id", "t", "rt", 21600000000L)
      .groupBy(col("event_id").as("click_event"), col("user_id"))
      .agg(count(lit(1)).as("n_recent"),
        sum(Exact.cents(col("vd"))).as("v_recent_cents"))
      .orderedSmall(col("click_event"))
  }

  /** Cube aggregation (#50): all four grouping levels of
    * (returnflag, linestatus) in one pass, rolled-up levels labelled
    * 'ALL' so no engine-specific GROUPING() bitmask crosses the
    * oracle.
    */
  val qCube = GateQuery.sql(
    "q_cube",
    s"""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
       |  count(*) AS n,
       |  CAST(sum(${centsSql("CAST(l_quantity AS DECIMAL(18,2))")}) AS BIGINT) AS qty_cents,
       |  CAST(sum(${centsSql("CAST(l_extendedprice AS DECIMAL(18,2))")}) AS BIGINT) AS price_cents
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // counts and sums re-aggregate, so collapse the fact table to one
    // row per leaf cell BEFORE the 4-way grouping-set expand: the
    // expand multiplies 6 partial rows instead of 600k facts
    val pre = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("_n"),
        sum(Exact.cents(col("l_quantity").cast("decimal(18,2)"))).as("_q"),
        sum(Exact.cents(col("l_extendedprice").cast("decimal(18,2)"))).as("_p"))
    Relational.cubeAgg(pre,
        Seq(col("l_returnflag"), col("l_linestatus")),
        Seq(sum(col("_n")).as("n"), sum(col("_q")).as("qty_cents"),
          sum(col("_p")).as("price_cents")))
      .orderedSmall(col("l_returnflag"), col("l_linestatus"))
  }

  /** Exact per-group mode (#51): each user's most frequent event
    * type — two shuffle aggregates, no window, ties broken toward the
    * larger value on both engines.
    */
  val qModePerGroup = GateQuery.sql(
    "q_mode_per_group",
    """WITH c AS (SELECT user_id, event_type AS mode_value, count(*) AS n_mode
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, mode_value, n_mode FROM c
      |QUALIFY row_number() OVER (
      |  PARTITION BY user_id ORDER BY n_mode DESC, mode_value DESC) = 1
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    Relational.modePerGroup(Tables.events(s, d), Seq(col("user_id")), col("event_type"))
      .orderedSmall(col("user_id"))
  }

  /** Linear background subtraction (#52, pyspec `bgsub`): baseline
    * through each scan's first/last point, subtracted per row. xs/vd
    * are exact ints/decimals so the double math is the identical
    * expression tree on both engines.
    */
  val qBgSubtract = GateQuery.sql(
    "q_bg_subtract",
    s"""WITH w AS (SELECT event_id, user_id, xs, vd,
       |    first_value(xs) OVER w AS x0, last_value(xs) OVER w AS x1,
       |    first_value(vd) OVER w AS y0, last_value(vd) OVER w AS y1
       |  FROM $E e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT event_id, user_id,
       |  round(CAST(vd AS DOUBLE) - (CASE
       |    WHEN CAST(x1 AS DOUBLE) = CAST(x0 AS DOUBLE) THEN CAST(y0 AS DOUBLE)
       |    ELSE CAST(y0 AS DOUBLE) + (CAST(y1 AS DOUBLE) - CAST(y0 AS DOUBLE))
       |      * (CAST(xs AS DOUBLE) - CAST(x0 AS DOUBLE))
       |      / (CAST(x1 AS DOUBLE) - CAST(x0 AS DOUBLE)) END), 6) + 0.0 AS v_sub
       |FROM w ORDER BY event_id""".stripMargin) { (s, d) =>
    WindowOps.bgSubtract(ev(s, d), col("user_id"),
        Seq(col("ts_us"), col("event_id")), col("xs"), col("vd"))
      .select(col("event_id"), col("user_id"), col("v_sub"))
      .orderedSmall(col("event_id"))
  }

  /** Exact weighted percentile (#53): the median lineitem quantity by
    * revenue mass (not row count) per return flag — integer-exact
    * threshold crossing, see [[Percentiles.weightedPerGroup]].
    */
  val qWeightedMedian = GateQuery.sql(
    "q_weighted_median",
    Percentiles.weightedPerGroupSql("lineitem", "l_returnflag",
      "CAST(l_quantity AS BIGINT)",
      centsSql("CAST(l_extendedprice AS DECIMAL(18,2))"),
      50, out = "wmedian_qty") +
      "\nORDER BY l_returnflag") { (s, d) =>
    Percentiles.weightedPerGroup(Tables.lineitem(s, d), Seq("l_returnflag"),
        col("l_quantity").cast("long"),
        Exact.cents(col("l_extendedprice").cast("decimal(18,2)")),
        50, out = "wmedian_qty")
      .orderedSmall(col("l_returnflag"))
  }

  /** Quantile bucketing (#73): quartile documents by length within
    * each source — the "bucket the corpus by quality, keep the top
    * quartile" curation shape.
    *
    * The oracle states the semantics with window ntile; the Spark plan
    * is [[Percentiles.ntileBucketStats]] — identical output, but the
    * full source is never sorted in one task: the only window runs
    * over the collapsed (source, n_chars) relation (ties don't affect
    * per-bucket count/min/max, so per-row rank is unnecessary). The
    * per-row exact-tie variant remains as [[Percentiles.ntileRows]].
    */
  val qQualityBuckets = GateQuery.sql(
    "q_quality_buckets",
    """WITH b AS (SELECT source, n_chars,
      |    CAST(ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
      |  FROM documents)
      |SELECT source, bucket, count(*) AS n,
      |  CAST(min(n_chars) AS BIGINT) AS lo, CAST(max(n_chars) AS BIGINT) AS hi
      |FROM b GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin) { (s, d) =>
    Percentiles.ntileBucketStats(
        Tables.documents(s, d).select(col("source"), col("n_chars")),
        Seq("source"), col("n_chars"), 4)
      .orderedSmall(col("source"), col("bucket"))
  }

  /** Six-circle angles→hkl (#81): the full diffractometer rotation
    * stack ([[graft.operators.SixCircle]]) over a synthetic angle
    * sweep derived from the events table, against a cubic UB = I/4
    * (so hkl = 4·q_φ). Both engines evaluate the identical IEEE
    * expression tree — the oracle SQL is the line-for-line mirror of
    * the Column chain (SURVEY §4 exact-trees discipline), rounded to
    * 6 to absorb libm ulp drift in the trig.
    */
  val qSixcHkl = {
    val SweepSql =
      """sw AS (SELECT event_id, abs(xs) AS axs FROM e),
        |ang AS (SELECT event_id,
        |    radians(axs % 13 - 6) AS mu, radians(5 + axs % 50) AS eta,
        |    radians((axs * 7) % 120 - 60) AS chi,
        |    radians((axs * 13) % 360 - 180) AS phi,
        |    radians(2 * (5 + axs % 50)) AS delta,
        |    radians(axs % 9 - 4) AS nu
        |  FROM sw)""".stripMargin
    val (qxS, qyS, qzS) = graft.operators.SixCircle.qPhiSql(
      "mu", "eta", "chi", "phi", "delta", "nu", "1.54")
    GateQuery.sql(
      "q_sixc_hkl",
      s"""WITH e AS (SELECT event_id,
         |    ${Tables.xsSql} AS xs FROM events),
         |$SweepSql
         |SELECT event_id,
         |  round($qxS * 4, 6) + 0.0 AS h,
         |  round($qyS * 4, 6) + 0.0 AS k,
         |  round($qzS * 4, 6) + 0.0 AS l
         |FROM ang ORDER BY event_id""".stripMargin) { (s, d) =>
      val sweep = ev(s, d).select(col("event_id"), abs(col("xs")).as("axs"))
        .select(col("event_id"),
          radians(col("axs") % 13 - 6).as("mu"),
          radians(col("axs") % 50 + 5).as("eta"),
          radians((col("axs") * 7) % 120 - 60).as("chi"),
          radians((col("axs") * 13) % 360 - 180).as("phi"),
          radians((col("axs") % 50 + 5) * 2).as("delta"),
          radians(col("axs") % 9 - 4).as("nu"))
      val q = graft.operators.SixCircle.qPhi(
        col("mu"), col("eta"), col("chi"), col("phi"),
        col("delta"), col("nu"), lit(1.54))
      sweep.select(col("event_id"),
          (round(q(0) * 4, 6) + lit(0.0)).as("h"),
          (round(q(1) * 4, 6) + lit(0.0)).as("k"),
          (round(q(2) * 4, 6) + lit(0.0)).as("l"))
        .orderedSmall(col("event_id"))
    }
  }

  /** Unpivot / melt (#217): the wide per-user event-type count matrix
    * (#6's pivot shape) folded back to long format via Spark's native
    * `unpivot` (Catalyst `Expand` — one pass, zero joins, zero
    * shuffle beyond the pivot's own aggregate). Zero cells SURVIVE
    * the round-trip (a melt that drops absent combinations silently
    * corrupts downstream sparse joins — the oracle generates the full
    * user × type grid to pin exactly that), which is what makes this
    * a semantics gate and not a formatting nicety.
    */
  val qUnpivot = GateQuery.sql(
    "q_unpivot",
    s"""WITH u AS (SELECT DISTINCT user_id FROM $E e),
       |t AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type),
       |c AS (SELECT user_id, event_type, count(*) AS n
       |      FROM $E e GROUP BY 1, 2)
       |SELECT u.user_id AS user_id, t.event_type AS event_type,
       |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
       |FROM u CROSS JOIN t
       |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
       |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = ev(s, d).groupBy(col("user_id"))
      .pivot("event_type", types).agg(count(lit(1)))
    // pivot leaves NULL (not 0) for absent combinations; normalize
    // BEFORE the melt so the long form carries honest zero counts
    val filled = types.foldLeft(wide)((df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L))))
    filled.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
      .orderedSmall(col("user_id"), col("event_type"))
  }

  /** JSON field extraction (#221): pull a typed field out of the
    * semi-structured `props` JSON column and aggregate it — the
    * "schema-on-read" op every event pipeline starts with (Spark
    * `get_json_object`, DuckDB `json_extract_string`, both
    * path-addressed). Extraction is per-row/zero-shuffle; the
    * aggregate is one hash pass. A malformed or missing path yields
    * NULL on both engines (count(k) vs count(*) exposes exactly the
    * parse-failure count, pinned by the gate columns).
    */
  val qJsonExtract = GateQuery.sql(
    "q_json_extract",
    """WITH j AS (SELECT event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, count(*) AS n, count(k) AS n_parsed,
      |  CAST(sum(k) AS BIGINT) AS k_sum,
      |  CAST(min(k) AS BIGINT) AS k_min, CAST(max(k) AS BIGINT) AS k_max,
      |  CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val j = Tables.events(s, d).select(col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
    j.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_parsed"),
        sum(col("k")).cast("long").as("k_sum"),
        min(col("k")).cast("long").as("k_min"), max(col("k")).cast("long").as("k_max"),
        countDistinct(col("k")).as("k_distinct"))
      .orderedSmall(col("event_type"))
  }

  val all: Seq[GateQuery] = Seq(
    qRangeJoin, qCube, qModePerGroup, qBgSubtract, qWeightedMedian,
    qQualityBuckets, qSixcHkl, qUnpivot, qJsonExtract)
}
