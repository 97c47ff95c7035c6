package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Binning, Exact, KMedoids, ScanCorrect, VectorOps}
import graft.operators.Exact.{centsSql, roundedRatioSql}

/** Round-6 analysis extensions (SURVEY.md §2 #144–#148): detector
  * deadtime correction, relational set operations, int8 scalar
  * quantization of embeddings, inverse-variance multi-scan merge,
  * and SNIP iterative background estimation — each SQL-gated with
  * the exact-integer discipline of SURVEY.md §4 (cents / micro /
  * pico quantization BEFORE any aggregate, floor-division instead
  * of double division everywhere a ratio crosses the oracle).
  */
object AnalysisQueries {

  private val TauE7 = 10L // deadtime τ = 1 µs per unit rate

  /** Deadtime correction (#144): nonparalyzable correction of every
    * 'view' counter reading, rolled up per scan — observed vs
    * corrected totals and the worst per-point dead fraction. Pure
    * per-row integer math + one scan-keyed aggregate: map-side
    * combined, no skew surface, unchanged at 100 TB.
    */
  val qDeadtime = GateQuery.sql(
    "q_deadtime",
    s"""WITH e AS (SELECT user_id, ${centsSql("vd")} AS c FROM $E t
       |  WHERE event_type = 'view')
       |SELECT user_id, count(*) AS n_points,
       |  CAST(sum(c) AS BIGINT) AS obs_cents,
       |  CAST(sum(${ScanCorrect.deadtimeMicroSql("c", 10L)}) AS BIGINT) AS corr_micro,
       |  max(${ScanCorrect.deadFracPpmSql("c", 10L)}) AS max_dead_ppm
       |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), Exact.cents(col("vd")).as("c"))
    e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        Exact.sumUnits(col("c")).cast("long").as("obs_cents"),
        Exact.sumUnits(ScanCorrect.deadtimeMicro(col("c"), TauE7)).cast("long")
          .as("corr_micro"),
        max(ScanCorrect.deadFracPpm(col("c"), TauE7)).as("max_dead_ppm"))
      .orderedSmall(col("user_id"))
  }

  /** Relational set operations (#145): INTERSECT / EXCEPT over the
    * click vs purchase user populations, summarized as segment
    * counts. Spark plans these as distinct-aggregate + semi/anti
    * hash joins on the key — the scalable shape (never a sort-based
    * set difference).
    */
  val qSetOps = GateQuery.sql(
    "q_set_ops",
    """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT 'both' AS segment,
      |  count(*) AS n_users FROM (SELECT * FROM c INTERSECT SELECT * FROM p)
      |UNION ALL SELECT 'click_only', count(*)
      |  FROM (SELECT * FROM c EXCEPT SELECT * FROM p)
      |UNION ALL SELECT 'purchase_only', count(*)
      |  FROM (SELECT * FROM p EXCEPT SELECT * FROM c)
      |ORDER BY segment""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    def users(t: String) =
      e.filter(col("event_type") === t).select(col("user_id")).distinct()
    val c = users("click")
    val p = users("purchase")
    def seg(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("segment"), col("n_users"))
    seg("both", c.intersect(p))
      .unionAll(seg("click_only", c.except(p)))
      .unionAll(seg("purchase_only", p.except(c)))
      .orderedSmall(col("segment"))
  }

  /** Int8 scalar quantization (#146): the FAISS-SQ8 storage path —
    * per-dimension [min,max] trained on the corpus, each component
    * rounded to a 0–255 code, with EXACT integer reconstruction-error
    * accounting. On the 1e-6-quantized integer vectors every step is
    * integer arithmetic: code = (a·510 + s) div (2s) (HALF_UP),
    * residual r = 255·a − code·s in (micro/255) units, error = Σ r²
    * — bit-identical on both engines with no doubles anywhere.
    * Shape: one dim-keyed aggregate (64 rows) re-attached as a 1-row
    * broadcast, then per-row expressions + one label-keyed aggregate.
    */
  val qEmbedInt8 = GateQuery.sql(
    "q_embed_int8",
    s"""WITH e AS (SELECT vec_id, label, ${VectorOps.quantizeSql("embedding")} AS q
       |  FROM embeddings),
       |d AS (SELECT t.i AS dim, min(q[t.i]) AS mn, max(q[t.i]) AS mx
       |  FROM e, unnest(generate_series(1, len(q))) AS t(i) GROUP BY 1),
       |st AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM d),
       |r AS (SELECT vec_id, label,
       |  CAST(list_sum([CASE WHEN mxs[i] = mns[i] THEN 0 ELSE
       |      ((q[i] - mns[i]) * 255 - (((q[i] - mns[i]) * 510 + (mxs[i] - mns[i]))
       |         // ((mxs[i] - mns[i]) * 2)) * (mxs[i] - mns[i]))
       |    * ((q[i] - mns[i]) * 255 - (((q[i] - mns[i]) * 510 + (mxs[i] - mns[i]))
       |         // ((mxs[i] - mns[i]) * 2)) * (mxs[i] - mns[i])) END
       |    for i in range(1, len(q) + 1)]) AS BIGINT) AS r2
       |  FROM e, st)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(r2) AS BIGINT) AS sum_r2, max(r2) AS max_r2
       |FROM r GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), VectorOps.quantize(col("embedding")).as("q"))
    val dims = e.select(posexplode(col("q")).as(Seq("p", "v")))
      .groupBy((col("p") + 1).as("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val st = dims.groupBy()
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("dl"))
      .select(transform(col("dl"), x => x("mn")).as("mns"),
        transform(col("dl"), x => x("mx")).as("mxs"))
    val withSt = e.withColumn("jk", lit(1))
      .join(broadcast(st.withColumn("jk", lit(1))), "jk").drop("jk")
    val r2 = aggregate(sequence(lit(1), size(col("q"))), lit(0L), (acc, i) => {
      val a = element_at(col("q"), i) - element_at(col("mns"), i)
      val sc = element_at(col("mxs"), i) - element_at(col("mns"), i)
      val code = Binning.floorDivCol(a * lit(510L) + sc, sc * lit(2L))
      val rr = a * lit(255L) - code * sc
      acc + when(sc === 0, lit(0L)).otherwise(rr * rr)
    })
    withSt.select(col("vec_id"), col("label"), r2.as("r2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        Exact.sumUnits(col("r2")).cast("long").as("sum_r2"),
        max(col("r2")).as("max_r2"))
      .orderedSmall(col("label"))
  }

  /** Inverse-variance multi-scan merge (#147): repeated scans of the
    * same signal (all scans' 'view' points) merged onto a shared
    * hour grid with 1/σ² weights (Poisson: σ² ≈ counts, so
    * w = 1e6 div max(c,1)) and the propagated uncertainty
    * σ²_merged = 1/Σw — the pyspec "average scans with error bars"
    * operation. Integer weights make every sum exact; the merged
    * value and its variance leave via exact floor-division /
    * HALF_UP ratio only. One bucket-keyed aggregate, map-side
    * combined.
    */
  val qScanMerge = GateQuery.sql(
    "q_scan_merge",
    s"""WITH e AS (SELECT xs // 3600 AS grid, ${centsSql("vd")} AS c FROM $E t
       |  WHERE event_type = 'view'),
       |w AS (SELECT grid, c, 1000000 // greatest(c, 1) AS w FROM e),
       |a AS (SELECT grid, count(*) AS n_points,
       |    CAST(sum(w) AS BIGINT) AS sw, CAST(sum(w * c) AS BIGINT) AS swc
       |  FROM w GROUP BY grid)
       |SELECT grid, n_points, sw,
       |  ${roundedRatioSql("swc", "sw", 2)} AS merged_cents,
       |  (1000000000000 // sw) AS var_pico
       |FROM a ORDER BY grid""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type") === "view")
      .select(Binning.floorDiv(col("xs"), 3600L).as("grid"), Exact.cents(col("vd")).as("c"))
    val w = e.withColumn("w", Binning.floorDivCol(lit(1000000L), greatest(col("c"), lit(1L))))
    w.groupBy(col("grid"))
      .agg(count(lit(1)).as("n_points"),
        Exact.sumUnits(col("w")).cast("long").as("sw"),
        Exact.sumUnits(col("w") * col("c")).cast("long").as("swc"))
      .select(col("grid"), col("n_points"), col("sw"),
        Exact.roundedRatio(col("swc"), col("sw"), 2).as("merged_cents"),
        Binning.floorDivCol(lit(1000000000000L), col("sw")).as("var_pico"))
      .orderedSmall(col("grid"))
  }

  private val SnipWidths = Seq(8, 4, 2, 1)

  /** SNIP background estimation (#148): the XRF/powder iterative
    * background peeler over each scan's 'error' series, rolled up to
    * per-scan raw / background / net totals. The 4-pass clipping
    * pyramid shares one scan-keyed ordered window — a single
    * shuffle at any corpus size ([[ScanCorrect.snip]]).
    */
  val qSnipBackground = GateQuery.sql(
    "q_snip_background",
    s"""WITH ${ScanCorrect.snipSqlCtes(
          s"""SELECT user_id, ts_us, event_id, ${centsSql("vd")} AS y0
             |  FROM $E t WHERE event_type = 'error'""".stripMargin,
          "user_id", "ts_us, event_id", SnipWidths)}
       |SELECT user_id, count(*) AS n_points,
       |  CAST(sum(y0) AS BIGINT) AS raw_cents,
       |  CAST(sum(y${SnipWidths.size}) AS BIGINT) AS bg_cents,
       |  CAST(sum(y0 - y${SnipWidths.size}) AS BIGINT) AS net_cents
       |FROM s${SnipWidths.size} GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val base = ev(s, d).filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us"), col("event_id"), Exact.cents(col("vd")).as("y0"))
    val bg = ScanCorrect.snip(base, col("y0"), Seq(col("user_id")),
      Seq(col("ts_us"), col("event_id")), SnipWidths, "bg")
    bg.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        Exact.sumUnits(col("y0")).cast("long").as("raw_cents"),
        Exact.sumUnits(col("bg")).cast("long").as("bg_cents"),
        Exact.sumUnits(col("y0") - col("bg")).cast("long").as("net_cents"))
      .orderedSmall(col("user_id"))
  }

  /** Cross-correlation scan alignment (#149): pyspec's "align repeated
    * scans to a reference" — integer cross-correlation of every scan's
    * hourly profile against scan 0 over lags −3..+3, best lag per scan
    * by (corr desc, lag asc). The reference profile is a broadcast
    * build side (one scan ≈ grid-sized), the lag fan-out is a fixed
    * ×7 explode, and the argmax window sees 7 rows per scan — every
    * stage bounded, nothing quadratic in scans or points.
    */
  val qXcorrAlign = GateQuery.sql(
    "q_xcorr_align",
    s"""WITH g AS (SELECT user_id, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E t WHERE event_type = 'view' GROUP BY 1, 2),
       |ref AS (SELECT grid, y AS yr FROM g WHERE user_id = 0),
       |c AS (SELECT g.user_id, l.lag, CAST(sum(g.y * r.yr) AS BIGINT) AS corr
       |  FROM g, (SELECT unnest(generate_series(-3, 3)) AS lag) l
       |  JOIN ref r ON g.grid + l.lag = r.grid
       |  GROUP BY 1, 2),
       |b AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY corr DESC, lag) AS rn FROM c)
       |SELECT user_id, lag AS best_lag, corr AS best_corr
       |FROM b WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = ev(s, d).filter(col("event_type") === "view")
      .groupBy(col("user_id"), Binning.floorDiv(col("xs"), 3600L).as("grid"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val ref = g.filter(col("user_id") === 0).select(col("grid").as("rgrid"), col("y").as("yr"))
    val c = g.withColumn("lag", explode(sequence(lit(-3), lit(3))))
      .join(broadcast(ref), col("grid") + col("lag") === col("rgrid"))
      .groupBy(col("user_id"), col("lag"))
      .agg(Exact.sumUnits(col("y") * col("yr")).cast("long").as("corr"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("corr").desc, col("lag"))
    c.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("lag").as("best_lag"), col("corr").as("best_corr"))
      .orderedSmall(col("user_id"))
  }

  /** Rolling 7-day distinct actives (#150): per day, how many distinct
    * users were active in the trailing 7 days — EXACT, via the
    * bounded ×7 day-explode of the (day, user) distinct relation +
    * a two-phase distinct aggregate. No range self-join, no window
    * over per-user sequences; fan-out is a constant factor at any
    * corpus size.
    */
  val qRollingActives = GateQuery.sql(
    "q_rolling_actives",
    s"""WITH du AS (SELECT DISTINCT xs // 86400 AS day, user_id FROM $E t),
       |r AS (SELECT t.rday, user_id FROM du,
       |  unnest(generate_series(day, day + 6)) AS t(rday))
       |SELECT rday, count(DISTINCT user_id) AS active_7d
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val du = ev(s, d)
      .select(Binning.floorDiv(col("xs"), 86400L).as("day"), col("user_id")).distinct()
    du.select(explode(sequence(col("day"), col("day") + 6)).as("rday"), col("user_id"))
      .groupBy(col("rday"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
      .orderedSmall(col("rday"))
  }

  /** RFM segmentation (#151): recency / frequency / monetary quintile
    * scores per purchasing user, summarized as segment counts. The
    * quintile thresholds are EXACT discrete percentiles computed the
    * [[graft.operators.Percentiles.weightedPerGroup]] way — a running
    * sum over the per-(dim, value) COLLAPSED relation (never a
    * per-row global sort), so a billion users cost the threshold
    * window |distinct values| rows. Scores attach via a 12-row
    * broadcast; ties at a threshold score LOW on both engines
    * (strict `>` crossing).
    */
  val qRfm = GateQuery.sql(
    "q_rfm",
    s"""WITH u AS (SELECT user_id,
       |    (SELECT max(xs) FROM $E t) // 86400 - max(xs) // 86400 AS r_days,
       |    count(*) AS freq, CAST(sum(${centsSql("vd")}) AS BIGINT) AS mon
       |  FROM $E t WHERE event_type = 'purchase' GROUP BY user_id),
       |dims AS (SELECT user_id, 'r' AS dim, CAST(r_days AS BIGINT) AS v FROM u
       |  UNION ALL SELECT user_id, 'f', CAST(freq AS BIGINT) FROM u
       |  UNION ALL SELECT user_id, 'm', mon FROM u),
       |pv AS (SELECT dim, v, count(*) AS c FROM dims GROUP BY 1, 2),
       |cw AS (SELECT dim, v,
       |    sum(c) OVER (PARTITION BY dim ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY dim) AS tot FROM pv),
       |th AS (SELECT dim, p, min(v) AS t FROM cw,
       |  (SELECT unnest([20, 40, 60, 80]) AS p) pp
       |  WHERE cum * 100 >= tot * p GROUP BY 1, 2),
       |sc AS (SELECT d.user_id, d.dim,
       |    1 + count(CASE WHEN d.v > th.t THEN 1 END) AS score
       |  FROM dims d JOIN th ON d.dim = th.dim GROUP BY 1, 2),
       |pvt AS (SELECT user_id,
       |    max(CASE WHEN dim = 'r' THEN score END) AS r_score,
       |    max(CASE WHEN dim = 'f' THEN score END) AS f_score,
       |    max(CASE WHEN dim = 'm' THEN score END) AS m_score
       |  FROM sc GROUP BY 1)
       |SELECT r_score, f_score, m_score, count(*) AS n_users
       |FROM pvt GROUP BY 1, 2, 3
       |ORDER BY r_score, f_score, m_score""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, d).filter(col("event_type") === "purchase")
    val maxDay = e.agg(Binning.floorDiv(max(col("xs")), 86400L).as("max_day"))
    val u0 = e.groupBy(col("user_id"))
      .agg(Binning.floorDiv(max(col("xs")), 86400L).as("u_day"),
        count(lit(1)).as("freq"),
        Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("mon"))
    // user-sized relation read by all three dim branches AND the score
    // join — cache it so the corpus-scale purchase aggregate runs once,
    // not six times (gate-lifetime cache, freed by the harness).
    val u = graft.operators.Curation.withStats(u0, maxDay)
      .select(col("user_id"), (col("max_day") - col("u_day")).as("r_days"),
        col("freq"), col("mon"))
      .persist()
    val dims = u.select(col("user_id"), lit("r").as("dim"), col("r_days").cast("long").as("v"))
      .unionAll(u.select(col("user_id"), lit("f").as("dim"), col("freq").cast("long").as("v")))
      .unionAll(u.select(col("user_id"), lit("m").as("dim"), col("mon").as("v")))
    val pv = dims.groupBy(col("dim"), col("v")).agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy(col("dim")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val th = pv
      .withColumn("cum", sum(col("c")).over(cum))
      .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("dim"))))
      .withColumn("p", explode(lit(Array(20, 40, 60, 80))))
      .filter(col("cum") * 100 >= col("tot") * col("p"))
      .groupBy(col("dim"), col("p")).agg(min(col("v")).as("t"))
    val sc = dims.join(broadcast(th), "dim")
      .groupBy(col("user_id"), col("dim"))
      .agg((lit(1) + count(when(col("v") > col("t"), lit(1)))).as("score"))
    sc.groupBy(col("user_id"))
      .agg(max(when(col("dim") === "r", col("score"))).as("r_score"),
        max(when(col("dim") === "f", col("score"))).as("f_score"),
        max(when(col("dim") === "m", col("score"))).as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"))
      .orderedSmall(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Ranking-window completeness (#152): dense_rank, percent_rank and
    * cume_dist over per-(event_type, user) spend totals — the
    * SQL-standard rank family in one partitioned window whose tie
    * order is pinned by (total, user_id). The int/int divisions
    * behind percent_rank/cume_dist are bit-identical cross-engine;
    * round(…, 6) + 0.0 canonicalizes them anyway.
    */
  val qWindowFuncs = GateQuery.sql(
    "q_window_funcs",
    s"""WITH u AS (SELECT event_type, user_id,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS tot
       |  FROM $E t GROUP BY 1, 2)
       |SELECT event_type, user_id, tot,
       |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
       |  round(percent_rank() OVER w, 6) + 0.0 AS prank,
       |  round(cume_dist() OVER w, 6) + 0.0 AS cdist
       |FROM u WINDOW w AS (PARTITION BY event_type ORDER BY tot, user_id)
       |ORDER BY event_type, user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val u = ev(s, d).groupBy(col("event_type"), col("user_id"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("tot"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("tot"), col("user_id"))
    u.select(col("event_type"), col("user_id"), col("tot"),
      dense_rank().over(w).cast("long").as("drank"),
      (round(percent_rank().over(w), 6) + lit(0.0)).as("prank"),
      (round(cume_dist().over(w), 6) + lit(0.0)).as("cdist"))
      .orderedSmall(col("event_type"), col("user_id"))
  }

  /** Benford first-digit audit (#153): the classic data-quality /
    * fraud screen — observed leading-digit shares per event type in
    * exact ppm next to the Benford expectation log10(1+1/d)
    * micro-quantized from a 9-value literal domain. One hash
    * aggregate + a 9-rows-per-type window; the only libm call sits
    * on literal inputs, identical on both engines.
    */
  val qBenford = GateQuery.sql(
    "q_benford",
    s"""WITH e AS (SELECT event_type, ${centsSql("vd")} AS c FROM $E t
       |  WHERE ${centsSql("vd")} > 0),
       |d AS (SELECT event_type,
       |    CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM e),
       |a AS (SELECT event_type, digit, count(*) AS n FROM d GROUP BY 1, 2),
       |s AS (SELECT *, CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
       |  FROM a)
       |SELECT event_type, digit, n,
       |  (n * 1000000) // tot AS share_ppm,
       |  CAST(floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 1000000) AS BIGINT)
       |    AS benford_ppm
       |FROM s ORDER BY event_type, digit""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // Benford applies to nonzero amounts: a 0.00 reading has no
    // leading digit (and digit 0 would divide the expectation by 0)
    val e = ev(s, d).select(col("event_type"), Exact.cents(col("vd")).as("c"))
      .filter(col("c") > 0)
    val a = e.select(col("event_type"),
        substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("event_type"), col("digit")).agg(count(lit(1)).as("n"))
    a.withColumn("tot", sum(col("n")).over(Window.partitionBy(col("event_type"))).cast("long"))
      .select(col("event_type"), col("digit"), col("n"),
        Binning.floorDivCol(col("n") * lit(1000000L), col("tot")).as("share_ppm"),
        floor(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)) * lit(1000000))
          .cast("long").as("benford_ppm"))
      .orderedSmall(col("event_type"), col("digit"))
  }

  /** Corrected-scan pipeline (#156): the beamline user's full
    * reduction chain as ONE declarative plan — deadtime-correct every
    * detector reading, peel the SNIP background, roll up per scan and
    * normalize to the scan's monitor counter (the 'click' channel) —
    * the scan-side analogue of the curation funnel. Two scan-keyed
    * aggregates + the single SNIP window shuffle; the monitor join is
    * scan-keyed and co-partitions with the rollup.
    */
  val qScanPipeline = GateQuery.sql(
    "q_scan_pipeline",
    s"""WITH ${ScanCorrect.snipSqlCtes(
          s"""SELECT user_id, ts_us, event_id,
             |  ${ScanCorrect.deadtimeMicroSql(centsSql("vd"), 10L)} AS y0
             |  FROM $E t WHERE event_type = 'view'""".stripMargin,
          "user_id", "ts_us, event_id", SnipWidths)},
       |m AS (SELECT user_id, CAST(sum(${centsSql("vd")}) AS BIGINT) AS mon_cents
       |  FROM $E t WHERE event_type = 'click' GROUP BY 1),
       |a AS (SELECT user_id, count(*) AS n_points,
       |    CAST(sum(y0) AS BIGINT) AS corr_micro,
       |    CAST(sum(y${SnipWidths.size}) AS BIGINT) AS bg_micro,
       |    CAST(sum(y0 - y${SnipWidths.size}) AS BIGINT) AS net_micro
       |  FROM s${SnipWidths.size} GROUP BY 1)
       |SELECT a.user_id AS user_id, n_points, mon_cents, corr_micro, bg_micro, net_micro,
       |  (net_micro * 1000) // mon_cents AS norm_units
       |FROM a JOIN m ON a.user_id = m.user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val e = ev(s, d)
    val base = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        ScanCorrect.deadtimeMicro(Exact.cents(col("vd")), TauE7).as("y0"))
    val mon = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("mon_cents"))
    val bg = ScanCorrect.snip(base, col("y0"), Seq(col("user_id")),
      Seq(col("ts_us"), col("event_id")), SnipWidths, "bg")
    bg.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        Exact.sumUnits(col("y0")).cast("long").as("corr_micro"),
        Exact.sumUnits(col("bg")).cast("long").as("bg_micro"),
        Exact.sumUnits(col("y0") - col("bg")).cast("long").as("net_micro"))
      .join(mon, "user_id")
      .select(col("user_id"), col("n_points"), col("mon_cents"),
        col("corr_micro"), col("bg_micro"), col("net_micro"),
        Binning.floorDivCol(col("net_micro") * lit(1000L), col("mon_cents")).as("norm_units"))
      .orderedSmall(col("user_id"))
  }

  /** Event-type transition matrix (#158): the first-order Markov view
    * of user behavior — per (prev, next) pair the transition count
    * and exact-ppm conditional share. One user-keyed lag window + one
    * hash aggregate + a 25-row share window; nothing scales beyond
    * the event-type² matrix.
    */
  val qEventTransitions = GateQuery.sql(
    "q_event_transitions",
    s"""WITH s AS (SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
       |  FROM $E t),
       |a AS (SELECT prev, event_type AS next, count(*) AS n FROM s
       |  WHERE prev IS NOT NULL GROUP BY 1, 2)
       |SELECT prev, next, n,
       |  (n * 1000000) // CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT) AS p_ppm
       |FROM a ORDER BY prev, next""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val a = ev(s, d)
      .select(col("user_id"), col("event_type"), lag(col("event_type"), 1).over(w).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    a.withColumn("tot", sum(col("n")).over(Window.partitionBy(col("prev"))).cast("long"))
      .select(col("prev"), col("next"), col("n"),
        Binning.floorDivCol(col("n") * lit(1000000L), col("tot")).as("p_ppm"))
      .orderedSmall(col("prev"), col("next"))
  }

  /** Session concurrency sweep (#406): from the 6-hour-gap sessions
    * (#45's relation), a ±1 sweep-line over session starts/ends →
    * peak simultaneous sessions and the TIME-WEIGHTED mean
    * concurrency — the capacity-planning numbers (how many users
    * are on at once, not just DAU #216). Sweep points are
    * 2·sessions rows; ends sort before starts at the same instant
    * (end-exclusive intervals, so back-to-back sessions don't
    * double-count); level × segment-duration sums are exact
    * integer µs; the mean is one exact ppm floor. The ordered
    * cumulative window is session-count-bounded — never event-
    * scale.
    */
  val qConcurrency = GateQuery.sql(
    "q_concurrency",
    s"""WITH e AS (SELECT user_id, ts_us AS t, event_id FROM $E AS ev),
       |b AS (SELECT user_id, t, event_id,
       |    CASE WHEN t - lag(t) OVER w > 21600000000 THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |s AS (SELECT user_id, t,
       |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
       |  FROM b),
       |iv AS (SELECT min(t) AS t0, max(t) AS t1 FROM s
       |  GROUP BY user_id, sid),
       |pt AS (SELECT t0 AS t, CAST(1 AS BIGINT) AS d FROM iv
       |  UNION ALL SELECT t1, -1 FROM iv),
       |sw AS (SELECT t, d,
       |    CAST(sum(d) OVER (ORDER BY t, d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS lvl,
       |    lead(t) OVER (ORDER BY t, d) AS nt
       |  FROM pt),
       |seg AS (SELECT lvl, CAST(sum(nt - t) AS HUGEINT) AS dur
       |  FROM sw WHERE nt IS NOT NULL GROUP BY 1),
       |agg AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_sessions,
       |    CAST(max(lvl) AS BIGINT) AS max_concurrent,
       |    CAST(sum(CAST(lvl AS HUGEINT) * dur) AS HUGEINT) AS lw,
       |    CAST(sum(dur) AS HUGEINT) AS td
       |  FROM seg)
       |SELECT n_sessions, max_concurrent,
       |  CAST(CASE WHEN td > 0 THEN (lw * 1000000) // td END AS BIGINT)
       |    AS mean_concurrency_ppm
       |FROM agg""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val iv = graft.operators.Sessionize.batch(ev(s, d), col("user_id"),
        col("ts_us"), col("event_id"), lit(0L), gap = 21600000000L)
      .select(col("t_start").as("t0"), col("t_end").as("t1"))
    val pt = iv.select(col("t0").as("t"), lit(1L).as("d"))
      .unionAll(iv.select(col("t1").as("t"), lit(-1L).as("d")))
    val wo = Window.orderBy(col("t"), col("d"))
    val sw = pt
      .withColumn("lvl", sum(col("d")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .withColumn("nt", lead(col("t"), 1).over(wo))
    val seg = sw.filter(col("nt").isNotNull)
      .groupBy(col("lvl"))
      .agg(sum(col("nt") - col("t")).cast("decimal(38,0)").as("dur"))
    val ns = iv.agg(count(lit(1)).cast("long").as("n_sessions"))
    val agg = seg.agg(max(col("lvl")).cast("long").as("max_concurrent"),
      sum(col("lvl").cast("decimal(38,0)") * col("dur")).cast("decimal(38,0)").as("lw"),
      sum(col("dur")).cast("decimal(38,0)").as("td"))
    graft.operators.Curation.withStats(agg, ns)
      .select(col("n_sessions"), col("max_concurrent"),
        when(col("td") > 0,
          Exact.floorDivBig(col("lw") * lit(1000000L), col("td")).cast("long"))
          .as("mean_concurrency_ppm"))
  }

  /** HBOS histogram-based outlier score (#394, Goldstein & Dengel
    * 2012): per user, Σ_features −ln(bucket density) over decile
    * histograms of (event count, total spend, distinct event types)
    * — the deterministic density-based outlier detector (isolation
    * forests need RNG; HBOS doesn't), the behavioral-anomaly
    * companion of the rolling z-score (#160, which sees time, not
    * shape). Feature buckets are exact (f·10)//(1+max) floors (the
    * #209 convention, maxima on one 1-row broadcast); densities are
    * exact bucket counts; the score is Σ(mln(N) − mln(n_b)) in
    * micro-nats with every ln micro-floored per COUNT (order-free);
    * per-feature bucket relations are ≤10 rows joined back by
    * bucket id. Top-20 via TakeOrdered.
    */
  val qHbos = GateQuery.sql(
    "q_hbos", {
      val mln = graft.operators.Curation.microLnSql _
      s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS f1,
         |    CAST(sum(${graft.operators.Exact.centsSql("vd")}) AS BIGINT) AS f2,
         |    CAST(count(DISTINCT event_type) AS BIGINT) AS f3
         |  FROM $E t GROUP BY 1),
         |mx AS (SELECT 1 + max(f1) AS m1, 1 + max(greatest(f2, 0)) AS m2,
         |    1 + max(f3) AS m3, CAST(count(*) AS BIGINT) AS n FROM u),
         |b AS (SELECT user_id,
         |    (f1 * 10) // m1 AS b1, (greatest(f2, 0) * 10) // m2 AS b2,
         |    (f3 * 10) // m3 AS b3, n
         |  FROM u, mx),
         |h1 AS (SELECT b1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY 1),
         |h2 AS (SELECT b2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1),
         |h3 AS (SELECT b3, CAST(count(*) AS BIGINT) AS c3 FROM b GROUP BY 1),
         |sc AS (SELECT user_id,
         |    3 * ${mln("n")} - ${mln("c1")} - ${mln("c2")} - ${mln("c3")} AS score
         |  FROM b JOIN h1 USING (b1) JOIN h2 USING (b2) JOIN h3 USING (b3))
         |SELECT user_id, CAST(score AS BIGINT) AS hbos_micro
         |FROM sc ORDER BY score DESC, user_id LIMIT 20""".stripMargin
    }) { (s, d) =>
    import graft.operators.Curation.microLn
    // NOT persisted (measured r12): the whole gate is ONE action, so
    // Catalyst's exchange reuse already shares the user aggregate
    // between the maxima scan, the three histograms and the score
    // join — a cache only added materialization cost (0.97 → 1.24 s)
    val u = ev(s, d).groupBy(col("user_id")).agg(
      count(lit(1)).cast("long").as("f1"),
      Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("f2"),
      countDistinct(col("event_type")).cast("long").as("f3"))
    val mx = u.agg((lit(1L) + max(col("f1"))).as("m1"),
      (lit(1L) + max(greatest(col("f2"), lit(0L)))).as("m2"),
      (lit(1L) + max(col("f3"))).as("m3"),
      count(lit(1)).cast("long").as("n"))
    val b = graft.operators.Curation.withStats(u, mx).select(col("user_id"),
      Binning.floorDivCol(col("f1") * lit(10L), col("m1")).as("b1"),
      Binning.floorDivCol(greatest(col("f2"), lit(0L)) * lit(10L), col("m2")).as("b2"),
      Binning.floorDivCol(col("f3") * lit(10L), col("m3")).as("b3"),
      col("n"))
    val h1 = b.groupBy(col("b1")).agg(count(lit(1)).cast("long").as("c1"))
    val h2 = b.groupBy(col("b2")).agg(count(lit(1)).cast("long").as("c2"))
    val h3 = b.groupBy(col("b3")).agg(count(lit(1)).cast("long").as("c3"))
    b.join(broadcast(h1), "b1").join(broadcast(h2), "b2").join(broadcast(h3), "b3")
      .select(col("user_id"),
        (lit(3L) * microLn(col("n")) - microLn(col("c1")) -
          microLn(col("c2")) - microLn(col("c3"))).as("score"))
      .select(col("user_id"), col("score").cast("long").as("hbos_micro"))
      .orderBy(col("hbos_micro").desc, col("user_id"))
      .limit(20)
  }

  /** Markov entropy rate (#384, Shannon 1948 §7): the per-step
    * entropy H = −Σᵢⱼ (nᵢⱼ/N)·ln(nᵢⱼ/nᵢ) of the #158 transition
    * matrix next to the marginal entropy H₀ of the next-state
    * distribution — the gap H₀ − H is exactly how much knowing the
    * previous event buys in predictability (the sequence-level
    * counterpart of the per-user hour entropy #373; near-zero gap =
    * memoryless traffic, large gap = strong behavioral grammar).
    * Telescoped to Σnᵢ·mln(nᵢ) − Σnᵢⱼ·mln(nᵢⱼ) so every ln is
    * micro-floored per COUNT before any sum (order-free, exact, and
    * floor-monotone so both numerators stay nonnegative); marginals
    * and dedup flags ride windows over the bounded k² matrix — one
    * extra pass over 25 rows, zero extra shuffles of the event data.
    */
  val qEntropyRate = GateQuery.sql(
    "q_entropy_rate", {
      val mln = graft.operators.Curation.microLnSql _
      s"""WITH s AS (SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
         |  FROM $E t),
         |a AS (SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
         |  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT n,
         |    CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT) AS np,
         |    CAST(sum(n) OVER (PARTITION BY next) AS BIGINT) AS mn,
         |    row_number() OVER (PARTITION BY prev ORDER BY next) AS rp,
         |    row_number() OVER (PARTITION BY next ORDER BY prev) AS rn
         |  FROM a),
         |g AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    CAST(sum(CASE WHEN rp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k,
         |    CAST(sum(CAST(n AS HUGEINT) * ${mln("n")}) AS HUGEINT) AS sij,
         |    CAST(sum(CASE WHEN rp = 1
         |      THEN CAST(np AS HUGEINT) * ${mln("np")} END) AS HUGEINT) AS sp,
         |    CAST(sum(CASE WHEN rn = 1
         |      THEN CAST(mn AS HUGEINT) * ${mln("mn")} END) AS HUGEINT) AS sm
         |  FROM w)
         |SELECT nt AS n_transitions, k AS n_states,
         |  CAST((CAST(nt AS HUGEINT) * ${mln("nt")} - sm) // nt AS BIGINT) AS h0_micro,
         |  CAST((sp - sij) // nt AS BIGINT) AS h_rate_micro,
         |  CAST((CAST(nt AS HUGEINT) * ${mln("nt")} - sm) // nt
         |    - (sp - sij) // nt AS BIGINT) AS gain_micro
         |FROM g""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Curation.microLn
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val a = ev(s, d)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(wu).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).cast("long").as("n"))
    val w = a
      .withColumn("np", sum(col("n")).over(Window.partitionBy(col("prev"))).cast("long"))
      .withColumn("mn", sum(col("n")).over(Window.partitionBy(col("next"))).cast("long"))
      .withColumn("rp", row_number().over(
        Window.partitionBy(col("prev")).orderBy(col("next"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("next")).orderBy(col("prev"))))
    val g = w.agg(
      sum(col("n")).cast("long").as("nt"),
      sum(when(col("rp") === 1, 1L).otherwise(0L)).cast("long").as("k"),
      sum(col("n").cast("decimal(38,0)") * microLn(col("n")))
        .cast("decimal(38,0)").as("sij"),
      sum(when(col("rp") === 1, col("np").cast("decimal(38,0)") * microLn(col("np"))))
        .cast("decimal(38,0)").as("sp"),
      sum(when(col("rn") === 1, col("mn").cast("decimal(38,0)") * microLn(col("mn"))))
        .cast("decimal(38,0)").as("sm"))
    val h0 = Exact.floorDivBig(
      col("nt").cast("decimal(38,0)") * microLn(col("nt")) - col("sm"),
      col("nt")).cast("long")
    val hr = Exact.floorDivBig(col("sp") - col("sij"), col("nt")).cast("long")
    g.select(col("nt").as("n_transitions"), col("k").as("n_states"),
      h0.as("h0_micro"), hr.as("h_rate_micro"), (h0 - hr).as("gain_micro"))
  }

  /** Top user paths (#159): each user's first three events as an
    * ordered path string, counted — the entry-funnel analysis every
    * product-analytics stack runs. The rank window prunes to ≤ 3
    * rows per user BEFORE the path aggregate, so the shuffle carries
    * a bounded multiple of the user count.
    */
  val qUserPaths = GateQuery.sql(
    "q_user_paths",
    s"""WITH r AS (SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
       |  FROM $E t),
       |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM r WHERE rn <= 3 GROUP BY user_id)
       |SELECT path, count(*) AS n_users FROM p GROUP BY path
       |ORDER BY path""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    ev(s, d)
      .select(col("user_id"), col("event_type"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderedSmall(col("path"))
  }

  /** Rolling z-score anomaly flags (#160): each 'view' reading vs its
    * trailing 8-point window (exclusive), flagged when |z| > 3 — with
    * the WHOLE test in exact integer arithmetic: (n·x − S)² > 9·(n·Q
    * − S²) on integer cents needs no sqrt, no float accumulation, no
    * epsilon. One user-keyed ordered window; counts roll up per scan.
    */
  val qRollingZscore = GateQuery.sql(
    "q_rolling_zscore",
    s"""WITH c AS (SELECT user_id, event_id, ts_us,
       |    ${centsSql("vd")} AS x FROM $E t WHERE event_type = 'view'),
       |w AS (SELECT user_id, event_id, x,
       |    count(*) OVER win AS n, CAST(sum(x) OVER win AS BIGINT) AS s,
       |    CAST(sum(x * x) OVER win AS BIGINT) AS q
       |  FROM c WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
       |SELECT user_id, count(*) AS n_points,
       |  count(CASE WHEN n >= 4 AND (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
       |    THEN 1 END) AS n_flagged
       |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val c = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts_us"), Exact.cents(col("vd")).as("x"))
    val win = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-8, -1)
    val w = c
      .withColumn("n", count(lit(1)).over(win))
      .withColumn("s", sum(col("x")).over(win).cast("long"))
      .withColumn("q", sum(col("x") * col("x")).over(win).cast("long"))
    val dev = (col("n") * col("x") - col("s"))
    val flagged = col("n") >= 4 && dev * dev > lit(9L) * (col("n") * col("q") - col("s") * col("s"))
    w.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        count(when(flagged, lit(1))).as("n_flagged"))
      .orderedSmall(col("user_id"))
  }

  /** Compression-ratio quality signal (#161, rows+test): per-source
    * deflate-ratio distribution over the documents table — the
    * SlimPajama-family repetitiveness/junk screen as a native
    * expression ([[graft.expressions.DeflateRatioExpr]]). No SQL
    * oracle (DuckDB has no zlib surface); determinism and the
    * repetitive-vs-random ordering are pinned by CompressSpec.
    */
  val qCompressRatio = GateQuery.rowsOnly("q_compress_ratio") { (s, d) =>
    val r = graft.expressions.CompressExpressions.deflateRatioPpm(col("text"))
    Tables.documents(s, d)
      .select(col("source"), r.as("ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ppm")).as("min_ppm"), max(col("ppm")).as("max_ppm"),
        Binning.floorDivCol(sum(col("ppm")).cast("long"), count(lit(1))).as("mean_ppm"),
        count(when(col("ppm") < 300000, lit(1))).as("n_repetitive"),
        count(when(col("ppm") > 900000, lit(1))).as("n_incompressible"))
      .orderedSmall(col("source"))
  }

  /** Peak finding (#163): pyspec "findpeaks" — a point is a peak when
    * it is a STRICT local maximum over ±2 neighbors AND clears the
    * whole-scan significance test (x−mean)² > 4·var, the latter in
    * pure integer cents ((n·x−S)² > 4·(nQ−S²) — no sqrt, no floats).
    * Both windows share the scan partitioning: one shuffle.
    */
  val qPeakFind = GateQuery.sql(
    "q_peak_find",
    s"""WITH c AS (SELECT user_id, event_id, ts_us, ${centsSql("vd")} AS x
       |  FROM $E t WHERE event_type = 'view'),
       |w AS (SELECT user_id, event_id, x,
       |    lag(x, 1) OVER o AS p1, lag(x, 2) OVER o AS p2,
       |    lead(x, 1) OVER o AS n1, lead(x, 2) OVER o AS n2,
       |    count(*) OVER s AS n, CAST(sum(x) OVER s AS BIGINT) AS sm,
       |    CAST(sum(x * x) OVER s AS BIGINT) AS q
       |  FROM c WINDOW o AS (PARTITION BY user_id ORDER BY ts_us, event_id),
       |    s AS (PARTITION BY user_id)),
       |p AS (SELECT user_id, event_id, x,
       |    (x > coalesce(p1, -1) AND x > coalesce(p2, -1)
       |     AND x > coalesce(n1, -1) AND x > coalesce(n2, -1)
       |     AND n >= 5 AND (n * x - sm) * (n * x - sm) > 4 * (n * q - sm * sm)) AS is_peak
       |  FROM w)
       |SELECT user_id, count(*) AS n_points,
       |  count(CASE WHEN is_peak THEN 1 END) AS n_peaks,
       |  max(CASE WHEN is_peak THEN x END) AS max_peak_cents
       |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val c = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts_us"), Exact.cents(col("vd")).as("x"))
    val o = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val sw = Window.partitionBy(col("user_id"))
    val w = c
      .withColumn("p1", lag(col("x"), 1).over(o))
      .withColumn("p2", lag(col("x"), 2).over(o))
      .withColumn("n1", lead(col("x"), 1).over(o))
      .withColumn("n2", lead(col("x"), 2).over(o))
      .withColumn("n", count(lit(1)).over(sw))
      .withColumn("sm", sum(col("x")).over(sw).cast("long"))
      .withColumn("q", sum(col("x") * col("x")).over(sw).cast("long"))
    val dev = col("n") * col("x") - col("sm")
    val isPeak = col("x") > coalesce(col("p1"), lit(-1L)) &&
      col("x") > coalesce(col("p2"), lit(-1L)) &&
      col("x") > coalesce(col("n1"), lit(-1L)) &&
      col("x") > coalesce(col("n2"), lit(-1L)) &&
      col("n") >= 5 && dev * dev > lit(4L) * (col("n") * col("q") - col("sm") * col("sm"))
    w.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        count(when(isPeak, lit(1))).as("n_peaks"),
        max(when(isPeak, col("x"))).as("max_peak_cents"))
      .orderedSmall(col("user_id"))
  }

  /** Exact 10% trimmed mean (#166): the robust-statistics companion
    * to median/MAD (#122) — drop ⌊n/10⌋ ranked points from EACH end
    * of every scan, mean the rest via the exact HALF_UP ratio. Two
    * rank windows share the scan shuffle; ties pin by event_id so
    * both engines trim the identical rows.
    */
  val qTrimmedMean = GateQuery.sql(
    "q_trimmed_mean",
    s"""WITH c AS (SELECT user_id, event_id, ts_us, ${centsSql("vd")} AS x
       |  FROM $E t WHERE event_type = 'view'),
       |r AS (SELECT user_id, x,
       |    row_number() OVER (PARTITION BY user_id ORDER BY x, event_id) AS ra,
       |    row_number() OVER (PARTITION BY user_id ORDER BY x DESC, event_id DESC) AS rd,
       |    count(*) OVER (PARTITION BY user_id) AS n
       |  FROM c),
       |k AS (SELECT user_id, x FROM r WHERE ra > n // 10 AND rd > n // 10)
       |SELECT user_id, count(*) AS n_kept, CAST(sum(x) AS BIGINT) AS sum_cents,
       |  ${roundedRatioSql("CAST(sum(x) AS BIGINT)", "count(*)", 4)} AS trimmed_mean
       |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val c = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), Exact.cents(col("vd")).as("x"))
    val wa = Window.partitionBy(col("user_id")).orderBy(col("x"), col("event_id"))
    val wd = Window.partitionBy(col("user_id")).orderBy(col("x").desc, col("event_id").desc)
    val k = c
      .withColumn("ra", row_number().over(wa))
      .withColumn("rd", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("ra") > Binning.floorDiv(col("n"), 10L) &&
        col("rd") > Binning.floorDiv(col("n"), 10L))
    k.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_kept"),
        Exact.sumUnits(col("x")).cast("long").as("sum_cents"))
      .select(col("user_id"), col("n_kept"), col("sum_cents"),
        Exact.roundedRatio(col("sum_cents"), col("n_kept"), 4).as("trimmed_mean"))
      .orderedSmall(col("user_id"))
  }

  private val RpOut = 8
  private val RpIn = 64

  /** Deterministic ±1 JL sign matrix — md5-derived exactly like
    * `TextOps.baseHash`, computed ONCE in the driver and inlined as
    * literals so neither engine hashes per row. */
  private lazy val rpSigns: Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(RpOut, RpIn) { (j, i) =>
      val d = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      if (h % 2 == 0) 1L else -1L
    }
  }

  /** Johnson–Lindenstrauss random projection (#167): 64-d embeddings
    * → 8-d sign-projection (Achlioptas 2003: ±1 entries preserve
    * pairwise distances in expectation) — the cheap dimensionality
    * reducer that runs BEFORE LSH/IVF at corpus scale. On the
    * 1e-6-quantized integer vectors the projection is exact integer
    * arithmetic with DRIVER-PRECOMPUTED literal signs: zero per-row
    * hashing, zero shuffle, one codegen span. Distance preservation
    * is pinned by AnalysisEdgeSpec-adjacent VectorOpsSpec checks;
    * the gate certifies every component cell-for-cell.
    */
  val qRandomProjection = GateQuery.sql(
    "q_random_projection", {
      val qz = "[CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) for x in embedding]"
      val cols = (0 until RpOut).map { j =>
        val lits = rpSigns(j).mkString(",")
        s"CAST(list_sum([q[i+1] * ([$lits][i+1]) for i in range(len(q))]) AS BIGINT) AS p${j + 1}"
      }.mkString(",\n  ")
      s"""WITH e AS (SELECT vec_id, label, $qz AS q FROM embeddings)
         |SELECT vec_id, label,
         |  $cols
         |FROM e ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        graft.operators.VectorOps.quantize(col("embedding")).as("q"))
    val projCols = (0 until RpOut).map { j =>
      (0 until RpIn).map(i => element_at(col("q"), i + 1) * lit(rpSigns(j)(i)))
        .reduce(_ + _).as(s"p${j + 1}")
    }
    e.select(col("vec_id") +: col("label") +: projCols: _*)
      .orderedSmall(col("vec_id"))
  }

  /** Histogram equalization map (#171): per event type, the exact
    * value→cdf(ppm) remapping table of intensity equalization
    * (imaging contrast stretch / rank-normalize a feature before
    * training), certified in aggregate: `eq_mass` = Σ cdf_ppm·count
    * pins every per-value cdf cell, `below_median_max` pins the
    * crossing point. Windows run over the VALUE-COLLAPSED relation —
    * distinct values per type, never raw rows.
    */
  val qHistEq = GateQuery.sql(
    "q_hist_eq",
    s"""WITH c AS (SELECT event_type, ${centsSql("vd")} AS x FROM $E t),
       |v AS (SELECT event_type, x, count(*) AS c FROM c GROUP BY 1, 2),
       |w AS (SELECT event_type, x, c,
       |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot FROM v)
       |SELECT event_type, count(*) AS n_values,
       |  max(CASE WHEN cum * 2 >= tot THEN NULL ELSE x END) AS below_median_max,
       |  CAST(sum(((cum * 1000000) // tot) * c) AS BIGINT) AS eq_mass
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val v = ev(s, d).select(col("event_type"), Exact.cents(col("vd")).as("x"))
      .groupBy(col("event_type"), col("x")).agg(count(lit(1)).as("c"))
    val w = v
      .withColumn("cum", sum(col("c"))
        .over(Window.partitionBy(col("event_type")).orderBy(col("x"))).cast("long"))
      .withColumn("tot", sum(col("c"))
        .over(Window.partitionBy(col("event_type"))).cast("long"))
    w.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_values"),
        max(when(col("cum") * 2 >= col("tot"), lit(null).cast("long"))
          .otherwise(col("x"))).as("below_median_max"),
        sum(Binning.floorDivCol(col("cum") * lit(1000000L), col("tot")) * col("c"))
          .cast("long").as("eq_mass"))
      .orderedSmall(col("event_type"))
  }

  /** Sub-sample alignment refinement (#173): the parabolic-vertex
    * upgrade of [[qXcorrAlign]] — around the best integer lag,
    * δ = (c₋ − c₊) / (2·(c₋ − 2c₀ + c₊)) interpolates the true
    * cross-correlation peak to sub-grid precision (the standard
    * three-point vertex formula). Correlations are exact longs, so
    * the one double division mirrors bit-for-bit; flat or edge
    * vertices fall back to δ = 0. Same bounded lag explode + 7-row
    * windows as #149.
    */
  val qXcorrSubsample = GateQuery.sql(
    "q_xcorr_subsample",
    s"""WITH g AS (SELECT user_id, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E t WHERE event_type = 'view' GROUP BY 1, 2),
       |ref AS (SELECT grid, y AS yr FROM g WHERE user_id = 0),
       |c AS (SELECT g.user_id, l.lag, CAST(sum(g.y * r.yr) AS BIGINT) AS corr
       |  FROM g, (SELECT unnest(generate_series(-3, 3)) AS lag) l
       |  JOIN ref r ON g.grid + l.lag = r.grid
       |  GROUP BY 1, 2),
       |n AS (SELECT *, lag(corr) OVER w AS cm, lead(corr) OVER w AS cp,
       |    row_number() OVER (PARTITION BY user_id ORDER BY corr DESC, lag) AS rn
       |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY lag))
       |SELECT user_id, lag AS best_lag, corr AS best_corr,
       |  round(lag + (CASE WHEN cm IS NULL OR cp IS NULL
       |      OR cm - 2 * corr + cp = 0 THEN 0.0
       |    ELSE CAST(cm - cp AS DOUBLE) / (2.0 * (cm - 2 * corr + cp)) END), 6) + 0.0
       |    AS shift
       |FROM n WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = ev(s, d).filter(col("event_type") === "view")
      .groupBy(col("user_id"), Binning.floorDiv(col("xs"), 3600L).as("grid"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
    val ref = g.filter(col("user_id") === 0).select(col("grid").as("rgrid"), col("y").as("yr"))
    val c = g.withColumn("lag", explode(sequence(lit(-3), lit(3))))
      .join(broadcast(ref), col("grid") + col("lag") === col("rgrid"))
      .groupBy(col("user_id"), col("lag"))
      .agg(Exact.sumUnits(col("y") * col("yr")).cast("long").as("corr"))
    val wl = Window.partitionBy(col("user_id")).orderBy(col("lag"))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("corr").desc, col("lag"))
    val n = c
      .withColumn("cm", lag(col("corr"), 1).over(wl))
      .withColumn("cp", lead(col("corr"), 1).over(wl))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
    val denom = col("cm") - lit(2L) * col("corr") + col("cp")
    val delta = when(col("cm").isNull || col("cp").isNull || denom === 0, lit(0.0))
      .otherwise((col("cm") - col("cp")).cast("double") / (lit(2.0) * denom))
    n.select(col("user_id"), col("lag").as("best_lag"), col("corr").as("best_corr"),
        (round(col("lag") + delta, 6) + lit(0.0)).as("shift"))
      .orderedSmall(col("user_id"))
  }

  /** Isotonic calibration (#174): PAVA monotone regression per model
    * group ([[graft.operators.Calibrate]]) — the score→probability
    * calibration step of a deployed quality classifier. Hash-checked
    * SQL since r10: PAVA's push-then-cascade-merge loop linearizes to
    * "merge the top two blocks if they violate, else push the next
    * point" with an IDENTICAL operation sequence (violations only
    * exist right after a push), so the oracle replays it in a
    * recursive CTE over a per-group block-stack list — every pooled
    * mean recomputed with the driver's exact double op order
    * ((m₂w₂ + m₁w₁)/(w₂+w₁)), all 8 groups advancing in parallel,
    * each ending at its own fixpoint (max step per group). The
    * textbook fixtures, projection properties and distributed
    * determinism stay pinned in CalibrateSpec.
    */
  val qIsotonicFit = GateQuery.sql(
    "q_isotonic_fit",
    s"""WITH RECURSIVE pts AS MATERIALIZED (
      |  SELECT g, row_number() OVER (PARTITION BY g ORDER BY x, y, w) AS rn, y, w
      |  FROM (SELECT user_id % 8 AS g,
      |      CAST(${Tables.xsSql} AS DOUBLE) AS x,
      |      CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS y, CAST(1.0 AS DOUBLE) AS w
      |    FROM events WHERE event_type = 'view') z),
      |np AS MATERIALIZED (SELECT g, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1),
      |pava AS (
      |  SELECT g, 1 AS i, CAST([] AS STRUCT(mean DOUBLE, wt DOUBLE, cnt BIGINT)[]) AS stk,
      |    0 AS step
      |  FROM np
      |  UNION ALL
      |  SELECT st.g,
      |    CASE WHEN viol THEN st.i ELSE st.i + 1 END,
      |    CASE WHEN viol THEN
      |      list_slice(st.stk, 1, len(st.stk) - 2) ||
      |      [{'mean': (st.stk[len(st.stk) - 1].mean * st.stk[len(st.stk) - 1].wt
      |           + st.stk[len(st.stk)].mean * st.stk[len(st.stk)].wt)
      |           / (st.stk[len(st.stk) - 1].wt + st.stk[len(st.stk)].wt),
      |        'wt': st.stk[len(st.stk) - 1].wt + st.stk[len(st.stk)].wt,
      |        'cnt': st.stk[len(st.stk) - 1].cnt + st.stk[len(st.stk)].cnt}]
      |    ELSE st.stk || [{'mean': p.y, 'wt': p.w, 'cnt': CAST(1 AS BIGINT)}] END,
      |    st.step + 1
      |  FROM (SELECT *, len(stk) >= 2 AND stk[len(stk) - 1].mean > stk[len(stk)].mean AS viol
      |    FROM pava) st
      |  LEFT JOIN pts p ON p.g = st.g AND p.rn = st.i
      |  JOIN np ON np.g = st.g
      |  WHERE st.viol OR st.i <= np.n),
      |fin AS MATERIALIZED (
      |  SELECT g, stk FROM (
      |    SELECT g, stk, row_number() OVER (PARTITION BY g ORDER BY step DESC) AS r
      |    FROM pava) z WHERE r = 1)
      |SELECT f.g AS g, np.n AS n_points,
      |  CAST(count(DISTINCT round(b.mean, 6)) AS BIGINT) AS n_blocks
      |FROM fin f, unnest(f.stk) AS t(b), np
      |WHERE np.g = f.g
      |GROUP BY 1, 2 ORDER BY g""".stripMargin) { (s, d) =>
    val pts = ev(s, d).filter(col("event_type") === "view")
      .select(pmod(col("user_id"), lit(8L)).as("g"),
        col("xs").cast("double").as("x"), col("vd").cast("double").as("y"),
        lit(1.0).as("w"))
    graft.operators.Calibrate.isotonicGroups(pts, "g", "x", "y", "w")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_points"),
        countDistinct(round(col("yhat"), 6)).as("n_blocks"))
      .orderedSmall(col("g"))
  }

  /** Platt scaling (#242b/#243): σ(a·s + b) calibration of the
    * normalized-length score against the lang='en' label — the
    * PARAMETRIC calibration read next to #174's isotonic (monotone)
    * and #176/#209's reliability/ECE audits. The corpus reduces to
    * ≤10 decile sufficient-statistic rows (value-collapsed — the
    * only thing that crosses to the driver, the IvfIndex model-state
    * discipline); [[graft.operators.Calibrate.plattFit]] runs a
    * fixed-iteration damped Newton there; the fitted curve deploys
    * back as literals. Output: per decile raw vs calibrated ppm plus
    * the (a, b) model in micro-units. Hash-checked SQL since r10:
    * the 50 Newton iterations UNROLL to per-iteration (sums, update)
    * CTE pairs over the score-ordered stat LIST — every driver-side
    * double fold is replayed with list_reduce in the same order and
    * the damped-Hessian 1e-12 seeds ride list_prepend, so the
    * accumulation order (and therefore every bit) matches the Scala
    * foreach.
    */
  val qPlatt = GateQuery.sql(
    "q_platt", {
      def p(a: String, bb: String) =
        s"(1.0 / (1.0 + exp(-(($a) * x.s + ($bb)))))"
      def gRow(a: String, bb: String) =
        s"(x.pos * (${p(a, bb)} - u.tpos) + (x.n - x.pos) * (${p(a, bb)} - u.tneg))"
      def w(a: String, bb: String) =
        s"(${p(a, bb)} * (1.0 - ${p(a, bb)}))"
      def fold(term: String) =
        s"list_reduce(list_transform(st.ls, x -> $term), (p1, p2) -> p1 + p2)"
      def foldSeed(term: String, seed: String) =
        s"list_reduce(list_prepend(CAST($seed AS DOUBLE), " +
          s"list_transform(st.ls, x -> $term)), (p1, p2) -> p1 + p2)"
      val iters = (1 to 50).map { i =>
        val (a, bb) = ("u.a", "u.b")
        s"""sm$i AS (SELECT u.a, u.b, u.tpos, u.tneg,
           |    ${fold(s"${gRow(a, bb)} * x.s")} AS g1,
           |    ${fold(gRow(a, bb))} AS g2,
           |    ${foldSeed(s"x.n * ${w(a, bb)} * x.s * x.s", "1e-12")} AS h11,
           |    ${fold(s"x.n * ${w(a, bb)} * x.s")} AS h12,
           |    ${foldSeed(s"x.n * ${w(a, bb)}", "1e-12")} AS h22
           |  FROM it${i - 1} u, st),
           |it$i AS (SELECT
           |    CASE WHEN h11 * h22 - h12 * h12 > 0
           |      THEN a - (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12)
           |      ELSE a END AS a,
           |    CASE WHEN h11 * h22 - h12 * h12 > 0
           |      THEN b - (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12)
           |      ELSE b END AS b,
           |    tpos, tneg
           |  FROM sm$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH mx AS (SELECT 1 + max(n_chars) AS mx FROM documents),
         |b AS (SELECT (n_chars * 10) // mx AS bucket,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS pos
         |  FROM documents, mx GROUP BY 1),
         |st AS (SELECT list(struct_pack(
         |      s := (bucket + 0.5) / 10.0, n := n, pos := pos)
         |    ORDER BY (bucket + 0.5) / 10.0) AS ls FROM b),
         |cs AS (SELECT CAST(sum(pos) AS DOUBLE) AS np,
         |    CAST(sum(n - pos) AS DOUBLE) AS nn FROM b),
         |it0 AS (SELECT CAST(0 AS DOUBLE) AS a,
         |    ln((np + 1.0) / (nn + 1.0)) AS b,
         |    (np + 1.0) / (np + 2.0) AS tpos, 1.0 / (nn + 2.0) AS tneg
         |  FROM cs),
         |$iters
         |SELECT CAST(b.bucket AS BIGINT) AS bucket, b.n, b.pos AS n_pos,
         |  (b.pos * 1000000) // b.n AS raw_ppm,
         |  CAST(floor((1.0 / (1.0 + exp(-(f.a * ((b.bucket + 0.5) / 10.0) + f.b))))
         |    * 1000000.0) AS BIGINT) AS calibrated_ppm,
         |  CAST(floor(f.a * 1000000.0) AS BIGINT) AS a_micro,
         |  CAST(floor(f.b * 1000000.0) AS BIGINT) AS b_micro
         |FROM b, it50 f ORDER BY bucket""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    val mx = docs.agg((lit(1L) + max(col("n_chars"))).as("mx"))
    val b = graft.operators.Curation.withStats(
        docs.select(col("n_chars"), col("lang")), mx)
      .select(Binning.floorDivCol(col("n_chars") * lit(10L), col("mx")).as("bucket"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("pos"))
    val stats = b.collect().map(r => (
      (r.getAs[Long]("bucket") + 0.5) / 10.0,
      r.getAs[Long]("n"), r.getAs[Long]("pos"))).toSeq.sortBy(_._1)
    val (a, bb) = graft.operators.Calibrate.plattFit(stats)
    val calibrated = stats.map { case (sc, n, pos) =>
      val p = 1.0 / (1.0 + math.exp(-(a * sc + bb)))
      (math.round(sc * 10 - 0.5), n, pos,
        pos * 1000000L / n, math.floor(p * 1e6).toLong)
    }
    import s.implicits._
    calibrated.toDF("bucket", "n", "n_pos", "raw_ppm", "calibrated_ppm")
      .withColumn("a_micro", lit(math.floor(a * 1e6).toLong))
      .withColumn("b_micro", lit(math.floor(bb * 1e6).toLong))
      .orderedSmall(col("bucket"))
  }

  /** Banded DTW scan alignment (#226): each user's DAILY value
    * series scored by dynamic-time-warping distance against the
    * corpus mean daily series — the drift-tolerant alignment #149's
    * cross-correlation (rigid shift only) cannot express. One
    * O(n·w) task per series ([[graft.operators.Dtw]], Sakoe–Chiba
    * band w=8 — REAL warping on the n≈m daily grid, where the r9
    * hourly grid's m≫n forced the band clamp to cover the whole
    * reference); the reference rides a single-row broadcast; exact
    * integer |Δcents| costs, deterministic everywhere. Hash-checked
    * SQL since r10: the integer min-plus DP replays in a recursive
    * CTE — one step per series ROW, the within-row left-to-right
    * dependency folded by list_reduce (the q_isotonic_fit recipe),
    * unreachable cells carried as saturating ≥2⁶¹ values (≤31
    * additions of ≤1e9 costs never reach a reachable value, so the
    * mins are bit-identical to the driver's Inf guard). Semantics
    * pinned in EvalEdgeSpec (zero-distance stretch, band clamp,
    * empty sentinel).
    */
  val qDtwAlign = GateQuery.sql(
    "q_dtw_align", {
      val inf = 2305843009213693951L
      s"""WITH RECURSIVE g AS MATERIALIZED (
         |  SELECT user_id, xs // 86400 AS grid,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
         |  FROM $E t GROUP BY 1, 2),
         |sv AS MATERIALIZED (
         |  SELECT user_id, list(y ORDER BY grid) AS ys FROM g GROUP BY 1),
         |rv AS MATERIALIZED (
         |  SELECT list(m ORDER BY grid) AS ms FROM (
         |    SELECT grid, (2 * CAST(sum(y) AS BIGINT) + count(*)) // (2 * count(*)) AS m
         |    FROM g GROUP BY grid) z),
         |bnd AS MATERIALIZED (
         |  SELECT sv.user_id, sv.ys, rv.ms,
         |    CAST(len(sv.ys) AS BIGINT) AS n, CAST(len(rv.ms) AS BIGINT) AS m,
         |    greatest(8, abs(CAST(len(sv.ys) AS BIGINT) - CAST(len(rv.ms) AS BIGINT))) AS band
         |  FROM sv, rv),
         |dp AS (
         |  SELECT user_id, 0 AS i,
         |    [CASE WHEN k = 0 THEN CAST(0 AS BIGINT) ELSE CAST($inf AS BIGINT) END
         |      for k in range(0, CAST(m + 1 AS INTEGER))] AS prev
         |  FROM bnd
         |  UNION ALL
         |  SELECT st.user_id, st.i + 1,
         |    list_reduce(
         |      [[CAST($inf AS BIGINT) for k in range(0, CAST(greatest(st.i + 1 - b.band, 1) AS INTEGER))]] ||
         |      [[CAST(j AS BIGINT)] for j in range(
         |          CAST(greatest(st.i + 1 - b.band, 1) AS INTEGER),
         |          CAST(least(b.m, st.i + 1 + b.band) + 1 AS INTEGER))],
         |      (acc, jl) -> acc || [abs(b.ys[st.i + 1] - b.ms[CAST(jl[1] AS INTEGER)])
         |          + least(st.prev[CAST(jl[1] AS INTEGER) + 1], acc[CAST(jl[1] AS INTEGER)],
         |                  st.prev[CAST(jl[1] AS INTEGER)])]
         |    ) || [CAST($inf AS BIGINT) for k in range(0,
         |        CAST(b.m - least(b.m, st.i + 1 + b.band) AS INTEGER))] AS prev
         |  FROM dp st JOIN bnd b ON b.user_id = st.user_id
         |  WHERE st.i < b.n),
         |fin AS MATERIALIZED (
         |  SELECT user_id, prev FROM (
         |    SELECT user_id, prev, row_number() OVER (PARTITION BY user_id ORDER BY i DESC) AS r
         |    FROM dp) z WHERE r = 1)
         |SELECT b.user_id, b.n AS n_points,
         |  CASE WHEN f.prev[CAST(b.m AS INTEGER) + 1] >= $inf THEN CAST(-1 AS BIGINT)
         |    ELSE f.prev[CAST(b.m AS INTEGER) + 1] END AS dtw_cents
         |FROM bnd b JOIN fin f ON f.user_id = b.user_id
         |ORDER BY b.user_id""".stripMargin
    }) { (s, d) =>
    // the daily relation feeds BOTH the per-user series and the
    // reference derivation — cache it so the events scan + aggregate
    // run once (users×days rows; freed by the harness post-action)
    val g = ev(s, d)
      .groupBy(col("user_id"), Binning.floorDiv(col("xs"), 86400L).as("grid"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("y"))
      .persist()
    val refRel = g.groupBy(col("grid"))
      .agg(count(lit(1)).as("nu"), sum(col("y")).cast("long").as("sy"))
      .select(col("grid"),
        Binning.floorDivCol(lit(2L) * col("sy") + col("nu"), lit(2L) * col("nu")).as("m"))
      .agg(transform(sort_array(collect_list(struct(col("grid"), col("m")))),
        x => x.getField("m")).as("ref_ys"))
    val series = g.groupBy(col("user_id"))
      .agg(transform(sort_array(collect_list(struct(col("grid"), col("y")))),
        x => x.getField("y")).as("ys"))
      .select(col("user_id").as("key"), col("ys"))
    graft.operators.Dtw.vsReference(series, refRel, w = 8)
      .select(col("key").as("user_id"), col("n_points"), col("dtw_cents"))
      .orderedSmall(col("user_id"))
  }

  /** Winsorized mean (#229): #166's trimmed mean DROPS the ⌊n/10⌋
    * extremes; winsorizing CLAMPS them to the surviving boundary
    * values instead (keeps n constant — the estimator of choice when
    * downstream weights assume full counts). One ranked pass feeds a
    * single conditional aggregate: wsum = Σ x over interior ranks +
    * k·(value at rank k+1) + k·(value at rank n−k) — the boundary
    * values come out of the SAME aggregate via max(CASE rank = …),
    * no join back, no second window. Exact cents; HALF_UP mean.
    */
  val qWinsorized = GateQuery.sql(
    "q_winsorized",
    s"""WITH c AS (SELECT user_id, event_id, ${centsSql("vd")} AS x
       |  FROM $E t WHERE event_type = 'view'),
       |r AS (SELECT user_id, x,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY x, event_id) AS BIGINT) AS ra,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
       |  FROM c),
       |a AS (SELECT user_id, any_value(n) AS n, n // 10 AS k,
       |    CAST(sum(x) FILTER (ra > n // 10 AND ra <= n - n // 10) AS BIGINT) AS s_in,
       |    max(CASE WHEN ra = n // 10 + 1 THEN x END) AS lo,
       |    max(CASE WHEN ra = n - n // 10 THEN x END) AS hi
       |  FROM r GROUP BY user_id, n // 10),
       |w AS (SELECT user_id, n, k, lo, hi, s_in + k * lo + k * hi AS wsum FROM a)
       |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(lo AS BIGINT) AS lo_cents,
       |  CAST(hi AS BIGINT) AS hi_cents, CAST(wsum AS BIGINT) AS wsum_cents,
       |  ${roundedRatioSql("CAST(wsum AS BIGINT)", "n", 4)} AS winsorized_mean
       |FROM w ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val c = ev(s, d).filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), Exact.cents(col("vd")).as("x"))
    val wa = Window.partitionBy(col("user_id")).orderBy(col("x"), col("event_id"))
    val r = c
      .withColumn("ra", row_number().over(wa).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))).cast("long"))
    val a = r.withColumn("k", Binning.floorDiv(col("n"), 10L))
      .groupBy(col("user_id"), col("k"))
      .agg(first(col("n")).as("n"),
        sum(when(col("ra") > col("k") && col("ra") <= col("n") - col("k"), col("x")))
          .cast("long").as("s_in"),
        max(when(col("ra") === col("k") + 1, col("x"))).as("lo"),
        max(when(col("ra") === col("n") - col("k"), col("x"))).as("hi"))
    val w = a.withColumn("wsum", col("s_in") + col("k") * col("lo") + col("k") * col("hi"))
    w.select(col("user_id"), col("n"), col("lo").cast("long").as("lo_cents"),
        col("hi").cast("long").as("hi_cents"), col("wsum").cast("long").as("wsum_cents"),
        Exact.roundedRatio(col("wsum"), col("n"), 4).as("winsorized_mean"))
      .orderedSmall(col("user_id"))
  }

  /** Last-touch attribution (#215): every 'purchase' is credited to
    * the user's most recent PRECEDING non-purchase event within a
    * 7-day lookback (else 'none') — the conversion-credit model
    * behind every marketing dashboard, and the event-analytics dual
    * of #17's as-of join. The "latest prior touch" is a running
    * max(struct(ts, id, type)) over a ROWS … 1 PRECEDING frame —
    * one user-keyed window shuffle, no self-join, no per-user
    * explosion (a power user costs their own rows only). Credited
    * counts/value and the revenue share in exact ppm.
    */
  val qAttribution = GateQuery.sql(
    "q_attribution",
    s"""WITH e AS (SELECT user_id, ts_us, event_id, event_type, ${centsSql("vd")} AS c
       |  FROM $E t),
       |w AS (SELECT *, max(CASE WHEN event_type <> 'purchase'
       |      THEN (ts_us, event_id, event_type) END)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
       |  FROM e),
       |p AS (SELECT CASE WHEN touch IS NULL OR touch[1] < ts_us - 604800000000
       |      THEN 'none' ELSE touch[3] END AS touch_type, c
       |  FROM w WHERE event_type = 'purchase'),
       |g AS (SELECT touch_type, count(*) AS n_conversions,
       |    CAST(sum(c) AS BIGINT) AS attributed_cents
       |  FROM p GROUP BY 1)
       |SELECT touch_type, n_conversions, attributed_cents,
       |  CAST((attributed_cents * 1000000) // (sum(attributed_cents) OVER ()) AS BIGINT)
       |    AS revenue_share_ppm
       |FROM g ORDER BY touch_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, d).select(col("user_id"), col("ts_us"), col("event_id"),
      col("event_type"), Exact.cents(col("vd")).as("c"))
    val wPrior = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val w = e.withColumn("touch",
      max(when(col("event_type") =!= "purchase",
        struct(col("ts_us"), col("event_id"), col("event_type")))).over(wPrior))
    val p = w.filter(col("event_type") === "purchase")
      .select(when(col("touch").isNull ||
          col("touch").getField("ts_us") < col("ts_us") - lit(604800000000L), lit("none"))
        .otherwise(col("touch").getField("event_type")).as("touch_type"), col("c"))
    val g = p.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"), sum(col("c")).cast("long").as("attributed_cents"))
    g.select(col("touch_type"), col("n_conversions"), col("attributed_cents"),
        Binning.floorDivCol(col("attributed_cents") * lit(1000000L),
          sum(col("attributed_cents")).over(Window.partitionBy())).as("revenue_share_ppm"))
      .orderedSmall(col("touch_type"))
  }

  /** DAU/WAU stickiness (#216): per week, the mean daily distinct
    * actives over the weekly distinct actives — the engagement-depth
    * ratio every product dashboard tracks next to #150's rolling
    * reach. Both sides reduce through (day, user) / (week, user)
    * DISTINCT relations (two-phase distinct aggregates — map-side
    * partial dedup, never a per-user window), and the ratio is one
    * exact nonnegative floor division.
    */
  val qStickiness = GateQuery.sql(
    "q_stickiness",
    s"""WITH du AS (SELECT DISTINCT xs // 86400 AS d, user_id FROM $E e),
       |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
       |wk AS (SELECT d // 7 AS wk, CAST(sum(dau) AS BIGINT) AS sdau,
       |    count(*) AS n_days FROM dau GROUP BY 1),
       |wu AS (SELECT wk, count(*) AS wau FROM
       |    (SELECT DISTINCT d // 7 AS wk, user_id FROM du) t GROUP BY wk)
       |SELECT wk, n_days, sdau, wau,
       |  (sdau * 1000000) // (n_days * wau) AS stickiness_ppm
       |FROM wk JOIN wu USING (wk) ORDER BY wk""".stripMargin) { (s, d) =>
    val du = ev(s, d)
      .select(Binning.floorDiv(col("xs"), 86400L).as("d"), col("user_id")).distinct()
    val dau = du.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wk = dau.groupBy(Binning.floorDiv(col("d"), 7L).as("wk"))
      .agg(sum(col("dau")).cast("long").as("sdau"), count(lit(1)).as("n_days"))
    val wu = du.select(Binning.floorDiv(col("d"), 7L).as("wk"), col("user_id"))
      .distinct().groupBy(col("wk")).agg(count(lit(1)).as("wau"))
    wk.join(wu, "wk")
      .select(col("wk"), col("n_days"), col("sdau"), col("wau"),
        Binning.floorDivCol(col("sdau") * lit(1000000L),
          col("n_days") * col("wau")).as("stickiness_ppm"))
      .orderedSmall(col("wk"))
  }

  /** Calinski–Harabasz cluster-quality index (#300): how separated
    * are the embedding LABELS as clusters — CH = [B/(k−1)]/[W/(N−k)]
    * (Calinski & Harabasz 1974), the variance-ratio audit that
    * judges a labeling/clustering BEFORE SemDeDup (#87) or the IVF
    * family trusts it. The ANOVA (#211) micro-floor discipline
    * lifted to 64 dimensions: per (label, dim) cell the
    * between-term (N·S_cd − n_c·S_d)²/(n_c·N²) and within-term
    * (n_c·Q_cd − S_cd²)/n_c are each floored at micro precision in
    * EXACT decimal/HUGEINT integers (Cauchy–Schwarz keeps both
    * numerators nonnegative, so floor mirrors `//`), then summed
    * over the k×64-row CELL relation — the corpus never moves after
    * one (label, dim)-keyed aggregate over the 1e-6-quantized
    * vectors. CH leaves as one exact ppm floor division. The
    * between-term's micro scale-up is applied AFTER a quotient/
    * remainder split so the widest intermediate is diff² (~N⁴·1e12,
    * overflowing decimal(38,0)/HUGEINT only past ~3e6 vectors —
    * loudly, on both engines) rather than diff²·1e6 (~1e5 vectors).
    */
  /** Behavioral-regularity entropy (#373): per cohort, how
    * ROUTINE-DRIVEN are users' hour-of-day activity profiles? Each
    * user's hod distribution gets the exact-integer Shannon entropy
    * H = ln n − (Σ c·ln c)/n in micro-nats (0 = always the same hour,
    * ln 24 ≈ 3.178 = uniform) — the behavioral counterpart of the
    * per-document entropy (#142), and the bot/automation screen: a
    * "user" with near-zero hour entropy at high volume is a cron
    * job. Each ln is micro-floored BEFORE the per-user sum (exact,
    * order-free); cohort summaries are HALF_UP exact ratios and
    * integer extremes. Shape: one (user, hod) count, one per-user
    * fold, one cohort aggregate.
    */
  val qHourEntropy = GateQuery.sql(
    "q_hour_entropy",
    s"""WITH e AS (SELECT user_id, user_id % 8 AS g,
       |    (xs // 3600) % 24 AS hod FROM $E t),
       |c AS (SELECT user_id, any_value(g) AS g, hod,
       |    CAST(count(*) AS BIGINT) AS c FROM e GROUP BY user_id, hod),
       |u AS (SELECT user_id, any_value(g) AS g, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(c * CAST(floor(ln(c) * 1000000) AS BIGINT)) AS BIGINT) AS b
       |  FROM c GROUP BY user_id),
       |h AS (SELECT user_id, g, n,
       |    CAST(floor(ln(n) * 1000000) AS BIGINT) - b // n AS e_micro
       |  FROM u)
       |SELECT g, CAST(count(*) AS BIGINT) AS n_users,
       |  (2 * CAST(sum(e_micro) AS BIGINT) + count(*)) // (2 * count(*)) AS avg_entropy_micro,
       |  CAST(min(e_micro) AS BIGINT) AS min_entropy_micro,
       |  CAST(max(e_micro) AS BIGINT) AS max_entropy_micro
       |FROM h GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(col("user_id"), pmod(col("user_id"), lit(8L)).as("g"),
      pmod(Binning.floorDiv(col("xs"), 3600L), lit(24L)).as("hod"))
    val c = e.groupBy(col("user_id"), col("hod"))
      .agg(first(col("g")).as("g"), count(lit(1)).cast("long").as("c"))
    val u = c.groupBy(col("user_id"))
      .agg(first(col("g")).as("g"), sum(col("c")).cast("long").as("n"),
        sum(col("c") * floor(log(col("c")) * lit(1000000L)).cast("long"))
          .cast("long").as("b"))
    val h = u.select(col("user_id"), col("g"), col("n"),
      (floor(log(col("n")) * lit(1000000L)).cast("long") -
        Binning.floorDivCol(col("b"), col("n"))).as("e_micro"))
    h.groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        Binning.floorDivCol(lit(2L) * sum(col("e_micro")).cast("long") + count(lit(1)),
          lit(2L) * count(lit(1))).as("avg_entropy_micro"),
        min(col("e_micro")).cast("long").as("min_entropy_micro"),
        max(col("e_micro")).cast("long").as("max_entropy_micro"))
      .orderedSmall(col("g"))
  }

  /** V-measure (#342): EXTERNAL cluster validation — when ground-truth
    * classes exist, how homogeneous (each cluster one class) and
    * complete (each class one cluster) is a clustering? (Rosenberg &
    * Hirschberg 2007 — the entropy-based pair; the internal indices
    * CH #300 / DB #303 / silhouette #305 score geometry, this scores
    * AGREEMENT.) Clustering under test: the deterministic sign-bucket
    * of embedding dims 1–2 (SQL-expressible on both engines — the
    * same proxy-cluster discipline as #342's contingency needs no
    * trained model in the oracle). Key exactness move: the N
    * normalizer cancels in 1 − H(C|K)/H(C), so both entropies stay
    * UNNORMALIZED micro-integer sums (per-cell/marginal terms
    * floor(count·ln(count/denom)·1e6) — floor toward −∞ on both
    * engines); h, c, V are mirrored double ratios of those exact
    * longs. Shape: one (class, cluster) cell relation bounded by
    * k_classes×4; windows and marginal aggregates over cells only.
    */
  val qVmeasure = GateQuery.sql(
    "q_vmeasure",
    """WITH e AS (SELECT label,
      |    2 * (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END) AS cl
      |  FROM embeddings),
      |cells AS (SELECT label, cl, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY 1, 2),
      |m AS (SELECT label, cl, o,
      |    CAST(sum(o) OVER (PARTITION BY label) AS BIGINT) AS nc,
      |    CAST(sum(o) OVER (PARTITION BY cl) AS BIGINT) AS nk
      |  FROM cells),
      |s2 AS (SELECT
      |    CAST(-sum(CAST(floor(o * ln(CAST(o AS DOUBLE) / nk) * 1000000) AS BIGINT)) AS BIGINT) AS hck,
      |    CAST(-sum(CAST(floor(o * ln(CAST(o AS DOUBLE) / nc) * 1000000) AS BIGINT)) AS BIGINT) AS hkc
      |  FROM m),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |cm0 AS (SELECT label, CAST(sum(o) AS BIGINT) AS v FROM cells GROUP BY 1),
      |km0 AS (SELECT cl, CAST(sum(o) AS BIGINT) AS v FROM cells GROUP BY 1),
      |hcx AS (SELECT CAST(-sum(CAST(floor(v * ln(CAST(v AS DOUBLE) / n) * 1000000) AS BIGINT)) AS BIGINT) AS hc,
      |    CAST(count(*) AS BIGINT) AS ncl FROM cm0, tot),
      |hkx AS (SELECT CAST(-sum(CAST(floor(v * ln(CAST(v AS DOUBLE) / n) * 1000000) AS BIGINT)) AS BIGINT) AS hk,
      |    CAST(count(*) AS BIGINT) AS nkl FROM km0, tot),
      |r AS (SELECT n, ncl, nkl, hck, hkc, hc, hk,
      |    CASE WHEN hc = 0 THEN 1.0 ELSE 1.0 - CAST(hck AS DOUBLE) / hc END AS h,
      |    CASE WHEN hk = 0 THEN 1.0 ELSE 1.0 - CAST(hkc AS DOUBLE) / hk END AS c
      |  FROM s2, tot, hcx, hkx)
      |SELECT n AS n_vecs, ncl AS n_classes, nkl AS n_clusters,
      |  round(h, 6) + 0.0 AS homogeneity, round(c, 6) + 0.0 AS completeness,
      |  CASE WHEN h + c = 0.0 THEN 0.0
      |    ELSE round(2.0 * h * c / (h + c), 6) + 0.0 END AS v_measure
      |FROM r""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("label"),
      (lit(2) * when(col("embedding")(0) > 0f, 1).otherwise(0) +
        when(col("embedding")(1) > 0f, 1).otherwise(0)).as("cl"))
    val cells = e.groupBy(col("label"), col("cl"))
      .agg(count(lit(1)).cast("long").as("o"))
    val m = cells
      .withColumn("nc", sum(col("o")).over(Window.partitionBy(col("label"))).cast("long"))
      .withColumn("nk", sum(col("o")).over(Window.partitionBy(col("cl"))).cast("long"))
    def entTerm(cnt: Column, den: Column) =
      floor(cnt * log(cnt.cast("double") / den) * lit(1000000L)).cast("long")
    val s2 = m.agg((-sum(entTerm(col("o"), col("nk")))).cast("long").as("hck"),
      (-sum(entTerm(col("o"), col("nc")))).cast("long").as("hkc"))
    val tot = cells.agg(sum(col("o")).cast("long").as("n"))
    val cm0 = cells.groupBy(col("label")).agg(sum(col("o")).cast("long").as("v"))
    val km0 = cells.groupBy(col("cl")).agg(sum(col("o")).cast("long").as("v"))
    val hcx = graft.operators.Curation.withStats(cm0, tot)
      .agg((-sum(entTerm(col("v"), col("n")))).cast("long").as("hc"),
        count(lit(1)).cast("long").as("ncl"))
    val hkx = graft.operators.Curation.withStats(km0, tot)
      .agg((-sum(entTerm(col("v"), col("n")))).cast("long").as("hk"),
        count(lit(1)).cast("long").as("nkl"))
    val h = when(col("hc") === 0, lit(1.0))
      .otherwise(lit(1.0) - col("hck").cast("double") / col("hc"))
    val cc = when(col("hk") === 0, lit(1.0))
      .otherwise(lit(1.0) - col("hkc").cast("double") / col("hk"))
    val r = graft.operators.Curation.withStats(
        graft.operators.Curation.withStats(
          graft.operators.Curation.withStats(s2, tot), hcx), hkx)
      .select(col("n"), col("ncl"), col("nkl"), col("hck"), col("hkc"),
        col("hc"), col("hk"), h.as("h"), cc.as("c"))
    r.select(col("n").as("n_vecs"), col("ncl").as("n_classes"),
      col("nkl").as("n_clusters"),
      (round(col("h"), 6) + lit(0.0)).as("homogeneity"),
      (round(col("c"), 6) + lit(0.0)).as("completeness"),
      when(col("h") + col("c") === 0.0, lit(0.0))
        .otherwise(round(lit(2.0) * col("h") * col("c") / (col("h") + col("c")), 6)
          + lit(0.0)).as("v_measure"))
  }

  /** (label, dim, n, s, qq) per-cluster per-dimension cell relation
    * of the quantized embeddings — the shared model input of
    * q_calinski and q_davies_bouldin (identical derivation in both;
    * k×64 rows). One corpus-scale explode+aggregate per session via a
    * [[graft.SharedRelations]] snapshot instead of one per gate. */
  private def clusterCells64(s: SparkSession, d: String): DataFrame =
    graft.SharedRelations.snapshot(s, "cellq64", d)(
      Tables.embeddings(s, d)
        .select(col("label"), VectorOps.quantize(col("embedding")).as("q"))
        .select(col("label"), posexplode(col("q")).as(Seq("p", "v")))
        .groupBy(col("label"), (col("p") + 1).as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).cast("decimal(38,0)").as("s"),
          sum(col("v").cast("decimal(38,0)") * col("v")).cast("decimal(38,0)").as("qq")))

  val qCalinski = GateQuery.sql(
    "q_calinski",
    s"""WITH e AS (SELECT vec_id, label, ${VectorOps.quantizeSql("embedding")} AS q
       |  FROM embeddings),
       |cd AS (SELECT label, t.i AS dim, count(*) AS n,
       |    CAST(sum(q[t.i]) AS HUGEINT) AS s,
       |    CAST(sum(CAST(q[t.i] AS HUGEINT) * q[t.i]) AS HUGEINT) AS qq
       |  FROM e, unnest(generate_series(1, len(q))) AS t(i) GROUP BY 1, 2),
       |gd AS (SELECT dim, CAST(sum(s) AS HUGEINT) AS sd,
       |    CAST(sum(n) AS BIGINT) AS nt, count(*) AS k
       |  FROM cd GROUP BY dim),
       |t0 AS (SELECT c.label, c.dim, c.n, c.s, c.qq, g.nt, g.k,
       |    (g.nt * c.s - c.n * g.sd) * (g.nt * c.s - c.n * g.sd) AS d2,
       |    CAST(c.n AS HUGEINT) * g.nt * g.nt AS den
       |  FROM cd c JOIN gd g ON c.dim = g.dim),
       |t AS (SELECT label, dim,
       |    (d2 // den) * 1000000 + ((d2 % den) * 1000000) // den AS b_micro,
       |    (CAST(n AS HUGEINT) * qq - s * s) * 1000000 // n AS w_micro,
       |    nt, k
       |  FROM t0),
       |a AS (SELECT CAST(sum(b_micro) AS HUGEINT) AS b, CAST(sum(w_micro) AS HUGEINT) AS w,
       |    any_value(nt) AS nt, any_value(k) AS k FROM t)
       |SELECT CAST(nt AS BIGINT) AS n_vecs, CAST(k AS BIGINT) AS n_clusters,
       |  CAST(b // 1000000 AS BIGINT) AS between_unit2,
       |  CAST(w // 1000000 AS BIGINT) AS within_unit2,
       |  CASE WHEN k > 1 AND w > 0
       |    THEN CAST(b * (nt - k) * 1000000 // (w * (k - 1)) AS BIGINT)
       |    ELSE NULL END AS ch_ppm
       |FROM a""".stripMargin) { (s, d) =>
    import Exact.floorDivBig
    val cd = clusterCells64(s, d) // shared k×64 cell snapshot
    val gd = cd.groupBy(col("dim")).agg(
      sum(col("s")).cast("decimal(38,0)").as("sd"),
      sum(col("n")).cast("long").as("nt"), count(lit(1)).as("k"))
    val t = cd.join(broadcast(gd), "dim")
    val diff = col("nt").cast("decimal(38,0)") * col("s") -
      col("n").cast("decimal(38,0)") * col("sd")
    // Quotient/remainder split keeps the intermediate at diff² instead of
    // diff²·1e6 — identical value (both terms nonnegative, den > 0), but
    // the decimal(38,0) ceiling moves from ~1e5 to ~3e6 vectors. Beyond
    // that both engines still fail loudly (decimal overflow / HUGEINT
    // OOR), never silently.
    val d2 = diff * diff
    val denB = col("n").cast("decimal(38,0)") * col("nt") * col("nt")
    val bMicro = (floorDivBig(d2, denB) * lit(1000000L) +
      floorDivBig(pmod(d2.cast("decimal(38,0)"), denB) * lit(1000000L), denB))
      .cast("decimal(38,0)")
    val wMicro = floorDivBig(
      (col("n").cast("decimal(38,0)") * col("qq") - col("s") * col("s")) * lit(1000000L),
      col("n").cast("decimal(38,0)"))
    val a = t.select(bMicro.as("b_micro"), wMicro.as("w_micro"), col("nt"), col("k"))
      .agg(sum(col("b_micro")).cast("decimal(38,0)").as("b"),
        sum(col("w_micro")).cast("decimal(38,0)").as("w"),
        first(col("nt")).as("nt"), first(col("k")).as("k"))
    a.select(col("nt").cast("long").as("n_vecs"), col("k").cast("long").as("n_clusters"),
        floorDivBig(col("b"), lit(1000000L)).cast("long").as("between_unit2"),
        floorDivBig(col("w"), lit(1000000L)).cast("long").as("within_unit2"),
        when(col("k") > 1 && col("w") > 0,
          floorDivBig(col("b") * (col("nt") - col("k")).cast("decimal(38,0)") * lit(1000000L),
            col("w") * (col("k") - 1).cast("decimal(38,0)")).cast("long"))
          .otherwise(lit(null).cast("long")).as("ch_ppm"))
      .orderedSmall(col("n_vecs"))
  }

  /** Davies–Bouldin index (#303): the worst-case-pair companion to
    * Calinski–Harabasz (#300) — DB = (1/k)·Σᵢ maxⱼ (σᵢ+σⱼ)/d(cᵢ,cⱼ)
    * (Davies & Bouldin 1979); CH can look fine on average while two
    * clusters sit on top of each other, which is exactly the pair
    * DB's max picks out. Everything derives from the SAME k×64
    * (label, dim) cell relation: per-cluster scatter (n·Q−S²)/n²
    * and pairwise centroid distances (Sᵢnⱼ−Sⱼnᵢ)²/(nᵢnⱼ)² floored
    * to exact integers in (quantized-unit)² — the k²-bounded pair
    * join never touches the corpus. Per-pair R is one mirrored
    * double of those exact ints, micro-floored BEFORE the per-
    * cluster max and the final k-bounded mean (both order-free).
    * Coincident centroids (d² floors to 0) are excluded by exact
    * predicate on both engines.
    */
  val qDaviesBouldin = GateQuery.sql(
    "q_davies_bouldin",
    s"""WITH e AS (SELECT vec_id, label, ${VectorOps.quantizeSql("embedding")} AS q
       |  FROM embeddings),
       |cd AS (SELECT label, t.i AS dim, count(*) AS n,
       |    CAST(sum(q[t.i]) AS HUGEINT) AS s,
       |    CAST(sum(CAST(q[t.i] AS HUGEINT) * q[t.i]) AS HUGEINT) AS qq
       |  FROM e, unnest(generate_series(1, len(q))) AS t(i) GROUP BY 1, 2),
       |s2 AS (SELECT label, any_value(n) AS n,
       |    CAST(CAST(sum(CAST(n AS HUGEINT) * qq - s * s) AS HUGEINT)
       |      // (CAST(any_value(n) AS HUGEINT) * any_value(n)) AS BIGINT) AS s2u
       |  FROM cd GROUP BY label),
       |pd AS (SELECT a.label AS i, b.label AS j,
       |    CAST(sum((a.s * b.n - b.s * a.n) * (a.s * b.n - b.s * a.n)) AS HUGEINT) AS d2num,
       |    any_value(a.n) AS ni, any_value(b.n) AS nj
       |  FROM cd a JOIN cd b ON a.dim = b.dim AND a.label < b.label
       |  GROUP BY 1, 2),
       |d2 AS (SELECT i, j, CAST(d2num
       |    // ((CAST(ni AS HUGEINT) * nj) * (CAST(ni AS HUGEINT) * nj)) AS BIGINT) AS d2u
       |  FROM pd),
       |r AS (SELECT p.i AS c, si.s2u AS s2i, sj.s2u AS s2j, p.d2u FROM d2 p
       |    JOIN s2 si ON p.i = si.label JOIN s2 sj ON p.j = sj.label WHERE p.d2u > 0
       |  UNION ALL
       |  SELECT p.j AS c, sj.s2u AS s2i, si.s2u AS s2j, p.d2u FROM d2 p
       |    JOIN s2 si ON p.i = si.label JOIN s2 sj ON p.j = sj.label WHERE p.d2u > 0),
       |rm AS (SELECT c, max(CAST(floor((sqrt(CAST(s2i AS DOUBLE)) + sqrt(CAST(s2j AS DOUBLE)))
       |    / sqrt(CAST(d2u AS DOUBLE)) * 1000000) AS BIGINT)) AS rmax
       |  FROM r GROUP BY c)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_clusters,
       |  CAST(sum(rmax) // count(*) AS BIGINT) AS db_micro,
       |  CAST(max(rmax) AS BIGINT) AS worst_r_micro
       |FROM rm""".stripMargin) { (s, d) =>
    import Exact.floorDivBig
    // shared k×64 cell snapshot (q_calinski builds the same relation);
    // three consumers re-read the columnar snapshot — no persist needed
    val cd = clusterCells64(s, d)
    val s2 = cd.groupBy(col("label")).agg(
        first(col("n")).as("n"),
        sum(col("n").cast("decimal(38,0)") * col("qq") - col("s") * col("s"))
          .cast("decimal(38,0)").as("wsum"))
      .select(col("label"),
        floorDivBig(col("wsum"), col("n").cast("decimal(38,0)") * col("n"))
          .cast("long").as("s2u"))
    val a = cd.select(col("dim"), col("label").as("i"), col("n").as("ni"), col("s").as("si"))
    val b = cd.select(col("dim"), col("label").as("j"), col("n").as("nj"), col("s").as("sj"))
    val diff = col("si") * col("nj") - col("sj") * col("ni")
    val pd = a.join(b, Seq("dim")).filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(diff * diff).cast("decimal(38,0)").as("d2num"),
        first(col("ni")).as("ni"), first(col("nj")).as("nj"))
    val d2 = pd.select(col("i"), col("j"),
      floorDivBig(col("d2num"),
        (col("ni").cast("decimal(38,0)") * col("nj")) *
          (col("ni").cast("decimal(38,0)") * col("nj"))).cast("long").as("d2u"))
    val si = s2.select(col("label").as("i"), col("s2u").as("s2i"))
    val sj = s2.select(col("label").as("j"), col("s2u").as("s2j"))
    val pj = d2.join(broadcast(si), "i").join(broadcast(sj), "j").filter(col("d2u") > 0)
    val r = pj.select(col("i").as("c"), col("s2i"), col("s2j"), col("d2u"))
      .unionAll(pj.select(col("j").as("c"), col("s2j").as("s2i"),
        col("s2i").as("s2j"), col("d2u")))
    val rMicro = floor((sqrt(col("s2i").cast("double")) + sqrt(col("s2j").cast("double"))) /
      sqrt(col("d2u").cast("double")) * lit(1000000)).cast("long")
    val rm = r.select(col("c"), rMicro.as("r_micro"))
      .groupBy(col("c")).agg(max(col("r_micro")).as("rmax"))
    val k = s2.agg(count(lit(1)).cast("long").as("n_clusters"))
    rm.agg(floorDivBig(sum(col("rmax")).cast("decimal(38,0)"),
          count(lit(1)).cast("decimal(38,0)")).cast("long").as("db_micro"),
        max(col("rmax")).cast("long").as("worst_r_micro"))
      .crossJoin(broadcast(k))
      .select(col("n_clusters"), col("db_micro"), col("worst_r_micro"))
      .orderedSmall(col("n_clusters"))
  }

  /** Simplified silhouette (#305): the PER-POINT cluster-fit score
    * that CH (#300) and DB (#303) aggregate away — s = (b−a)/max(a,b)
    * with a = distance to the OWN centroid, b = the nearest OTHER
    * centroid (the centroid-based "simplified" form, Hruschka et al.
    * 2004 — the all-pairs classic is quadratic and never runs at
    * corpus scale). Per-label means localize WHICH cluster is
    * incoherent. Shape: centroids are elementwise SIGNED-FLOORED
    * integer means (exact on both engines; flooring the mean to the
    * quantization grid keeps every magnitude ≤ QScale at ANY cluster
    * size, so all distances are exact longs — the r9 decimal
    * zip-with fan-out billed ~10M interpreted lambda calls and was
    * the worst weak gate at 5.0×). The codebook is k·dims longs of
    * DRIVER model state (the IvfIndex convention): one map-side-
    * combined aggregate builds it, one zero-shuffle [[
    * graft.expressions.CentroidABExpr]] projection computes
    * d² = ‖x‖² + ‖μ‖² − 2·x·μ = Σ(x_d−μ_d)² for own + nearest-other
    * in a single pass, one k-row aggregate finishes; s is one
    * mirrored double of exact ints, micro-floored per vector BEFORE
    * the label mean (sign-aware HALF_UP — negative means are legal
    * and must not clamp).
    */
  val qSilhouette = GateQuery.sql(
    "q_silhouette", {
      // DuckDB's // truncates toward zero — explicit remainder fix for
      // Math.floorDiv parity on the (legal) negative dim sums
      def sfdiv(x: String, y: String) = s"((($x) - (((($x) % ($y)) + ($y)) % ($y))) // ($y))"
      s"""WITH e AS (SELECT vec_id, label, ${VectorOps.quantizeSql("embedding")} AS q
       |  FROM embeddings),
       |cd AS (SELECT label, t.i AS dim, count(*) AS n, CAST(sum(q[t.i]) AS BIGINT) AS sv
       |  FROM e, unnest(generate_series(1, len(q))) AS t(i) GROUP BY 1, 2),
       |cent AS (SELECT label AS c,
       |    list(CAST(${sfdiv("sv", "n")} AS BIGINT) ORDER BY dim) AS mu
       |  FROM cd GROUP BY label),
       |cm AS (SELECT c, mu, ${VectorOps.normQSql("mu")} AS mm FROM cent),
       |eq AS (SELECT vec_id, label, q, ${VectorOps.normQSql("q")} AS qq FROM e),
       |pc AS (SELECT eq.vec_id, eq.label, cm.c,
       |    eq.qq + cm.mm - 2 * ${VectorOps.dotQSql("eq.q", "cm.mu")} AS d2u
       |  FROM eq CROSS JOIN cm),
       |ab AS (SELECT vec_id, label,
       |    min(CASE WHEN c = label THEN d2u END) AS a,
       |    min(CASE WHEN c <> label THEN d2u END) AS b
       |  FROM pc GROUP BY 1, 2),
       |sm AS (SELECT vec_id, label,
       |    CASE WHEN greatest(a, b) > 0 THEN
       |      CAST(floor((sqrt(CAST(b AS DOUBLE)) - sqrt(CAST(a AS DOUBLE)))
       |        / sqrt(CAST(greatest(a, b) AS DOUBLE)) * 1000000) AS BIGINT)
       |    ELSE 0 END AS s_micro
       |  FROM ab)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  ${Exact.roundedRatioSignedSql("CAST(sum(s_micro) AS BIGINT)", "count(*)", 0)}
       |    AS mean_s_micro
       |FROM sm GROUP BY label ORDER BY label""".stripMargin
    }) { (s, d) =>
    val dims = 64
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        VectorOps.quantize(col("embedding")).as("q"))
    // centroid codebook = DRIVER model state (k·dims longs, the
    // IvfIndex convention): ONE map-side-combined aggregate (label →
    // count + elementwise sums), floored-integer means on the driver
    val stats = e.select(
        col("label").cast("long").as("label") +:
          (0 until dims).map(i => element_at(col("q"), i + 1).as(s"_x$i")): _*)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cnt"),
        (0 until dims).map(i => sum(col(s"_x$i")).as(s"_s$i")): _*)
      .collect().sortBy(_.getLong(0))
    val labels = stats.map(_.getLong(0))
    val cents = stats.map { r =>
      val cnt = r.getLong(1)
      Array.tabulate(dims)(i => Math.floorDiv(r.getLong(2 + i), cnt))
    }
    // one zero-shuffle projection computes [a, b] per row off the
    // broadcast codebook; then a single 2000→k final aggregate
    val ab = e.select(col("label"),
      graft.expressions.VectorExpressions
        .centroidAB(col("q"), col("label").cast("long"), cents, labels).as("ab"))
      .select(col("label"),
        element_at(col("ab"), 1).as("a"), element_at(col("ab"), 2).as("b"))
    val sMicro = when(greatest(col("a"), col("b")) > 0,
      floor((sqrt(col("b").cast("double")) - sqrt(col("a").cast("double"))) /
        sqrt(greatest(col("a"), col("b")).cast("double")) * lit(1000000)).cast("long"))
      .otherwise(lit(0L))
    ab.select(col("label"), sMicro.as("s_micro"))
      .groupBy(col("label")).agg(
        count(lit(1)).cast("long").as("n_vecs"),
        Exact.roundedRatioSigned(sum(col("s_micro")).cast("long"), count(lit(1)), 0)
          .as("mean_s_micro"))
      .orderedSmall(col("label"))
  }

  private val SilSampleMax = 400

  /** Sampled full-pairs silhouette (#309): the CLASSIC all-pairs
    * silhouette (Rousseeuw 1987) — a(i) = mean distance to own-label
    * points, b(i) = min over other labels of the mean distance to
    * that label — evaluated on a BOUNDED deterministic sample,
    * completing the cluster-quality family: #305's simplified form
    * substitutes centroids (free, corpus-wide) and this gate
    * measures what that substitution hides (elongated/non-convex
    * clusters where centroid distance misrepresents cohesion).
    * The quadratic is bounded by construction: the sample is the
    * `SilSampleMax` smallest (portable md5, vec_id) keys — a hard
    * ROW bound (never a fraction; the one-pass TakeOrdered is the
    * same shape at any corpus size), so pairs ≤ m² regardless of
    * scale. Each pair distance floors to exact micro units BEFORE
    * the (i, other-label) mean (HALF_UP integer ratio), b is an
    * exact integer min, and s = (b−a)/max(a,b) is one mirrored
    * double per sampled point, micro-floored before the label mean.
    * Sample singletons (no same-label peer) pin s = 0, the
    * Rousseeuw convention.
    */
  val qSilhouetteSampled = GateQuery.sql(
    "q_silhouette_sampled",
    s"""WITH e AS (SELECT vec_id, label, ${VectorOps.quantizeSql("embedding")} AS q
       |  FROM embeddings),
       |smp AS (SELECT vec_id, label, q, ${VectorOps.normQSql("q")} AS n FROM e
       |  ORDER BY ${graft.operators.TextOps.baseHashSql("'silh:' || CAST(vec_id AS VARCHAR)")},
       |    vec_id LIMIT $SilSampleMax),
       |p AS (SELECT a.vec_id AS vid, a.label AS la, b.label AS lb,
       |    CAST(floor(sqrt(CAST(a.n + b.n - 2 * ${VectorOps.dotQSql("a.q", "b.q")}
       |      AS DOUBLE)) * 1000000) AS BIGINT) AS d_micro
       |  FROM smp a JOIN smp b ON a.vec_id <> b.vec_id),
       |g AS (SELECT vid, la, lb, count(*) AS cnt,
       |    CAST(sum(d_micro) AS BIGINT) AS sd FROM p GROUP BY 1, 2, 3),
       |ab AS (SELECT vid, la,
       |    min(CASE WHEN lb = la THEN ${Exact.roundedRatioSql("sd", "cnt", 0)} END) AS a,
       |    min(CASE WHEN lb <> la THEN ${Exact.roundedRatioSql("sd", "cnt", 0)} END) AS b
       |  FROM g GROUP BY 1, 2),
       |sm AS (SELECT vid, la,
       |    CASE WHEN a IS NULL OR b IS NULL OR greatest(a, b) <= 0 THEN 0
       |      ELSE CAST(floor(1000000 * (CAST(b AS DOUBLE) - CAST(a AS DOUBLE))
       |        / CAST(greatest(a, b) AS DOUBLE)) AS BIGINT) END AS s_micro
       |  FROM ab)
       |SELECT la AS label, CAST(count(*) AS BIGINT) AS n_sampled,
       |  ${Exact.roundedRatioSignedSql("CAST(sum(s_micro) AS BIGINT)", "count(*)", 0)}
       |    AS mean_s_micro
       |FROM sm GROUP BY la ORDER BY la""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), VectorOps.quantize(col("embedding")).as("q"))
    val smp = e
      .withColumn("_hb", graft.operators.TextOps.baseHash(
        concat(lit("silh:"), col("vec_id").cast("string"))))
      .orderBy(col("_hb"), col("vec_id")).limit(SilSampleMax)
      .drop("_hb")
      .withColumn("n", graft.expressions.VectorExpressions.normQ(col("q")))
    val a = smp.select(col("vec_id").as("vid"), col("label").as("la"),
      col("q").as("qa"), col("n").as("na"))
    val b = smp.select(col("vec_id").as("vidb"), col("label").as("lb"),
      col("q").as("qb"), col("n").as("nb"))
    // d² = ‖a‖² + ‖b‖² − 2·a·b in EXACT long arithmetic through the
    // native codegen kernels (the decimal zip-with form costs ~10M
    // interpreted lambda calls over the m² pairs); identical value.
    val d2 = col("na") + col("nb") -
      lit(2L) * graft.expressions.VectorExpressions.dotQ(col("qa"), col("qb"))
    val p = a.join(b, col("vid") =!= col("vidb"))
      .select(col("vid"), col("la"), col("lb"),
        floor(sqrt(d2.cast("double")) * lit(1000000)).cast("long").as("d_micro"))
    val g = p.groupBy(col("vid"), col("la"), col("lb"))
      .agg(count(lit(1)).as("cnt"), sum(col("d_micro")).cast("long").as("sd"))
    val mean = Exact.roundedRatio(col("sd"), col("cnt"), 0)
    val ab = g.groupBy(col("vid"), col("la")).agg(
      min(when(col("lb") === col("la"), mean)).as("a"),
      min(when(col("lb") =!= col("la"), mean)).as("b"))
    val sMicro = when(col("a").isNull || col("b").isNull ||
        greatest(col("a"), col("b")) <= 0, lit(0L))
      .otherwise(floor(lit(1000000) *
        (col("b").cast("double") - col("a").cast("double")) /
        greatest(col("a"), col("b")).cast("double")).cast("long"))
    ab.select(col("la"), sMicro.as("s_micro"))
      .groupBy(col("la")).agg(
        count(lit(1)).cast("long").as("n_sampled"),
        Exact.roundedRatioSigned(sum(col("s_micro")).cast("long"), count(lit(1)), 0)
          .as("mean_s_micro"))
      .select(col("la").as("label"), col("n_sampled"), col("mean_s_micro"))
      .orderedSmall(col("label"))
  }

  /** k-medoids PAM refinement (#320): actual-vector cluster centers
    * from the PAM BUILD+SWAP search over the bounded deterministic
    * sample (the #309 sample shape — [[KMedoids]] for the full scale
    * and determinism story), deployed corpus-wide through the native
    * literal-matrix nearest-cell expression (zero joins, zero
    * shuffles). Output: one row per non-empty medoid cell with its
    * medoid's vec_id, assigned count and HALF_UP mean micro-distance,
    * plus the sample objective before/after SWAP (the "did refinement
    * help" diagnostic riding along as literals). Hash-checked SQL
    * since r10: the whole PAM search replays in the oracle — the
    * (hash, vec_id)-ordered 400-row sample and its micro-floored
    * integer distance matrix are plain SQL; the 7 greedy BUILD picks
    * unroll to (nearest, gain, argmax) CTE triples with the Scala
    * scan-order tie-breaks mirrored as `ORDER BY gain DESC, h`; and
    * the SWAP phase is a recursive CTE whose step applies the single
    * best strictly-improving swap (`ORDER BY delta, pos, h LIMIT 1`
    * = the driver's first-in-scan-order strict `<`), ending exactly
    * at the fixpoint (or the 64-swap backstop) because a round with
    * no improving swap emits nothing. Distances are exact longs in,
    * one IEEE sqrt + floor out — bit-identical across engines.
    * KMedoidsSpec still pins planted-cluster recovery,
    * swap-improves, determinism and the k ≥ m degenerate path.
    */
  val qKmedoids = GateQuery.sql(
    "q_kmedoids", {
      val buildSteps = (2 to 8).map { stp =>
        val prev = s"meds${stp - 1}"
        s"""nr$stp AS MATERIALIZED (SELECT dm.sj AS j, min(dm.d) AS n1
           |  FROM $prev mm JOIN dmat dm ON list_contains(mm.meds, dm.si) GROUP BY 1),
           |gn$stp AS (SELECT dm.si AS h, sum(greatest(nr$stp.n1 - dm.d, 0)) AS gain
           |  FROM dmat dm JOIN nr$stp ON dm.sj = nr$stp.j, $prev mm
           |  WHERE NOT list_contains(mm.meds, dm.si) GROUP BY 1),
           |meds$stp AS MATERIALIZED (SELECT list_append(mm.meds, g.h) AS meds
           |  FROM $prev mm, (SELECT h FROM gn$stp ORDER BY gain DESC, h LIMIT 1) g)""".stripMargin
      }.mkString(",\n")
      val d2 = "list_sum([(a.q[i+1] - b.q[i+1]) * (a.q[i+1] - b.q[i+1]) " +
        "for i in range(len(a.q))])"
      val ad2 = "list_sum([(qv.q[i+1] - m.q[i+1]) * (qv.q[i+1] - m.q[i+1]) " +
        "for i in range(len(qv.q))])"
      s"""WITH RECURSIVE qv AS MATERIALIZED (
         |  SELECT vec_id, ${VectorOps.quantizeSql("embedding")} AS q FROM embeddings),
         |smp AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY hb, vec_id) AS si, vec_id, q
         |  FROM (SELECT vec_id, q,
         |      ${graft.operators.TextOps.baseHashSql("concat('kmed:', CAST(vec_id AS VARCHAR))")} AS hb
         |    FROM qv ORDER BY hb, vec_id LIMIT 400) s),
         |dmat AS MATERIALIZED (
         |  SELECT a.si AS si, b.si AS sj,
         |    CASE WHEN a.si = b.si THEN 0
         |      ELSE CAST(floor(sqrt(CAST($d2 AS DOUBLE)) * 1000000.0) AS BIGINT) END AS d
         |  FROM smp a, smp b),
         |meds1 AS MATERIALIZED (SELECT [t.si] AS meds FROM (
         |    SELECT si, sum(d) AS tot FROM dmat GROUP BY 1 ORDER BY tot, si LIMIT 1) t),
         |$buildSteps,
         |bcost AS (SELECT CAST(sum(n1) AS BIGINT) AS build_cost FROM (
         |    SELECT dm.sj AS j, min(dm.d) AS n1
         |    FROM meds8 mm JOIN dmat dm ON list_contains(mm.meds, dm.si) GROUP BY 1) z),
         |swap AS (
         |  SELECT 0 AS r, mm.meds AS meds FROM meds8 mm
         |  UNION ALL
         |  SELECT st.r + 1,
         |    [CASE WHEN i = b.pos THEN b.h ELSE st.meds[CAST(i AS INTEGER)] END
         |      for i in range(1, 9)]
         |  FROM swap st, LATERAL (
         |    SELECT pos, h, delta FROM (
         |      SELECT md2.pos, cd.h,
         |        sum(CASE WHEN md2.dmi = nn.n1 THEN least(nn.n2, cd.dh)
         |                 ELSE least(nn.n1, cd.dh) END - nn.n1) AS delta
         |      FROM (
         |        SELECT j, min(CASE WHEN rn = 1 THEN d END) AS n1,
         |               min(CASE WHEN rn = 2 THEN d END) AS n2
         |        FROM (
         |          SELECT dm.sj AS j, dm.d,
         |            row_number() OVER (PARTITION BY dm.sj ORDER BY dm.d) AS rn
         |          FROM dmat dm WHERE list_contains(st.meds, dm.si)) w
         |        GROUP BY 1) nn
         |      JOIN (SELECT dm.si AS h, dm.sj AS j, dm.d AS dh FROM dmat dm
         |        WHERE NOT list_contains(st.meds, dm.si)) cd ON nn.j = cd.j
         |      JOIN (SELECT i AS pos, dm.sj AS j, dm.d AS dmi
         |        FROM (SELECT unnest(range(1, 9)) AS i) ii
         |        JOIN dmat dm ON dm.si = st.meds[CAST(ii.i AS INTEGER)]) md2
         |        ON md2.j = nn.j
         |      GROUP BY 1, 2) cands
         |    WHERE delta < 0 ORDER BY delta, pos, h LIMIT 1) b
         |  WHERE st.r < 64),
         |fin AS MATERIALIZED (SELECT meds, r AS n_swaps FROM swap
         |  ORDER BY r DESC LIMIT 1),
         |fcost AS (SELECT CAST(sum(n1) AS BIGINT) AS final_cost FROM (
         |    SELECT dm.sj AS j, min(dm.d) AS n1
         |    FROM fin JOIN dmat dm ON list_contains(fin.meds, dm.si) GROUP BY 1) z),
         |model AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY s.vec_id) - 1 AS cell, s.vec_id, s.q
         |  FROM fin, smp s WHERE list_contains(fin.meds, s.si)),
         |assign AS MATERIALIZED (
         |  SELECT qv.vec_id, am.cell,
         |    CAST(floor(sqrt(CAST(am.d2 AS DOUBLE)) * 1000000.0) AS BIGINT) AS d_micro
         |  FROM qv, LATERAL (
         |    SELECT m.cell, CAST($ad2 AS BIGINT) AS d2
         |    FROM model m ORDER BY d2, m.cell LIMIT 1) am)
         |SELECT a.cell, m.vec_id AS medoid_vec_id,
         |  CAST(count(*) AS BIGINT) AS n_assigned,
         |  ${Exact.roundedRatioSql("sum(a.d_micro)", "count(*)", 0)} AS mean_d_micro,
         |  bc.build_cost AS sample_build_cost_micro,
         |  fc.final_cost AS sample_final_cost_micro,
         |  CAST(f.n_swaps AS BIGINT) AS sample_swaps
         |FROM assign a JOIN model m ON a.cell = m.cell, bcost bc, fcost fc, fin f
         |GROUP BY 1, 2, 5, 6, 7
         |ORDER BY a.cell""".stripMargin
    }) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
      .persist()
    val model = KMedoids.train(e, k = 8, sampleMax = 400)
    val medIds = array(model.medoidIds.map(lit(_)): _*)
    val cs = graft.expressions.VectorExpressions
      .nearestCellScore(col("q"), model.medoids)
    val assigned = e.select(col("vec_id"),
        element_at(cs, 1).as("cell"), element_at(cs, 2).as("d2"))
      .select(col("cell"),
        floor(sqrt(col("d2").cast("double")) * lit(1000000)).cast("long").as("d_micro"))
    val out = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).cast("long").as("n_assigned"),
        Exact.roundedRatio(sum(col("d_micro")).cast("long"), count(lit(1)), 0)
          .as("mean_d_micro"))
      .select(col("cell"),
        element_at(medIds, col("cell").cast("int") + 1).as("medoid_vec_id"),
        col("n_assigned"), col("mean_d_micro"),
        lit(model.buildCostMicro).as("sample_build_cost_micro"),
        lit(model.finalCostMicro).as("sample_final_cost_micro"),
        lit(model.nSwaps.toLong).as("sample_swaps"))
      .orderedSmall(col("cell"))
    // persisted `e` is freed by the harness (Bench/Verify drop leftover
    // blocks between queries — the LM-gate persist discipline)
    out
  }

  /** Half-life for the decayed-feature gate: 6 hours in seconds. */
  private val DecayHalflifeSec = 21600L

  /** floor(1e6·2^(−b/64)) for b = 0..63 — the fractional-exponent
    * decay table, computed ONCE in the driver and inlined as literals
    * on both engines (the Benford/NDCG literal-domain discipline:
    * libm pow never runs in a gate plan).
    */
  private[graft] val decayTabMicro: Seq[Long] =
    Seq.tabulate(64)(b => math.floor(1e6 * math.pow(2.0, -b / 64.0)).toLong)

  /** Exponential time-decay feature aggregates (#324): the
    * feature-store standard — "decayed count / decayed sum as of now"
    * with half-life H, weighting each event by 2^(−Δt/H) so recent
    * behavior dominates without any window re-computation (one pass,
    * any keying; the trailing-window family #150/#195 needs the
    * horizon picked in advance, decay does not). The weight is EXACT
    * integer arithmetic: Δt/H splits into k = Δt div H (handled by a
    * bit shift — floor division by 2^k) and a 64-bucket fractional
    * part looked up in the driver-inlined [[decayTabMicro]] literal
    * table, so w_micro = tab[(64·(Δt mod H)) div H] >> k with no libm
    * anywhere in the plan — bit-identical on any engine and any
    * partitioning (per-row weight, order-free integer sums). The
    * as-of-now reference rides a 1-row max(xs) broadcast; shifts past
    * 62 clamp to weight 0 (already below 1 micro-unit).
    */
  val qDecayFeatures = GateQuery.sql(
    "q_decay_features", {
      val tab = decayTabMicro.mkString("[", ", ", "]")
      val h = DecayHalflifeSec
      s"""WITH mx AS (SELECT max(xs) AS t_ref FROM $E t),
         |w AS (SELECT event_type, ${centsSql("vd")} AS v,
         |    (t_ref - xs) // $h AS k,
         |    (64 * ((t_ref - xs) % $h)) // $h AS b
         |  FROM $E e, mx),
         |d AS (SELECT event_type, v,
         |    CASE WHEN k > 62 THEN 0
         |      ELSE CAST(list_extract($tab, CAST(b + 1 AS INTEGER)) AS BIGINT)
         |        >> CAST(k AS INTEGER)
         |    END AS wm
         |  FROM w)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(wm) AS BIGINT) AS decayed_n_micro,
         |  CAST(sum(CAST(v AS HUGEINT) * wm) AS BIGINT) AS decayed_sum_micro
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, d) =>
    val e = ev(s, d)
    val mx = e.agg(max(col("xs")).as("t_ref"))
    val h = DecayHalflifeSec
    val dt = col("t_ref") - col("xs")
    val w = graft.operators.Curation.withStats(e, mx)
      .select(col("event_type"), Exact.cents(col("vd")).as("v"),
        Binning.floorDiv(dt, h).as("k"),
        Binning.floorDivCol(lit(64L) * pmod(dt, lit(h)), lit(h)).as("b"))
    // the table element MUST shift as a 64-bit value: a 32-bit shift
    // uses only the low 5 bits of k (Java semantics), silently wrapping
    // for 32 <= k <= 62 — cast to bigint/BIGINT on BOTH engines
    val dcol = w.select(col("event_type"), col("v"),
      when(col("k") > 62, lit(0L))
        .otherwise(expr(
          s"shiftright(cast(element_at(array(${decayTabMicro.mkString(",")}), " +
            "cast(b as int) + 1) as bigint), cast(k as int))")).as("wm"))
    dcol.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("wm")).cast("long").as("decayed_n_micro"),
        sum(col("v").cast("decimal(38,0)") * col("wm")).cast("long")
          .as("decayed_sum_micro"))
      .orderedSmall(col("event_type"))
  }

  val all: Seq[GateQuery] = Seq(
    qDeadtime, qSetOps, qEmbedInt8, qScanMerge, qSnipBackground,
    qXcorrAlign, qRollingActives, qRfm, qWindowFuncs, qBenford,
    qScanPipeline, qEventTransitions, qUserPaths, qRollingZscore,
    qCompressRatio, qPeakFind, qTrimmedMean, qRandomProjection, qHistEq,
    qXcorrSubsample, qIsotonicFit, qAttribution, qStickiness, qDtwAlign,
    qWinsorized, qPlatt, qCalinski, qVmeasure, qHourEntropy, qDaviesBouldin, qSilhouette,
    qSilhouetteSampled, qKmedoids, qDecayFeatures, qEntropyRate, qHbos,
    qConcurrency)
}
