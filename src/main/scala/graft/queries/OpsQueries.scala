package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Binning, Curation, Exact}
import graft.operators.Exact.centsSql

/** Data-engineering / application-layer gates (SURVEY.md §2
  * #272–#275): the audits and derived products a production pipeline
  * runs NEXT TO its analytics — referential-integrity checks before a
  * join is trusted, k-anonymity before a release (the companion of
  * the DP gate #267), forecast-accuracy scoring for the smoothing
  * family (#191/#262), and item-item collaborative filtering (the
  * recommendation surface of the co-occurrence graph #247/#258).
  *
  * Exactness discipline per SURVEY.md §4: integer counts and cents
  * everywhere; the only doubles are final similarity/ratio closed
  * forms mirrored textually.
  */
object OpsQueries {

  private val CfTopItems = 10
  private val CfTopK = 5

  /** Item-item collaborative filtering (#272): for the 10 most
    * popular parts, the top-5 "customers also bought" neighbors by
    * co-occurrence cosine s_ab/√(s_a·s_b) (Sarwar et al. 2001 —
    * THE deployed recommender shape; Amazon's item-to-item CF).
    * Supports are the bounded per-order pair fan-out (#258's
    * relation); the popular-item set is a 10-row broadcast; ranking
    * is one window over its candidate slice. Similarities are
    * identical doubles from exact integer supports, so ranks and
    * values mirror.
    */
  val qItemCf = GateQuery.sql(
    "q_item_cf",
    s"""WITH pr AS (SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS s_ab FROM pr GROUP BY 1, 2),
       |po AS (SELECT l_partkey AS p, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS s_p
       |  FROM lineitem GROUP BY 1),
       |top AS (SELECT p, s_p FROM po ORDER BY s_p DESC, p LIMIT $CfTopItems),
       |cand AS (
       |  SELECT u AS item, v AS neighbor, s_ab FROM sup
       |  UNION ALL SELECT v AS item, u AS neighbor, s_ab FROM sup),
       |sc AS (SELECT t.p AS item, c.neighbor, c.s_ab, t.s_p AS s_i, pn.s_p AS s_n,
       |    round(CAST(c.s_ab AS DOUBLE) / (sqrt(CAST(t.s_p AS DOUBLE))
       |      * sqrt(CAST(pn.s_p AS DOUBLE))), 6) + 0.0 AS sim
       |  FROM top t JOIN cand c ON c.item = t.p JOIN po pn ON c.neighbor = pn.p),
       |rk AS (SELECT item, neighbor, s_ab, sim,
       |    row_number() OVER (PARTITION BY item ORDER BY sim DESC, neighbor) AS rnk
       |  FROM sc)
       |SELECT item, rnk, neighbor, s_ab AS co_orders, sim
       |FROM rk WHERE rnk <= $CfTopK ORDER BY item, rnk""".stripMargin) { (s, d) =>
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val a = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
    val b = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("v"))
    val sup = a.join(b, "ok").filter(col("u") < col("v")).distinct()
      .groupBy(col("u"), col("v")).agg(count(lit(1)).cast("long").as("s_ab"))
      .persist() // both candidate directions read it — without this the
                 // per-order self-join + distinct runs twice
    val po = l.groupBy(col("l_partkey").as("p"))
      .agg(countDistinct(col("l_orderkey")).cast("long").as("s_p"))
      .persist() // top-item slice and neighbor-support join both read it
    val top = broadcast(po.orderBy(col("s_p").desc, col("p")).limit(CfTopItems))
    val cand = sup.select(col("u").as("item"), col("v").as("neighbor"), col("s_ab"))
      .unionAll(sup.select(col("v").as("item"), col("u").as("neighbor"), col("s_ab")))
    val sc = cand
      .join(top.select(col("p").as("item"), col("s_p").as("s_i")), "item")
      .join(po.select(col("p").as("neighbor"), col("s_p").as("s_n")), "neighbor")
      .withColumn("sim",
        round(col("s_ab").cast("double") /
          (sqrt(col("s_i").cast("double")) * sqrt(col("s_n").cast("double"))), 6) + lit(0.0))
    sc.withColumn("rnk", row_number().over(
        Window.partitionBy(col("item")).orderBy(col("sim").desc, col("neighbor"))))
      .filter(col("rnk") <= CfTopK)
      .select(col("item"), col("rnk").cast("long").as("rnk"), col("neighbor"),
        col("s_ab").as("co_orders"), col("sim"))
      .orderedSmall(col("item"), col("rnk"))
  }

  /** Forecast-accuracy scoring (#273): per event type over the hourly
    * series, the MAE of the naive (lag-1) and seasonal-naive (lag-24)
    * forecasts and MASE = MAE_snaive/MAE_naive (Hyndman & Koehler
    * 2006 — the scale-free accuracy metric; < 1e6 ppm means
    * seasonality beats persistence, the model-selection signal for
    * #262). Absolute errors are exact integers off one ordered
    * window; MAEs are HALF_UP integer ratios; MASE one exact ppm
    * division.
    */
  val qForecastAcc = GateQuery.sql(
    "q_forecast_acc",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |l AS (SELECT event_type, y,
       |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY grid) AS y1,
       |    lag(y, 24) OVER (PARTITION BY event_type ORDER BY grid) AS y24
       |  FROM g),
       |a AS (SELECT event_type,
       |    CAST(count(y1) AS BIGINT) AS n_naive,
       |    CAST(sum(abs(y - y1)) AS BIGINT) AS e_naive,
       |    CAST(count(y24) AS BIGINT) AS n_snaive,
       |    CAST(sum(abs(y - y24)) AS BIGINT) AS e_snaive
       |  FROM l GROUP BY 1)
       |SELECT event_type, n_naive, n_snaive,
       |  (2 * e_naive + n_naive) // (2 * n_naive) AS mae_naive_cents,
       |  (2 * e_snaive + n_snaive) // (2 * n_snaive) AS mae_snaive_cents,
       |  CAST(CASE WHEN e_naive > 0 AND n_snaive > 0
       |    THEN (e_snaive * n_naive * 1000000) // (CAST(e_naive AS HUGEINT) * n_snaive)
       |  END AS BIGINT) AS mase_ppm
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val wo = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val lagged = g
      .withColumn("y1", lag(col("y"), 1).over(wo))
      .withColumn("y24", lag(col("y"), 24).over(wo))
    val a = lagged.groupBy(col("event_type")).agg(
      count(col("y1")).cast("long").as("n_naive"),
      sum(abs(col("y") - col("y1"))).cast("long").as("e_naive"),
      count(col("y24")).cast("long").as("n_snaive"),
      sum(abs(col("y") - col("y24"))).cast("long").as("e_snaive"))
    def meanHalfUp(s2: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      Binning.floorDivCol(lit(2L) * s2 + n, lit(2L) * n)
    a.select(col("event_type"), col("n_naive"), col("n_snaive"),
        meanHalfUp(col("e_naive"), col("n_naive")).as("mae_naive_cents"),
        meanHalfUp(col("e_snaive"), col("n_snaive")).as("mae_snaive_cents"),
        when(col("e_naive") > 0 && col("n_snaive") > 0,
          Exact.floorDivBig(col("e_snaive").cast("decimal(38,0)") * col("n_naive") * lit(1000000L),
            col("e_naive").cast("decimal(38,0)") * col("n_snaive")).cast("long"))
          .as("mase_ppm"))
      .orderedSmall(col("event_type"))
  }

  /** Diebold–Mariano forecast-equivalence test (#383, Diebold &
    * Mariano 1995): is the seasonal-naive forecast SIGNIFICANTLY
    * better than the naive one, or is #273's MASE < 1 just noise?
    * Squared-error loss differential d_t = e₁² − e₂₄² per hour
    * (h = 1, so the long-run variance is the plain variance — no
    * HAC kernel needed); DM = Σd·√n / √(n·Σd² − (Σd)²), the
    * mean-over-its-standard-error z. Same ordered window as #273;
    * per-row squares lifted to decimal BEFORE multiplying (hourly
    * cent sums square past long at corpus scale); only the final
    * DM is a mirrored double. |DM| > 1.96 = the seasonal model
    * genuinely wins at 5%.
    */
  val qDieboldMariano = GateQuery.sql(
    "q_diebold_mariano",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |l AS (SELECT event_type, y,
       |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY grid) AS y1,
       |    lag(y, 24) OVER (PARTITION BY event_type ORDER BY grid) AS y24
       |  FROM g),
       |dd AS (SELECT event_type,
       |    CAST(y - y1 AS HUGEINT) * (y - y1)
       |      - CAST(y - y24 AS HUGEINT) * (y - y24) AS d
       |  FROM l WHERE y1 IS NOT NULL AND y24 IS NOT NULL),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS HUGEINT) AS sd,
       |    CAST(sum(d * d) AS HUGEINT) AS q
       |  FROM dd GROUP BY 1)
       |SELECT event_type, n, CAST(sd AS BIGINT) AS sum_d,
       |  CASE WHEN n >= 2 AND n * q - sd * sd > 0 THEN
       |    round(CAST(sd AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
       |      / sqrt(CAST(n * q - sd * sd AS DOUBLE)), 4) + 0.0
       |  END AS dm_stat
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val wo = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val l = g.withColumn("y1", lag(col("y"), 1).over(wo))
      .withColumn("y24", lag(col("y"), 24).over(wo))
    val e1 = (col("y") - col("y1")).cast("decimal(38,0)")
    val e24 = (col("y") - col("y24")).cast("decimal(38,0)")
    val dd = l.filter(col("y1").isNotNull && col("y24").isNotNull)
      .select(col("event_type"), (e1 * e1 - e24 * e24).as("d"))
    val a = dd.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("d")).cast("decimal(38,0)").as("sd"),
      sum(col("d") * col("d")).cast("decimal(38,0)").as("q"))
    val varTerm = col("n").cast("decimal(38,0)") * col("q") - col("sd") * col("sd")
    a.select(col("event_type"), col("n"), col("sd").cast("long").as("sum_d"),
        when(col("n") >= 2 && varTerm > 0,
          round(col("sd").cast("double") * sqrt(col("n").cast("double")) /
            sqrt(varTerm.cast("double")), 4) + lit(0.0)).as("dm_stat"))
      .orderedSmall(col("event_type"))
  }

  /** Theil's U2 forecast-quality coefficient (#411, Theil 1966): per
    * event type, RMSE(seasonal-naive)/RMSE(naive) over the hourly
    * series — the squared-loss companion of MASE (#273, absolute
    * loss) and the effect-size the DM test (#383) judges: U2 < 1
    * means the model beats persistence where it HURTS (big
    * misses), not just on average. Same ordered window; squared
    * errors decimal-lifted; U2 = √(Σe₂₄²·n₁ / (Σe₁²·n₂₄)) one
    * mirrored double; zero naive error → NULL by exact predicate.
    */
  val qTheilU2 = GateQuery.sql(
    "q_theil_u2",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |l AS (SELECT event_type, y,
       |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY grid) AS y1,
       |    lag(y, 24) OVER (PARTITION BY event_type ORDER BY grid) AS y24
       |  FROM g),
       |a AS (SELECT event_type,
       |    CAST(count(y1) AS BIGINT) AS n1,
       |    CAST(sum(CAST(y - y1 AS HUGEINT) * (y - y1)) AS HUGEINT) AS q1,
       |    CAST(count(y24) AS BIGINT) AS n24,
       |    CAST(sum(CAST(y - y24 AS HUGEINT) * (y - y24)) AS HUGEINT) AS q24
       |  FROM l GROUP BY 1)
       |SELECT event_type, n1, n24,
       |  CASE WHEN q1 > 0 AND n24 > 0 THEN
       |    round(sqrt(CAST(q24 AS DOUBLE) * n1 / (CAST(q1 AS DOUBLE) * n24)), 4) + 0.0
       |  END AS theil_u2
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val wo = Window.partitionBy(col("event_type")).orderBy(col("grid"))
    val l = g.withColumn("y1", lag(col("y"), 1).over(wo))
      .withColumn("y24", lag(col("y"), 24).over(wo))
    def sq(c: org.apache.spark.sql.Column) =
      (col("y") - c).cast("decimal(38,0)") * (col("y") - c)
    val a = l.groupBy(col("event_type")).agg(
      count(col("y1")).cast("long").as("n1"),
      sum(when(col("y1").isNotNull, sq(col("y1")))).cast("decimal(38,0)").as("q1"),
      count(col("y24")).cast("long").as("n24"),
      sum(when(col("y24").isNotNull, sq(col("y24")))).cast("decimal(38,0)").as("q24"))
    a.select(col("event_type"), col("n1"), col("n24"),
        when(col("q1") > 0 && col("n24") > 0,
          round(sqrt(col("q24").cast("double") * col("n1").cast("double") /
            (col("q1").cast("double") * col("n24").cast("double"))), 4) + lit(0.0))
          .as("theil_u2"))
      .orderedSmall(col("event_type"))
  }

  private val KAnonK = 5L

  /** k-anonymity audit (#274, Sweeney 2002): are the quasi-identifier
    * combinations (nation, market segment) safe to release? Groups
    * smaller than k are re-identification risks — the check run
    * BEFORE a data release, companion to the DP mechanism (#267).
    * One group-by plus one conditional aggregate; output is a single
    * exact-integer audit row.
    */
  val qKanon = GateQuery.sql(
    "q_kanon",
    s"""WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
       |  FROM customer GROUP BY 1, 2)
       |SELECT CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(n) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
       |  CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       |  CAST(min(n) AS BIGINT) AS min_group_size
       |FROM g""".stripMargin) { (s, d) =>
    val g = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n"))
    g.agg(
      count(lit(1)).cast("long").as("n_groups"),
      sum(col("n")).cast("long").as("n_rows"),
      sum(when(col("n") < KAnonK, 1L).otherwise(0L)).cast("long").as("n_risky_groups"),
      sum(when(col("n") < KAnonK, col("n")).otherwise(0L)).cast("long").as("n_rows_at_risk"),
      min(col("n")).cast("long").as("min_group_size"))
  }

  /** Referential-integrity audit (#275): orphan counts across the
    * star schema's foreign keys — lineitem→orders, lineitem→part,
    * orders→customer — via left-anti joins (the broadcastable/
    * shuffle-hash shape Catalyst picks per side size), plus the
    * table totals for rates. The data-quality gate a pipeline runs
    * before trusting any join; one row, exact integers.
    */
  val qRefIntegrity = GateQuery.sql(
    "q_ref_integrity",
    """SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_lineitem,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |    AS orphan_lineitem_orders,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |    AS orphan_lineitem_part,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |    AS orphan_orders_customer""".stripMargin) { (s, d) =>
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    def cnt1(df: DataFrame, name: String) =
      df.agg(count(lit(1)).cast("long").as(name))
    val base = cnt1(l, "n_lineitem").crossJoin(broadcast(cnt1(o, "n_orders")))
    val lo = cnt1(l.join(o.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_anti"), "orphan_lineitem_orders")
    val lp = cnt1(l.join(Tables.part(s, d).select(col("p_partkey").as("l_partkey")),
      Seq("l_partkey"), "left_anti"), "orphan_lineitem_part")
    val oc = cnt1(o.join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_anti"), "orphan_orders_customer")
    base.crossJoin(broadcast(lo)).crossJoin(broadcast(lp)).crossJoin(broadcast(oc))
  }

  /** Join-key skew audit (#276): the "should I salt this join"
    * decision signal a 100 TB pipeline computes BEFORE choosing a
    * strategy — per candidate key, the key-count distribution's
    * hot-key share and p99/median ratio. Group sizes come from one
    * aggregate per key; the quantiles run over the VALUE-COLLAPSED
    * (size, #keys-with-size) grid (never the key relation itself —
    * the Levene lo-median discipline), so the audit costs two small
    * shuffles per key regardless of key cardinality.
    */
  val qSkewAudit = GateQuery.sql(
    "q_skew_audit", {
      def keySql(tbl: String, key: String) =
        s"""SELECT '$tbl.$key' AS join_key,
           |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
           |  max_key_rows,
           |  CAST((max_key_rows * 1000000) // n_rows AS BIGINT) AS top1_share_ppm,
           |  med, p99, (p99 * 1000000) // med AS skew_ratio_ppm
           |FROM (
           |  SELECT any_value(n_rows) AS n_rows, any_value(n_keys) AS n_keys,
           |    any_value(max_key_rows) AS max_key_rows,
           |    min(CASE WHEN 2 * cum >= n_keys THEN sz END) AS med,
           |    min(CASE WHEN 100 * cum >= 99 * n_keys THEN sz END) AS p99
           |  FROM (
           |    SELECT sz, sum(nk) OVER (ORDER BY sz) AS cum,
           |      sum(nk) OVER () AS n_keys, sum(sz * nk) OVER () AS n_rows,
           |      max(sz) OVER () AS max_key_rows
           |    FROM (SELECT sz, CAST(count(*) AS BIGINT) AS nk
           |          FROM (SELECT $key, CAST(count(*) AS BIGINT) AS sz
           |                FROM $tbl GROUP BY 1) GROUP BY 1)))""".stripMargin
      s"""${keySql("lineitem", "l_orderkey")}
         |UNION ALL
         |${keySql("lineitem", "l_partkey")}
         |ORDER BY join_key""".stripMargin
    }) { (s, d) =>
    def audit(keyName: String, keyed: DataFrame): DataFrame = {
      val sizes = keyed.groupBy(col("k")).agg(count(lit(1)).cast("long").as("sz"))
      val grid = sizes.groupBy(col("sz")).agg(count(lit(1)).cast("long").as("nk"))
      val w = Window.orderBy(col("sz"))
      val cum = grid
        .withColumn("cum", sum(col("nk")).over(w))
        .withColumn("n_keys", sum(col("nk")).over(Window.partitionBy()))
        .withColumn("n_rows", sum(col("sz") * col("nk")).over(Window.partitionBy()))
        .withColumn("max_key_rows", max(col("sz")).over(Window.partitionBy()))
      cum.agg(
          first(col("n_rows")).as("n_rows"), first(col("n_keys")).as("n_keys"),
          first(col("max_key_rows")).as("max_key_rows"),
          min(when(lit(2) * col("cum") >= col("n_keys"), col("sz"))).as("med"),
          min(when(lit(100) * col("cum") >= lit(99) * col("n_keys"), col("sz"))).as("p99"))
        .select(lit(keyName).as("join_key"), col("n_rows"), col("n_keys"),
          col("max_key_rows"),
          Binning.floorDivCol(col("max_key_rows") * lit(1000000L), col("n_rows"))
            .as("top1_share_ppm"),
          col("med"), col("p99"),
          Binning.floorDivCol(col("p99") * lit(1000000L), col("med")).as("skew_ratio_ppm"))
    }
    val l = Tables.lineitem(s, d)
    audit("lineitem.l_orderkey", l.select(col("l_orderkey").as("k")))
      .unionAll(audit("lineitem.l_partkey", l.select(col("l_partkey").as("k"))))
      .orderedSmall(col("join_key"))
  }

  private val PsiBuckets = 20
  private val PsiWidth = 1000L // cents per bucket → 20 buckets cover $0–200
  private val PsiSplit = 604800L

  /** Population stability index (#277): THE model-monitoring drift
    * metric (the credit-scoring standard; PSI < 0.1 stable, > 0.25
    * action) — week-1 vs week-2 value distributions per event type
    * over fixed cent buckets. Each bucket term is kept EXACT by
    * clearing denominators: ((c1+1)(n2+B) − (c2+1)(n1+B)) ·
    * µln(((c1+1)(n2+B))/((c2+1)(n1+B))) is an exact integer (the
    * ln of an exact rational, micro-floored), summed per type, and
    * PSI leaves as ONE mirrored double division by (n1+B)(n2+B).
    */
  val qPsi = GateQuery.sql(
    "q_psi", {
      val b = PsiBuckets
      s"""WITH e AS (SELECT event_type,
         |    least(${centsSql("vd")} // $PsiWidth, ${b - 1}) AS bkt,
         |    CASE WHEN xs < $PsiSplit THEN 1 ELSE 0 END AS w1
         |  FROM $E t),
         |c AS (SELECT event_type, bkt,
         |    CAST(sum(w1) AS BIGINT) AS c1, CAST(sum(1 - w1) AS BIGINT) AS c2
         |  FROM e GROUP BY 1, 2),
         |n AS (SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c2) AS BIGINT) AS n2 FROM c GROUP BY 1),
         |t AS (SELECT c.event_type, n.n1, n.n2,
         |    ((c1 + 1) * (n2 + $b) - (c2 + 1) * (n1 + $b))
         |      * ${graft.operators.Curation.microLnSql(
               s"((c1 + 1.0) * (n2 + $b)) / ((c2 + 1.0) * (n1 + $b))")} AS term
         |  FROM c JOIN n ON c.event_type = n.event_type)
         |SELECT event_type, any_value(n1) AS n_week1, any_value(n2) AS n_week2,
         |  round(CAST(sum(term) AS DOUBLE)
         |    / ((any_value(n1) + $b) * 1.0 * (any_value(n2) + $b)) / 1000000.0, 6) + 0.0 AS psi
         |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    val b = PsiBuckets
    val e = ev(s, d).select(col("event_type"),
      least(Binning.floorDiv(Exact.cents(col("vd")), PsiWidth), lit(b - 1L)).as("bkt"),
      when(col("xs") < PsiSplit, 1L).otherwise(0L).as("w1"))
    val c = e.groupBy(col("event_type"), col("bkt")).agg(
      sum(col("w1")).cast("long").as("c1"),
      sum(lit(1L) - col("w1")).cast("long").as("c2"))
    val n = c.groupBy(col("event_type")).agg(
      sum(col("c1")).cast("long").as("n1"), sum(col("c2")).cast("long").as("n2"))
    val joined = c.join(broadcast(n), "event_type")
    val ratio = ((col("c1") + lit(1.0)) * (col("n2") + lit(b))) /
      ((col("c2") + lit(1.0)) * (col("n1") + lit(b)))
    val term = ((col("c1") + 1) * (col("n2") + lit(b.toLong)) -
      (col("c2") + 1) * (col("n1") + lit(b.toLong))) *
      graft.operators.Curation.microLn(ratio)
    joined.groupBy(col("event_type")).agg(
        first(col("n1")).as("n_week1"), first(col("n2")).as("n_week2"),
        sum(term.cast("decimal(38,0)")).cast("decimal(38,0)").as("t"))
      .select(col("event_type"), col("n_week1"), col("n_week2"),
        (round(col("t").cast("double") /
          ((col("n_week1") + lit(b)) * lit(1.0) * (col("n_week2") + lit(b)))
          / lit(1000000.0), 6) + lit(0.0)).as("psi"))
      .orderedSmall(col("event_type"))
  }

  private val CentroidDims = 64

  /** Label-centroid similarity (#278): pairwise cosine between class
    * prototype (mean) embeddings — the "are these labels separable /
    * mergeable" audit contrastive curation runs on its clusters.
    * cos(mean_a, mean_b) = Σ(S_a·S_b)/(|S_a||S_b|) — the 1/n
    * factors CANCEL, so the whole gate is exact integer dim-sums
    * (one 64×-bounded explode + (label, dim) aggregate — 640 rows at
    * ANY corpus size) and one mirrored double at the end.
    */
  val qLabelCentroids = GateQuery.sql(
    "q_label_centroids",
    s"""WITH q AS (SELECT label, ${graft.operators.VectorOps.quantizeSql("embedding")} AS q
       |  FROM embeddings),
       |s AS (SELECT label, i.i AS i, CAST(sum(q[i.i]) AS HUGEINT) AS s
       |  FROM q, (SELECT unnest(generate_series(1, $CentroidDims)) AS i) i
       |  GROUP BY 1, 2),
       |nrm AS (SELECT label, CAST(sum(s * s) AS HUGEINT) AS n2 FROM s GROUP BY 1),
       |d AS (SELECT a.label AS l1, b.label AS l2, CAST(sum(a.s * b.s) AS HUGEINT) AS dot
       |  FROM s a JOIN s b ON a.i = b.i AND a.label < b.label GROUP BY 1, 2)
       |SELECT l1, l2,
       |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) + 0.0 AS cos
       |FROM d JOIN nrm na ON d.l1 = na.label JOIN nrm nb ON d.l2 = nb.label
       |ORDER BY l1, l2""".stripMargin) { (s, d) =>
    val q = Tables.embeddings(s, d).select(col("label"),
      graft.expressions.VectorExpressions.quantizeVec(col("embedding")).as("q"))
    val sums = q.select(col("label"), posexplode(col("q")).as(Seq("i0", "v")))
      .groupBy(col("label"), (col("i0") + 1).as("i"))
      .agg(sum(col("v").cast("decimal(38,0)")).cast("decimal(38,0)").as("s"))
    val nrm = sums.groupBy(col("label"))
      .agg(sum(col("s") * col("s")).cast("decimal(38,0)").as("n2"))
    val dots = sums.select(col("label").as("l1"), col("i"), col("s").as("sa"))
      .join(sums.select(col("label").as("l2"), col("i"), col("s").as("sb")), "i")
      .filter(col("l1") < col("l2"))
      .groupBy(col("l1"), col("l2"))
      .agg(sum(col("sa") * col("sb")).cast("decimal(38,0)").as("dot"))
    dots
      .join(broadcast(nrm.select(col("label").as("l1"), col("n2").as("na"))), "l1")
      .join(broadcast(nrm.select(col("label").as("l2"), col("n2").as("nb"))), "l2")
      .select(col("l1"), col("l2"),
        (round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          + lit(0.0)).as("cos"))
      .orderedSmall(col("l1"), col("l2"))
  }

  /** Vocabulary-coverage curve (#279): the smallest top-V vocabulary
    * covering 50/90/99% of corpus token mass — the quantitative
    * basis for every `topV`/`minCount` cap in the LM family
    * (#90/#94/#102: how big must the broadcast model table be to
    * matter?) and for tokenizer vocab sizing (#107). Rank/cum-mass
    * windows run over the VOCAB-bounded count relation, never corpus
    * tokens; output is one exact-integer row.
    */
  val qVocabCoverage = GateQuery.sql(
    "q_vocab_coverage",
    """WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY 1),
      |r AS (SELECT c,
      |    row_number() OVER (ORDER BY c DESC, word) AS rk,
      |    sum(c) OVER (ORDER BY c DESC, word
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER () AS n, count(*) OVER () AS v
      |  FROM wc)
      |SELECT CAST(any_value(n) AS BIGINT) AS n_tokens,
      |  CAST(any_value(v) AS BIGINT) AS n_vocab,
      |  CAST(min(CASE WHEN 100 * cum >= 50 * n THEN rk END) AS BIGINT) AS v50,
      |  CAST(min(CASE WHEN 100 * cum >= 90 * n THEN rk END) AS BIGINT) AS v90,
      |  CAST(min(CASE WHEN 100 * cum >= 99 * n THEN rk END) AS BIGINT) AS v99
      |FROM r""".stripMargin) { (s, d) =>
    val wc = Tables.documents(s, d)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("c"))
    val w = Window.orderBy(col("c").desc, col("word"))
    val r = wc
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("v", count(lit(1)).over(Window.partitionBy()))
    r.agg(
      first(col("n")).cast("long").as("n_tokens"),
      first(col("v")).cast("long").as("n_vocab"),
      min(when(lit(100) * col("cum") >= lit(50) * col("n"), col("rk"))).cast("long").as("v50"),
      min(when(lit(100) * col("cum") >= lit(90) * col("n"), col("rk"))).cast("long").as("v90"),
      min(when(lit(100) * col("cum") >= lit(99) * col("n"), col("rk"))).cast("long").as("v99"))
  }

  private val ConformalSplit = 168L // hours: week 1 calibrates, week 2 tests

  /** Split-conformal prediction interval (#280, Vovk et al. 2005 /
    * Lei et al. 2018): distribution-free uncertainty for the
    * seasonal-naive forecaster — calibrate the 90% quantile of
    * |y_t − y_{t−24}| on week 1, then CHECK the guaranteed coverage
    * on week 2 (the honest out-of-sample audit; ≈ 900000 ppm by the
    * conformal theorem regardless of the series' distribution).
    * Residuals off one ordered window; the calibration quantile runs
    * over the VALUE-COLLAPSED residual grid; coverage is one
    * conditional count against the broadcast per-type quantile.
    */
  val qConformal = GateQuery.sql(
    "q_conformal",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |l AS (SELECT event_type, grid, y,
       |    lag(y, 24) OVER (PARTITION BY event_type ORDER BY grid) AS y24
       |  FROM g),
       |r AS (SELECT event_type, grid, abs(y - y24) AS res FROM l WHERE y24 IS NOT NULL),
       |cal AS (SELECT event_type, res, count(*) AS cnt
       |  FROM r WHERE grid < $ConformalSplit GROUP BY 1, 2),
       |cw AS (SELECT event_type, res,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY res) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM cal),
       |q AS (SELECT event_type, any_value(n) AS n_calib,
       |    min(CASE WHEN 10 * cum >= 9 * n THEN res END) AS q90
       |  FROM cw GROUP BY 1),
       |tst AS (SELECT r.event_type, q.n_calib, q.q90,
       |    count(*) AS n_test,
       |    CAST(sum(CASE WHEN r.res <= q.q90 THEN 1 ELSE 0 END) AS BIGINT) AS covered
       |  FROM r JOIN q ON r.event_type = q.event_type
       |  WHERE r.grid >= $ConformalSplit GROUP BY 1, 2, 3)
       |SELECT event_type, CAST(n_calib AS BIGINT) AS n_calib,
       |  CAST(q90 AS BIGINT) AS q90_resid_cents,
       |  CAST(n_test AS BIGINT) AS n_test,
       |  (covered * 1000000) // n_test AS coverage_ppm
       |FROM tst ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val r = g
      .withColumn("y24", lag(col("y"), 24).over(
        Window.partitionBy(col("event_type")).orderBy(col("grid"))))
      .filter(col("y24").isNotNull)
      .select(col("event_type"), col("grid"), abs(col("y") - col("y24")).as("res"))
    val cal = r.filter(col("grid") < ConformalSplit)
      .groupBy(col("event_type"), col("res")).agg(count(lit(1)).as("cnt"))
    val cw = cal
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("res"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val q = cw.groupBy(col("event_type")).agg(
      first(col("n")).as("n_calib"),
      min(when(lit(10) * col("cum") >= lit(9) * col("n"), col("res"))).as("q90"))
    r.filter(col("grid") >= ConformalSplit)
      .join(broadcast(q), "event_type")
      .groupBy(col("event_type"), col("n_calib"), col("q90"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("res") <= col("q90"), 1L).otherwise(0L)).cast("long").as("covered"))
      .select(col("event_type"), col("n_calib").cast("long").as("n_calib"),
        col("q90").cast("long").as("q90_resid_cents"),
        col("n_test").cast("long").as("n_test"),
        Binning.floorDivCol(col("covered") * lit(1000000L), col("n_test"))
          .as("coverage_ppm"))
      .orderedSmall(col("event_type"))
  }

  /** Cumulative gains / lift table (#281): rank documents by a score
    * (length here, standing in for any quality model) and report,
    * per decile, the cumulative share of positives captured and the
    * lift over random — THE targeting-evaluation artifact next to
    * AUC (#175) and the reliability diagram (#176). Deciles come
    * from the VALUE-HISTOGRAM shape (r12, replacing the corpus-wide
    * rank window — an `Exchange SinglePartition` sorting every
    * document in one task at 10⁹ docs): the corpus collapses to
    * (score, n_docs, n_pos) once, the only single-partition window
    * runs over that value-bounded relation, and each whole score
    * group lands in the decile of its FIRST ranked row (ties share a
    * decile — the q_rfm ties-together convention; a >10%-of-corpus
    * score value leaves skipped deciles empty on both engines).
    * Everything is exact-integer ppm.
    */
  val qGains = GateQuery.sql(
    "q_gains",
    """WITH s AS (SELECT doc_id, n_chars,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
      |pv AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS nd_v,
      |    CAST(sum(pos) AS BIGINT) AS np_v
      |  FROM s GROUP BY 1),
      |cw AS (SELECT nd_v, np_v,
      |    sum(nd_v) OVER (ORDER BY v DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nd_v AS cum_before,
      |    sum(nd_v) OVER () AS n, sum(np_v) OVER () AS tot_pos
      |  FROM pv),
      |d AS (SELECT (cum_before * 10) // n AS decile, any_value(n) AS n,
      |    any_value(tot_pos) AS tot_pos,
      |    CAST(sum(nd_v) AS BIGINT) AS n_docs, CAST(sum(np_v) AS BIGINT) AS n_pos
      |  FROM cw GROUP BY 1),
      |c AS (SELECT decile, n, tot_pos, n_docs, n_pos,
      |    sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
      |    sum(n_docs) OVER (ORDER BY decile) AS cum_docs
      |  FROM d)
      |SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
      |  CAST((cum_pos * 1000000) // tot_pos AS BIGINT) AS cum_share_ppm,
      |  CAST((cum_pos * n * 1000000) // (CAST(tot_pos AS HUGEINT) * cum_docs) AS BIGINT) AS lift_ppm
      |FROM c ORDER BY decile""".stripMargin) { (s, d) =>
    val sdf = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val pv = sdf.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).cast("long").as("nd_v"), sum(col("pos")).cast("long").as("np_v"))
    val wd = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cw = pv
      .withColumn("cum_before", sum(col("nd_v")).over(wd) - col("nd_v"))
      .withColumn("n", sum(col("nd_v")).over(Window.partitionBy()))
      .withColumn("tot_pos", sum(col("np_v")).over(Window.partitionBy()))
    val dd = cw.groupBy(Binning.floorDivCol(col("cum_before") * 10, col("n")).as("decile"))
      .agg(first(col("n")).as("n"), first(col("tot_pos")).as("tot_pos"),
        sum(col("nd_v")).cast("long").as("n_docs"), sum(col("np_v")).cast("long").as("n_pos"))
    val c = dd
      .withColumn("cum_pos", sum(col("n_pos")).over(Window.orderBy(col("decile"))))
      .withColumn("cum_docs", sum(col("n_docs")).over(Window.orderBy(col("decile"))))
    c.select(col("decile").cast("long").as("decile"), col("n_docs"), col("n_pos"),
        Binning.floorDivCol(col("cum_pos") * lit(1000000L), col("tot_pos"))
          .as("cum_share_ppm"),
        Exact.floorDivBig(col("cum_pos").cast("decimal(38,0)") * col("n") * lit(1000000L),
          col("tot_pos").cast("decimal(38,0)") * col("cum_docs")).cast("long")
          .as("lift_ppm"))
      .orderedSmall(col("decile"))
  }

  /** Daily top-k rank churn (#364): how much does the daily "top-10
    * users by spend" leaderboard REORDER from one day to the next?
    * Rank-biased overlap (#353's machinery, p = 9/10) between each
    * consecutive-day pair — the rank-stability audit behind "did the
    * ranking pipeline change or did the world?": near-1 RBO day over
    * day means a stable population, a sudden drop localizes WHEN the
    * mix shifted (the ranking-level companion of PSI #277, which only
    * sees score distributions). All exact: per-day top-10 via
    * day-partitioned ranking windows, pair overlap rows explode to
    * covered depths (≤10), RBO is the same int64 literal-weight sum;
    * day pairs with zero overlap still emit (rbo 0) via the day-grid
    * left join.
    */
  val qRankChurn = GateQuery.sql(
    "q_rank_churn", {
      val w9 = (1 to 10).map(d => s"WHEN $d THEN ${math.pow(9, d - 1).toLong}")
        .mkString(" ")
      val dn = (1 to 10).map(d => s"WHEN $d THEN ${math.pow(10, d).toLong * d}")
        .mkString(" ")
      s"""WITH u AS (SELECT xs // 86400 AS day, user_id,
         |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS spend
         |  FROM $E e GROUP BY 1, 2),
         |t AS (SELECT day, user_id,
         |    CAST(row_number() OVER (PARTITION BY day
         |      ORDER BY spend DESC, user_id) AS BIGINT) AS rk
         |  FROM u QUALIFY rk <= 10),
         |dd AS (SELECT a.day AS day FROM (SELECT DISTINCT day FROM t) a
         |  JOIN (SELECT DISTINCT day FROM t) b ON b.day = a.day + 1),
         |j AS (SELECT l1.day AS day, greatest(l1.rk, l2.rk) AS m
         |  FROM t l1 JOIN t l2 ON l2.day = l1.day + 1 AND l2.user_id = l1.user_id),
         |jd AS (SELECT day, unnest(generate_series(m, 10)) AS d FROM j),
         |ad AS (SELECT day, d, CAST(count(*) AS BIGINT) AS a FROM jd GROUP BY 1, 2),
         |r AS (SELECT day,
         |    CAST(sum((a * (CASE d $w9 END) * 1000000) // (CASE d $dn END)) AS BIGINT)
         |      AS rbo_micro,
         |    CAST(max(CASE WHEN d = 10 THEN a ELSE 0 END) AS BIGINT) AS overlap10
         |  FROM ad GROUP BY 1)
         |SELECT dd.day AS day, coalesce(r.overlap10, 0) AS overlap10,
         |  coalesce(r.rbo_micro, 0) AS rbo_micro
         |FROM dd LEFT JOIN r ON r.day = dd.day
         |ORDER BY day""".stripMargin
    }) { (s, d) =>
    val u = ev(s, d)
      .groupBy(Binning.floorDiv(col("xs"), 86400L).as("day"), col("user_id"))
      .agg(Exact.sumUnits(Exact.cents(col("vd"))).cast("long").as("spend"))
    val t = u.withColumn("rk",
        row_number().over(Window.partitionBy(col("day"))
          .orderBy(col("spend").desc, col("user_id"))).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("day"), col("user_id"), col("rk"))
    val days = t.select(col("day")).distinct()
    val dd = days.as("a").join(days.as("b"), col("b.day") === col("a.day") + 1)
      .select(col("a.day").as("day"))
    val j = t.as("l1").join(t.as("l2"),
        col("l2.day") === col("l1.day") + 1 && col("l2.user_id") === col("l1.user_id"))
      .select(col("l1.day").as("day"), greatest(col("l1.rk"), col("l2.rk")).as("m"))
    val jd = j.select(col("day"), explode(sequence(col("m"), lit(10L))).as("d"))
    def w9C(dc: Column): Column = (1 to 10).foldLeft(lit(0L): Column)((acc, x) =>
      when(dc === x, lit(math.pow(9, x - 1).toLong)).otherwise(acc))
    def dnC(dc: Column): Column = (1 to 10).foldLeft(lit(1L): Column)((acc, x) =>
      when(dc === x, lit(math.pow(10, x).toLong * x)).otherwise(acc))
    val r = jd.groupBy(col("day"), col("d"))
      .agg(count(lit(1)).cast("long").as("a"))
      .groupBy(col("day"))
      .agg(sum(Binning.floorDivCol(col("a") * w9C(col("d")) * lit(1000000L),
          dnC(col("d")))).cast("long").as("rbo_micro"),
        max(when(col("d") === 10, col("a")).otherwise(0L)).cast("long").as("overlap10"))
    dd.join(r, Seq("day"), "left")
      .select(col("day"), coalesce(col("overlap10"), lit(0L)).as("overlap10"),
        coalesce(col("rbo_micro"), lit(0L)).as("rbo_micro"))
      .orderedSmall(col("day"))
  }

  /** Qini / uplift curve (#346): the treatment-effect counterpart of
    * the gains table (#281) — rank users by a targeting score, then
    * at each decile measure INCREMENTAL conversions over control:
    * Q(k) = conv_T(k) − conv_C(k)·N_T(k)/N_C(k) (Radcliffe 2007; the
    * standard uplift-model evaluation — a model that merely finds
    * likely converters, not persuadables, flatlines here while its
    * gains curve looks great). Treatment = assignment parity
    * (user_id%2, the #230/#296 arm derivation), outcome = converted,
    * score = view-activity proxy. Shape: users collapse ONCE (the
    * only corpus-scale shuffle), then the VALUE-HISTOGRAM decile
    * derivation (r12, replacing the corpus-wide rank window — a
    * single-task sort of every user at 10⁹ users): per-arm counts
    * collapse to the (score)-bounded relation, the only
    * single-partition window runs over that, and each whole score
    * group lands in the decile of its first ranked row (ties share a
    * decile, the q_rfm/q_gains convention); Q is an exact milli
    * floor division of cumulative integer counts per decile row.
    */
  val qQini = GateQuery.sql(
    "q_qini",
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
       |    CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS score
       |  FROM $E e GROUP BY user_id),
       |r0 AS (SELECT user_id % 2 AS tr, conv, score FROM u),
       |pv AS (SELECT score AS v, CAST(count(*) AS BIGINT) AS nv,
       |    CAST(count(*) FILTER (tr = 1) AS BIGINT) AS nt_v,
       |    CAST(count(*) FILTER (tr = 0) AS BIGINT) AS nc_v,
       |    CAST(sum(conv) FILTER (tr = 1) AS BIGINT) AS xt_v,
       |    CAST(sum(conv) FILTER (tr = 0) AS BIGINT) AS xc_v
       |  FROM r0 GROUP BY 1),
       |cw AS (SELECT nt_v, nc_v, xt_v, xc_v,
       |    sum(nv) OVER (ORDER BY v DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nv AS cum_before,
       |    sum(nv) OVER () AS n
       |  FROM pv),
       |d AS (SELECT (cum_before * 10) // n AS decile,
       |    CAST(sum(nt_v) AS BIGINT) AS n_t,
       |    CAST(sum(nc_v) AS BIGINT) AS n_c,
       |    CAST(sum(xt_v) AS BIGINT) AS x_t,
       |    CAST(sum(xc_v) AS BIGINT) AS x_c
       |  FROM cw GROUP BY 1),
       |c AS (SELECT decile, n_t, n_c, x_t, x_c,
       |    CAST(sum(n_t) OVER (ORDER BY decile) AS BIGINT) AS cn_t,
       |    CAST(sum(n_c) OVER (ORDER BY decile) AS BIGINT) AS cn_c,
       |    CAST(sum(x_t) OVER (ORDER BY decile) AS BIGINT) AS cx_t,
       |    CAST(sum(x_c) OVER (ORDER BY decile) AS BIGINT) AS cx_c
       |  FROM d)
       |SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c, x_t, x_c,
       |  cn_t, cn_c, cx_t, cx_c,
       |  CASE WHEN cn_c = 0 THEN NULL
       |    ELSE cx_t * 1000 - (cx_c * cn_t * 1000) // cn_c
       |  END AS qini_milli
       |FROM c ORDER BY decile""".stripMargin) { (s, d) =>
    val u = ev(s, d).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"),
        count(when(col("event_type") === "view", 1)).cast("long").as("score"))
    val r0 = u.select(pmod(col("user_id"), lit(2L)).as("tr"), col("conv"), col("score"))
    val pv = r0.groupBy(col("score").as("v"))
      .agg(count(lit(1)).cast("long").as("nv"),
        count(when(col("tr") === 1, 1)).cast("long").as("nt_v"),
        count(when(col("tr") === 0, 1)).cast("long").as("nc_v"),
        sum(when(col("tr") === 1, col("conv")).otherwise(0L)).cast("long").as("xt_v"),
        sum(when(col("tr") === 0, col("conv")).otherwise(0L)).cast("long").as("xc_v"))
    val wd = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cw = pv
      .withColumn("cum_before", sum(col("nv")).over(wd) - col("nv"))
      .withColumn("n", sum(col("nv")).over(Window.partitionBy()))
    val dd = cw.groupBy(Binning.floorDivCol(col("cum_before") * 10, col("n")).as("decile"))
      .agg(sum(col("nt_v")).cast("long").as("n_t"),
        sum(col("nc_v")).cast("long").as("n_c"),
        sum(col("xt_v")).cast("long").as("x_t"),
        sum(col("xc_v")).cast("long").as("x_c"))
    val wc = Window.orderBy(col("decile"))
    val c = dd
      .withColumn("cn_t", sum(col("n_t")).over(wc).cast("long"))
      .withColumn("cn_c", sum(col("n_c")).over(wc).cast("long"))
      .withColumn("cx_t", sum(col("x_t")).over(wc).cast("long"))
      .withColumn("cx_c", sum(col("x_c")).over(wc).cast("long"))
    c.select(col("decile").cast("long").as("decile"),
        col("n_t"), col("n_c"), col("x_t"), col("x_c"),
        col("cn_t"), col("cn_c"), col("cx_t"), col("cx_c"),
        when(col("cn_c") === 0, lit(null).cast("long"))
          .otherwise(col("cx_t") * lit(1000L) -
            Binning.floorDivCol(col("cx_c") * col("cn_t") * lit(1000L), col("cn_c")))
          .as("qini_milli"))
      .orderedSmall(col("decile"))
  }

  /** Maximum drawdown (#284): per user cohort, the deepest
    * peak-to-trough fall of the cumulative event-value series — the
    * classic risk statistic (and, on monitoring counters, the
    * worst-regression measure). Running sum + running max share ONE
    * (ts, event_id)-ordered window partition; the argmax event pins
    * to the earliest id via min(when); everything exact cents.
    */
  val qDrawdown = GateQuery.sql(
    "q_drawdown",
    s"""WITH e AS (SELECT user_id % 8 AS g, ts_us, event_id,
       |    ${centsSql("vd")} AS c FROM $E t),
       |cu AS (SELECT g, ts_us, event_id,
       |    sum(c) OVER (PARTITION BY g ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM e),
       |w AS (SELECT g, event_id, cum,
       |    max(cum) OVER (PARTITION BY g ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM cu),
       |dd AS (SELECT g, event_id, peak - cum AS dd,
       |    max(peak - cum) OVER (PARTITION BY g) AS max_dd,
       |    count(*) OVER (PARTITION BY g) AS n
       |  FROM w)
       |SELECT g, CAST(any_value(n) AS BIGINT) AS n_events,
       |  CAST(any_value(max_dd) AS BIGINT) AS max_drawdown_cents,
       |  CAST(min(CASE WHEN dd = max_dd THEN event_id END) AS BIGINT) AS at_event_id
       |FROM dd GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(pmod(col("user_id"), lit(8L)).as("g"),
      col("ts_us"), col("event_id"), Exact.cents(col("vd")).as("c"))
    val wo = Window.partitionBy(col("g")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w = e
      .withColumn("cum", sum(col("c")).over(wo))
      .withColumn("peak", max(col("cum")).over(wo))
    val dd = w.select(col("g"), col("event_id"), (col("peak") - col("cum")).as("dd"))
      .withColumn("max_dd", max(col("dd")).over(Window.partitionBy(col("g"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
    dd.groupBy(col("g")).agg(
        first(col("n")).cast("long").as("n_events"),
        first(col("max_dd")).cast("long").as("max_drawdown_cents"),
        min(when(col("dd") === col("max_dd"), col("event_id"))).cast("long")
          .as("at_event_id"))
      .orderedSmall(col("g"))
  }

  /** Fano factor / index of dispersion (#285): per event type,
    * variance-to-mean of the HOURLY arrival counts — the burstiness
    * audit (≈ 1e6 ppm Poisson, ≫ 1e6 bursty, ≪ 1e6 regular; Fano
    * 1947). One bounded hourly aggregate; the ratio is one exact ppm
    * floor division of integer sums: (k·Σc² − (Σc)²)/(k·Σc).
    */
  val qFano = GateQuery.sql(
    "q_fano",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM $E e GROUP BY 1, 2),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(c) AS BIGINT) AS s,
       |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
       |  FROM g GROUP BY 1)
       |SELECT event_type, k AS n_hours, s AS n_events,
       |  CASE WHEN s > 0 THEN
       |    CAST(((k * q - CAST(s AS HUGEINT) * s) * 1000000)
       |      // (CAST(k AS HUGEINT) * s) AS BIGINT) END AS fano_ppm
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCountGrid(s, d)
    val a = g.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("k"), sum(col("c")).cast("long").as("s"),
      sum(col("c").cast("decimal(38,0)") * col("c")).cast("decimal(38,0)").as("q"))
    a.select(col("event_type"), col("k").as("n_hours"), col("s").as("n_events"),
        when(col("s") > 0,
          Exact.floorDivBig(
            (col("k").cast("decimal(38,0)") * col("q") -
              col("s").cast("decimal(38,0)") * col("s")) * lit(1000000L),
            col("k").cast("decimal(38,0)") * col("s")).cast("long")).as("fano_ppm"))
      .orderedSmall(col("event_type"))
  }

  /** Burst-episode extraction (#286): per event type, maximal runs of
    * consecutive hours whose count exceeds mean + 2σ (the exact
    * integer predicate (k·c − S)² > 4(kQ − S²) ∧ k·c > S — no float
    * σ), merged gaps-and-islands style — the Kleinberg-flavored
    * burst surface on top of the dispersion audit (#285). Stats ride
    * a 1-row broadcast; episodes form with one ordered window over
    * the BURSTY-HOUR slice only.
    */
  val qBurstEpisodes = GateQuery.sql(
    "q_burst_episodes",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM $E e GROUP BY 1, 2),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(c) AS BIGINT) AS s,
       |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
       |  FROM g GROUP BY 1),
       |b AS (SELECT g.event_type, g.grid FROM g JOIN a USING (event_type)
       |  WHERE CAST(a.k AS HUGEINT) * g.c > a.s
       |    AND (CAST(a.k AS HUGEINT) * g.c - a.s) * (CAST(a.k AS HUGEINT) * g.c - a.s)
       |      > 4 * (a.k * q - CAST(a.s AS HUGEINT) * a.s)),
       |ep AS (SELECT event_type,
       |    grid - row_number() OVER (PARTITION BY event_type ORDER BY grid) AS island
       |  FROM b),
       |runs AS (SELECT event_type, island, CAST(count(*) AS BIGINT) AS len
       |  FROM ep GROUP BY 1, 2)
       |SELECT a.event_type AS event_type,
       |  coalesce(CAST(sum(len) AS BIGINT), 0) AS n_burst_hours,
       |  coalesce(CAST(count(runs.island) AS BIGINT), 0) AS n_episodes,
       |  coalesce(CAST(max(len) AS BIGINT), 0) AS longest_episode
       |FROM a LEFT JOIN runs ON a.event_type = runs.event_type
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCountGrid(s, d)
    val a = g.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("k"), sum(col("c")).cast("long").as("s"),
      sum(col("c").cast("decimal(38,0)") * col("c")).cast("decimal(38,0)").as("q"))
    val dev = col("k").cast("decimal(38,0)") * col("c") - col("s")
    val bursty = g.join(broadcast(a), "event_type")
      .filter(col("k").cast("decimal(38,0)") * col("c") > col("s") &&
        dev * dev > lit(4) * (col("k") * col("q") - col("s").cast("decimal(38,0)") * col("s")))
      .select(col("event_type"), col("grid"))
    val ep = bursty.withColumn("island",
      col("grid") - row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("grid"))))
    val runs = ep.groupBy(col("event_type"), col("island"))
      .agg(count(lit(1)).cast("long").as("len"))
    a.select(col("event_type")).join(runs, Seq("event_type"), "left")
      .groupBy(col("event_type"))
      .agg(coalesce(sum(col("len")), lit(0L)).cast("long").as("n_burst_hours"),
        count(col("island")).cast("long").as("n_episodes"),
        coalesce(max(col("len")), lit(0L)).cast("long").as("longest_episode"))
      .orderedSmall(col("event_type"))
  }

  /** Wald–Wolfowitz runs test (#287): is the hourly series random
    * around its median, or does it trend/oscillate? Runs of
    * above/below the LO-MEDIAN (ties → below, pinned convention)
    * counted with one lag window; E[R] = 1 + 2n₁n₂/n and its
    * variance give the normal z — the classical randomness audit
    * next to ACF (#181) and Mann–Kendall (#250). Counts exact; z one
    * mirrored double.
    */
  val qRunsTest = GateQuery.sql(
    "q_runs_test",
    s"""WITH g AS (SELECT event_type, xs // 3600 AS grid,
       |    CAST(sum(${centsSql("vd")}) AS BIGINT) AS y
       |  FROM $E e GROUP BY 1, 2),
       |v AS (SELECT event_type, y, count(*) AS cnt FROM g GROUP BY 1, 2),
       |w AS (SELECT event_type, y, cnt,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY y) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM v),
       |med AS (SELECT event_type, min(y) AS med FROM w WHERE 2 * cum >= n GROUP BY 1),
       |b AS (SELECT g.event_type, g.grid,
       |    CASE WHEN g.y > med.med THEN 1 ELSE 0 END AS up
       |  FROM g JOIN med USING (event_type)),
       |r AS (SELECT event_type, up,
       |    CASE WHEN lag(up) OVER (PARTITION BY event_type ORDER BY grid) IS NULL
       |      OR lag(up) OVER (PARTITION BY event_type ORDER BY grid) <> up
       |      THEN 1 ELSE 0 END AS brk
       |  FROM b),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(up) AS BIGINT) AS n1,
       |    CAST(count(*) - sum(up) AS BIGINT) AS n2,
       |    CAST(sum(brk) AS BIGINT) AS runs
       |  FROM r GROUP BY 1)
       |SELECT event_type, n, n1, n2, runs,
       |  CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
       |    round((runs - (1.0 + 2.0 * n1 * n2 / n))
       |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (1.0 * n * n * (n - 1))), 4) + 0.0
       |  END AS z_stat
       |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val g = graft.SharedRelations.hourlyCentsGrid(s, d)
    val v = g.groupBy(col("event_type"), col("y")).agg(count(lit(1)).as("cnt"))
    val w = v
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("y"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val med = w.filter(lit(2) * col("cum") >= col("n"))
      .groupBy(col("event_type")).agg(min(col("y")).as("med"))
    val b = g.join(broadcast(med), "event_type")
      .select(col("event_type"), col("grid"),
        when(col("y") > col("med"), 1L).otherwise(0L).as("up"))
    val lagUp = lag(col("up"), 1).over(
      Window.partitionBy(col("event_type")).orderBy(col("grid")))
    val r = b.withColumn("brk",
      when(lagUp.isNull || lagUp =!= col("up"), 1L).otherwise(0L))
    val a = r.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("up")).cast("long").as("n1"),
      (count(lit(1)) - sum(col("up"))).cast("long").as("n2"),
      sum(col("brk")).cast("long").as("runs"))
    a.select(col("event_type"), col("n"), col("n1"), col("n2"), col("runs"),
        when(col("n1") > 0 && col("n2") > 0 && col("n") > 1,
          round((col("runs") - (lit(1.0) + lit(2.0) * col("n1") * col("n2") / col("n")))
            / sqrt(lit(2.0) * col("n1") * col("n2") *
              (lit(2.0) * col("n1") * col("n2") - col("n")) /
              (lit(1.0) * col("n") * col("n") * (col("n") - 1))), 4) + lit(0.0))
          .as("z_stat"))
      .orderedSmall(col("event_type"))
  }

  /** ABC / Pareto revenue classification (#288): parts ranked by
    * exact revenue cents, classed A (cumulative share ≤ 80%), B
    * (≤ 95%), C (rest) — the inventory-management classic and the
    * business twin of the gains table (#281) / vocabulary curve
    * (#279). One rank window over the part-bounded revenue relation;
    * class assignment via exact integer share predicates.
    */
  val qAbc = GateQuery.sql(
    "q_abc",
    s"""WITH rev AS (SELECT l_partkey AS p,
       |    CAST(sum(${centsSql("CAST(l_extendedprice AS DECIMAL(18,2))")}) AS BIGINT) AS r
       |  FROM lineitem GROUP BY 1),
       |rk AS (SELECT p, r,
       |    sum(r) OVER (ORDER BY r DESC, p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(r) OVER () AS tot
       |  FROM rev),
       |cl AS (SELECT p, r,
       |    CASE WHEN 100 * cum <= 80 * tot THEN 'A'
       |      WHEN 100 * cum <= 95 * tot THEN 'B' ELSE 'C' END AS cls,
       |    tot FROM rk)
       |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
       |  CAST(sum(r) AS BIGINT) AS revenue_cents,
       |  CAST((sum(r) * 1000000) // any_value(tot) AS BIGINT) AS share_ppm
       |FROM cl GROUP BY cls ORDER BY cls""".stripMargin) { (s, d) =>
    val rev = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("p"))
      .agg(Exact.sumUnits(Exact.cents(col("l_extendedprice").cast("decimal(18,2)")))
        .cast("long").as("r"))
    val w = Window.orderBy(col("r").desc, col("p"))
    val rk = rev
      .withColumn("cum", sum(col("r")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("r")).over(Window.partitionBy()))
    val cl = rk.select(col("p"), col("r"), col("tot"),
      when(lit(100) * col("cum") <= lit(80) * col("tot"), "A")
        .when(lit(100) * col("cum") <= lit(95) * col("tot"), "B")
        .otherwise("C").as("cls"))
    cl.groupBy(col("cls")).agg(
        count(lit(1)).cast("long").as("n_parts"),
        sum(col("r")).cast("long").as("revenue_cents"),
        Binning.floorDivCol(sum(col("r")).cast("long") * lit(1000000L),
          first(col("tot"))).as("share_ppm"))
      .orderedSmall(col("cls"))
  }

  /** Growth-accounting decomposition (#290): per day, the active
    * user count split into new (first-ever day), retained (also
    * active yesterday), resurrected (active before, but not
    * yesterday), plus churned (active yesterday, absent today) — the
    * standard product-growth identity
    * (active_d = new + retained + resurrected;
    * churned_d = active_{d−1} − retained_d). One (user, day)
    * distinct relation, one user-ordered lag window, one day
    * aggregate — all exact integers over the bounded day grid.
    */
  val qGrowthAcct = GateQuery.sql(
    "q_growth_acct",
    s"""WITH ud AS (SELECT DISTINCT user_id, xs // 86400 AS day FROM $E e),
       |w AS (SELECT user_id, day,
       |    min(day) OVER (PARTITION BY user_id) AS first_day,
       |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
       |  FROM ud),
       |cls AS (SELECT day,
       |    CASE WHEN day = first_day THEN 1 ELSE 0 END AS is_new,
       |    CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END AS is_ret,
       |    CASE WHEN day <> first_day AND (prev_day IS NULL OR prev_day < day - 1)
       |      THEN 1 ELSE 0 END AS is_res
       |  FROM w),
       |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active,
       |    CAST(sum(is_new) AS BIGINT) AS n_new,
       |    CAST(sum(is_ret) AS BIGINT) AS n_retained,
       |    CAST(sum(is_res) AS BIGINT) AS n_resurrected
       |  FROM cls GROUP BY 1)
       |SELECT CAST(day AS BIGINT) AS day, n_active, n_new, n_retained, n_resurrected,
       |  coalesce(lag(n_active) OVER (ORDER BY day), 0) - n_retained AS n_churned
       |FROM d ORDER BY day""".stripMargin) { (s, d) =>
    val ud = ev(s, d)
      .select(col("user_id"), Binning.floorDiv(col("xs"), 86400L).as("day")).distinct()
    val w = ud
      .withColumn("first_day", min(col("day")).over(Window.partitionBy(col("user_id"))))
      .withColumn("prev_day", lag(col("day"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("day"))))
    val cls = w.select(col("day"),
      when(col("day") === col("first_day"), 1L).otherwise(0L).as("is_new"),
      when(col("prev_day") === col("day") - 1, 1L).otherwise(0L).as("is_ret"),
      when(col("day") =!= col("first_day") &&
        (col("prev_day").isNull || col("prev_day") < col("day") - 1), 1L)
        .otherwise(0L).as("is_res"))
    val dd = cls.groupBy(col("day")).agg(
      count(lit(1)).cast("long").as("n_active"),
      sum(col("is_new")).cast("long").as("n_new"),
      sum(col("is_ret")).cast("long").as("n_retained"),
      sum(col("is_res")).cast("long").as("n_resurrected"))
    dd.withColumn("n_churned",
        coalesce(lag(col("n_active"), 1).over(Window.orderBy(col("day"))), lit(0L))
          - col("n_retained"))
      .select(col("day").cast("long").as("day"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
      .orderedSmall(col("day"))
  }

  /** Tukey-HSD pairwise comparisons (#291): after the one-way ANOVA
    * (#211) says "some cohort differs", WHICH pairs differ — the
    * studentized-range statistic q = (m_i − m_j)/√(MSE/2·(1/n_i +
    * 1/n_j)) for all 28 cohort pairs. Per-cohort (n, S, Q) exact in
    * one aggregate; MSE = exact micro within-variance; pairs form on
    * the 8-row stats relation (broadcast self-join), q one mirrored
    * double per pair.
    */
  val qTukey = GateQuery.sql(
    "q_tukey",
    s"""WITH e AS (SELECT user_id % 8 AS g, ${centsSql("vd")} AS c
       |  FROM $E t WHERE event_type IN ('click', 'view', 'purchase')),
       |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
       |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q FROM e GROUP BY g),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
       |    CAST(sum(q) AS HUGEINT) AS qq,
       |    CAST(sum((CAST(s AS HUGEINT) * s * 1000000) // n) AS HUGEINT) AS a_scaled
       |  FROM a),
       |mse AS (SELECT CAST(qq * 1000000 - a_scaled AS DOUBLE) / 1000000.0 / (nn - k) AS mse
       |  FROM t)
       |SELECT x.g AS g1, y.g AS g2, x.n AS n1, y.n AS n2,
       |  round(CAST(x.s AS DOUBLE) / x.n - CAST(y.s AS DOUBLE) / y.n, 4) + 0.0 AS mean_diff,
       |  CASE WHEN mse > 0 THEN
       |    round((CAST(x.s AS DOUBLE) / x.n - CAST(y.s AS DOUBLE) / y.n)
       |      / sqrt(mse / 2 * (1.0 / x.n + 1.0 / y.n)), 4) + 0.0 END AS q_stat
       |FROM a x JOIN a y ON x.g < y.g, mse
       |ORDER BY g1, g2""".stripMargin) { (s, d) =>
    val e = ev(s, d).filter(col("event_type").isin("click", "view", "purchase"))
      .select(pmod(col("user_id"), lit(8L)).as("g"), Exact.cents(col("vd")).as("c"))
    val a = e.groupBy(col("g")).agg(
      count(lit(1)).cast("long").as("n"), sum(col("c")).cast("long").as("s"),
      sum(col("c").cast("decimal(38,0)") * col("c")).cast("decimal(38,0)").as("q"))
      .persist() // 8 rows; read by the totals, both pair sides
    val t = a.agg(
      count(lit(1)).cast("long").as("k"), sum(col("n")).cast("long").as("nn"),
      sum(col("q")).cast("decimal(38,0)").as("qq"),
      sum(Exact.floorDivBig(col("s").cast("decimal(38,0)") * col("s") * lit(1000000L),
        col("n"))).cast("decimal(38,0)").as("a_scaled"))
    val mseRow = t.select(((col("qq") * lit(1000000L) - col("a_scaled")).cast("double")
      / lit(1000000.0) / (col("nn") - col("k"))).as("mse")).head()
    val mse = mseRow.getDouble(0)
    val x = a.select(col("g").as("g1"), col("n").as("n1"), col("s").as("s1"))
    val y = a.select(col("g").as("g2"), col("n").as("n2"), col("s").as("s2"))
    val diff = col("s1").cast("double") / col("n1") - col("s2").cast("double") / col("n2")
    x.join(broadcast(y), col("g1") < col("g2"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        (round(diff, 4) + lit(0.0)).as("mean_diff"),
        (if (mse > 0)
          round(diff / sqrt(lit(mse) / 2 * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 4)
            + lit(0.0)
        else lit(null).cast("double")).as("q_stat"))
      .orderedSmall(col("g1"), col("g2"))
  }

  /** Cohort LTV curves (#292): per signup-week cohort and weeks-
    * since-signup, cumulative revenue per cohort member — the
    * lifetime-value view the retention matrix (#126) lacks (it
    * counts heads, this follows money). Signup = first active week
    * (one window); revenue exact cents; cumulative per cohort over
    * the bounded week grid; per-member LTV a HALF_UP integer ratio.
    */
  val qCohortLtv = GateQuery.sql(
    "q_cohort_ltv",
    s"""WITH e AS (SELECT user_id, xs // 604800 AS week, ${centsSql("vd")} AS c
       |  FROM $E t),
       |u AS (SELECT user_id, week, c,
       |    min(week) OVER (PARTITION BY user_id) AS cohort
       |  FROM e),
       |cs AS (SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |  FROM u GROUP BY 1),
       |r AS (SELECT cohort, week - cohort AS age,
       |    CAST(sum(c) AS BIGINT) AS rev FROM u GROUP BY 1, 2),
       |cum AS (SELECT cohort, age, rev,
       |    CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age) AS BIGINT) AS cum_rev
       |  FROM r)
       |SELECT CAST(cum.cohort AS BIGINT) AS cohort, CAST(age AS BIGINT) AS age,
       |  cs.n_users, rev AS rev_cents,
       |  (2 * cum_rev + cs.n_users) // (2 * cs.n_users) AS ltv_cents
       |FROM cum JOIN cs ON cum.cohort = cs.cohort
       |ORDER BY cohort, age""".stripMargin) { (s, d) =>
    val e = ev(s, d).select(col("user_id"),
      Binning.floorDiv(col("xs"), 604800L).as("week"), Exact.cents(col("vd")).as("c"))
    val u = e.withColumn("cohort", min(col("week")).over(
      Window.partitionBy(col("user_id"))))
    val cs = u.groupBy(col("cohort"))
      .agg(countDistinct(col("user_id")).cast("long").as("n_users"))
    val r = u.groupBy(col("cohort"), (col("week") - col("cohort")).as("age"))
      .agg(sum(col("c")).cast("long").as("rev"))
    val cum = r.withColumn("cum_rev",
      sum(col("rev")).over(Window.partitionBy(col("cohort")).orderBy(col("age")))
        .cast("long"))
    cum.join(broadcast(cs), "cohort")
      .select(col("cohort").cast("long").as("cohort"), col("age").cast("long").as("age"),
        col("n_users"), col("rev").as("rev_cents"),
        Binning.floorDivCol(lit(2L) * col("cum_rev") + col("n_users"),
          lit(2L) * col("n_users")).as("ltv_cents"))
      .orderedSmall(col("cohort"), col("age"))
  }

  private val EssCapMicro = 10000000L // clamp ln w at ±10 nats

  /** Importance-weight effective sample size (#293): ESS =
    * (Σw)²/Σw² over the DSIR weights (#91) — the reweighting health
    * metric (Kong 1992): ESS/n → 1 means the target changed nothing,
    * → 0 means a few documents dominate and the resample will
    * collapse. Each w = exp(clamp(lnw)) is micro-floored per row
    * BEFORE the sums (order-independent exact integers; the ±10-nat
    * clamp bounds w at e¹⁰ so Σw² stays in decimal(38) at any corpus
    * size — clamping is standard ESS practice for exactly this
    * reason); the final ratio is one mirrored double.
    */
  val qEss = GateQuery.sql(
    "q_ess", {
      val bkts = 4096
      val wSql = "CAST(floor(exp(" +
        s"least(greatest(w_micro, -$EssCapMicro), $EssCapMicro) / 1000000.0" +
        ") * 1000000) AS BIGINT)"
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |bg AS (SELECT doc_id, lang, unnest(${graft.operators.Curation.bigramBucketsSql(bkts)}) AS b
         |  FROM toks),
         |cb AS (SELECT b, count(*) AS cr,
         |    count(*) FILTER (lang = 'en') AS ct FROM bg GROUP BY b),
         |st AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM cb),
         |lr AS (SELECT b, CAST(floor((ln((ct + 1.0) / (nt + $bkts))
         |      - ln((cr + 1.0) / (nr + $bkts))) * 1000000) AS BIGINT) AS q
         |  FROM cb, st),
         |dw AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS w_micro
         |  FROM bg JOIN lr USING (b) GROUP BY doc_id),
         |ws AS (SELECT doc_id, $wSql AS w FROM dw),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(w) AS HUGEINT) AS sw,
         |    CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sw2 FROM ws)
         |SELECT n AS n_docs,
         |  round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 3) + 0.0 AS ess,
         |  CAST((CAST(sw AS HUGEINT) * sw * 1000000) // (sw2 * n) AS BIGINT) AS ess_over_n_ppm
         |FROM a""".stripMargin
    }) { (s, d) =>
    val bkts = 4096
    val dw = Curation.dsirWeights(Tables.documents(s, d), bkts)
    val w = dw.select(
      floor(exp(least(greatest(col("w_micro"), lit(-EssCapMicro)), lit(EssCapMicro))
        / lit(1000000.0)) * lit(1000000)).cast("long").as("w"))
    val a = w.agg(count(lit(1)).cast("long").as("n"),
      sum(col("w")).cast("decimal(38,0)").as("sw"),
      sum(col("w").cast("decimal(38,0)") * col("w")).cast("decimal(38,0)").as("sw2"))
    a.select(col("n").as("n_docs"),
      (round(col("sw").cast("double") * col("sw").cast("double")
        / col("sw2").cast("double"), 3) + lit(0.0)).as("ess"),
      Exact.floorDivBig(col("sw") * col("sw") * lit(1000000L),
        col("sw2") * col("n")).cast("long").as("ess_over_n_ppm"))
  }

  val all: Seq[GateQuery] = Seq(qItemCf, qForecastAcc, qKanon, qRefIntegrity,
    qSkewAudit, qPsi, qLabelCentroids, qVocabCoverage, qConformal, qGains, qQini, qRankChurn,
    qDrawdown, qFano, qBurstEpisodes, qRunsTest, qAbc, qGrowthAcct, qTukey,
    qCohortLtv, qEss, qDieboldMariano, qTheilU2)
}
