package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Exact, Relational, VectorOps}
import graft.operators.Exact.dec
import graft.operators.VectorOps._

/** Embedding similarity + array gate queries (SURVEY.md §2 #18–#20,
  * #25–#27) over the `embeddings` table (64-dim float vectors).
  *
  * All vector math is exact fixed-point (see [[VectorOps]]); the only
  * doubles are final cosine/scaling expressions over exact ints with
  * oracle-identical trees — so every value hash-matches DuckDB.
  *
  * The array operators (#18–#20) are the Spark re-expression of
  * pyspec's CCD pipeline: dark-image subtraction, ROI reduction and
  * the per-row UB-matrix transform (angles → HKL), treating the
  * embedding column as the detector array.
  */
object EmbeddingQueries {

  private val Dims = 64
  private val Tables4 = 4 // LSH tables
  private val Planes4 = 4 // hyperplanes per table
  private val HubQueryCount = 200 // q_hubness fixed-count query sample

  /** Spark prep: (vec_id, q, n) with quantized vector + exact norm
    * (native expressions — value-identical to the VectorOps HOFs). */
  private def prep(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.expressions.VectorExpressions.quantizeVec(col("embedding")).as("q"))
      .select(col("vec_id"), col("q"),
        graft.expressions.VectorExpressions.normQ(col("q")).as("n"))

  /** DuckDB prep mirror of [[prep]]. */
  private val PrepSql =
    s"""e AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
       |en AS (SELECT vec_id, q, ${normQSql("q")} AS n FROM e)""".stripMargin

  val qKnnBruteForce = GateQuery.sql(
    "q_knn_bruteforce",
    s"""WITH $PrepSql,
       |qs AS (SELECT vec_id AS query_id, q AS qq, n AS nq FROM en WHERE vec_id < 10),
       |p AS (SELECT query_id, c.vec_id AS vec_id,
       |    ${cosineQSql(dotQSql("qq", "c.q"), "nq", "c.n")} AS c
       |  FROM qs, en c WHERE c.vec_id <> query_id)
       |SELECT query_id, vec_id, round(c, 6) + 0.0 AS cos,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rnk
       |FROM p QUALIFY rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val e = prep(s, d)
    val qs = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq")))
    val scored = e.crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")), col("nq"), col("n")).as("_c"))
    Relational.topKPerGroupSalted(scored, Seq(col("query_id")),
        Seq(col("_c").desc, col("vec_id")), 5, col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (round(col("_c"), 6) + lit(0.0)).as("cos"), col("rnk"))
      .orderedSmall(col("query_id"), col("rnk"))
  }

  /** (vec_id, tbl, bkt) relation: one row per LSH table per vector.
    * All table buckets come from one native-expression pass. */
  private def bucketRel(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        posexplode(graft.expressions.VectorExpressions.lshBuckets(
          col("q"), Tables4, Planes4, Dims)).as(Seq("tbl", "bkt")))
      .select(col("vec_id"), col("tbl").cast("int").as("tbl"), col("bkt"))

  /** [[bucketRel]] with the vector payload carried through the
    * explode — the join-free layout for plans that score candidates
    * in place. */
  private def bucketRelWithPayload(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("q"), col("n"),
        posexplode(graft.expressions.VectorExpressions.lshBuckets(
          col("q"), Tables4, Planes4, Dims)).as(Seq("tbl", "bkt")))
      .select(col("vec_id"), col("q"), col("n"),
        col("tbl").cast("int").as("tbl"), col("bkt"))

  /** DuckDB mirror of [[bucketRel]] (UNION ALL over tables). */
  private val BucketRelSql = (0 until Tables4).map { t =>
    s"SELECT vec_id, $t AS tbl, ${lshBucketSql("q", t, Planes4, Dims)} AS bkt FROM en"
  }.mkString("bk AS (", " UNION ALL ", ")")

  /** Payload-attach layout, chosen by SIZE instead of by editing the
    * query: when the vector table's optimizer estimate fits the
    * session's `autoBroadcastJoinThreshold`, the bucket relation
    * joins back to the (broadcast) vector table — measured faster at
    * bench scale than carrying arrays through the explode. Past the
    * threshold (or with broadcasting disabled), vectors travel WITH
    * their buckets ([[bucketRelWithPayload]]): the only shuffle is
    * (tbl, bkt) and the corpus is never joined — the 100 TB shape.
    * Both layouts produce identical (vec_id, q, n, tbl, bkt) rows, so
    * the switch can never change results, only the plan.
    */
  private[queries] def bucketRelAuto(e: DataFrame): DataFrame = {
    val thresh = e.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val vecBytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thresh > 0 && vecBytes <= BigInt(thresh)) bucketRel(e).join(e, Seq("vec_id"))
    else bucketRelWithPayload(e)
  }

  /** ANN hubness audit (#428, r10, Radovanović et al. 2010): the
    * k-occurrence distribution — how often each vector appears in
    * OTHER vectors' top-5 neighbor lists — over a deterministic
    * FIXED-COUNT query sample: the [[HubQueryCount]] vectors with the
    * smallest portable md5 draw (ties by vec_id). High-dimensional
    * embedding spaces grow HUBS (a few points in everyone's neighbor
    * list) and anti-hubs (never retrieved); positive k-occurrence
    * skewness is THE diagnostic that nearest-neighbor semantics are
    * degrading and an ANN index (#27/#38) will concentrate load.
    * Output: the top-10 hubs with the corpus-wide skewness
    * g₁ = m₃/m₂^{3/2} repeated as a scalar (exact integer moment
    * sums over ALL vectors including zero-occurrence ones; one
    * mirrored double). The query×corpus pass is the
    * q_knn_bruteforce broadcast shape — and because the sample is
    * fixed-COUNT (not fixed-fraction, the r10 shape), the broadcast
    * side stays O(k) and the scoring pass stays linear in the corpus
    * at any scale: a 100× corpus grows only the probe side.
    */
  val qHubness = GateQuery.sql(
    "q_hubness",
    s"""WITH $PrepSql,
       |qs AS (SELECT vec_id AS query_id, q AS qq, n AS nq FROM en
       |  WHERE vec_id IN (SELECT vec_id FROM en
       |    ORDER BY ${graft.operators.TextOps.baseHashSql(
                 "'hub:' || CAST(vec_id AS VARCHAR)")}, vec_id
       |    LIMIT $HubQueryCount)),
       |p AS (SELECT query_id, c.vec_id,
       |    ${cosineQSql(dotQSql("qq", "c.q"), "nq", "c.n")} AS c
       |  FROM en c CROSS JOIN qs WHERE c.vec_id <> qs.query_id),
       |top AS (SELECT query_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, vec_id) AS rn FROM p) WHERE rn <= 5),
       |occ AS (SELECT en.vec_id, CAST(count(top.query_id) AS BIGINT) AS o
       |  FROM en LEFT JOIN top ON en.vec_id = top.vec_id GROUP BY en.vec_id),
       |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(o) AS HUGEINT) AS s1,
       |    CAST(sum(CAST(o AS HUGEINT) * o) AS HUGEINT) AS s2,
       |    CAST(sum(CAST(o AS HUGEINT) * o * o) AS HUGEINT) AS s3
       |  FROM occ),
       |sk AS (SELECT n,
       |    CASE WHEN n * s2 - s1 * s1 > 0 THEN
       |      round((CAST(n AS DOUBLE) * n * CAST(s3 AS DOUBLE)
       |           - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
       |           + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
       |        / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
       |                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
       |               * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
       |                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
       |               * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
       |                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))), 6) + 0.0
       |    END AS skew_g1
       |  FROM mo),
       |hub AS (SELECT vec_id, o, row_number() OVER (ORDER BY o DESC, vec_id) AS rnk
       |  FROM occ)
       |SELECT CAST(hub.rnk AS BIGINT) AS rank, hub.vec_id, hub.o AS k_occurrence,
       |  sk.n AS n_vectors, sk.skew_g1
       |FROM hub, sk WHERE hub.rnk <= 10 ORDER BY rank""".stripMargin) { (s, d) =>
    val e = prep(s, d)
    // fixed-count sample: rank ONLY (vec_id, hash) — two longs per
    // row through the salted top-k — then fetch the k payloads via a
    // broadcast semi-join; the corpus arrays never shuffle
    val qIds = Relational.topKPerGroupSalted(
        e.select(col("vec_id"),
          graft.operators.TextOps.baseHash(
            concat(lit("hub:"), col("vec_id").cast("string"))).as("h")),
        Seq(lit(1)), Seq(col("h"), col("vec_id")), HubQueryCount, col("vec_id"))
      .select(col("vec_id"))
    val qs = broadcast(e.join(broadcast(qIds), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq")))
    val p = e.crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorOps.cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")),
          col("nq"), col("n")).as("c"))
    val top = Relational.topKPerGroupSalted(p, Seq(col("query_id")),
        Seq(col("c").desc, col("vec_id")), 5, col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val occ = e.select(col("vec_id"))
      .join(top, Seq("vec_id"), "left")
      .groupBy(col("vec_id"))
      .agg(count(col("query_id")).cast("long").as("o"))
      .persist() // moments AND the hub ranking read it
    val mo = occ.agg(count(lit(1)).cast("long").as("n"),
      sum(col("o")).cast("decimal(38,0)").as("s1"),
      sum(dec(col("o")) * col("o")).cast("decimal(38,0)").as("s2"),
      sum(dec(col("o")) * col("o") * col("o")).cast("decimal(38,0)").as("s3"))
    val nD = col("n").cast("double")
    val s1D = col("s1").cast("double")
    val s2D = col("s2").cast("double")
    val s3D = col("s3").cast("double")
    val varTerm = nD * s2D - s1D * s1D
    val sk = mo.select(col("n"),
      when(dec(col("n")) * col("s2") - col("s1") * col("s1") > 0,
        round((nD * nD * s3D - lit(3.0) * nD * s1D * s2D +
            lit(2.0) * s1D * s1D * s1D) /
          sqrt(varTerm * varTerm * varTerm), 6) + lit(0.0))
        .otherwise(lit(null).cast("double")).as("skew_g1"))
    val hub = occ
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("o").desc, col("vec_id"))))
      .filter(col("rnk") <= 10)
    hub.join(broadcast(sk))
      .select(col("rnk").cast("long").as("rank"), col("vec_id"),
        col("o").as("k_occurrence"), col("n").as("n_vectors"), col("skew_g1"))
      .orderedSmall(col("rank"))
  }

  val qEmbedNearDup = GateQuery.sql(
    "q_embed_neardup",
    s"""WITH $PrepSql,
       |$BucketRelSql,
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
       |p AS (SELECT vec_a, vec_b,
       |    ${cosineQSql(dotQSql("sa.q", "sb.q"), "sa.n", "sb.n")} AS c
       |  FROM cand JOIN en sa ON sa.vec_id = vec_a JOIN en sb ON sb.vec_id = vec_b)
       |SELECT vec_a, vec_b, round(c, 6) + 0.0 AS cos
       |FROM p WHERE c >= 0.4 ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    // Vectors travel WITH their buckets (standard LSH layout): the
    // band self-join scores pairs in place and filters by cosine
    // BEFORE deduplicating across tables, so the plan never shuffles
    // the (large) candidate-id set. The payload-attach layout is
    // size-selected by [[bucketRelAuto]]: broadcast-join back to the
    // vector table while it fits, payload-through-explode past that.
    // The oracle keeps the logically-identical DISTINCT-then-score
    // shape: duplicate candidates score identically, so the final
    // sets match.
    val e = prep(s, d)
    val bkq = bucketRelAuto(e)
    val a = bkq.select(col("vec_id").as("vec_a"), col("tbl"), col("bkt"),
      col("q").as("qa"), col("n").as("na"))
    val b = bkq.select(col("vec_id").as("vec_b"), col("tbl"), col("bkt"),
      col("q").as("qb"), col("n").as("nb"))
    a.join(b, Seq("tbl", "bkt"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineQ(graft.expressions.VectorExpressions.dotQ(col("qa"), col("qb")), col("na"), col("nb")).as("_c"))
      .filter(col("_c") >= 0.4)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(first(col("_c")).as("_c"))
      .select(col("vec_a"), col("vec_b"), (round(col("_c"), 6) + lit(0.0)).as("cos"))
      .orderedSmall(col("vec_a"), col("vec_b"))
  }

  /** LSH-bucketed ANN (the scale path for #26): candidates restricted
    * to vectors sharing any LSH bucket with the query. The bucket
    * functions are deterministic integer-hyperplane signs already
    * mirrored in SQL (q_embed_neardup), and the cosine is one
    * IEEE-exact double expression over exact integers — so the FULL
    * approximate result is hash-checkable, not just row counts
    * (r8 verdict item 3).
    */
  val qKnnLsh = GateQuery.sql(
    "q_knn_lsh",
    s"""WITH $PrepSql,
       |$BucketRelSql,
       |qb AS (SELECT b.vec_id AS query_id, b.tbl, b.bkt, e2.q AS qq, e2.n AS nq
       |  FROM bk b JOIN en e2 USING (vec_id) WHERE b.vec_id < 10),
       |sc AS (SELECT qb.query_id, cv.vec_id,
       |    ${cosineQSql(dotQSql("qb.qq", "cv.q"), "qb.nq", "cv.n")} AS c
       |  FROM qb JOIN bk cb ON cb.tbl = qb.tbl AND cb.bkt = qb.bkt
       |    AND cb.vec_id <> qb.query_id
       |  JOIN en cv ON cv.vec_id = cb.vec_id),
       |dd AS (SELECT DISTINCT query_id, vec_id, c FROM sc)
       |SELECT query_id, vec_id, round(c, 6) + 0.0 AS cos,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rnk
       |FROM dd QUALIFY rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    // Payload-through-band layout (as in q_embed_neardup): the tiny
    // query-side bucket list broadcasts onto the corpus bucket
    // relation, pairs score in place, duplicates across tables
    // collapse AFTER the (identical) scores — zero joins back to the
    // corpus, zero shuffles before the rank.
    val e = prep(s, d)
    val bk = bucketRelWithPayload(e)
    val qids = broadcast(bk.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq"),
        col("tbl"), col("bkt")))
    val scored = bk.join(qids, Seq("tbl", "bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")), col("nq"), col("n")).as("_c"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(first(col("_c")).as("_c"))
    Relational.topKPerGroupSalted(scored, Seq(col("query_id")),
        Seq(col("_c").desc, col("vec_id")), 3, col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (round(col("_c"), 6) + lit(0.0)).as("cos"), col("rnk"))
      .orderedSmall(col("query_id"), col("rnk"))
  }

  val qRoiSum = GateQuery.sql(
    "q_roi_sum",
    s"""WITH $PrepSql,
       |r AS (SELECT vec_id, q[17:32] AS roi FROM en)
       |SELECT vec_id,
       |  CAST(list_sum(roi) AS DOUBLE) / ${QScale}.0 AS roi_sum,
       |  CAST(list_max(roi) AS DOUBLE) / ${QScale}.0 AS roi_max,
       |  CAST(len(roi) AS BIGINT) AS roi_n
       |FROM r ORDER BY vec_id""".stripMargin) { (s, d) =>
    prep(s, d)
      .select(col("vec_id"), slice(col("q"), 17, 16).as("roi"))
      .select(col("vec_id"),
        (aggregate(col("roi"), lit(0L), (s0, x) => s0 + x).cast("double") / lit(QScale.toDouble)).as("roi_sum"),
        (array_max(col("roi")).cast("double") / lit(QScale.toDouble)).as("roi_max"),
        size(col("roi")).cast("long").as("roi_n"))
      .orderedSmall(col("vec_id"))
  }

  val qDarkSubtract = GateQuery.sql(
    "q_dark_subtract",
    s"""WITH $PrepSql,
       |dk AS (SELECT q AS dark FROM e WHERE vec_id = 0),
       |c AS (SELECT vec_id, [q[i+1] - dark[i+1] for i in range(len(q))] AS corr
       |      FROM e CROSS JOIN dk)
       |SELECT vec_id,
       |  CAST(list_sum(corr) AS DOUBLE) / ${QScale}.0 AS corr_sum,
       |  CAST(list_min(corr) AS DOUBLE) / ${QScale}.0 AS corr_min,
       |  CAST(list_max(corr) AS DOUBLE) / ${QScale}.0 AS corr_max,
       |  CAST(len(list_filter(corr, x -> x < 0)) AS BIGINT) AS n_neg
       |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
    val e = prep(s, d)
    val dark = broadcast(e.filter(col("vec_id") === 0).select(col("q").as("dark")))
    e.crossJoin(dark)
      .select(col("vec_id"), zip_with(col("q"), col("dark"), (x, y) => x - y).as("corr"))
      .select(col("vec_id"),
        (aggregate(col("corr"), lit(0L), (s0, x) => s0 + x).cast("double") / lit(QScale.toDouble)).as("corr_sum"),
        (array_min(col("corr")).cast("double") / lit(QScale.toDouble)).as("corr_min"),
        (array_max(col("corr")).cast("double") / lit(QScale.toDouble)).as("corr_max"),
        size(filter(col("corr"), x => x < 0)).cast("long").as("n_neg"))
      .orderedSmall(col("vec_id"))
  }

  /** Fixed-point UB matrix (2 decimals): the per-row diffractometer
    * transform angles→HKL. Output = (B·v) where v = first 3 vector
    * components; exact integer matrix product, HALF_UP rounded to 6
    * decimals in integer space (combined scale 1e6 * 1e2).
    */
  private val UB: Seq[Seq[Long]] = Seq(
    Seq(90L, -10L, 20L),
    Seq(10L, 110L, -30L),
    Seq(-20L, 5L, 95L))

  val qHklTransform = GateQuery.sql(
    "q_hkl_transform", {
      val comps = Seq("h", "k", "l").zip(UB).map { case (name, row) =>
        val raw = s"(${row(0)} * q[1] + ${row(1)} * q[2] + ${row(2)} * q[3])"
        s"  ${Exact.roundedRatioSignedSql(raw, "100", 0)} / ${QScale}.0 AS $name"
      }.mkString(",\n")
      s"""WITH $PrepSql
         |SELECT vec_id,
         |$comps
         |FROM en ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    def comp(row: Seq[Long]): Column = {
      val raw = element_at(col("q"), 1) * lit(row(0)) +
        element_at(col("q"), 2) * lit(row(1)) +
        element_at(col("q"), 3) * lit(row(2))
      Exact.roundedRatioSigned(raw, lit(100L), 0) / lit(QScale.toDouble)
    }
    prep(s, d).select(col("vec_id"),
        comp(UB(0)).as("h"), comp(UB(1)).as("k"), comp(UB(2)).as("l"))
      .orderedSmall(col("vec_id"))
  }

  /** Array rebin (#67, pyspec ccd image binning): each embedding
    * binned 64→16 by exact integer 4-sums, exploded to scalar rows so
    * the oracle hash-compares cell values (no list-column hashing).
    */
  val qArrayRebin = GateQuery.sql(
    "q_array_rebin",
    s"""WITH $PrepSql,
       |b AS (SELECT vec_id, ${VectorOps.rebinQSql("q", 4, 16)} AS rb FROM en)
       |SELECT vec_id, CAST(i - 1 AS BIGINT) AS bin, CAST(rb[i] AS BIGINT) AS v
       |FROM b, range(1, 17) t(i) ORDER BY vec_id, bin""".stripMargin) { (s, d) =>
    prep(s, d)
      .select(col("vec_id"), posexplode(VectorOps.rebinQ(col("q"), 4, 16)))
      .select(col("vec_id"), col("pos").cast("long").as("bin"),
        col("col").cast("long").as("v"))
      .orderedSmall(col("vec_id"), col("bin"))
  }

  /** Dark-stack averaging (#76, pyspec ccd dark-frame prep): the
    * per-GROUP element-wise mean of an array column — N dark frames
    * reduce to one master dark before subtraction. Plan: posexplode →
    * one (group, idx) shuffle with map-side partial sums — the same
    * distribution at 10 frames or 10 million. Output exploded to
    * (grp, idx, v_mean) scalar rows for cell-level oracle hashing;
    * the mean is [[Exact.roundedRatio]] over exact integer sums.
    */
  val qDarkStack = GateQuery.sql(
    "q_dark_stack",
    s"""WITH $PrepSql,
       |x AS (SELECT vec_id % 10 AS grp, i - 1 AS idx, q[i] AS v
       |      FROM en, range(1, ${Dims + 1}) t(i))
       |SELECT grp, CAST(idx AS BIGINT) AS idx,
       |  ${Exact.roundedRatioSignedSql("CAST(sum(v) AS BIGINT)", "count(*)", 4)} AS v_mean
       |FROM x GROUP BY 1, 2 ORDER BY grp, idx""".stripMargin) { (s, d) =>
    prep(s, d)
      .select((col("vec_id") % 10).as("grp"), posexplode(col("q")))
      .select(col("grp"), col("pos").cast("long").as("idx"), col("col").as("v"))
      .groupBy(col("grp"), col("idx"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .select(col("grp"), col("idx"),
        Exact.roundedRatioSigned(col("sv"), col("cnt"), 4).as("v_mean"))
      .orderedSmall(col("grp"), col("idx"))
  }

  /** Spatial despike (#79, pyspec MCA cosmic-ray removal along the
    * SPECTRUM axis): each array element replaced by the lower median
    * of its ±2 neighbourhood (clamped at the edges) — a per-row
    * higher-order expression, zero shuffle, exact integer order
    * statistics on the quantized values. Output exploded to scalar
    * rows for cell-level oracle hashing.
    */
  val qArrayDespike = GateQuery.sql(
    "q_array_despike", {
      // lower median of the 1-based inclusive slice [max(i-2,1), min(i+2,Dims)]
      val med = s"list_sort(q[greatest(i - 2, 1):least(i + 2, $Dims)])" +
        s"[(least(i + 2, $Dims) - greatest(i - 2, 1) + 2) // 2]"
      s"""WITH $PrepSql
         |SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx, CAST($med AS BIGINT) AS v
         |FROM en, range(1, ${Dims + 1}) t(i) ORDER BY vec_id, idx""".stripMargin
    }) { (s, d) =>
    // window slice per index: slice(q, lo, n) with lo 1-based; lower
    // median = sorted slice element at ceil(n/2) (1-based)
    val despiked = transform(sequence(lit(1), lit(Dims)), i => {
      val lo = greatest(i - 2, lit(1))
      val n = least(i + 2, lit(Dims)) - lo + 1
      element_at(array_sort(slice(col("q"), lo, n)), ((n + 1) / 2).cast("int"))
    })
    prep(s, d)
      .select(col("vec_id"), posexplode(despiked))
      .select(col("vec_id"), col("pos").cast("long").as("idx"),
        col("col").cast("long").as("v"))
      .orderedSmall(col("vec_id"), col("idx"))
  }

  private def det3(m: Seq[Seq[Long]]): Long =
    m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))

  /** Integer adjugate: inv(M) = adj(M)/det(M), all entries exact. */
  private def adj3(m: Seq[Seq[Long]]): Seq[Seq[Long]] = Seq(
    Seq(m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1),
      m(0)(2) * m(2)(1) - m(0)(1) * m(2)(2),
      m(0)(1) * m(1)(2) - m(0)(2) * m(1)(1)),
    Seq(m(1)(2) * m(2)(0) - m(1)(0) * m(2)(2),
      m(0)(0) * m(2)(2) - m(0)(2) * m(2)(0),
      m(0)(2) * m(1)(0) - m(0)(0) * m(1)(2)),
    Seq(m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0),
      m(0)(1) * m(2)(0) - m(0)(0) * m(2)(1),
      m(0)(0) * m(1)(1) - m(0)(1) * m(1)(0)))

  /** Inverse diffractometer transform (#66): fractional HKL from a
    * measured scattering vector — hkl = UB⁻¹·q. The inverse of the
    * fixed-point UB is its integer ADJUGATE over its integer
    * DETERMINANT, so the whole inverse is one exact integer matvec
    * plus a single HALF_UP division (scale: adj is 100², det 100³,
    * so hkl = (adj·q_int) / (det · QScale/100)) — bit-identical
    * across engines like the forward transform.
    */
  val qHklInverse = GateQuery.sql(
    "q_hkl_inverse", {
      val det = det3(UB)
      val adj = adj3(UB)
      val sgn = if (det < 0) -1L else 1L
      val den = math.abs(det) * (QScale / 100)
      val comps = Seq("h", "k", "l").zip(adj).map { case (name, row) =>
        val raw = s"(${sgn * row(0)} * q[1] + ${sgn * row(1)} * q[2] + ${sgn * row(2)} * q[3])"
        s"  ${Exact.roundedRatioSignedSql(raw, den.toString, 6)} AS $name"
      }.mkString(",\n")
      s"""WITH $PrepSql
         |SELECT vec_id,
         |$comps
         |FROM en ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    val det = det3(UB)
    val adj = adj3(UB)
    require(det != 0, "UB is singular")
    val sgn = if (det < 0) -1L else 1L
    val den = math.abs(det) * (QScale / 100)
    def comp(row: Seq[Long]): Column = {
      val raw = element_at(col("q"), 1) * lit(sgn * row(0)) +
        element_at(col("q"), 2) * lit(sgn * row(1)) +
        element_at(col("q"), 3) * lit(sgn * row(2))
      Exact.roundedRatioSigned(raw, lit(den), 6)
    }
    prep(s, d).select(col("vec_id"),
        comp(adj(0)).as("h"), comp(adj(1)).as("k"), comp(adj(2)).as("l"))
      .orderedSmall(col("vec_id"))
  }

  /** Exact integer squared distance between two quantized-list SQL
    * columns — the DuckDB twin of `nearestCell`'s
    * ‖x‖²+‖c‖²−2x·c ordering (identical values, same ties). */
  private def ivfDistSql(q: String, cq: String): String =
    s"CAST(list_sum([CAST($q[i+1] - $cq[i+1] AS HUGEINT) * ($q[i+1] - $cq[i+1]) " +
      s"for i in range(len($q))]) AS HUGEINT)"

  /** Signed floor division in DuckDB (its `//` truncates toward zero,
    * so `Math.floorDiv` parity needs the explicit remainder fix). */
  private def ivfFloorDivSql(x: String, y: String): String =
    s"((($x) - (((($x) % ($y)) + ($y)) % ($y))) // ($y))"

  /** Unrolled exact-integer Lloyd k-means in DuckDB — the oracle twin
    * of [[graft.operators.IvfIndex.train]] + [[IvfIndex.assign]]:
    * seeds are the `c` smallest vec_ids (cell = ascending rank),
    * each iteration reassigns by exact integer distance (ties to the
    * smaller cell) and recomputes centroids as floored elementwise
    * integer means (empty cells keep their position). Emits CTEs
    * `ivc${iters}f` (cell, cq) and `ivasg` (vec_id, q, n, cell).
    * SQL-expressible precisely because the training is deterministic
    * integer arithmetic with a fixed iteration count.
    */
  private def ivfTrainSqlCtes(c: Int, iters: Int): String = {
    val seed = s"ivc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)" +
      s" AS cell, q AS cq FROM en ORDER BY vec_id LIMIT $c)"
    val steps = (1 to iters).map { it =>
      val prev = if (it == 1) "ivc0" else s"ivc${it - 1}f"
      s"""iva$it AS (SELECT vec_id, q, cell FROM (
         |    SELECT v.vec_id, v.q, cc.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${ivfDistSql("v.q", "cc.cq")}, cc.cell) AS rn
         |    FROM en v CROSS JOIN $prev cc) WHERE rn = 1),
         |ivm$it AS (SELECT cell, j, CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(count(*) AS HUGEINT) AS cnt
         |  FROM (SELECT cell, generate_subscripts(q, 1) AS j, unnest(q) AS x FROM iva$it)
         |  GROUP BY 1, 2),
         |ivn$it AS (SELECT cell, list(CAST(${ivfFloorDivSql("sx", "cnt")} AS BIGINT)
         |    ORDER BY j) AS cq FROM ivm$it GROUP BY cell),
         |ivc${it}f AS (SELECT p.cell, coalesce(n2.cq, p.cq) AS cq
         |  FROM $prev p LEFT JOIN ivn$it n2 USING (cell))""".stripMargin
    }
    val fin = s"""ivasg AS (SELECT vec_id, q, n, cell FROM (
       |    SELECT v.vec_id, v.q, v.n, cc.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfDistSql("v.q", "cc.cq")}, cc.cell) AS rn
       |    FROM en v CROSS JOIN ivc${iters}f cc) WHERE rn = 1)""".stripMargin
    (seed +: steps :+ fin).mkString(",\n")
  }

  /** IVF coarse-quantizer ANN (the k-means scale path next to LSH):
    * deterministic exact-integer k-means, broadcast centroid probing,
    * per-cell candidate join. The training is a fixed-count loop of
    * exact-integer aggregates, so the oracle re-derives the ENTIRE
    * index in SQL ([[ivfTrainSqlCtes]]) and the full approximate
    * result is hash-checked (r8 verdict item 3). This gate runs the
    * plain trained index; the skew-rebalanced variant (data-dependent
    * round count — not SQL-expressible) stays exercised by
    * q_semdedup and IvfIndexSpec.
    */
  val qKnnIvf = GateQuery.sql(
    "q_knn_ivf",
    s"""WITH $PrepSql,
       |${ivfTrainSqlCtes(c = 16, iters = 2)},
       |ivp AS (SELECT query_id, qq, nq, cell FROM (
       |    SELECT v.vec_id AS query_id, v.q AS qq, v.n AS nq, cc.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfDistSql("v.q", "cc.cq")}, cc.cell) AS rn
       |    FROM en v CROSS JOIN ivc2f cc WHERE v.vec_id < 10) WHERE rn <= 4),
       |ivsc AS (SELECT p.query_id, a.vec_id,
       |    ${cosineQSql(dotQSql("p.qq", "a.q"), "p.nq", "a.n")} AS c
       |  FROM ivp p JOIN ivasg a USING (cell) WHERE a.vec_id <> p.query_id)
       |SELECT query_id, vec_id, round(c, 6) + 0.0 AS cos,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rnk
       |FROM ivsc QUALIFY rnk <= 3 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    // cache the quantized vectors across the EAGER training jobs
    // (k-means iterations each rescan the input); the lazily-returned
    // plan recomputes them once after unpersist
    val e = prep(s, d).persist()
    try {
      val cents = graft.operators.IvfIndex.train(e, c = 16, iters = 2, dims = Dims)
      val assigned = graft.operators.IvfIndex.assign(e, cents)
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq"))
      graft.operators.IvfIndex.knn(qs, assigned, cents, nprobe = 4, k = 3)
        .orderedSmall(col("query_id"), col("rnk"))
    } finally e.unpersist()
  }

  /** The production bound on SemDeDup's quadratic term: a cell of M
    * members forms at most M·(M−1)/2 pairs, so the worst cell's cost
    * is capped in ROWS, not as a corpus fraction (a fraction grows
    * with the corpus — at 100 TB "25%" is still quadratic death).
    * 100k members ≈ 5e9 candidate pairs for one pathological cell —
    * the upper end of tolerable; a no-op at bench scale.
    */
  private val SemDedupCellCap = 100000

  /** SemDeDup (#88): semantic near-duplicate removal — within-cell
    * cosine pairs over the IVF clustering, connected components, one
    * representative kept per group. Hash-checked SQL since r10 (the
    * r9 ANN recipe): the oracle re-derives the trained cells with the
    * same unrolled Lloyd CTEs as q_knn_ivf, forms the capped
    * within-cell pair relation with the mirrored IEEE cosine, and
    * labels duplicate groups by min-reachable vec_id through a
    * RECURSIVE transitive-closure CTE (bounded by the capped cells'
    * pair mass, oracle-side only). The skew-REBALANCED index variant
    * (data-dependent split rounds — not SQL-expressible) stays
    * exercised by IvfIndexSpec/SemDedupSpec, mirroring the
    * q_knn_ivf convention.
    *
    * The hard [[SemDedupCellCap]] row cap DROPS any cell exceeding it
    * (degenerate boilerplate-embedding mass) before any pair forms —
    * the production bound on the quadratic term, mirrored in the
    * oracle.
    */
  val qSemDedup = GateQuery.sql(
    "q_semdedup",
    s"""WITH RECURSIVE $PrepSql,
       |${ivfTrainSqlCtes(c = 16, iters = 2)},
       |ivm AS MATERIALIZED (SELECT * FROM ivasg),
       |cellok AS (SELECT cell FROM ivm GROUP BY cell
       |  HAVING count(*) <= $SemDedupCellCap),
       |mem AS MATERIALIZED (SELECT a.vec_id, a.q, a.n, a.cell
       |  FROM ivm a JOIN cellok USING (cell)),
       |pr AS MATERIALIZED (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${cosineQSql(dotQSql("a.q", "b.q"), "a.n", "b.n")} >= 0.4),
       |arcs AS MATERIALIZED (SELECT vec_a AS s, vec_b AS t FROM pr
       |  UNION SELECT vec_b, vec_a FROM pr),
       |reach(v, r) AS (
       |  SELECT s AS v, s AS r FROM (SELECT DISTINCT s FROM arcs)
       |  UNION
       |  SELECT arcs.t, reach.r FROM reach JOIN arcs ON arcs.s = reach.v),
       |lab AS (SELECT v AS vec_id, min(r) AS cluster_id FROM reach GROUP BY v)
       |SELECT en.vec_id,
       |  coalesce(lab.cluster_id, en.vec_id) AS group_id,
       |  (coalesce(lab.cluster_id, en.vec_id) = en.vec_id) AS keep
       |FROM en LEFT JOIN lab USING (vec_id)
       |ORDER BY en.vec_id""".stripMargin) { (s, d) =>
    val e = prep(s, d).persist() // see qKnnIvf
    try {
      val cents = graft.operators.IvfIndex.train(e, c = 16, iters = 2, dims = Dims)
      val assigned = graft.operators.IvfIndex.assign(e, cents)
      graft.operators.SemDedup.dedup(assigned, tau = 0.4, maxCellDf = SemDedupCellCap)
        .orderedSmall(col("vec_id"))
    } finally e.unpersist()
  }

  /** Unrolled per-subspace exact-integer k-means in DuckDB — the
    * oracle twin of [[graft.operators.PqIndex.train]] + encode:
    * codebook rows (sub, code, cw), seeds = subvectors of the K
    * smallest vec_ids, encode = argmin exact ‖sub−c‖² ties to the
    * smaller code, update = floored elementwise integer means (empty
    * codes keep). Emits `pqc${iters}f` (sub, code, cw) and `pqenc`
    * (vec_id, sub, code).
    */
  private def pqTrainSqlCtes(k: Int, iters: Int, m: Int, subDim: Int,
                             src: String = "en"): String = {
    def sv(q: String, sub: String) =
      s"$q[($sub * $subDim + 1):(($sub + 1) * $subDim)]"
    val seed = s"""pqc0 AS (SELECT sg.sub, r.code, ${sv("r.q", "sg.sub")} AS cw
       |  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, q
       |        FROM $src ORDER BY vec_id LIMIT $k) r
       |  CROSS JOIN (SELECT CAST(unnest(range($m)) AS BIGINT) AS sub) sg)""".stripMargin
    def encodeCte(name: String, book: String) =
      s"""$name AS (SELECT vec_id, sub, code FROM (
         |    SELECT v.vec_id, cc.sub, cc.code,
         |      row_number() OVER (PARTITION BY v.vec_id, cc.sub
         |        ORDER BY ${ivfDistSql(sv("v.q", "cc.sub"), "cc.cw")}, cc.code) AS rn
         |    FROM $src v CROSS JOIN $book cc) WHERE rn = 1)""".stripMargin
    val steps = (1 to iters).map { it =>
      val prev = if (it == 1) "pqc0" else s"pqc${it - 1}f"
      s"""${encodeCte(s"pqe$it", prev)},
         |pqm$it AS (SELECT sub, code, j, CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(count(*) AS HUGEINT) AS cnt
         |  FROM (SELECT e2.sub, e2.code, generate_subscripts(e2.svv, 1) AS j,
         |          unnest(e2.svv) AS x
         |        FROM (SELECT enc.sub, enc.code, ${sv("v.q", "enc.sub")} AS svv
         |              FROM pqe$it enc JOIN $src v USING (vec_id)) e2)
         |  GROUP BY 1, 2, 3),
         |pqn$it AS (SELECT sub, code, list(CAST(${ivfFloorDivSql("sx", "cnt")} AS BIGINT)
         |    ORDER BY j) AS cw FROM pqm$it GROUP BY 1, 2),
         |pqc${it}f AS (SELECT p.sub, p.code, coalesce(n2.cw, p.cw) AS cw
         |  FROM $prev p LEFT JOIN pqn$it n2 USING (sub, code))""".stripMargin
    }
    (seed +: steps :+ encodeCte("pqenc", s"pqc${iters}f")).mkString(",\n")
  }

  /** Product-quantization ANN (#112): 64-dim vectors → ONE packed
    * int64 code (M=8 subspaces × 4-bit codes — 32× less memory than
    * the float corpus), exhaustive ADC top-5 via per-query lookup
    * tables. The training is fixed-count exact-integer k-means per
    * subspace, so the oracle re-derives codebooks + codes in SQL
    * ([[pqTrainSqlCtes]]) and checks the full ADC ranking —
    * ADC == reconstructed dot by construction, so scoring against
    * the reconstructed codewords IS the ADC result (also pinned by
    * PqIndexSpec).
    */
  val qKnnPq = GateQuery.sql(
    "q_knn_pq",
    s"""WITH $PrepSql,
       |${pqTrainSqlCtes(k = 16, iters = 2, m = 8, subDim = Dims / 8)},
       |qs AS (SELECT vec_id AS query_id, q AS qq, n AS nq FROM en WHERE vec_id < 10),
       |sc AS (SELECT qs.query_id, e2.vec_id, qs.nq,
       |    CAST(sum(${dotQSql(s"qs.qq[(cc.sub * ${Dims / 8} + 1):((cc.sub + 1) * ${Dims / 8})]", "cc.cw")}) AS BIGINT) AS adot,
       |    CAST(sum(${normQSql("cc.cw")}) AS BIGINT) AS rnorm
       |  FROM pqenc e2 JOIN pqc2f cc USING (sub, code) CROSS JOIN qs
       |  WHERE e2.vec_id <> qs.query_id
       |  GROUP BY 1, 2, 3)
       |SELECT query_id, vec_id,
       |  round(${cosineQSql("adot", "nq", "rnorm")}, 6) + 0.0 AS cos,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY
       |    ${cosineQSql("adot", "nq", "rnorm")} DESC, vec_id) AS BIGINT) AS rnk
       |FROM sc QUALIFY rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val e = prep(s, d).persist() // cache across the training jobs (see qKnnIvf)
    try {
      val model = graft.operators.PqIndex.train(e, m = 8, k = 16, iters = 2, dims = Dims)
      val coded = graft.operators.PqIndex.encode(e, model)
        .select(col("vec_id"), col("pq"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq"))
      graft.operators.PqIndex.adcTopK(qs, coded, model, topK = 5)
        .orderedSmall(col("query_id"), col("rnk"))
    } finally e.unpersist()
  }

  /** #124 — contrastive-pair construction (DPR/contrastive retrieval
    * training data): per query, top-2 positives, ranks 5–9 as hard
    * negatives (the near-miss band, skipping a 2-rank margin), and 3
    * deterministic hash-"random" negatives drawn from outside the
    * top-9 (portable md5 order — unbiased, rerun/engine-stable where
    * `rand()` is neither). The exact ranking keeps the gate
    * oracle-able; at scale the same construction runs off the
    * IVF/PQ ranking (#38/#112) unchanged, and the random-negative
    * draw is a salted top-k, never a sort.
    */
  val qContrastivePairs = GateQuery.sql(
    "q_contrastive_pairs",
    s"""WITH $PrepSql,
       |qs AS (SELECT vec_id AS query_id, q AS qq, n AS nq FROM en WHERE vec_id < 10),
       |p AS (SELECT query_id, c.vec_id AS vec_id,
       |    ${cosineQSql(dotQSql("qq", "c.q"), "nq", "c.n")} AS c
       |  FROM qs, en c WHERE c.vec_id <> query_id),
       |rk AS (SELECT query_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rnk
       |  FROM p),
       |top AS (SELECT * FROM rk WHERE rnk <= 9),
       |rn AS (SELECT q2.query_id, c.vec_id,
       |    CAST(row_number() OVER (PARTITION BY q2.query_id
       |      ORDER BY ${graft.operators.TextOps.baseHashSql("'neg:' || q2.query_id || ':' || c.vec_id")}, c.vec_id) AS BIGINT) AS rr
       |  FROM (SELECT query_id FROM qs) q2, en c
       |  WHERE c.vec_id <> q2.query_id AND NOT EXISTS (
       |    SELECT 1 FROM top t WHERE t.query_id = q2.query_id AND t.vec_id = c.vec_id))
       |SELECT query_id, vec_id, role, rnk FROM (
       |  SELECT query_id, vec_id, 'positive' AS role, rnk FROM top WHERE rnk <= 2
       |  UNION ALL
       |  SELECT query_id, vec_id, 'hard_neg' AS role, rnk FROM top WHERE rnk BETWEEN 5 AND 9
       |  UNION ALL
       |  SELECT query_id, vec_id, 'rand_neg' AS role, rr AS rnk FROM rn WHERE rr <= 3)
       |ORDER BY query_id, role, rnk""".stripMargin) { (s, d) =>
    val e = prep(s, d)
    val qs = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq")))
    val scored = e.crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")), col("nq"), col("n")).as("_c"))
    val top = Relational.topKPerGroupSalted(scored, Seq(col("query_id")),
        Seq(col("_c").desc, col("vec_id")), 9, col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("rnk"))
    val negPool = e.select(col("vec_id")).crossJoin(broadcast(qs.select(col("query_id"))))
      .filter(col("vec_id") =!= col("query_id"))
      .join(top.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"), "left_anti")
      .select(col("query_id"), col("vec_id"),
        graft.operators.TextOps.baseHash(concat(lit("neg:"), col("query_id").cast("string"),
          lit(":"), col("vec_id").cast("string"))).as("_h"))
    val rand = Relational.topKPerGroupSalted(negPool, Seq(col("query_id")),
        Seq(col("_h"), col("vec_id")), 3, col("vec_id"), rankCol = "rr")
      .select(col("query_id"), col("vec_id"), lit("rand_neg").as("role"), col("rr").as("rnk"))
    top.filter(col("rnk") <= 2)
      .select(col("query_id"), col("vec_id"), lit("positive").as("role"), col("rnk"))
      .union(top.filter(col("rnk").between(5, 9))
        .select(col("query_id"), col("vec_id"), lit("hard_neg").as("role"), col("rnk")))
      .union(rand)
      .orderedSmall(col("query_id"), col("role"), col("rnk"))
  }

  /** #112b — residual IVF-PQ (`by_residual = true`, the FAISS
    * IndexIVFPQ default): PQ trained/encoded on cell residuals, score
    * and norm rebuilt from the exact integer decomposition (centroid
    * dot + ADC; centroid norm + 2·cross + residual norm). The
    * decomposition is EXACTLY dot(q, c + decode(pq)) over
    * ‖c + decode(pq)‖² (pinned by PqIndexSpec), so the oracle scores
    * against the SQL-reconstructed vectors: IVF train + residuals +
    * per-subspace PQ train all re-derived in SQL — the full
    * approximate ranking hash-checks (r8 verdict item 3).
    */
  val qKnnIvfPq = GateQuery.sql(
    "q_knn_ivfpq",
    s"""WITH $PrepSql,
       |${ivfTrainSqlCtes(c = 16, iters = 2)},
       |ivres AS (SELECT a.vec_id, a.cell,
       |    [a.q[i+1] - cc.cq[i+1] for i in range(len(a.q))] AS q
       |  FROM ivasg a JOIN ivc2f cc USING (cell)),
       |${pqTrainSqlCtes(k = 16, iters = 2, m = 8, subDim = Dims / 8, src = "ivres")},
       |rdec AS (SELECT enc.vec_id, flatten(list(cc.cw ORDER BY cc.sub)) AS dq
       |  FROM pqenc enc JOIN pqc2f cc USING (sub, code) GROUP BY enc.vec_id),
       |rec AS (SELECT r.vec_id, a.cell,
       |    [r.dq[i+1] + cc.cq[i+1] for i in range(len(r.dq))] AS rq
       |  FROM rdec r JOIN ivasg a USING (vec_id) JOIN ivc2f cc USING (cell)),
       |ivp AS (SELECT query_id, qq, nq, cell FROM (
       |    SELECT v.vec_id AS query_id, v.q AS qq, v.n AS nq, cc.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfDistSql("v.q", "cc.cq")}, cc.cell) AS rn
       |    FROM en v CROSS JOIN ivc2f cc WHERE v.vec_id < 10) WHERE rn <= 4),
       |sc AS (SELECT p.query_id, r.vec_id,
       |    ${cosineQSql(dotQSql("p.qq", "r.rq"), "p.nq", normQSql("r.rq"))} AS c
       |  FROM ivp p JOIN rec r USING (cell) WHERE r.vec_id <> p.query_id)
       |SELECT query_id, vec_id, round(c, 6) + 0.0 AS cos,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rnk
       |FROM sc QUALIFY rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val e = prep(s, d).persist() // cache across the training jobs (see qKnnIvf)
    try {
      val cents = graft.operators.IvfIndex.train(e, c = 16, iters = 2, dims = Dims)
      val res = graft.operators.PqIndex.residuals(
        graft.operators.IvfIndex.assign(e, cents), cents)
      val model = graft.operators.PqIndex.train(res, m = 8, k = 16, iters = 2, dims = Dims)
      val coded = graft.operators.PqIndex.encode(res, model)
        .select(col("vec_id"), col("cell"), col("pq"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq"))
      graft.operators.PqIndex.ivfPqResidualTopK(qs, coded, cents, model,
          nprobe = 4, topK = 5)
        .orderedSmall(col("query_id"), col("rnk"))
    } finally e.unpersist()
  }

  /** Matryoshka prefix-dimension recall (#220, Kusupati et al. 2022):
    * rank the corpus by cosine over only the FIRST 16 of 64
    * dimensions and measure top-5 recall against the full-dimension
    * ranking — the evaluation that decides whether truncated
    * ("matryoshka") embeddings can serve the cheap first stage of a
    * two-stage retrieval cascade (4× less memory/bandwidth per
    * candidate). BOTH rankings come from ONE corpus pass (the scored
    * relation carries full and prefix cosines side by side — at
    * 100 TB the corpus is read once, not twice); two salted top-k
    * windows + an equi-join count the overlap. Cosines are mirrored
    * doubles from exact integer dot/norms with vec_id tie pins, so
    * both engines rank identically; recall is exact ppm.
    */
  val qMatryoshka = GateQuery.sql(
    "q_matryoshka",
    s"""WITH $PrepSql,
       |es AS (SELECT vec_id, q, n, q[1:16] AS q16, ${normQSql("q[1:16]")} AS n16 FROM en),
       |qs AS (SELECT vec_id AS query_id, q AS qq, n AS nq, q16 AS qq16, n16 AS nq16
       |       FROM es WHERE vec_id < 10),
       |p AS (SELECT query_id, c.vec_id AS vec_id,
       |    ${cosineQSql(dotQSql("qq", "c.q"), "nq", "c.n")} AS cf,
       |    ${cosineQSql(dotQSql("qq16", "c.q16"), "nq16", "c.n16")} AS cp
       |  FROM qs, es c WHERE c.vec_id <> query_id),
       |rf AS (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cf DESC, vec_id) AS r
       |  FROM p QUALIFY r <= 5),
       |rp AS (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cp DESC, vec_id) AS r
       |  FROM p QUALIFY r <= 5)
       |SELECT rf.query_id AS query_id, CAST(5 AS BIGINT) AS k,
       |  CAST(count(rp.vec_id) AS BIGINT) AS n_overlap,
       |  (CAST(count(rp.vec_id) AS BIGINT) * 1000000) // 5 AS recall_ppm
       |FROM rf LEFT JOIN rp ON rp.query_id = rf.query_id AND rp.vec_id = rf.vec_id
       |GROUP BY 1 ORDER BY query_id""".stripMargin) { (s, d) =>
    val es = prep(s, d).select(col("vec_id"), col("q"), col("n"),
      slice(col("q"), 1, 16).as("q16"))
      .withColumn("n16", graft.expressions.VectorExpressions.normQ(col("q16")))
    val qs = broadcast(es.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq"),
        col("q16").as("qq16"), col("n16").as("nq16")))
    // one corpus pass scores BOTH representations; the columnar cache
    // lets the two top-k windows share it (freed by the harness
    // post-action like every gate-lifetime cache)
    val p = es.crossJoin(qs).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")),
          col("nq"), col("n")).as("cf"),
        cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq16"), col("q16")),
          col("nq16"), col("n16")).as("cp")).persist()
    val rf = Relational.topKPerGroupSalted(p, Seq(col("query_id")),
      Seq(col("cf").desc, col("vec_id")), 5, col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val rp = Relational.topKPerGroupSalted(p, Seq(col("query_id")),
      Seq(col("cp").desc, col("vec_id")), 5, col("vec_id"))
      .select(col("query_id"), col("vec_id").as("vec_id_p"))
    rf.join(rp, rf("query_id") === rp("query_id") && col("vec_id") === col("vec_id_p"),
        "left")
      .groupBy(rf("query_id").as("query_id"))
      .agg(count(col("vec_id_p")).as("n_overlap"))
      .select(col("query_id"), lit(5L).as("k"), col("n_overlap"),
        graft.operators.Binning.floorDivCol(col("n_overlap") * lit(1000000L), lit(5L))
          .as("recall_ppm"))
      .orderedSmall(col("query_id"))
  }

  /** ANN recall-vs-nprobe curve (#227, rows+test): top-5 recall of
    * the IVF index against exact brute force at nprobe ∈ {1, 2, 4} —
    * the operating-curve measurement that turns "approximate" into a
    * number you can budget against (FAISS's standard tuning plot).
    * The index trains ONCE (same cached-input discipline as #38);
    * the exact top-5 ground truth computes once and persists (50
    * rows); each nprobe point reuses both. Mean/min recall over the
    * query set in exact ppm.
    */
  val qAnnRecallCurve = GateQuery.sql(
    "q_ann_recall_curve", {
      val points = Seq(1, 2, 4).map { np =>
        s"""SELECT CAST($np AS BIGINT) AS nprobe,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST((sum(hit) * 1000000) // (count(*) * 5) AS BIGINT) AS mean_recall_ppm,
           |  CAST((min(hit) * 1000000) // 5 AS BIGINT) AS min_recall_ppm
           |FROM (SELECT ex.query_id, CAST(count(a.vec_id) AS BIGINT) AS hit
           |  FROM exact5 ex LEFT JOIN apx$np a
           |    ON a.query_id = ex.query_id AND a.vec_id = ex.vec_id
           |  GROUP BY 1)""".stripMargin
      }
      val apxs = Seq(1, 2, 4).map { np =>
        s"""apx$np AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rnk
           |  FROM ivsca WHERE crank <= $np) WHERE rnk <= 5)""".stripMargin
      }
      s"""WITH $PrepSql,
         |${ivfTrainSqlCtes(c = 16, iters = 2)},
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS nq FROM en WHERE vec_id < 10),
         |exact5 AS (SELECT query_id, vec_id FROM (
         |  SELECT qs.query_id, cv.vec_id,
         |    row_number() OVER (PARTITION BY qs.query_id ORDER BY
         |      ${cosineQSql(dotQSql("qs.qq", "cv.q"), "qs.nq", "cv.n")} DESC,
         |      cv.vec_id) AS rnk
         |  FROM qs, en cv WHERE cv.vec_id <> qs.query_id) WHERE rnk <= 5),
         |ivpa AS (SELECT query_id, qq, nq, cell, rn AS crank FROM (
         |    SELECT v.vec_id AS query_id, v.q AS qq, v.n AS nq, cc.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${ivfDistSql("v.q", "cc.cq")}, cc.cell) AS rn
         |    FROM en v CROSS JOIN ivc2f cc WHERE v.vec_id < 10) WHERE rn <= 4),
         |ivsca AS (SELECT p.query_id, p.crank, a.vec_id,
         |    ${cosineQSql(dotQSql("p.qq", "a.q"), "p.nq", "a.n")} AS c
         |  FROM ivpa p JOIN ivasg a USING (cell) WHERE a.vec_id <> p.query_id),
         |${apxs.mkString(",\n")}
         |SELECT * FROM (${points.mkString("\nUNION ALL\n")}) ORDER BY nprobe""".stripMargin
    }) { (s, d) =>
    val e = prep(s, d).persist() // see qKnnIvf
    val cents = graft.operators.IvfIndex.train(e, c = 16, iters = 2, dims = Dims)
    val assigned = graft.operators.IvfIndex.assign(e, cents)
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n").as("nq"))
    // exact ground truth: one brute-force pass, 50 rows, cached for
    // the three curve points (freed by the harness post-action)
    val exact = Relational.topKPerGroupSalted(
        e.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            cosineQ(graft.expressions.VectorExpressions.dotQ(col("qq"), col("q")),
              col("nq"), col("n")).as("_c")),
        Seq(col("query_id")), Seq(col("_c").desc, col("vec_id")), 5, col("vec_id"))
      .select(col("query_id"), col("vec_id")).persist()
    val points = Seq(1, 2, 4).map { np =>
      val approx = graft.operators.IvfIndex.knn(qs, assigned, cents, nprobe = np, k = 5)
        .select(col("query_id"), col("vec_id").as("vec_id_a"))
      val perQuery = exact.join(approx,
          exact("query_id") === approx("query_id") && col("vec_id") === col("vec_id_a"),
          "left")
        .groupBy(exact("query_id").as("qid"))
        .agg(count(col("vec_id_a")).as("hit"))
      perQuery.agg(count(lit(1)).as("n_queries"),
          graft.operators.Binning.floorDivCol(sum(col("hit")) * lit(1000000L),
            count(lit(1)) * lit(5L)).as("mean_recall_ppm"),
          graft.operators.Binning.floorDivCol(min(col("hit")) * lit(1000000L), lit(5L))
            .as("min_recall_ppm"))
        .select(lit(np.toLong).as("nprobe"), col("n_queries"),
          col("mean_recall_ppm"), col("min_recall_ppm"))
    }
    points.reduce(_.unionAll(_)).orderedSmall(col("nprobe"))
  }

  /** Reciprocal nearest neighbors (#245, rows+test): pairs (a, b)
    * where each is the other's TOP-1 cosine neighbor among LSH-bucket
    * candidates — the high-precision criterion retrieval rerankers
    * and conservative dedup use when one-directional similarity
    * over-merges (a boilerplate hub is top-1 FOR many docs but
    * reciprocates none). Candidates come from the shared LSH bucket
    * relation (never all-pairs); the per-vector argmax is one
    * max(struct(cos, −id)) aggregate (ties to the smallest id; a
    * pair surfacing in several tables collapses in the same max);
    * mutuality is an equi-self-join of the 1-row-per-vector bests.
    * Fully deterministic from the SQL-mirrored bucket relation and
    * IEEE-exact cosines → hash-checked oracle (r8 verdict item 3).
    */
  val qMutualNn = GateQuery.sql(
    "q_mutual_nn",
    s"""WITH $PrepSql,
       |$BucketRelSql,
       |sc AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |    ${cosineQSql(dotQSql("ea.q", "eb.q"), "ea.n", "eb.n")} AS c
       |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt
       |    AND a.vec_id <> b.vec_id
       |  JOIN en ea ON ea.vec_id = a.vec_id
       |  JOIN en eb ON eb.vec_id = b.vec_id),
       |best AS (SELECT va, vb AS best, c AS cos FROM (
       |    SELECT va, vb, c,
       |      row_number() OVER (PARTITION BY va ORDER BY c DESC, vb) AS rn
       |    FROM sc) WHERE rn = 1)
       |SELECT l.va AS vec_a, l.best AS vec_b, round(l.cos, 6) + 0.0 AS cos
       |FROM best l JOIN best r ON l.best = r.va AND r.best = l.va AND l.va < r.va
       |ORDER BY vec_a""".stripMargin) { (s, d) =>
    val e = prep(s, d)
    val bk = bucketRelWithPayload(e)
    val a = bk.select(col("vec_id").as("va"), col("q").as("qa"), col("n").as("na"),
      col("tbl"), col("bkt"))
    val b = bk.select(col("vec_id").as("vb"), col("q").as("qb"), col("n").as("nb"),
      col("tbl"), col("bkt"))
    val scored = a.join(b, Seq("tbl", "bkt")).filter(col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        cosineQ(graft.expressions.VectorExpressions.dotQ(col("qa"), col("qb")),
          col("na"), col("nb")).as("c"))
    val best = scored.groupBy(col("va"))
      .agg(max(struct(col("c"), (-col("vb")).as("nvb"))).as("b"))
      .select(col("va"), (-col("b.nvb")).as("best"), col("b.c").as("cos"))
    val l = best.select(col("va").as("x"), col("best").as("bx"), col("cos"))
    val r = best.select(col("va").as("y"), col("best").as("by"))
    l.join(r, col("bx") === col("y") && col("by") === col("x") && col("x") < col("y"))
      .select(col("x").as("vec_a"), col("y").as("vec_b"),
        (round(col("cos"), 6) + lit(0.0)).as("cos"))
      .orderedSmall(col("vec_a"))
  }

  /** Embedding isotropy audit (#391, Ethayarajh 2019; Mu 2018
    * "All-but-the-Top"): is the embedding space collapsing toward a
    * common direction? The mean pairwise cosine ≈
    * (‖Σx‖² − Σ‖x‖²)/((n−1)·Σ‖x‖²) should sit near 0 for a healthy
    * space — anisotropy (≫ 0) silently breaks every cosine-threshold
    * operator in the inventory (#25, #87, #124), so this is the
    * health check run BEFORE trusting them. ONE aggregate: per-dim
    * sums (a 64-long vector fold) + the squared-norm total, both
    * exact fixed-point; the n² pairwise structure is algebraic, never
    * joined. Reports the signed mean-cosine ppm, the mean-vector
    * norm share (the "common direction" mass), and the mean squared
    * norm.
    */
  val qEmbedIsotropy = GateQuery.sql(
    "q_embed_isotropy", {
      val q = VectorOps.quantizeSql("embedding")
      s"""WITH q AS (SELECT $q AS q FROM embeddings),
         |d AS (SELECT unnest(q) AS v, generate_subscripts(q, 1) AS j FROM q),
         |s AS (SELECT j, CAST(sum(v) AS HUGEINT) AS sj FROM d GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(list_sum([CAST(x AS HUGEINT) * x for x in q])) AS HUGEINT) AS ssq
         |  FROM q),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS dims,
         |    CAST(sum(sj * sj) AS HUGEINT) AS ss2 FROM s)
         |SELECT t.n, g.dims,
         |  CAST(t.ssq // t.n AS BIGINT) AS mean_norm2_u,
         |  ${Exact.roundedRatioSignedSql(
              "CAST((g.ss2 - t.ssq) * 1000000 AS HUGEINT)",
              "CAST((t.n - 1) AS HUGEINT) * t.ssq", 0)} AS avg_cos_ppm,
         |  CAST((g.ss2 * 1000000) // (CAST(t.n AS HUGEINT) * t.ssq) AS BIGINT)
         |    AS mean_dir_share_ppm
         |FROM t, g""".stripMargin
    }) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(VectorOps.quantize(col("embedding")).as("q"))
    val dims = 64
    val perDim = (0 until dims).map(i =>
      sum(col("q").getItem(i).cast("decimal(38,0)")).as(s"s$i"))
    val norm2 = aggregate(col("q"), lit(BigDecimal(0)).cast("decimal(38,0)"),
      (acc, x) => acc + x.cast("decimal(38,0)") * x)
    val aggs = Seq(count(lit(1)).cast("long").as("n"),
      sum(norm2).cast("decimal(38,0)").as("ssq")) ++ perDim
    val t = e.agg(aggs.head, aggs.tail: _*)
    val ss2 = (0 until dims).map(i =>
      col(s"s$i") * col(s"s$i")).reduce(_ + _).cast("decimal(38,0)")
    val num = (ss2 - col("ssq")) * lit(1000000L)
    val den = (col("n") - 1).cast("decimal(38,0)") * col("ssq")
    t.select(col("n"), lit(dims.toLong).as("dims"),
      Exact.floorDivBig(col("ssq"), col("n")).cast("long").as("mean_norm2_u"),
      Exact.roundedRatioSigned(num, den, 0).as("avg_cos_ppm"),
      Exact.floorDivBig(ss2 * lit(1000000L),
        col("n").cast("decimal(38,0)") * col("ssq")).cast("long")
        .as("mean_dir_share_ppm"))
  }

  val all: Seq[GateQuery] = Seq(
    qKnnBruteForce, qEmbedNearDup, qKnnLsh, qRoiSum, qDarkSubtract,
    qHklTransform, qHklInverse, qArrayRebin, qDarkStack, qArrayDespike,
    qKnnIvf, qSemDedup, qKnnPq, qContrastivePairs, qKnnIvfPq, qMatryoshka,
    qAnnRecallCurve, qMutualNn, qEmbedIsotropy, qHubness)
}
