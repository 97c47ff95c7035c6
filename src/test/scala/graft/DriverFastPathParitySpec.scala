package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import graft.operators.{Binning, Curation, DriverBound, Graphs, HeavyHitters, Retrieval}
import graft.queries.{AuditQueries, EvalQueries, StatsQueries}

/** Parity pins for the driver fast paths and count-table / postings
  * entry points: each must return EXACTLY the rows of the
  * distributed (or in-corpus) shape it replaces — the gates switch on
  * a size bound ([[DriverBound]]), so both paths must agree
  * bit-for-bit.
  */
class DriverFastPathParitySpec extends SparkSpec {
  import spark.implicits._

  test("DriverBound: `bound` rows or an empty relation take the driver side; " +
      "bound + 1 rows or a bound of 0 the distributed side") {
    def side(df: DataFrame, bound: Long): String =
      DriverBound.driverOr(df, bound)(rows => s"driver:${rows.length}")("distributed")
    val five = spark.range(5).toDF("id")
    assert(side(five, 5) === "driver:5")
    assert(side(five, 4) === "distributed")
    assert(side(five, 0) === "distributed")
    assert(side(five.limit(0), 5) === "driver:0")
    assert(side(five.limit(0), 0) === "distributed")
    assert(DriverBound.withRows(4)(DriverBound.rows) === 4L)
    assert(DriverBound.rows === 2000000L) // the scope is restored
  }

  // events fixture for the row-budgeted gates: 20 users with tied
  // activity counts (u % 7 + 1 events each — the user-count decile
  // crossings land exactly on a cumulative count), all 8 user cohorts,
  // five event types, values on a 9-step grid (ties in every group)
  private val gateEvents: Seq[(Long, Long, String, Double)] = {
    val types = Array("view", "click", "cart", "purchase", "refund")
    (for (u <- 1L to 20L; j <- 0L to u % 7) yield (u, j)).zipWithIndex.map {
      case ((u, j), i) => (i + 1L, u, types(((u + j) % 5).toInt), 1.0 + (i * 37 % 9) * 0.5)
    }
  }

  Seq(AuditQueries.qLevene, EvalQueries.qKruskalWallis,
      StatsQueries.qIpwAte, StatsQueries.qAipwAte).foreach { q =>
    test(s"${q.name}: the distributed side at row budget 0 returns the driver replay's rows") {
      // one directory per side: userCountThresholds caches per directory
      def rows: Seq[Row] = q.run(spark, eventsDir(gateEvents)).collect().toSeq
      val driver = rows
      val distributed = DriverBound.withRows(0)(rows)
      assert(driver.nonEmpty)
      assert(distributed === driver)
    }
  }

  // deterministic pseudo-random canonical edge fixture (u < v, distinct)
  private lazy val edgeDf: DataFrame = {
    val pairs = (1 to 400).flatMap { i =>
      val u = (i * 7919) % 37
      val v = (i * 104729) % 41 + 37
      Seq((u.toLong, v.toLong), ((i % 13).toLong, (i % 17 + 20).toLong))
    }.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    pairs.toDF("u", "v").repartition(3)
  }

  test("PeelGraph.adamicAdarTop matches the distributed capped-wedge plan") {
    val pg = Graphs.peelGraphUnder(edgeDf).get
    val got = pg.adamicAdarTop(minDeg = 2, maxDeg = 6, k = 10)
    val e = edgeDf
    val adj = e.select(col("u").as("c"), col("v").as("n"))
      .unionAll(e.select(col("v").as("c"), col("u").as("n")))
    val deg = adj.groupBy(col("c").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val ctr = adj.join(deg.withColumnRenamed("node", "c"), "c")
      .filter(col("deg") >= 2 && col("deg") <= 6)
    val a = ctr.select(col("c"), col("n").as("nu"), col("deg"))
    val b = ctr.select(col("c"), col("n").as("nv"))
    val wg = a.join(b, "c").filter(col("nu") < col("nv"))
      .select(col("nu").as("u"), col("nv").as("v"),
        Binning.floorDivCol(lit(1000000000000L), Curation.microLn(col("deg"))).as("w"))
    val sc = wg.groupBy(col("u"), col("v")).agg(
      count(lit(1)).cast("long").as("n_common"),
      sum(col("w")).cast("long").as("aa_micro"))
    val want = sc.join(e, Seq("u", "v"), "left_anti")
      .orderBy(col("aa_micro").desc, col("u"), col("v")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("PeelGraph.assortativityStats matches the distributed moment plan") {
    val pg = Graphs.peelGraphUnder(edgeDf).get
    val (nNodes, m, r) = pg.assortativityStats()
    val e = edgeDf
    val e2 = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = e2.select(col("u").as("node"))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("deg"))
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
    val want = Curation.withStats(mom, sxy)
      .select(col("n_nodes"), col("m"),
        when(vx > 0,
          round((md * col("sxy") - col("sx") * col("sx")).cast("double") /
            sqrt(vx.cast("double") * vx.cast("double")), 4) + lit(0.0)))
      .head()
    assert(nNodes == want.getLong(0))
    assert(m == want.getLong(1))
    assert(r == (if (want.isNullAt(2)) None else Some(want.getDouble(2))))
  }

  test("PeelGraph.richClub matches the distributed per-k semi-join counts") {
    val pg = Graphs.peelGraphUnder(edgeDf).get
    val got = pg.richClub(Seq(2, 4, 8))
    val e = edgeDf
    val deg = Graphs.degrees(e)
    val want = Seq(2, 4, 8).map { k =>
      val rich = deg.filter(col("deg") > k).select(col("node"))
      val nn = rich.count()
      val ne = e
        .join(rich.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(rich.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .count()
      (k, nn, ne)
    }
    assert(got == want)
  }

  // bipartite (ck, sk) trade fixture
  private lazy val pairDf: DataFrame =
    (1 to 300).map(i => ((i % 23).toLong, (i * 31 % 11).toLong))
      .distinct.toDF("ck", "sk").repartition(3)

  test("TradeGraph.pageRank matches the distributed pageRankPico loop") {
    val tg = Graphs.tradeGraphUnder(pairDf).get
    val got = tg.pageRank(iters = 3, unit = 1000000000000L, dampNum = 85L)
      .sortBy(_._1)
    val e0 = pairDf.select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      .unionAll(pairDf.select((col("sk") * 2 + 1).as("src"), (col("ck") * 2).as("dst")))
    val want = Graphs.pageRankPico(e0, iters = 3, unit = 1000000000000L,
        dampNum = 85L, driverMaxEdges = 0L) // force the distributed loop
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == want)
  }

  test("TradeGraph.bfsHist matches bfsHopsUndirected's histogram") {
    val tg = Graphs.tradeGraphUnder(pairDf).get
    val seeds = Array(1L * 2 + 1, 3L * 2 + 1, 999L) // two suppliers + one stray
    val got = tg.bfsHist(seeds, maxHops = 3).toSeq
    val edges = pairDf.select((col("ck") * 2).as("u"), (col("sk") * 2 + 1).as("v"))
    val seedDf = seeds.toSeq.toDF("node")
    val dist = Graphs.bfsHopsUndirected(edges, seedDf, maxHops = 3)
      .collect().map(r => r.getInt(1))
    val want = (0 to 3).map(h => dist.count(_ == h).toLong)
    assert(got == want)
  }

  // documents fixture for the count-table / postings entry points
  private lazy val docsDf: DataFrame = (
    Seq.fill(20)("the cat sat on the mat") ++ Seq.fill(12)("a dog ran fast") ++
      (1 to 30).map(i => s"unique$i words here now")
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    .repartition(3)

  private def bigramCounts(docs: DataFrame): DataFrame =
    HeavyHitters.ngramTerms(docs, col("text"), 2)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .select(element_at(split(col("term"), " "), 1).as("w1"),
        element_at(split(col("term"), " "), 2).as("w2"), col("c"))

  private def unigramCounts(docs: DataFrame): DataFrame = {
    val ref = HeavyHitters.ngramTerms(docs, col("text"), 1)
      .groupBy(col("term").as("word")).agg(count(lit(1)).as("c"))
    Curation.withStats(ref,
      ref.agg(sum(col("c")).cast("long").as("n"), count(lit(1)).as("v")))
  }

  test("topKFromCounts matches the sketch+recount path") {
    val bg = bigramCounts(docsDf)
    val got = HeavyHitters.topKFromCounts(
        bg.select(concat_ws(" ", col("w1"), col("w2")).as("term"),
          col("c").cast("long").as("cnt")), k = 5)
      .collect().map(_.toSeq).toSeq
    val want = HeavyHitters.topKNgrams(docsDf, col("text"), n = 2, k = 5,
        sketchSize = 64)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("pmiTopBigramsFromCounts matches pmiTopBigrams") {
    val got = HeavyHitters.pmiTopBigramsFromCounts(
        bigramCounts(docsDf), unigramCounts(docsDf), k = 5)
      .orderBy(col("rnk")).collect().map(_.toSeq).toSeq
    val want = HeavyHitters.pmiTopBigrams(docsDf, col("text"), k = 5,
        sketchSize = 64)
      .orderBy(col("rnk")).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  private val fixtureQueries = Seq((1L, "cat mat"), (2L, "dog words"), (3L, "now missingterm"))

  test("bm25TopKFromPostings matches bm25TopK") {
    val terms = fixtureQueries.flatMap(_._2.split(" ")).distinct
    val postings = docsDf
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val st = docsDf.select(split(col("text"), " ").as("w"))
      .agg(count(lit(1)).cast("long"), sum(size(col("w"))).cast("long")).head()
    val got = Retrieval.bm25TopKFromPostings(postings, st.getLong(0), st.getLong(1),
        fixtureQueries, topK = 5)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    val want = Retrieval.bm25TopK(docsDf, col("doc_id"), col("text"),
        fixtureQueries, topK = 5)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("queryPostings: each term set over one directory gets its own postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft_parity_fix").toString
    docsDf.withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    def terms(ts: String*): Seq[String] = SharedRelations.queryPostings(spark, dir, ts)
      .select(col("term")).distinct().as[String].collect().sorted.toSeq
    assert(terms("cat", "mat") === Seq("cat", "mat"))
    assert(terms("dog", "fast") === Seq("dog", "fast"))
    assert(terms("mat", "cat", "cat") === Seq("cat", "mat"))
  }

  test("qlTopKFromPostings matches qlTopK") {
    val terms = fixtureQueries.flatMap(_._2.split(" ")).distinct
    val postings = docsDf
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val ct = docsDf.select(split(col("text"), " ").as("w"))
      .agg(sum(size(col("w"))).cast("long")).head().getLong(0)
    val got = Retrieval.qlTopKFromPostings(postings, ct, fixtureQueries, topK = 5)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    val want = Retrieval.qlTopK(docsDf, col("doc_id"), col("text"),
        fixtureQueries, topK = 5)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(got == want)
  }
}
