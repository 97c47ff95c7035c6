package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.{TextExpressions, VectorExpressions}
import graft.operators.{TextOps, VectorOps}

/** The native Catalyst expressions must be VALUE-IDENTICAL to their
  * higher-order-function reference formulations — that identity is
  * what keeps the DuckDB oracle green after swapping them into the
  * query plans. Checked over the real sf0.001 tables plus synthetic
  * edge cases.
  */
class ExpressionParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("SimHash32Expr == HOF simhash on real documents") {
    val diff = docs.select(
        TextExpressions.simHash32(col("text")).as("a"),
        TextOps.simHashFromHashes(TextOps.tokenHashes(col("text"))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  /** The rolling fingerprint as higher-order functions: the reference
    * the native `TextOps.fingerprint` kernel must equal. */
  private def fingerprintHof(text: Column): Column =
    aggregate(transform(TextOps.tokens(text), t => TextOps.baseHash(t)), lit(0L),
      (h, x) => pmod(h * lit(31L) + x, lit(TextOps.FpMod)))

  /** Words holding an ASCII letter as a filter lambda: the reference
    * of the native `TextOps.alphaWordCount` kernel. */
  private def alphaWordCountHof(ws: Column): Column =
    size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast("long")

  /** MinHash signatures the long way: explode the portable shingle
    * keys and take min(TextOps.permHash(i, key)) per doc. Docs with
    * fewer than k tokens have no row. */
  private def minHashRef(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    df.select(col("doc_id"), explode(TextOps.shingles(col("text"), k)).as("h"))
      .groupBy("doc_id")
      .agg(array((0 until n).map(i => min(TextOps.permHash(i, col("h")))): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def minHashFast(df: DataFrame, k: Int, n: Int): Map[Long, Seq[Long]] =
    df.select(col("doc_id"), TextExpressions.minHashSig(col("text"), k, n))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** Rows where `TextOps.fingerprint` or `TextExpressions.fingerprint`
    * differs from the HOF reference. */
  private def fingerprintDiffs(rel: DataFrame): Long =
    rel.select(
        TextOps.fingerprint(col("text")).as("a"),
        TextExpressions.fingerprint(col("text")).as("b"),
        fingerprintHof(col("text")).as("c"))
      .filter(col("a") =!= col("c") || col("b") =!= col("c")).count()

  test("FingerprintExpr == HOF fingerprint on real documents") {
    assert(fingerprintDiffs(docs) == 0)
  }

  test("FingerprintExpr == HOF fingerprint on edge documents") {
    val edges = Seq("", " ", "a  b", " lead", "trail ", "\u00e9 \u00df \u65e5\u672c", "a b c", "c b a")
      .toDF("text")
    assert(fingerprintDiffs(edges) == 0)
  }

  test("native alphaWordCount == HOF filter on real documents and edge tokens") {
    val diff = docs.select(
        TextOps.alphaWordCount(TextOps.tokens(col("text"))).as("a"),
        alphaWordCountHof(TextOps.tokens(col("text"))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
    // empty tokens from double spaces, words of only é/ß, digits and
    // '#', letters next to them, a null element and a null array
    val edges = Seq[(Long, Seq[String])](
      (0L, "a  b  ".split(" ", -1).toSeq),
      (1L, Seq("\u00e9", "\u00df", "\u00e9\u00df", "\u00c9t\u00e9")),
      (2L, Seq("123", "#", "##", "4#", "#a", "z9", "@", "[", "`", "{")),
      (3L, Seq("x", null, "Q")),
      (4L, Seq.empty[String]),
      (5L, null)).toDF("id", "ws")
    val got = edges.select(col("id"), TextOps.alphaWordCount(col("ws")).as("a"),
        alphaWordCountHof(col("ws")).as("b"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    got.values.foreach { case (a, b) => assert(a == b) }
    assert(got.map { case (id, (a, _)) => id -> a } == Map(
      0L -> Some(2L), 1L -> Some(1L), 2L -> Some(2L), 3L -> Some(2L), 4L -> Some(0L), 5L -> None))
  }

  test("MinHashSigExpr == explode+min over portable shingles") {
    val ref = minHashRef(docs, 3, 16)
    val fast = minHashFast(docs, 3, 16)
    assert(ref.nonEmpty && fast == ref)
  }

  test("MinHashSigExpr == explode+min on edge documents") {
    // a repeated shingle, multi-byte UTF-8 tokens, exactly k and k-1
    // tokens, leading/trailing/double spaces (empty tokens)
    val edge = Seq(
      "a b a b a b a b", "x y z x y z x y z",
      "\u00e9t\u00e9 \u00df \u65e5\u672c\u8a9e \u00fc \u00e9t\u00e9 \u00df \u65e5\u672c\u8a9e",
      "one two three", "one two", " lead a b", "trail a b ", "a  b c", "  ")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (k <- Seq(3, 5)) {
      val ref = minHashRef(edge, k, 16)
      val fast = minHashFast(edge, k, 16)
      // docs under k tokens: no reference row, an empty signature
      assert(fast.filter(_._2.nonEmpty) == ref)
      assert(fast.values.forall(s => s.isEmpty || s.size == 16))
    }
  }

  test("text kernels plan without interpreted higher-order functions") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform}
    def hofs(df: DataFrame) = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case e @ (_: ArrayAggregate | _: ArrayTransform | _: ArrayFilter) => e }))
    val native = docs.select(
      TextOps.fingerprint(col("text")),
      TextOps.alphaWordCount(TextOps.tokens(col("text"))),
      TextExpressions.minHashSig(col("text"), 5, 64))
    assert(hofs(native).isEmpty, native.queryExecution.optimizedPlan)
    // the check sees the lambdas of the references
    assert(hofs(docs.select(fingerprintHof(col("text")),
      alphaWordCountHof(TextOps.tokens(col("text"))))).size == 3)
  }

  test("RepetitionStatsExpr == explode+count aggregate chain, incl. edge docs") {
    val edge = Seq("one", "a a a", "x y x y x", "").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id() + lit(1000000L))
    val rel = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val w = TextOps.tokens(col("text"))
    val words = rel.select(col("doc_id"), explode(w).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_word_n"), sum(col("c")).as("n_words"))
    val bigrams = rel.select(col("doc_id"),
        explode(zip_with(
          slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => concat_ws(" ", a, b))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top2_n"), sum(col("c")).as("n_bigrams"))
    val ref = words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top_word_n"), col("n_words"),
        coalesce(col("top2_n"), lit(0L)).as("top2_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
    val fast = rel.select(col("doc_id"),
        TextExpressions.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.top_word_n"), col("r.n_words"),
        col("r.top2_n"), col("r.n_bigrams"))
    assert(ref.count() == fast.count())
    assert(ref.exceptAll(fast).count() == 0 && fast.exceptAll(ref).count() == 0)
  }

  test("ShingleKeysFastExpr matches HOF distinct count and set") {
    val cmp = docs.select(
        TextExpressions.shingleKeysFast(col("text"), 3).as("a"),
        TextOps.shinglesFast(col("text"), 3).as("b"))
      .select(size(col("a")).as("na"), size(col("b")).as("nb"),
        size(array_except(col("a"), col("b"))).as("extra"))
    assert(cmp.filter(col("na") =!= col("nb") || col("extra") =!= 0).count() == 0)
  }

  test("QuantizeVec/NormQ/DotQ expressions == HOF vector math") {
    val both = embs.select(
        VectorExpressions.quantizeVec(col("embedding")).as("qe"),
        VectorOps.quantize(col("embedding")).as("qh"))
    assert(both.filter(not(col("qe") === col("qh"))).count() == 0)
    val norms = both.select(
      VectorExpressions.normQ(col("qe")).as("ne"),
      VectorOps.normQ(col("qh")).as("nh"),
      VectorExpressions.dotQ(col("qe"), col("qh")).as("de"),
      VectorOps.dotQ(col("qe"), col("qh")).as("dh"))
    assert(norms.filter(col("ne") =!= col("nh") || col("de") =!= col("dh")).count() == 0)
  }

  test("LshBucketsExpr == per-table HOF lshBucket") {
    val q = embs.select(VectorExpressions.quantizeVec(col("embedding")).as("q"))
    val cmp = q.select(
      VectorExpressions.lshBuckets(col("q"), 4, 4, 64).as("be"),
      array((0 until 4).map(t => VectorOps.lshBucket(col("q"), t, 4, 64)): _*).as("bh"))
    assert(cmp.filter(not(col("be") === col("bh"))).count() == 0)
  }

  test("DocPairsExpr == HOF sorted pair expansion") {
    val ds = Seq(
      Seq((7L, 3L), (2L, 5L), (9L, 1L)),
      Seq((4L, 2L), (1L, 8L)),
      Seq((5L, 5L))
    ).toDF("ds")
    val sorted = array_sort(col("ds"))
    val hof = flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)), y =>
        struct(
          ((x.getField("_1") * lit(1L << 32)) + y.getField("_1")).as("pr"),
          x.getField("_2").as("ma"), y.getField("_2").as("mb")))))
    val rows = ds.select(
        TextExpressions.docPairs(col("ds")).as("a"), hof.as("b"))
      .collect()
    rows.foreach(r => assert(r.get(0) == r.get(1)))
  }

  test("DocPairsExpr rejects ids outside the packable range") {
    val bad = Seq(Seq(((1L << 31), 1L), (1L, 1L))).toDF("ds")
    val e = intercept[Exception] {
      bad.select(TextExpressions.docPairs(col("ds"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("NearestCellsExpr orders cells by exact distance, ties by id") {
    val cents = Array(Array(0L, 0L), Array(10L, 0L), Array(0L, 10L))
    val v = Seq(Seq(1L, 1L)).toDF("q")
    val cells = v.select(VectorExpressions.nearestCells(col("q"), cents, 3))
      .head.getSeq[Long](0)
    // distances (dropping ‖x‖²): c0: 0-0=0... full: |v-c0|²=2, |v-c1|²=82, |v-c2|²=82 → ties on 1,2 by id
    assert(cells == Seq(0L, 1L, 2L))
  }

  test("BigramBucketsExpr == HOF bigram buckets on real documents and edges") {
    import graft.operators.Curation
    val diff = docs.select(
        TextExpressions.bigramBuckets(col("text"), 256).as("a"),
        Curation.bigramBucketsOfWords(split(col("text"), " "), 256).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
    // edges: empty string, single word, trailing space (empty token)
    val edges = Seq("", "one", "a b", "a b ", " a").toDF("text")
    val ediff = edges.select(
        TextExpressions.bigramBuckets(col("text"), 64).as("a"),
        Curation.bigramBucketsOfWords(split(col("text"), " "), 64).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(ediff == 0)
  }

  test("WindowKeysExpr == HOF window keys on real documents and edges") {
    import graft.operators.Curation
    val diff = docs.select(
        TextExpressions.windowKeys(col("text"), 6).as("a"),
        Curation.windowKeysOfWords(split(col("text"), " "), 6).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
    val edges = Seq("", "a b c d e", "a b c d e f", "a b c d e f g", "x x x x x x x x")
      .toDF("text")
    val ediff = edges.select(
        TextExpressions.windowKeys(col("text"), 6).as("a"),
        Curation.windowKeysOfWords(split(col("text"), " "), 6).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(ediff == 0)
  }

  test("edge cases: short docs yield empty shingle/sig arrays") {
    val df = Seq("one two", "a b c").toDF("text")
    val out = df.select(
      size(TextExpressions.minHashSig(col("text"), 3, 16)).as("ns"),
      size(TextExpressions.shingleKeysFast(col("text"), 3)).as("nf")).collect()
    assert(out(0).getInt(0) == 0 && out(0).getInt(1) == 0)
    assert(out(1).getInt(0) == 16 && out(1).getInt(1) == 1)
  }

  test("MkPairStatsExpr == brute-force pair counts, incl. ties and edges") {
    import graft.expressions.SeriesExpressions
    def brute(xs: Seq[Long]): Seq[Long] = {
      val pairs = for (i <- xs.indices; j <- i + 1 until xs.length) yield (xs(i), xs(j))
      Seq(pairs.length.toLong,
        pairs.count { case (a, b) => b > a }.toLong,
        pairs.count { case (a, b) => b < a }.toLong)
    }
    val rng = new scala.util.Random(42)
    val cases: Seq[Seq[Long]] = Seq(
      Seq.empty[Long], Seq(7L), Seq(1L, 1L), Seq(3L, 2L, 1L), Seq(1L, 2L, 3L),
      Seq(5L, 5L, 5L, 5L), Seq(2L, 1L, 2L, 1L, 2L)) ++
      (1 to 20).map(n => Seq.fill(n * 7)(rng.nextInt(10).toLong))
    val df = cases.zipWithIndex.map { case (xs, i) => (i.toLong, xs) }.toDF("id", "xs")
    val got = df.select(col("id"), SeriesExpressions.mkPairStats(col("xs")).as("mk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    cases.zipWithIndex.foreach { case (xs, i) =>
      assert(got(i.toLong) == brute(xs), s"case $i: $xs")
    }
  }
}
