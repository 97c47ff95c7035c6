package graft

import org.apache.spark.sql.functions._
import graft.operators._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dedupExact groups identical content, keeps smallest id") {
    val df = Seq((1L, "x y z"), (2L, "x y z"), (3L, "other")).toDF("id", "text")
    val out = Relational.dedupExact(df, col("text"), col("id"))
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(out(0).fieldIndex("keep_id")) == 1L)
    assert(out(0).getLong(out(0).fieldIndex("n_copies")) == 2L)
  }

  test("jaccardPairs computes exact jaccard on known overlap") {
    // a: shingles {1 2 3, 2 3 4} ; b: {1 2 3, 2 3 5} -> J = 1/3
    val df = Seq((1L, "1 2 3 4"), (2L, "1 2 3 5"), (3L, "9 9 9 9 9")).toDF("id", "text")
    val out = Dedup.jaccardPairs(df, col("id"), col("text"), 3, 30)
      .orderBy("doc_a", "doc_b").collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getDouble(2) == 0.3333)
  }

  test("jaccardPairs maxDf drops hot-shingle candidates (100 TB cap)") {
    // all four docs share one boilerplate shingle ("x y z"); only
    // 1 and 2 also share real content. With the document-frequency
    // cap below the hot shingle's fan-out, the boilerplate posting
    // list is dropped and only the real overlap survives.
    val df = Seq(
      (1L, "x y z a b c d"), (2L, "x y z a b c e"),
      (3L, "x y z p q r s"), (4L, "x y z t u v w")).toDF("id", "text")
    val capped = Dedup.jaccardPairs(df, col("id"), col("text"), 3, 20, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
    // without the cap the boilerplate shingle links everything
    val uncapped = Dedup.jaccardPairs(df, col("id"), col("text"), 3, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size > 1)
  }

  test("editDistancePairs: anchor-token blocking, distance cutoff, block cap") {
    // 1-2: same first token, 2 char edits -> pair (dist 2)
    // 3-4: DIFFERENT first token (typo in the anchor) but same last
    //      token -> caught by the second blocking pass
    // 5-6: same block but beyond maxDist -> confirmed away
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta thetb"),
      (3L, "storm quick brown fox jumps over the lazy dog"),
      (4L, "strom quick brown fox jumps over the lazy dog"),
      (5L, "zzz completely different content here now ok"),
      (6L, "zzz nothing alike other content pieces really")).toDF("id", "text")
    val out = Dedup.editDistancePairs(df, col("id"), col("text"),
        prefixLen = 64, lenBand = 8, maxDist = 6, maxBlockDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 1L), (3L, 4L, 2L)))
    // a viral anchor token: cap the block and no pair survives it
    val hot = Seq.tabulate(8)(i => (10L + i, s"same same same same x$i")).toDF("id", "text")
    val capped = Dedup.editDistancePairs(hot, col("id"), col("text"),
      maxDist = 64, maxBlockDf = 4)
    assert(capped.count() == 0)
  }

  test("minhashPairs: identical docs agree on all signature components") {
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "z y x w v u t"))
      .toDF("id", "text")
    val out = Dedup.minhashPairs(df, col("id"), col("text"), 3, 16, 4, 8).collect()
    assert(out.length == 1)
    assert(out(0).getLong(out(0).fieldIndex("n_match")) == 16L)
    assert(out(0).getDouble(out(0).fieldIndex("est_sim")) == 1.0)
  }

  test("minhashPairs: permutations differ, so Jaccard-0.5 docs match on some components only") {
    // a = t0..t16 (15 word 3-grams); b keeps t0..t11 and appends 5
    // new words: 10 shared 3-grams of 20 distinct -> J = 0.5. With
    // every permutation keeping the same shingle the signatures agree
    // on all 64 components or on none.
    val a = (0 to 16).map(i => s"t$i").mkString(" ")
    val b = ((0 to 11).map(i => s"t$i") ++ (0 to 4).map(i => s"u$i")).mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val out = Dedup.minhashPairs(df, col("id"), col("text"), 3, 64, 64, 1).collect()
    assert(out.length == 1, "one shared component should make the pair a candidate")
    val nMatch = out(0).getLong(out(0).fieldIndex("n_match"))
    assert(nMatch > 0L && nMatch < 64L, s"n_match = $nMatch")
  }

  test("minhashPairs: hot-band cap bounds a block of identical docs") {
    // 1000 byte-identical boilerplate docs collide in EVERY band —
    // uncapped that is 1000*999/2 candidates from each band bucket.
    // With the cap those buckets are dropped before any pair exists,
    // while a small genuine near-dup bucket still pairs.
    val boiler = (1L to 1000L).map(i => (i, "common boilerplate text repeated everywhere"))
    val pair = Seq((2001L, "a rare document about diffraction peaks"),
      (2002L, "a rare document about diffraction peaks"))
    val df = (boiler ++ pair).toDF("id", "text")
    val capped = Dedup.minhashPairs(df, col("id"), col("text"), 3, 16, 4, 8,
        maxBandDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((2001L, 2002L)))
    // suggestedBandDfCap gives a usable default
    assert(Dedup.suggestedBandDfCap(1000000L) >= 1000)
  }

  test("simhash: equal text equal hash; disjoint vocab differs") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "delta epsilon zeta"))
      .toDF("id", "text")
    val hs = df.select(TextOps.tokenHashes(col("text")).as("hs"))
      .select(TextOps.simHashFromHashes(col("hs"))).as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("fingerprint is order-sensitive") {
    val df = Seq("a b c", "c b a").toDF("text")
    val fp = df.select(TextOps.fingerprint(col("text"))).as[Long].collect()
    assert(fp(0) != fp(1))
  }

  test("markerCount counts only marker tokens") {
    val df = Seq("the cat sat on a mat the end").toDF("text")
    val n = df.select(TextOps.markerCount(col("text"), Seq("a", "the"))).as[Long].head()
    assert(n == 3L)
  }

  test("fuzzyContamination flags the near-copy, not the unrelated doc") {
    // eval doc: 30 tokens; near-copy: ONE token edited (no shared-
    // shingle test would miss it, but a k=3 edit kills 3 of 28
    // shingles — the minhash mins survive and the bands collide,
    // verified deterministic under the portable md5 perm scheme)
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val nearCopy = base.replace("w5", "ZZZ")
    val eval_ = Seq((100L, base)).toDF("id", "text")
    val corpus = Seq(
      (1L, nearCopy),
      (2L, (0 until 30).map(i => s"u$i").mkString(" "))).toDF("id", "text")
    val out = Dedup.fuzzyContamination(corpus, eval_, col("id"), col("text"),
      k = 3, numPerms = 16, bands = 4, minMatch = 6).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L))
    val r = out.head
    assert(r.getLong(1) == 100L)
    assert(r.getLong(r.fieldIndex("n_match")) >= 6L)
  }

  test("bloomContamination equals the exact audit and prefilters map-side") {
    // 40 corpus docs, 4 eval docs; docs 1..8 share a 3-gram with eval
    val eval_ = (0 until 4)
      .map(e => (1000L + e, s"shared$e gram$e tail$e plus unique$e words$e here$e"))
      .toDF("id", "text")
    val corpus = (1L to 40L).map { i =>
      val txt =
        if (i <= 8) s"prefix$i shared${i % 4} gram${i % 4} tail${i % 4} suffix$i"
        else s"own$i text$i with$i no$i overlap$i at$i all$i"
      (i, txt)
    }.toDF("id", "text")
    val exact = Dedup.contamination(corpus, eval_, col("id"), col("text"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val bloom = Dedup.bloomContamination(corpus, eval_, col("id"), col("text"), k = 3)
    val got = bloom.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(exact.nonEmpty && got == exact) // sketch invisible in the answer
    // the sketch filter sits in the plan (map-side prefilter, pre-join)
    assert(bloom.queryExecution.executedPlan.toString.toLowerCase
      .contains("bloommightcontain"))
    // tighter fpp changes nothing semantically
    val tight = Dedup.bloomContamination(corpus, eval_, col("id"), col("text"),
      k = 3, fpp = 0.0001).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(tight == exact)
  }

  test("bm25: coverage and idf order the ranking; ties break by doc_id") {
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // both query terms
      (2L, "alpha zeta eta theta"),          // one common term
      (3L, "beta iota kappa lambda"),        // one RARE term (beta df=2, alpha df=3)
      (4L, "alpha mu nu xi"),                // one common term — tie with doc 2
      (5L, "omicron pi rho sigma")).toDF("id", "text")
    val out = Retrieval.bm25TopK(docs, col("id"), col("text"),
        Seq((7L, "alpha beta")), topK = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L, 4L)) // coverage > rare > common; tie 2<4
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L)) // dense ranks
    val s = out.map(t => t._2 -> t._3).toMap
    assert(s(3L) > s(2L) && s(2L) == s(4L)) // idf(beta) > idf(alpha); equal docs tie exactly
    // doc 5 matches nothing and never appears
    assert(!out.exists(_._2 == 5L))
  }

  test("gopher line stats: bullets, ellipses, alpha words, symbols") {
    val text = "- first item\n* second\nplain line\nwait for it...\ntag ## x....."
    val df = Seq(text).toDF("text")
    val r = df.select(
      TextOps.bulletLineCount(TextOps.lineArray(col("text"))).as("b"),
      TextOps.ellipsisLineCount(TextOps.lineArray(col("text"))).as("e"),
      TextOps.alphaWordCount(TextOps.tokens(regexp_replace(col("text"), "\n", " "))).as("a"),
      TextOps.symbolCount(col("text")).as("s")).head()
    assert(r.getLong(0) == 2L) // "- first item", "* second"
    assert(r.getLong(1) == 2L) // "wait for it..." and "tag ## x....." both end in "..."
    // words: - first item * second plain line wait for it... tag ## x.....
    // alpha: first item second plain line wait for it... tag x..... = 10
    assert(r.getLong(2) == 10L)
    // symbols: two '#' + "..." runs: "it..." has 1, "x....." has 1 (non-overlap) = 4
    assert(r.getLong(3) == 4L)
  }

  test("gopher: ellipsis-terminal line with 5 dots still matches; bullet needs the space") {
    val df = Seq("-tight bullet\nends.....").toDF("text")
    val r = df.select(
      TextOps.bulletLineCount(TextOps.lineArray(col("text"))).as("b"),
      TextOps.ellipsisLineCount(TextOps.lineArray(col("text"))).as("e")).head()
    assert(r.getLong(0) == 0L) // "-tight" is a word, not a bullet marker
    assert(r.getLong(1) == 1L)
  }

  test("stratifiedSample: rates nest and unlisted strata take the default") {
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "rare"))
    val df = rows.toDF("id", "lang")
    def kept(rates: Seq[(String, Int)], dflt: Int): Set[Long] =
      Sampling.stratifiedSample(df, col("id"), col("lang"), rates, dflt)
        .select("id").as[Long].collect().toSet
    val small = kept(Seq("en" -> 10), 100)
    val big = kept(Seq("en" -> 40), 100)
    // all rare rows kept in both (default 100)
    assert(rows.filter(_._2 == "rare").map(_._1).forall(small.contains))
    // en samples NEST: the 10% en sample is a subset of the 40% one
    val smallEn = small.filter(_ % 2 == 0)
    val bigEn = big.filter(_ % 2 == 0)
    assert(smallEn.subsetOf(bigEn))
    // and the rate is roughly honoured (hash-uniform: 10% of 1000 ± wide slack)
    assert(smallEn.size > 40 && smallEn.size < 250)
    assert(bigEn.size > smallEn.size)
    // deterministic: re-evaluation returns the identical set
    assert(kept(Seq("en" -> 10), 100) == small)
  }

  test("htmlToText: tags keep word boundaries, entities decode once, whitespace collapses") {
    import graft.operators.TextOps
    val rows = Seq(
      ("<p>a</p><p>b</p>", "a b"), // tag -> space, then collapse
      ("x<br/>y", "x y"), // void tag is still a boundary
      ("a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; c&nbsp;d", // named set
        "a & b <tag> \"q\" 's' c d"),
      ("&amp;lt;", "&lt;"), // double-escape decodes ONCE (&amp; last)
      ("  <div  class='x'> padded   </div>  ", "padded"))
    rows.foreach { case (in, want) =>
      val got = Seq(in).toDF("h").select(TextOps.htmlToText(col("h"))).collect()(0).getString(0)
      assert(got === want, s"in=$in")
    }
  }

  test("repairEncoding: longest-first table repairs prefix-colliding sequences") {
    import graft.operators.TextOps
    // literals built from escapes — the 0x9D form contains an
    // INVISIBLE control character that raw source text would mangle
    val rows = Seq(
      ("cafÃ©", "café"), // cafÃ© -> café
      // â€ (truncated) is a PREFIX of â€™ and â€œ — longest first
      ("donâ€™t say â€œhiâ€",
        "don’t say “hi”"),
      // the faithful cp1252 0x9D passthrough form
      ("xâ€y", "x”y"),
      ("GrÃ¶n", "Grön"),
      ("plain ascii", "plain ascii"))
    rows.foreach { case (in, want) =>
      val got = Seq(in).toDF("t").select(TextOps.repairEncoding(col("t"))).collect()(0).getString(0)
      assert(got === want, s"in=$in")
    }
  }

  test("sourceOverlap: bitmask fast path pins counts; matches the set fallback") {
    import graft.operators.Dedup
    // k = 3 word shingles: s1 = {abc, bcd}, s2 = {abc, bcx},
    // s3 = {zzz} (duplicate shingle instances dedupe). Expected:
    // m = (2, 2, 1); only (s1, s2) overlap, inter = 1,
    // containment = 1e6 / 2.
    val d = Seq(
      (1L, "a b c d", "s1"),
      (2L, "a b c x", "s2"),
      (3L, "z z z z", "s3")).toDF("doc_id", "text", "source")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val fast = asMap(Dedup.sourceOverlap(d, col("source"), col("text"), 3))
    assert(fast === Map(("s1", "s2") -> ((1L, 2L, 2L, 500000L))))
    // forcing the set-materializing fallback gives identical rows
    val slow = asMap(Dedup.sourceOverlap(d, col("source"), col("text"), 3,
      maxMaskSources = 0))
    assert(slow === fast)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("sourceOverlap: empty corpus returns the empty 6-col matrix (r12 ADVICE)") {
    import graft.operators.Dedup
    val d = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    // zero distinct sources previously crashed the bitmask branch on
    // aggCols.head; both paths must return an empty, correctly-typed DF
    val fast = Dedup.sourceOverlap(d, col("source"), col("text"), 3)
    assert(fast.columns.toSeq ===
      Seq("src_a", "src_b", "inter", "m_a", "m_b", "containment_ppm"))
    assert(fast.count() === 0L)
    val slow = Dedup.sourceOverlap(d, col("source"), col("text"), 3,
      maxMaskSources = 0)
    assert(slow.count() === 0L)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("bloomContamination: sketch size guard fails fast past the ceiling") {
    import graft.operators.Dedup
    val eval_ = Seq((1L, "a b c d e f")).toDF("id", "text")
    val corpus = Seq((2L, "a b c x y z")).toDF("id", "text")
    // a 4-byte ceiling is unsatisfiable for any key count: the guard
    // must fire BEFORE the sketch builds, naming the escape hatch
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomContamination(corpus, eval_, col("id"), col("text"), k = 3,
        maxSketchBytes = 4L)
    }
    assert(e.getMessage.contains("sc.broadcast"))
    // generous ceiling unchanged semantics
    val ok = Dedup.bloomContamination(corpus, eval_, col("id"), col("text"), k = 3)
    assert(ok.columns.toSeq === Seq("doc_id", "n_shared"))
  }
}
