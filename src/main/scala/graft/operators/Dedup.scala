package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over a document corpus — the candidate-
  * pair generators every large-scale training-data pipeline needs.
  *
  * Scale design (SURVEY.md §5): NEVER an all-pairs product. Jaccard
  * joins on shared shingle digests (only docs sharing a shingle meet);
  * MinHash-LSH joins on band keys (only probable-similar docs meet).
  * Both shuffle fixed-width digests, not document payloads, and both
  * end in a pair-keyed aggregate with map-side combine. At 100 TB the
  * only extra step would be dropping ultra-common shingles
  * (document-frequency cap) to bound hot-key fan-out.
  */
object Dedup {

  /** Exploded (id, shingle-key) relation, distinct per doc, over
    * engine-local xxhash64 keys (see [[TextOps.shinglesFast]]; the
    * native expression hashes each shingle exactly once per row).
    */
  private def shingleRel(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val shl = graft.expressions.TextExpressions.shingleKeysFast(text, k)
    docs.select(id.as("doc_id"), shl.as("shl"))
      .select(col("doc_id"), explode(col("shl")).as("h"),
        size(col("shl")).cast("long").as("m"))
  }

  /** Candidate pairs with exact Jaccard over distinct word k-grams,
    * keeping pairs with jaccard >= thresholdPct/100 (threshold applied
    * in exact integer arithmetic; `jaccard` rounded half-up to 4).
    *
    * The per-doc shingle count `m` is carried THROUGH the explode and
    * the key join, so the plan is exactly: explode → self-join on the
    * 8-byte shingle key → one pair-keyed aggregate. No re-derivation
    * joins, no all-pairs product anywhere.
    */
  /** Scale knob for [[jaccardPairs]]' `maxDf`: a shingle in f docs
    * emits f·(f−1)/2 pairs, so the cap bounds per-shingle fan-out to
    * ~`maxPairsPerShingle`. Shingles above the cap are boilerplate:
    * the pairs they generate are overwhelmingly below any useful
    * similarity threshold (two documents that are truly near-dups
    * share many rarer shingles and still meet), so dropping them
    * trades negligible recall for the quadratic fan-out. Left
    * OFF (0) in the oracle-gated queries because the SQL oracle
    * cannot mirror the cap; turn it on for production corpora.
    */
  def suggestedDfCap(maxPairsPerShingle: Long = 1000000L): Int =
    math.max(2, math.ceil(math.sqrt(2.0 * maxPairsPerShingle)).toInt)

  /** Shared candidate-pair intersection stage of [[jaccardPairs]] and
    * [[jaccardSurvival]]: (pr packed pair key, inter, ma, mb) for
    * every doc pair sharing ≥ 1 shingle key.
    */
  private def jaccardPairInter(docs: DataFrame, id: Column, text: Column,
                               k: Int, maxDf: Int): DataFrame = {
    // Jaccard only compares shingle keys for equality, so the cheap
    // engine-local hash is correct here (collisions: ~n²/2^64).
    // Group-join shape instead of a self-join: the expensive shingle
    // derivation runs ONCE, pairs are emitted from each shingle's
    // sorted doc list. `maxDf > 0` drops ultra-common shingles — the
    // hot-key cap a 100 TB corpus needs (a shingle in f docs emits
    // f²/2 pairs; web-scale boilerplate shingles would dominate the
    // shuffle while contributing nothing to high-similarity pairs).
    val sh = shingleRel(docs, id, text, k)
    val grouped = sh.groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("m"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val capped = if (maxDf > 0) grouped.filter(size(col("ds")) <= maxDf) else grouped
    // Native pair fan-out (tight loops, packed single-long pair key —
    // see DocPairsExpr); the intersection count groups by one long.
    // Explicit partition count before the fan-out: AQE coalesces the
    // posting-list stage by BYTES, blind to the f²/2 pairs each list
    // emits — a coalesced-to-one stage serializes the fan-out (see
    // editDistancePairs; measured +0.4 s on this gate at sf0.1).
    capped
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(graft.expressions.TextExpressions.docPairs(col("ds"))).as("p"))
      .select(col("p.pr").as("pr"), col("p.ma").as("ma"), col("p.mb").as("mb"))
      // group on the ONE packed long; ma/mb are functions of pr, so
      // max() just carries them — the pair shuffle hashes a single
      // 8-byte key instead of a 3-column row
      .groupBy(col("pr"))
      .agg(count(lit(1)).as("inter"), max(col("ma")).as("ma"), max(col("mb")).as("mb"))
  }

  /** Public handle on the shared candidate stage: (pr packed pair
    * key, inter, ma, mb) for every doc pair sharing ≥ 1 shingle —
    * the input every [[jaccardPairsFrom]]-family scorer filters.
    * Exposed so a session can materialize it ONCE and fan the seven
    * Jaccard-family gates off the same relation
    * ([[graft.SharedRelations.docPairCounts3]]): the pair stage is
    * the corpus-scale cost (shingle explode + h-shuffle + pair
    * aggregate); every downstream threshold/bucket/CC consumer is
    * pair-domain sized.
    */
  def pairCounts(docs: DataFrame, id: Column, text: Column,
                 k: Int, maxDf: Int = 0): DataFrame =
    jaccardPairInter(docs, id, text, k, maxDf)

  /** [[jaccardPairs]] over a precomputed [[pairCounts]] relation. */
  def jaccardPairsFrom(inter: DataFrame, thresholdPct: Int): DataFrame = {
    val uni = col("ma") + col("mb") - col("inter")
    inter
      .filter(col("inter") * 100 >= uni * thresholdPct)
      .select(shiftrightunsigned(col("pr"), 32).as("doc_a"),
        col("pr").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"),
        Exact.roundedRatio(col("inter"), uni, 4).as("jaccard"))
  }

  def jaccardPairs(docs: DataFrame, id: Column, text: Column,
                   k: Int, thresholdPct: Int, maxDf: Int = 0): DataFrame =
    jaccardPairsFrom(jaccardPairInter(docs, id, text, k, maxDf), thresholdPct)

  /** Containment / overlap-coefficient near-dup pairs:
    * |A∩B| / min(|A|,|B|) over the SAME capped group-join candidate
    * stage as [[jaccardPairs]]. Containment is the right signal when
    * one document embeds another (quote inclusion, boilerplate
    * wrapping): a short doc fully contained in a long one scores 1.0
    * where Jaccard dilutes toward |A|/|B|. Lee et al. 2021 use
    * exactly this asymmetry to catch partial-duplication that
    * symmetric Jaccard misses. Same exact HALF_UP ratio discipline.
    */
  /** [[containmentPairs]] over a precomputed [[pairCounts]] relation. */
  def containmentPairsFrom(inter: DataFrame, thresholdPct: Int): DataFrame = {
    val denom = least(col("ma"), col("mb"))
    inter
      .filter(col("inter") * 100 >= denom * thresholdPct)
      .select(shiftrightunsigned(col("pr"), 32).as("doc_a"),
        col("pr").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"),
        Exact.roundedRatio(col("inter"), denom, 4).as("containment"))
  }

  def containmentPairs(docs: DataFrame, id: Column, text: Column,
                       k: Int, thresholdPct: Int, maxDf: Int = 0): DataFrame =
    containmentPairsFrom(jaccardPairInter(docs, id, text, k, maxDf), thresholdPct)

  /** Cross-source shingle-overlap matrix: for every source pair, the
    * count of shared DISTINCT shingle keys and the containment share
    * |A∩B|/min(|A|,|B|) in exact ppm — the corpus-audit view of
    * inter-source duplication (which crawls/feeds overlap, and how
    * much). Two shapes by source-domain size: a bitmask fast path
    * (every source a bit, one h-keyed bit_or + one single-row count
    * aggregate — no sets, no persist) under [[MaxMaskSources]], and
    * the set-materializing group-join past it. Both are bounded by
    * sources²/2 per shingle — never corpus² — and produce the same
    * sources²-row matrix at any corpus size. Wall-clock note (r11):
    * both shapes measure ~0.75 s at the sf0.1 bench point — the cost
    * is the corpus-wide shingle explode + h-shuffle that exact
    * distinct counting needs, not the set materialization; the
    * bitmask path wins on memory (one long per h in the partials vs
    * a source array) and on hygiene (no harness-owned persist).
    */
  /** Source-count bound for [[sourceOverlap]]'s bitmask fast path:
    * S sources need S + S(S−1)/2 aggregate columns (300 at 24) —
    * past it the set-materializing path runs instead. The source
    * domain is a feed CATALOG, not data: real corpora have tens of
    * feeds at most, so the fast path is the 100 TB shape. */
  private val MaxMaskSources = 24

  /** @param catalog the sorted distinct source list, when the caller
    *                 already holds it (a feed catalog is metadata —
    *                 the gate caches it per session via
    *                 [[graft.SharedRelations.cachedValue]], r12
    *                 verdict item 2: the in-gate distinct+collect
    *                 probe was one of the gate's two jobs). None →
    *                 probe the corpus here. */
  def sourceOverlap(docs: DataFrame, source: Column, text: Column, k: Int,
                    maxMaskSources: Int = MaxMaskSources,
                    catalog: Option[Seq[String]] = None): DataFrame = {
    val rel = docs.select(source.as("source"),
      explode(graft.expressions.TextExpressions.shingleKeysFast(text, k)).as("h"))
    // the source catalog (model-sized, sorted for the canonical a < b
    // pair order)
    val srcs = catalog.getOrElse(docs.select(source.as("source")).distinct()
      .collect().map(_.getString(0)).toSeq).sorted
    if (srcs.isEmpty) {
      // Zero distinct sources (empty corpus): the bitmask branch
      // below would build an empty aggregate list and crash on
      // aggCols.head — return the empty 6-col matrix directly.
      val s0 = docs.sparkSession
      import s0.implicits._
      return Seq.empty[(String, String, Long, Long, Long, Long)]
        .toDF("src_a", "src_b", "inter", "m_a", "m_b", "containment_ppm")
    }
    if (srcs.length > maxMaskSources) return sourceOverlapSets(rel)
    // Bitmask shape: ONE h-keyed bit_or aggregate (idempotent under
    // duplicate (source, h) rows, map-side combined to one long per h
    // per task — no set materialization, no persist), then ONE
    // single-row aggregate reads every per-source count and pair
    // intersection off the masks. Two jobs total; the corpus shuffles
    // (h, mask) once, never arrays.
    val bitExpr = srcs.zipWithIndex.foldLeft(lit(0L)) { case (acc, (s, i)) =>
      when(col("source") === s, lit(1L << i)).otherwise(acc)
    }
    val masks = rel.groupBy(col("h")).agg(bit_or(bitExpr).as("mask"))
    def bitAt(i: Int) = shiftrightunsigned(col("mask"), i).bitwiseAND(lit(1L))
    val ij = for { i <- srcs.indices; j <- srcs.indices if i < j } yield (i, j)
    val aggCols = srcs.indices.map(i => sum(bitAt(i)).cast("long").as(s"m_$i")) ++
      ij.map { case (i, j) =>
        sum(bitAt(i).bitwiseAND(bitAt(j))).cast("long").as(s"x_${i}_$j") }
    val spark = docs.sparkSession
    import spark.implicits._
    val row = masks.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val out =
      if (row.isNullAt(0)) Seq.empty // no shingles at all
      else {
        val m = srcs.indices.map(i => row.getLong(i))
        ij.zipWithIndex.flatMap { case ((i, j), x) =>
          val inter = row.getLong(srcs.length + x)
          if (inter > 0)
            Some((srcs(i), srcs(j), inter, m(i), m(j),
              (BigInt(inter) * 1000000 / BigInt(math.min(m(i), m(j)))).toLong))
          else None
        }
      }
    out.toDF("src_a", "src_b", "inter", "m_a", "m_b", "containment_ppm")
  }

  /** Set-materializing fallback past [[MaxMaskSources]]: the r10
    * h-keyed collect_set shape. Lifecycle is HARNESS-OWNED, as for
    * pageRankPico: the returned plan is lazy, so the persisted
    * grouped relation can only be freed after the caller's action —
    * Bench/Verify sweep all persistent RDDs post-action; a long-lived
    * session embedding this path must do the same (r9 ADVICE).
    */
  private def sourceOverlapSets(rel: DataFrame): DataFrame = {
    val hs = rel
      .groupBy(col("h"))
      .agg(array_sort(collect_set(col("source"))).as("ss"))
      .persist()
    val m = hs.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("m"))
    val pairs = hs
      .filter(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(m.select(col("source").as("src_a"), col("m").as("m_a"))), "src_a")
      .join(broadcast(m.select(col("source").as("src_b"), col("m").as("m_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"), col("m_a"), col("m_b"),
        Binning.floorDivCol(col("inter") * lit(1000000L),
          least(col("m_a"), col("m_b"))).as("containment_ppm"))
  }

  /** Dedup threshold-tuning curve: candidate pairs histogrammed by
    * Jaccard decile — the "how many pairs would each threshold kill"
    * sweep run BEFORE committing to a similarity cutoff (one pass
    * answers every threshold at once, instead of re-running the pair
    * stage per candidate threshold). Buckets are computed in exact
    * integer arithmetic (`(10·inter) div union`, so bucket b ⇔
    * j ∈ [b/10, (b+1)/10)); jaccard = 1 lands in bucket 10.
    * Candidate pairs share ≥ 1 shingle, so bucket 0 counts only
    * pairs with SOME overlap — disjoint pairs never materialize.
    * Same capped, never-all-pairs shape as [[jaccardPairs]].
    */
  /** [[jaccardSurvival]] over a precomputed [[pairCounts]] relation. */
  def jaccardSurvivalFrom(inter: DataFrame): DataFrame = {
    val uni = col("ma") + col("mb") - col("inter")
    inter
      .groupBy(Binning.floorDivCol(col("inter") * 10, uni).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bucket"), col("n_pairs"))
  }

  def jaccardSurvival(docs: DataFrame, id: Column, text: Column,
                      k: Int, maxDf: Int = 0): DataFrame =
    jaccardSurvivalFrom(jaccardPairInter(docs, id, text, k, maxDf))

  /** Train/eval contamination check (decontamination): flags every
    * corpus document sharing at least one word k-gram with the
    * held-out evaluation set, with the count of distinct shared
    * shingles — the overlap audit run before any benchmark score is
    * trusted.
    *
    * Scale: the eval side is tiny by definition, so its DISTINCT
    * shingle keys broadcast and the corpus side never shuffles — one
    * map-side hash join over exploded 8-byte keys, then one
    * corpus-doc-keyed aggregate. Real pipelines use k of 8–13; the
    * key hash is engine-local (only within-engine equality matters).
    *
    * @return (doc_id, n_shared) for contaminated corpus docs only
    */
  def contamination(corpus: DataFrame, eval_ : DataFrame,
                    id: Column, text: Column, k: Int): DataFrame = {
    val evKeys = eval_
      .select(explode(graft.expressions.TextExpressions.shingleKeysFast(text, k)).as("h"))
      .distinct()
    corpus
      .select(id.as("doc_id"),
        explode(graft.expressions.TextExpressions.shingleKeysFast(text, k)).as("h"))
      .join(broadcast(evKeys), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("h")).as("n_shared"))
  }

  /** Ceiling on the serialized Bloom sketch [[bloomContamination]]
    * ships inside its filter EXPRESSION (and hence inside the task
    * binary of every stage referencing it). At fpp 0.01 the sketch
    * costs ~1.2 bytes per distinct eval key, so 64 MiB admits ~55M
    * keys — ample for eval suites and curated blocklists. Past it,
    * don't raise the ceiling: move the sketch to an `sc.broadcast`
    * (one copy per executor, torrent-distributed) behind an
    * expression that reads the broadcast handle, or shard the
    * blocklist and run the audit per shard.
    */
  val MaxBloomSketchBytes: Long = 64L << 20

  /** Bloom-prefiltered decontamination — [[contamination]] for the
    * regime where the held-out/blocklist key set is itself too large
    * to broadcast exactly (a 100 TB run auditing against a big eval
    * suite or a multi-TB blocklist corpus). The eval keys are folded
    * into a Bloom sketch (distributed treeAggregate via
    * `stat.bloomFilter`) whose size is NOT constant — it is linear in
    * the key count at ~1.2 bytes/key for fpp 0.01 (bits =
    * −n·ln fpp / ln²2) — so the build is guarded by
    * [[MaxBloomSketchBytes]]: the sketch rides the scan INSIDE the
    * filter expression (shipped with every stage's task binary), and
    * a 10⁹-key blocklist would silently serialize ~1.2 GB into every
    * task. Under the ceiling the sketch rides as a map-side
    * native-expression filter, and only the surviving corpus slice —
    * true hits + ~fpp false positives — enters the exact confirm
    * join. False positives are removed there, so the result is
    * IDENTICAL to the exact audit; what changes is the shuffle: the
    * confirm join moves `fpp × corpus + hits` keys instead of either
    * broadcasting an unbounded eval table or shuffling every corpus
    * shingle. The eval keys materialize ONCE (eager localCheckpoint —
    * they are read three times: count, sketch build, confirm join;
    * at bench scale the wall delta is noise because the eval slice is
    * tiny, but at the operator's stated regime — an eval/blocklist
    * set too big to broadcast — each avoided re-derivation is a full
    * explode + distinct over it); blocks are freed by the
    * ContextCleaner when the result is collected, the same lifecycle
    * as the k-truss rounds.
    *
    * @return (doc_id, n_shared) — identical to [[contamination]]
    */
  def bloomContamination(corpus: DataFrame, eval_ : DataFrame,
                         id: Column, text: Column, k: Int,
                         fpp: Double = 0.01,
                         maxSketchBytes: Long = MaxBloomSketchBytes): DataFrame = {
    val evKeys = eval_
      .select(explode(graft.expressions.TextExpressions.shingleKeysFast(text, k)).as("h"))
      .distinct()
      .localCheckpoint()
    val nKeys = math.max(evKeys.count(), 1L)
    // size guard BEFORE building: predicted bits = −n·ln(fpp)/ln²2
    // (the optimal-m formula stat.bloomFilter allocates by) — fail
    // fast instead of materializing a multi-GB array first
    val predictedBytes =
      (-nKeys * math.log(fpp) / (math.log(2) * math.log(2)) / 8).toLong + 64
    require(predictedBytes <= maxSketchBytes,
      s"bloomContamination: sketch for $nKeys keys at fpp $fpp would " +
        s"serialize ~$predictedBytes bytes (> $maxSketchBytes ceiling) " +
        "into the filter expression and every stage's task binary. Use an " +
        "sc.broadcast-backed membership test or shard the blocklist instead.")
    val bloom = evKeys.stat.bloomFilter("h", nKeys, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    require(bytes.length <= maxSketchBytes,
      s"bloomContamination: serialized sketch ${bytes.length} bytes " +
        s"exceeds the $maxSketchBytes ceiling — use sc.broadcast or shard")
    corpus
      .select(id.as("doc_id"),
        explode(graft.expressions.TextExpressions.shingleKeysFast(text, k)).as("h"))
      .filter(graft.expressions.SketchExpressions.bloomMightContain(col("h"), bytes))
      // exact confirm: size-selected join (AQE broadcasts when the eval
      // side is small; stays a shuffle join over the surviving slice
      // when it is not) — never forced either way
      .join(evKeys, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("h")).as("n_shared"))
  }

  /** Fuzzy (MinHash/LSH) train/eval decontamination: flags corpus
    * documents NEAR-duplicating any held-out eval document — the
    * leakage [[contamination]]'s exact shingle intersection is blind
    * to once a duplicate is lightly edited past the shared-k-gram
    * test, and the pass production pipelines run alongside it
    * (near-verbatim benchmark rephrasings).
    *
    * Same candidate discipline as [[minhashPairs]]: docs meet only
    * through shared LSH band keys — never corpus × eval. The eval
    * side is tiny by definition, so its band keys AND signatures
    * broadcast; the corpus side computes signatures per-row (one
    * pass, no shuffle) and map-side-joins the broadcast bands. The
    * only shuffle is the (doc, eval) pair dedup over actual band
    * hits, which is bounded by true near-dup mass, not corpus size.
    *
    * @return (doc_id, eval_id, n_match, est_sim) for candidate pairs
    *         agreeing on >= minMatch of numPerms signature components
    */
  def fuzzyContamination(corpus: DataFrame, eval_ : DataFrame,
                         id: Column, text: Column, k: Int,
                         numPerms: Int, bands: Int, minMatch: Int): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into equal bands")
    def sigRel(df: DataFrame, idName: String, sigName: String): DataFrame =
      df.select(id.as(idName),
          graft.expressions.TextExpressions.minHashSig(text, k, numPerms).as(sigName))
        .filter(size(col(sigName)) > 0)
    val evBands = sigRel(eval_, "eval_id", "se")
      .select(col("eval_id"), col("se"),
        explode(bandKeys(col("se"), numPerms, bands)).as("bd"))
      .select(col("eval_id"), col("se"),
        col("bd.band").as("band"), col("bd.bh").as("bh"))
    val corpusBands = sigRel(corpus, "doc_id", "sc")
      .select(col("doc_id"), col("sc"),
        explode(bandKeys(col("sc"), numPerms, bands)).as("bd"))
      .select(col("doc_id"), col("sc"),
        col("bd.band").as("band"), col("bd.bh").as("bh"))
    // a pair sharing several bands hits once per band: dedup on the
    // pair key; the signatures ride along (functions of the keys)
    val cand = corpusBands.join(broadcast(evBands), Seq("band", "bh"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(first(col("sc")).as("sc"), first(col("se")).as("se"))
    val matches = aggregate(
      zip_with(col("sc"), col("se"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (s, v) => s + v)
    cand.select(col("doc_id"), col("eval_id"), matches.as("n_match"))
      .filter(col("n_match") >= minMatch)
      .withColumn("est_sim", col("n_match") / lit(numPerms.toDouble))
  }

  /** Duplicate-cluster resolution: connected components over an
    * undirected near-dup pair list, labelling every member with the
    * smallest doc id reachable from it — the step that turns pair
    * detectors (Jaccard/MinHash/SimHash/embedding) into "keep one
    * per cluster" decisions.
    *
    * Algorithm: min-label propagation to a fixed point. Each
    * iteration is one shuffle join (labels to neighbours) + one
    * min-aggregate; the driver holds only the convergence scalar —
    * never data — so the loop is O(cluster diameter) shuffles over a
    * pair list that near-dup thresholds keep far smaller than the
    * corpus. Near-dup clusters are dense (diameter 2–4 in practice),
    * so 3–5 iterations close web-scale corpora; `maxIters` bounds the
    * pathological chain case. Deterministic: min is order-independent
    * and the fixed point is unique (every node ends at its component
    * minimum).
    *
    * Convergence is detected from the total label sum: a node's label
    * only ever decreases (min over old ∪ neighbour labels), so the sum
    * strictly decreases iff any label changed — one narrow aggregate
    * per iteration instead of a self-join diff. Summed as
    * decimal(38,0) so the check survives corpora whose id sums
    * overflow a long. Superseded PERSISTED iterations are freed
    * eagerly (they can recompute via lineage); the periodic
    * localCheckpoints that root that lineage are kept, bounding held
    * label-table copies at ceil(maxIters/4).
    *
    * Pathological diameters: from iteration `jumpAfter` on, each round
    * ALSO pointer-jumps (label(v) ← label(label(v))), so the label
    * horizon doubles per round instead of growing by one — a
    * 10k-node path closes in ~15 rounds instead of 10k. Dense
    * near-dup clusters still converge in the first cheap rounds
    * before the extra join ever runs.
    *
    * The loop runs on a CLONED session (`newSession`: shared
    * SparkContext and cache, private conf), so flipping AQE off for
    * small graphs never affects concurrent queries on the caller's
    * session; the result is handed back on the caller's session.
    *
    * @return (doc_id, cluster_id) for every doc appearing in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 20, jumpAfter: Int = 4,
                          driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    val caller = pairs.sparkSession
    val spark = caller.newSession()
    val edgeRows = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    // re-home the edge list onto the cloned session, materialized once
    // and reused every iteration (cuts plan regrowth too)
    val edges = spark.createDataFrame(edgeRows.rdd, edgeRows.schema).localCheckpoint()
    // For SMALL graphs the loop is many tiny jobs and AQE's per-stage
    // re-planning costs more than it can save (measured ~2x loop
    // latency at 32 threads); for big graphs AQE's skew handling on
    // the label join matters more than stage latency. The edge count
    // is a free read off the checkpointed relation. Set on the CLONED
    // session only.
    val edgeCount = edges.count()
    // empty pair list: nothing to label (and the sum-based convergence
    // scalar would be null) — return the empty result on the caller
    if (edgeCount == 0L)
      return pairs.sparkSession.createDataFrame(
        pairs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            edges.schema("src").dataType),
          org.apache.spark.sql.types.StructField("cluster_id",
            edges.schema("src").dataType))))
    // Driver union-find fast path: candidate pair lists at the tail of
    // a capped LSH/cell stage are usually MINUTE relative to the corpus
    // (hundreds of pairs from 60k docs at sf0.1), and the iterative
    // loop bills 5-10 scheduled jobs to close them — ~3 s of pure
    // overhead measured at local[32]. Under a hard edge bound the exact
    // same fixed point (every node → its component MINIMUM) comes from
    // one collect + union-find + createDataFrame. The distributed loop
    // below is unchanged as the 100 TB path; the bound is rows, not a
    // fraction, so a pathological pair explosion can't pull a corpus
    // through the driver.
    if (edgeCount <= driverMaxEdges) {
      driverUnionFind(edges, caller) match {
        case Some(out) => return out
        case None => () // unordered id type — fall through to the loop
      }
    }
    if (edgeCount < 10000000L)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the convergence aggregate doubles as the action that populates
    // each iteration's cache — one job per iteration, not two
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
    // seed with the best 1-hop label (min of self and direct
    // neighbours) — one aggregate over the checkpointed edges that
    // saves a full propagate+aggregate iteration
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_md"))
      .select(col("src").as("node"), least(col("src"), col("_md")).as("lbl"))
      .persist()
    var prevSum = lblSum(labels)
    var it = 0
    var changed = true
    while (changed && it < maxIters) {
      val nbr = edges
        .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
        .select(col("src").as("node"), col("lbl"))
      var next = labels.union(nbr)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
      var prop: DataFrame = null
      if (it >= jumpAfter) {
        // pointer jump: every label is itself a node (labels are ids
        // drawn from the same edge list), so look its label up and
        // take the better of the two — doubling the effective horizon
        // each round on chain-shaped components.
        prop = next.persist() // referenced twice by the jump join
        next = prop.join(
            prop.select(col("node").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
      }
      // persist (lazy) + the sum action materializes it; periodic
      // localCheckpoint bounds lineage growth on long chains
      next = if (it % 4 == 3) next.localCheckpoint() else next.persist()
      val nextSum = lblSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      // free superseded PERSISTED iterations — they can recompute
      // from lineage if a cached partition goes missing. Checkpointed
      // iterations are lineage ROOTS for everything after them
      // (persist does not truncate lineage): freeing their blocks
      // would make any recompute fail with a missing-checkpoint-block
      // error, so they stay until the ContextCleaner collects the
      // whole chain. Only every 4th iteration checkpoints, so at most
      // ceil(maxIters/4) label-table copies are ever held.
      if (prop != null) prop.unpersist(false)
      if (!isCheckpointBacked(labels)) labels.unpersist(false)
      labels = next
      it += 1
    }
    if (changed)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: not converged after $maxIters iterations — " +
          "returned clusters may be split. Raise maxIters for graphs with " +
          "diameter > maxIters.")
    val out = labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    // hand the result back on the CALLER's session (reads go through
    // the cloned session's persisted labels; plans use caller conf)
    caller.createDataFrame(out.rdd, out.schema)
  }

  /** True when the DataFrame is a materialized localCheckpoint (its
    * logical plan is the bare checkpointed-RDD scan). */
  private def isCheckpointBacked(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Edge bound for the driver union-find fast path in
    * [[connectedComponents]]: 2M doubled arcs ≈ 1M pairs ≈ tens of MB
    * collected — driver model-state scale (the IvfIndex/PqIndex
    * budget), far below any corpus.
    */
  private val DriverCcMaxEdges = 2000000L

  /** Exact min-label components on the driver: union-find with path
    * compression, then each root's component minimum under the id
    * type's natural ordering — the same unique fixed point the
    * distributed loop converges to. Returns None when the id type has
    * no ordering defined here (caller falls back to the loop).
    */
  private def driverUnionFind(edges: DataFrame,
                              caller: org.apache.spark.sql.SparkSession): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val dt = edges.schema("src").dataType
    val ord: Ordering[Any] = dt match {
      case LongType    => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
      case StringType  =>
        // compare by UTF-8 bytes (UTF8String), matching the distributed
        // loop's min/least ordering — java.lang.String's UTF-16 code-unit
        // order diverges for supplementary characters, which would make
        // cluster labels depend on whether the edge count crossed the
        // fast-path bound (r8 advisory)
        new Ordering[Any] {
          def compare(x: Any, y: Any): Int =
            org.apache.spark.unsafe.types.UTF8String
              .fromString(x.asInstanceOf[String])
              .compareTo(org.apache.spark.unsafe.types.UTF8String
                .fromString(y.asInstanceOf[String]))
        }
      case _ => return None
    }
    val rows = edges.collect()
    val idx = new java.util.HashMap[Any, Int](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Any]()
    def id(x: Any): Int =
      if (idx.containsKey(x)) idx.get(x)
      else { idx.put(x, ids.length); ids += x; ids.length - 1 }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def find(a0: Int): Int = {
      var a = a0
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    rows.foreach { r =>
      val a = id(r.get(0)); val b = id(r.get(1))
      while (parent.length < ids.length) parent += parent.length
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
    }
    val minOf = new java.util.HashMap[Int, Any]()
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || ord.lt(ids(i), cur)) minOf.put(r, ids(i))
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](ids.length)
    i = 0
    while (i < ids.length) {
      out += org.apache.spark.sql.Row(ids(i), minOf.get(find(i)))
      i += 1
    }
    val schema = StructType(Seq(
      StructField("doc_id", dt), StructField("cluster_id", dt)))
    // RDD-backed, never a LocalRelation: a large local row set re-plans
    // and re-serializes on the driver for EVERY downstream job
    val slices = math.max(1, math.min(caller.sparkContext.defaultParallelism,
      out.length / 10000 + 1))
    Some(caller.createDataFrame(caller.sparkContext.parallelize(out.toSeq, slices), schema))
  }

  /** MinHash signatures (numPerms deterministic base_hash
    * "permutations") + LSH banding: docs sharing any band key become
    * candidates; candidates are scored by signature agreement and kept
    * when >= minMatch of numPerms components agree.
    * Returns (doc_a, doc_b, n_match, est_sim).
    */
  /** LSH band keys of a MinHash signature column: one (band index,
    * md5-of-signature-slice) struct per band. Shared by the batch pair
    * generator and the streaming suppressor so both bucket
    * identically.
    */
  def bandKeys(sig: Column, numPerms: Int, bands: Int): Column = {
    require(numPerms % bands == 0, "numPerms must divide into equal bands")
    val rowsPerBand = numPerms / bands
    array((0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => sig(b * rowsPerBand + r).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", parts: _*)).as("bh"))
    }: _*)
  }

  /** Scale knob for [[minhashPairs]]' `maxBandDf` (the hot-band cap):
    * a band bucket holding d docs fans out d·(d−1)/2 candidates, and
    * dup-heavy crawls — the exact corpus MinHash targets — routinely
    * put 10⁵+ byte-identical boilerplate docs in ONE bucket of EVERY
    * band (10¹⁰ candidates from a single straggler task). Buckets
    * above the cap are dropped before any pair is emitted; run exact
    * dedup FIRST (as `q_corpus_curation` does) so byte-identical mass
    * never reaches MinHash, and the cap only trims residual
    * boilerplate. OFF (0) in the oracle-gated query because the SQL
    * oracle cannot mirror it.
    */
  def suggestedBandDfCap(maxPairsPerBucket: Long = 1000000L): Int =
    math.max(2, math.ceil(math.sqrt(2.0 * maxPairsPerBucket)).toInt)

  /** Incremental (cross-corpus) dedup — the continual-pretraining
    * shape: filter an INCOMING batch against an EXISTING corpus
    * without ever pairing existing docs with each other. A new doc is
    * flagged `exact_dup` when its content md5 already exists, and
    * `near_dup` when it shares any MinHash LSH band with an existing
    * doc (the same band-hit suppression rule as
    * [[graft.streaming.StreamingOps.nearDupStream]] — candidates ARE
    * suppressions here, as in decontamination).
    *
    * Plan: the existing side reduces to two deduplicated key
    * relations (content md5s; distinct band keys) that the incoming
    * batch hash-joins against — never a corpus×corpus pair stage, and
    * the incoming batch is typically a small fraction of the corpus.
    * Returns one row per incoming doc: (doc_id, exact_dup, near_dup,
    * kept).
    */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       id: Column, text: Column,
                       k: Int, numPerms: Int, bands: Int): DataFrame = {
    val exM = existing.select(md5(text).as("cmd5")).distinct()
      .withColumn("ehit", lit(true))
    def bandRel(df: DataFrame): DataFrame = df
      .select(id.as("doc_id"),
        graft.expressions.TextExpressions.minHashSig(text, k, numPerms).as("sig"))
      .filter(size(col("sig")) === numPerms)
      .select(col("doc_id"), explode(bandKeys(col("sig"), numPerms, bands)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val exB = bandRel(existing).select(col("band"), col("bh")).distinct()
    val nearHit = bandRel(incoming)
      .join(exB, Seq("band", "bh"))
      .select(col("doc_id")).distinct()
      .withColumn("nhit", lit(true))
    incoming.select(id.as("doc_id"), md5(text).as("cmd5"))
      .join(exM, Seq("cmd5"), "left")
      .join(nearHit, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ehit"), lit(false)).as("exact_dup"),
        coalesce(col("nhit"), lit(false)).as("near_dup"))
      .withColumn("kept", !(col("exact_dup") || col("near_dup")))
  }

  /** Blocked edit-distance (Levenshtein) near-dup pairs — the
    * record-linkage fuzzy dedup for short texts/titles, where
    * character-level edits (typos, reformatting) defeat token-set
    * similarity but unit-cost edit distance nails them. Both engines
    * implement classic unit-cost Levenshtein over the same strings,
    * so the integer distance is oracle-exact.
    *
    * Multi-pass blocking (the standard record-linkage shape): a pair
    * is a candidate if it shares (length band, FIRST token) or
    * (length band, LAST token) — two passes so an edit in one anchor
    * token cannot hide a pair from both. Each pass is the group-join
    * shape of [[jaccardPairs]]/[[minhashPairs]]: ONE shuffle on the
    * block key builds each block's (id, prefix) list, `maxBlockDf`
    * drops degenerate blocks (a viral anchor token) BEFORE any pair
    * forms — the quadratic term is bounded by maxBlockDf², never by
    * corpus size — and pairs fan out in place from the capped lists.
    * The Levenshtein confirm runs on `prefixLen`-char prefixes
    * (edit distance is O(m·n) per pair — bounding the operand length
    * bounds per-pair cost at any document size).
    *
    * @return (doc_a, doc_b, dist) with doc_a < doc_b, dist ≤ maxDist
    */
  def editDistancePairs(docs: DataFrame, id: Column, text: Column,
                        prefixLen: Int = 64, lenBand: Int = 8,
                        maxDist: Int = 16, maxBlockDf: Int = 64): DataFrame = {
    val w = split(text, " ")
    val base = docs.select(id.as("doc_id"),
      substring(text, 1, prefixLen).as("p"),
      floor(size(w).cast("long") / lit(lenBand)).cast("long").as("band"),
      element_at(w, 1).as("fst"), element_at(w, -1).as("lst"))
    // both anchor passes ride ONE shuffle: the pass tag joins the
    // block key, so (first-token blocks, last-token blocks) group in
    // the same exchange instead of two corpus-keyed aggregates
    val rel = base
      .select(lit(0).as("tag"), col("band"), col("fst").as("k"),
        col("doc_id"), col("p"))
      .unionByName(base.select(lit(1).as("tag"), col("band"),
        col("lst").as("k"), col("doc_id"), col("p")))
    // AQE coalesces post-shuffle stages by BYTES; the block lists are
    // tiny but each fans out quadratically into Levenshtein confirms,
    // which is invisible to the coalescer — a one-partition stage
    // serializes the whole confirm (measured 4×). The explicit
    // partition count (which AQE honors) spreads the fan-out.
    rel
      .groupBy(col("tag"), col("band"), col("k"))
      .agg(collect_list(struct(col("doc_id"), col("p"))).as("ds"))
      .filter(size(col("ds")).between(2, maxBlockDf))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a.doc_id").as("doc_a"), col("a.p").as("pa"),
        explode(col("ds")).as("b"))
      .filter(col("doc_a") < col("b.doc_id"))
      .select(col("doc_a"), col("b.doc_id").as("doc_b"),
        col("pa"), col("b.p").as("pb"))
      .distinct() // a pair blocked by both anchors confirms once
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  def minhashPairs(docs: DataFrame, id: Column, text: Column, k: Int,
                   numPerms: Int, bands: Int, minMatch: Int,
                   maxBandDf: Int = 0): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into equal bands")
    // Bench note (r11, measured): the gate sits at ~1.1 s vs DuckDB's
    // 0.45 s at sf0.1 — the cost is 6 scheduled jobs (signature
    // checkpoint, band group, candidate distinct, two joins), each
    // billing the fixed scheduling floor on a corpus DuckDB scans in
    // one pass. Structural alternatives were measured in r7/r8 (fused
    // band+candidate stage: more shuffled bytes, no fewer jobs); the
    // shape below is the documented floor, and the per-stage bound
    // arguments are what matter at 100 TB.
    // MinHash signature VALUES cross the oracle (portable md5 shingle
    // keys + arithmetic permutations); MinHashSigExpr computes the
    // whole signature per row in one pass — no explode, no shuffle
    // for the signature stage at all. Docs with fewer than k tokens
    // have no shingles and are dropped (empty signature).
    // The signature table is referenced four times below (both band
    // sides + both scoring sides); localCheckpoint materializes it
    // once — it is tiny (one row per doc) at any corpus size.
    val sig = docs
      .select(id.as("doc_id"),
        graft.expressions.TextExpressions.minHashSig(text, k, numPerms).as("sig"))
      .filter(size(col("sig")) > 0)
      .localCheckpoint(false)
    val bandRel = sig.select(col("doc_id"), explode(bandKeys(col("sig"), numPerms, bands)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
    // Group-join shape (as in jaccardPairs): ONE shuffle on the band
    // key builds each bucket's doc list, the hot-band cap drops
    // oversized buckets BEFORE any pair exists, and candidates fan
    // out in place from the capped lists.
    val grouped = bandRel.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    val capped = if (maxBandDf > 0) grouped.filter(size(col("ds")) <= maxBandDf) else grouped
    val cand = capped
      // spread the quadratic fan-out past AQE's byte-based coalescer
      // (see jaccardPairs)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
    val matches = aggregate(
      zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (s, v) => s + v)
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), matches.as("n_match"))
      .filter(col("n_match") >= minMatch)
      .withColumn("est_sim", col("n_match") / lit(numPerms.toDouble))
  }
}
