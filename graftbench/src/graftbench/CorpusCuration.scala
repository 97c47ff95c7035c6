package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.{CurationExpressions, TextExpressions}
import graft.operators.{Curation, Dedup, TextOps}

/** `corpus_curation`: one closed-loop client curates one corpus shard
  * per operation: quality signals, exact dedup, line dedup, MinHash
  * near-duplicate pairs, connected components, then one document per
  * cluster is written out as parquet. */
final class CorpusCuration(data: String, out: String) extends Workload {
  import CorpusCuration._

  private val shards: Seq[String] = Truth.list(s"$data/shards.json").map(_.asText)
  private final case class ShardTruth(pairs: Seq[(Long, Long)], junk: Set[Long]) {
    /** doc -> the planted family it belongs to (its original's id). */
    val family: Map[Long, Long] = {
      val uf = new UnionFind
      pairs.foreach { case (a, b) => uf.union(a, b) }
      pairs.flatMap { case (a, b) => Seq(a, b) }.map(d => d -> uf.find(d)).toMap
    }
  }
  private val truth: Map[String, ShardTruth] = shards.map { s =>
    s -> ShardTruth(
      Truth.list(s"$data/$s/truth_pairs.json").map(n => (n.get("a").asLong, n.get("b").asLong)),
      Truth.list(s"$data/$s/truth_junk.json").map(_.asLong).toSet)
  }.toMap

  private var recallHit, recallAll, precHit, precAll, pairsFound, nearPlanted = 0L

  def setup(spark: SparkSession, k: Int): Unit = ()

  def warmup(spark: SparkSession, tr: Tracer): Unit = iteration(spark, 0, tr)

  override def startMeasuring(): Unit = {
    recallHit = 0; recallAll = 0; precHit = 0; precAll = 0; pairsFound = 0; nearPlanted = 0
  }

  def iteration(spark: SparkSession, i: Int, tr: Tracer): Seq[Op] = {
    val s = shards(i % shards.size)
    val t0 = System.nanoTime()
    val (ok, checked, failed, n) =
      try pipeline(spark, s, i, tr)
      catch { case e: Exception =>
        System.err.println(s"[curation] $s failed: $e")
        (0L, 1L, true, 0L)
      }
    Seq(Op(s, (System.nanoTime() - t0) / 1e9, n, failed, checked, ok))
  }

  private def quality(docs: DataFrame): DataFrame = {
    val ws = TextOps.tokens(col("text"))
    val ls = TextOps.lineArray(col("text"))
    docs.select(col("doc_id"), col("text"),
      size(ws).as("n_words"),
      TextOps.alphaWordCount(ws).as("n_alpha"),
      TextOps.symbolCount(col("text")).as("n_symbols"),
      TextOps.bulletLineCount(ls).as("n_bullets"),
      length(col("text")).as("n_chars"),
      CurationExpressions.boilerplateStats(col("text"), 8, Stopwords, 50000L).as("bp"))
  }

  /** Returns (documents decided right, documents checked, failed, documents). */
  private def pipeline(spark: SparkSession, s: String, i: Int,
                       tr: Tracer): (Long, Long, Boolean, Long) = {
    val t = truth(s)
    val docs = tr.span("spark.read_docs") {
      val d = spark.read.parquet(s"$data/$s/docs.parquet").persist()
      Main.noop(d)
      d
    }
    val signals = tr.span("expressions.quality_signals") {
      val q = quality(docs).persist()
      Main.noop(q)
      q
    }
    val good = signals.filter(col("n_words") >= 20 &&
      col("n_alpha") >= col("n_words") * 0.8 && col("n_symbols") * 20 < col("n_chars"))
    // exact dedup: one representative (lowest id) per text fingerprint
    val (unique, exactPairs) = tr.span("operators.dedup.exact") {
      val fp = good.select(col("doc_id"), col("text"), TextOps.fingerprint(col("text")).as("fp"),
        md5(col("text")).as("h"))
      val rep = fp.groupBy(col("fp"), col("h")).agg(min(col("doc_id")).as("rep"),
        collect_list(col("doc_id")).as("ids"))
      val pairs = rep.filter(size(col("ids")) > 1)
        .select(col("rep"), explode(col("ids")).as("doc_id"))
        .filter(col("doc_id") =!= col("rep")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val u = fp.join(rep.select(col("rep").as("doc_id")), "doc_id").persist()
      Main.noop(u)
      (u, pairs)
    }
    val lines = tr.span("operators.curation.line_dedup") {
      val l = Curation.lineDedup(unique, 8).persist()
      Main.noop(l)
      l
    }
    val (nearPairs, pairsDf) = tr.span("operators.dedup.minhash") {
      val p = Dedup.minhashPairs(unique, col("doc_id"), col("text"), 5, 64, 16, MinMatch)
        .select(col("doc_a"), col("doc_b")).persist()
      (p.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, p)
    }
    val clusters = tr.span("operators.dedup.cc") {
      Dedup.connectedComponents(pairsDf, "doc_a", "doc_b").persist()
    }
    val kept = tr.span("spark.write_curated") {
      val k = unique.join(clusters, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .join(lines, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("n_kept"), col("new_md5"))
      k.write.mode("overwrite").parquet(s"$out/curated/${i % 2}")
      spark.read.parquet(s"$out/curated/${i % 2}").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
    }
    val all = docs.select(col("doc_id")).collect().map(_.getLong(0))
    Seq(docs, signals, unique, lines, pairsDf, clusters).foreach(_.unpersist(true))

    // checks against the planted duplicates
    val found = exactPairs ++ nearPairs
    val uf = new UnionFind
    found.foreach { case (a, b) => uf.union(a, b) }
    val hit = t.pairs.count { case (a, b) => uf.find(a) == uf.find(b) }
    val trueFound = found.count { case (a, b) =>
      t.family.get(a).exists(f => t.family.get(b).contains(f))
    }
    recallHit += hit; recallAll += t.pairs.size
    precHit += trueFound; precAll += found.size
    pairsFound += nearPairs.size; nearPlanted += t.pairs.size - exactPairs.size
    // a document is decided right when junk is dropped and exactly one
    // member of each planted family survives
    val keptPerFamily = kept.toSeq.flatMap(t.family.get).groupBy(identity).map { case (f, xs) => f -> xs.size }
    val right = all.count { d =>
      if (t.junk(d)) !kept(d)
      else t.family.get(d) match {
        case Some(f) => keptPerFamily.getOrElse(f, 0) == 1
        case None => kept(d)
      }
    }
    val recall = hit.toDouble / math.max(1, t.pairs.size)
    val precision = trueFound.toDouble / math.max(1, found.size)
    val failed = recall < RecallFloor || precision < PrecisionFloor
    if (failed) System.err.println(f"[curation] $s check failed: recall=$recall%.4f precision=$precision%.4f")
    (right.toLong, all.length.toLong, failed, all.length.toLong)
  }

  override def probes(spark: SparkSession, tr: Tracer): Unit = {
    // Kernel probes: each is one projection over the cached shard into
    // the noop sink, outside the iteration spans.
    val docs = spark.read.parquet(s"$data/${shards.head}/docs.parquet").persist()
    Main.noop(docs)
    tr.span("expressions.quality") { Main.noop(quality(docs)) }
    tr.span("expressions.fingerprint") {
      Main.noop(docs.select(TextOps.fingerprint(col("text"))))
    }
    tr.span("expressions.minhash_sig") {
      Main.noop(docs.select(TextExpressions.minHashSig(col("text"), 5, 64)))
    }
    docs.unpersist(true)
  }

  def report(ops: Seq[Op], tr: Tracer): Seq[(String, Double, String)] = {
    val out = Seq(
      ("docs_per_s", ops.map(_.items).sum / ops.map(_.seconds).sum, "1/s"),
      ("dup_recall", recallHit.toDouble / math.max(1L, recallAll), "frac"),
      ("dup_precision", precHit.toDouble / math.max(1L, precAll), "frac"),
      ("operators.dedup.pairs_per_planted", pairsFound.toDouble / math.max(1L, nearPlanted), "ratio"))
    if (!tr.enabled) return out
    val self = tr.selfTimes
    // mean per call: per traced iteration, or per probe pass
    def per(name: String): Double = self.get(name).map(x => x._1 / x._3).getOrElse(Double.NaN)
    out ++ Seq(
      ("operators.dedup.exact_s", per("operators.dedup.exact"), "s"),
      ("operators.curation.line_dedup_s", per("operators.curation.line_dedup"), "s"),
      ("operators.dedup.minhash_s", per("operators.dedup.minhash"), "s"),
      ("operators.dedup.cc_s", per("operators.dedup.cc"), "s"),
      ("expressions.quality_s", per("expressions.quality"), "s"),
      ("expressions.fingerprint_s", per("expressions.fingerprint"), "s"),
      ("expressions.minhash_sig_s", per("expressions.minhash_sig"), "s"))
  }
}

object CorpusCuration {
  /** MinHash matches (of 64) for a pair to count as near-duplicate. */
  val MinMatch = 32
  /** The MinHash signatures collapse to roughly one hash (every
    * permutation keeps the shingle with the smallest key), so recall at
    * the planted Jaccard of 0.73-0.95 sits near 0.88, not near 1; the
    * floor guards that level. */
  val RecallFloor = 0.75
  /** The same collapse gives documents that share one boilerplate line
    * (Jaccard ~0.05) identical signatures whenever their smallest
    * shingle key lies in that line: measured per-shard precision runs
    * 0.90-1.0; the floor guards that level. */
  val PrecisionFloor = 0.8
  val Stopwords: Seq[String] = Seq("the", "of", "to", "and", "a", "in", "is", "for")
}

/** Union-find over document ids. */
final class UnionFind {
  private val parent = mutable.Map[Long, Long]()
  def find(x: Long): Long = {
    val p = parent.getOrElse(x, x)
    if (p == x) x else { val r = find(p); parent(x) = r; r }
  }
  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
}
