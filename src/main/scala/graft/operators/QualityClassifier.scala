package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Discriminative quality filtering, the GPT-3 / LLaMA playbook step
  * (Brown et al. 2020 Appendix A; Touvron et al. 2023): train a
  * linear classifier to separate a trusted reference slice from the
  * raw corpus, then keep documents the classifier scores as
  * reference-like. The classic implementation is a fastText-style
  * linear model over hashed n-gram bag features — here logistic
  * regression over [[Curation.bigramBucketsOfWords]] features,
  * trained by gradient descent with the weight vector on the driver
  * (same model-on-driver shape as [[IvfIndex]]: B doubles is model
  * state, not data).
  *
  * Determinism: distributed float sums depend on reduction order, so
  * every aggregated quantity is quantized to micro-unit integers
  * FIRST — margins are exact integer sums of micro-quantized weights,
  * per-doc residuals are micro-quantized before the gradient sum, and
  * the weight update itself is driver arithmetic. Training is
  * bit-reproducible under any partitioning, like everything else in
  * this library.
  *
  * Scale: features are PACKED per document once ([[features]] — a
  * zero-shuffle projection), and each training iteration inlines the
  * current weights as a literal array into a per-row margin/residual
  * expression, then aggregates the gradient by bucket. The per-bucket
  * hash aggregate map-side-combines to at most B rows per task, so an
  * iteration moves O(B · tasks) bytes — the treeAggregate cost
  * profile, with NO per-iteration shuffle of any corpus-sized
  * relation (the round-5 shape joined the exploded feature relation
  * twice per iteration). The playbook also trains on a SAMPLE of the
  * corpus, not all of it — `samplePct` is the deterministic
  * ([[Sampling]]) subsample knob; scoring the full corpus stays a
  * zero-join projection either way.
  */
object QualityClassifier {

  /** Micro-quantized logistic weights, index = feature bucket. */
  type Weights = Array[Long]

  /** Packed feature relation: ONE row per document,
    * (doc_id, label, bs) with label 1 = reference slice and bs the
    * hashed-bigram bucket ids (one per bigram instance). Documents
    * with no features (< 2 tokens) drop out, exactly as they did from
    * the exploded relation. Zero shuffle — a projection of `docs`.
    */
  def features(docs: DataFrame, isRef: Column, buckets: Int): DataFrame =
    docs
      .select(col("doc_id"), isRef.cast("int").as("label"),
        graft.expressions.TextExpressions.bigramBuckets(col("text"), buckets).as("bs"))
      .filter(size(col("bs")) > 0)

  /** Integer margin of a packed feature row under literal weights —
    * the same exact sum the broadcast join produced, as a zero-join
    * per-row expression. Shared with [[LangClassifier]]. */
  /** Σ w[b] margin — native tight loop; [[marginExprHof]] is the
    * parity-tested reference formulation. */
  private[graft] def marginExpr(bs: Column, w: Weights): Column =
    graft.expressions.TextExpressions.weightSum(bs, w)

  /** Interpreted HOF reference of [[marginExpr]]. */
  private[graft] def marginExprHof(bs: Column, w: Weights): Column =
    aggregate(bs, lit(0L), (acc, b) => acc + element_at(lit(w), b.cast("int") + 1))

  /** Micro-quantized logistic residual sigmoid(m) − label. */
  private[operators] def residExpr(bs: Column, label: Column, w: Weights): Column =
    floor((lit(1.0) / (lit(1.0) + exp(-marginExpr(bs, w) / lit(1e6)))
      - label) * lit(1000000)).cast("long")

  /** Unpack a collected long-array column to a primitive array. */
  private[operators] def bucketLongArr(r: org.apache.spark.sql.Row, i: Int): Array[Long] = {
    val s = r.getSeq[Long](i)
    val a = new Array[Long](s.length)
    var j = 0
    while (j < a.length) { a(j) = s(j); j += 1 }
    a
  }

  /** Unpack a collected (…, bs) feature row's bucket array to a
    * primitive int array. */
  private[operators] def bucketArr(r: org.apache.spark.sql.Row, i: Int): Array[Int] = {
    val s = r.getSeq[Long](i)
    val a = new Array[Int](s.length)
    var j = 0
    while (j < a.length) { a(j) = s(j).toInt; j += 1 }
    a
  }

  /** Logistic GD over the packed feature relation (cache it if it is
    * expensive to recompute). `samplePct` < 100 trains on a
    * deterministic hash subsample of the documents (the playbook
    * move for corpora where even one pass per iteration is too much);
    * scoring is unaffected. Returns micro-quantized weights —
    * bit-identical across partitionings and reruns, and identical
    * between the bounded driver fast path and the distributed loop
    * (same exact-integer margins/residual sums, same double update
    * arithmetic — pinned in QualityClassifierSpec).
    */
  def train(packed: DataFrame, buckets: Int, iters: Int, lr: Double,
            samplePct: Int = 100,
            driverMaxDocs: Long = DriverBound.QualityTrainDocs): Weights = {
    val rel =
      if (samplePct >= 100) packed
      else packed.filter(Sampling.samplePredicate(col("doc_id"), samplePct, "qctrain"))
    // under the doc budget every GD iteration runs in one driver loop
    // off one collect — one Spark job instead of one per iteration
    DriverBound.driverOr(rel.select(col("label").cast("int").as("label"), col("bs")),
        driverMaxDocs)(trainDriver(_, buckets, iters, lr))(
      trainDistributed(rel, buckets, iters, lr))
  }

  /** [[train]]'s per-iteration distributed aggregate loop — the 100 TB
    * shape: O(B·tasks) bytes per iteration, never a corpus-sized
    * exchange. */
  private def trainDistributed(rel: DataFrame, buckets: Int, iters: Int,
                               lr: Double): Weights = {
    val nDocs = rel.count()
    val w: Weights = Array.fill(buckets)(0L)
    var it = 0
    while (it < iters) {
      // Residual once per doc (weights inlined as a literal), then the
      // bucket-keyed gradient aggregate: partial aggregation bounds the
      // shuffle at B rows per task — no corpus-sized exchange.
      val grad = rel
        .select(col("bs"), residExpr(col("bs"), col("label"), w).as("r_micro"))
        .select(explode(col("bs")).as("b"), col("r_micro"))
        .groupBy(col("b")).agg(sum(col("r_micro")).as("g_micro"))
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0).toInt
        val g = r.getLong(1) / 1e6 / nDocs
        w(b) = w(b) - math.round(lr * g * 1e6)
      }
      it += 1
    }
    w
  }

  /** All GD iterations over collected (label, bs) rows — the exact
    * arithmetic of the distributed loop on primitive arrays: margins
    * are exact long sums, residuals floor-quantized micro longs,
    * per-bucket gradients exact long sums, and the weight update the
    * same double expression (`math.exp` is the same JVM intrinsic
    * Spark's codegen calls). */
  private def trainDriver(rows: Array[org.apache.spark.sql.Row], buckets: Int,
                          iters: Int, lr: Double): Weights = {
    val n = rows.length
    val nDocs = n.toLong
    val labels = new Array[Int](n)
    val feats = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      labels(i) = rows(i).getInt(0)
      feats(i) = bucketArr(rows(i), 1)
      i += 1
    }
    val w: Weights = Array.fill(buckets)(0L)
    val g = new Array[Long](buckets)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(g, 0L)
      i = 0
      while (i < n) {
        val bs = feats(i)
        var m = 0L
        var j = 0
        while (j < bs.length) { m += w(bs(j)); j += 1 }
        val r = math.floor((1.0 / (1.0 + math.exp(-m / 1e6)) - labels(i)) * 1e6).toLong
        j = 0
        while (j < bs.length) { g(bs(j)) += r; j += 1 }
        i += 1
      }
      var b = 0
      while (b < buckets) {
        // buckets with no rows kept w unchanged in the distributed
        // loop; g = 0 produces the identical no-op update here
        if (g(b) != 0L) {
          val gd = g(b) / 1e6 / nDocs
          w(b) = w(b) - math.round(lr * gd * 1e6)
        }
        b += 1
      }
      it += 1
    }
    w
  }

  /** The trained model as a PURE COLUMN EXPRESSION: margin in
    * micro-units of a text column, the weight vector inlined as an
    * array literal and summed with the `aggregate` higher-order
    * function. Zero join, zero shuffle, zero state — usable
    * identically in batch selects and Structured Streaming
    * micro-batches (stateless map), the deployment shape of a
    * trained quality filter. Bounded B keeps the literal small
    * (16 KiB at B = 2048).
    */
  def scoreExpr(text: Column, w: Weights, buckets: Int): Column = {
    require(w.length == buckets, s"weights ${w.length} != buckets $buckets")
    graft.expressions.TextExpressions.weightSum(
      graft.expressions.TextExpressions.bigramBuckets(text, buckets), w)
  }

  /** Score every packed doc with a trained model: the margin in
    * micro-units (positive = reference-like). Zero join, zero
    * shuffle — a projection with the weights inlined.
    */
  def score(packed: DataFrame, w: Weights): DataFrame =
    packed.select(col("doc_id"),
      size(col("bs")).cast("long").as("n_feat"),
      marginExpr(col("bs"), w).as("score_micro"))
}
