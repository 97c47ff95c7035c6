package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Per-series order-statistics kernels: expressions over a pre-sorted
  * per-group value array (the collect_list → sort_array shape the DTW
  * gate uses). These replace per-group PAIR self-joins — the r8
  * verdict's one genuine scale-killer — with O(n log n) kernels whose
  * shuffle volume is the series itself, not its n² pairs.
  */
object SeriesExpressions {

  /** Mann–Kendall pair statistics of a time-ordered value series:
    * `[n_pairs, concordant, discordant]` over all i < j pairs, where
    * concordant means x_j > x_i and discordant x_j < x_i. Exactly the
    * aggregate the event×event self-join produced, from one array.
    */
  def mkPairStats(values: Column): Column =
    GraftColumnBridge.column(MkPairStatsExpr(GraftColumnBridge.expression(values)))

  /** All `4·nDigests` Poisson-bootstrap replicate weights of one row
    * in a single kernel call: weight b = |{t : u_b ≥ t}| over the
    * inlined cumulative-CDF thresholds, with u_b the b-th 8-hex-char
    * chunk of md5("boot:" + (b/4) + ":" + id) mod 1e6 — bit-identical
    * to the oracle's conv(substr(md5(…)))-per-replicate formulation,
    * without the ×B row explode ever reaching the expression stack.
    */
  def bootWeights(eventId: Column, nDigests: Int, thresholdsPpm: Array[Long]): Column =
    GraftColumnBridge.column(
      BootWeightsExpr(GraftColumnBridge.expression(eventId), nDigests, thresholdsPpm))
}

/** Per-row Poisson(1) bootstrap weights from portable md5 draws —
  * one tight primitive loop replacing 8 string-md5 + 32
  * conv/substring/CASE-chain expression evaluations per row.
  */
case class BootWeightsExpr(child: Expression, nDigests: Int, thresholdsPpm: Array[Long])
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected override def nullSafeEval(input: Any): Any = {
    val md = TextExpressions.md5()
    val idStr = String.valueOf(input)
    val out = new Array[Long](nDigests * 4)
    var b4 = 0
    while (b4 < nDigests) {
      md.reset()
      val d = md.digest(("boot:" + b4 + ":" + idStr).getBytes("UTF-8"))
      var r = 0
      while (r < 4) {
        val u = (((d(4 * r) & 0xffL) << 24) | ((d(4 * r + 1) & 0xffL) << 16) |
          ((d(4 * r + 2) & 0xffL) << 8) | (d(4 * r + 3) & 0xffL)) % 1000000L
        var w = 0L
        var t = 0
        while (t < thresholdsPpm.length && u >= thresholdsPpm(t)) { w += 1; t += 1 }
        out(b4 * 4 + r) = w
        r += 1
      }
      b4 += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BootWeightsExpr =
    copy(child = newChild)
}

/** Kendall-S decomposition of one series in O(n log n): discordant
  * pairs are the inversions of the time-ordered value sequence
  * (counted by bottom-up merge sort), tied pairs come from the
  * sorted-run lengths, and concordant is the remainder of C(n,2).
  * All counts are exact longs — a 3-billion-point series would
  * overflow C(n,2) long before the array itself became collectable,
  * so long arithmetic is safe at any realistic per-entity bound.
  */
case class MkPairStatsExpr(child: Expression)
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData].toLongArray()
    val n = a.length
    val nPairs = n.toLong * (n - 1) / 2
    // tied pairs: run lengths of the value-sorted copy
    val sorted = a.clone()
    java.util.Arrays.sort(sorted)
    var ties = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && sorted(j) == sorted(i)) j += 1
      val t = (j - i).toLong
      ties += t * (t - 1) / 2
      i = j
    }
    val disc = inversions(a.clone())
    new GenericArrayData(Array(nPairs, nPairs - ties - disc, disc))
  }

  /** Count pairs i < j with a(i) > a(j) (strict), destroying `a`.
    * Bottom-up merge sort; equal keys merge from the left first and
    * are never counted.
    */
  private def inversions(a: Array[Long]): Long = {
    val n = a.length
    var cnt = 0L
    var src = a
    var dst = new Array[Long](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var i = lo
        var j = mid
        var k = lo
        while (i < mid && j < hi) {
          if (src(j) < src(i)) { cnt += mid - i; dst(k) = src(j); j += 1 }
          else { dst(k) = src(i); i += 1 }
          k += 1
        }
        while (i < mid) { dst(k) = src(i); i += 1; k += 1 }
        while (j < hi) { dst(k) = src(j); j += 1; k += 1 }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    cnt
  }

  override protected def withNewChildInternal(newChild: Expression): MkPairStatsExpr =
    copy(child = newChild)
}
