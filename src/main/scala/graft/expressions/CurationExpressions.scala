package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document curation kernels: one expression call per document
  * replacing an explode → per-segment expression chain → doc-keyed
  * re-aggregation. The semantics are pinned 1:1 against the exploded
  * HOF formulation (and the DuckDB oracle) — the win is the plan
  * shape: zero shuffle, zero interpreted lambda dispatch.
  */
object CurationExpressions {

  /** Gopher/C4-style prose-density boilerplate removal of one doc:
    * split into K-word segments, keep segments whose stopword share
    * (exact ppm floor) clears `thresholdPpm`, reassemble. Returns
    * struct(n_segs, n_kept, new_md5) — new_md5 is md5 of the kept
    * segments joined by ' ' ('' when none survive), identical to the
    * exploded formulation's md5(concat_ws(...)).
    */
  def boilerplateStats(text: Column, k: Int, stopwords: Seq[String],
                       thresholdPpm: Long): Column =
    GraftColumnBridge.column(BoilerplateStatsExpr(
      GraftColumnBridge.expression(text), k, stopwords.toArray, thresholdPpm))

  /** RAKE candidate phrases of one doc: maximal runs of non-stopword
    * tokens (split on single spaces, empties preserved), keeping only
    * runs of at most `maxLen` words, each joined by ' ' in order —
    * the per-row twin of the stopword-split gaps-and-islands window
    * chain (identical phrase strings, same drop rule).
    */
  def rakePhrases(text: Column, stopwords: Seq[String], maxLen: Int): Column =
    GraftColumnBridge.column(RakePhrasesExpr(
      GraftColumnBridge.expression(text), stopwords.toArray, maxLen))

  /** Word-start suffixes of one doc for the LCP clone scan: at each
    * word boundary offset (Σ len(wⱼ)+1 over preceding words) with at
    * least `minRemain` chars left, the `width`-char substring. The
    * per-row twin of the explode → cumulative-length window → filter
    * → substring chain.
    */
  def docSuffixes(text: Column, width: Int, minRemain: Int): Column =
    GraftColumnBridge.column(DocSuffixesExpr(
      GraftColumnBridge.expression(text), width, minRemain))

  /** Length of the common prefix of two strings (chars). */
  def commonPrefixLen(a: Column, b: Column): Column =
    GraftColumnBridge.column(CommonPrefixLenExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

case class DocSuffixesExpr(child: Expression, width: Int, minRemain: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val n = text.length
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    // width/minRemain count CODE POINTS (the oracle's substring
    // semantics, r9 ADVICE); surrogate-free text (the common case)
    // takes the char==code-point fast path
    var hasSupp = false
    var k = 0
    while (!hasSupp && k < n) { if (Character.isHighSurrogate(text.charAt(k))) hasSupp = true; k += 1 }
    var off = 0
    var cpBefore = 0 // code points in text(0, off) — maintained incrementally
    val cpTotal = if (hasSupp) text.codePointCount(0, n) else n
    var done = false
    while (!done && off <= n) {
      val remain = cpTotal - cpBefore
      if (remain >= minRemain) {
        val end =
          if (hasSupp) text.offsetByCodePoints(off, math.min(width, remain))
          else math.min(off + width, n)
        out += UTF8String.fromString(text.substring(off, end))
      }
      val sp = text.indexOf(' ', off)
      if (sp < 0) done = true
      else {
        cpBefore += (if (hasSupp) text.codePointCount(off, sp + 1) else sp + 1 - off)
        off = sp + 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }
  override protected def withNewChildInternal(newChild: Expression): DocSuffixesExpr =
    copy(child = newChild)
}

case class CommonPrefixLenExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  /** Public bridge for the generated code (KernelCodegen convention). */
  def kernelEval(a: Any, b: Any): Any = nullSafeEval(a, b)
  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].toString
    val y = b.asInstanceOf[UTF8String].toString
    val n = math.min(x.length, y.length)
    // compare and count CODE POINTS, not UTF-16 chars (oracle parity
    // on supplementary-plane text, r9 ADVICE): a surrogate pair whose
    // high half matches but low half differs is a DIFFERENT code
    // point and must not extend the prefix
    var i = 0
    var cp = 0L
    var stop = false
    while (!stop && i < n) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(i)
      if (cx != cy) stop = true
      else { i += Character.charCount(cx); cp += 1L }
    }
    cp
  }
  protected override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("kernel", this)
      s"${ev.value} = ((Long) $ref.kernelEval($a, $b)).longValue();"
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CommonPrefixLenExpr = copy(left = l, right = r)
}

case class RakePhrasesExpr(child: Expression, stopwords: Array[String], maxLen: Int)
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  protected override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    val n = words.length
    while (i < n) {
      if (stopSet.contains(words(i))) i += 1
      else {
        var j = i
        while (j < n && !stopSet.contains(words(j))) j += 1
        if (j - i <= maxLen) {
          val sb = new java.lang.StringBuilder()
          var w = i
          while (w < j) {
            if (w > i) sb.append(' ')
            sb.append(words(w))
            w += 1
          }
          out += UTF8String.fromString(sb.toString)
        }
        i = j
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): RakePhrasesExpr =
    copy(child = newChild)
}

case class BoilerplateStatsExpr(child: Expression, k: Int,
                                stopwords: Array[String], thresholdPpm: Long)
    extends UnaryExpression with KernelCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_segs", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("new_md5", StringType, nullable = false)))

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  protected override def nullSafeEval(input: Any): Any = {
    // split(" ", -1): trailing empties preserved — the exact semantics
    // of Spark SQL split(text, ' ') and DuckDB string_split
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val n = words.length
    val nSegs = (n + k - 1) / k
    var nKept = 0L
    val kept = new java.lang.StringBuilder()
    var i = 0
    while (i < nSegs) {
      val lo = i * k
      val hi = math.min(lo + k, n)
      var ns = 0L
      var j = lo
      while (j < hi) { if (stopSet.contains(words(j))) ns += 1; j += 1 }
      val nt = hi - lo
      if (ns * 1000000L / nt >= thresholdPpm) {
        nKept += 1
        if (kept.length > 0) kept.append(' ')
        var w = lo
        while (w < hi) {
          if (w > lo) kept.append(' ')
          kept.append(words(w))
          w += 1
        }
      }
      i += 1
    }
    val md = TextExpressions.md5()
    md.reset()
    val dig = md.digest(kept.toString.getBytes("UTF-8"))
    val hex = new Array[Char](32)
    var b = 0
    while (b < 16) {
      hex(2 * b) = Character.forDigit((dig(b) >> 4) & 0xf, 16)
      hex(2 * b + 1) = Character.forDigit(dig(b) & 0xf, 16)
      b += 1
    }
    InternalRow(nSegs.toLong, nKept, UTF8String.fromString(new String(hex)))
  }

  override protected def withNewChildInternal(newChild: Expression): BoilerplateStatsExpr =
    copy(child = newChild)
}
