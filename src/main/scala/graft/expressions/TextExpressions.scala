package graft.expressions

import java.security.MessageDigest
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

import graft.operators.TextOps

/** Unary expressions whose doGenCode calls the interpreted kernel
  * through an object reference on the child's generated value —
  * unlike CodegenFallback, no InternalRow is materialized and the
  * surrounding operators keep ONE whole-stage-codegen span; only the
  * kernel body itself stays a virtual call (it is a per-row loop
  * anyway, so the JIT inlines it hot).
  */
trait KernelCodegen extends UnaryExpression {
  /** Public bridge to the protected interpreted kernel. */
  def kernelEval(input: Any): Any = nullSafeEval(input)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("kernel", this)
      val jt = CodeGenerator.javaType(dataType)
      val box = CodeGenerator.boxedType(dataType)
      s"${ev.value} = ($jt) (($box) $ref.kernelEval($a));"
    })
}

/** Native Catalyst expressions for the text/vector hot paths.
  *
  * The higher-order-function formulations in TextOps/VectorOps are
  * the semantic reference, but Catalyst evaluates lambda bodies
  * interpreted — one closure dispatch + boxing per element. These
  * expressions compute the IDENTICAL values (asserted by
  * ExpressionParitySpec) in one virtual call per row with tight
  * primitive loops, which is what makes the text family competitive
  * with a vectorized single-node engine while keeping the exact
  * cross-engine `base_hash` semantics the DuckDB oracle checks.
  */
object TextExpressions {

  /** md5-prefix base_hash of a token — first 4 digest bytes as an
    * unsigned 32-bit int (== conv(substr(md5(s),1,8),16,10)). */
  @inline private[expressions] def baseHash(md: MessageDigest, token: String): Long = {
    md.reset()
    val d = md.digest(token.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First 15 hex chars of md5 as a long
    * (== conv(substr(md5(s),1,15),16,10)). */
  @inline private[expressions] def shingleKey(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def simHash32(text: Column): Column = GraftColumnBridge.column(
    SimHash32Expr(GraftColumnBridge.expression(text)))
  def fingerprint(text: Column): Column = GraftColumnBridge.column(
    FingerprintExpr(GraftColumnBridge.expression(text)))
  def minHashSig(text: Column, k: Int, numPerms: Int): Column = GraftColumnBridge.column(
    MinHashSigExpr(GraftColumnBridge.expression(text), k, numPerms))
  def shingleKeysFast(text: Column, k: Int): Column = GraftColumnBridge.column(
    ShingleKeysFastExpr(GraftColumnBridge.expression(text), k))
  def shingleKeys(text: Column, k: Int): Column = GraftColumnBridge.column(
    ShingleKeysExpr(GraftColumnBridge.expression(text), k))
  def docPairs(ds: Column): Column = GraftColumnBridge.column(
    DocPairsExpr(GraftColumnBridge.expression(ds)))
  def bigramBuckets(text: Column, buckets: Int): Column = GraftColumnBridge.column(
    BigramBucketsExpr(GraftColumnBridge.expression(text), buckets))
  def windowKeys(text: Column, l: Int): Column = GraftColumnBridge.column(
    WindowKeysExpr(GraftColumnBridge.expression(text), l))
  def bpeCount(text: Column, merges: Seq[(String, String)]): Column = GraftColumnBridge.column(
    BpeCountExpr(GraftColumnBridge.expression(text), merges))
  def charNgramBuckets(text: Column, n: Int, buckets: Int): Column = GraftColumnBridge.column(
    CharNgramBucketsExpr(GraftColumnBridge.expression(text), n, buckets))
  def weightSum(bs: Column, w: Array[Long]): Column = GraftColumnBridge.column(
    WeightSumExpr(GraftColumnBridge.expression(bs), w))
  def repetitionStats(text: Column): Column = GraftColumnBridge.column(
    RepetitionStatsExpr(GraftColumnBridge.expression(text)))
}

/** All unordered doc pairs of one shingle's posting list — the pair
  * fan-out stage of Jaccard near-dup. Input: array<struct<doc_id,m>>
  * (one shingle's docs + their shingle counts, any order). Output:
  * array<struct<pr,ma,mb>> with `pr = doc_a<<32 | doc_b`,
  * doc_a < doc_b — a single long the downstream intersection count
  * can group by. Sorting and emission are tight primitive loops; the
  * HOF formulation (array_sort + nested transform/slice/flatten)
  * evaluates one interpreted closure per emitted pair, which
  * dominates the whole query once posting lists fan out (f docs emit
  * f·(f−1)/2 pairs).
  *
  * Packing requires doc_id < 2^31 (a 2-billion-document partition key
  * space; shard the corpus by id range first if ever exceeded) —
  * violated ids throw rather than corrupt pairs.
  */
case class DocPairsExpr(child: Expression) extends UnaryExpression with KernelCodegen {
  private val outElem = StructType(Seq(
    StructField("pr", LongType, nullable = false),
    StructField("ma", LongType, nullable = false),
    StructField("mb", LongType, nullable = false)))
  override def dataType: DataType = ArrayType(outElem, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val f = arr.numElements()
    val ids = new Array[Long](f)
    val ms = new Array[Long](f)
    var i = 0
    while (i < f) {
      val s = arr.getStruct(i, 2)
      ids(i) = s.getLong(0)
      ms(i) = s.getLong(1)
      if (ids(i) < 0 || ids(i) >= (1L << 31))
        throw new IllegalArgumentException(s"doc_id ${ids(i)} outside packable range [0, 2^31)")
      i += 1
    }
    // insertion sort by doc_id (posting lists are short; ids unique)
    i = 1
    while (i < f) {
      val idv = ids(i); val mv = ms(i)
      var j = i - 1
      while (j >= 0 && ids(j) > idv) { ids(j + 1) = ids(j); ms(j + 1) = ms(j); j -= 1 }
      ids(j + 1) = idv; ms(j + 1) = mv
      i += 1
    }
    val out = new Array[Any](f * (f - 1) / 2)
    var n = 0
    var a = 0
    while (a < f) {
      var b = a + 1
      while (b < f) {
        out(n) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any]((ids(a) << 32) | ids(b), ms(a), ms(b)))
        n += 1
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): DocPairsExpr =
    copy(child = newChild)
}

/** 32-bit SimHash over the token multiset — value-identical to
  * TextOps.simHashFromHashes(TextOps.tokenHashes(text)). */
case class SimHash32Expr(child: Expression) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val md = MessageDigest.getInstance("MD5")
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val votes = new Array[Int](32)
    var t = 0
    while (t < tokens.length) {
      val h = TextExpressions.baseHash(md, tokens(t))
      var j = 0
      while (j < 32) {
        votes(j) += (((h >> j) & 1L) * 2 - 1).toInt
        j += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
}

/** Rolling polynomial fingerprint — value-identical to
  * TextOps.fingerprint. */
case class FingerprintExpr(child: Expression) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val md = MessageDigest.getInstance("MD5")
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    var h = 0L
    var t = 0
    while (t < tokens.length) {
      h = (h * 31L + TextExpressions.baseHash(md, tokens(t))) % TextOps.FpMod
      t += 1
    }
    h
  }
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}

/** MinHash signature straight from text: portable md5 shingle keys +
  * arithmetic permutations — value-identical to grouping the exploded
  * TextOps.shingles relation and taking min(TextOps.permHash(i, _)).
  * Computing it per-row removes that explode+aggregate shuffle from
  * the plan entirely. Returns NULL-free array<long>; docs with fewer
  * than k tokens yield an empty array.
  */
case class MinHashSigExpr(child: Expression, k: Int, numPerms: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  @transient private lazy val consts: Array[(Long, Long)] =
    (0 until numPerms).map(TextOps.permConsts).toArray
  protected override def nullSafeEval(input: Any): Any = {
    val md = MessageDigest.getInstance("MD5")
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (tokens.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new mutable.HashSet[Long]
    val mins = Array.fill(numPerms)(Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= tokens.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(tokens(i + j)); j += 1 }
      val key = TextExpressions.shingleKey(md, sb.toString)
      if (seen.add(key)) {
        val kr = key % TextOps.PermPrime
        var p = 0
        while (p < numPerms) {
          val (a, b) = consts(p)
          val h = (a * kr + b) % TextOps.PermPrime
          if (h < mins(p)) mins(p) = h
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(v => v: Any))
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** Engine-local fast shingle keys (xxhash64 of each k-gram string,
  * seed 42 like Spark's xxhash64), distinct, order of first
  * occurrence. Only key EQUALITY is consumed (Jaccard counts), so
  * these need not match any oracle value — just be deterministic.
  */
case class ShingleKeysFastExpr(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (tokens.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new mutable.LinkedHashSet[Long]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= tokens.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(tokens(i + j)); j += 1 }
      val u = UTF8String.fromString(sb.toString)
      seen += org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      i += 1
    }
    new GenericArrayData(seen.toArray.map(v => v: Any))
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleKeysFastExpr =
    copy(child = newChild)
}

/** PORTABLE distinct shingle keys — value-identical to the
  * [[graft.operators.TextOps.shingles]] HOF (first 15 md5 hex chars
  * of each word k-gram as a long, first-occurrence order), for the
  * oracle-mirrored gates where the xxhash fast path would diverge
  * from the SQL twin. One digest per k-gram in a tight loop instead
  * of an interpreted concat/md5/conv lambda chain per element.
  */
case class ShingleKeysExpr(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (tokens.length < k) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val seen = new mutable.LinkedHashSet[Long]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= tokens.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(tokens(i + j)); j += 1 }
      seen += TextExpressions.shingleKey(md, sb.toString)
      i += 1
    }
    new GenericArrayData(seen.toArray.map(v => v: Any))
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleKeysExpr =
    copy(child = newChild)
}


/** Hashed-bigram DSIR feature buckets: one long per bigram INSTANCE
  * (positions matter — the feature vector is a bag), bucket =
  * base_hash(w_i + " " + w_{i+1}) mod buckets. Identical values to
  * the [[graft.operators.Curation.bigramBucketsOfWords]] HOF
  * formulation (parity-asserted), but one digest per bigram in a
  * tight loop instead of an interpreted concat/md5/hex-parse lambda
  * chain per element.
  */
case class BigramBucketsExpr(child: Expression, buckets: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (tokens.length < 2) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Any](tokens.length - 1)
    var i = 0
    while (i < tokens.length - 1) {
      out(i) = TextExpressions.baseHash(md, tokens(i) + " " + tokens(i + 1)) % buckets
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): BigramBucketsExpr =
    copy(child = newChild)
}

/** Rolling L-token window keys for exact substring dedup: the 60-bit
  * md5-prefix key of every L-window at every start position (NOT
  * distinct — positions matter). Value-identical to
  * [[graft.operators.Curation.windowKeysOfWords]] (parity-asserted);
  * one digest per window in a tight loop.
  */
case class WindowKeysExpr(child: Expression, l: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (tokens.length < l) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    val out = new Array[Any](tokens.length - l + 1)
    var i = 0
    while (i + l <= tokens.length) {
      sb.setLength(0)
      var j = 0
      while (j < l) { if (j > 0) sb.append(' '); sb.append(tokens(i + j)); j += 1 }
      out(i) = TextExpressions.shingleKey(md, sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): WindowKeysExpr =
    copy(child = newChild)
}

/** Greedy BPE token count under an inlined merges table (Sennrich et
  * al. 2016 apply semantics: per word, repeatedly merge the
  * best-ranked adjacent pair — all its occurrences — until none
  * ranks). Value-identical to [[graft.operators.Bpe.countTokensRef]]
  * (parity-asserted by BpeSpec). The merges list is model state baked
  * into the expression — zero join, zero shuffle, streaming-safe,
  * like the classifier weight literals.
  */
case class BpeCountExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + " " + b, Int.box(i))
    }
    m
  }

  protected override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var syms = new Array[String](w.length)
        var i = 0
        while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
        var n = syms.length
        var more = n > 1
        while (more) {
          // best-ranked adjacent pair
          var bestRank = Int.MaxValue
          var a: String = null; var b: String = null
          i = 0
          while (i + 1 < n) {
            val r = ranks.get(syms(i) + " " + syms(i + 1))
            if (r != null && r < bestRank) { bestRank = r; a = syms(i); b = syms(i + 1) }
            i += 1
          }
          if (a == null) more = false
          else {
            // merge ALL occurrences, left-to-right non-overlapping
            val next = new Array[String](n)
            var o = 0
            i = 0
            while (i < n) {
              if (i + 1 < n && syms(i) == a && syms(i + 1) == b) {
                next(o) = a + b; o += 1; i += 2
              } else { next(o) = syms(i); o += 1; i += 1 }
            }
            syms = next
            n = o
            more = n > 1
          }
        }
        total += n
      }
      wi += 1
    }
    total
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCountExpr =
    copy(child = newChild)
}

/** Hashed character-n-gram bucket ids — the lang-id feature
  * projection. Value-identical to the HOF formulation
  * (`pmod(baseHash(substr(i, n)), buckets)` over code-point windows;
  * parity-asserted by LangClassifierSpec) but one digest per n-gram
  * in a tight loop. This is the single heaviest feature projection in
  * the engine (~one md5 per CHARACTER of corpus text), so the
  * interpreted substr/md5/hex lambda chain per element dominated the
  * q_lang_id_ft gate before this expression existed.
  */
case class CharNgramBucketsExpr(child: Expression, n: Int, buckets: Int)
    extends UnaryExpression with KernelCodegen {
  require(n >= 1 && buckets >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // code-point window starts (substr counts characters, not chars)
    val m = s.codePointCount(0, s.length)
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](m + 1)
    var i = 0
    var off = 0
    while (i < m) { starts(i) = off; off = s.offsetByCodePoints(off, 1); i += 1 }
    starts(m) = s.length
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Any](m - n + 1)
    i = 0
    while (i <= m - n) {
      out(i) = TextExpressions.baseHash(md, s.substring(starts(i), starts(i + n))) % buckets
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): CharNgramBucketsExpr =
    copy(child = newChild)
}

/** Gopher repetition-signal counts in ONE per-row pass:
  * struct(top_word_n, n_words, top2_n, n_bigrams) — the max
  * occurrence count of any single word / word bigram plus the totals.
  * Value-identical to the explode → (doc, gram) count → per-doc
  * max/sum aggregate chain (the oracle's formulation), but computed
  * per row with a hash map over the token array: the corpus-wide
  * (doc, gram) shuffle — trillions of rows at full scale — leaves the
  * plan entirely. Docs with < 2 tokens report n_bigrams = 0 (the
  * aggregate formulation has no bigram row to join — callers mirror
  * the inner join with a n_bigrams > 0 filter).
  */
case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = StructType(Seq(
    StructField("top_word_n", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("top2_n", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val wc = new java.util.HashMap[String, Array[Long]](tokens.length * 2)
    var topW = 0L
    var i = 0
    while (i < tokens.length) {
      var c = wc.get(tokens(i))
      if (c == null) { c = Array(0L); wc.put(tokens(i), c) }
      c(0) += 1L
      if (c(0) > topW) topW = c(0)
      i += 1
    }
    var top2 = 0L
    val nBigrams = math.max(tokens.length - 1, 0)
    if (nBigrams > 0) {
      val bc = new java.util.HashMap[String, Array[Long]](tokens.length * 2)
      val sb = new java.lang.StringBuilder
      i = 0
      while (i < tokens.length - 1) {
        sb.setLength(0)
        sb.append(tokens(i)).append(' ').append(tokens(i + 1))
        val key = sb.toString
        var c = bc.get(key)
        if (c == null) { c = Array(0L); bc.put(key, c) }
        c(0) += 1L
        if (c(0) > top2) top2 = c(0)
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](topW, tokens.length.toLong, top2, nBigrams.toLong))
  }
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
}

/** Σ w[b] over a bucket-id array with the weight vector baked in —
  * the linear-model margin both classifiers and the streaming quality
  * filter evaluate per row. Value-identical to
  * `aggregate(bs, 0L, (acc, b) => acc + element_at(lit(w), b + 1))`
  * (parity-asserted) but one primitive loop instead of an interpreted
  * closure + array-literal probe per element — the train loop runs
  * this L×iters times over every feature instance. Full codegen.
  */
case class WeightSumExpr(child: Expression, w: Array[Long])
    extends UnaryExpression {
  require(w.nonEmpty)
  def weights: Array[Long] = w
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any = {
    val bs = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var s = 0L
    var i = 0
    val n = bs.numElements()
    while (i < n) { s += w(bs.getLong(i).toInt); i += 1 }
    s
  }
  protected override def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("wsum", this, classOf[WeightSumExpr].getName)
      val wv = ctx.freshName("w")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |long[] $wv = $ref.weights();
         |long $s = 0L;
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) { $s += $wv[(int) $a.getLong($i)]; }
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): WeightSumExpr =
    copy(child = newChild)
}
