package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operators: tokenization,
  * cross-engine deterministic hashing, shingling, SimHash and rolling
  * fingerprints.
  *
  * Everything here is built from codegen'd Spark expressions (`md5`,
  * `conv`, `split`, higher-order array functions) — no UDFs — so the
  * hot paths stay inside whole-stage codegen and the exact same
  * integer results are reproducible in any engine (SURVEY.md §4
  * `base_hash` scheme, verified against DuckDB 1.0).
  */
object TextOps {

  /** Deterministic 32-bit hash identical across engines:
    * first 8 hex chars of md5, parsed base-16. Range [0, 2^32).
    */
  def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** DuckDB SQL mirror of [[baseHash]]. */
  def baseHashSql(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 8)) AS BIGINT)"

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word k-gram shingles, each reduced to a 60-bit integer
    * key (first 15 hex chars of md5) so downstream joins shuffle an
    * 8-byte long instead of a digest string — one md5 per shingle
    * total. Rows with fewer than k tokens yield an empty array.
    */
  def shingles(text: Column, k: Int): Column = {
    val w = tokens(text)
    when(size(w) >= k,
      array_distinct(transform(sequence(lit(1), size(w) - (k - 1)),
        i => conv(substring(md5(concat_ws(" ", slice(w, i, lit(k)))), 1, 15), 16, 10).cast("long"))))
      .otherwise(array().cast("array<long>"))
  }

  /** DuckDB SQL mirror of one [[shingles]] element over a string. */
  def shingleKeySql(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"

  /** Fast ENGINE-LOCAL shingle keys (xxhash64 of the k-gram string):
    * correct wherever only key EQUALITY matters (Jaccard
    * intersection/union counts are hash-agnostic modulo collisions),
    * not where the key value itself must match the oracle (MinHash
    * signatures use [[shingles]]). Measured faster than tuple-hashing
    * pre-materialized token hashes (element_at-heavy lambdas lose to
    * one concat per shingle).
    */
  def shinglesFast(text: Column, k: Int): Column = {
    val w = tokens(text)
    when(size(w) >= k,
      array_distinct(transform(sequence(lit(1), size(w) - (k - 1)),
        i => xxhash64(concat_ws(" ", slice(w, i, lit(k)))))))
      .otherwise(array().cast("array<long>"))
  }

  /** Deterministic MinHash "permutation" constants: 28-bit multiplier
    * (nonzero) and offset for perm i, derived from base_hash of fixed
    * strings — identical in any engine because they are plain integer
    * literals in the generated plans/SQL.
    */
  def permConsts(i: Int): (Long, Long) = {
    def bh(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16)
    }
    ((bh(s"a:$i") % ((1L << 28) - 1)) + 1, bh(s"b:$i") % (1L << 28))
  }

  /** Mersenne prime 2^31 − 1, the MinHash permutation modulus. The
    * shingle key is reduced below it first, so a_i (< 2^28) times the
    * reduced key stays under 2^59 — no long overflow — while the
    * product wraps the modulus, so every permutation orders the
    * shingles differently. [[permHash]], [[permHashSql]] and the
    * native `MinHashSigExpr` all compute h_i with this constant.
    */
  val PermPrime = 2147483647L

  /** Arithmetic MinHash permutation over a non-negative shingle key
    * column: h_i = (a_i * (key mod P) + b_i) mod P, P = [[PermPrime]].
    */
  def permHash(i: Int, key: Column): Column = {
    val (a, b) = permConsts(i)
    pmod(lit(a) * pmod(key, lit(PermPrime)) + lit(b), lit(PermPrime))
  }

  /** DuckDB SQL mirror of [[permHash]]. */
  def permHashSql(i: Int, key: String): String = {
    val (a, b) = permConsts(i)
    s"(($a * (($key) % $PermPrime) + $b) % $PermPrime)"
  }

  /** Token base-hash array — project this ONCE and feed the result to
    * [[simHashFromHashes]]: inlining it would recompute one md5 per
    * token per simhash bit (32× the hashing work). */
  def tokenHashes(text: Column): Column = transform(tokens(text), t => baseHash(t))

  /** 32-bit SimHash from a precomputed base-hash array: bit j is the
    * sign of sum(±1) where each token votes +1 iff bit j of its hash
    * is set. Entirely per-row (no shuffle) — embarrassingly parallel
    * at any scale.
    */
  def simHashFromHashes(hs: Column): Column =
    (0 until 32).map { j =>
      val vote = aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB SQL mirror of [[simHash]]; `hsList` names a BIGINT-list
    * column of token base-hashes.
    */
  def simHashSql(hsList: String): String =
    (0 until 32).map { j =>
      s"(CASE WHEN list_sum(list_transform($hsList, h -> ((h >> $j) & 1) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Order-sensitive rolling fingerprint: fold
    * h = (h*31 + base_hash(token)) mod 1e9+7 over the token stream —
    * the distributed analogue of a Rabin–Karp document signature.
    * Per-row, no shuffle.
    */
  val FpMod = 1000000007L
  def fingerprint(text: Column): Column =
    aggregate(transform(tokens(text), t => baseHash(t)), lit(0L),
      (h, x) => pmod(h * lit(31L) + x, lit(FpMod)))

  /** DuckDB SQL mirror of [[fingerprint]] over a text column. DuckDB's
    * `list_reduce` seeds with the first element, so prepend the 0 seed
    * to match Spark's `aggregate(..., 0, ...)`.
    */
  def fingerprintSql(text: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($text, ' '), tk -> ${baseHashSql("tk")})),
       |  (h, x) -> (h * 31 + x) % $FpMod)""".stripMargin

  /** PII patterns for corpus scrubbing (the C4/CCNet-style redaction
    * pass a training pipeline runs before release). Conservative
    * syntax on purpose: character classes + bounded quantifiers only,
    * so Java regex (Spark) and RE2 (DuckDB) match identically —
    * no lookarounds, no backrefs. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails then IPv4s (fixed order — an address that matches
    * both is consumed by the email pass on every engine). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      Ipv4Re, "<IP>")

  /** DuckDB mirror of [[scrubPii]] ('g': replace ALL, which is
    * Spark's default). */
  def scrubPiiSql(text: String): String =
    s"regexp_replace(regexp_replace($text, '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g')"

  /** Gopher character-share rules (Rae et al. 2021 §A1.1, public):
    * the layout/symbol side of the quality family — share of lines
    * that are bullets, share of lines ending in an ellipsis, share of
    * words with at least one alphabetic character, and symbols
    * (`#` / `...`) per word. All per-row expressions (zero shuffle)
    * in exact integer arithmetic; ratios cross the oracle through
    * [[Exact.roundedRatio]].
    */
  def lineArray(text: Column): Column = split(text, "\n")

  /** DuckDB SQL mirror of [[lineArray]]. */
  def lineArraySql(text: String): String = s"string_split($text, chr(10))"

  private val BulletPrefixes = Seq("- ", "* ", "• ")

  /** Lines that start with a bullet marker (`- `, `* `, `• `). */
  def bulletLineCount(ls: Column): Column =
    size(filter(ls, l => BulletPrefixes.map(p => l.startsWith(p)).reduce(_ || _))).cast("long")

  /** DuckDB SQL mirror of [[bulletLineCount]] over a line list. */
  def bulletLineCountSql(ls: String): String = {
    val preds = BulletPrefixes.map(p => s"l LIKE '$p%'").mkString(" OR ")
    s"len(list_filter($ls, l -> $preds))"
  }

  /** Lines that end in an ellipsis (`...`). */
  def ellipsisLineCount(ls: Column): Column =
    size(filter(ls, l => l.endsWith("..."))).cast("long")

  /** DuckDB SQL mirror of [[ellipsisLineCount]]. */
  def ellipsisLineCountSql(ls: String): String =
    s"len(list_filter($ls, l -> l LIKE '%...'))"

  /** Words containing at least one ASCII-alphabetic character. */
  def alphaWordCount(ws: Column): Column =
    size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast("long")

  /** DuckDB SQL mirror of [[alphaWordCount]] over a word list. */
  def alphaWordCountSql(ws: String): String =
    s"len(list_filter($ws, w -> regexp_matches(w, '[a-zA-Z]')))"

  /** Symbol occurrences: `#` characters plus non-overlapping `...`
    * runs (both regex engines take leftmost non-overlapping matches,
    * so `.....` counts one). */
  def symbolCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "#", ""))).cast("long") +
      size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0))).cast("long")

  /** DuckDB SQL mirror of [[symbolCount]]. */
  def symbolCountSql(text: String): String =
    s"""(len($text) - len(replace($text, '#', ''))
       | + len(regexp_extract_all($text, '\\.\\.\\.')))""".stripMargin

  /** Count of tokens belonging to a marker set (language-ID /
    * stopword scoring). */
  def markerCount(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers))).cast("long")

  /** DuckDB SQL mirror of [[markerCount]]. */
  def markerCountSql(text: String, markers: Seq[String]): String = {
    val set = markers.map(m => s"'$m'").mkString(", ")
    s"len(list_filter(string_split($text, ' '), tk -> tk IN ($set)))"
  }

  /** Named entities the HTML extractor decodes, in DECODE order:
    * `&amp;` must decode LAST so double-escaped text (`&amp;lt;`)
    * yields the literal `&lt;` a real extractor produces, never a
    * second decode round. */
  private val HtmlEntities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** HTML → text extraction (the upstream step of every web-corpus
    * pipeline — C4/CCNet run exactly this before any quality signal):
    * strip tags (`<…>` → space, so `a<br>b` keeps its word boundary),
    * decode the named entities above, collapse whitespace runs and
    * trim. Pure codegen string expressions — zero shuffle, pushes
    * past joins, streaming-safe.
    */
  def htmlToText(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val decoded = HtmlEntities.foldLeft(noTags) { case (e, (k, v)) =>
      replace(e, lit(k), lit(v))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** DuckDB SQL mirror of [[htmlToText]]. */
  def htmlToTextSql(c: String): String = {
    val noTags = s"regexp_replace($c, '<[^>]*>', ' ', 'g')"
    val decoded = HtmlEntities.foldLeft(noTags) { case (e, (k, v)) =>
      val vq = if (v == "'") "''" else v
      s"replace($e, '$k', '$vq')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Mojibake repair table (UTF-8 bytes mis-decoded as Latin-1/
    * Windows-1252 — THE classic double-encoding corruption of web
    * corpora), longest patterns first so prefixes (`â€` under
    * `â€™`) can't pre-empt their longer forms. */
  private val Mojibake = Seq(
    "\u00e2\u20ac\u2122" -> "\u2019", // â€™ -> right single quote
    "\u00e2\u20ac\u0153" -> "\u201c", // â€œ -> left double quote
    "\u00e2\u20ac\u009d" -> "\u201d", // cp1252 0x9D passthrough control form
    "\u00e2\u20ac" -> "\u201d", // truncated right-double-quote form
    "\u00c3\u00a9" -> "\u00e9", "\u00c3\u00a8" -> "\u00e8", // Ã©/Ã¨ -> é/è
    "\u00c3\u00a4" -> "\u00e4", "\u00c3\u00b6" -> "\u00f6", // ä/ö
    "\u00c3\u00bc" -> "\u00fc", "\u00c3\u00b1" -> "\u00f1", // ü/ñ
    "\u00c3\u00a7" -> "\u00e7") // ç

  /** Encoding repair: rewrite the [[Mojibake]] sequences back to the
    * characters they were before the double-decode. Same zero-shuffle
    * codegen shape as [[htmlToText]].
    */
  def repairEncoding(c: Column): Column =
    Mojibake.foldLeft(c) { case (e, (k, v)) => replace(e, lit(k), lit(v)) }

  /** DuckDB SQL mirror of [[repairEncoding]]. */
  def repairEncodingSql(c: String): String =
    Mojibake.foldLeft(c) { case (e, (k, v)) => s"replace($e, '$k', '$v')" }
}
