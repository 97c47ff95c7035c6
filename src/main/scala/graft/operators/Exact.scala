package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact cross-engine rounding helpers.
  *
  * `round(a/b, k)` computed through DOUBLE division is not portable
  * across engines when the exact quotient lands on a rounding-boundary
  * tie (e.g. 3118.29/56 = 55.68375 exactly): each engine's
  * double-rounding can fall on either side. Whenever the numerator is
  * an exact decimal and the denominator a small integer (means over
  * counts — the common case), we instead evaluate
  * `round(num/den, k) = (num*2*10^k + den) div (2*den)` in exact
  * integer arithmetic — HALF_UP away from zero for nonnegative
  * inputs, identical on every engine.
  *
  * Range: |num|*2*10^k must fit in a signed 64-bit long; for k=4 that
  * allows numerators up to ~4.6e14 (e.g. 4.6e12 "dollars" of scale-2
  * cents) — far beyond any per-group sum in the target workloads. The
  * internal division is done in decimal(38) so the quotient itself
  * never loses precision.
  */
object Exact {

  /** Lift to decimal(38,0), the exact integer domain for products and
    * sums that overflow a long (DuckDB's HUGEINT twin). */
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Scale-2 decimal column → exact integer cents (long). */
  def cents(c: Column): Column = (c * lit(100)).cast("long")

  /** Exact integer cents of a NONNEGATIVE double holding a 2-decimal
    * value: `floor(x*100 + 0.5)` is HALF_UP in pure IEEE ops —
    * identical on every engine and, unlike a `CAST(x AS DECIMAL)`,
    * free of per-row BigDecimal allocation in Spark's hot loop
    * (verified equal to the decimal cast on every money column of the
    * test tables). The ±0.5 tie can only matter if the true value has
    * >2 decimals, which these columns never do.
    */
  def centsOfDouble(c: Column): Column =
    floor(c * lit(100) + lit(0.5)).cast("long")

  /** DuckDB SQL fragment mirroring [[centsOfDouble]]. */
  def centsOfDoubleSql(c: String): String =
    s"CAST(floor(($c) * 100 + 0.5) AS BIGINT)"

  /** Overflow-safe distributed sum of integer cents/units: the
    * decimal(38) buffer stays in Spark's compact-long fast path until
    * a partial sum exceeds 18 digits, and never wraps at 100 TB where
    * a raw `sum(long)` would. */
  def sumUnits(c: Column): Column = sum(c.cast("decimal(38,0)"))

  /** HALF_UP integer-cent rounding of a NONNEGATIVE units sum
    * (`unitsPerCent` = 10^(extra digits)): (s + u/2) div u — exact
    * integer arithmetic, identical on both engines. */
  def unitsToCents(s: Column, unitsPerCent: Long): Column = {
    val num = s + lit(unitsPerCent / 2)
    // floor division of a nonnegative decimal by a positive literal:
    // subtract the remainder, then the decimal division is lossless
    ((num - pmod(num, lit(unitsPerCent))) / lit(unitsPerCent)).cast("long")
  }

  /** DuckDB SQL fragment mirroring [[unitsToCents]]. */
  def unitsToCentsSql(s: String, unitsPerCent: Long): String =
    s"((($s) + ${unitsPerCent / 2}) // $unitsPerCent)"

  /** round(num/den, k) HALF_UP for NONNEGATIVE integer columns
    * (num, den long-valued), returned as DOUBLE. NULL den or den=0
    * propagates NULL.
    */
  def roundedRatio(num: Column, den: Column, k: Int): Column = {
    require(k >= 0 && k <= 6, s"scale out of range: $k")
    val p = math.pow(10, k).toLong
    val num2 = num * lit(2L * p) + den
    val den2 = den * lit(2L)
    // Floor division of nonnegative longs, exact via pmod + decimal
    // division (the quotient is an exact integer, so the decimal
    // division is lossless).
    val q = ((num2 - pmod(num2, den2)).cast("decimal(38,0)") /
      den2.cast("decimal(19,0)")).cast("long")
    q.cast("double") / lit(p.toDouble)
  }

  /** Sign-aware [[roundedRatio]]: HALF_UP away from zero for either
    * sign of `num` (den still positive). The trailing `+ 0.0`
    * canonicalizes IEEE -0.0 from the negated branch.
    */
  def roundedRatioSigned(num: Column, den: Column, k: Int): Column =
    when(num >= 0, roundedRatio(num, den, k))
      .otherwise(-roundedRatio(-num, den, k) + lit(0.0))

  /** DuckDB SQL fragment mirroring [[roundedRatioSigned]]. */
  def roundedRatioSignedSql(num: String, den: String, k: Int): String =
    s"(CASE WHEN ($num) >= 0 THEN ${roundedRatioSql(num, den, k)} " +
      s"ELSE -${roundedRatioSql(s"-($num)", den, k)} + 0.0 END)"

  /** DuckDB SQL fragment mirroring [[roundedRatio]]. `numCents` and
    * `den` must be nonnegative BIGINT-valued SQL expressions.
    */
  def roundedRatioSql(num: String, den: String, k: Int): String = {
    val p = math.pow(10, k).toLong
    s"(CAST((($num) * ${2 * p} + ($den)) // (($den) * 2) AS DOUBLE) / $p.0)"
  }

  /** SQL fragment: exact cents of a scale-2 decimal expression. */
  def centsSql(c: String): String = s"CAST(($c) * 100 AS BIGINT)"

  /** Exact floor division for intermediates that exceed long range:
    * both operands lifted to decimal(38,0); x − pmod(x, y) is exactly
    * divisible so the decimal division is lossless (quotient must fit
    * 32 integer digits). NONNEGATIVE x only — DuckDB's `//` truncates
    * toward zero, so the engines agree only on x ≥ 0.
    */
  def floorDivBig(x: Column, y: Column): Column = {
    val xd = x.cast("decimal(38,0)")
    val yd = y.cast("decimal(38,0)")
    ((xd - pmod(xd, yd)) / yd).cast("decimal(38,0)")
  }

  /** DuckDB mirror of [[floorDivBig]] (HUGEINT `//`). */
  def floorDivBigSql(x: String, y: String): String =
    s"(CAST(($x) AS HUGEINT) // CAST(($y) AS HUGEINT))"
}
