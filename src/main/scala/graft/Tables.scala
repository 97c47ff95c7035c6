package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, lit}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every loader is a plain parquet scan so Catalyst keeps full
  * filter/column pushdown and partition pruning; at cluster scale the
  * same code reads a partitioned table directory unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Footer-derived schema per table path, what a metastore catalog
  // would hold: repeated loads of the same immutable table skip the
  // per-query footer schema-inference round (pure metadata — the scan,
  // pushdown and results are identical). Keyed by path only, so it is
  // session-independent and bounded by the table count.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val cached = schemaCache.get(path)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.putIfAbsent(path, df.schema)
      df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` arrives as parquet TIMESTAMP at either nanosecond
    * precision (read as raw epoch-nanos long via the runtime-settable
    * legacy conf) or microsecond precision (read as TIMESTAMP /
    * TIMESTAMP_NTZ) depending on how the table was generated; this
    * loader normalizes BOTH layouts to the same columns: `ts_ns`
    * (long nanos), `ts_us` (long, µs-truncated — EXACTLY what
    * DuckDB's `epoch_us(ts)` yields, so every cross-engine time
    * comparison uses `ts_us`, never raw ns) and `ts_sec` (double
    * seconds). Sessions run with `spark.sql.session.timeZone=UTC`,
    * so the NTZ→LTZ cast reads a naive timestamp as UTC — the same
    * convention DuckDB's `epoch_us` applies to a naive column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    val normalized = df.schema("ts").dataType match {
      case LongType => df // epoch nanos already
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _: TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(s"events.ts: unsupported type $other")
    }
    normalized.withColumnRenamed("ts", "ts_ns")
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("ts_sec", col("ts_ns") / 1e9)
  }

  /** The `xs` clock of the events gates: whole seconds of `ts_us`
    * (µs floor, the value is positive) counted from 2024-01-01T00:00Z.
    * [[xs]] is the Spark side, [[xsSql]] the DuckDB side over raw
    * `ts`; the two are bit-identical longs. */
  private[graft] val XsEpochSec = 1704067200L
  private[graft] def xs: Column = expr("ts_us div 1000000") - lit(XsEpochSec)
  private[graft] val xsSql: String = s"(epoch_us(ts) // 1000000) - $XsEpochSec"

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
