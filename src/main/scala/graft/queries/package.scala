package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

package object queries {

  /** The exact events view every events gate reads (SURVEY §4):
    * `user_id` ≈ scan, the µs clock `ts_us`, the `xs` seconds clock
    * ([[graft.Tables.xs]]) and `value` as `vd DECIMAL(18,2)`. [[E]] is
    * the DuckDB side, [[ev]] the Spark side; they agree bit for bit. */
  private[queries] val E: String =
    s"""(SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       |   ${graft.Tables.xsSql} AS xs,
       |   CAST(value AS DECIMAL(18,2)) AS vd, event_type
       | FROM events)""".stripMargin

  /** Spark side of [[E]]. */
  private[queries] def ev(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("ts_us"), graft.Tables.xs.as("xs"),
      col("value").cast("decimal(18,2)").as("vd"),
      col("event_type"))

  /** Deterministic total order for a SMALL (gate-sized) result without
    * `orderBy`'s range-partitioner overhead: a global sort first runs a
    * SAMPLING JOB that re-executes the whole upstream plan just to pick
    * range boundaries, then shuffles into range partitions. For bounded
    * outputs (every gate query returns ≤ ~10k rows by construction) a
    * single-partition exchange + in-partition sort gives the identical
    * row order while running the plan ONCE.
    *
    * `repartition(1)`, not `coalesce(1)`: coalesce would collapse the
    * FINAL COMPUTING stage to one task (it removes the boundary
    * upstream), while repartition inserts a narrow exchange of the
    * already-reduced result and leaves every upstream stage at full
    * parallelism. Unbounded results must keep `orderBy` — the parallel
    * range sort is the scalable path when the output itself is big.
    */
  implicit final class SmallResultOps(private val df: DataFrame) extends AnyVal {
    def orderedSmall(cols: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }
}
