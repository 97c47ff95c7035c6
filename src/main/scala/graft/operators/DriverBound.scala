package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The one switch between a driver replay and a distributed plan.
  *
  * An operator whose input fits a budget collects it once and replays
  * its computation in driver memory (graph peels, classifier and
  * k-means training, exact-integer statistics over a value grid);
  * past the budget it runs its distributed plan. Both sides return
  * the same rows — each switch is pinned by a parity test at a tiny
  * budget.
  *
  * The probe and the collect are ONE action: `limit(bound + 1)`
  * brings back at most one row past the budget, so an over-budget
  * relation answers from its first partitions (CollectLimit runs
  * partitions incrementally) instead of paying a full count scan,
  * and an under-budget one is not scanned twice. A budget of 0 or
  * less always takes the distributed side; an empty relation under a
  * positive budget takes the driver side.
  */
object DriverBound {

  /** Row budget of the driver replays: 2M rows (edges, grid cells,
    * histogram bins) ≈ tens of MB collected — driver model-state
    * scale, far below any corpus. */
  private val DefaultRows = 2000000L

  /** Doc budget of [[QualityClassifier.train]]'s driver loop: 200k
    * docs × ~100 int features ≈ 80 MB of driver state. */
  val QualityTrainDocs = 200000L

  /** Doc budget of [[LangClassifier.train]]'s driver loop: char-n-gram
    * features run ~one per character, so 50k docs × ~500 int
    * features ≈ 100 MB of driver state. */
  val LangTrainDocs = 50000L

  /** Vector budget of [[IvfIndex.train]]'s driver k-means: 200k × 64
    * long components ≈ 110 MB of driver state. */
  val IvfTrainVectors = 200000L

  private val rowsOverride = new scala.util.DynamicVariable[Option[Long]](None)

  /** The row budget in force: 2M rows, or the budget of the innermost
    * enclosing [[withRows]] on this thread. */
  def rows: Long = rowsOverride.value.getOrElse(DefaultRows)

  /** Run `body` with the row budget set to `n` (0 forces every
    * row-budgeted switch onto its distributed side). */
  private[graft] def withRows[T](n: Long)(body: => T): T =
    rowsOverride.withValue(Some(n))(body)

  /** `driver(rows)` over the collected relation when it holds at most
    * `bound` rows, else `distributed`. The probe is the only action
    * this adds; the driver side gets its rows from it. */
  def driverOr[T](df: DataFrame, bound: Long)(driver: Array[Row] => T)(
      distributed: => T): T = {
    val collected =
      if (bound <= 0) None
      else Some(df.limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect())
    collected.filter(_.length <= bound).fold(distributed)(driver)
  }
}
