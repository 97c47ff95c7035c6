package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // keep the shared session alive

  /** Synthetic events table dir: (event_id, user_id, event_type,
    * value), ts = epoch + event_id seconds (so (ts_us, event_id)
    * order == event_id order), props "{}". Gates read
    * `$dir/events.parquet`. */
  protected def eventsDir(rows: Seq[(Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_events_fix").toString
    rows.toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("event_id")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
