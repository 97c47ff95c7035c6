package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The run whose loaded classes the build archives for class-data
  * sharing: a small Spark job touching what every workload uses
  * (session start, code generation, shuffle, parquet out and in, the
  * noop sink). Usage: graftbench.Warm <scratch dir> */
object Warm {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graftbench-warm")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(0, 100000)
      .select((col("id") % 7).as("k"), (col("id") * 2).as("v"), col("id").cast("string").as("s"))
    df.write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    Main.noop(t.groupBy(col("k")).agg(sum(col("v")), countDistinct(col("s"))).join(t, "k"))
    spark.stop()
  }
}
