package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** `gate_mix`: one closed-loop client runs a fixed subset of the gate
  * catalogue (`SparkEntry.queries`), one query per operation, each into
  * the `noop` sink. An iteration is one pass over the subset in an order
  * drawn from the seed, so every query weighs the same in each figure. */
final class GateMix(data: String, out: String, queriesFile: String, seed: Long)
    extends Workload {
  private val catalogue: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  private val names: Seq[String] = Truth.list(queriesFile).map(_.asText)
  private val rng = new scala.util.Random(seed)
  private var order = names
  private var orderOf = -1
  private var dir = data
  private val warmupPasses = mutable.ArrayBuffer[Double]()
  private val passes = mutable.ArrayBuffer[Double]()
  /** (planning seconds, total seconds) of each traced noop write, from
    * the public query-execution listener. */
  private val executions = mutable.ArrayBuffer[(Double, Double)]()
  /** Set while a traced `queries.execute` span runs its body. */
  @volatile private var listening = false
  private var registered = false

  def setup(spark: SparkSession, k: Int): Unit = {
    // The same tables under a path this JVM has not seen: table schema
    // caches and shared snapshots are keyed by path, so they start cold.
    val alias = Paths.get(out, s"tables_$k")
    if (!Files.exists(alias)) Files.createSymbolicLink(alias, Paths.get(data).toAbsolutePath)
    dir = alias.toString
  }

  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    val t0 = System.nanoTime()
    names.foreach(n => run(spark, n, tr))
    warmupPasses += (System.nanoTime() - t0) / 1e9
  }

  def iteration(spark: SparkSession, i: Int, tr: Tracer): Seq[Op] = {
    if (tr.enabled && !registered) listen(spark)
    // a new order per input, so a traced pass repeats its untraced one
    if (i != orderOf) { order = rng.shuffle(names); orderOf = i }
    val t0 = System.nanoTime()
    val ops = order.map(n => run(spark, n, tr))
    if (!tr.enabled) passes += (System.nanoTime() - t0) / 1e9
    ops
  }

  private def run(spark: SparkSession, name: String, tr: Tracer): Op = {
    val t0 = System.nanoTime()
    val failed =
      try {
        val df = tr.span("queries.build") { catalogue(name)(spark, dir) }
        // The span drains the listener bus at both ends, so the
        // listener sees exactly the executions of this body.
        try tr.span("queries.execute") { listening = tr.enabled; Main.noop(df) }
        finally listening = false
        false
      } catch { case e: Exception =>
        System.err.println(s"[gate_mix] $name failed: $e")
        true
      }
    val op = Op(name, (System.nanoTime() - t0) / 1e9, 1, failed)
    // blocks persisted by checkpointing gates are released between
    // queries, as the gate harness does, outside the timed region
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    op
  }

  private def listen(spark: SparkSession): Unit = {
    registered = true
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
        if (listening) executions.synchronized { executions += ((plan, durationNs / 1e9)) }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  override def dumpForChecks(spark: SparkSession): Unit = {
    // one result per query for the oracle comparison made outside the JVM
    val res = Paths.get(out, "results")
    names.foreach { n =>
      try catalogue(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(res.resolve(n).toString)
      catch { case e: Exception => System.err.println(s"[gate_mix] $n dump failed: $e") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.write(oracles))
  }

  def report(ops: Seq[Op], tr: Tracer): Seq[(String, Double, String)] = {
    val lat = ops.map(_.seconds)
    val base = Seq(
      ("queries_per_s", ops.size / lat.sum, "1/s"),
      ("query_p50_s", Stats.median(lat), "s"),
      ("shared.warmup_s", Stats.median(warmupPasses.toSeq), "s"),
      ("shared.cold_to_warm_ratio", Stats.median(warmupPasses.toSeq) / Stats.median(passes.toSeq), "ratio"))
    if (!tr.enabled) return base
    val builds = tr.recorded.filter(_.name == "queries.build")
    val execs = tr.recorded.filter(_.name == "queries.execute")
    val n = execs.size.toDouble
    val c = (builds ++ execs).map(_.counts).foldLeft(Counts.zero)(_ + _)
    val ex = executions.synchronized(executions.toSeq)
    base ++ Seq(
      ("queries.build_s_p50", Stats.median(builds.map(s => (s.end - s.start) / 1e9)), "s"),
      ("queries.plan_s_p50", Stats.median(ex.map(_._1)), "s"),
      ("queries.exec_s_p50", Stats.median(ex.map(e => e._2 - e._1)), "s"),
      ("queries.jobs_per_query", c("spark.jobs") / n, "count"),
      ("queries.stages_per_query", c("spark.stages") / n, "count"),
      ("queries.tasks_per_query", c("spark.tasks") / n, "count"))
  }
}
