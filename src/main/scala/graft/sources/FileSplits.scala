package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Byte-capped partition planning shared by the file sources: the
  * items of one file (SPEC scan blocks, detector frames) are cut into
  * contiguous runs whose bytes stay under a cap, so many small items
  * share one task and a large file still spreads across tasks.
  */
object FileSplits {

  /** Items `0 until sizes.length` as contiguous half-open runs
    * `[from, until)` of at most `maxBytes` each; an item larger than
    * the cap gets a run of its own.
    */
  def runs(sizes: IndexedSeq[Long], maxBytes: Long): Seq[(Int, Int)] = {
    val out = mutable.ArrayBuffer[(Int, Int)]()
    var start = 0
    var bytes = 0L
    for (i <- sizes.indices) {
      if (i > start && bytes + sizes(i) > maxBytes) {
        out += ((start, i))
        start = i
        bytes = 0L
      }
      bytes += sizes(i)
    }
    if (sizes.nonEmpty) out += ((start, sizes.length))
    out.toSeq
  }

  /** The split size Spark's own file sources use for a read of
    * `totalBytes` (`FilePartition.maxSplitBytes`):
    * min(`spark.sql.files.maxPartitionBytes`,
    *     max(`spark.sql.files.openCostInBytes`, totalBytes / parallelism)),
    * where parallelism is `spark.sql.files.minPartitionNum`, else
    * `spark.sql.leafNodeDefaultParallelism`, else the default
    * parallelism of the cluster.
    */
  def maxSplitBytes(session: SparkSession, totalBytes: Long): Long = {
    val conf = session.sessionState.conf
    val parallelism = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(session.sparkContext.defaultParallelism)
    math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, totalBytes / math.max(1, parallelism)))
  }
}
