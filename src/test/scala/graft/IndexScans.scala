package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** What an executed IVF search really read from its index. A plan string
  * cannot show pruning: every partitioned FileScan prints
  * `PartitionFilters`, and a dynamic pruning filter that was planned and
  * then switched off prints `dynamicpruningexpression(true)`. The scan's
  * own "number of partitions read" metric can. */
object IndexScans {

  /** Collect `df`, then sum the partitions read by its scans of a
    * `centroid_id`-partitioned index. */
  def partitionsRead(df: DataFrame): Long = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.relation.partitionSchema.fieldNames.contains("centroid_id") =>
        f.metrics("numPartitions").value
    }.sum
  }

  /** The distinct lists a query set probes: per query, the `nProbe`
    * centroids with the largest array-order double dot, ties to the
    * smaller centroid id. */
  def probedLists(
      queries: Seq[Array[Float]], cents: Seq[(Long, Array[Float])], nProbe: Int): Set[Long] =
    queries.flatMap { q =>
      cents
        .map { case (cid, c) => (cid, q.indices.map(i => q(i).toDouble * c(i).toDouble).sum) }
        .sortBy { case (cid, dot) => (-dot, cid) }
        .take(nProbe)
        .map(_._1)
    }.toSet
}
