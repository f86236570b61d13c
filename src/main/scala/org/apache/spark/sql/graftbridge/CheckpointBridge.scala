package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint partitioning restoration (r14).
  *
  * Under adaptive execution, `Dataset.checkpoint`/`localCheckpoint`
  * records `UnknownPartitioning` on the `LogicalRDD` it returns (measured
  * on Spark 4.1.2 — `CutPartProbe` at 94bd464, pinned by
  * CheckpointPartitioningSpec: both REPARTITION_BY_COL
  * and REPARTITION_BY_NUM inputs come back `UnknownPartitioning(0)`), so
  * every downstream join/aggregate keyed like the checkpoint re-exchanges
  * it — for iterative operators that is a full E-sized shuffle per round
  * that the pre-cut repartition was supposed to have paid once.
  *
  * [[withHashPartitioning]] rebuilds the checkpointed frame's LogicalRDD
  * with the TRUE partitioning re-asserted. Safety contract (the caller —
  * `graft.core.Lineage.cutPartitioned` — enforces it): the rows must
  * PHYSICALLY satisfy `hashpartitioning(keys, n)`, i.e. the frame was
  * materialized through a REPARTITION_BY_NUM exchange on exactly these
  * keys (exempt from AQE coalescing, so partition index =
  * murmur3(keys) % n holds block for block). Asserting a partitioning
  * the blocks do not satisfy silently mis-joins co-partitioned plans —
  * never call this on anything but that shape.
  */
object CheckpointBridge {
  def withHashPartitioning(cut: DataFrame, keys: Seq[String], n: Int): DataFrame =
    cut.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        require(lr.rdd.getNumPartitions == n,
          s"checkpoint partition count ${lr.rdd.getNumPartitions} != asserted $n — " +
            "the frame was not materialized through the numbered repartition " +
            "this assertion requires")
        val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
          sys.error(s"cutPartitioned key '$k' not in ${lr.output.map(_.name)}")))
        // rebuilt over the SAME checkpoint rdd with only the partitioning
        // corrected. originStats/Constraints are dropped (their ctor slots
        // are inaccessible): the frame then sizes as defaultSizeInBytes,
        // i.e. it will never be STATICALLY broadcast — the safe direction,
        // and irrelevant for the E-sized iterative frames this serves
        // (AQE still runtime-converts small joins).
        PlanBridge.ofRows(cut.sparkSession,
          new LogicalRDD(lr.output, lr.rdd,
            HashPartitioning(attrs, n), lr.outputOrdering, lr.isStreaming,
            lr.stream)(
            cut.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            None, None))
      case other =>
        sys.error(s"expected a checkpointed LogicalRDD, got ${other.getClass}")
    }
}
