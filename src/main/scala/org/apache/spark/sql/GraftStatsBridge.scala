package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into the `private[sql]` checkpoint relation, beside [[GraftColumnBridge]]. */
object GraftStatsBridge {

  /** `frozen` (an eager `localCheckpoint`) sized by [[storedBytes]] and `rows`. */
  def withStoredStats(frozen: DataFrame, rows: Long): DataFrame = {
    val lr = relation(frozen)
    val session = frozen.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, lr.copy()(session,
      Some(Statistics(storedBytes(frozen).max(1L), Some(rows))), Some(lr.constraints)))
  }

  /** Memory + disk bytes of a frozen frame's blocks, from the block manager
    * master: every block put reports there before its task ends, while the
    * status store behind `SparkContext.getRDDStorageInfo` lags behind.
    */
  def storedBytes(frozen: DataFrame): Long = {
    val id = relation(frozen).rdd.id
    SparkEnv.get.blockManager.master.getStorageStatus.iterator.flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`id`, _), s) => s.memSize + s.diskSize }.sum
  }

  private def relation(frozen: DataFrame): LogicalRDD = frozen.queryExecution.analyzed match {
    case lr: LogicalRDD => lr
    case p => throw new IllegalArgumentException(s"not a checkpointed frame: ${p.nodeName}")
  }
}
