package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Eager local checkpoint that keeps the hash partitioning its rows were
  * produced with. `Dataset.localCheckpoint` records the executed plan's
  * partitioning, but under AQE that plan is an `AdaptiveSparkPlanExec`,
  * which reports none, so every later join re-shuffles the checkpointed
  * rows. The final adaptive plan has the partitioning the rows really have;
  * it is recorded when it is a hash partitioning over the checkpoint's own
  * columns with the checkpoint's partition count. Building a Dataset from a
  * logical plan is `private[sql]`, hence this object's package. */
object CheckpointShim {
  def localCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    val produced = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.outputPartitioning
      case p                        => p.outputPartitioning
    }
    (cp.queryExecution.logical, produced) match {
      case (lr: LogicalRDD, h: HashPartitioning)
          if lr.outputPartitioning.isInstanceOf[UnknownPartitioning] &&
            h.references.subsetOf(lr.outputSet) &&
            h.numPartitions == lr.rdd.getNumPartitions =>
        val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, lr.copy(outputPartitioning = h)(
          session, Some(lr.computeStats()), Some(lr.constraints)))
      case _ => cp
    }
  }
}
