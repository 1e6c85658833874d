package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** What the iterative DataFrame loops (PPR / CC / BFS) share. They plan at
  * the session's shuffle width, which AQE coalesces to one reduce partition
  * on a small graph; where a loop needs a width of its own it repartitions
  * its data (`Ppr.runAdj`). Nothing here changes a session conf.
  */
object Loops {

  /** The size rule: an input of fewer rows is small enough for one task,
    * and for the driver (the PPR `DriverGraph`, `SnapshotIndex`, the held
    * factors of `GraftService`).
    */
  val RowsPerPartition = 100000L

  /** Drop the cached blocks of a checkpointed frame once nothing returned
    * reads them. A frame that is not itself a checkpoint is left alone.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
