package graft.graph

import graft.core.Loops
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-side bridge to PPR's package-private row limit, so suites (package
  * `graft`) can run the same inputs through the driver kernel and through
  * the distributed loop, which production only takes on large graphs.
  */
object PprTestAccess {

  /** (name, row limit) of each execution path. */
  val paths: Seq[(String, Long)] = Seq("driver" -> Loops.RowsPerPartition, "distributed" -> 0L)

  def prepare(edges: DataFrame, rowLimit: Long)(implicit spark: SparkSession): Ppr.PreparedGraph =
    Ppr.prepare(edges, rowLimit)

  /** `Ppr.run` (or `runPrepared` over a graph prepared for this call when
    * `extras` are given) with the path forced by `rowLimit`.
    */
  def run(edges: DataFrame, seeds: DataFrame, rowLimit: Long, extras: Option[DataFrame] = None,
      damping: Double = 0.85, tol: Double = 1e-6, maxIter: Int = 100)(
      implicit spark: SparkSession): DataFrame =
    Ppr.runOnce(Ppr.prepare(edges, rowLimit), extras, seeds, damping, tol, maxIter, 1e-8)
}
