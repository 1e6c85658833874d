package graft.query

import graft.graph.Ppr
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession

/** Test-side bridge to a service's package-private snapshot state, so
  * suites (package `graft`) can check which retrieval path a service took
  * and run the DataFrame path over the same prepared graph.
  */
object GraftServiceTestAccess {

  def index(svc: GraftService): Option[SnapshotIndex] = svc.index

  def pprGraph(svc: GraftService): Ppr.PreparedGraph = svc.pprGraph

  /** A service whose size rule for the index and the held factors is
    * `rowLimit` rows instead of `Loops.RowsPerPartition`.
    */
  def withRowLimit(store: SnapshotStore, rowLimit: Int)(implicit spark: SparkSession): GraftService =
    new GraftService(store, rowLimit)
}
