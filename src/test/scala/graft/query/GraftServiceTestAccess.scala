package graft.query

import graft.graph.Ppr

/** Test-side bridge to a service's package-private snapshot state, so
  * suites (package `graft`) can check which retrieval path a service took
  * and run the DataFrame path over the same prepared graph.
  */
object GraftServiceTestAccess {

  def index(svc: GraftService): Option[SnapshotIndex] = svc.index

  def pprGraph(svc: GraftService): Ppr.PreparedGraph = svc.pprGraph
}
