package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-side bridge to the package-private round count of
  * `Canon.connectedComponents`, so suites (package `graft`) can assert its
  * round budget.
  */
object CanonTestAccess {
  def componentsWithRounds(pairs: DataFrame)(implicit spark: SparkSession): (DataFrame, Int) =
    Canon.componentsWithRounds(pairs)
}
