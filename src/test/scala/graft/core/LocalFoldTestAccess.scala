package graft.core

import org.apache.spark.sql.SparkSession

/** Test-side bridge to the rule's package-private size rule, so suites
  * (package `graft`) can check the bound without building a frame of
  * `Loops.RowsPerPartition` rows.
  */
object LocalFoldTestAccess {

  /** A new session of `spark`'s context whose `LocalFold` folds inputs of
    * fewer than `rowLimit` rows.
    */
  def session(spark: SparkSession, rowLimit: Long): SparkSession = {
    val s = spark.newSession()
    LocalFold.install(s, new LocalFold(rowLimit))
    s
  }
}
