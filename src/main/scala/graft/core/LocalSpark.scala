package graft.core

import org.apache.spark.sql.SparkSession

/** The one local `SparkSession` every entry point and the test base run
  * on. AQE and its skew-join split are Spark 4's defaults, so they are
  * not set here.
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS` if set, else the host's core count. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session time
    * and no UI, logging at WARN.
    */
  def session(appName: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // ICU case-mapping class init costs ~60 s and blocks every task at
      // the first codegen'd lower()/upper() while ICU's
      // CollationAwareUTF8String class-initialises (once per JVM); our spec
      // is ASCII-stable under JVM mappings, so skip ICU.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
