package perfbench

import org.apache.spark.sql.SparkSession

/** Host context of a run. It is recorded beside the result, never
  * compared: results from different hosts are not comparable. `traffic`
  * is what the run's requests exercised. */
object Context {
  def json(spark: SparkSession, a: Main.Args, cores: Int, traffic: Seq[(String, Double)]): String = {
    Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed),
      "seconds" -> Json.num(a.seconds.toLong),
      "trace" -> a.trace.toString,
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors().toLong),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1e6),
      "spark_master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "local_cores" -> Json.num(cores.toLong),
      "loadavg_at_start" -> Json.str(sys.env.getOrElse("PERFBENCH_LOADAVG", "unknown")),
      "commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "source_sha256" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", "unknown")),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "traffic" -> Json.obj(traffic.map { case (k, v) => k -> Json.num(v) })))
  }
}
