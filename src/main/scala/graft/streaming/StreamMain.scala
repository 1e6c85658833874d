package graft.streaming

import graft.core.LocalSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** End-to-end Structured Streaming entry point: a parquet directory of
  * online-edge observations streams through the stateful promotion
  * operator into a parquet sink — `readStream → flatMapGroupsWithState →
  * writeStream` with a real checkpoint, the St1–St3 loop as one runnable
  * job (the reference's online crystallization, buffer.py:75-199, run
  * continuously instead of per-call).
  *
  * `Trigger.AvailableNow` drains everything currently in the source then
  * stops — re-running the same (source, checkpoint, sink) triple RESUMES
  * the per-pair state from the checkpoint, so hits accumulated before a
  * shutdown still count toward promotion after it (exactly the reference's
  * persisted buffer semantics, interoception store).
  */
object StreamMain {

  val ObservationSchema: StructType = StructType(Seq(
    StructField("node_a", StringType),
    StructField("node_b", StringType),
    StructField("score", DoubleType),
    StructField("ts", LongType)))

  /** Drain the observation source once; returns when the micro-batches are
    * done. Safe to call repeatedly — state lives in `checkpointDir`.
    */
  def runOnce(obsDir: String, outDir: String, checkpointDir: String)(
      implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val obs = spark.readStream
      .schema(ObservationSchema)
      .parquet(obsDir)
      .as[EdgePromotion.Observation]
    val promoted = EdgePromotion.promoteStream(obs)
    val q = promoted.toDF().writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  def main(args: Array[String]): Unit = {
    val Array(obsDir, outDir, checkpointDir) = args.take(3)
    implicit val spark: SparkSession = LocalSpark.session("graft-stream", LocalSpark.cpus)
    runOnce(obsDir, outDir, checkpointDir)
    val n = spark.read.parquet(outDir).count()
    println(s"""{"promoted_edges":$n,"out":"$outDir"}""")
    spark.stop()
  }
}
