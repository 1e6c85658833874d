package graft.pipeline

import graft.core.LocalSpark
import graft.fixtures.PagesGen
import graft.oracle.SeqOracle
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession

/** spark-submit entry point: generate (or read) a pages table, run the
  * full ingestion, print metrics including the triple P/R vs the sequential
  * oracle.
  *
  * Usage:
  *   IngestMain <warehouseDir> [nPages=2000] [cpus] [pagesParquet]
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's core count.
  *
  * If `pagesParquet` is given, pages are read from it; otherwise they are
  * generated deterministically (seed 42) — the generated table is exactly
  * reproducible, so throughput runs at different parallelism levels see
  * identical input.
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val warehouse = if (args.length > 0) args(0) else "/tmp/graft-warehouse"
    val nPages = if (args.length > 1) args(1).toLong else 2000L
    val cpus = if (args.length > 2) args(2).toInt else LocalSpark.cpus

    implicit val spark: SparkSession = LocalSpark.session("graft-ingest", cpus)
    import spark.implicits._

    val cfg = Ingest.Config()
    val store = new SnapshotStore(warehouse)

    val t0 = System.nanoTime()
    val pages =
      if (args.length > 3) spark.read.parquet(args(3)).as[graft.core.PageRow]
      else PagesGen.pages(spark, nPages)
    val processed = Ingest.run(pages, store, cfg)
    val wallSec = (System.nanoTime() - t0) / 1e9

    val nTriples = store.read("edges").count()
    val nConcepts = store.read("concepts").count()
    val nDocs = store.read("pages_text").count()

    // P/R vs the sequential oracle on raw triple surface sets — the
    // apples-to-apples artifact both sides emit. The PIPELINE side stays
    // distributed: tp/counts come from a semi-join + count()s, never a
    // driver-side collect of the pipeline's triples (at corpus scale that
    // set is orders of magnitude larger than the oracle slice). The oracle
    // itself is sequential by construction and bounded by nPages.
    val pipelineTriples = Ingest.triplesOf(store.read("extractions"))
      .select("subj", "pred", "obj").distinct()
    val tOracle = System.nanoTime()
    val oracle = SeqOracle.run(nPages, cfg = cfg)
    if (cfg.verbose)
      System.err.println(f"[graft] oracle (sequential)      ${(System.nanoTime() - tOracle) / 1e9}%8.2f s")
    val oracleDf = spark
      .createDataset(oracle.triples.toSeq)
      .toDF("subj", "pred", "obj")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidateCount = pipelineTriples.count().toDouble
    val oracleCount = oracleDf.count().toDouble
    val tp = pipelineTriples.join(oracleDf, Seq("subj", "pred", "obj"), "left_semi")
      .count().toDouble
    val p = if (candidateCount == 0) 0.0 else tp / candidateCount
    val r = if (oracleCount == 0) 0.0 else tp / oracleCount
    oracleDf.unpersist()

    println(
      s"""{"docs":$nDocs,"concepts":$nConcepts,"triples":$nTriples,
         |"new_partitions":$processed,"wall_sec":$wallSec,
         |"docs_per_sec":${nDocs / wallSec},"triples_per_sec":${nTriples / wallSec},
         |"precision":$p,"recall":$r}""".stripMargin.replace("\n", ""))
    spark.stop()
  }
}
