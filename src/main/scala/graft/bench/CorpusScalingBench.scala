package graft.bench

import graft.ops.{Dedup, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-vs-4N scaling evidence for the TRAINING-DATA operator family (the
  * corpus-side sibling of [[ScalingBench]], run by its `nVs4n` protocol):
  * the same dedup-cluster + decontaminate + split + pack pipeline over an
  * identical deterministic document corpus at local[N] and local[4N],
  * outputs checksum-verified identical across parallelism.
  *
  *   CorpusScalingBench [docs=100000] [n=2]
  *
  * The corpus carries real duplicate structure: every document whose
  * `id % 37 < 3` shares its family's text verbatim (families of ~3
  * spread across the id space), so minhash banding, the candidate
  * self-join, and the connected-components loop all do genuine work.
  *
  * efficiency = (T_N / T_4N) / 4; target ≥ 0.8 (north rule).
  */
object CorpusScalingBench {

  /** Deterministic corpus: ~60-word documents over a closed vocabulary,
    * text a pure function of the family id so duplicate families are
    * verbatim-identical at any parallelism.
    */
  private def corpus(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocab = Array("platform", "service", "token", "access", "cluster",
      "shuffle", "partition", "snapshot", "lineage", "entity", "graph",
      "window", "stream", "quality", "sample", "shard", "bucket", "band",
      "signature", "document", "corpus", "benchmark", "training", "data")
    val textUdf = udf { (id: Long) =>
      val family = if (id % 37 < 3) id - (id % 37) else id
      val sb = new StringBuilder
      var w = 0
      while (w < 60) {
        var z = family * 131 + w + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        // mask to non-negative BEFORE the modulus: .toInt.abs can return
        // Int.MinValue (still negative), crashing the array index
        sb.append(vocab(((((z ^ (z >>> 31)) >>> 8).toInt) & 0x7fffffff) % vocab.length))
        sb.append(' ')
        w += 1
      }
      sb.toString.trim
    }
    spark.range(nDocs).select(col("id").as("doc_id"), textUdf(col("id")).as("text"))
  }

  /** One full corpus-ops pass; returns (wall, rowChecksum) — the checksum
    * pins output identity across parallelism.
    */
  private def runOps(spark: SparkSession, nDocs: Long): (Double, Long) = {
    implicit val s: SparkSession = spark
    val docs = corpus(spark, nDocs).localCheckpoint()
    val bench = corpus(spark, nDocs).filter(col("doc_id") % 101 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L).localCheckpoint()
    // incremental-dedup leg: first 80 % committed as batch b0, the rest
    // arrives as batch b1 and is annotated against b0's signature index —
    // the daily-crawl shape the operator exists for, timed at both widths
    val storeDir = java.nio.file.Files.createTempDirectory("graft-corpus-bench-")
    val store = new graft.store.SnapshotStore(storeDir.toString)
    val cut = nDocs * 8 / 10
    val t0 = System.nanoTime()
    val clusters = Dedup.dedupClusters(docs)
    val contam = Dedup.crossContamination(docs, bench)
    val splits = Sampling.assignSplits(docs).select("doc_id", "bucket", "split")
    val shards = Sampling.packShards(
      docs.select(col("doc_id"), graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      tokenBudget = 4096L)
    val inc0 = graft.ops.IncrementalDedup.ingestBatch(
      store, "b0", docs.filter(col("doc_id") < cut))
    val inc1 = graft.ops.IncrementalDedup.ingestBatch(
      store, "b1", docs.filter(col("doc_id") >= cut))
    def sig(df: DataFrame): Long =
      df.select(crc32(concat_ws("\u0001", df.columns.map(col): _*)).as("c"))
        .agg(sum("c")).collect()(0).getLong(0)
    val checksum = sig(clusters) + sig(contam) + sig(splits) + sig(shards) +
      sig(inc0.drop("est_jaccard")) + sig(inc1.drop("est_jaccard"))
    val wall = (System.nanoTime() - t0) / 1e9
    graft.Bench.deleteRecursively(storeDir)
    (wall, checksum)
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 100000L
    val n = if (args.length > 1) args(1).toInt else 2
    val (checksum, fields) = ScalingBench.nVs4n(nDocs, n)(runOps)(_ => Seq("docs" -> nDocs))
    println(s"""{"docs":$nDocs,"output_checksum":$checksum,$fields}""")
  }
}
