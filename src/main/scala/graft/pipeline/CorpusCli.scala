package graft.pipeline

import graft.core.LocalSpark
import graft.ops.{Curation, Dedup, Ivf, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit surface for the training-data operators — the corpus-side
  * sibling of [[GraftCli]] (which serves the committed KG warehouse).
  * Inputs are parquet tables of the documented shapes (`documents`:
  * doc_id/text/…, `embeddings`: vec_id/embedding); outputs are parquet
  * plus ONE JSON summary line on stdout.
  *
  *   CorpusCli dedup-exact    <docs.parquet> <out>
  *   CorpusCli dedup-clusters <docs.parquet> <out> [minEstJaccard]
  *   CorpusCli decontaminate  <docs.parquet> <benchmark.parquet> <out> [minEstJaccard]
  *   CorpusCli split          <docs.parquet> <out> [trainPm] [valPm] [salt]
  *   CorpusCli pack           <docs.parquet> <out> [tokenBudget] [nBuckets]
  *   CorpusCli quality        <docs.parquet> <out>
  *   CorpusCli curate         <docs.parquet> <out>   (shared-gram + rarity signals)
  *   CorpusCli source-cap     <docs.parquet> <out> [maxPerSource] [salt]
  *   CorpusCli ann            <emb.parquet> <queries.parquet> <out> [k] [nprobe]
  *   CorpusCli redact         <docs.parquet> <out>   (PII scrub: email/URL/IP)
  *   CorpusCli dedup-incremental <warehouse> <batchId> <batch.parquet> <out> [minEstJaccard]
  *   CorpusCli dedup-replay   <warehouse> <batchId> <batch.parquet> <out> [minEstJaccard]
  *   CorpusCli decontaminate-ngram <docs.parquet> <benchmark.parquet> <out> [w]
  *   CorpusCli substring-dup  <docs.parquet> <out> [w]   (positional dup signal)
  *   CorpusCli substring-dedup <docs.parquet> <out> [w]  (keep-one span removal)
  *   CorpusCli curate-stream  <docsDir> <out> <checkpointDir>
  *   CorpusCli c4-clean       <docs.parquet> <out>   (C4 line rules + page gate)
  *   CorpusCli gopher-quality <docs.parquet> <out>   (Gopher table-A1 doc gate)
  *   CorpusCli gopher-repetition <docs.parquet> <out> (dup line/para fractions)
  *   CorpusCli dedup-paragraphs <docs.parquet> <out>  (keep first occurrence)
  *   CorpusCli resample-mix   <docs.parquet> <out> [src=permille,...] [defaultPermille]
  *
  * Every command is a straight mapping onto one `graft.ops` operator, so
  * the CLI adds no semantics — it only binds IO.
  */
object CorpusCli {

  /** Run one command; returns the summary lines. Split from main so tests
    * drive it in-process against a shared session.
    */
  def run(args: Seq[String], spark: SparkSession): Seq[String] = {
    implicit val s: SparkSession = spark
    require(args.nonEmpty,
      "usage: CorpusCli dedup-exact|dedup-clusters|split|quality|ann ...")

    def write(df: DataFrame, out: String): Long = {
      df.write.mode("overwrite").parquet(out)
      spark.read.parquet(out).count()
    }
    def summary(cmd: String, out: String, n: Long): Seq[String] =
      Seq(s"""{"command":"$cmd","rows":$n,"out":"$out"}""")

    args.head match {
      case "dedup-exact" =>
        val Seq(in, out) = args.slice(1, 3)
        summary("dedup-exact", out, write(Dedup.exact(spark.read.parquet(in)), out))

      case "dedup-clusters" =>
        val Seq(in, out) = args.slice(1, 3)
        val minEst = if (args.length > 3) args(3).toDouble else 0.5
        summary("dedup-clusters", out,
          write(Dedup.dedupClusters(spark.read.parquet(in), minEst), out))

      case "decontaminate" =>
        val Seq(in, bench, out) = args.slice(1, 4)
        val minEst = if (args.length > 4) args(4).toDouble else 0.5
        summary("decontaminate", out,
          write(Dedup.crossContamination(
            spark.read.parquet(in), spark.read.parquet(bench), minEst), out))

      case "split" =>
        val Seq(in, out) = args.slice(1, 3)
        val train = if (args.length > 3) args(3).toInt else 900
        val dev = if (args.length > 4) args(4).toInt else 50
        val salt = if (args.length > 5) args(5) else "graft"
        summary("split", out,
          write(Sampling.assignSplits(spark.read.parquet(in), "doc_id", salt, train, dev), out))

      case "pack" =>
        val Seq(in, out) = args.slice(1, 3)
        val budget = if (args.length > 3) args(3).toLong else 4096L
        val buckets = if (args.length > 4) args(4).toInt else 1000
        val withTokens = spark.read.parquet(in)
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        summary("pack", out, write(Sampling.packShards(withTokens, budget, buckets), out))

      case "quality" =>
        val Seq(in, out) = args.slice(1, 3)
        val docs = spark.read.parquet(in)
        val scored = TextAnalysis.quality(docs)
          .join(TextAnalysis.langId(docs).select(col("doc_id"), col("predicted_lang")),
            Seq("doc_id"))
          .join(TextAnalysis.repetition(docs)
            .select(col("doc_id"), col("dup_fraction"), col("top_share")), Seq("doc_id"))
        summary("quality", out, write(scored, out))

      case "curate" =>
        val Seq(in, out) = args.slice(1, 3)
        val docs = spark.read.parquet(in)
        val scored = Curation.sharedGramStats(docs)
          .join(Curation.unigramRarity(docs)
            .select(col("doc_id"), col("n_rare"), col("rare_fraction"),
              col("avg_token_freq")), Seq("doc_id"))
        summary("curate", out, write(scored, out))

      case "source-cap" =>
        val Seq(in, out) = args.slice(1, 3)
        val cap = if (args.length > 3) args(3).toInt else 100
        val salt = if (args.length > 4) args(4) else "graft"
        summary("source-cap", out,
          write(Curation.capPerSourceVerified(spark.read.parquet(in),
            maxPerSource = cap, salt = salt), out))

      case "redact" =>
        val Seq(in, out) = args.slice(1, 3)
        summary("redact", out,
          write(Curation.redactPii(spark.read.parquet(in)), out))

      case "c4-clean" =>
        val Seq(in, out) = args.slice(1, 3)
        summary("c4-clean", out,
          write(Curation.c4LineClean(spark.read.parquet(in)), out))

      case "gopher-quality" =>
        val Seq(in, out) = args.slice(1, 3)
        summary("gopher-quality", out,
          write(Curation.gopherQuality(spark.read.parquet(in)), out))

      case "gopher-repetition" =>
        val Seq(in, out) = args.slice(1, 3)
        summary("gopher-repetition", out,
          write(Curation.gopherRepetition(spark.read.parquet(in)), out))

      case "dedup-paragraphs" =>
        val Seq(in, out) = args.slice(1, 3)
        summary("dedup-paragraphs", out,
          write(Curation.dedupParagraphs(spark.read.parquet(in)), out))

      case "resample-mix" =>
        val Seq(in, out) = args.slice(1, 3)
        val rates =
          if (args.length > 3 && args(3).nonEmpty)
            args(3).split(",").map { kv =>
              kv.split("=") match {
                case Array(k, v) if scala.util.Try(v.toInt).isSuccess =>
                  k -> v.toInt
                case _ => sys.error(
                  s"resample-mix: malformed rate '$kv' — expected src=permille,...")
              }
            }.toMap
          else Map.empty[String, Int]
        val dflt = if (args.length > 4) args(4).toInt else 1000
        summary("resample-mix", out,
          write(Sampling.resampleSources(spark.read.parquet(in), rates, dflt), out))

      case "dedup-incremental" =>
        // <warehouse> <batchId> <batch.parquet> <out> [minEstJaccard]
        val Seq(wh, batchId, in, out) = args.slice(1, 5)
        val minEst = if (args.length > 5) args(5).toDouble else 0.9
        val store = new graft.store.SnapshotStore(wh)
        summary("dedup-incremental", out,
          write(graft.ops.IncrementalDedup.ingestBatch(
            store, batchId, spark.read.parquet(in), minEst), out))

      case "dedup-replay" =>
        // historical annotation for an already-committed batch: matches
        // against the index AS OF the batch's own commit (time travel)
        val Seq(wh, batchId, in, out) = args.slice(1, 5)
        val minEst = if (args.length > 5) args(5).toDouble else 0.9
        val store = new graft.store.SnapshotStore(wh)
        summary("dedup-replay", out,
          write(graft.ops.IncrementalDedup.replayAnnotation(
            store, batchId, spark.read.parquet(in), minEst), out))

      case "decontaminate-ngram" =>
        val Seq(in, bench, out) = args.slice(1, 4)
        val w = if (args.length > 4) args(4).toInt else 10
        summary("decontaminate-ngram", out,
          write(Curation.ngramDecontaminate(
            spark.read.parquet(in), spark.read.parquet(bench), w), out))

      case "substring-dup" =>
        val Seq(in, out) = args.slice(1, 3)
        val w = if (args.length > 3) args(3).toInt else 10
        summary("substring-dup", out,
          write(Curation.substringDupStats(spark.read.parquet(in), w), out))

      case "substring-dedup" =>
        val Seq(in, out) = args.slice(1, 3)
        val w = if (args.length > 3) args(3).toInt else 10
        summary("substring-dedup", out,
          write(Curation.substringDedup(spark.read.parquet(in), w), out))

      case "curate-stream" =>
        // <docsDir> <out> <checkpointDir> — one AvailableNow drain;
        // repeated invocations resume the seen-content state
        val Seq(in, out, ck) = args.slice(1, 4)
        graft.streaming.StreamingCuration.runOnce(in, out, ck)
        // an empty source drains zero micro-batches and never creates the
        // sink dir — report rows:0 instead of failing the read
        val n = if (new java.io.File(out).exists) spark.read.parquet(out).count()
                else 0L
        summary("curate-stream", out, n)

      case "ann" =>
        val Seq(in, queries, out) = args.slice(1, 4)
        val k = if (args.length > 4) args(4).toInt else 10
        val nprobe = if (args.length > 5) args(5).toInt else 4
        summary("ann", out,
          write(Ivf.ivfTopK(spark.read.parquet(in), spark.read.parquet(queries),
            k = k, nprobe = nprobe), out))

      case other =>
        throw new IllegalArgumentException(
          s"unknown command '$other' " +
            "(dedup-exact|dedup-clusters|decontaminate|split|pack|quality|" +
            "curate|source-cap|ann|redact|dedup-incremental|dedup-replay|" +
            "decontaminate-ngram|substring-dup|substring-dedup|curate-stream|" +
            "c4-clean|gopher-quality|gopher-repetition|dedup-paragraphs|" +
            "resample-mix)")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("graft-corpus", LocalSpark.cpus)
    try run(args.toSeq, spark).foreach(println)
    finally spark.stop()
  }
}
