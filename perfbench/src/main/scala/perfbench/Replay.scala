package perfbench

import graft.canon.Canon
import graft.core.{Embeddings, PageRow, TextSpec}
import graft.graph.{Bfs, Ppr}
import graft.link.Linking
import graft.pipeline.Ingest
import graft.prune.Pruning
import graft.query.Retrieval
import graft.rules.Rules
import graft.store.SnapshotStore
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The traced replay: each layer's public call, run on a workload's
  * committed warehouse, one span per call. The layer spans nest under
  * `replay.ingest` and `replay.query`, whose self time is what the replay
  * spends outside the layers (reading and materialising their inputs).
  *
  * Every input is materialised before its span opens, so a span times its
  * own layer only. Inside the span the layer's output is materialised in
  * executor memory (`localCheckpoint`); nothing is written to the
  * warehouse. Extraction, whose output nothing downstream needs here, goes
  * to Spark's `noop` sink instead.
  */
final class Replay(tracer: Tracer)(implicit spark: SparkSession) {
  import spark.implicits._

  private val cfg = Ingest.Config()

  /** Materialise `df` inside span `name` and record its output rows. */
  private def layer(name: String)(df: => DataFrame): DataFrame = {
    val out = tracer.span(name)(df.localCheckpoint())
    tracer.annotate(name, "rows_out", out.count().toDouble)
    out
  }

  val IngestLayers: Seq[String] = Seq(
    "extract.extract", "link.build_concepts", "link.resolve_edges", "prune.tag",
    "canon.canonical_map", "rules.explicit", "rules.derived", "pipeline.code_examples",
    "store.commit_append", "store.commit_replace")

  val QueryLayers: Seq[String] =
    Seq("query.vector_search", "query.online_edges", "graph.ppr_run", "rules.for_concepts")

  /** Replay the ingest layers on `store`, whose latest `Ingest.run` took
    * `pages` (partitions `newDays`) as input. Scratch commits go to `scratch`.
    */
  def ingest(store: SnapshotStore, pages: Dataset[PageRow], newDays: Seq[String], scratch: Path): Unit =
    tracer.span("replay.ingest") {
      val pagesIn = pages.localCheckpoint()
      val nPages = pagesIn.count()
      tracer.span("extract.extract") {
        Ingest.extract(pagesIn, cfg).toDF().write.format("noop").mode("overwrite").save()
      }
      val docs = cfg.langFilter.fold(pagesIn)(l => pagesIn.filter(col("lang") === l)).count()
      tracer.annotate("extract.extract", "rows_out", docs.toDouble)
      tracer.annotate("extract.extract", "docs_per_page", docs.toDouble / math.max(1L, nPages))

      val staged = store.read("extractions").localCheckpoint()
      val mentions = Ingest.mentionsOf(staged).localCheckpoint()
      val triples = Ingest.triplesOf(staged).localCheckpoint()
      val concepts = layer("link.build_concepts") {
        Linking.buildConcepts(mentions, cfg.domain, TextSpec.version)
      }
      val rawEdges = layer("link.resolve_edges") {
        Linking.resolveEdges(triples, concepts, cfg.broadcastMaxRows, cfg.saltBuckets, cfg.dictSizeHint)
      }
      val tagged = layer("prune.tag")(Pruning.tag(rawEdges, cfg.pruning))
      tracer.annotate("prune.tag", "kept_ratio",
        Pruning.survivors(tagged).count().toDouble / math.max(1L, tagged.count()))
      val aliases = Ingest.aliasesOf(staged).localCheckpoint()
      layer("canon.canonical_map")(Canon.canonicalMap(concepts, aliases, cfg.nameSimThreshold))

      val canonNames = store.read("concepts")
        .groupBy(col("canonical_id").as("id")).agg(min(col("name")).as("name"))
        .localCheckpoint()
      val sentences = Ingest.ruleSentencesOf(staged).localCheckpoint()
      layer("rules.explicit")(Rules.explicitRules(sentences, canonNames, cfg.domain))
      val edgeCols = store.read("edges")
        .select("source_id", "target_id", "relation_type", "confidence").localCheckpoint()
      layer("rules.derived")(Rules.derivedRules(edgeCols, canonNames, cfg.domain))
      layer("pipeline.code_examples")(Ingest.codeExamplesOf(staged, canonNames, cfg.domain))

      // Store: the same commits Ingest.run makes, into a scratch store, from
      // the committed rows (read and materialised before the span opens).
      Files2.delete(scratch)
      val target = new SnapshotStore(scratch.toString)
      val appends = Seq("extractions", "pages_text", "lineage").map { t =>
        val part = if (t == "lineage") "input_partition" else "day"
        t -> store.read(t).filter(col(part).isin(newDays: _*)).localCheckpoint()
      }
      tracer.span("store.commit_append") {
        appends.foreach { case (t, df) => target.commitAppend(t, df, newDays) }
      }
      val appendBytes = Files2.treeBytes(scratch)
      tracer.annotate("store.commit_append", "bytes_written_mb", appendBytes / 1e6)
      val replaces = Seq("edges_tagged", "concepts", "edges", "canon_map", "rules",
        "code_examples", "lineage_prune").map(t => t -> store.read(t).localCheckpoint())
      val parts = store.latest("extractions").map(_.inputPartitions).getOrElse(Seq.empty)
      tracer.span("store.commit_replace") {
        replaces.foreach { case (t, df) => target.commitReplace(t, df, parts) }
      }
      tracer.annotate("store.commit_replace", "bytes_written_mb", (Files2.treeBytes(scratch) - appendBytes) / 1e6)
      Files2.delete(scratch)
    }

  /** Replay the retrieval layers of one `GraftService.query(context)` and
    * the BFS of one `explore(node)` on `store`'s committed graph. */
  def query(store: SnapshotStore, context: String, node: String, topK: Int): Unit =
    tracer.span("replay.query") {
      val concepts = store.read("concepts").localCheckpoint()
      val edges = store.read("edges").localCheckpoint()
      val rules = store.read("rules").localCheckpoint()
      val factors =
        if (store.exists("factors")) store.read("factors").localCheckpoint()
        else Seq.empty[(String, Double)].toDF("node_id", "factor")
      val prepared = Ppr.prepare(edges)
      val fetchK = math.max(3 * topK, 30)
      val qv = Embeddings.embed(context)

      val seeds = layer("query.vector_search")(Retrieval.vectorSearch(concepts, qv, fetchK))
      val seedEmb = seeds.select(col("id"))
        .join(concepts.select(col("id"), col("embedding")), Seq("id")).localCheckpoint()
      val online = layer("query.online_edges")(Retrieval.onlineEdges(seedEmb, 0.7))
      val weighted = seeds
        .join(broadcast(factors.select(col("node_id").as("id"), col("factor"))), Seq("id"), "left")
        .select(col("id"),
          (col("vec_score") * least(lit(5.0), greatest(lit(0.1), coalesce(col("factor"), lit(1.0)))))
            .as("weight"))
        .localCheckpoint()
      val extra = online.select(col("id_a").as("source_id"), col("id_b").as("target_id"),
        col("cosine").as("confidence")).localCheckpoint()
      layer("graph.ppr_run")(Ppr.runPrepared(prepared, extra, weighted, damping = 0.85, tol = 1e-4, maxIter = 30))
      val activated = seeds.orderBy(col("vec_score").desc, col("id").asc).limit(topK)
        .select(col("id"), col("vec_score").as("score")).localCheckpoint()
      layer("rules.for_concepts")(Rules.rulesForConcepts(rules, activated))
      layer("graph.bfs")(Bfs.exploreEdges(edges, Seq(node).toDF("id"), maxDepth = 1))
    }
}
