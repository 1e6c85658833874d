package graft.query

import graft.core.Embeddings
import graft.graph.Ppr
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphRAG-style hybrid retrieval over the constructed KG — the
  * distributed analog of GraphRAGAdapter.retrieve
  * (src/qortex/hippocampus/adapter.py:318-425):
  *
  *   1. embed the query, vector-search the concept table with
  *      fetch_k = max(3·k, 30) (adapter.py:427-512)   [T1]
  *   2. weight seeds by teleportation factors, normalize to sum 1
  *      (factors.py:88-100)                            [A6]
  *   3. PPR from the seeds (damping 0.85)              [G1]
  *   4. score = 0.5·vec + 0.5·(ppr / max ppr), top-k
  *      (adapter.py:546-592; max-normalization at :559-562) [T2, A8]
  *
  * Here every stage is a DataFrame op; the driver-side values are the
  * query vector (broadcast via literal), scalar aggregates and — on a
  * graph below the loop width (graft.graph.Ppr) — the PPR iteration itself
  * over the collected ≤ fetch_k seeds and online edges. `SnapshotIndex`
  * runs the same steps with the same arithmetic on the driver; a
  * `GraftService` over a snapshot below the loop width answers from it,
  * and every other caller runs this path.
  */
object Retrieval {

  /** T1 — brute-force cosine search of the concept table's embedding
    * column against one query vector.
    */
  def vectorSearch(
      concepts: DataFrame, // (id, name, embedding)
      queryVec: Array[Float],
      fetchK: Int
  )(implicit spark: SparkSession): DataFrame = {
    val q = typedLit(queryVec.toSeq)
    concepts
      .select(col("id"), col("name"),
        Similarity.cosineUdf(col("embedding"), q).as("vec_score"))
      .orderBy(col("vec_score").desc, col("id").asc)
      .limit(fetchK)
  }

  /** Everything one retrieval computes — the reference's full query
    * contract `{items, query_id, rules}` (service.py:440-458) plus the
    * adapter-level surfaces: ranked results, the rules bundled per
    * activated concept (service._collect_query_rules → J3), the ephemeral
    * online edges (to feed EdgePromotion.promoteBatch — adapter.py:372-375),
    * and the KG-coverage ratio persistent/(persistent+online)
    * (adapter.py:377-388).
    */
  final case class RetrievalOutput(
      results: DataFrame, // (id, name, vec_score, ppr, combined)
      rules: DataFrame, // (id, text, category, relevance) — empty if no rules table given
      onlineEdges: DataFrame, // (id_a, id_b, cosine)
      kgCoverage: Double)

  /** Graph pattern-completion strategy: PPR (the HippoRAG default) or the
    * BFS fallback the reference selects when PPR is unavailable
    * (hippocampus/retrieval.py:50-63 strategy dispatch, :145-183 BFS).
    */
  sealed trait CompletionStrategy
  case object PprCompletion extends CompletionStrategy
  case object BfsCompletion extends CompletionStrategy

  /** Full hybrid retrieval — all six steps of GraphRAGAdapter.retrieve
    * (adapter.py:318-425):
    *   1. vec search → seed candidates                      [T1]
    *   2. online cosine edges among candidates (:368-370)   [J6]
    *   3. online edges exposed for the promotion buffer     [A3 input]
    *   4. KG coverage = persistent/(persistent+online)      [:377-388]
    *   5. PPR over persistent ∪ online edges (:514-544,
    *      extra_edges at :532)                              [G1]
    *   6. blend 0.5·vec + 0.5·(ppr/max ppr) over the UNION
    *      of seeds and PPR-activated nodes (:546-566 — a
    *      non-seed activated node scores with vec = 0)      [T2, A8]
    *
    * `factors`: (node_id, factor) teleportation table (may be empty →
    * uniform 1.0, factors.py:36-70).
    */
  def retrieveFull(
      concepts: DataFrame, // (id, name, embedding)
      edges: DataFrame, // (source_id, target_id, confidence)
      factors: DataFrame, // (node_id, factor)
      queryText: String,
      topK: Int = 5,
      onlineThreshold: Double = 0.7, // online_sim_threshold (adapter.py:278)
      /** Rules table (id, text, category, concept_ids); when given, the
        * output bundles rulesForConcepts over the activated result set —
        * the `rules` half of the reference's query contract.
        */
      rules: Option[DataFrame] = None,
      strategy: CompletionStrategy = PprCompletion,
      /** A snapshot-scoped normalized adjacency (Ppr.prepare(edges)) — a
        * query service passes this so every query reuses it instead of
        * preparing the edge table again (GraftService prepares once per
        * committed snapshot). On a graph below the loop width it lives on
        * the driver and PPR costs two small collects (seeds, online edges).
        */
      prepared: Option[Ppr.PreparedGraph] = None
  )(implicit spark: SparkSession): RetrievalOutput = {
    val k = math.max(1, math.min(topK, 1000)) // top_k clamp (service.py:421-422)
    val fetchK = math.max(3 * k, 30) // adapter.py:485
    val queryVec = Embeddings.embed(queryText)

    // seeds are reused by three downstream stages — checkpoint the tiny
    // frame so each stage plans against a leaf
    val seeds = vectorSearch(concepts, queryVec, fetchK).localCheckpoint()

    // step 2: ephemeral online edges among the candidate set
    val seedEmb = seeds.select(col("id"))
      .join(concepts.select(col("id"), col("embedding")), Seq("id"))
    val online = onlineEdges(seedEmb, onlineThreshold).localCheckpoint()
    val nOnline = online.count()

    // step 4: persistent KG edges with BOTH endpoints among the candidates
    // (adapter.py:666-674) — two semi-joins, no driver-side sets
    val seedIds = seeds.select(col("id"))
    val nPersistent = edges
      .join(seedIds.withColumnRenamed("id", "source_id"), Seq("source_id"), "left_semi")
      .join(seedIds.withColumnRenamed("id", "target_id"), Seq("target_id"), "left_semi")
      .count()
    val kgCoverage = nPersistent.toDouble / math.max(nPersistent + nOnline, 1L).toDouble

    // A6: seed weights = vec score × teleportation factor, clamped [0.1,5]
    val weighted = seeds
      .join(broadcast(factors.select(col("node_id").as("id"), col("factor"))), Seq("id"), "left")
      .withColumn("weight",
        col("vec_score") * least(lit(5.0), greatest(lit(0.1), coalesce(col("factor"), lit(1.0)))))
      .select(col("id"), col("name"), col("vec_score"), col("weight"))

    // step 5: pattern completion over the merged graph (persistent +
    // online extras). PPR is the HippoRAG path: the online edges merge into
    // the prepared persistent graph as per-query extras. BFS is the
    // reference's documented fallback (retrieval.py:145-183) — same blend
    // downstream.
    val onlineAsEdges = online.select(col("id_a").as("source_id"),
      col("id_b").as("target_id"), col("cosine").as("confidence"))
    val ppr = strategy match {
      case PprCompletion =>
        Ppr.runPrepared(prepared.getOrElse(Ppr.prepare(edges)), onlineAsEdges,
          weighted.select(col("id"), col("weight")), damping = 0.85, tol = 1e-4, maxIter = 30)
      case BfsCompletion =>
        val bfsEdges = edges.select(col("source_id"), col("target_id"), col("confidence"))
          .unionByName(onlineAsEdges)
        graft.graph.Bfs.patternCompletion(bfsEdges, weighted.select(col("id")), maxDepth = 2)
          .select(col("id"), col("score").as("rank"))
    }

    // step 6: A8 max-normalization, 0.5/0.5 blend over seeds ∪ activated
    val maxPpr = ppr.agg(max(col("rank"))).collect()(0)
    val maxV = if (maxPpr.isNullAt(0) || maxPpr.getDouble(0) <= 0) 1.0 else maxPpr.getDouble(0)
    val results = weighted.select(col("id"), col("vec_score"))
      .join(ppr.withColumnRenamed("rank", "ppr"), Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("vec_score"), lit(0.0)).as("vec_score"),
        coalesce(col("ppr"), lit(0.0)).as("ppr"))
      .withColumn("combined",
        lit(0.5) * col("vec_score") + lit(0.5) * (col("ppr") / lit(maxV)))
      .orderBy(col("combined").desc, col("id").asc)
      .limit(k)
      .join(concepts.select(col("id"), col("name")), Seq("id"), "left") // J4 resolve
      .orderBy(col("combined").desc, col("id").asc)
      .select("id", "name", "vec_score", "ppr", "combined")
      // the result set is consumed twice (caller + rules join) — checkpoint
      // the ≤k rows so the rules join does not recompute the whole retrieval
      .localCheckpoint()

    // J3: bundle the rules whose concept_ids intersect the activated set,
    // relevance = max combined score (service.py:440-458 calls
    // _collect_query_rules on every query's items)
    val queryRules = rules match {
      case Some(r) =>
        graft.rules.Rules.rulesForConcepts(
          r, results.select(col("id"), col("combined").as("score")))
      case None =>
        import spark.implicits._
        Seq.empty[(String, String, String, Double)]
          .toDF("id", "text", "category", "relevance")
    }
    RetrievalOutput(results, queryRules, online, kgCoverage)
  }

  /** Ranked results only (the common call shape). */
  def retrieve(
      concepts: DataFrame,
      edges: DataFrame,
      factors: DataFrame,
      queryText: String,
      topK: Int = 5
  )(implicit spark: SparkSession): DataFrame =
    retrieveFull(concepts, edges, factors, queryText, topK).results

  /** J6/J7 — online similarity edges among a candidate set (all-pairs
    * cosine ≥ threshold, adapter.py:627-663) plus the KG-coverage ratio
    * persistent/(persistent+online) (adapter.py:377-388).
    */
  def onlineEdges(
      candidates: DataFrame, // (id, embedding)
      threshold: Double = 0.7 // online_sim_threshold (adapter.py:278)
  )(implicit spark: SparkSession): DataFrame = {
    val a = candidates.select(col("id").as("id_a"), col("embedding").as("va"))
    val b = candidates.select(col("id").as("id_b"), col("embedding").as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b")) // undirected (least,greatest) key, buffer.py:77
      .withColumn("cosine", Similarity.cosineUdf(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
