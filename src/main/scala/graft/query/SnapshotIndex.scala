package graft.query

import graft.core.{Embeddings, Loops}
import graft.graph.Ppr
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** One committed snapshot's retrieval inputs held on the driver, and the
  * retrieval of `Retrieval.retrieveFull` computed from them without a
  * Spark job, as is the neighbourhood `GraftService.explore` returns. The
  * teleportation factors are an input of each call: `GraftService` holds
  * them beside the index (`SnapshotIndex.Factors`) below the same size
  * rule, else each query collects its seeds' rows from the table.
  *
  * A query service over a small snapshot pays per-job scheduling and
  * planning cost, not data work: every stage of the DataFrame retrieval
  * runs as one task over a few thousand rows. Below the loop width —
  * the PPR graph fits a `Ppr.DriverGraph` and the concepts have fewer than
  * `Loops.RowsPerPartition` rows, as do the rule rows — the service holds
  * this index instead (GraftService.index) and each query runs on the
  * driver in milliseconds.
  *
  * The index holds:
  *   - concept ids, names and confidences, and the embeddings back to back
  *     in one `Float` array;
  *   - the PPR graph, whose `ends` give the edge rows' endpoints as dense
  *     ids for the KG-coverage count and the BFS of `explore`;
  *   - rule postings: concept id → the (id, text, category) of each rule
  *     row that lists it.
  *
  * `retrieve` runs the six steps of `retrieveFull` with the same
  * arithmetic and the same tie order, so on equal inputs it returns
  * bit-equal items, the same rules in the same relevance order and the
  * same KG coverage:
  *   - cosine through `Similarity.cosine`, the kernel behind `cosineUdf`;
  *   - PPR through `Ppr.rankOnDriver`, the kernel behind `runPrepared` on
  *     a driver graph;
  *   - ids compare in Spark's string order (UTF8String binary order, nulls
  *     first) and doubles in Spark SQL's order (NaN largest, -0.0 = 0.0).
  */
final class SnapshotIndex private (
    ids: Array[String],
    names: Array[String],
    confidence: Array[Double],
    confidenceNull: Array[Boolean],
    vectors: Array[Float], // concept i's embedding is [offsets(i), offsets(i + 1)); null → empty
    offsets: Array[Int],
    idRank: Array[Int], // position of ids(i) in Spark's string order
    position: Map[String, Int], // concept id → i
    graph: Ppr.DriverGraph,
    node: Array[Int], // concept i's dense id in `graph`, -1 without an edge
    rules: Array[(String, String, String)], // (id, text, category) per rule row
    postings: Map[String, Array[Int]] // concept id → rule rows listing it
) {
  import SnapshotIndex._

  def contains(id: String): Boolean = id != null && position.contains(id)

  private def dim(i: Int): Int = offsets(i + 1) - offsets(i)

  /** `Retrieval.retrieveFull(cs, edges, factors, queryText, topK, rules =
    * Some(rules), prepared = Some(graph))` where `cs` is the concepts
    * whose id's domain is in `domains` (all when empty) and whose
    * confidence is ≥ `minConfidence` (all when it is ≤ 0), as the service
    * filters them. `factorsOf` gives the seed ids' (node_id, factor) rows,
    * the factor a double or null, every row of an id (see `Factors.byId`
    * and `tableFactors`); it is called once, with the seed ids.
    */
  def retrieve(
      queryText: String,
      topK: Int,
      domains: Seq[String],
      minConfidence: Double,
      factorsOf: Seq[String] => Map[String, Seq[Row]]
  )(implicit spark: SparkSession): Retrieval.RetrievalOutput = {
    val k = math.max(1, math.min(topK, 1000))
    val fetchK = math.max(3 * k, 30)
    val q = Embeddings.embed(queryText)
    val domainSet = domains.toSet
    def kept(i: Int): Boolean =
      (domains.isEmpty || domainSet.contains(domainOf(ids(i)))) &&
        (minConfidence <= 0.0 || (!confidenceNull(i) && compareDoubles(confidence(i), minConfidence) >= 0))

    // step 1: cosine top-fetchK, ties by id
    val score = new Array[Double](ids.length)
    val candidates = ids.indices.filter(kept).toArray
    for (i <- candidates) score(i) = Similarity.cosine(vectors, offsets(i), dim(i), q, 0, q.length)
    val seeds = candidates.sortBy(i => (score(i), idRank(i)))(Ordering.Tuple2(Desc, Ordering.Int))
      .take(fetchK)

    // step 2: online edges among the seeds, (least, greatest) id pairs at
    // cosine ≥ 0.7 (retrieveFull's default onlineThreshold)
    val online = for {
      a <- seeds; b <- seeds if idRank(a) < idRank(b)
      c = Similarity.cosine(vectors, offsets(a), dim(a), vectors, offsets(b), dim(b))
      if compareDoubles(c, 0.7) >= 0
    } yield Row(ids(a), ids(b), c)

    // step 4: persistent edge rows with both endpoints among the seeds
    val seedNode = new Array[Boolean](graph.ids.length)
    for (i <- seeds if node(i) >= 0) seedNode(node(i)) = true
    var nPersistent = 0L
    for (e <- graph.ends.indices by 2 if seedNode(graph.ends(e)) && seedNode(graph.ends(e + 1)))
      nPersistent += 1
    val kgCoverage = nPersistent.toDouble / math.max(nPersistent + online.length, 1L).toDouble

    // A6: weight = vec score × factor (null → 1.0) clamped to [0.1, 5]; a
    // seed joins every factor row of its id, or a null one, as the
    // DataFrame path's left join does
    val factorRows = if (seeds.isEmpty) Map.empty[String, Seq[Row]] else factorsOf(seeds.map(ids).toSeq)
    val weighted = seeds.flatMap { i =>
      factorRows.getOrElse(ids(i), Seq(Row(ids(i), null))).map { r =>
        Row(ids(i), score(i) * clampFactor(if (r.isNullAt(1)) 1.0 else r.getDouble(1)))
      }
    }

    // step 5: PPR over the snapshot graph plus the online edges
    val ppr = Ppr.rankOnDriver(graph, online, weighted, damping = 0.85, tol = 1e-4, maxIter = 30,
      minScore = 1e-8)

    // step 6: max-normalised 0.5/0.5 blend over seeds ∪ activated, top-k
    val maxRank = if (ppr.isEmpty) 0.0 else ppr.map(_.getDouble(1)).max
    val maxV = if (maxRank <= 0) 1.0 else maxRank
    val blend = mutable.LinkedHashMap.empty[String, (Double, Double)]
    for (i <- seeds) blend(ids(i)) = (score(i), 0.0)
    for (r <- ppr) {
      val id = r.getString(0)
      blend(id) = (blend.get(id).fold(0.0)(_._1), r.getDouble(1))
    }
    val results = blend.toArray
      .map { case (id, (v, p)) => (id, v, p, 0.5 * v + 0.5 * (p / maxV)) }
      .sortBy { case (id, _, _, combined) => (combined, id) }(Ordering.Tuple2(Desc, Asc))
      .take(k)
      .map { case (id, v, p, c) =>
        val name = position.get(id).filter(kept).map(names).orNull
        Row(id, name, v, p, c)
      }

    // J3: rules listing an activated concept, relevance = max combined
    val relevance = mutable.LinkedHashMap.empty[(String, String, String), Double]
    for (r <- results; row <- postings.getOrElse(r.getString(0), Array.empty[Int])) {
      val c = r.getDouble(4)
      if (relevance.get(rules(row)).forall(prev => compareDoubles(c, prev) > 0)) relevance(rules(row)) = c
    }
    // ties in relevance and id (a rule id listed with two texts) are
    // unordered in Spark; text and category make this order total
    val queryRules = relevance.toArray
      .map { case ((id, text, category), rel) => (rel, id, text, category) }
      .sorted(Ordering.Tuple4(Desc, Asc, Asc, Asc))
      .map { case (rel, id, text, category) => Row(id, text, category, rel) }

    Retrieval.RetrievalOutput(
      local(results, "id" -> StringType, "name" -> StringType, "vec_score" -> DoubleType,
        "ppr" -> DoubleType, "combined" -> DoubleType),
      local(queryRules, "id" -> StringType, "text" -> StringType, "category" -> StringType,
        "relevance" -> DoubleType),
      local(online, "id_a" -> StringType, "id_b" -> StringType, "cosine" -> DoubleType),
      kgCoverage)
  }

  /** `GraftService.explore(nodeId, depth)` for `depth` ≥ 1 on the driver:
    * None when `nodeId` is not a concept. Breadth-first search runs over
    * every edge row (`graph.ends`, null-confidence rows included, as
    * `Bfs.patternCompletion` joins them) in both directions and never
    * expands through a null endpoint. With V<d and V≤d the ids at distance
    * below and up to `depth`:
    *   - `inner` is V<d, whose edge rows are the edges `Bfs.exploreEdges`
    *     returns (`Bfs.edgesTouching` of V<d);
    *   - `neighbors` (id, name) is V≤d ∪ {nodeId} kept where the id is a
    *     concept, in id order;
    *   - `rules` (id, text, category, relevance = 1.0) are the distinct
    *     rule rows listing an id of V≤d ∪ {nodeId}, in `retrieve`'s order.
    */
  def explore(nodeId: String, depth: Int)(implicit spark: SparkSession): Option[Neighbourhood] = {
    if (!contains(nodeId)) return None
    val ends = graph.ends
    val dist = Array.fill(graph.ids.length)(-1)
    graph.index.get(nodeId).foreach(dist(_) = 0)
    // level by level: one pass over the edge rows per depth
    for (level <- 0 until depth; e <- ends.indices by 2) {
      val (a, b) = (ends(e), ends(e + 1))
      if (dist(a) == level && dist(b) < 0 && graph.ids(b) != null) dist(b) = level + 1
      if (dist(b) == level && dist(a) < 0 && graph.ids(a) != null) dist(a) = level + 1
    }
    def within(d: Int): Array[String] =
      (nodeId +: dist.indices.filter(n => dist(n) >= 0 && dist(n) <= d)
        .map(n => graph.ids(n).asInstanceOf[String])).distinct.toArray
    val reached = within(depth)

    val neighbors = reached.filter(position.contains).sorted(Asc)
      .map(id => Row(id, names(position(id))))
    // a rule row listing the same id twice, or two reached ids, counts once
    val linked = reached.flatMap(id => postings.getOrElse(id, Array.empty[Int]))
      .map(rules).distinct
      .sorted(Ordering.Tuple3(Asc, Asc, Asc))
      .map { case (id, text, category) => Row(id, text, category, 1.0) }
    Some(Neighbourhood(
      within(depth - 1),
      local(neighbors, "id" -> StringType, "name" -> StringType),
      local(linked, "id" -> StringType, "text" -> StringType, "category" -> StringType,
        "relevance" -> DoubleType)))
  }
}

object SnapshotIndex {

  /** One `explore` answer: the ids whose edge rows make the subgraph, and
    * the neighbour and rule frames (local rows).
    */
  final case class Neighbourhood(inner: Array[String], neighbors: DataFrame, rules: DataFrame)

  /** The index of `concepts` (id, name, confidence, embedding) and `rules`
    * (id, text, category, concept_ids) over `graph`, the snapshot's
    * prepared PPR graph. None when the concepts or the rules have
    * `Loops.RowsPerPartition` rows or more, or the graph's ids are not
    * strings; those snapshots keep the DataFrame retrieval. Throws
    * `IllegalArgumentException` on a null or duplicate concept id.
    */
  def build(concepts: DataFrame, rules: DataFrame, graph: Ppr.DriverGraph)(
      implicit spark: SparkSession): Option[SnapshotIndex] =
    build(concepts, rules, graph, Loops.RowsPerPartition.toInt)

  /** `build` with `limit` in place of `Loops.RowsPerPartition`. */
  private[query] def build(concepts: DataFrame, rules: DataFrame, graph: Ppr.DriverGraph, limit: Int)(
      implicit spark: SparkSession): Option[SnapshotIndex] = {
    import spark.implicits._
    if (graph.idType != StringType) return None
    val cs = concepts
      .select(col("id"), col("name"), col("confidence").cast("double"),
        col("embedding").cast("array<float>"))
      .limit(limit)
      .as[(String, String, Option[Double], Array[Float])]
      .collect()
    if (cs.length >= limit) return None

    val position = mutable.HashMap.empty[String, Int]
    for (((id, _, _, _), i) <- cs.zipWithIndex) {
      if (id == null) throw new IllegalArgumentException("concepts contain a null id")
      if (position.put(id, i).isDefined)
        throw new IllegalArgumentException(s"concepts list id '$id' more than once")
    }
    val ids = cs.map(_._1)
    val offsets = cs.map(c => if (c._4 == null) 0 else c._4.length).scanLeft(0)(_ + _)
    val vectors = new Array[Float](offsets.last)
    for ((c, i) <- cs.zipWithIndex if c._4 != null)
      System.arraycopy(c._4, 0, vectors, offsets(i), c._4.length)
    val utf8 = ids.map(UTF8String.fromString)
    val idRank = new Array[Int](ids.length)
    for ((i, r) <- ids.indices.sortWith((a, b) => utf8(a).binaryCompare(utf8(b)) < 0).zipWithIndex)
      idRank(i) = r

    val ruleRows = rules.select(col("id"), col("text"), col("category"), col("concept_ids"))
      .limit(limit).collect()
    if (ruleRows.length >= limit) return None
    val categories = mutable.HashMap.empty[String, String]
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuilder[Int]]
    for ((r, row) <- ruleRows.zipWithIndex if !r.isNullAt(3); cid <- r.getSeq[String](3) if cid != null)
      postings.getOrElseUpdate(cid, mutable.ArrayBuilder.make[Int]) += row

    Some(new SnapshotIndex(
      ids,
      cs.map(_._2),
      cs.map(_._3.getOrElse(0.0)),
      cs.map(_._3.isEmpty),
      vectors,
      offsets,
      idRank,
      position.toMap,
      graph,
      ids.map(id => graph.index.getOrElse(id, -1)),
      // a few categories repeat over every rule: hold each string once
      ruleRows.map { r =>
        val category = r.getString(2)
        (r.getString(0), r.getString(1), categories.getOrElseUpdate(category, category))
      },
      postings.map { case (cid, rows) => cid -> rows.result() }.toMap))
  }

  /** A committed `factors` table on the driver: each (node_id, factor) row
    * as stored, the factor cast to double, with duplicate ids, null ids,
    * null factors and out-of-range values kept.
    */
  final class Factors private[query] (val rows: Array[Row]) {

    /** node id → its rows, the shape `retrieve` reads; a null id matches
      * no seed.
      */
    lazy val byId: Map[String, Seq[Row]] = rows.toSeq.filter(!_.isNullAt(0)).groupBy(_.getString(0))

    /** `EdgePromotion.updateFactors` on the driver, with `deltas` the
      * summed outcome delta of each touched node id: each row becomes
      * clamp(coalesce(factor, 1.0) + delta), 0.0 for an untouched id, and
      * each touched id with no row adds clamp(1.0 + delta). A null id
      * matches no row.
      */
    def updated(deltas: collection.Map[String, Double]): Factors = {
      val kept = rows.map { r =>
        val d = if (r.isNullAt(0)) 0.0 else deltas.getOrElse(r.getString(0), 0.0)
        Row(r.get(0), clampFactor((if (r.isNullAt(1)) 1.0 else r.getDouble(1)) + d))
      }
      val added = deltas.collect { case (id, d) if id == null || !byId.contains(id) =>
        Row(id, clampFactor(1.0 + d))
      }
      new Factors(kept ++ added)
    }

    /** The rows as a local frame with `updateFactors`' schema. */
    def toFrame(implicit spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), FactorsSchema)
  }

  object Factors {

    val empty: Factors = new Factors(Array.empty)

    /** The rows of `table`, None when it has `limit` rows or more. */
    def collect(table: DataFrame, limit: Int): Option[Factors] = {
      val rows = table.select(col("node_id"), col("factor").cast("double")).limit(limit).collect()
      if (rows.length >= limit) None else Some(new Factors(rows))
    }
  }

  /** `EdgePromotion.updateFactors`' output schema. */
  private val FactorsSchema = StructType(Seq(
    StructField("node_id", StringType), StructField("factor", DoubleType, nullable = false)))

  /** `retrieve`'s factors read from a committed table, None when there is
    * none: one collect of the seeds' rows.
    */
  def tableFactors(table: Option[DataFrame]): Seq[String] => Map[String, Seq[Row]] = seeds =>
    table.fold(Map.empty[String, Seq[Row]]) { f =>
      f.filter(col("node_id").isin(seeds: _*))
        .select(col("node_id"), col("factor").cast("double"))
        .collect().toSeq.groupBy(_.getString(0))
    }

  /** `substring_index(id, ":", 1)`: the "{domain}" of a "{domain}:{name}" id. */
  private def domainOf(id: String): String = {
    val i = id.indexOf(':')
    if (i < 0) id else id.substring(0, i)
  }

  /** `least(5.0, greatest(0.1, f))` in Spark SQL's double order. */
  private def clampFactor(f: Double): Double = {
    val lo = if (compareDoubles(f, 0.1) > 0) f else 0.1
    if (compareDoubles(lo, 5.0) < 0) lo else 5.0
  }

  /** Spark's descending double order: NaN first, -0.0 equal to 0.0. */
  private val Desc: Ordering[Double] = (a, b) => compareDoubles(b, a)

  /** Spark's ascending string order: UTF8String binary order, nulls first. */
  private val Asc: Ordering[String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else if (a == b) 0
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  private def local(rows: Array[Row], fields: (String, DataType)*)(
      implicit spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))
}
