package graft.canon

import graft.core.Loops.release
import graft.core.TextSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonicalization: synonym-edge detection + connected-components entity
  * resolution.
  *
  * The reference plans synonym edges from embedding cosine ≥ τ
  * (docs/PHASE4-HIPPORAG-PLAN.md:692-699) and implements the online variant
  * as an all-pairs cosine among retrieved candidates
  * (src/qortex/hippocampus/adapter.py:627-663). It never computes connected
  * components — canonical entities are what the north star adds: synonym
  * edges feed a CC over concept ids, and the smallest id in each component
  * becomes the canonical id.
  *
  * CC is large-star/small-star over DataFrame edge sets checkpointed each
  * round ([[connectedComponents]]): O(log n) rounds, stopping when the
  * edges form a star forest, tested with one aggregation — counts only, no
  * per-row driver work. Each round's shuffles plan at the session width,
  * which AQE coalesces on a small edge set.
  */
object Canon {

  /** Abbreviation synonym edges: a short ALL-CAPS concept name equal to the
    * initials of a multi-word concept name ("DI" ↔ "Dependency Injection").
    * Computed as an equi-join on the initials key — no quadratic pass.
    */
  def abbreviationPairs(concepts: DataFrame): DataFrame = {
    val initialsUdf = udf { (name: String) =>
      val parts = name.split(" ")
      if (parts.length >= 2) parts.map(_.charAt(0).toUpper).mkString else null
    }
    val multi = concepts
      .filter(size(split(col("name"), " ")) >= 2)
      .select(col("id").as("id_long"), initialsUdf(col("name")).as("__abbr"))
      .filter(col("__abbr").isNotNull)
    val short = concepts
      .filter(!col("name").contains(" ") && col("name") === upper(col("name")) &&
        length(col("name")).between(2, 6))
      .select(col("id").as("id_short"), col("name").as("__abbr"))
    multi.join(short, Seq("__abbr"), "inner").select(col("id_long"), col("id_short"))
  }

  /** Name-similarity synonym edges: concepts whose name token sets overlap
    * with Jaccard ≥ `threshold`. Blocked self-join: block by each name
    * token (explode), join within block, dedupe pairs; block sizes are
    * capped upstream by dropping ultra-frequent blocking tokens (df > cap)
    * so a stopword-ish token can't create a quadratic block at scale.
    */
  def nameSimilarityPairs(
      concepts: DataFrame,
      threshold: Double = 0.6,
      blockCap: Long = 1000L
  )(implicit spark: SparkSession): DataFrame = {
    val tokUdf = udf((n: String) => TextSpec.tokenize(n).toSeq.sorted)
    // checkpoint the exploded token-block frame: it feeds the block-size
    // aggregation AND both sides of the within-block self-join — without
    // the checkpoint the tokenize UDF + explode re-run once per consumer
    // (4× over the concept table)
    val blocked = concepts.select(col("id"), tokUdf(col("name")).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__block", explode(col("__toks")))
      .localCheckpoint()
    val blockSizes = blocked.groupBy("__block").agg(count(lit(1)).as("__bn"))
    val pruned = blocked
      .join(blockSizes.filter(col("__bn") <= blockCap), Seq("__block"))
      .select(col("__block"), col("id"), col("__toks"))
      .localCheckpoint()

    val a = pruned.select(col("__block"), col("id").as("id_a"), col("__toks").as("__ta"))
    val b = pruned.select(col("__block"), col("id").as("id_b"), col("__toks").as("__tb"))
    val jac = udf((x: Seq[String], y: Seq[String]) => TextSpec.jaccard(x.toSet, y.toSet))
    a.join(b, Seq("__block"))
      .filter(col("id_a") < col("id_b"))
      .filter(jac(col("__ta"), col("__tb")) >= threshold)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Round budget the q28 DuckDB oracle generates its min-label
    * label-propagation chain with. CanonSuite asserts that min-label
    * propagation over the shared verify corpus's synonym pairs converges
    * within THIS budget, so the oracle and [[connectedComponents]] cannot
    * silently diverge on a deeper synonym component.
    */
  val OracleRoundBudget = 15

  /** Large-star/small-star rounds after which [[connectedComponents]]
    * gives up. Rounds grow with log n: a 64-node chain needs at most 12.
    */
  private val MaxRounds = 64

  /** Connected components over undirected id pairs: the first two columns
    * of `pairs`, self-loops allowed. Returns (id, canonical_id) for every id
    * appearing in `pairs`, where canonical_id is the smallest id of its
    * component.
    *
    * Alternating large-star / small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): O(log n)
    * rounds where min-label propagation needs O(diameter). Edges are kept
    * oriented larger → smaller, so a node's smaller neighbours are its
    * targets and m(u) = min(N(u) ∪ u) is one `min` per source — no
    * per-node neighbour collection, so a hub costs one combiner, not one
    * buffer.
    *
    *  - large-star: every edge (v, u) re-points v to m(u);
    *  - small-star: every source u and each of its targets re-point to m(u).
    *
    * The loop stops as soon as the edges form a star forest: each source
    * has exactly one edge and no target is itself a source. Each edge then
    * points a node at its component minimum. A graph still not a star
    * forest after `MaxRounds` rounds throws rather than return labels that
    * are not minima. Each round releases the edges it supersedes; the
    * labels read only the pair checkpoint and the final edges.
    */
  def connectedComponents(pairs: DataFrame)(implicit spark: SparkSession): DataFrame =
    componentsWithRounds(pairs)._1

  /** [[connectedComponents]] plus the number of rounds it ran. */
  private[canon] def componentsWithRounds(pairs: DataFrame)(
      implicit spark: SparkSession): (DataFrame, Int) = {
    // materialise the caller's pair plan once: the node set and the edge
    // set both read it
    val p = pairs.select(col(pairs.columns(0)).as("a"), col(pairs.columns(1)).as("b"))
      .localCheckpoint()
    var edges = p.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint()
    var rounds = 0
    while (!starForest(edges)) {
      if (rounds == MaxRounds)
        throw new IllegalStateException(
          s"connectedComponents: edges are not a star forest after $MaxRounds rounds")
      val next = smallStar(largeStar(edges)).localCheckpoint()
      release(edges)
      edges = next
      rounds += 1
    }
    val labels = p.select(col("a").as("id")).union(p.select(col("b").as("id"))).distinct()
      .join(edges.withColumnRenamed("a", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("b"), col("id")).as("canonical_id"))
    (labels, rounds)
  }

  /** Whether the oriented edges form a star forest, in one aggregation. */
  private def starForest(e: DataFrame): Boolean =
    e.select(col("a").as("v"), lit(1L).as("out"), lit(false).as("in"))
      .union(e.select(col("b").as("v"), lit(0L), lit(true)))
      .groupBy("v").agg(sum("out").as("out"), max("in").as("in"))
      .agg(count(when(col("out") > 1 || (col("out") > 0 && col("in")), 1)))
      .head().getLong(0) == 0L

  /** (v, u) → (v, m(u)). One row per input edge, so duplicates are left
    * for [[smallStar]]'s `distinct`.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("a").agg(min(col("b")).as("m")).withColumnRenamed("a", "b")
    e.join(mins, Seq("b"), "left")
      .select(col("a"), coalesce(col("m"), col("b")).as("b"))
  }

  /** (u, t) → (t, m(u)) and (u, m(u)), self-loops dropped, deduplicated. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("a").agg(min(col("b")).as("m"))
    e.join(mins, Seq("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .union(mins.select(col("a"), col("m").as("b")))
      .distinct()
  }

  /** All synonym edge families as one deduped (id_a, id_b) pair set —
    * exposed separately so the verify harness can dump it as the CC
    * oracle's input fixture.
    */
  def synonymEdges(
      concepts: DataFrame,
      aliasPairs: DataFrame,
      nameSimThreshold: Double = 0.6
  )(implicit spark: SparkSession): DataFrame = {
    // alias pairs arrive as names; map both sides to ids
    val byName = concepts.select(lower(col("name")).as("__k"), col("id"))
    val aliasIdPairs = aliasPairs
      .join(broadcast(byName).withColumnRenamed("id", "id_a"),
        lower(col("name_a")) === col("__k")).drop("__k")
      .join(broadcast(byName).withColumnRenamed("id", "id_b"),
        lower(col("name_b")) === col("__k")).drop("__k")
      .select(col("id_a"), col("id_b"))

    aliasIdPairs
      .union(abbreviationPairs(concepts))
      .union(nameSimilarityPairs(concepts, nameSimThreshold))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
  }

  /** Full canonicalization: synonym edges (alias + abbreviation +
    * name-similarity) → CC → (id, canonical_id) map covering ALL concepts
    * (identity for singletons).
    */
  def canonicalMap(
      concepts: DataFrame,
      aliasPairs: DataFrame,
      nameSimThreshold: Double = 0.6
  )(implicit spark: SparkSession): DataFrame = {
    val cc = connectedComponents(synonymEdges(concepts, aliasPairs, nameSimThreshold))
    concepts
      .select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical_id"), col("id")).as("canonical_id"))
  }
}
