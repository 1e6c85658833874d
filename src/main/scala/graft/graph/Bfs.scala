package graft.graph

import graft.core.Loops.release
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Frontier-expansion graph ops (G2/G3 in SURVEY.md §2.7) as iterative
  * DataFrame joins — the same checkpointed-frontier skeleton as CC/PPR.
  * `patternCompletion` is the one frontier loop; `exploreEdges` selects
  * the edges of the nodes it reaches.
  */
object Bfs {

  /** G2 — pattern-completion scoring (src/qortex/hippocampus/retrieval.py:
    * 146-184): expand from seeds up to `maxDepth` (reference default 2)
    * over the undirected edge set; score(node) = 0.5^depth, combined by max
    * across paths (a node keeps its best depth).
    * Input seeds: (id); edges: (source_id, target_id). Output: (id, score).
    * The result reads only its own checkpoint: every other one is released.
    */
  def patternCompletion(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int = 2
  )(implicit spark: SparkSession): DataFrame = {
    // localCheckpoint: truncate the upstream plan once so each depth's join
    // plans against a leaf instead of re-optimizing the full pipeline tree.
    // Both directions come from one pass over the caller's plan, made at
    // the first depth: at maxDepth 0 (`exploreEdges` at depth 1) none is.
    lazy val und = edges
      .select(explode(array(
        struct(col("source_id").as("src"), col("target_id").as("dst")),
        struct(col("target_id").as("src"), col("source_id").as("dst")))).as("e"))
      .select("e.*")
      .distinct()
      .localCheckpoint()
    var best = seeds.select(col("id")).distinct().withColumn("score", lit(1.0))
      .localCheckpoint()
    var frontier = best
    val superseded = mutable.ArrayBuffer.empty[DataFrame]
    var depth = 0
    while (depth < maxDepth) {
      val next = und
        .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), (col("score") * 0.5).as("score"))
        .groupBy("id").agg(max("score").as("score"))
      // max-combine with everything seen so far; new frontier = improvements
      val combined = best.union(next).groupBy("id").agg(max("score").as("score"))
        .localCheckpoint()
      frontier = combined.join(best.withColumnRenamed("score", "__old"), Seq("id"), "left")
        .filter(col("__old").isNull || col("score") > col("__old"))
        .select("id", "score")
      superseded += best
      best = combined
      depth += 1
    }
    if (depth > 0) release(und)
    superseded.foreach(release)
    best
  }

  /** G3 — `explore` neighborhood (src/qortex/service.py:827-914): the
    * unique edge rows (by source_id, target_id, relation_type) with an
    * endpoint within `maxDepth` − 1 hops of the seeds, over the undirected
    * edges and never through a null endpoint: `edgesTouching` the nodes
    * `patternCompletion` reaches in `maxDepth` − 1 steps. `maxDepth` (the
    * reference allows ≤ 3) must be at least 1. The result reads `edges`
    * and only `patternCompletion`'s own checkpoint.
    */
  def exploreEdges(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int = 3
  )(implicit spark: SparkSession): DataFrame = {
    require(maxDepth >= 1, s"exploreEdges: maxDepth must be at least 1, got $maxDepth")
    edgesTouching(edges, patternCompletion(edges, seeds, maxDepth - 1))
  }

  /** The rows of `edges` (every column kept) whose source_id or target_id
    * is an id of `nodes` (id, ...), one per (source_id, target_id,
    * relation_type).
    */
  private[graft] def edgesTouching(edges: DataFrame, nodes: DataFrame): DataFrame = {
    // a using-join puts its key first: select restores the column order union matches by
    def touching(end: String) = edges.join(nodes.select(col("id").as(end)), Seq(end), "left_semi")
      .select(edges.columns.map(col).toIndexedSeq: _*)
    touching("source_id").union(touching("target_id"))
      .dropDuplicates("source_id", "target_id", "relation_type")
  }
}
