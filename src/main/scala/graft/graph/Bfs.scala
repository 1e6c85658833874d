package graft.graph

import graft.core.Loops.release
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Frontier-expansion graph ops (G2/G3 in SURVEY.md §2.7) as iterative
  * DataFrame joins — the same checkpointed-frontier skeleton as CC/PPR.
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
    // Both directions come from one pass over the caller's plan.
    val und = edges
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
    (und +: superseded).foreach(release)
    best
  }

  /** G3 — `explore` neighborhood (src/qortex/service.py:827-914): BFS to
    * `maxDepth` (reference ≤3) collecting the unique edges and neighbor
    * node ids reachable from the seed set. Returns the edge subset, which
    * reads only its own checkpoint: every other one is released.
    */
  def exploreEdges(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int = 3
  )(implicit spark: SparkSession): DataFrame = {
    val e = edges.localCheckpoint() // plan leaf — joined once per depth
    var visited = seeds.select(col("id")).distinct().localCheckpoint()
    var frontier = visited
    var depth = 0
    var collected = edges.limit(0)
    while (depth < maxDepth) {
      val cols = e.columns.map(col).toIndexedSeq
      val touched = e
        .join(frontier.withColumnRenamed("id", "source_id"), Seq("source_id"), "left_semi")
        .select(cols: _*)
        .union(e.join(frontier.withColumnRenamed("id", "target_id"),
          Seq("target_id"), "left_semi")
          .select(cols: _*))
      val c = collected.union(touched).dropDuplicates(
        "source_id", "target_id", "relation_type")
        .localCheckpoint() // union-in-loop would otherwise double the plan per depth
      val neighbors = touched.select(col("source_id").as("id"))
        .union(touched.select(col("target_id").as("id"))).distinct()
      val f = neighbors.join(visited, Seq("id"), "left_anti").localCheckpoint()
      val v = visited.union(f).distinct().localCheckpoint()
      Seq(collected, frontier, visited).foreach(release)
      collected = c
      frontier = f
      visited = v
      depth += 1
    }
    Seq(e, frontier, visited).foreach(release)
    collected
  }
}
