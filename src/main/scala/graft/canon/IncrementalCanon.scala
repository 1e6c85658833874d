package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental canonicalization: fold a BATCH of new synonym/duplicate
  * pairs into a committed canonical map without re-running connected
  * components over the corpus. The batch sibling of [[Canon.canonicalMap]]
  * — the operation a continuously-ingesting KG runs when a new crawl day
  * adds aliases (and the corpus-dedup analog when a new document batch
  * adds near-dup pairs, `ops/IncrementalDedup`).
  *
  * Correctness rests on the map invariant `Canon.connectedComponents`
  * guarantees (labels are component MINIMA): contract
  * every committed component to its representative, run CC on the tiny
  * contracted graph formed by the new pairs alone, and the merged
  * component's new label — the min over merged representatives — equals
  * the global min id of the merged component. The result is therefore
  * IDENTICAL to re-running CC over (all old pairs ∪ batch), which the
  * q62 oracle re-checks independently via a recursive closure in SQL.
  *
  * Scale shape: the delta CC runs over ≤ 2·|batch| representative nodes
  * — never O(corpus). The committed map is touched by exactly two
  * map-side scans — restrict-to-batch (broadcast of the batch ids) and
  * relabel (broadcast of the changed representatives) — and NEVER
  * hash-shuffles; PlanQualitySuite pins zero exchanges on the map
  * branch. At warehouse scale the
  * relabel frame is also the natural merge-on-read delta: commit it
  * next to the map and fold it in at read time instead of rewriting
  * (same pattern as `query/VectorIndex`).
  *
  * Reference anchor: the reference canonicalizes per-ingest in process
  * (`canonicalization.py` runs over the whole in-memory graph each
  * time); contraction-by-representative is what makes that semantics
  * affordable when the graph no longer fits one process.
  */
object IncrementalCanon {

  /** Update `canonMap` (`id`, `canonical_id` — labels must be component
    * minima) with `newPairs` (`id_a`, `id_b`; ids may be new). Returns
    * the full updated map: old rows (relabeled where components merged)
    * plus rows for ids first seen in this batch.
    */
  def update(canonMap: DataFrame, newPairs: DataFrame)(
      implicit spark: SparkSession): DataFrame =
    updateWithRelabel(canonMap, newPairs)._1

  /** As [[update]], also returning the relabel delta
    * (`canonical_id` → `new_label`, changed representatives only) — the
    * bounded frame a merge-on-read consumer would commit instead of the
    * rewritten map.
    */
  def updateWithRelabel(canonMap: DataFrame, newPairs: DataFrame)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    val m = canonMap.select(col("id"), col("canonical_id"))

    // 0. restrict the committed map to the batch's ids by BROADCASTING the
    //    batch id set — the corpus-sized map streams map-side through one
    //    scan and never shuffles (joining the other way round would
    //    hash-exchange the whole map on id). Everything downstream of this
    //    line is bounded by the batch.
    val batchIds = newPairs.select(col("id_a").as("id"))
      .union(newPairs.select(col("id_b").as("id")))
      .distinct()
      .localCheckpoint()
    val mBatch = m.join(broadcast(batchIds), Seq("id")).localCheckpoint()

    // 1. contract: project each endpoint through the (restricted) map —
    //    identity for ids the map has never seen
    val contracted = newPairs
      .select(col("id_a"), col("id_b"))
      .join(broadcast(mBatch.select(col("id").as("id_a"),
        col("canonical_id").as("rep_a"))), Seq("id_a"), "left")
      .join(broadcast(mBatch.select(col("id").as("id_b"),
        col("canonical_id").as("rep_b"))), Seq("id_b"), "left")
      .select(
        coalesce(col("rep_a"), col("id_a")).as("id_a"),
        coalesce(col("rep_b"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))

    // 2. CC over the contracted delta graph — O(batch) nodes; keep only
    //    representatives whose label actually changes
    val relabel = Canon.connectedComponents(contracted)
      .filter(col("id") =!= col("canonical_id"))
      .select(col("id").as("canonical_id"), col("canonical_id").as("new_label"))
      .localCheckpoint() // bounded by the batch; cut the loop lineage

    // 3. one map-side pass over the committed map: rows of a merged
    //    component move to the merged minimum, everything else unchanged
    val updatedOld = m
      .join(broadcast(relabel), Seq("canonical_id"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("canonical_id")).as("canonical_id"))

    // 4. ids first seen in this batch (absent from the restricted map):
    //    they are their own representative in the contracted graph, so the
    //    relabel already carries their final label (identity when they ARE
    //    the new minimum). Batch-sized frames on both sides.
    val newRows = batchIds
      .join(mBatch.select("id"), Seq("id"), "left_anti")
      .join(broadcast(relabel.withColumnRenamed("canonical_id", "id")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("new_label"), col("id")).as("canonical_id"))

    (updatedOld.unionByName(newRows), relabel)
  }
}
