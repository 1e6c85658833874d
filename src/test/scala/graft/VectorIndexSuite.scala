package graft

import graft.store.SnapshotStore

/** The snapshot-committed vector index: merge-on-read upserts,
  * tombstones and snapshot time travel.
  */
class VectorIndexSuite extends SparkFunSuite {
  import spark.implicits._

  test("S7: vector index upsert overwrites, remove drops, search ranks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vi").toString
    val store = new SnapshotStore(dir)
    val vi = new graft.query.VectorIndex(store)
    val v1 = Array(1.0f, 0.0f, 0.0f)
    val v2 = Array(0.0f, 1.0f, 0.0f)
    val v3 = Array(0.9f, 0.1f, 0.0f)
    vi.upsert(Seq(("a", v1), ("b", v2)).toDF("id", "embedding"))
    assert(vi.count() == 2)
    vi.upsert(Seq(("b", v3)).toDF("id", "embedding")) // overwrite b
    assert(vi.count() == 2)
    val top = vi.search(v1, topK = 2).as[(String, Double)].collect().toSeq
    assert(top.map(_._1) == Seq("a", "b")) // b now near v1 via v3
    assert(top.head._2 > 0.999 && top(1)._2 > 0.9)
    vi.remove(Seq("a").toDF("id"))
    assert(vi.count() == 1)
    // index history is snapshotted: the pre-remove state is still readable
    // (resolved through the merge-on-read view, latest-wins per id)
    assert(vi.asOf(1L).count() == 2)
  }

  test("VectorIndex merge-on-read: upsert cost is the delta, not the table") {
    import graft.query.VectorIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-vix").toString
    val store = new graft.store.SnapshotStore(dir)
    val ix = new VectorIndex(store, "vix")

    def vecs(ids: Range, v: Float) =
      ids.map(i => (i.toString, Seq(v, i.toFloat))).toDF("id", "embedding")

    ix.upsert(vecs(0 until 500, 1.0f))
    val snapAfterLoad = store.latest("vix").get.id
    ix.upsert(vecs(0 until 10, 2.0f)) // overwrite 10 ids
    // delta-only write: the new snapshot adds ONE batch holding 10 rows
    val snap = store.latest("vix").get
    assert(snap.batches.size == 2, "upsert must append a delta batch, not rewrite")
    val deltaRows = spark.read.parquet(s"$dir/vix/data/${snap.batches.last}").count()
    assert(deltaRows == 10, s"delta batch holds $deltaRows rows, expected 10")
    // latest-wins resolution
    assert(ix.count() == 500)
    val resolved = ix.read().as[(String, Seq[Float])].collect().toMap
    assert(resolved("3").head == 2.0f && resolved("42").head == 1.0f)

    // tombstone remove: delta-only, resolved at read
    ix.remove(Seq("3", "499").toDF("id"))
    assert(ix.count() == 498)
    assert(store.latest("vix").get.batches.size == 3)

    // time travel still sees the pre-remove state
    assert(ix.asOf(snapAfterLoad).count() == 500)

    // compaction folds the log to one batch with identical content
    ix.compact()
    assert(store.latest("vix").get.batches.size == 1)
    assert(ix.count() == 498)
    val afterCompact = ix.read().as[(String, Seq[Float])].collect().toMap
    assert(afterCompact("5").head == 2.0f && !afterCompact.contains("3"))
  }
}
