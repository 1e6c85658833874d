package graft

import graft.canon.Canon
import graft.causal.{Causal, CausalDag}
import graft.learning.Thompson
import graft.query.Service

/** Round-4 regression tests: the causal driver-collect caps, DAG node
  * seeding for credit propagation, the Thompson baseline score shape,
  * VectorIndex concurrency and IVF layout, canonicalMap through star CC,
  * incremental dedup, the native minhash/simhash expressions, PII
  * redaction and streaming curation.
  */
class Round4Suite extends SparkFunSuite {
  import spark.implicits._

  // ---- causal driver-boundary caps ---------------------------------------

  test("fromEdgeFrame: over-cap edge collect truncates to the strongest, loudly") {
    // 10 REQUIRES edges, strengths descending with source index
    val edges = (0 until 10).map(i =>
        (s"d:s$i", s"d:t$i", "REQUIRES", 1.0 - i * 0.05))
      .toDF("source_id", "target_id", "relation_type", "confidence")
    val dag = CausalDag.fromEdgeFrame(edges, maxEdges = 4)
    assert(dag.edgeCount == 4)
    // strongest-first deterministic truncation: s0..s3 survive (highest conf)
    assert(dag.edges.map(_._1).toSet == Set("d:s0", "d:s1", "d:s2", "d:s3"))
    // under the cap: untouched
    assert(CausalDag.fromEdgeFrame(edges, maxEdges = 100).edgeCount == 10)
  }

  test("collectIdsBounded: over-cap keeps the ascending-id prefix") {
    val ids = (0 until 20).map(i => f"id$i%02d").reverse.toDF("id")
    val kept = Causal.collectIdsBounded(ids, maxNodes = 5)
    assert(kept.sorted == (0 until 5).map(i => f"id$i%02d"))
  }

  // ---- credit propagation node seeding (ADVICE r3, medium) ---------------

  test("propagateCredit: edge-less concept gets direct credit when concepts are given") {
    val edges = Seq(("web:A", "web:B", "REQUIRES", 0.9))
      .toDF("source_id", "target_id", "relation_type", "confidence")
    val concepts = Seq(("web:A", "web"), ("web:B", "web"), ("web:Island", "web"))
      .toDF("id", "domain")
    val outcomes = Seq(("web:Island", "accepted")).toDF("node_id", "outcome")

    // without the concepts table the isolated id is not a DAG node → no credit
    assert(Service.propagateCredit(edges, outcomes).isEmpty)

    // with it, from_backend's find_nodes pass seeds the node → direct credit
    val credit = Service.propagateCredit(edges, outcomes, Some(concepts))
    assert(credit.isDefined)
    assert(credit.get.directCount == 1)
    assert(credit.get.posteriorDeltas("web:Island") == ((1.0, 0.0)))
  }

  test("propagateCredit: ids missing from the KG are excluded from the domain average") {
    val edges = Seq(("web:A", "web:B", "REQUIRES", 0.9))
      .toDF("source_id", "target_id", "relation_type", "confidence")
    val concepts = Seq(("web:A", "web"), ("web:B", "web")).toDF("id", "domain")
    // known id accepted (+1), unknown id rejected (−1): the reference's
    // get_node check drops the unknown row, so avg reward = +1, not 0
    val outcomes = Seq(("web:B", "accepted"), ("web:Ghost", "rejected"))
      .toDF("node_id", "outcome")
    val credit = Service.propagateCredit(edges, outcomes, Some(concepts))
    assert(credit.isDefined)
    // direct credit for B at avg=1.0, ancestor credit for A at 0.5·0.81
    val deltas = credit.get.posteriorDeltas
    assert(deltas("web:B") == ((1.0, 0.0)))
    assert(math.abs(deltas("web:A")._1 - 0.5 * 0.81) < 1e-12)
    assert(!deltas.contains("web:Ghost"))
  }

  // ---- Thompson baseline score shape (ADVICE r3, low) --------------------

  test("Thompson baseline round scores only the selected arms at 0.5") {
    val arms = (0 until 6).map(i => Thompson.Arm(s"a$i"))
    val r = Thompson.select(arms, Map.empty, k = 3, seed = 7L, baselineRate = 1.0)
    assert(r.isBaseline)
    assert(r.selected.size == 3)
    assert(r.scores.keySet == r.selected.map(_.id).toSet)
    assert(r.scores.values.forall(_ == 0.5))
    // Thompson rounds still score every candidate (reference scores dict)
    val t = Thompson.select(arms, Map.empty, k = 3, seed = 7L, baselineRate = 0.0)
    assert(t.scores.keySet == arms.map(_.id).toSet)
  }

  // ---- VectorIndex intra-JVM write serialization -------------------------

  test("VectorIndex: concurrent upserts mint distinct __seq batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vi-conc").toString
    val store = new graft.store.SnapshotStore(dir)
    val vi = new graft.query.VectorIndex(store, "vecs")
    vi.upsert(Seq(("base", Seq(1.0f, 0.0f))).toDF("id", "embedding"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (0 until 4).map { i =>
      Future(vi.upsert(Seq((s"v$i", Seq(i.toFloat, 1.0f))).toDF("id", "embedding")))
    }
    fs.foreach(Await.result(_, 60.seconds))
    // every batch got its own seq → latest snapshot id == 4 appends + base
    assert(store.latest("vecs").map(_.id).contains(4L))
    assert(vi.count() == 5L)
  }

  test("VectorIndex: IVF layout serves the same neighbors as brute force") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vi-ivf").toString
    val store = new graft.store.SnapshotStore(dir)
    val vi = new graft.query.VectorIndex(store, "vecs")
    // two well-separated families of vectors
    val rows = (0 until 12).map { i =>
      val fam = i % 2
      (s"v$i", Seq.tabulate(6)(d =>
        (if (d / 3 == fam) 1.0f else 0.0f) + i * 0.001f))
    }
    vi.upsert(rows.toDF("id", "embedding"))
    val ivf = vi.buildIvf(nClusters = 2, iters = 3)
    val queries = rows.take(2).toDF("id", "embedding")
    val got = vi.searchIvf(ivf, queries, k = 3, nprobe = 1)
      .select("query_id", "neighbor_id").as[(String, String)].collect().toSet
    val exact = graft.ops.Similarity.bruteForceTopK(vi.read(), queries, k = 3,
      idCol = "id", vecCol = "embedding")
      .select("query_id", "neighbor_id").as[(String, String)].collect().toSet
    assert(got == exact, s"IVF ${got} vs exact ${exact}")
  }

  // ---- canonicalMap through star CC --------------------------------------

  test("connectedComponentsAuto: shallow graph stays on min-label; deep chain escalates to star") {
    // the min-label/star switch is gone: both shapes now run through the one
    // star entry point and must still get component-minimum labels
    // path graph a00-a01-...-a19: diameter 19
    val chain = (0 until 19).map(i => (f"a$i%02d", f"a${i + 1}%02d")).toDF("id_a", "id_b")
    val got = Canon.connectedComponents(chain)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 20 && got.values.forall(_ == "a00"))
    // shallow star-shaped graph
    val shallow = (1 until 6).map(i => ("hub", s"s$i")).toDF("id_a", "id_b")
    val got2 = Canon.connectedComponents(shallow)
      .collect().map(r => r.getString(1)).toSet
    assert(got2 == Set("hub"))
  }

  test("canonicalMap labels are component minima through the star-CC path") {
    val concepts = Seq("web:A Cache", "web:B Cache", "web:C Cache", "web:Solo Thing")
      .map(id => (id, id.stripPrefix("web:")))
      .toDF("id", "name")
    val aliases = Seq(("A Cache", "B Cache"), ("B Cache", "C Cache"))
      .toDF("name_a", "name_b")
    val got = Canon.canonicalMap(concepts, aliases, nameSimThreshold = 2.0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("web:A Cache") == "web:A Cache")
    assert(got("web:B Cache") == "web:A Cache")
    assert(got("web:C Cache") == "web:A Cache")
    assert(got("web:Solo Thing") == "web:Solo Thing") // identity fallback
  }

  // ---- Incremental dedup over the committed signature index --------------

  test("incremental dedup: batch vs committed signatures, idempotent append") {
    import graft.ops.IncrementalDedup
    import graft.store.SnapshotStore
    val s = spark
    val wh = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val store = new SnapshotStore(wh)

    // batch 1: doc 3 duplicates doc 1 within the batch; 1 and 2 accepted
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about spark shuffle partitions and joins"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val a1 = IncrementalDedup.ingestBatch(store, "b1", b1)
      .select("doc_id", "accepted").as[(Long, Boolean)].collect().toMap
    assert(a1 == Map(1L -> true, 2L -> true, 3L -> false))
    assert(store.read(IncrementalDedup.SigTable).count() == 2)

    // batch 2: doc 10 duplicates COMMITTED doc 1 (never co-resident in a
    // batch with it); doc 11 is novel
    val b2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "a totally novel document about causal graphs and sampling strategies")
    ).toDF("doc_id", "text")
    val a2 = IncrementalDedup.ingestBatch(store, "b2", b2)
      .select("doc_id", "dup_of", "accepted")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), r.getBoolean(2))).toMap
    assert(a2(10L) == ((Some(1L), false)), a2.toString)
    assert(a2(11L) == ((None, true)))
    assert(store.read(IncrementalDedup.SigTable).count() == 3)

    // re-ingesting batch 2 (crash-resume) reproduces the ORIGINAL
    // annotation — the batch's own committed signatures are excluded
    // from the match side, so doc 11 stays accepted — and appends nothing
    val a3 = IncrementalDedup.ingestBatch(store, "b2", b2)
      .select("doc_id", "dup_of", "accepted")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), r.getBoolean(2))).toMap
    assert(a3 == a2, s"resume must be value-identical: $a3 vs $a2")
    assert(store.read(IncrementalDedup.SigTable).count() == 3)
    assert(store.latest(IncrementalDedup.SigTable).get.inputPartitions == Seq("b1", "b2"))
  }

  // ---- native minhash expression ------------------------------------------

  test("MinHashSig expression == minhashUdf on nulls, empties, and real text") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, null.asInstanceOf[String]), (4L, "one two"),
      (5L, "ONE two THREE four")
    ).toDF("doc_id", "text")
    // forbid silent interpreted fallback: if doGenCode emits invalid
    // Java, this collect must THROW, not quietly eval row-by-row
    val viaExpr =
      try {
        spark.conf.set("spark.sql.codegen.fallback", "false")
        docs.select($"doc_id", graft.functions.MinHashSig.sig($"text").as("sig"))
          .as[(Long, Seq[Long])].collect().toMap
      } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    val viaUdf = docs.select($"doc_id", Dedup.minhashUdf($"text").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr == viaUdf)
    // null + too-short docs yield the MaxValue sentinel, never null
    assert(viaExpr(3L).forall(_ == Long.MaxValue))
    assert(viaExpr(4L).forall(_ == Long.MaxValue))
    // interpreted eval path (codegen fallback) agrees too
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "the quick brown fox jumps over the lazy dog"))
    val e = graft.functions.MinHashSig(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StringType, nullable = true))
    val interp = e.eval(row)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    assert(interp == viaExpr(1L))
  }

  test("SimHashSig expression == simhashUdf, codegen fallback forbidden") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "Mixed CASE words repeat words")
    ).toDF("doc_id", "text")
    val viaExpr =
      try {
        spark.conf.set("spark.sql.codegen.fallback", "false")
        docs.select($"doc_id", graft.functions.SimHashSig.sig($"text").as("sig"))
          .as[(Long, Long)].collect().toMap
      } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    val viaUdf = docs.select($"doc_id", Dedup.simhashUdf($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(viaExpr == viaUdf)
    assert(viaExpr(3L) == 0L)
  }

  // ---- PII redaction -------------------------------------------------------

  test("redactPii: ordered email→URL→IP rewrite with per-stage counts") {
    import graft.ops.Curation
    val docs = Seq(
      (1L, "write to a.b-c@mail.example.org or x@y.io today"),
      (2L, "fetch https://h.example/p?a=1 then http://h2/z b"),
      (3L, "node 10.0.0.1 and 192.168.300.7 but not 1.2.3.4567"),
      (4L, "mixed https://u:p@host.example/x and plain text")
    ).toDF("doc_id", "text")
    val r = Curation.redactPii(docs).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2), x.getInt(3), x.getString(4))).toMap
    assert(r(1L) == ((2, 0, 0, "write to <EMAIL> or <EMAIL> today")))
    assert(r(2L) == ((0, 2, 0, "fetch <URL> then <URL> b")))
    // the pattern doesn't range-check octets (300 matches) but \b kills
    // 1.2.3.4567 (no boundary inside the digit run, backtracking included)
    assert(r(3L) == ((0, 0, 2, "node <IP> and <IP> but not 1.2.3.4567")))
    // ordered composition: the email pattern fires first INSIDE the
    // credentialed URL (local part 'p', ':' is not local-part charset),
    // then the URL rewrite absorbs the <EMAIL> placeholder
    assert(r(4L) == ((1, 1, 0, "mixed <URL> and plain text")))
  }

  // ---- Streaming corpus curation ------------------------------------------

  test("streaming curation: online exact dedup + quality gate survives restart") {
    import graft.streaming.StreamingCuration
    val s = spark
    val base = java.nio.file.Files.createTempDirectory("graft-streamcur").toString
    val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
    val outSchema =
      org.apache.spark.sql.Encoders.product[StreamingCuration.CuratedDoc].schema
    def sink() = spark.read.schema(outSchema).parquet(outDir)

    // batch 1: two distinct docs, one of them below the token floor
    Seq((1L, "the quick brown fox jumps"), (2L, "hi"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    StreamingCuration.runOnce(inDir, outDir, ckDir)
    val r1 = sink().as[StreamingCuration.CuratedDoc].collect().map(d => d.doc_id -> d).toMap
    assert(r1(1L).novel && r1(1L).quality_ok)
    assert(r1(2L).novel && !r1(2L).quality_ok) // admitted but quality-flagged
    assert(r1.size == 2)

    // batch 2 AFTER restart: a copy of doc 1's text must be caught by the
    // checkpointed seen-content state, not re-admitted
    Seq((5L, "the quick brown fox jumps"), (6L, "a brand new document entirely"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    StreamingCuration.runOnce(inDir, outDir, ckDir)
    val r2 = sink().as[StreamingCuration.CuratedDoc].collect().map(d => d.doc_id -> d).toMap
    assert(r2.size == 4)
    assert(!r2(5L).novel && r2(5L).dup_of == 1L)
    assert(r2(6L).novel && r2(6L).quality_ok)

    // draining again with nothing new emits nothing more
    StreamingCuration.runOnce(inDir, outDir, ckDir)
    assert(sink().count() == 4)
  }
}
