package graft

import graft.extract.DetExtractor

/** Round-3 regression tests: repo hygiene (no control bytes in source),
  * the dedupMentions role tie-break, Service.feedback validation,
  * retrieveFull, the Thompson posterior, VectorIndex merge-on-read and
  * StreamMain.
  */
class Round3Suite extends SparkFunSuite {
  import spark.implicits._

  test("repo hygiene: no source file contains control bytes other than \\n and \\t") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val bad = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val bytes = Files.readAllBytes(p)
        val idx = bytes.indexWhere(b => b >= 0 && b < 0x20 && b != '\n' && b != '\t')
        if (idx >= 0) Some(s"$p byte offset $idx value 0x${bytes(idx).toHexString}") else None
      }
      .toList
    assert(bad.isEmpty, s"control bytes found (git treats these files as binary): $bad")
  }

  test("dedupMentions: generalizable beats illustrative on a confidence tie") {
    def m(name: String, conf: Double, role: String, pos: Int) =
      DetExtractor.Mention(name, name, pos, pos + name.length, pos, pos + 1, conf,
        s"at $pos", role = role, illustrates = if (role == "illustrative") "Parent" else null)
    // illustrative occurrence precedes an equal-confidence generalizable one
    val kept = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "illustrative", 0), m("Redis", 0.7, "generalizable", 10)))
    assert(kept.size == 1 && kept.head.role == "generalizable")
    // reverse arrival order: generalizable still wins (first kept)
    val kept2 = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "generalizable", 0), m("Redis", 0.7, "illustrative", 10)))
    assert(kept2.head.role == "generalizable")
    // higher confidence still dominates role
    val kept3 = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "generalizable", 0), m("Redis", 0.9, "illustrative", 10)))
    assert(kept3.head.role == "illustrative" && kept3.head.confidence == 0.9)
    // equal confidence, both generalizable: earlier position wins (unchanged)
    val kept4 = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "generalizable", 0), m("Redis", 0.7, "generalizable", 10)))
    assert(kept4.head.begin == 0)
  }

  test("Service.feedback: invalid outcome rejects the batch with the reference error") {
    val factors = Seq(("a", 1.0)).toDF("node_id", "factor")
    val outcomes = Seq(("a", "accepted"), ("b", "maybe")).toDF("node_id", "outcome")
    val res = graft.query.Service.feedback(factors, outcomes, "q-1")
    assert(res.isLeft)
    assert(res.left.toOption.get ==
      "Invalid outcome 'maybe' for item 'b'. Must be one of: accepted, partial, rejected")
    // a NULL outcome must also reject (SQL three-valued logic would
    // otherwise let it slip past a plain !isin filter)
    val withNull = Seq(("a", "accepted"), ("c", null)).toDF("node_id", "outcome")
    val res2 = graft.query.Service.feedback(factors, withNull, "q-1b")
    assert(res2.isLeft && res2.left.toOption.get.startsWith("Invalid outcome 'null'"))
  }

  test("Service.feedback: the first invalid row is named; tallies count every valid row") {
    val factors = Seq(("a", 1.0)).toDF("node_id", "factor")
    val twoBad = Seq(("a", "accepted"), ("b", "maybe"), ("c", null), ("d", "nope"))
      .toDF("node_id", "outcome")
    assert(graft.query.Service.feedback(factors, twoBad, "q-4").left.toOption.contains(
      "Invalid outcome 'maybe' for item 'b'. Must be one of: accepted, partial, rejected"))
    val nullFirst = Seq(("c", null), ("b", "maybe")).toDF("node_id", "outcome")
    assert(graft.query.Service.feedback(factors, nullFirst, "q-4b").left.toOption.contains(
      "Invalid outcome 'null' for item 'c'. Must be one of: accepted, partial, rejected"))
    val ok = Seq(("a", "partial"), ("b", "partial"), ("c", "rejected")).toDF("node_id", "outcome")
    val fb = graft.query.Service.feedback(factors, ok, "q-4c").fold(e => fail(e), identity)
    assert((fb.outcomeCount, fb.accepted, fb.rejected, fb.partial) == ((3L, 0L, 1L, 2L)))
  }

  test("retrieveFull bundles rules for activated concepts; BFS fallback selectable") {
    import graft.core.Embeddings
    val qText = "bundled rules probe"
    val qv = Embeddings.embed(qText)
    val concepts = Seq(
      ("web:Alpha", "Alpha", qv.toSeq),
      ("web:Gamma", "Gamma", Embeddings.embed("something unrelated entirely").toSeq))
      .toDF("id", "name", "embedding")
    val edges = Seq(("web:Alpha", "web:Gamma", 0.9))
      .toDF("source_id", "target_id", "confidence")
    val factors = Seq.empty[(String, Double)].toDF("node_id", "factor")
    val rules = Seq(
      ("rule:1", "Alpha must be monitored.", "requirement", Seq("web:Alpha")),
      ("rule:2", "Unrelated rule.", "requirement", Seq("web:Nowhere")))
      .toDF("id", "text", "category", "concept_ids")

    val out = graft.query.Retrieval.retrieveFull(concepts, edges, factors, qText,
      topK = 2, rules = Some(rules))
    val bundled = out.rules.as[(String, String, String, Double)].collect()
    assert(bundled.map(_._1).toSeq == Seq("rule:1")) // only the activated concept's rule
    val topCombined = out.results
      .orderBy(org.apache.spark.sql.functions.col("combined").desc)
      .select("combined").as[Double].head()
    assert(math.abs(bundled.head._4 - topCombined) < 1e-12) // relevance = max activation

    // BFS fallback: same contract, scores from pattern completion
    val bfs = graft.query.Retrieval.retrieveFull(concepts, edges, factors, qText,
      topK = 2, rules = Some(rules), strategy = graft.query.Retrieval.BfsCompletion)
    val byId = bfs.results.select("id", "ppr").as[(String, Double)].collect().toMap
    assert(byId("web:Alpha") == 1.0) // seed depth 0
    assert(byId("web:Gamma") >= 0.5) // neighbor at depth 1 (or a vec seed itself)
    assert(bfs.rules.count() == 1)
  }

  test("Thompson: ArmState.update matches the distributed posterior aggregation") {
    import graft.learning.Thompson
    val rewards = Seq(1.0, 0.0, 1.0, 0.3, 0.0, 1.0)
    val sequential = rewards.foldLeft(Thompson.ArmState())(_.update(_))
    val agg = Thompson.posteriors(rewards.map(("arm", _)).toDF("arm_id", "reward"))
      .collect().head
    assert(math.abs(agg.getAs[Double]("alpha") - sequential.alpha) < 1e-12)
    assert(math.abs(agg.getAs[Double]("beta") - sequential.beta) < 1e-12)
    assert(agg.getAs[Long]("pulls") == sequential.pulls)
    assert(math.abs(agg.getAs[Double]("total_reward") - sequential.totalReward) < 1e-12)
  }

  test("Thompson: posterior mean converges to the true rate (property)") {
    import graft.learning.Thompson
    val rng = new java.util.Random(42L)
    val trueRates = Map("good" -> 0.8, "bad" -> 0.2)
    val obs = (1 to 2000).flatMap { _ =>
      trueRates.map { case (arm, p) => (arm, if (rng.nextDouble() < p) 1.0 else 0.0) }
    }
    val means = Thompson.posteriors(obs.toDF("arm_id", "reward"))
      .select("arm_id", "posterior_mean").as[(String, Double)].collect().toMap
    assert(math.abs(means("good") - 0.8) < 0.03)
    assert(math.abs(means("bad") - 0.2) < 0.03)
  }

  test("Thompson.select: exploit, cold-start force-include, budget, determinism") {
    import graft.learning.Thompson
    val arms = Seq(Thompson.Arm("good", 10), Thompson.Arm("bad", 10),
      Thompson.Arm("fresh", 10))
    val states = Map(
      "good" -> Thompson.ArmState(80, 20, 100, 80),
      "bad" -> Thompson.ArmState(20, 80, 100, 20))
    // exploit: over many seeded rounds the high-posterior arm dominates
    val wins = (1 to 200).count { s =>
      Thompson.select(Seq(Thompson.Arm("good"), Thompson.Arm("bad")), states,
        k = 1, seed = s.toLong).selected.head.id == "good"
    }
    assert(wins > 160, s"good arm won only $wins/200 rounds")
    // cold start: an arm below minPulls is always forced in
    val withFresh = Thompson.select(arms, states, k = 1, seed = 7L, minPulls = 5)
    assert(withFresh.selected.exists(_.id == "fresh"))
    // token budget caps the selection
    val budgeted = Thompson.select(arms, states, k = 3, seed = 7L, tokenBudget = 20)
    assert(budgeted.usedTokens <= 20 && budgeted.selected.size == 2)
    // determinism: same seed, same outcome
    val a = Thompson.select(arms, states, k = 2, seed = 99L)
    val b = Thompson.select(arms, states, k = 2, seed = 99L)
    assert(a.selected.map(_.id) == b.selected.map(_.id) && a.scores == b.scores)
    // degenerate posteriors from signed credit (alpha ≤ 1/3) must sample a
    // finite probability, never NaN
    val rng = new java.util.Random(1L)
    for (shape <- Seq(0.0, 0.1, 0.3, 0.5)) {
      val s = Thompson.betaSample(rng, shape, 1.0)
      assert(!s.isNaN && s >= 0.0 && s <= 1.0, s"betaSample(a=$shape) gave $s")
    }
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

  test("StreamMain: file stream → stateful promotion, state survives restart") {
    import graft.streaming.{EdgePromotion, StreamMain}
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val (obsDir, outDir, ckDir) = (s"$base/obs", s"$base/out", s"$base/ck")

    def writeObs(batch: Seq[EdgePromotion.Observation], name: String): Unit =
      batch.toDF().write.mode("append").parquet(obsDir) // flat: file source does not recurse
    val promotedSchema =
      org.apache.spark.sql.Encoders.product[EdgePromotion.PromotedEdge].schema
    def sink() = spark.read.schema(promotedSchema).parquet(outDir)

    // batch 1: two hits for (a,b) — below the promotion threshold of 3
    writeObs(Seq(
      EdgePromotion.Observation("a", "b", 0.9, 1L),
      EdgePromotion.Observation("b", "a", 0.8, 2L)), "batch1")
    StreamMain.runOnce(obsDir, outDir, ckDir)
    assert(sink().count() == 0)

    // restart with one more hit: checkpointed state carries the first two,
    // so the third crosses hits ≥ 3 with avg ≥ 0.75 → exactly one edge
    writeObs(Seq(EdgePromotion.Observation("a", "b", 0.85, 3L)), "batch2")
    StreamMain.runOnce(obsDir, outDir, ckDir)
    val promoted = sink().as[EdgePromotion.PromotedEdge].collect()
    assert(promoted.length == 1)
    val e = promoted.head
    assert(e.source_id == "a" && e.target_id == "b" && e.hits == 3)
    assert(math.abs(e.confidence - (0.9 + 0.8 + 0.85) / 3) < 1e-9)

    // draining again with nothing new emits nothing more
    StreamMain.runOnce(obsDir, outDir, ckDir)
    assert(sink().count() == 1)
  }
}
