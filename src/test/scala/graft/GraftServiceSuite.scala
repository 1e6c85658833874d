package graft

import graft.core.Embeddings
import graft.fixtures.PagesGen
import graft.pipeline.Ingest
import graft.query.{GraftService, GraftServiceTestAccess, Retrieval}
import graft.store.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** End-to-end service facade over a freshly ingested warehouse: the
  * reference's query/feedback/explore/stats/project call pattern.
  */
class GraftServiceSuite extends SparkFunSuite {
  import spark.implicits._

  private lazy val store: SnapshotStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-svc").toString
    val st = new SnapshotStore(dir)
    Ingest.run(PagesGen.pages(spark, 80), st, Ingest.Config(),
      knownPartitions = Some(PagesGen.dayStrings(4)))
    st
  }
  private lazy val svc = new GraftService(store)(spark)

  /** A new warehouse holding a copy of the suite's concepts, edges and
    * rules tables (no factors), for tests that commit their own tables.
    */
  private def warehouseCopy(prefix: String): SnapshotStore = {
    val src = java.nio.file.Paths.get(store.root)
    val dst = java.nio.file.Files.createTempDirectory(prefix)
    for (table <- Seq("concepts", "edges", "rules")) {
      val walk = java.nio.file.Files.walk(src.resolve(table))
      try walk.iterator().asScala.foreach { p =>
        val to = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
        else java.nio.file.Files.copy(p, to)
      } finally walk.close()
    }
    new SnapshotStore(dst.toString)
  }

  /** Rows with every double as its raw bits, for bit-for-bit comparison. */
  private def bits(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  })

  /** What a client sees of one query: items, rules and coverage. */
  private def answer(s: GraftService, ctx: String): (Seq[Seq[Any]], Seq[Seq[Any]], Double) = {
    val r = s.query(ctx, topK = 10)
    (bits(r.items.collect().toSeq), bits(r.rules.collect().toSeq), r.kgCoverage)
  }

  private val contexts = Seq("platform access control tokens", "session timeout and retry policy",
    "search index latency", "billing invoices", "deployment pipeline configuration")

  test("query: ranked items + bundled rules + coverage, clamped top_k") {
    val r = svc.query("platform access control tokens", topK = 5)
    assert(r.queryId.startsWith("q") && r.queryId.contains("-"))
    val items = r.items.collect()
    assert(items.nonEmpty && items.length <= 5)
    assert(r.items.columns.toSeq == Seq("id", "name", "vec_score", "ppr", "combined"))
    assert(r.kgCoverage >= 0.0 && r.kgCoverage <= 1.0)
    // bundled rules (if any) have relevance ≤ the max combined score
    val maxCombined = items.map(_.getAs[Double]("combined")).max
    val bundled = r.rules.select("relevance").as[Double].collect()
    assert(bundled.forall(_ <= maxCombined + 1e-9))
    assert(svc.queryCount == 1)
    // domain filter: an unknown domain yields no items
    assert(svc.query("anything", domains = Seq("nope")).items.isEmpty)
  }

  test("query: the driver index answers as Retrieval.retrieveFull does (grid, bit for bit)") {
    val st = warehouseCopy("graft-svc-equiv")
    val s = new GraftService(st)
    val ix = GraftServiceTestAccess.index(s).getOrElse(fail("no driver index below the loop width"))
    val graph = GraftServiceTestAccess.pprGraph(s)
    val concepts = st.read("concepts")
    val edges = st.read("edges")
    val rules = st.read("rules")
    // a context whose seeds gain online similarity edges
    val onlineCtx = PagesGen.allEntities
      .find(c => !ix.retrieve(c, 10, Nil, 0.0, _ => Map.empty).onlineEdges.isEmpty)
      .getOrElse(fail("no context gains online edges"))

    /** The service's filters around the DataFrame path, over the same graph. */
    def reference(ctx: String, k: Int, minConf: Double, domains: Seq[String]) = {
      val inDomains = substring_index(col("id"), ":", 1).isin(domains: _*)
      val cs0 = if (domains.isEmpty) concepts else concepts.filter(inDomains)
      val cs = if (minConf > 0.0) cs0.filter(col("confidence") >= minConf) else cs0
      val factors =
        if (st.exists("factors")) st.read("factors")
        else Seq.empty[(String, Double)].toDF("node_id", "factor")
      val out = Retrieval.retrieveFull(cs, edges, factors, ctx, k,
        rules = Some(rules), prepared = Some(graph))
      val items = if (domains.isEmpty) out.results else out.results.filter(inDomains)
      (items.collect().toSeq, out.rules.collect().toSeq, out.kgCoverage, out.onlineEdges.count())
    }

    var withOnline = 0
    var belowFullCoverage = 0
    for (factorsOn <- Seq(false, true)) {
      if (factorsOn) {
        // clamped low and high, inside the range, null, and an unknown id
        val ids = Seq("platform access control tokens", onlineCtx)
          .flatMap(c => s.query(c, topK = 10).items.select("id").as[String].collect()).distinct
        val factors = ids.zipWithIndex.map { case (id, i) =>
          (id, Seq(Some(0.05), Some(7.0), Some(1.3), None)(i % 4))
        } :+ ("web:No Such Concept" -> Some(2.0))
        st.commitReplace("factors", factors.toDF("node_id", "factor"), Seq.empty)
      }
      for (ctx <- Seq("platform access control tokens", onlineCtx); k <- Seq(1, 10);
           minConf <- Seq(0.0, 0.8); domains <- Seq(Nil, Seq("web"))) {
        val where = s"context '$ctx', topK $k, minConfidence $minConf, domains $domains, factors $factorsOn"
        val got = s.query(ctx, domains, k, minConf)
        val (items, rs, coverage, nOnline) = reference(ctx, k, minConf, domains)
        assert(bits(got.items.collect().toSeq) == bits(items), where)
        val gotRules = got.rules.collect().toSeq
        assert(bits(gotRules.map(r => Row(r.getDouble(3)))) == bits(rs.map(r => Row(r.getDouble(3)))), where)
        assert(bits(gotRules).map(_.toString).sorted == bits(rs).map(_.toString).sorted, where)
        assert(got.kgCoverage == coverage, where)
        if (nOnline > 0) withOnline += 1
        if (coverage < 1.0) belowFullCoverage += 1
      }
    }
    assert(withOnline > 0 && belowFullCoverage > 0)
  }

  test("index: a duplicate concept id fails the query loudly, naming the id") {
    val st = warehouseCopy("graft-svc-dup")
    val ctx = "platform access control tokens"
    // the concept least like the query is never a seed, so without the
    // index's check its duplicate went unnoticed
    val q = Embeddings.embed(ctx)
    val concepts = st.read("concepts")
    val dupId = concepts.select("id", "embedding").collect()
      .minBy(r => Embeddings.cosine(q, r.getSeq[Float](1).toArray))(Ordering.Double.TotalOrdering)
      .getString(0)
    val dup = concepts.unionByName(concepts.filter(col("id") === dupId)).localCheckpoint()
    st.commitReplace("concepts", dup, Seq.empty)
    val e = intercept[IllegalArgumentException](new GraftService(st).query(ctx, topK = 10))
    assert(e.getMessage.contains(dupId))
  }

  test("query caches no RDD: the persistent RDDs after 20 queries are those after 1") {
    val sc = spark.sparkContext
    def ask(i: Int): Unit = svc.query(contexts(i % contexts.size), topK = 5).items.collect()
    ask(0)
    val after1 = sc.getPersistentRDDs.keySet
    (1 until 20).foreach(ask)
    // compared by id: an RDD only weakly held may leave the map at a GC,
    // but no query may add one
    assert((sc.getPersistentRDDs.keySet -- after1).isEmpty)
  }

  test("query completes while a Spark job holds every core") {
    val serial = answer(svc, contexts.head)
    // the driver index answers with no Spark job
    BusyCores.during(spark)(assert(Await.result(Future(answer(svc, contexts.head)), 60.seconds) == serial))
  }

  test("two threads × 10 queries on one service return the serial answers") {
    val serial = contexts.map(c => c -> answer(svc, c)).toMap
    val threads = (0 until 2).map(t => Future((0 until 10).map { i =>
      val c = contexts((i + t) % contexts.size)
      c -> answer(svc, c)
    }))
    for (f <- threads; (c, a) <- Await.result(f, 300.seconds))
      assert(a == serial(c), s"context '$c'")
  }

  test("feedback: validates, updates + persists factors, optional credit") {
    val item = svc.query("platform access control tokens", topK = 3)
      .items.select("id").as[String].head()
    assert(svc.feedback("q-bad", Map(item -> "great")).isLeft)
    val fb = svc.feedback("q-ok", Map(item -> "accepted"), propagateCredit = true)
      .fold(e => fail(e), identity)
    assert(fb.accepted == 1 && fb.status == "recorded")
    assert(store.exists("factors"))
    val f = store.read("factors").filter(col("node_id") === item)
      .select("factor").as[Double].head()
    assert(math.abs(f - 1.1) < 1e-9) // default 1.0 + accepted delta 0.1
    // credit: the accepted concept gets direct credit at reward 1.0
    val credit = fb.credit.getOrElse(fail("no credit summary"))
    assert(credit.directCount >= 1)
    assert(credit.posteriorDeltas(item)._1 == 1.0)
    assert(svc.feedbackCount == 1)
    // the deltas land in the service's "credit" learner (service.py:1653)
    // and its state is committed next to the warehouse
    val armState = svc.creditLearner
      .statesFor(Seq(graft.learning.Thompson.Arm(item)))
      .getOrElse(item, fail("credit learner has no state for the item"))
    assert(armState.alpha == 2.0 && armState.pulls == 1L) // 1.0 prior + 1.0 delta
    assert(store.exists("learner_credit"))
  }

  test("Service.feedback: factor deltas, tallies, and snapshot persistence") {
    val factors = Seq(("a", 1.0), ("b", 1.0), ("c", 4.99)).toDF("node_id", "factor")
    val outcomes = Seq(("a", "accepted"), ("a", "accepted"), ("b", "rejected"),
      ("c", "accepted"), ("d", "partial")).toDF("node_id", "outcome")
    val dir = java.nio.file.Files.createTempDirectory("graft-fb").toString
    val store = new graft.store.SnapshotStore(dir)
    val res = graft.query.Service.feedback(factors, outcomes, "q-2",
      persistTo = Some((store, "factors")))
    val fb = res.fold(e => fail(e), identity)
    assert(fb.status == "recorded" && fb.queryId == "q-2")
    assert(fb.outcomeCount == 5 && fb.accepted == 3 && fb.rejected == 1 && fb.partial == 1)
    val got = fb.factors.as[(String, Double)].collect().toMap
    assert(math.abs(got("a") - 1.2) < 1e-12) // +0.1 twice
    assert(math.abs(got("b") - 0.95) < 1e-12) // −0.05
    assert(got("c") == 5.0) // clamped at max
    assert(math.abs(got("d") - 1.03) < 1e-12) // default 1.0 + 0.03
    // persisted snapshot readable (St4 persist_on_update)
    assert(store.read("factors").count() == 4)
  }

  test("feedback round re-ranks the next retrieval exactly as the factors imply") {
    import graft.core.Embeddings
    val qText = "feedback ranking probe"
    val qv = Embeddings.embed(qText)
    val perturbed = qv.clone(); perturbed(0) = perturbed(0) + 0.35f
    val concepts = Seq(
      ("web:Alpha", "Alpha", qv.toSeq), ("web:Beta", "Beta", perturbed.toSeq))
      .toDF("id", "name", "embedding")
    val edges = Seq.empty[(String, String, Double)]
      .toDF("source_id", "target_id", "confidence")
    val factors0 = Seq.empty[(String, Double)].toDF("node_id", "factor")

    val before = graft.query.Retrieval.retrieve(concepts, edges, factors0, qText, topK = 2)
      .select("id", "combined").as[(String, Double)].collect().toMap
    assert(before("web:Alpha") > before("web:Beta")) // pure vec ordering

    // 40 accepted outcomes for Beta → factor clamps at 5.0
    val outcomes = (1 to 40).map(_ => ("web:Beta", "accepted")).toDF("node_id", "outcome")
    val fb = graft.query.Service.feedback(factors0, outcomes, "q-3")
      .fold(e => fail(e), identity)
    val updatedFactors = fb.factors.as[(String, Double)].collect().toMap
    assert(updatedFactors("web:Beta") == 5.0)

    val after = graft.query.Retrieval.retrieve(concepts, edges, fb.factors, qText, topK = 2)
      .select("id", "combined").as[(String, Double)].collect().toMap
    // Beta's boosted teleportation factor flips the blended ranking
    assert(after("web:Beta") > after("web:Alpha"))
  }

  /** A warehouse copy, a service over it (with the size rule at
    * `rowLimit` rows when given) and the item ids of its first three
    * contexts' queries.
    */
  private def feedbackService(prefix: String, rowLimit: Option[Int] = None)
      : (SnapshotStore, GraftService, Seq[String]) = {
    val st = warehouseCopy(prefix)
    val s = rowLimit.fold(new GraftService(st))(GraftServiceTestAccess.withRowLimit(st, _))
    (st, s, contexts.take(3).flatMap(c => s.query(c, topK = 10).items.select("id").as[String].collect())
      .distinct)
  }

  /** A feedback call that must be recorded. */
  private def rate(s: GraftService, qid: String, outcomes: Map[String, String]): Unit =
    s.feedback(qid, outcomes).fold(e => fail(e), _ => ())

  /** A stored factors table as a sorted multiset of rows, doubles as bits. */
  private def factorsOf(st: SnapshotStore): Seq[String] =
    bits(st.read("factors").select(col("node_id"), col("factor").cast("double")).collect().toSeq)
      .map(_.toString).sorted

  private val outcomeKinds = Seq("accepted", "rejected", "partial")

  test("feedback caches no RDD: the persistent RDDs after 20 feedbacks are those after 1") {
    val sc = spark.sparkContext
    val (_, s, items) = feedbackService("graft-svc-fb-rdd")
    def judge(i: Int): Unit = rate(s, s"q-$i", Map(items(i % items.length) -> outcomeKinds(i % 3)))
    judge(0)
    val after1 = sc.getPersistentRDDs.keySet
    (1 until 20).foreach(judge)
    assert((sc.getPersistentRDDs.keySet -- after1).isEmpty)
  }

  test("two threads × 10 feedbacks on one service lose no update") {
    val (st, s, items) = feedbackService("graft-svc-fb-threads")
    // thread t rates only the items at indices of parity t, so the serial
    // fold of the 20 calls is the same in any interleaving
    def calls(t: Int): Seq[Map[String, String]] = (0 until 10).map { i =>
      Map(items(t + 2 * (i % 3)) -> outcomeKinds((i + t) % 3), items(t + 2 * (1 + i % 4)) -> "accepted")
    }
    val threads = (0 until 2).map(t => Future(calls(t).zipWithIndex.foreach { case (o, i) =>
      rate(s, s"q-$t-$i", o)
    }))
    threads.foreach(Await.result(_, 300.seconds))
    val serial = (calls(0) ++ calls(1)).foldLeft(Seq.empty[(String, Double)].toDF("node_id", "factor")) {
      (f, o) => graft.query.Service.feedback(f, o.toSeq.toDF("node_id", "outcome"), "q-serial")
        .fold(e => fail(e), _.factors)
    }
    assert(factorsOf(st) == bits(serial.collect().toSeq).map(_.toString).sorted)
  }

  /** A size rule at which the suite's warehouse has no `index`. */
  private lazy val conceptCount: Int = store.read("concepts").count().toInt

  test("two threads × 10 feedbacks on a service without an index lose no update") {
    val (st, s, items) = feedbackService("graft-svc-fb-noindex", Some(conceptCount))
    assert(GraftServiceTestAccess.index(s).isEmpty)
    def calls(t: Int): Seq[Map[String, String]] = (0 until 10).map { i =>
      Map(items(t + 2 * (i % 3)) -> outcomeKinds((i + t) % 3), items(t + 2 * (1 + i % 4)) -> "accepted")
    }
    val threads = (0 until 2).map(t => Future(calls(t).zipWithIndex.foreach { case (o, i) =>
      rate(s, s"q-$t-$i", o)
    }))
    threads.foreach(Await.result(_, 300.seconds))
    // each call's delta per node, summed from 1.0 and clamped as updateFactors does
    val serial = (calls(0) ++ calls(1)).foldLeft(Map.empty[String, Double]) { (f, o) =>
      f ++ o.map { case (id, out) =>
        id -> math.min(5.0, math.max(0.1, f.getOrElse(id, 1.0) + graft.query.Service.OutcomeDelta(out)))
      }
    }
    val stored = st.read("factors").as[(String, Double)].collect()
    assert(stored.map(_._1).sorted.toSeq == serial.keys.toSeq.sorted)
    for ((id, f) <- stored) assert(math.abs(f - serial(id)) < 1e-9, s"$id: $f vs ${serial(id)}")
  }

  test("feedback runs no Spark job, and the next query none") {
    val (_, s, items) = feedbackService("graft-svc-fb-jobs")
    assert(jobsOf(rate(s, "q-1", Map(items(0) -> "accepted", items(1) -> "rejected"))) == 0)
    assert(jobsOf(s.query(contexts(1), topK = 10).items.collect()) == 0)
    assert(jobsOf(rate(s, "q-2", Map(items(0) -> "partial"))) == 0)
    assert(jobsOf(s.query(contexts.head, topK = 10).items.collect()) == 0)
    // without an index the factors are held below the same size rule
    val (_, plain, plainItems) = feedbackService("graft-svc-fb-jobs-noindex", Some(conceptCount))
    assert(GraftServiceTestAccess.index(plain).isEmpty)
    assert(jobsOf(rate(plain, "q-1", Map(plainItems(0) -> "accepted", plainItems(1) -> "rejected"))) == 0)
    assert(jobsOf(rate(plain, "q-2", Map(plainItems(0) -> "partial"))) == 0)
  }

  test("feedback: an invalid outcome is rejected with the reference error, naming the first in map order") {
    val (st, s, items) = feedbackService("graft-svc-fb-invalid")
    rate(s, "q-0", Map(items(0) -> "accepted"))
    val committed = st.latest("factors").map(_.id)
    // more than four entries: a hash map, whose iteration order names the row
    val outcomes = Map(items(0) -> "accepted", items(1) -> "maybe", items(2) -> null,
      items(3) -> "partial", items(4) -> "nope", items(5) -> "rejected")
    val want = graft.query.Service.feedback(st.read("factors"), outcomes.toSeq.toDF("node_id", "outcome"), "q-1")
    val got = s.feedback("q-1", outcomes)
    assert(got.left.toOption.exists(_.matches(
      "Invalid outcome '(maybe|null|nope)' for item '.*'\\. Must be one of: accepted, partial, rejected")))
    assert(got.left.toOption == want.left.toOption)
    assert(s.feedback("q-2", Map(items(1) -> "maybe")).left.toOption.contains(
      s"Invalid outcome 'maybe' for item '${items(1)}'. Must be one of: accepted, partial, rejected"))
    assert(st.latest("factors").map(_.id) == committed && s.feedbackCount == 1)
  }

  /** `calls` seeded random feedback calls through `s` over `st`, and the
    * same calls through `Service.feedback` over a warehouse copy; both
    * start from a factors table with rows near each clamp bound, out of
    * range, NaN, null, a null id, a duplicate id and `filler` rows of
    * unknown ids. After every call the stored tables are equal as
    * multisets of bits, and `s.query` answers as `retrieveFull` over the
    * reference's table does.
    */
  private def foldsAsServiceFeedback(st: SnapshotStore, s: GraftService, items: Seq[String], filler: Int,
      calls: Int): Unit = {
    val reference = warehouseCopy("graft-svc-fb-ref")
    val (hi, lo, nan, none, unknown, dup) =
      (items(0), items(1), items(2), items(3), "web:No Such Concept", "web:Duplicate Ghost")
    // the duplicate id is not a concept: a seed listed twice fails PPR
    val start = Seq(Row(hi, 4.93), Row(lo, 0.17), Row(nan, Double.NaN), Row(none, null),
      Row(items(4), 7.0), Row(items(5), 0.01), Row(items(6), -3.0), Row(dup, 1.5), Row(dup, 0.2),
      Row(null, 2.0), Row(null, null)) ++ (0 until filler).map(i => Row(s"web:Filler $i", 1.0))
    val startFrame = spark.createDataFrame(start.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("node_id STRING, factor DOUBLE"))
    for (t <- Seq(st, reference)) t.commitReplace("factors", startFrame, Seq.empty)
    val graph = GraftServiceTestAccess.pprGraph(s)
    val (concepts, edges, rules) = (reference.read("concepts"), reference.read("edges"), reference.read("rules"))

    val pool = (items.take(12) :+ unknown :+ dup :+ null).toIndexedSeq
    val rng = new scala.util.Random(20261019L)
    var reachedHi, reachedLo = false
    for (call <- 0 until calls) {
      val drawn = rng.shuffle(pool).take(1 + rng.nextInt(4)).map(_ -> outcomeKinds(rng.nextInt(3)))
      val outcomes = (drawn ++ (if (call % 2 == 0) Seq(hi -> "accepted", lo -> "rejected") else Nil)).toMap
      val where = s"call $call: $outcomes"
      val got = s.feedback(s"q-$call", outcomes).fold(e => fail(e), identity)
      val want = graft.query.Service.feedback(reference.read("factors"),
        outcomes.toSeq.toDF("node_id", "outcome"), s"q-$call", persistTo = Some((reference, "factors")))
        .fold(e => fail(e), identity)
      assert(got.factors.schema == want.factors.schema, where)
      assert(bits(got.factors.collect().toSeq).map(_.toString).sorted ==
        bits(want.factors.collect().toSeq).map(_.toString).sorted, where)
      assert(factorsOf(st) == factorsOf(reference), where)
      val stored = reference.read("factors").filter(col("node_id").isin(hi, lo)).as[(String, Double)].collect()
      reachedHi ||= stored.contains(hi -> 5.0)
      reachedLo ||= stored.contains(lo -> 0.1)

      val ctx = contexts(call % contexts.size)
      val out = Retrieval.retrieveFull(concepts, edges, reference.read("factors"), ctx, 10,
        rules = Some(rules), prepared = Some(graph))
      val gotQuery = s.query(ctx, topK = 10)
      assert(bits(gotQuery.items.collect().toSeq) == bits(out.results.collect().toSeq), where)
      val (gotRules, wantRules) = (gotQuery.rules.collect().toSeq, out.rules.collect().toSeq)
      assert(gotRules.map(_.getDouble(3)) == wantRules.map(_.getDouble(3)), where)
      assert(bits(gotRules).map(_.toString).sorted == bits(wantRules).map(_.toString).sorted, where)
      assert(gotQuery.kgCoverage == out.kgCoverage, where)
    }
    assert(reachedHi && reachedLo)
  }

  test("feedback: the held factors fold as Service.feedback does (seeded random calls)") {
    val (st, s, items) = feedbackService("graft-svc-fb-held")
    foldsAsServiceFeedback(st, s, items, filler = 0, calls = 32)
  }

  test("feedback: a factors table at the size rule is rewritten as Service.feedback does") {
    val limit = math.max(store.read("concepts").count(), store.read("rules").count()).toInt + 1
    val (st, s, items) = feedbackService("graft-svc-fb-table", Some(limit))
    assert(GraftServiceTestAccess.index(s).isDefined, "no driver index below the loop width")
    foldsAsServiceFeedback(st, s, items, filler = limit, calls = 6)
  }

  test("feedback: without an index the held factors fold as Service.feedback does") {
    val (st, s, items) = feedbackService("graft-svc-fb-noindex-fold", Some(conceptCount))
    assert(GraftServiceTestAccess.index(s).isEmpty)
    foldsAsServiceFeedback(st, s, items, filler = 0, calls = 8)
  }

  test("feedback: another instance's feedback is seen by the next query and folded on") {
    val (st, a, items) = feedbackService("graft-svc-fb-two")
    val b = new GraftService(st)
    rate(a, "q-a0", Map(items(1) -> "partial"))
    val before = answer(a, contexts.head)
    rate(b, "q-b", Map(items(0) -> "rejected", items(2) -> "accepted"))
    val after = answer(a, contexts.head)
    assert(after != before)
    assert(after == answer(new GraftService(st), contexts.head))
    rate(a, "q-a1", Map(items(0) -> "accepted"))
    val stored = st.read("factors").as[(String, Double)].collect().toMap
    assert(stored == Map(items(0) -> (1.0 - 0.05 + 0.1), items(1) -> (1.0 + 0.03), items(2) -> (1.0 + 0.1)))
  }

  test("index: too many rule rows fall back to Retrieval.retrieveFull with the same answers") {
    val st = warehouseCopy("graft-svc-rules")
    val nConcepts = st.read("concepts").count()
    val rules0 = st.read("rules")
    val copies = (nConcepts / rules0.count() + 1).toInt
    st.commitReplace("rules", (1 to copies).foldLeft(rules0) { (all, c) =>
      all.unionByName(rules0.withColumn("id", concat(col("id"), lit(s"#$c"))))
    }.localCheckpoint(), Seq.empty)
    val limit = nConcepts.toInt + 1
    assert(st.read("rules").count() >= limit)
    val fallback = GraftServiceTestAccess.withRowLimit(st, limit)
    val indexed = new GraftService(st)
    assert(GraftServiceTestAccess.index(fallback).isEmpty && GraftServiceTestAccess.index(indexed).isDefined)
    rate(indexed, "q-rules", Map(indexed.query(contexts.head).items.select("id").as[String].head() -> "accepted"))
    for (ctx <- contexts) {
      val (got, want) = (fallback.query(ctx, topK = 10), indexed.query(ctx, topK = 10))
      assert(bits(got.items.collect().toSeq) == bits(want.items.collect().toSeq), ctx)
      val (gotRules, wantRules) = (got.rules.collect().toSeq, want.rules.collect().toSeq)
      assert(gotRules.map(_.getDouble(3)) == wantRules.map(_.getDouble(3)), ctx)
      assert(bits(gotRules).map(_.toString).sorted == bits(wantRules).map(_.toString).sorted, ctx)
      assert(got.kgCoverage == want.kgCoverage, ctx)
    }
  }

  test("GraftCli: query/stats/feedback/project command surface over the warehouse") {
    val wh = store.root
    val q = graft.pipeline.GraftCli.run(
      Seq(wh, "query", "platform access control tokens", "3"), spark)
    assert(q.head.contains("\"query_id\"") && q.head.contains("kg_coverage"))
    assert(q.exists(_.contains("\"combined\"")))

    val st = graft.pipeline.GraftCli.run(Seq(wh, "stats"), spark)
    assert(st.exists(_.contains("\"domain\":\"web\"")))

    val id = svc.query("platform access control tokens", topK = 1)
      .items.select("id").as[String].head()
    val fb = graft.pipeline.GraftCli.run(
      Seq(wh, "feedback", "q-cli", s"$id=accepted"), spark)
    assert(fb.head.contains("\"status\":\"recorded\"") && fb.head.contains("\"accepted\":1"))
    val bad = graft.pipeline.GraftCli.run(
      Seq(wh, "feedback", "q-cli", s"$id=meh"), spark)
    assert(bad.head.startsWith("""{"error":"""))

    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString + "/rules.json"
    val pr = graft.pipeline.GraftCli.run(
      Seq(wh, "project", "reviewer", out, "2026-01-01T00:00:00Z"), spark)
    assert(pr.head.contains("written"))
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
      .contains("\"persona\":\"reviewer\""))
  }

  test("explore: reachable edges, neighbors and linked rules; unknown → None") {
    assert(svc.explore("web:Nope").isEmpty)
    // pick a well-connected node (an edge endpoint)
    val seed = store.read("edges").select("source_id").as[String].head()
    val ex = svc.explore(seed, depth = 2).getOrElse(fail("explore returned None"))
    assert(ex.edges.count() > 0)
    val neighborIds = ex.neighbors.select("id").as[String].collect().toSet
    assert(neighborIds.contains(seed))
    // every linked rule references at least one reached concept
    val ruleIds = ex.rules.select("id").as[String].collect().toSet
    val linked = store.read("rules")
      .select(col("id"), explode(col("concept_ids")).as("cid"))
      .filter(col("cid").isin(neighborIds.toSeq: _*))
      .select("id").as[String].collect().toSet
    assert(ruleIds == linked)
  }

  /** What a client sees of one explore: the edge rows as a multiset, the
    * neighbours as a set and the rules in order.
    */
  private def exploreAnswer(s: GraftService, node: String, depth: Int)
      : (Seq[String], Set[Row], Seq[Row]) = {
    val ex = s.explore(node, depth).getOrElse(fail(s"explore '$node' returned None"))
    (ex.edges.collect().map(_.toString).toSeq.sorted, ex.neighbors.collect().toSet,
      ex.rules.collect().toSeq)
  }

  /** The concepts of `st` that are edge endpoints, by degree (highest
    * first, then id).
    */
  private def conceptsByDegree(st: SnapshotStore): Array[String] =
    st.read("edges").select(explode(array(col("source_id"), col("target_id"))).as("id"))
      .join(st.read("concepts").select("id"), Seq("id"))
      .groupBy("id").count().orderBy(col("count").desc, col("id"))
      .select("id").as[String].collect()

  private lazy val exploreNodes: Seq[String] = conceptsByDegree(store).take(6).toSeq

  test("explore: the driver index answers as Bfs.exploreEdges does (grid)") {
    val st = warehouseCopy("graft-svc-explore")
    val concepts0 = st.read("concepts")
    val edges0 = st.read("edges")
    val rules0 = st.read("rules")
    val byDegree = conceptsByDegree(st)
    val hub = byDegree.head
    val leaf = byDegree.last // the concept the extra edges hang off
    val (isolated, far, ghost) = ("web:Isolated Probe", "web:Far Probe", "web:Ghost Probe")
    // two new concepts: one with no edge, one reached only through a
    // null-confidence edge and a node that is not a concept
    def conceptLike(id: String) = concepts0.filter(col("id") === hub)
      .withColumn("id", lit(id)).withColumn("name", lit(id.stripPrefix("web:")))
    st.commitReplace("concepts",
      concepts0.unionByName(conceptLike(isolated)).unionByName(conceptLike(far)).localCheckpoint(),
      Seq.empty)
    def edgeLike(src: String, dst: String, confidence: Option[Double]) = {
      val t = edges0.schema("confidence").dataType
      edges0.limit(1)
        .withColumn("source_id", lit(src).cast("string"))
        .withColumn("target_id", lit(dst).cast("string"))
        .withColumn("confidence", confidence.fold(lit(null))(lit).cast(t))
    }
    // plus one exact copy of an edge row of the hub: every path keeps one row per key
    val hubEdge = edges0.filter(col("source_id") === hub || col("target_id") === hub).limit(1)
    st.commitReplace("edges",
      edges0.unionByName(edgeLike(leaf, ghost, None)).unionByName(edgeLike(ghost, far, Some(0.5)))
        .unionByName(edgeLike(leaf, null, Some(0.4))).unionByName(hubEdge).localCheckpoint(),
      Seq.empty)
    def ruleLike(id: String, cids: Seq[String]) = rules0.limit(1)
      .withColumn("id", lit(id)).withColumn("concept_ids", typedLit(cids))
    st.commitReplace("rules",
      rules0.unionByName(ruleLike("rule:twice", Seq(isolated, isolated)))
        .unionByName(ruleLike("rule:ghost", Seq(ghost))).localCheckpoint(),
      Seq.empty)

    val s = new GraftService(st)
    assert(GraftServiceTestAccess.index(s).isDefined, "no driver index below the loop width")
    val plain = GraftServiceTestAccess.withRowLimit(st, st.read("concepts").count().toInt)
    assert(GraftServiceTestAccess.index(plain).isEmpty)
    val concepts = st.read("concepts")
    val edges = st.read("edges")
    val rules = st.read("rules")
    val reference = scala.collection.mutable.Map.empty[(String, Int), (Seq[String], Set[Row], Seq[Row])]
    def expected(node: String, d: Int) = reference.getOrElseUpdate((node, d), {
      val seeds = Seq(node).toDF("id")
      val sub = graft.graph.Bfs.exploreEdges(edges, seeds, maxDepth = d)
      val reached = sub.select(col("source_id").as("id"))
        .unionByName(sub.select(col("target_id").as("id"))).unionByName(seeds).distinct()
      (sub.collect().map(_.toString).toSeq.sorted,
        reached.join(concepts.select("id", "name"), Seq("id")).collect().toSet,
        graft.rules.Rules.rulesForConcepts(rules, reached.withColumn("score", lit(1.0)))
          .collect().toSeq)
    })
    val ruleOrder: Ordering[Row] = Ordering.by((r: Row) => (r.getString(0), r.getString(1), r.getString(2)))
    var reachedFar, ruledTwice, ruledGhost = false
    for (node <- Seq(hub, leaf, isolated); depth <- Seq(0, 1, 2, 3, 5)) {
      val where = s"explore '$node' at depth $depth"
      val (gotEdges, gotNeighbors, gotRules) = exploreAnswer(s, node, depth)
      val (wantEdges, wantNeighbors, wantRules) = expected(node, math.max(1, math.min(depth, 3)))
      assert(gotEdges == wantEdges, where)
      assert(gotNeighbors == wantNeighbors, where)
      // the reference orders by relevance, then id; the driver path also
      // orders rows of one id, by text and category
      assert(gotRules.map(r => (r.getString(0), r.getDouble(3))) ==
        wantRules.map(r => (r.getString(0), r.getDouble(3))), where)
      assert(gotRules == wantRules.sorted(ruleOrder), where)
      // the DataFrame path without an index answers as the driver index
      val (plainEdges, plainNeighbors, plainRules) = exploreAnswer(plain, node, depth)
      assert((plainEdges, plainNeighbors) == (gotEdges, gotNeighbors), s"$where without an index")
      assert(plainRules.map(r => (r.getString(0), r.getDouble(3))) ==
        gotRules.map(r => (r.getString(0), r.getDouble(3))), s"$where without an index")
      assert(plainRules.sorted(ruleOrder) == gotRules, s"$where without an index")
      reachedFar ||= gotNeighbors.exists(_.getString(0) == far)
      ruledTwice ||= gotRules.exists(_.getString(0) == "rule:twice")
      ruledGhost ||= gotRules.exists(_.getString(0) == "rule:ghost")
    }
    assert(reachedFar && ruledTwice && ruledGhost)
    assert(exploreAnswer(s, isolated, 3)._1.isEmpty)
    assert(s.explore(ghost).isEmpty && plain.explore(ghost).isEmpty) // an edge endpoint, not a concept
  }

  /** A sort key's value as Spark's ordering compares it: -0.0 as 0.0 and
    * every NaN as one.
    */
  private def sortKey(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d)
    case x => x
  }

  /** Rows as a multiset of their bits. */
  private def multiset(rows: Seq[Row]): Map[Seq[Any], Int] = bits(rows).groupMapReduce(identity)(_ => 1)(_ + _)

  /** A sorted answer as its runs of rows with equal sort keys: each run's
    * key and its rows as a multiset.
    */
  private def runs(rows: Seq[Row], keys: Seq[String]): Seq[(Seq[Any], Map[Seq[Any], Int])] =
    rows.foldLeft(Vector.empty[(Seq[Any], Vector[Row])]) { (acc, r) =>
      val k = keys.map(c => sortKey(r.get(r.fieldIndex(c))))
      if (acc.nonEmpty && acc.last._1 == k) acc.init :+ (k -> (acc.last._2 :+ r)) else acc :+ (k -> Vector(r))
    }.map { case (k, rs) => k -> multiset(rs) }

  test("consuming an answer: count, orderBy, groupBy, distinct and union run no job and answer as Spark does") {
    val q = svc.query(contexts.head, topK = 10)
    val ex = svc.explore(exploreNodes.head, depth = 2).getOrElse(fail("explore returned None"))
    // ties, NaN, -0.0, 0.0 and nulls in the sort and grouping keys, and two
    // rows that differ only in the sign of a zero
    val odd = spark.createDataFrame(Seq(
      Row("x:nan", "a", 0.5, 0.1, Double.NaN), Row("x:nan2", "b", 0.5, 0.2, Double.NaN),
      Row("x:neg0", null, 0.5, 0.3, -0.0), Row("x:pos0", "c", 0.5, 0.4, 0.0),
      Row(null, "d", 0.25, 0.5, null), Row("x:z", "z", 0.75, 0.6, -0.0), Row("x:z", "z", 0.75, 0.6, 0.0),
      Row("x:nulls", null, 0.25, 0.7, null)).asJava, q.items.schema)
    val answers: Seq[(String, DataFrame, Seq[Column], Seq[String], Column)] = Seq(
      ("query items", q.items.union(odd), Seq(col("combined"), col("vec_score").desc), Seq("combined", "vec_score"),
        col("combined")),
      ("query rules", q.rules, Seq(col("relevance").desc), Seq("relevance"), col("category")),
      ("explore neighbors", ex.neighbors, Seq(col("name").desc_nulls_last), Seq("name"),
        substring_index(col("id"), ":", 1)),
      ("explore rules", ex.rules, Seq(col("category"), col("relevance")), Seq("category", "relevance"),
        col("relevance")))
    for ((name, answer, order, orderCols, group) <- answers) {
      val ref = answer.localCheckpoint()
      var n = 0L
      assert(jobsOf { n = answer.count() } == 0, s"$name: count")
      assert(n == ref.count() && n > 0, s"$name: count")

      var sorted: Seq[Row] = Nil
      assert(jobsOf { sorted = answer.orderBy(order: _*).collect().toSeq } == 0, s"$name: orderBy")
      assert(runs(sorted, orderCols) == runs(ref.orderBy(order: _*).collect().toSeq, orderCols), s"$name: orderBy")

      val unordered: Seq[(String, DataFrame => DataFrame)] = Seq(
        "groupBy" -> (_.withColumn("n", length(col("id"))).groupBy(group)
          .agg(count(lit(1)), min("id"), max("id"), sum("n"))),
        "distinct" -> (df => df.union(df).distinct()),
        "union" -> (df => df.union(df.filter(col("id").isNotNull))))
      for ((op, f) <- unordered) {
        var got: Seq[Row] = Nil
        assert(jobsOf { got = f(answer).collect().toSeq } == 0, s"$name: $op")
        assert(multiset(got) == multiset(f(ref).collect().toSeq), s"$name: $op")
      }
    }
  }

  test("explore caches no RDD: the persistent RDDs after 20 explores are those after 1") {
    val sc = spark.sparkContext
    def look(i: Int): Unit = exploreAnswer(svc, exploreNodes(i % exploreNodes.size), 1 + i % 3)
    look(0)
    val after1 = sc.getPersistentRDDs.keySet
    (1 until 20).foreach(look)
    assert((sc.getPersistentRDDs.keySet -- after1).isEmpty)
  }

  test("explore completes while a Spark job holds every core") {
    val serial = exploreAnswer(svc, exploreNodes.head, 2)
    // the driver index answers with no Spark job; the edges are a lazy
    // filter of the edges checkpoint, read once the cores are free
    val (ex, neighbors, rules) = BusyCores.during(spark)(Await.result(Future {
      val ex = svc.explore(exploreNodes.head, 2).getOrElse(fail("explore returned None"))
      (ex, ex.neighbors.collect().toSet, ex.rules.collect().toSeq)
    }, 60.seconds))
    assert((ex.edges.collect().map(_.toString).toSeq.sorted, neighbors, rules) == serial)
  }

  test("two threads × 10 explores on one service return the serial answers") {
    val asks = exploreNodes.flatMap(n => Seq(n -> 1, n -> 2))
    val serial = asks.map { case (n, d) => (n, d) -> exploreAnswer(svc, n, d) }.toMap
    val threads = (0 until 2).map(t => Future((0 until 10).map { i =>
      val (n, d) = asks((i + 3 * t) % asks.size)
      (n, d) -> exploreAnswer(svc, n, d)
    }))
    for (f <- threads; (ask, a) <- Await.result(f, 300.seconds))
      assert(a == serial(ask), s"explore $ask")
  }

  test("knowledgeStats matches the committed tables") {
    val row = svc.knowledgeStats().filter(col("domain") === "web").collect().head
    assert(row.getAs[Long]("concepts") == store.read("concepts").count())
    assert(row.getAs[Long]("edges") == store.read("edges").count())
    assert(row.getAs[Long]("rules") == store.read("rules").count())
  }

  test("project: universal artifact over the committed rules table") {
    val doc = svc.project("graft_web", projectedAt = "2026-01-01T00:00:00Z")
    val parsed = spark.read.json(Seq(doc).toDS)
    assert(parsed.select("persona").head.getString(0) == "graft_web")
    assert(parsed.select("metadata.rule_count").head.getLong(0) ==
      store.read("rules").count())
    val rs = parsed.select(explode(col("rules")).as("r")).select("r.*")
    // both derivations present, with template provenance only on derived
    val derivs = rs.select("provenance.derivation").distinct().as[String].collect().toSet
    assert(derivs == Set("explicit", "derived"))
    assert(rs.filter(col("provenance.derivation") === "derived")
      .filter(col("provenance.template_id").isNull).count() == 0)
  }

  test("GraftService.queryWithSession composes KG retrieval with session chunks") {
    val wh = java.nio.file.Files.createTempDirectory("graft-svc-session").toString
    val store = new SnapshotStore(wh)
    graft.pipeline.Ingest.run(
      graft.fixtures.PagesGen.pages(spark, 40), store,
      graft.pipeline.Ingest.Config(),
      knownPartitions = Some(graft.fixtures.PagesGen.dayStrings(4)))

    val svc = new graft.query.GraftService(store)
    svc.sessions.ingestMessage(
      "Earlier we decided the session timeout is thirty minutes.",
      "sess-9", nowMillis = 1L)
    val out = svc.queryWithSession(
      "platform access control tokens", "sess-9", topK = 5)
    assert(out.kg.items.count() >= 1)
    val sess = out.sessionItems.collect()
    assert(sess.nonEmpty && sess.forall(_.getString(0).startsWith("sess-9:")))
    assert(sess.exists(_.getString(2).contains("thirty minutes")))
  }
}
