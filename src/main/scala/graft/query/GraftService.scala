package graft.query

import graft.projectors.Projectors
import graft.store.SnapshotStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The in-process service facade over a committed warehouse — the
  * orchestration surface of the reference's QortexService (service.py):
  * query → {items, query_id, rules}, feedback (with optional causal credit
  * propagation), explore, knowledge stats, and rule projection, all
  * composed from the operators this library already ships. A reference
  * user's call pattern maps 1:1; only the transport (their MCP/REST
  * wrappers) is out of scope.
  *
  * The committed tables are read once per service instance and
  * plan-truncated (`localCheckpoint`) — the "query service checkpoints
  * its graph across queries" shape. A snapshot below the loop width (see
  * `index`) is also held on the driver: each query and each explore runs
  * there with no Spark job and caches no RDD. A larger snapshot plans
  * every query and explore against those checkpointed leaves. At every
  * snapshot size a `factors` table below the same size rule is held on
  * the driver too (see `factorsNow`): each feedback folds it there and the
  * store writes the new factors from the driver with no Spark job; a
  * larger table is rewritten as `Service.feedback` does.
  *
  * The answers the index gives are local frames. Each instance installs
  * `graft.core.LocalFold` on its session (once per session, whoever built
  * it), so a caller's `count`, `orderBy`, `groupBy`, `distinct` or `union`
  * of them is evaluated on the driver too and starts no Spark job.
  *
  * `rowLimit` is the size rule's bound, `Loops.RowsPerPartition` outside
  * tests.
  */
final class GraftService private[query] (store: SnapshotStore, rowLimit: Int)(
    implicit spark: SparkSession) {
  import GraftService.FactorsAt
  import spark.implicits._

  def this(store: SnapshotStore)(implicit spark: SparkSession) =
    this(store, graft.core.Loops.RowsPerPartition.toInt)

  graft.core.LocalFold.install(spark)

  private lazy val edges: DataFrame = store.read("edges").localCheckpoint()
  private lazy val rules: DataFrame = store.read("rules").localCheckpoint()

  /** The normalized PPR adjacency, prepared ONCE per service instance
    * (= per committed snapshot — the tables above are snapshot-pinned the
    * same way). Every query's retrieval reuses it; only that query's
    * ephemeral online edges pay new normalization work. Feedback updates
    * factors, never edges, so no invalidation is needed mid-instance.
    * Below `Loops.RowsPerPartition` adjacency rows this holds the graph as
    * driver arrays (a few MB at most), and each query's PPR runs on the
    * driver in milliseconds with no Spark job, so concurrent queries do
    * not queue for the cluster's cores; larger graphs keep checkpointed
    * DataFrames and the distributed loop.
    */
  private[query] lazy val pprGraph: graft.graph.Ppr.PreparedGraph =
    graft.graph.Ppr.prepare(edges)

  /** The snapshot's concepts, graph and rule postings on the driver,
    * built once per instance next to `pprGraph`. It exists exactly when
    * `pprGraph` is a driver graph and the concepts and the rules each have
    * fewer than `rowLimit` rows (the same size rule); then `query` and
    * `explore` answer from it with no Spark job (with the factors held,
    * see `factorsNow`); neither caches an RDD.
    * Larger snapshots keep `Retrieval.retrieveFull` and the DataFrame BFS
    * (`Bfs.patternCompletion`).
    * A duplicate concept id fails the build.
    */
  private[query] lazy val index: Option[SnapshotIndex] = pprGraph match {
    case g: graft.graph.Ppr.DriverGraph => SnapshotIndex.build(store.read("concepts"), rules, g, rowLimit)
    case _ => None
  }

  /** With the index holding the embeddings, the checkpoint keeps only the
    * columns explore, feedback credit and stats read, so the vectors are
    * held once.
    */
  private lazy val concepts: DataFrame = {
    val all = store.read("concepts")
    (if (index.isDefined) all.select("id", "name", "domain", "confidence") else all).localCheckpoint()
  }

  /** The latest committed factors, read per query without an `index`:
    * feedback commits them, and so may another service instance over the
    * same warehouse.
    */
  private def factors: DataFrame =
    if (store.exists("factors")) store.read("factors")
    else Seq.empty[(String, Double)].toDF("node_id", "factor")

  /** Published whole, so a reader sees one snapshot's id and rows. */
  @volatile private var factorsAt: Option[FactorsAt] = None

  /** Serialises the factors' re-reads and each feedback's
    * read-compute-commit-publish step, so no update is lost and no two
    * commits of this instance take one snapshot id.
    */
  private val factorsLock = new Object

  /** The factors of the latest committed snapshot, for every feedback and
    * for the queries of a service with an `index`. Each call reads the
    * table's snapshot pointer (two small file reads, no Spark job) and
    * re-collects the table only when its id is not the one held: after
    * another instance's feedback, a direct commit or a rollback, so a call
    * always sees the latest snapshot.
    */
  private def factorsNow(): FactorsAt = {
    def heldAt(snap: Option[SnapshotStore.Snapshot]) = factorsAt.filter(_.snapshot == snap.map(_.id))
    heldAt(store.latest("factors")).getOrElse(factorsLock.synchronized {
      // read again under the lock: a feedback may have published meanwhile
      val snap = store.latest("factors")
      heldAt(snap).getOrElse {
        val at = FactorsAt(snap.map(_.id), snap.fold(Option(SnapshotIndex.Factors.empty))(s =>
          SnapshotIndex.Factors.collect(store.read("factors", s.id), rowLimit)))
        factorsAt = Some(at)
        at
      }
    })
  }

  /** The factor update of one feedback, under `factorsLock`: held rows are
    * folded on the driver and committed as a local frame, which the store
    * writes from the driver as one file with no Spark job; a larger table
    * is rewritten as `Service.feedback` does, from `outcomes`. The new
    * snapshot is then published.
    */
  private def commitFactors(outcomes: => DataFrame, rows: Seq[Row]): DataFrame =
    factorsLock.synchronized {
      val at = factorsNow()
      at.held match {
        case Some(held) =>
          // one summed delta per node id, as updateFactors' groupBy
          val deltas = mutable.LinkedHashMap.empty[String, Double]
          for (r <- rows) {
            val id = r.getString(0)
            deltas(id) = deltas.getOrElse(id, 0.0) + Service.OutcomeDelta(r.getString(1))
          }
          val updated = held.updated(deltas)
          val frame = updated.toFrame
          val snap = store.commitReplace("factors", frame, Seq.empty)
          factorsAt = Some(FactorsAt(Some(snap.id), Some(updated).filter(_.rows.length < rowLimit)))
          frame
        case None =>
          val updated = Service.rewriteFactors(at.snapshot.fold(factors)(store.read("factors", _)),
            outcomes, Some((store, "factors")))
          // updateFactors' outer join keeps every row: still too large to hold
          factorsAt = Some(FactorsAt(store.latest("factors").map(_.id), None))
          updated
      }
    }

  // service counters (service.py:439, 482-485)
  private val queryCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val feedbackCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  def queryCount: Long = queryCounter.get()
  def feedbackCount: Long = feedbackCounter.get()

  final case class QueryResult(
      queryId: String,
      items: DataFrame, // (id, name, vec_score, ppr, combined)
      rules: DataFrame, // (id, text, category, relevance)
      kgCoverage: Double)

  /** service.py:413-459 — top_k clamped to [1, 1000], min_confidence to
    * [0, 1], optional domain filter (node ids are "{domain}:{name}"),
    * result bundles the ranked items and their linked rules. The query id
    * is deterministic (counter + content hash) instead of the reference's
    * uuid4 — reproducible runs beat opaque ids in a distributed setting.
    */
  def query(
      context: String,
      domains: Seq[String] = Seq.empty,
      topK: Int = 20,
      minConfidence: Double = 0.0
  ): QueryResult = {
    val k = math.max(1, math.min(topK, 1000))
    val minConf = math.max(0.0, math.min(minConfidence, 1.0))
    val out = index match {
      case Some(ix) =>
        val at = factorsNow()
        ix.retrieve(context, k, domains, minConf, at.held match {
          case Some(held) => _ => held.byId
          case None => SnapshotIndex.tableFactors(at.snapshot.map(store.read("factors", _)))
        })
      case None =>
        val cs0 =
          if (domains.isEmpty) concepts
          else concepts.filter(substring_index(col("id"), ":", 1).isin(domains: _*))
        val cs = if (minConf > 0.0) cs0.filter(col("confidence") >= minConf) else cs0
        Retrieval.retrieveFull(cs, edges, factors, context, k,
          rules = Some(rules), prepared = Some(pprGraph))
    }
    // the PPR graph spans all domains (cross-domain activation is the
    // HippoRAG point), so a domain restriction must ALSO filter the scored
    // items — hippocampus/retrieval.py:137-141 filters scores the same way
    val items =
      if (domains.isEmpty) out.results
      else out.results.filter(substring_index(col("id"), ":", 1).isin(domains: _*))
    val n = queryCounter.incrementAndGet()
    val qid = s"q$n-" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(context.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    // query.completed + kg_coverage — the reference emits both per query
    // (events.py QueryCompleted / KGCoverageComputed)
    graft.observe.Observe.emit("query.completed",
      "query_id" -> qid, "top_k" -> k,
      "domains" -> domains, "kg_coverage" -> out.kgCoverage)
    QueryResult(qid, items, out.rules, out.kgCoverage)
  }

  /** The service's "credit" learner (service.py:1654:
    * `_get_or_create_learner("credit")`): causal credit deltas from
    * feedback land in its per-concept posteriors. State restores from the
    * committed `learner_credit` table when present and re-persists after
    * every credit application (the reference's store.save()-per-observe).
    */
  lazy val creditLearner: graft.learning.Learner =
    graft.learning.Learner.create(
      graft.learning.LearnerConfig("credit"),
      existingState =
        if (store.exists("learner_credit")) Some(store.read("learner_credit")) else None)

  /** service.py:464-498 — validate outcomes, update + persist the
    * teleportation factors, optionally propagate causal credit through the
    * committed edge table (the _maybe_propagate_credit flag path) into
    * the credit learner's posteriors (learner.apply_credit_deltas,
    * service.py:1653-1655).
    *
    * The outcomes are validated and tallied as the map's rows, the factor
    * update is `commitFactors`, and the outcomes frame is built only when
    * credit propagation or a table too large to hold reads it: with the
    * factors held, the call runs no Spark job and `FeedbackResult.factors`
    * is a local frame of the new rows.
    */
  def feedback(
      queryId: String,
      outcomes: Map[String, String],
      propagateCredit: Boolean = false
  ): Either[String, Service.FeedbackResult] = {
    lazy val df = outcomes.toSeq.toDF("node_id", "outcome")
    val creditEdges = if (propagateCredit) Some(edges) else None
    val creditConcepts = if (propagateCredit) Some(concepts) else None
    val rows = outcomes.toSeq.map { case (id, o) => Row(id, o) }
    val res = Service.record(rows, df, queryId, creditEdges, creditConcepts)(commitFactors(df, _))
    res.foreach { r =>
      feedbackCounter.incrementAndGet()
      r.credit.foreach { c =>
        creditLearner.applyCreditDeltas(c.posteriorDeltas)
        creditLearner.persistTo(store, "learner_credit")
      }
    }
    res
  }

  final case class ExploreResult(
      edges: DataFrame, // reachable edge subset
      neighbors: DataFrame, // (id, name) of reached concepts
      rules: DataFrame) // rules linked to any reached concept

  /** service.py:827-914 — BFS neighborhood to depth d (clamped to [1, 3])
    * from one concept, returning the edge rows with an endpoint within
    * d − 1 hops, the concepts within d hops (the node included) and the
    * rules listing any id within d hops. None if the node is not a concept.
    *
    * With the `index`, the BFS runs on the driver over the held graph:
    * neighbours and rules come back as local rows, and the edges are the
    * lazy `Bfs.edgesTouching` of the committed edges checkpoint on the
    * inner ids, so the call runs no Spark job and caches no RDD. Larger snapshots run
    * one `Bfs.patternCompletion` to depth d as DataFrame joins: the ids it
    * reaches give the neighbours and rules, and those within d − 1 hops
    * the edges, as `Bfs.exploreEdges` selects them.
    */
  def explore(nodeId: String, depth: Int = 1): Option[ExploreResult] = {
    val d = math.max(1, math.min(depth, 3))
    index match {
      case Some(ix) =>
        ix.explore(nodeId, d).map { n =>
          ExploreResult(graft.graph.Bfs.edgesTouching(edges, n.inner.toSeq.toDF("id")), n.neighbors, n.rules)
        }
      case None =>
        if (concepts.filter(col("id") === nodeId).isEmpty) None
        else {
          // V≤d scored 0.5^hops, exactly: V<d is the rows above 0.5^d
          val reached = graft.graph.Bfs.patternCompletion(edges, Seq(nodeId).toDF("id"), maxDepth = d)
          val inner = reached.filter(col("score") > math.pow(0.5, d))
          val neighbors = reached.select("id").join(concepts.select(col("id"), col("name")), Seq("id"))
          val linked = graft.rules.Rules.rulesForConcepts(rules, reached.withColumn("score", lit(1.0)))
          Some(ExploreResult(graft.graph.Bfs.edgesTouching(edges, inner), neighbors, linked))
        }
    }
  }

  /** Session-scoped online retrieval (service.py:724-785 + the gateway
    * composition over it): conversation messages index into an ephemeral
    * per-session vector domain alongside the committed KG.
    */
  lazy val sessions: SessionIndex = new SessionIndex(store)

  final case class SessionQueryResult(
      kg: QueryResult,
      sessionItems: DataFrame) // (id, role, text, score)

  /** One conversational query: the committed-KG retrieval PLUS the
    * session's own top chunks (what was said earlier in this session),
    * each ranked in its own space — the gateway merges them the same way
    * because session chunks have no KG edges to activate.
    */
  def queryWithSession(context: String, sessionId: String, topK: Int = 20,
      sessionTopK: Int = 5, nowMillis: Long = 0L): SessionQueryResult =
    SessionQueryResult(
      query(context, topK = topK),
      sessions.search(sessionId, context, sessionTopK, nowMillis))

  /** A7 per-domain knowledge stats over the committed tables. */
  def knowledgeStats(): DataFrame = Service.knowledgeStats(concepts, edges, rules)

  /** §3.3 projection over the committed rules table: split back into the
    * explicit/derived halves (derived rows carry a template_id), run the
    * projection pipeline, emit the universal ruleset artifact.
    */
  def project(
      persona: String,
      filter: Projectors.ProjectionFilter = Projectors.ProjectionFilter(),
      enrich: Boolean = true,
      projectedAt: String = "1970-01-01T00:00:00Z"
  ): String = {
    val explicitHalf = rules.filter(col("template_id") === "")
      .select("id", "text", "domain", "source_id", "concept_ids", "category", "confidence")
    val derivedHalf = rules.filter(col("template_id") =!= "")
      .select("id", "text", "domain", "concept_ids", "category", "confidence",
        "template_id", "severity")
    val src = Projectors.ruleSource(explicitHalf, derivedHalf, filter)
    val enriched = if (enrich) Projectors.enrichTemplate(src) else src
    Projectors.serializeRuleset(enriched, persona, projectedAt = projectedAt)
  }

  /** Write a projection artifact next to the warehouse (atomic). */
  def projectToFile(path: String, persona: String, projectedAt: String): Unit =
    Projectors.writeArtifact(path, project(persona, projectedAt = projectedAt))
}

object GraftService {

  /** One committed `factors` snapshot as a service last read it: its id
    * (None when there is no table) and its rows on the driver (None when
    * it has the service's `rowLimit` rows or more).
    */
  private final case class FactorsAt(snapshot: Option[Long], held: Option[SnapshotIndex.Factors])
}
