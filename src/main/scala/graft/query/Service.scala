package graft.query

import graft.store.SnapshotStore
import graft.streaming.EdgePromotion
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Service-level query surfaces: glob name filtering (F5), the
  * knowledge-stats breakdown (A7), and the feedback orchestration closing
  * the A-loop (service.py:461-498 → adapter.py:594-615 →
  * factors.py:102-143).
  */
object Service {

  /** service.py:461 — the only outcome values feedback accepts. */
  val AllowedOutcomes: Set[String] = Set("accepted", "rejected", "partial")

  /** Hard cap on the [[feedback]] and [[propagateCredit]] outcomes
    * collects. Outcomes are per-query-sized (one row per judged result
    * item), so anything near this bound is a caller bug — fail loudly
    * rather than OOM the driver.
    */
  val MaxOutcomesCollect = 100000

  /** limit(n+1) probe + loud failure — the enforced form of the
    * "per-query-sized" contract (same discipline as
    * [[graft.causal.Causal.collectEdgesBounded]], but outcomes must not
    * be truncated: dropping rows would silently mis-credit, so over-cap
    * throws instead).
    */
  private def collectOutcomesBounded(
      df: DataFrame, max: Int = MaxOutcomesCollect): Seq[org.apache.spark.sql.Row] = {
    val probe = df.limit(max + 1).collect()
    require(probe.length <= max,
      s"feedback outcomes frame exceeds the driver cap ($max rows) — " +
        "outcomes are per-query result items; for stream-scale credit use " +
        "CreditAssigner.creditStream")
    probe.toSeq
  }

  /** service.py:462 — reward mapping used for credit propagation. Note
    * rejected → −1.0 produces NEGATIVE credit, which lands in the beta
    * (failure) side of Thompson posterior deltas via
    * CreditAssigner.toPosteriorUpdates — it is not fed to
    * Thompson.posteriors as a raw reward (which expects [0, 1] Bernoulli
    * rewards; betaSample still guards sub-1 shapes defensively).
    */
  val OutcomeReward: Map[String, Double] =
    Map("accepted" -> 1.0, "rejected" -> -1.0, "partial" -> 0.3)

  /** `EdgePromotion.updateFactors`' teleportation-factor delta per outcome
    * (factors.py:36-45).
    */
  val OutcomeDelta: Map[String, Double] =
    Map("accepted" -> 0.1, "rejected" -> -0.05, "partial" -> 0.03)

  final case class CreditSummary(
      conceptCount: Int,
      directCount: Int,
      ancestorCount: Int,
      posteriorDeltas: Map[String, (Double, Double)]) // concept → (α, β)

  final case class FeedbackResult(
      status: String, // "recorded"
      queryId: String,
      outcomeCount: Long,
      accepted: Long,
      rejected: Long,
      partial: Long,
      factors: DataFrame, // the updated teleportation-factor table
      credit: Option[CreditSummary] = None)

  /** One-call feedback orchestration, mirroring the reference's flow:
    * validate every outcome (an invalid one rejects the whole batch with
    * the reference's error text, service.py:470-475; the outcomes are
    * collected once, capped at [[MaxOutcomesCollect]] rows), apply the
    * teleportation-factor deltas (A4, clamped), optionally commit the
    * updated factors as a snapshot (persist_on_update,
    * interoception.py:284-293 / St4), and return the outcome tallies the
    * service tracks (service.py:482-485).
    *
    * `outcomes`: (node_id, outcome) — one row per judged result item.
    */
  def feedback(
      factors: DataFrame, // (node_id, factor)
      outcomes: DataFrame, // (node_id, outcome)
      queryId: String,
      persistTo: Option[(SnapshotStore, String)] = None,
      /** KG edges (source_id, target_id, relation_type, confidence); when
        * given, feedback also propagates causal credit through per-domain
        * DAG ancestry into Thompson posterior deltas
        * (service._maybe_propagate_credit, service.py:1608-1681).
        */
      creditEdges: Option[DataFrame] = None,
      /** Concepts table (id, domain, ...); when given alongside
        * `creditEdges`, credit propagation mirrors the reference's
        * get_node pass (service.py:1628-1631): outcome ids missing from
        * the KG are excluded from credit AND the domain average, the
        * domain comes from the node row, and each domain's DAG is seeded
        * with ALL of the domain's concept ids (dag.py:105-113) so an
        * edge-less concept still receives direct credit.
        */
      creditConcepts: Option[DataFrame] = None
  ): Either[String, FeedbackResult] =
    record(collectOutcomesBounded(outcomes.select(col("node_id"), col("outcome"))), outcomes, queryId,
      creditEdges, creditConcepts)(_ => rewriteFactors(factors, outcomes, persistTo))

  /** `EdgePromotion.updateFactors`, checkpointed and, with `persistTo`,
    * committed as the table's new snapshot.
    */
  private[query] def rewriteFactors(
      factors: DataFrame,
      outcomes: DataFrame,
      persistTo: Option[(SnapshotStore, String)]): DataFrame = {
    val updated = EdgePromotion.updateFactors(factors, outcomes).localCheckpoint()
    persistTo.foreach { case (store, table) =>
      store.commitReplace(table, updated, Seq.empty)
    }
    updated
  }

  /** [[feedback]] over the (node_id, outcome) `rows`, with the factor
    * update given as `update`: it receives the validated rows, commits the
    * updated factors wherever they are kept and returns them. `outcomes`
    * is the same rows as a frame, built only for credit propagation.
    * Validation, tallies, credit and the events are the same for every
    * caller; the first invalid row in `rows` order is the one named.
    */
  private[query] def record(
      rows: Seq[org.apache.spark.sql.Row],
      outcomes: => DataFrame,
      queryId: String,
      creditEdges: Option[DataFrame],
      creditConcepts: Option[DataFrame]
  )(update: Seq[org.apache.spark.sql.Row] => DataFrame): Either[String, FeedbackResult] = {
    val invalid = rows.find(r => r.isNullAt(1) || !AllowedOutcomes.contains(r.getString(1)))
    if (invalid.nonEmpty) {
      val r = invalid.get
      val bad = if (r.isNullAt(1)) "null" else r.getString(1)
      Left(s"Invalid outcome '$bad' for item '${r.getString(0)}'. " +
        s"Must be one of: ${AllowedOutcomes.toSeq.sorted.mkString(", ")}")
    } else {
      val updated = update(rows)
      val tallies = rows.groupBy(_.getString(1)).map { case (o, rs) => o -> rs.size.toLong }
      val credit = creditEdges.flatMap(e => propagateCredit(e, outcomes, creditConcepts))
      graft.observe.Observe.emit("feedback.received",
        "query_id" -> queryId,
        "outcome_count" -> tallies.values.sum,
        "accepted" -> tallies.getOrElse("accepted", 0L),
        "rejected" -> tallies.getOrElse("rejected", 0L),
        "partial" -> tallies.getOrElse("partial", 0L))
      credit.foreach { c =>
        graft.observe.Observe.emit("credit.propagated",
          "query_id" -> queryId,
          "concept_count" -> c.conceptCount,
          "direct_count" -> c.directCount,
          "ancestor_count" -> c.ancestorCount,
          "total_alpha_delta" -> c.posteriorDeltas.values.map(_._1).sum,
          "total_beta_delta" -> c.posteriorDeltas.values.map(_._2).sum)
      }
      Right(FeedbackResult("recorded", queryId, tallies.values.sum,
        tallies.getOrElse("accepted", 0L), tallies.getOrElse("rejected", 0L),
        tallies.getOrElse("partial", 0L), updated, credit))
    }
  }

  /** Causal credit propagation (service.py:1608-1681): group outcome nodes
    * by the "{domain}:{name}" id prefix, build each domain's causal DAG
    * from the (distributed-oriented) edge table, assign credit at the
    * domain's AVERAGE reward, and fold the assignments into Thompson
    * posterior deltas. The outcomes batch is per-query-sized — driver-side
    * like the reference; the stream-scale path is
    * CreditAssigner.creditStream.
    */
  def propagateCredit(
      edges: DataFrame,
      outcomes: DataFrame, // (node_id, outcome)
      /** (id, domain, ...) — see [[feedback]]'s `creditConcepts`. */
      concepts: Option[DataFrame] = None,
      /** Driver-collect bound on the outcomes frame — enforced, not
        * advisory (over-cap throws; see [[collectOutcomesBounded]]).
        */
      maxOutcomes: Int = MaxOutcomesCollect
  ): Option[CreditSummary] = {
    implicit val spark: org.apache.spark.sql.SparkSession = edges.sparkSession
    // (id, outcome, domain): with a concepts table, unknown ids are
    // dropped HERE — before the domain grouping — so they count toward
    // neither credit nor the domain's average reward (the reference's
    // backend.get_node check, service.py:1628-1631)
    val rows: Seq[(String, String, String)] = concepts match {
      case Some(c) =>
        collectOutcomesBounded(outcomes
          .join(c.select(col("id").as("node_id"), col("domain")), Seq("node_id"))
          .select(col("node_id"), col("outcome"), col("domain")), maxOutcomes)
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      case None =>
        collectOutcomesBounded(
          outcomes.select(col("node_id"), col("outcome")), maxOutcomes)
          .collect { case r if r.getString(0).contains(":") =>
            val id = r.getString(0)
            (id, r.getString(1), id.substring(0, id.indexOf(':')))
          }
    }
    val byDomain = rows.groupBy(_._3)
    if (byDomain.isEmpty) return None

    // ONE oriented-edge scan for all touched domains (not one job per
    // domain), grouped driver-side; each DAG is the bounded per-domain
    // subgraph the reference also materializes in-process. The collect is
    // CAPPED (Causal.MaxDriverGraph, mirroring dag.py:96) — a hot domain
    // truncates loudly instead of OOMing the driver.
    val domains = byDomain.keySet.toSeq.sorted
    val oriented = graft.causal.Causal.collectEdgesBounded(
      graft.causal.Causal.causalEdges(edges.filter(
          substring_index(col("source_id"), ":", 1).isin(domains: _*) &&
            substring_index(col("source_id"), ":", 1) ===
              substring_index(col("target_id"), ":", 1)))
        .select("src", "dst", "relation_type", "strength"))
    val edgesByDomain = oriented.groupBy(e => e._1.substring(0, e._1.indexOf(':')))

    // from_backend's find_nodes pass (dag.py:105-113): seed each domain's
    // DAG with ALL its concept ids, capped like the reference's
    // find_nodes(limit=100_000), so edge-less concepts get direct credit
    val nodesByDomain: Map[String, Seq[String]] = concepts match {
      case Some(c) =>
        graft.causal.Causal.collectIdsBounded(
            c.filter(col("domain").isin(domains: _*)).select(col("id")))
          .filter(_.contains(":"))
          .groupBy(id => id.substring(0, id.indexOf(':')))
      case None => Map.empty
    }

    val all = scala.collection.mutable.ArrayBuffer
      .empty[graft.causal.CreditAssigner.CreditAssignment]
    for ((domain, members) <- byDomain.toSeq.sortBy(_._1)) {
      val dag = graft.causal.CausalDag.fromEdges(
        edgesByDomain.getOrElse(domain, Seq.empty),
        nodesByDomain.getOrElse(domain, Seq.empty))
      val rewards = members.map { case (_, o, _) => OutcomeReward.getOrElse(o, 0.0) }
      val avgReward = rewards.sum / rewards.length
      val assigner = new graft.causal.CreditAssigner(dag)
      all ++= assigner.assignCredit(members.map(_._1), avgReward)
    }
    if (all.isEmpty) None
    else {
      val deltas = graft.causal.CreditAssigner.toPosteriorUpdates(all.toSeq)
      Some(CreditSummary(
        deltas.size,
        all.count(_.method == "direct"),
        all.count(_.method == "ancestor"),
        deltas))
    }
  }

  /** F5 — glob → regex name filter (core/backend.py:561-565: '*' → '.*',
    * '?' → '.', case-insensitive, full match like Cypher's =~). All other
    * characters are regex-escaped so a literal '(' in a concept name cannot
    * break the pattern.
    */
  def globToRegex(glob: String): String =
    "(?i)" + glob.map {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+^$|".contains(c) => "\\" + c
      case c => c.toString
    }.mkString

  /** Filter rows whose `nameCol` matches the glob. The predicate is a plain
    * rlike — codegen'd, pushed as far as Catalyst allows.
    */
  def filterByNameGlob(df: DataFrame, pattern: String, nameCol: String = "name"): DataFrame =
    df.filter(col(nameCol).rlike("^" + globToRegex(pattern) + "$"))

  private def domainOf(idCol: Column): Column = substring_index(idCol, ":", 1)

  /** A7 — service knowledge stats (service.py:1040-1056): per-domain
    * concept/edge/rule counts. Edge/rule domains derive from the
    * "{domain}:{Name}" id scheme. Three cheap aggregations + two joins —
    * every count is map-side combinable.
    */
  def knowledgeStats(concepts: DataFrame, edges: DataFrame, rules: DataFrame): DataFrame = {
    val c = concepts.groupBy(col("domain")).agg(count(lit(1)).as("concepts"))
    val e = edges.groupBy(domainOf(col("source_id")).as("domain"))
      .agg(count(lit(1)).as("edges"))
    val r = rules.groupBy(col("domain")).agg(count(lit(1)).as("rules"))
    c.join(e, Seq("domain"), "full_outer")
      .join(r, Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("concepts"), lit(0L)).as("concepts"),
        coalesce(col("edges"), lit(0L)).as("edges"),
        coalesce(col("rules"), lit(0L)).as("rules"))
  }
}
