package graft.learning

import graft.learning.Thompson.{Arm, ArmState, SelectionResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reward models (qortex-learning reward.py): outcome string → reward in
  * [0, 1]. TernaryReward is the Learner default.
  */
object Reward {
  trait Model extends Serializable { def compute(outcome: String): Double }

  /** accepted → 1.0, everything else → 0.0 (reward.py:21-25). */
  object Binary extends Model {
    def compute(outcome: String): Double = if (outcome == "accepted") 1.0 else 0.0
  }

  /** accepted → 1.0, partial → 0.5, rejected → 0.0, unknown → 0.0
    * (reward.py:28-34).
    */
  object Ternary extends Model {
    val rewards: Map[String, Double] =
      Map("accepted" -> 1.0, "partial" -> 0.5, "rejected" -> 0.0)
    def compute(outcome: String): Double = rewards.getOrElse(outcome, 0.0)
  }

  /** A reward model as a Column, for distributed observation streams —
    * both built-ins are pure CASE expressions (codegen'd); a custom model
    * falls back to a driver-opaque mapping only if someone adds one.
    */
  def column(model: Model, outcome: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    model match {
      case Binary => when(outcome === "accepted", 1.0).otherwise(0.0)
      case Ternary =>
        when(outcome === "accepted", 1.0)
          .when(outcome === "partial", 0.5)
          .otherwise(0.0)
      case m =>
        val f = udf((s: String) => m.compute(if (s == null) "" else s))
        f(outcome)
    }
}

/** LearnerConfig (types.py:96-106). */
final case class LearnerConfig(
    name: String,
    baselineRate: Double = 0.1,
    seedBoost: Double = 2.0,
    seedArms: Seq[String] = Seq.empty,
    maxArms: Int = 1000,
    minPulls: Long = 0L)

/** ArmOutcome (types.py:63-71). A zero reward with a non-empty outcome
  * string defers to the reward model — the reference's
  * `if outcome.outcome and not outcome.reward` check (learner.py:137).
  */
final case class ArmOutcome(
    armId: String,
    reward: Double = 0.0,
    outcome: String = "",
    context: Map[String, String] = Map.empty)

/** The Learner composition layer over Thompson sampling
  * (qortex-learning learner.py): strategy + reward model + per-context
  * arm state, with idempotent seed-arm boosts, decay, credit deltas,
  * metrics, and session traces.
  *
  * Spark-first state model: the reference's SqliteLearningStore rows
  * become ONE keyed DataFrame
  * (context_hash, arm_id, alpha, beta, pulls, total_reward) — at web
  * scale the observation stream is billions of feedback events, so
  * [[Learner.posteriorState]] and [[batchObserve]] are single
  * map-side-combining aggregations; only SELECTION (O(candidate-set))
  * touches the driver, exactly like the reference's per-query loop.
  * State persists as a SnapshotStore table ([[persistTo]]), the same
  * "committed small keyed table" pattern as teleportation factors (St4).
  */
final class Learner private (
    val config: LearnerConfig,
    initialState: DataFrame,
    rewardModel: Reward.Model)(implicit spark: SparkSession) {
  import Learner._

  /** (context_hash, arm_id, alpha, beta, pulls, total_reward) —
    * functionally replaced on every mutation, checkpointed so each
    * reader plans against a leaf.
    */
  private var stateDf: DataFrame = normalize(initialState).localCheckpoint()

  private val sessionCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val sessions =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[String])]

  def state: DataFrame = stateDf

  private def replace(next: DataFrame): Unit = {
    val prev = stateDf
    stateDf = normalize(next).localCheckpoint()
    prev.unpersist()
  }

  /** Driver-side states for a candidate set + context — the per-query
    * lookup backing select(); bounded by the candidate list, one
    * broadcast-join scan.
    */
  def statesFor(candidates: Seq[Arm], context: Map[String, String] = Map.empty)
      : Map[String, ArmState] = {
    import spark.implicits._
    val ids = candidates.map(_.id).toDF("arm_id")
    stateDf
      .filter(col("context_hash") === contextHash(context))
      .join(broadcast(ids), Seq("arm_id"), "left_semi")
      .collect()
      .map(r => r.getAs[String]("arm_id") -> ArmState(
        r.getAs[Double]("alpha"), r.getAs[Double]("beta"),
        r.getAs[Long]("pulls"), r.getAs[Double]("total_reward")))
      .toMap
  }

  /** learner.py:97-127 — select k arms via the configured strategy.
    * Deterministic through the caller-supplied seed (the reference uses
    * module-level random).
    */
  def select(
      candidates: Seq[Arm],
      context: Map[String, String] = Map.empty,
      k: Int = 1,
      seed: Long = 0L,
      tokenBudget: Long = 0L): SelectionResult = {
    val result = Thompson.select(candidates, statesFor(candidates, context), k, seed,
      minPulls = config.minPulls, baselineRate = config.baselineRate,
      tokenBudget = tokenBudget)
    graft.observe.Observe.emit("learning.selection_made",
      "learner" -> config.name,
      "selected_count" -> result.selected.size,
      "excluded_count" -> result.excluded.size,
      "is_baseline" -> result.isBaseline,
      "token_budget" -> result.tokenBudget,
      "used_tokens" -> result.usedTokens)
    result
  }

  /** learner.py:129-176 — record one observation. Returns the arm's new
    * state. Outcome strings map through the reward model when the raw
    * reward is 0 (the reference's falsy check).
    */
  def observe(outcome: ArmOutcome, context: Map[String, String] = Map.empty)
      : ArmState = {
    import spark.implicits._
    val ctx = if (context.nonEmpty) context else outcome.context
    val reward =
      if (outcome.outcome.nonEmpty && outcome.reward == 0.0)
        rewardModel.compute(outcome.outcome)
      else outcome.reward
    val obs = Seq((contextHash(ctx), outcome.armId, reward))
      .toDF("context_hash", "arm_id", "reward")
    replace(mergeObservations(stateDf, obs))
    val state = statesFor(Seq(Arm(outcome.armId)), ctx).getOrElse(outcome.armId, ArmState())
    graft.observe.Observe.emit("learning.observation_recorded",
      "learner" -> config.name, "arm_id" -> outcome.armId,
      "reward" -> reward, "outcome" -> outcome.outcome,
      "context_hash" -> contextHash(ctx))
    graft.observe.Observe.emit("learning.posterior_updated",
      "learner" -> config.name, "arm_id" -> outcome.armId,
      "alpha" -> state.alpha, "beta" -> state.beta,
      "pulls" -> state.pulls, "mean" -> state.mean)
    state
  }

  /** The distributed observation path: a whole (context_hash, arm_id,
    * reward) — or (…, outcome) — frame folded into the state with ONE
    * aggregation + merge join. This is what replaces the reference's
    * per-outcome observe() loop (learner.py:218-232) at stream scale.
    */
  def batchObserve(observations: DataFrame): Unit = {
    val obs =
      if (observations.columns.contains("reward")) observations
      else observations.withColumn("reward", Reward.column(rewardModel, col("outcome")))
    replace(mergeObservations(stateDf,
      obs.select(col("context_hash"), col("arm_id"), col("reward"))))
  }

  /** learner.py:178-216 — apply causal credit deltas (CreditAssigner
    * output) directly to posteriors, floored at 0.01; counts one pull.
    */
  def applyCreditDeltas(
      deltas: Map[String, (Double, Double)],
      context: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    if (deltas.isEmpty) return
    val d = deltas.toSeq.map { case (id, (a, b)) => (contextHash(context), id, a, b) }
      .toDF("context_hash", "arm_id", "alpha_delta", "beta_delta")
    val next = stateDf.join(broadcast(d), Seq("context_hash", "arm_id"), "full_outer")
      .select(col("context_hash"), col("arm_id"),
        greatest(coalesce(col("alpha"), lit(1.0)) + coalesce(col("alpha_delta"), lit(0.0)),
          lit(0.01)).as("alpha"),
        greatest(coalesce(col("beta"), lit(1.0)) + coalesce(col("beta_delta"), lit(0.0)),
          lit(0.01)).as("beta"),
        (coalesce(col("pulls"), lit(0L)) +
          when(col("alpha_delta").isNotNull, 1L).otherwise(0L)).as("pulls"),
        (coalesce(col("total_reward"), lit(0.0)) +
          coalesce(col("alpha_delta"), lit(0.0))).as("total_reward"))
    replace(next)
    // per-arm posterior events, like learner.py:178-216 (deltas are
    // per-query-bounded, so this stays control-plane volume)
    if (graft.observe.Observe.isConfigured) {
      val updated = statesFor(deltas.keys.toSeq.sorted.map(Arm(_)), context)
      for ((armId, s) <- updated.toSeq.sortBy(_._1))
        graft.observe.Observe.emit("learning.posterior_updated",
          "learner" -> config.name, "arm_id" -> armId,
          "alpha" -> s.alpha, "beta" -> s.beta,
          "pulls" -> s.pulls, "mean" -> s.mean)
    }
  }

  /** learner.py:259-283 — shrink an arm's learned signal toward the
    * prior: alpha/beta × decay (floored 0.01), preserving the mean.
    */
  def decayArm(
      armId: String,
      decayFactor: Double = 0.9,
      context: Map[String, String] = Map.empty): ArmState = {
    // store.get → decay → put: an absent arm decays the DEFAULT prior and
    // is stored, exactly like the reference (learner.py:271-283)
    val cur = statesFor(Seq(Arm(armId)), context).getOrElse(armId, ArmState())
    val next = ArmState(
      math.max(cur.alpha * decayFactor, 0.01),
      math.max(cur.beta * decayFactor, 0.01),
      cur.pulls, cur.totalReward * decayFactor)
    putState(context, armId, next)
    next
  }

  /** Replace one (context, arm) row — the store.put analog. */
  private def putState(
      context: Map[String, String], armId: String, s: ArmState): Unit = {
    import spark.implicits._
    val ch = contextHash(context)
    val row = Seq((ch, armId, s.alpha, s.beta, s.pulls, s.totalReward))
      .toDF("context_hash", "arm_id", "alpha", "beta", "pulls", "total_reward")
    replace(stateDf
      .filter(!(col("context_hash") === ch && col("arm_id") === armId))
      .unionByName(row))
  }

  /** learner.py:200-216 — delete arm states; returns rows removed. */
  def reset(
      armIds: Option[Seq[String]] = None,
      context: Option[Map[String, String]] = None): Long = {
    val pred = Seq(
      armIds.map(ids => col("arm_id").isin(ids: _*)),
      context.map(c => col("context_hash") === contextHash(c)))
      .flatten.reduceOption(_ && _).getOrElse(lit(true))
    val removed = stateDf.filter(pred).count()
    replace(stateDf.filter(!pred))
    removed
  }

  /** learner.py:306-330 — learning metrics across ALL contexts: one
    * aggregation row, no per-arm driver loop.
    */
  def metrics(): Map[String, Any] = {
    val r = stateDf.agg(
      coalesce(sum(col("pulls")), lit(0L)).as("total_pulls"),
      coalesce(sum(col("total_reward")), lit(0.0)).as("total_reward"),
      count(lit(1)).as("arm_count")).collect()(0)
    val pulls = r.getLong(0)
    val reward = r.getDouble(1)
    Map(
      "learner" -> config.name,
      "total_pulls" -> pulls,
      "total_reward" -> reward,
      "accuracy" -> math.round(reward / math.max(pulls, 1L) * 1e4) / 1e4,
      "arm_count" -> r.getLong(2),
      "explore_ratio" -> config.baselineRate)
  }

  /** learner.py:332-341 — start a named session trace. Deterministic ids
    * (counter + name) instead of uuid4, like GraftService's query ids.
    */
  def sessionStart(sessionName: String): String = {
    val id = s"s${sessionCounter.incrementAndGet()}-${config.name}-$sessionName"
    sessions.put(id, (sessionName, Seq.empty))
    id
  }

  /** learner.py:343-359 — end a session, returning its trace summary. */
  def sessionEnd(sessionId: String): Either[String, Map[String, Any]] =
    sessions.remove(sessionId) match {
      case None => Left(s"Session $sessionId not found")
      case Some((name, arms)) => Right(Map(
        "session_id" -> sessionId, "learner" -> config.name,
        "session_name" -> name, "selected_arms" -> arms))
    }

  /** St4-style persistence: commit the state as a snapshot table. */
  def persistTo(store: graft.store.SnapshotStore, table: String): Unit =
    store.commitReplace(table, stateDf, Seq.empty)
}

object Learner {

  /** context_hash (types.py:104-110): sha256 of the canonical JSON
    * (sorted keys, compact separators) — byte-compatible with Python's
    * json.dumps for flat string maps; "default" for the empty context.
    */
  def contextHash(context: Map[String, String]): String = {
    if (context.isEmpty) return "default"
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val canonical = context.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  private val StateCols =
    Seq("context_hash", "arm_id", "alpha", "beta", "pulls", "total_reward")

  private def normalize(df: DataFrame): DataFrame =
    df.select(StateCols.map(col): _*)

  /** Seed rows for the DEFAULT context (the reference's
    * _apply_seed_boosts goes through store.get(arm_id) with no context,
    * learner.py:78-95): Beta(seed_boost, 1), zero pulls.
    */
  private def seedRows(config: LearnerConfig)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    config.seedArms.map(a => ("default", a, config.seedBoost, 1.0, 0L, 0.0))
      .toDF(StateCols: _*)
  }

  /** Idempotent seed boost over an existing state: only arms with
    * pulls == 0 (or absent) take the boosted prior (learner.py:85-93).
    */
  private def applySeedBoosts(state: DataFrame, config: LearnerConfig)(
      implicit spark: SparkSession): DataFrame = {
    if (config.seedArms.isEmpty) return state
    val boosted = state
      .join(broadcast(seedRows(config).select(col("context_hash"), col("arm_id"))
        .withColumn("__seed", lit(true))), Seq("context_hash", "arm_id"), "full_outer")
      .select(col("context_hash"), col("arm_id"),
        when(col("__seed") && (col("pulls").isNull || col("pulls") === 0L),
          config.seedBoost).otherwise(coalesce(col("alpha"), lit(1.0))).as("alpha"),
        coalesce(col("beta"), lit(1.0)).as("beta"),
        coalesce(col("pulls"), lit(0L)).as("pulls"),
        coalesce(col("total_reward"), lit(0.0)).as("total_reward"))
    boosted
  }

  /** Fold an observation batch into a state frame: one aggregation +
    * one full-outer merge (strategy.py:148-168 per-row update, batched).
    */
  private def mergeObservations(state: DataFrame, obs: DataFrame): DataFrame = {
    val agg = obs.groupBy(col("context_hash"), col("arm_id"))
      .agg(sum(col("reward")).as("__r"), count(lit(1)).as("__n"))
    state.join(agg, Seq("context_hash", "arm_id"), "full_outer")
      .select(col("context_hash"), col("arm_id"),
        (coalesce(col("alpha"), lit(1.0)) + coalesce(col("__r"), lit(0.0))).as("alpha"),
        (coalesce(col("beta"), lit(1.0)) +
          (coalesce(col("__n"), lit(0L)).cast("double") - coalesce(col("__r"), lit(0.0))))
          .as("beta"),
        (coalesce(col("pulls"), lit(0L)) + coalesce(col("__n"), lit(0L))).as("pulls"),
        (coalesce(col("total_reward"), lit(0.0)) + coalesce(col("__r"), lit(0.0)))
          .as("total_reward"))
  }

  /** Learner.create (learner.py:64-77): construct with seed boosts
    * applied, optionally over an existing committed state table.
    */
  def create(
      config: LearnerConfig,
      existingState: Option[DataFrame] = None,
      rewardModel: Reward.Model = Reward.Ternary
  )(implicit spark: SparkSession): Learner = {
    import spark.implicits._
    val base = existingState.getOrElse(
      Seq.empty[(String, String, Double, Double, Long, Double)].toDF(StateCols: _*))
    new Learner(config, applySeedBoosts(normalize(base), config), rewardModel)
  }

  /** The fully-distributed state derivation: seed boosts + a whole
    * observations table in ONE pass —
    * (context_hash, arm_id, outcome | reward) →
    * (context_hash, arm_id, alpha, beta, pulls, total_reward,
    * posterior_mean). Equivalent to create() + batchObserve(obs) because
    * seed boosts precede observations (pulls == 0 at boost time). Plain
    * SQL — the q47 oracle re-derives it in DuckDB.
    */
  def posteriorState(
      observations: DataFrame,
      config: LearnerConfig,
      rewardModel: Reward.Model = Reward.Ternary
  )(implicit spark: SparkSession): DataFrame = {
    val obs =
      if (observations.columns.contains("reward")) observations
      else observations.withColumn("reward", Reward.column(rewardModel, col("outcome")))
    mergeObservations(
      applySeedBoosts(seedRows(config).limit(0), config),
      obs.select(col("context_hash"), col("arm_id"), col("reward")))
      .withColumn("posterior_mean", col("alpha") / (col("alpha") + col("beta")))
  }
}
