package graft

import graft.learning.{ArmOutcome, Learner, LearnerConfig, Reward, Thompson}
import graft.learning.Thompson.Arm
import org.apache.spark.sql.functions._

/** The Learner composition layer (qortex-learning learner.py): seed-boost
  * idempotence, reward-model fallback, context isolation, decay, credit
  * deltas, reset, metrics, and the distributed posteriorState derivation.
  */
class LearnerSuite extends SparkFunSuite {
  import spark.implicits._

  private def cfg(seeds: Seq[String] = Seq.empty) =
    LearnerConfig("t", baselineRate = 0.0, seedBoost = 2.0, seedArms = seeds)

  test("context_hash is byte-compatible with the reference's json.dumps form") {
    // pinned against python: hashlib.sha256(json.dumps(ctx, sort_keys=True,
    // separators=(',',':')).encode()).hexdigest()[:16]
    assert(Learner.contextHash(Map.empty) == "default")
    assert(Learner.contextHash(Map("task" -> "alt")) == "c89e25f9839bda25")
    assert(Learner.contextHash(Map("b" -> "2", "a" -> "1")) == "21f76dfbfe6dfe21")
  }

  test("seed boosts: Beta(seed_boost, 1) for unseen arms, idempotent, pulls>0 untouched") {
    val l = Learner.create(cfg(Seq("a1", "a2")))
    val s = l.statesFor(Seq(Arm("a1"), Arm("a2")))
    assert(s("a1") == Thompson.ArmState(2.0, 1.0, 0L, 0.0))

    // an arm with pulls keeps its learned state through a re-create
    l.observe(ArmOutcome("a1", outcome = "accepted"))
    val l2 = Learner.create(cfg(Seq("a1", "a2")), existingState = Some(l.state))
    val s2 = l2.statesFor(Seq(Arm("a1"), Arm("a2")))
    assert(s2("a1") == Thompson.ArmState(3.0, 1.0, 1L, 1.0)) // NOT re-boosted
    assert(s2("a2") == Thompson.ArmState(2.0, 1.0, 0L, 0.0)) // re-boost no-op
  }

  test("observe: outcome string maps through TernaryReward when raw reward is 0") {
    val l = Learner.create(cfg())
    assert(l.observe(ArmOutcome("x", outcome = "partial")) ==
      Thompson.ArmState(1.5, 1.5, 1L, 0.5))
    // explicit nonzero reward wins over the outcome string
    assert(l.observe(ArmOutcome("x", reward = 1.0, outcome = "rejected")) ==
      Thompson.ArmState(2.5, 1.5, 2L, 1.5))
    // unknown outcome → 0.0 (reward.py get default)
    assert(Reward.Ternary.compute("weird") == 0.0)
    assert(Reward.Binary.compute("partial") == 0.0)
  }

  test("contexts isolate arm state; batchObserve matches sequential observe") {
    val ctxA = Map("task" -> "a")
    val ctxB = Map("task" -> "b")
    val seq = Learner.create(cfg())
    seq.observe(ArmOutcome("x", outcome = "accepted"), ctxA)
    seq.observe(ArmOutcome("x", outcome = "accepted"), ctxA)
    seq.observe(ArmOutcome("x", outcome = "rejected"), ctxB)

    val bat = Learner.create(cfg())
    bat.batchObserve(Seq(
      (Learner.contextHash(ctxA), "x", "accepted"),
      (Learner.contextHash(ctxA), "x", "accepted"),
      (Learner.contextHash(ctxB), "x", "rejected"))
      .toDF("context_hash", "arm_id", "outcome"))

    for (l <- Seq(seq, bat)) {
      assert(l.statesFor(Seq(Arm("x")), ctxA)("x") == Thompson.ArmState(3.0, 1.0, 2L, 2.0))
      assert(l.statesFor(Seq(Arm("x")), ctxB)("x") == Thompson.ArmState(1.0, 2.0, 1L, 0.0))
      assert(l.statesFor(Seq(Arm("x"))).isEmpty) // default context untouched
    }
  }

  test("decayArm shrinks toward the prior preserving the mean; floors at 0.01") {
    val l = Learner.create(cfg())
    l.observe(ArmOutcome("x", outcome = "accepted"))
    val d = l.decayArm("x", 0.5)
    assert(d == Thompson.ArmState(1.0, 0.5, 1L, 0.5))
    // repeated decay hits the floor instead of zero
    (0 until 20).foreach(_ => l.decayArm("x", 0.1))
    val f = l.statesFor(Seq(Arm("x")))("x")
    assert(f.alpha == 0.01 && f.beta == 0.01)
    // absent arm: the default prior decays and is stored (learner.py:271)
    assert(l.decayArm("ghost", 0.9) == Thompson.ArmState(0.9, 0.9, 0L, 0.0))
  }

  test("applyCreditDeltas floors at 0.01, creates unseen arms, counts a pull") {
    val l = Learner.create(cfg())
    l.applyCreditDeltas(Map("c1" -> ((0.5, 0.0)), "c2" -> ((0.0, 5.0))))
    val s = l.statesFor(Seq(Arm("c1"), Arm("c2")))
    assert(s("c1") == Thompson.ArmState(1.5, 1.0, 1L, 0.5))
    assert(s("c2") == Thompson.ArmState(1.0, 6.0, 1L, 0.0))
    l.applyCreditDeltas(Map("c1" -> ((-10.0, 0.0))))
    assert(l.statesFor(Seq(Arm("c1")))("c1").alpha == 0.01)
  }

  test("select: cold-start force-include + seeded arms bias; metrics; reset") {
    val l = Learner.create(LearnerConfig("t", baselineRate = 0.0,
      seedArms = Seq("seeded"), minPulls = 1L))
    l.observe(ArmOutcome("hot", outcome = "accepted"))
    // cold-start: 'seeded' and 'cold' have 0 pulls < minPulls → forced
    val r = l.select(Seq(Arm("hot"), Arm("cold"), Arm("seeded")), k = 2, seed = 3L)
    assert(r.selected.map(_.id).toSet.intersect(Set("cold", "seeded")) == Set("cold", "seeded"))

    val m = l.metrics()
    assert(m("total_pulls") == 1L && m("total_reward") == 1.0)
    assert(m("arm_count") == 2L && m("accuracy") == 1.0)

    assert(l.reset(armIds = Some(Seq("hot"))) == 1L)
    assert(l.statesFor(Seq(Arm("hot"))).isEmpty)
    assert(l.reset() == 1L) // wipes the remaining seeded row
    assert(l.metrics()("arm_count") == 0L)
  }

  test("sessions: start/end round-trip, unknown id is an error") {
    val l = Learner.create(cfg())
    val id = l.sessionStart("tune")
    val out = l.sessionEnd(id)
    assert(out.isRight && out.toOption.get("session_name") == "tune")
    assert(l.sessionEnd(id).isLeft)
  }

  test("posteriorState == create + batchObserve (seed boosts precede observations)") {
    val obs = Seq(
      ("default", "click", "accepted"), ("default", "click", "rejected"),
      ("default", "view", "partial"),
      ("c89e25f9839bda25", "click", "accepted"))
      .toDF("context_hash", "arm_id", "outcome")
    val config = cfg(Seq("click", "unused_seed"))

    val viaState = Learner.posteriorState(obs, config)
      .orderBy("context_hash", "arm_id")
      .select("context_hash", "arm_id", "alpha", "beta", "pulls", "total_reward")
      .collect().map(_.toSeq).toSeq

    val l = Learner.create(config)
    l.batchObserve(obs)
    val viaLearner = l.state
      .orderBy("context_hash", "arm_id")
      .select("context_hash", "arm_id", "alpha", "beta", "pulls", "total_reward")
      .collect().map(_.toSeq).toSeq

    assert(viaState == viaLearner)
    // seeded default-context arm: alpha = boost + Σr = 2+1, beta = 1+1
    val click = Learner.posteriorState(obs, config)
      .filter(col("context_hash") === "default" && col("arm_id") === "click")
      .collect()(0)
    assert(click.getAs[Double]("alpha") == 3.0 && click.getAs[Double]("beta") == 2.0)
    // non-default context is NOT boosted (store.get(arm_id) hits default ctx)
    val alt = Learner.posteriorState(obs, config)
      .filter(col("context_hash") === "c89e25f9839bda25" && col("arm_id") === "click")
      .collect()(0)
    assert(alt.getAs[Double]("alpha") == 2.0 && alt.getAs[Double]("beta") == 1.0)
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
}
