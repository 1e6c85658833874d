package graft

import graft.learning.{ArmOutcome, Learner, LearnerConfig}
import graft.learning.Thompson.Arm
import graft.observe.Observe

/** qortex-observe analog: typed events from learner/service calls, no-op
  * when unconfigured, bounded in-memory sink, JSONL sink, traced timing.
  */
class ObserveSuite extends SparkFunSuite {
  import spark.implicits._

  private def withSink[T](body: Observe.InMemorySink => T): T = {
    val sink = new Observe.InMemorySink()
    Observe.configure(sink)
    try body(sink) finally Observe.reset()
  }

  test("unconfigured emit is a no-op; configure/reset round-trips") {
    Observe.reset()
    Observe.emit("anything", "k" -> 1) // must not throw
    assert(!Observe.isConfigured)
    withSink { sink =>
      Observe.emit("x", "k" -> 1)
      assert(sink.events.map(_.eventType) == Seq("x"))
    }
    assert(!Observe.isConfigured)
  }

  test("learner calls emit selection/observation/posterior events") {
    withSink { sink =>
      val l = Learner.create(LearnerConfig("obs-test", baselineRate = 0.0))
      l.select(Seq(Arm("a"), Arm("b")), k = 1, seed = 1L)
      val sel = sink.ofType("learning.selection_made")
      assert(sel.size == 1)
      assert(sel.head.fields("learner") == "obs-test")
      assert(sel.head.fields("selected_count") == 1)
      assert(sel.head.fields("excluded_count") == 1)

      l.observe(ArmOutcome("a", outcome = "accepted"))
      val obs = sink.ofType("learning.observation_recorded")
      assert(obs.size == 1 && obs.head.fields("reward") == 1.0)
      assert(obs.head.fields("context_hash") == "default")
      val post = sink.ofType("learning.posterior_updated")
      assert(post.size == 1 && post.head.fields("alpha") == 2.0)

      l.applyCreditDeltas(Map("a" -> ((0.5, 0.0))))
      assert(sink.ofType("learning.posterior_updated").size == 2)
    }
  }

  test("feedback emits feedback.received and credit.propagated") {
    withSink { sink =>
      val factors = Seq(("web:A", 1.0)).toDF("node_id", "factor")
      val outcomes = Seq(("web:A", "accepted")).toDF("node_id", "outcome")
      val edges = Seq(("web:A", "web:B", "REQUIRES", 0.9))
        .toDF("source_id", "target_id", "relation_type", "confidence")
      val res = graft.query.Service.feedback(factors, outcomes, "q-obs",
        creditEdges = Some(edges))
      assert(res.isRight)
      val fb = sink.ofType("feedback.received")
      assert(fb.size == 1 && fb.head.fields("accepted") == 1L)
      val cp = sink.ofType("credit.propagated")
      assert(cp.size == 1 && cp.head.fields("query_id") == "q-obs")
      assert(cp.head.fields("direct_count") == 1)
    }
  }

  test("traced: completed with duration; failed with error; JSON encoding") {
    withSink { sink =>
      assert(Observe.traced("stage", "n" -> 3) { 42 } == 42)
      val done = sink.ofType("stage.completed")
      assert(done.size == 1 && done.head.fields("n") == 3)
      assert(done.head.fields("duration_ms").asInstanceOf[Double] >= 0.0)
      intercept[RuntimeException] {
        Observe.traced("boom") { throw new RuntimeException("nope") }
      }
      val failed = sink.ofType("boom.failed")
      assert(failed.size == 1 &&
        failed.head.fields("error").toString.contains("nope"))
    }
    val json = Observe.toJson(Observe.Event("e",
      Map("s" -> "a\"b", "n" -> 1.5, "b" -> true, "xs" -> Seq("p", "q"), "z" -> null)))
    assert(json == """{"event":"e","b":true,"n":1.5,"s":"a\"b","xs":["p","q"],"z":null}""")
  }

  test("in-memory sink is bounded; jsonl sink appends one object per line") {
    val small = new Observe.InMemorySink(capacity = 3)
    (1 to 5).foreach(i => small.accept(Observe.Event(s"e$i", Map.empty)))
    assert(small.events.map(_.eventType) == Seq("e3", "e4", "e5"))

    val path = java.nio.file.Files.createTempDirectory("graft-obs").toString + "/events.jsonl"
    val js = new Observe.JsonlSink(path)
    js.accept(Observe.Event("a", Map("k" -> 1)))
    js.accept(Observe.Event("b", Map.empty))
    js.close()
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size() == 2 && lines.get(0) == """{"event":"a","k":1}""")
  }
}
