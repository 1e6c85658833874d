package graft

import java.sql.Timestamp

import graft.streaming.WindowedEvents
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

case class Ev(ts: Timestamp, event_type: String, value: Double)

/** St5: event-time windows under a watermark — append-mode
  * finalization, late-data drop, and batch/streaming agreement of the
  * same transform.
  */
class WindowedEventsSuite extends SparkFunSuite {
  import spark.implicits._

  // epoch-based timestamps: window alignment is on the instant, so the
  // test is timezone-proof
  private def at(hours: Long, minutes: Long = 0): Timestamp =
    new Timestamp(hours * 3600000L + minutes * 60000L)

  test("batch mode: exact hourly windows (the q49 semantics)") {
    val df = Seq(
      Ev(at(1, 10), "click", 1.5),
      Ev(at(1, 50), "click", 2.25),
      Ev(at(1, 20), "view", 1.0),
      Ev(at(2, 5), "click", 4.0)
    ).toDF()
    val out = WindowedEvents.hourlyByType(df)
      .as[(Timestamp, Timestamp, String, Long, Double)].collect().toSet
    assert(out == Set(
      (at(1), at(2), "click", 2L, 3.75),
      (at(1), at(2), "view", 1L, 1.0),
      (at(2), at(3), "click", 1L, 4.0)))
  }

  test("streaming append mode: windows finalize once, late rows drop") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = WindowedEvents.hourlyByType(input.toDF(), lateness = "2 hours")
    val query = out.writeStream
      .format("memory").queryName("windowed")
      .outputMode(OutputMode.Append()).start()
    try {
      def rows(): Set[(Timestamp, String, Long, Double)] =
        spark.sql("SELECT window_start, event_type, n_events, sum_value FROM windowed")
          .as[(Timestamp, String, Long, Double)].collect().toSet

      input.addData(Ev(at(1, 10), "click", 1.0), Ev(at(1, 40), "click", 2.0))
      query.processAllAvailable()
      assert(rows().isEmpty) // watermark still before window end

      // event at 5:00 → watermark 3:00 after this batch; the next batch
      // finalizes every window ending ≤ 3:00
      input.addData(Ev(at(5), "view", 1.0))
      query.processAllAvailable()
      input.addData(Ev(at(6), "view", 1.0))
      query.processAllAvailable()
      assert(rows() == Set((at(1), "click", 2L, 3.0)))

      // a row for the already-finalized window is beyond the lateness
      // horizon → dropped, the emitted window is NOT revised
      input.addData(Ev(at(1, 50), "click", 100.0))
      query.processAllAvailable()
      input.addData(Ev(at(7), "view", 1.0))
      query.processAllAvailable()
      assert(rows().collect { case r @ (ws, "click", _, _) if ws == at(1) => r } ==
        Set((at(1), "click", 2L, 3.0)))
    } finally query.stop()
  }

  test("A5: factor drift snapshot matches hand-computed entropy") {
    val factors = Seq(("a", 0.5), ("b", 1.0), ("c", 2.5)).toDF("node_id", "factor")
    val row = graft.streaming.EdgePromotion.factorDriftSnapshot(factors)
      .as[(Long, Double, Double, Double, Long, Long, Double)].head()
    val (count, mean, mn, mx, boosted, penalized, entropy) = row
    assert(count == 3 && mn == 0.5 && mx == 2.5 && boosted == 1 && penalized == 1)
    assert(math.abs(mean - 4.0 / 3.0) < 1e-12)
    val t = 4.0
    val expected = -Seq(0.5, 1.0, 2.5).map(_ / t).map(p => p * math.log(p) / math.log(2)).sum
    assert(math.abs(entropy - expected) < 1e-9)
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
