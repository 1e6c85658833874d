package perfbench

import graft.pipeline.Ingest
import graft.query.GraftService
import graft.store.SnapshotStore
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run: `--workload append|serve --seed N --seconds S
  * --trace 0|1 --work DIR`. Prints one JSON result line last on stdout
  * (correct, attempted, failed, metrics); context and spans go to files in
  * DIR. See perfbench/README.md for the workloads and metrics.
  */
object Main {

  val Cores = 4
  val PagesPerDay = 150
  val Days = 4 // append: 3 pre-built days + 1 new day; serve: all 4 built
  val TopK = 10

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Set("append", "serve")(w), s"unknown workload '$w' (append | serve)")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", Files2.path(need("work")))
  }

  /** Outcome bookkeeping: every failed operation or gate is counted and
    * printed on stderr. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    def check(ok: Boolean, what: => String): Boolean = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
      ok
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    Files.createDirectories(a.work)
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (a.trace) Some(new Tracer(spark, s"${a.workload}-${a.seed}")) else None
    val tally = new Tally
    val corpus = new Corpus(a.seed, PagesPerDay, Days)
    log("session up")
    val htmlBytes = corpus.htmlBytes()

    val traffic = mutable.LinkedHashMap.empty[String, Double]
    val metrics: Seq[(String, Double, String)] = a.workload match {
      case "append" => append(a, corpus, htmlBytes, tally, tracer, t0, traffic)
      case "serve" => serve(a, corpus, htmlBytes, tally, tracer, t0, traffic)
    }

    Files.writeString(a.work.resolve("context.json"), Context.json(spark, a, Cores, traffic.toSeq) + "\n")
    tracer.foreach(t => Files.writeString(a.work.resolve("spans.json"), t.toJson(t0)))
    spark.stop()
    val m = metrics.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    println(Json.obj(Seq(
      "correct" -> (tally.failed == 0).toString,
      "attempted" -> Json.num(tally.attempted),
      "failed" -> Json.num(tally.failed),
      "metrics" -> Json.obj(m))))
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap still in use after a full collection at the end of the timed
    * window: what the run retains (cached blocks live on-heap in local mode). */
  private def retainedHeapMb(): Double = {
    // each collection hands unreachable RDDs and broadcasts to Spark's
    // ContextCleaner, whose clean-up frees more; repeat until the heap in
    // use stops falling
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(100); System.gc(); mem.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < prev - (1L << 20) && rounds < 5) { prev = used; used = collect(); rounds += 1 }
    used / 1e6
  }

  /** Two independent set-up steps, run side by side on driver threads. */
  private def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val (fa, fb) = (Future(a), Future(b))
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  /** `body`, inside span `name` when the run is traced. */
  private def maybeSpan[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  private val runStart = System.nanoTime()

  /** Progress on stderr, with seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${seconds(runStart)}%7.2f s  $msg")

  /** `append`: one new day partition onto a warehouse pre-built in set-up.
    *
    * Set-up builds days 0..2 (also the JIT warm-up) and, as the reference
    * for the gate, a one-shot build of days 0..3. Each timed operation
    * restores a byte-identical copy of the pre-built warehouse and runs
    * `Ingest.run` with the new day; the gate then compares the derived
    * tables with the one-shot build's.
    */
  private def append(a: Args, corpus: Corpus, htmlBytes: Map[String, Long], tally: Tally,
      tracer: Option[Tracer], t0: Long, traffic: mutable.Map[String, Double])(
      implicit spark: SparkSession): Seq[(String, Double, String)] = {
    val baseDays = corpus.allDays.init
    val newDay = corpus.allDays.last
    val golden = a.work.resolve("wh-base")
    // The pre-built base and the one-shot reference are independent: build
    // them side by side on two driver threads to keep set-up short.
    val (_, reference) = inParallel(
      Warehouse.build(corpus, baseDays, golden),
      Warehouse.fingerprints(Warehouse.build(corpus, corpus.allDays, a.work.resolve("wh-oneshot"))))
    val setupS = seconds(t0)
    log("base and one-shot reference built")

    val live = a.work.resolve("wh-live")
    /** Restore the base, append the new day (in span `span`, if any). */
    def appendOnce(span: Option[Tracer]): (Double, SnapshotStore) = {
      Files2.copyTree(golden, live)
      val store = new SnapshotStore(live.toString)
      val s0 = System.nanoTime()
      maybeSpan(span, "pipeline.run") {
        Ingest.run(corpus.pages(Seq(newDay)), store, Ingest.Config(), knownPartitions = Some(corpus.allDays))
      }
      val wall = seconds(s0)
      log(f"append took $wall%.2f s")
      (wall, store)
    }
    def gate(store: SnapshotStore): Unit = {
      val got = Warehouse.fingerprints(store)
      tally.check(got == reference, s"append of $newDay: derived tables differ from the one-shot build " +
        s"(${Warehouse.DerivedTables.filter(t => got(t) != reference(t)).mkString(", ")})")
    }

    tracer match {
      case None =>
        val start = System.nanoTime()
        val walls = mutable.ArrayBuffer.empty[Double]
        while (walls.isEmpty || seconds(start) < a.seconds) {
          val (wall, store) = appendOnce(None)
          gate(store)
          walls += wall
        }
        val fresh = Stats.median(walls.toSeq)
        Seq(
          ("setup_s", setupS, "s"),
          ("latency_p50_s", fresh, "s"),
          ("throughput_per_s", walls.size / walls.sum, "1/s"),
          ("retained_heap_mb", retainedHeapMb(), "MB"))
      case Some(t) =>
        val (untraced, _) = appendOnce(None)
        val (_, store) = appendOnce(tracer)
        gate(store)
        val written = Files2.treeBytes(live) - Files2.treeBytes(golden)
        val mix = new Mix(a.seed, Mix.knownIds(store))
        val client = new ServeClient(new GraftService(store), mix)
        val out = traced(t, a, store, corpus.pages(Seq(newDay)), Seq(newDay), written.toDouble / htmlBytes(newDay),
          "pipeline.run", Some(untraced), tally, client, mix)
        traffic ++= client.counts.map { case (k, v) => k -> v.toDouble }
        out
    }
  }

  /** `serve`: one closed-loop client calling a `GraftService` over a
    * warehouse built in set-up. Set-up also pays the service's lazy
    * checkpoints, its first query and its first explore (the JIT warm-up of
    * both paths). They ask what the timed traffic asks first, so every run
    * compares a repeated query and a repeated explore with set-up's answers.
    */
  private def serve(a: Args, corpus: Corpus, htmlBytes: Map[String, Long], tally: Tally,
      tracer: Option[Tracer], t0: Long, traffic: mutable.Map[String, Double])(
      implicit spark: SparkSession): Seq[(String, Double, String)] = {
    val golden = a.work.resolve("wh-base")
    maybeSpan(tracer, "pipeline.run")(Warehouse.build(corpus, corpus.allDays, golden))
    log("warehouse built")
    val live = a.work.resolve("wh-live")
    Files2.copyTree(golden, live)
    val store = new SnapshotStore(live.toString)
    val svc = new GraftService(store)
    val known = Mix.knownIds(store)
    tally.check(known.nonEmpty, "no vocabulary entity in the committed concepts")
    val mix = new Mix(a.seed, known)
    val client = new ServeClient(svc, mix)
    val warm = Seq(client.query(mix.peekContext()), client.explore(mix.peekNode()))
    warm.foreach(o => tally.check(o.ok, o.detail))
    log(f"service warm: query ${warm(0).seconds}%.2f s, explore ${warm(1).seconds}%.2f s")
    val setupS = seconds(t0)
    traffic ++= Mix.profile(a.seed, 100)

    val out = tracer match {
      case None =>
        val start = System.nanoTime()
        val ops = mutable.ArrayBuffer.empty[Op]
        while (ops.isEmpty || seconds(start) < a.seconds)
          for (kind <- mix.block()) {
            ops += client.run(kind)
            log(f"${ops.last.kind} took ${ops.last.seconds}%.2f s: ${ops.last.detail}")
          }
        ops.foreach(o => tally.check(o.ok, o.detail))
        require(client.counts("repeats_compared") >= 2, "no timed request repeated a set-up request")
        val q = ops.filter(_.kind == "query").map(_.seconds)
        Seq(
          ("setup_s", setupS, "s"),
          ("latency_p50_s", Stats.median(q.toSeq), "s"),
          ("throughput_per_s", ops.size / ops.map(_.seconds).sum, "1/s"),
          ("retained_heap_mb", retainedHeapMb(), "MB"))
      case Some(t) =>
        traced(t, a, store, corpus.pages(corpus.allDays), corpus.allDays,
          Files2.treeBytes(golden).toDouble / htmlBytes.values.sum,
          "query.query", None, tally, client, mix)
    }
    traffic ++= client.counts.map { case (k, v) => k -> v.toDouble }
    out
  }

  /** The traced run's per-layer metrics, shared by both workloads.
    *
    * The traced query's context is one whose seeds gain online similarity
    * edges, so the PPR branch that merges them is timed too. It is asked
    * once untraced first: the warm-up on `append`, and on `serve` the
    * untraced figure that tracing overhead is taken against when
    * `untracedPrimaryS` is None.
    */
  private def traced(t: Tracer, a: Args, store: SnapshotStore, pages: org.apache.spark.sql.Dataset[graft.core.PageRow],
      newDays: Seq[String], writeAmp: Double, primary: String, untracedPrimaryS: Option[Double], tally: Tally,
      client: ServeClient, mix: Mix)(implicit spark: SparkSession): Seq[(String, Double, String)] = {
    val ctx = Mix.onlineEdgeContext(mix, store, fetchK = math.max(3 * TopK, 30), tries = 40)
    val untracedQuery = client.query(ctx)
    tally.check(untracedQuery.ok, untracedQuery.detail)
    val untracedS = untracedPrimaryS.getOrElse(untracedQuery.seconds)
    val node = mix.node()
    Seq(
      t.span("query.query")(client.query(ctx)),
      t.span("query.explore")(client.explore(node)),
      t.span("query.feedback")(client.feedback())).foreach(o => tally.check(o.ok, o.detail))

    val replay = new Replay(t)
    replay.ingest(store, pages, newDays, a.work.resolve("wh-scratch"))
    replay.query(store, ctx, node, TopK)

    val spans = t.rolledUp
    // AQE groups query stages into jobs by which finishes first; actions repeat
    val actionSpans = Set("query.query", "graph.ppr_run")
    def last(name: String) = spans.filter(_.name == name).last
    val dataHeavy = Set("extract.extract", "link.build_concepts", "link.resolve_edges", "prune.tag",
      "canon.canonical_map", "rules.explicit", "rules.derived", "pipeline.code_examples",
      "graph.ppr_run", "graph.bfs")
    // spans long enough to hold a collection on every run; in shorter ones
    // a 0 or a single young pause says nothing
    val gcSpans = Set("pipeline.run", "canon.canonical_map", "query.query", "graph.ppr_run", "graph.bfs")
    val names = Seq("pipeline.run") ++ replay.IngestLayers ++
      Seq("query.query") ++ replay.QueryLayers ++ Seq("graph.bfs", "query.explore", "query.feedback")
    val perSpan = names.flatMap { n =>
      val s = last(n)
      Seq((s"$n.wall_s", s.wallS, "s"), (s"$n.jobs", s.jobs.toDouble, "count")) ++
        (if (actionSpans(n)) Seq((s"$n.actions", s.actions.toDouble, "count")) else Seq.empty) ++
        (if (dataHeavy(n)) Seq(
          (s"$n.tasks", s.tasks.toDouble, "count"),
          (s"$n.shuffle_mb", s.shuffleBytes / 1e6, "MB"),
          (s"$n.spill_mb", s.spillBytes / 1e6, "MB"),
          (s"$n.task_skew", s.taskSkew, "ratio"),
          (s"$n.rows_out", s.extra.getOrElse("rows_out", 0.0), "count"))
        else Seq.empty) ++
        (if (gcSpans(n)) Seq((s"$n.gc_s", s.gcMs / 1e3, "s")) else Seq.empty) ++
        s.extra.get("bytes_written_mb").map(v => (s"$n.bytes_written_mb", v, "MB")).toSeq
    }
    val run = last("pipeline.run").wallS
    val query = last("query.query").wallS
    val ingestShares = replay.IngestLayers.map(n => (s"$n.share", last(n).wallS / run, "ratio"))
    val queryShares = replay.QueryLayers.map(n => (s"$n.share", last(n).wallS / query, "ratio"))
    val primaryS = last(primary).wallS
    perSpan ++ ingestShares ++ queryShares ++ Seq(
      ("query.online_edges.rows_out", last("query.online_edges").extra("rows_out"), "count"),
      ("extract.docs_per_page", last("extract.extract").extra("docs_per_page"), "ratio"),
      ("prune.kept_ratio", last("prune.tag").extra("kept_ratio"), "ratio"),
      ("store.write_bytes_per_input_byte", writeAmp, "ratio"),
      ("trace.overhead_s", primaryS - untracedS, "s"),
      ("trace.overhead_share", (primaryS - untracedS) / untracedS, "ratio"),
      ("trace.coverage_ingest", ingestShares.map(_._2).sum, "ratio"),
      ("trace.coverage_query", queryShares.map(_._2).sum, "ratio"))
  }
}
