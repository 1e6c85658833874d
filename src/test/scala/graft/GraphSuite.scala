package graft

import graft.canon.Canon
import graft.graph.{Ppr, PprTestAccess}
import graft.streaming.EdgePromotion
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

class GraphSuite extends SparkFunSuite {
  import spark.implicits._

  test("PPR matches a dense single-threaded power iteration on a small graph") {
    // triangle a-b-c plus pendant d off c, varying confidences
    val edgeList = Seq(
      ("a", "b", 1.0), ("b", "c", 0.5), ("a", "c", 0.8), ("c", "d", 0.6))
    val edges = edgeList.toDF("source_id", "target_id", "confidence")
    val seeds = Seq(("a", 1.0)).toDF("id", "weight")

    // dense reference implementation (same spec, sequential)
    val nodes = Seq("a", "b", "c", "d")
    val idx = nodes.zipWithIndex.toMap
    val und = edgeList.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    val outW = und.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pers = Array(1.0, 0.0, 0.0, 0.0)
    var rank = pers.clone()
    for (_ <- 0 until 2000) {
      val next = Array.fill(4)(0.0)
      for ((u, v, w) <- und) next(idx(v)) += rank(idx(u)) * w / outW(u)
      for (i <- 0 until 4) next(i) = 0.85 * next(i) + 0.15 * pers(i)
      rank = next
    }
    for ((path, limit) <- PprTestAccess.paths) {
      val got = PprTestAccess.run(edges, seeds, limit, damping = 0.85, tol = 1e-9)
        .as[(String, Double)].collect().toMap
      for ((n, i) <- idx)
        assert(math.abs(got.getOrElse(n, 0.0) - rank(i)) < 1e-6,
          s"$path node $n: ${got.get(n)} vs ${rank(i)}")
    }
  }

  private def ranks(df: DataFrame): Map[String, Double] = df.as[(String, Double)].collect().toMap

  test("PPR: the driver kernel and the distributed loop return the same ids and ranks") {
    // x–y carries a null confidence: both stay nodes, neither edge direction
    // carries mass; z (a seed) and "new" (an online endpoint) have no
    // persistent edges
    val edges = Seq[(String, String, Option[Double])](
      ("a", "b", Some(1.0)), ("b", "c", Some(0.5)), ("a", "c", Some(0.8)), ("c", "d", Some(0.6)),
      ("d", "e", Some(0.9)), ("x", "y", None))
      .toDF("source_id", "target_id", "confidence")
    val extras = Seq(("b", "e", 0.75), ("e", "new", 0.7)).toDF("source_id", "target_id", "confidence")
    val seedSets = Seq(
      "seeds" -> Seq(("a", 1.0), ("z", 0.5)).toDF("id", "weight"),
      "empty seeds" -> Seq.empty[(String, Double)].toDF("id", "weight"))
    for {
      (extraName, ex) <- Seq("no extras" -> None, "extras" -> Some(extras))
      (seedName, seeds) <- seedSets
      (tol, maxIter) <- Seq((0.0, 12), (1e-3, 100))
    } {
      val name = s"$extraName, $seedName, tol $tol"
      val Seq(driver, distributed) = PprTestAccess.paths.map { case (_, limit) =>
        ranks(PprTestAccess.run(edges, seeds, limit, ex, tol = tol, maxIter = maxIter))
      }
      assert(driver.keySet == distributed.keySet, name)
      for ((id, r) <- driver)
        assert(math.abs(r - distributed(id)) < 1e-12, s"$name: $id $r vs ${distributed(id)}")
      if (seedName == "empty seeds") assert(Set("x", "y").subsetOf(driver.keySet), name)
      else assert(driver.contains("z") && !driver.contains("x"), name)
      if (ex.isDefined) assert(driver.contains("new"), name)
      // tol > 0 stops early: its ranks differ from all maxIter iterations
      if (tol > 0.0) {
        val full = ranks(PprTestAccess.run(edges, seeds, PprTestAccess.paths.head._2, ex,
          tol = 0.0, maxIter = maxIter))
        assert(driver.exists { case (id, r) => math.abs(r - full.getOrElse(id, 0.0)) > 1e-12 }, name)
      }
    }
  }

  test("PPR rejects a duplicated or null seed id on both paths") {
    // a duplicated id used to duplicate its personalization row, counting
    // its rank twice in every iteration
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0)).toDF("source_id", "target_id", "confidence")
    val seeds = Seq(("a", 0.5), ("b", 0.2), ("a", 0.5)).toDF("id", "weight")
    val nullSeed = Seq[(String, Double)](("a", 0.5), (null, 0.5)).toDF("id", "weight")
    for ((path, limit) <- PprTestAccess.paths) {
      val e = intercept[IllegalArgumentException](
        PprTestAccess.run(edges, seeds, limit).collect())
      assert(e.getMessage.contains("'a'"), s"$path: ${e.getMessage}")
      val n = intercept[IllegalArgumentException](
        PprTestAccess.run(edges, nullSeed, limit).collect())
      assert(n.getMessage.contains("null id"), s"$path: ${n.getMessage}")
    }
  }

  test("PPR prepare: adjacencies below Loops.RowsPerPartition rows go to the driver") {
    import org.apache.spark.sql.functions._
    // the undirected adjacency holds 2 rows per edge
    def edges(n: Long) = spark.range(n).select(
      concat(lit("n"), col("id")).as("source_id"),
      concat(lit("n"), (col("id") + 1) % 1000).as("target_id"),
      lit(0.5).as("confidence"))
    val below = graft.core.Loops.RowsPerPartition / 2 - 1
    val small = Ppr.prepare(edges(below))
    assert(small.isInstanceOf[Ppr.DriverGraph] && small.rows == 2 * below)
    val large = Ppr.prepare(edges(below + 1))
    assert(large.isInstanceOf[Ppr.DistributedGraph] && large.rows == 2 * (below + 1))
  }

  test("PPR driver path: no cached RDDs, no shuffle-width scope, concurrent calls match serial") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val edges = (0 until 40).map(i => (s"n$i", s"n${(i * 7 + 1) % 40}", 0.8))
      .toDF("source_id", "target_id", "confidence").localCheckpoint()
    val extras = Seq(("n1", "n20", 0.95)).toDF("source_id", "target_id", "confidence")
    val seeds = Seq(("n0", 1.0), ("n5", 0.5)).toDF("id", "weight")
    val g = Ppr.prepare(edges)
    assert(g.isInstanceOf[Ppr.DriverGraph])
    def query() = ranks(Ppr.runPrepared(g, extras, seeds, tol = 1e-4, maxIter = 30))

    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val widthBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val serial = query()
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == widthBefore)

    // a query completes while a Spark job holds every core: the driver
    // path runs no Spark job
    BusyCores.during(spark)(assert(Await.result(Future(query()), 60.seconds) == serial))

    val both = Seq(Future(query()), Future(query()))
    both.foreach(f => assert(Await.result(f, 120.seconds) == serial))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == widthBefore)
  }

  test("PPR driver kernel: ranks do not depend on the order of extras and seeds (bit for bit)") {
    val edges = (0 until 30).map(i => (s"n$i", s"n${(i * 7 + 3) % 30}", 0.4 + (i % 5) * 0.1))
      .toDF("source_id", "target_id", "confidence").localCheckpoint()
    val g = Ppr.prepare(edges)
    assert(g.isInstanceOf[Ppr.DriverGraph])
    // sums that depend on the order of their terms ((0.1 + 0.2) + 0.3 !=
    // (0.3 + 0.2) + 0.1): one source with three extras (its out-weight),
    // one target fed by two new nodes (its inflow), and three seeds beyond
    // the graph (the personalization total), plus an edgeless seed
    val extras = Seq(("n1", "n2", 0.1), ("n1", "n9", 0.2), ("n1", "x1", 0.3),
      ("x2", "n4", 0.7), ("x1", "x3", 0.25), ("n5", "x2", 0.9),
      ("x1", "n7", 0.3), ("x2", "n7", 0.6))
    val seeds = Seq(("x1", 0.1), ("x2", 0.2), ("x3", 0.3), ("z9", 0.05))
    def ranks(ex: Seq[(String, String, Double)], sd: Seq[(String, Double)]): Map[String, Long] =
      Ppr.runPrepared(g, ex.toDF("source_id", "target_id", "confidence"), sd.toDF("id", "weight"),
        tol = 0.0, maxIter = 25)
        .as[(String, Double)].collect()
        .map { case (id, r) => id -> java.lang.Double.doubleToRawLongBits(r) }.toMap
    val expected = ranks(extras, seeds)
    assert(expected.keySet.contains("z9") && expected.keySet.contains("n7"))
    val rng = new scala.util.Random(11)
    for (_ <- 0 until 8)
      assert(ranks(rng.shuffle(extras), rng.shuffle(seeds)) == expected)
    assert(ranks(extras.map { case (a, b, w) => (b, a, w) }.reverse, seeds.reverse) == expected)
  }

  test("PPR distributed loop: each call leaves at most its result's checkpoint cached") {
    // 12 iterations run 3 blocks; the extras, the adjacency, the
    // personalization and the superseded blocks must all be released
    val edges = (0 until 40).map(i => (s"n$i", s"n${(i * 7 + 1) % 40}", 0.8))
      .toDF("source_id", "target_id", "confidence").localCheckpoint()
    val extras = Seq(("n1", "n20", 0.95), ("n3", "n27", 0.9))
      .toDF("source_id", "target_id", "confidence").localCheckpoint()
    val seeds = Seq(("n0", 1.0), ("n5", 0.5)).toDF("id", "weight")
    val sc = spark.sparkContext
    def once(maxIter: Int) =
      PprTestAccess.run(edges, seeds, rowLimit = 0L, Some(extras), tol = 0.0, maxIter = maxIter)
    val results = scala.collection.mutable.ArrayBuffer(once(12))
    val after1 = sc.getPersistentRDDs.keySet
    val n = 5
    (1 until n).foreach(_ => results += once(12))
    // compared by id: an RDD only weakly held may leave the map at a GC
    val added = sc.getPersistentRDDs.keySet -- after1
    assert(added.size <= n - 1, s"${added.size} RDDs stayed cached after ${n - 1} calls")
    // every result still reads its checkpoint; with no iteration the
    // result is the personalization itself
    def rounded(df: DataFrame) = ranks(df).view.mapValues(r => math.round(r * 1e12)).toMap
    val expected = rounded(results.head)
    results.foreach(r => assert(rounded(r) == expected))
    val none = once(0)
    assert(ranks(none) == Map("n0" -> 1.0 / 1.5, "n5" -> 0.5 / 1.5))
  }

  test("PPR: uniform personalization fallback when seeds are empty (memory.py:304-315)") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0)).toDF("source_id", "target_id", "confidence")
    val seeds = Seq.empty[(String, Double)].toDF("id", "weight")
    val got = Ppr.run(edges, seeds).as[(String, Double)].collect().toMap
    assert(got.size == 3)
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  test("online edges merge into PPR exactly like reference extra_edges") {
    import graft.core.Embeddings
    // two disconnected nodes whose embeddings are similar: without online
    // edges PPR gives the non-seed-ish node nothing; with the merged online
    // edge it receives rank mass
    val e1 = Embeddings.embedConcept("alpha cache layer", "caching tier")
    val e2 = Embeddings.embedConcept("alpha cache layer tuning", "caching tier tuning")
    val far = Embeddings.embedConcept("unrelated quantum chemistry", "molecules")
    val concepts = Seq(
      ("web:A", "A", e1), ("web:B", "B", e2), ("web:C", "C", far)
    ).toDF("id", "name", "embedding")
    // persistent graph links A—C only
    val edges = Seq(("web:A", "web:C", 0.9)).toDF("source_id", "target_id", "confidence")
    val factors = Seq.empty[(String, Double)].toDF("node_id", "factor")

    val out = graft.query.Retrieval.retrieveFull(concepts, edges, factors,
      "alpha cache layer", topK = 3, onlineThreshold = 0.5)
    // e1·e2 cosine is high → an online edge A—B must exist
    assert(out.onlineEdges.filter(
      (col("id_a") === "web:A" && col("id_b") === "web:B") ||
        (col("id_a") === "web:B" && col("id_b") === "web:A")).count() == 1)
    // B is reachable ONLY through the online edge — it must carry ppr mass
    val bPpr = out.results.filter(col("id") === "web:B").select("ppr").as[Double].head()
    assert(bPpr > 0.0)
    // coverage = persistent/(persistent+online) ∈ (0,1) here
    assert(out.kgCoverage > 0.0 && out.kgCoverage < 1.0)
  }

  test("PPR: an isolated seed keeps (1−d)·pers mass (memory.py:304-315 parity)") {
    val edges = Seq(("a", "b", 1.0)).toDF("source_id", "target_id", "confidence")
    val seeds = Seq(("a", 1.0), ("z", 1.0)).toDF("id", "weight") // z has no edges
    val got = Ppr.run(edges, seeds, damping = 0.85, tol = 1e-10)
      .as[(String, Double)].collect().toMap

    // dense reference over ALL nodes {a, b, z}, pers = (0.5, 0, 0.5)
    val nodes = Seq("a", "b", "z")
    val idx = nodes.zipWithIndex.toMap
    val und = Seq(("a", "b", 1.0), ("b", "a", 1.0))
    val outW = und.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pers = Array(0.5, 0.0, 0.5)
    var rank = pers.clone()
    for (_ <- 0 until 2000) {
      val next = Array.fill(3)(0.0)
      for ((u, v, w) <- und) next(idx(v)) += rank(idx(u)) * w / outW(u)
      for (i <- 0 until 3) next(i) = 0.85 * next(i) + 0.15 * pers(i)
      rank = next
    }
    for ((n, i) <- idx)
      assert(math.abs(got.getOrElse(n, 0.0) - rank(i)) < 1e-6,
        s"node $n: ${got.get(n)} vs ${rank(i)}")
    // the isolated seed specifically: (1−d) · 0.5 = 0.075, not dropped
    assert(math.abs(got("z") - 0.075) < 1e-9)
  }

  test("concurrent PPR, CC and pattern completion match serial; shuffle width unchanged") {
    import graft.graph.Bfs
    val edges = (0 until 40).map(i => (s"n$i", s"n${(i + 1) % 40}", 0.9))
      .toDF("source_id", "target_id", "confidence").localCheckpoint()
    val seeds = Seq(("n0", 1.0)).toDF("id", "weight").localCheckpoint()
    val pairs = (0 until 30).map(i => (s"c${i / 3 * 3}", s"c$i"))
      .toDF("id_a", "id_b").localCheckpoint()

    // a graph this small runs PPR on the driver: force the distributed loop
    def pprRun() = PprTestAccess.run(edges, seeds, rowLimit = 0L, tol = 0.0, maxIter = 10)
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 1e9))).toSet
    def ccRun() = Canon.connectedComponents(pairs)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    def bfsRun() = Bfs.patternCompletion(edges, seeds.select("id"), maxDepth = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

    val serial = (pprRun(), ccRun(), bfsRun())
    val width = spark.conf.get("spark.sql.shuffle.partitions")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // a watcher samples the session's width while the loops run
    @volatile var running = true
    val seen = Future {
      val widths = scala.collection.mutable.Set.empty[String]
      while (running) { widths += spark.conf.get("spark.sql.shuffle.partitions"); Thread.sleep(1) }
      widths.toSet
    }
    try for (_ <- 0 until 3) {
      val (fp, fc, fb) = (Future(pprRun()), Future(ccRun()), Future(bfsRun()))
      assert((Await.result(fp, 120.seconds), Await.result(fc, 120.seconds),
        Await.result(fb, 120.seconds)) == serial)
    } finally running = false
    assert(Await.result(seen, 60.seconds) == Set(width), "a loop changed the session's shuffle width")
  }

  test("CC, exploreEdges and patternCompletion keep only the checkpoints their results read") {
    import graft.graph.Bfs
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    // a 20-node chain needs several CC rounds; the BFS runs reach 3 hops
    val chain = (0 until 19).map(i => (f"c$i%02d", f"c${i + 1}%02d")).toDF("id_a", "id_b").localCheckpoint()
    val edges = chain.select(col("id_a").as("source_id"), col("id_b").as("target_id"),
      org.apache.spark.sql.functions.lit("RELATED").as("relation_type")).localCheckpoint()
    val seeds = Seq("c05").toDF("id").localCheckpoint()
    def reads(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    for ((name, call) <- Seq[(String, () => DataFrame)](
        "connectedComponents" -> (() => Canon.connectedComponents(chain)),
        "exploreEdges" -> (() => Bfs.exploreEdges(edges, seeds, maxDepth = 3)),
        "patternCompletion" -> (() => Bfs.patternCompletion(edges, seeds, maxDepth = 3)))) {
      val expected = call().collect().toSet
      for (i <- 0 until 4) {
        // compared by id: an RDD only weakly held may leave the map at a GC
        val before = sc.getPersistentRDDs.keySet
        val result = call()
        val kept = sc.getPersistentRDDs.keySet -- before
        assert(kept.subsetOf(reads(result)), s"$name call $i kept ${kept -- reads(result)} beyond its result")
        assert(result.collect().toSet == expected, s"$name call $i")
      }
      for (df <- Seq(chain, edges, seeds)) df.collect() // the callers' frames stay readable
    }
  }

  private type Edge = (String, String, String, Option[Double])

  test("exploreEdges matches a plain BFS over the collected rows (seeded random graphs)") {
    import graft.graph.Bfs
    val rng = new scala.util.Random(20261019L)
    def node(): String = if (rng.nextInt(10) == 0) null else s"n${rng.nextInt(12)}"
    // the edge rows with an endpoint within maxDepth − 1 hops of the seeds,
    // never expanding through a null endpoint
    def reference(rows: Seq[Edge], seeds: Set[String], maxDepth: Int): Set[(String, String, String)] = {
      val adjacent = rows.flatMap { case (s, t, _, _) => Seq(s -> t, t -> s) }
        .filter { case (a, b) => a != null && b != null }
      var inner = seeds
      for (_ <- 1 until maxDepth) inner ++= adjacent.collect { case (a, b) if inner(a) => b }
      rows.filter { case (s, t, _, _) => inner(s) || inner(t) }.map { case (s, t, r, _) => (s, t, r) }.toSet
    }
    for (g <- 0 until 8) {
      val drawn = Seq.fill(4 + rng.nextInt(16))((node(), node(), if (rng.nextBoolean()) "RELATED" else "USES",
        if (rng.nextInt(4) == 0) None else Some(rng.nextInt(10) / 10.0)))
      // exact duplicates, and a key repeated with another confidence
      val rows: Seq[Edge] = drawn ++ drawn.take(2) ++ drawn.take(1).map(_.copy(_4 = Some(0.05)))
      val edges = rows.toDF("source_id", "target_id", "relation_type", "confidence")
      val seeds = Seq.fill(1 + rng.nextInt(3))(if (rng.nextInt(3) == 0) "off-graph" else s"n${rng.nextInt(12)}")
      for (d <- 1 to 3) {
        val where = s"graph $g, seeds $seeds, depth $d"
        val got = Bfs.exploreEdges(edges, seeds.toDF("id"), maxDepth = d).as[Edge].collect().toSeq
        val keys = got.map { case (s, t, r, _) => (s, t, r) }
        assert(keys.distinct.size == keys.size, s"$where: a key twice")
        assert(keys.toSet == reference(rows, seeds.toSet, d), where)
        assert(got.forall(rows.contains), s"$where: a row not in the input")
      }
    }
  }

  test("exploreEdges jobs <= patternCompletion(d - 1) + one edgesTouching collect") {
    import graft.graph.Bfs
    // 2,000 edges over 1,000 nodes: two out-edges each, reaching further per depth
    val edges = (0 until 2000).map(i => (s"n${i % 1000}", s"n${(i * 37 + 11) % 1000}", "RELATED", 0.5))
      .toDF("source_id", "target_id", "relation_type", "confidence").localCheckpoint()
    val seeds = Seq("n0").toDF("id")
    for (d <- 1 to 3) {
      val explore = jobsOf(Bfs.exploreEdges(edges, seeds, maxDepth = d).collect())
      var inner: DataFrame = null
      val completion = jobsOf { inner = Bfs.patternCompletion(edges, seeds, maxDepth = d - 1) }
      val touching = jobsOf(Bfs.edgesTouching(edges, inner).collect())
      assert(explore <= completion + touching, s"depth $d: $explore > $completion + $touching jobs")
    }
  }

  test("Ppr.runPrepared over a prepared graph matches Ppr.run on the merged edges") {
    val edges = (0 until 30).map(i => (s"n$i", s"n${(i * 7 + 1) % 30}", 0.8))
      .toDF("source_id", "target_id", "confidence").localCheckpoint()
    val extras = Seq(("n1", "n20", 0.95), ("n3", "n27", 0.9))
      .toDF("source_id", "target_id", "confidence").localCheckpoint()
    val seeds = Seq(("n0", 1.0)).toDF("id", "weight")

    def collectRanks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 1e9))).toMap

    for ((path, limit) <- PprTestAccess.paths) {
      val g = PprTestAccess.prepare(edges, limit)
      // with extras: identical to one-shot run over the union
      val prepared = collectRanks(Ppr.runPrepared(g, extras, seeds, tol = 0.0, maxIter = 12))
      val oneShot = collectRanks(
        PprTestAccess.run(edges.unionByName(extras), seeds, limit, tol = 0.0, maxIter = 12))
      assert(prepared == oneShot, path)
      // without extras: the cached normalization is used as-is
      val noExtras = collectRanks(Ppr.runPrepared(g,
        Seq.empty[(String, String, Double)].toDF("source_id", "target_id", "confidence"),
        seeds, tol = 0.0, maxIter = 12))
      assert(noExtras == collectRanks(PprTestAccess.run(edges, seeds, limit, tol = 0.0, maxIter = 12)),
        path)
    }
  }

  test("edge promotion batch: hits ≥ 3 AND avg ≥ 0.75 (buffer.py:110-112)") {
    val obs = Seq(
      ("a", "b", 0.9), ("b", "a", 0.8), ("a", "b", 0.85), // 3 hits avg .85 → promote
      ("c", "d", 0.9), ("c", "d", 0.9), // only 2 hits → no
      ("e", "f", 0.5), ("e", "f", 0.6), ("e", "f", 0.7) // avg < .75 → no
    ).toDF("node_a", "node_b", "score")
    val out = EdgePromotion.promoteBatch(obs)
      .select("source_id", "target_id", "relation_type")
      .as[(String, String, String)].collect().toSet
    assert(out == Set(("a", "b", "SIMILAR_TO")))
  }

  test("edge promotion streaming: stateful promotion across micro-batches") {
    implicit val sq = spark.sqlContext
    import graft.streaming.EdgePromotion.Observation
    val input = MemoryStream[Observation]
    val promoted = EdgePromotion.promoteStream(input.toDS())(spark)
    val query = promoted.writeStream
      .format("memory").queryName("promoted").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Observation("a", "b", 0.9, 1L), Observation("b", "a", 0.8, 2L))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM promoted").count() == 0) // 2 hits: not yet
      input.addData(Observation("a", "b", 0.85, 3L))
      query.processAllAvailable()
      val rows = spark.sql("SELECT source_id, target_id, hits FROM promoted")
        .as[(String, String, Long)].collect()
      assert(rows.toSeq == Seq(("a", "b", 3L)))
    } finally query.stop()
  }

  test("teleportation factor update clamps to [0.1, 5.0] (factors.py:36-45)") {
    val factors = Seq(("n1", 4.95), ("n2", 0.12), ("n3", 1.0)).toDF("node_id", "factor")
    val outcomes = Seq(
      ("n1", "accepted"), ("n1", "accepted"), // 4.95 + 0.2 → clamp 5.0
      ("n2", "rejected"), // 0.12 - 0.05 → clamp .1? 0.07 → 0.1
      ("n3", "partial"), // 1.03
      ("n4", "accepted") // new node: 1.0 + 0.1
    ).toDF("node_id", "outcome")
    val out = EdgePromotion.updateFactors(factors, outcomes)
      .as[(String, Double)].collect().toMap
    assert(out("n1") == 5.0)
    assert(out("n2") == 0.1)
    assert(math.abs(out("n3") - 1.03) < 1e-9)
    assert(math.abs(out("n4") - 1.1) < 1e-9)
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
}
