package graft

import graft.canon.{Canon, CanonTestAccess, IncrementalCanon}

/** Canonicalisation: connected components against a union-find reference,
  * the synonym-edge families, canonicalMap, incremental canon, and the q28
  * oracle's min-label round budget.
  */
class CanonSuite extends SparkFunSuite {
  import spark.implicits._

  /** Component-minimum labels by union-find: a smaller root always wins,
    * so each root is its component's minimum.
    */
  private def unionFind[T](pairs: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Synchronous min-label propagation rounds until no label changes,
    * counting the last round, which changes nothing: the chain the q28
    * oracle runs `Canon.OracleRoundBudget` rounds of.
    */
  private def minLabelRounds[T](pairs: Seq[(T, T)])(implicit ord: Ordering[T]): Int = {
    val nbrs = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    var label = nbrs.map { case (v, _) => v -> v }
    var rounds = 0
    var changed = true
    while (changed) {
      val next = label.map { case (v, l) => v -> (l +: nbrs(v).map(label)).min }
      changed = next != label
      label = next
      rounds += 1
    }
    rounds
  }

  // ---- connected components ----------------------------------------------

  test("connectedComponents: labels every node with its component minimum") {
    val pairs = Seq(("b", "a"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"))
      .toDF("id_a", "id_b")
    val cc = Canon.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(cc("a") == "a" && cc("b") == "a" && cc("c") == "a")
    assert(cc("d") == "d" && cc("e") == "d")
    assert(cc("f") == "f" && cc("g") == "f" && cc("h") == "f")
  }

  test("connectedComponents: idempotent (running on its own output changes nothing)") {
    val pairs = Seq(("x", "y"), ("y", "z")).toDF("a", "b")
    val cc1 = Canon.connectedComponents(pairs).as[(String, String)].collect().toSet
    // feed (id → canonical) pairs back in: same components
    val cc2 = Canon.connectedComponents(
      cc1.toSeq.toDF("id_a", "id_b")).as[(String, String)].collect().toMap
    assert(cc1.forall { case (id, canon) => cc2(id) == canon || id == canon })
  }

  test("connectedComponents: long chain converges (diameter > 1 iteration)") {
    // path graphs n00-…-n20 and, edges reversed, r00-…-r19
    val chain = (0 until 20).map(i => (f"n$i%02d", f"n${i + 1}%02d")) ++
      (0 until 19).map(i => (f"r${i + 1}%02d", f"r$i%02d"))
    val cc = Canon.connectedComponents(chain.toDF("a", "b"))
      .as[(String, String)].collect().toMap
    assert(cc.size == 41)
    assert(cc.filter(_._1.startsWith("n")).values.toSet == Set("n00"))
    assert(cc.filter(_._1.startsWith("r")).values.toSet == Set("r00"))
  }

  test("connectedComponents matches a union-find reference (random graphs, edge cases)") {
    def strings(pairs: Seq[(String, String)]): Unit = {
      val got = Canon.connectedComponents(pairs.toDF("id_a", "id_b"))
        .as[(String, String)].collect()
      assert(got.length == got.map(_._1).distinct.length, s"duplicate ids on $pairs")
      assert(got.toMap == unionFind(pairs), s"divergence on pairs $pairs")
    }
    val rng = new java.util.Random(11L)
    // random graphs; self-loops are kept
    for (_ <- 1 to 5)
      strings((1 to 25).map(_ => (f"n${rng.nextInt(30)}%02d", f"n${rng.nextInt(30)}%02d")))
    strings(Seq.empty)
    strings(Seq(("a", "a"), ("b", "b"), ("c", "b"))) // self-loops: a alone, {b, c}
    strings((1 to 5).map(i => ("hub", s"s$i"))) // 1-hub/5-leaf star, hub smallest
    strings((1 to 5).map(i => ("zhub", s"s$i"))) // the hub is the largest id

    // Long ids across the whole range, extremes included
    val ids = Array.fill(38)(rng.nextLong()) ++ Array(Long.MinValue, Long.MaxValue)
    val longPairs = (1 to 30).map(_ => (ids(rng.nextInt(ids.length)), ids(rng.nextInt(ids.length)))) :+
      ((Long.MinValue, Long.MaxValue))
    val got = Canon.connectedComponents(longPairs.toDF("id_a", "id_b")).as[(Long, Long)].collect()
    assert(got.toMap == unionFind(longPairs), s"divergence on pairs $longPairs")
  }

  test("star CC converges in O(log n) rounds where min-label needs O(diameter)") {
    val chain = (0 until 64).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val (labels, starRounds) = CanonTestAccess.componentsWithRounds(chain.toDF("a", "b"))
    assert(labels.select("canonical_id").distinct().as[String].collect().toSeq == Seq("n00"))
    val mlRounds = minLabelRounds(chain)
    assert(starRounds <= 12, s"star took $starRounds rounds")
    assert(mlRounds > starRounds,
      s"expected min-label ($mlRounds) to need more rounds than star ($starRounds)")
  }

  test("q28 CC oracle round budget is sufficient for the verify corpus (measured)") {
    val shared = SparkEntry.kg(spark)
    val pairs = Canon.synonymEdges(shared.concepts,
      graft.pipeline.Ingest.aliasesOf(shared.ex), 0.75)
      .as[(String, String)].collect().toSeq
    val iters = minLabelRounds(pairs)
    // the oracle chain runs exactly OracleRoundBudget propagation rounds;
    // min-label must converge within it (last round observes 0 changes)
    assert(iters <= Canon.OracleRoundBudget,
      s"min-label needed $iters rounds > oracle budget ${Canon.OracleRoundBudget} — " +
        "q28 would diverge from its oracle; raise Canon.OracleRoundBudget")
  }

  // ---- synonym edges and the canonical map --------------------------------

  test("abbreviationPairs: initials of multiword names match short ALL-CAPS names") {
    val concepts = Seq(
      ("web:Dependency Injection", "Dependency Injection"),
      ("web:DI", "DI"),
      ("web:Message Queue", "Message Queue"),
      ("web:MQ", "MQ"),
      ("web:Auth Module", "Auth Module"),
      ("web:Rate Limiter", "Rate Limiter")).toDF("id", "name")
    val pairs = Canon.abbreviationPairs(concepts)
      .as[(String, String)].collect().toSet
    assert(pairs == Set(
      ("web:Dependency Injection", "web:DI"),
      ("web:Message Queue", "web:MQ")))
  }

  test("nameSimilarityPairs: token-Jaccard blocking finds near-identical names") {
    val concepts = Seq(
      ("1", "Session Store Service"),
      ("2", "Session Store"),
      ("3", "Audit Log"),
      ("4", "Completely Unrelated Thing")).toDF("id", "name")
    val pairs = Canon.nameSimilarityPairs(concepts, threshold = 0.6)
      .as[(String, String)].collect().toSet
    assert(pairs == Set(("1", "2")))
  }

  test("canonicalMap: alias + abbreviation + similarity merge into one component") {
    val concepts = Seq(
      ("web:Dependency Injection", "Dependency Injection"),
      ("web:DI", "DI"),
      ("web:Auth Module", "Auth Module")).toDF("id", "name")
    val aliasPairs = Seq(("Dependency Injection", "DI")).toDF("name_a", "name_b")
    val cm = Canon.canonicalMap(concepts, aliasPairs, 0.75)
      .as[(String, String)].collect().toMap
    // lexicographic component minimum: 'I' < 'e', so "web:DI" wins
    assert(cm("web:DI") == "web:DI")
    assert(cm("web:Dependency Injection") == "web:DI")
    assert(cm("web:Auth Module") == "web:Auth Module") // singleton: identity
  }

  // ---- incremental canonicalization ---------------------------------------

  test("incremental canon: contract+relabel equals global CC on random splits") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      // random sparse graph on 40 nodes; random 2-batch split of the edges
      val edges = (0 until 45).map { _ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter { case (a, b) => a != b }.distinct
      val (b1, b2) = edges.partition(_ => rnd.nextBoolean())
      val all = edges.toDF("id_a", "id_b")
      val global = Canon.connectedComponents(all)
        .as[(Long, Long)].collect().toMap

      val committed = Canon.connectedComponents(b1.toDF("id_a", "id_b"))
      val (inc, relabel) = IncrementalCanon.updateWithRelabel(
        committed, b2.toDF("id_a", "id_b"))
      val got = inc.as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length, s"dup ids trial $trial")
      assert(got.toMap == global, s"trial $trial mismatch")
      // relabel only carries representatives whose label changed
      val rl = relabel.as[(Long, Long)].collect()
      assert(rl.forall { case (old, nu) => old != nu })
    }
  }

  test("incremental canon: new ids, merges of two committed components") {
    // committed: {1,2} and {5,6}; batch bridges them via NEW node 9 and
    // adds a disjoint new pair {20,21}
    val committed = Canon.connectedComponents(
      Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"))
    val updated = IncrementalCanon.update(committed,
      Seq((2L, 9L), (9L, 6L), (20L, 21L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(updated == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L,
      20L -> 20L, 21L -> 20L))
  }
}
