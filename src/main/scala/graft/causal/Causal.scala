package graft.causal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G5 — the causal package (src/qortex/causal/): DAG construction from KG
  * edges, d-separation queries, causal credit assignment, statistical
  * refutation, and the causal rule projector.
  *
  * Scale split, mirroring how the reference actually runs:
  *  - EDGE ORIENTATION (`causalEdges`) is a DataFrame transform over the
  *    full committed edge table — the 100-TB half.
  *  - The DAG ALGORITHMS (cycle breaking, d-separation, credit paths)
  *    operate on ONE domain's oriented subgraph, driver-side — exactly the
  *    reference's bound (dag.py:96 caps find_nodes at 100 000; every
  *    networkx call is in-process).
  *  - REFUTATION's contingency statistics (`Refutation`) are genuinely
  *    data-scale — chi-squared over billions of observations — so they are
  *    pure DataFrame aggregations; only the final scalar p-value is driver
  *    math.
  *  - CREDIT over a reward STREAM (`CreditAssigner.creditStream`) maps a
  *    broadcast DAG over the distributed rewards table and aggregates
  *    posterior deltas for Thompson.
  */
object Causal {

  /** Relation → (direction, default strength) — types.py:186-197 verbatim
    * semantics (keys uppercased to this repo's relation-type convention).
    * BIDIRECTIONAL / NONE have no DAG representation and are dropped;
    * REVERSE edges flip source and target (dag.py:120-146).
    */
  val RelationCausalDirection: Map[String, (String, Double)] = Map(
    "REQUIRES" -> ("forward", 0.9),
    "IMPLEMENTS" -> ("reverse", 0.85),
    "REFINES" -> ("reverse", 0.8),
    "PART_OF" -> ("reverse", 0.8),
    "USES" -> ("forward", 0.75),
    "SUPPORTS" -> ("forward", 0.7),
    "CHALLENGES" -> ("forward", 0.7),
    "CONTRADICTS" -> ("bidirectional", 0.7),
    "SIMILAR_TO" -> ("none", 0.3),
    "ALTERNATIVE_TO" -> ("none", 0.3))

  /** Distributed edge orientation: KG edges → directed causal edges
    * (src, dst, relation_type, strength = confidence × default). One
    * broadcast-join against the 10-row mapping, codegen'd.
    */
  def causalEdges(
      edges: DataFrame, // (source_id, target_id, relation_type, confidence)
      mapping: Map[String, (String, Double)] = RelationCausalDirection
  )(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val m = mapping.toSeq.map { case (rel, (dir, s)) => (rel, dir, s) }
      .toDF("relation_type", "__dir", "__s")
    edges
      .join(broadcast(m), Seq("relation_type"))
      .filter(col("__dir").isin("forward", "reverse"))
      .select(
        when(col("__dir") === "forward", col("source_id"))
          .otherwise(col("target_id")).as("src"),
        when(col("__dir") === "forward", col("target_id"))
          .otherwise(col("source_id")).as("dst"),
        col("relation_type"),
        (col("confidence") * col("__s")).as("strength"))
  }

  /** The reference's in-process graph bound: dag.py:96 loads at most
    * 100 000 nodes via find_nodes(limit=...). Every distributed→driver
    * collect in this package (and Service.propagateCredit) goes through
    * [[collectEdgesBounded]] / [[collectIdsBounded]] with this default so
    * one hot domain cannot OOM the driver silently at 100× scale.
    */
  val MaxDriverGraph = 100000

  /** Collect oriented causal edges with a hard cap. The cheap path probes
    * `limit(max+1)`; only an over-cap frame pays the deterministic
    * strongest-first re-fetch (order by strength desc, then src/dst), so
    * truncation keeps the highest-signal subgraph and is reproducible.
    * Loud on drop — never a silent truncation.
    */
  def collectEdgesBounded(
      oriented: DataFrame, // (src, dst, relation_type, strength)
      maxEdges: Int = MaxDriverGraph): Seq[(String, String, String, Double)] = {
    def decode(rows: Array[org.apache.spark.sql.Row]) =
      rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    val probe = oriented.limit(maxEdges + 1).collect()
    if (probe.length <= maxEdges) decode(probe)
    else {
      System.err.println(
        s"[graft] WARN causal driver graph over cap: > $maxEdges oriented edges; " +
          s"keeping the $maxEdges strongest (deterministic strength-desc order). " +
          "The reference bounds its in-process DAG the same way (dag.py:96).")
      decode(oriented
        .orderBy(col("strength").desc, col("src").asc, col("dst").asc)
        .limit(maxEdges).collect())
    }
  }

  /** Collect an id column with a hard cap (find_nodes limit=100_000,
    * dag.py:105). Deterministic ascending order on the over-cap path.
    */
  def collectIdsBounded(
      ids: DataFrame, // single string column
      maxNodes: Int = MaxDriverGraph): Seq[String] = {
    val c = col(ids.columns.head)
    val probe = ids.limit(maxNodes + 1).collect()
    if (probe.length <= maxNodes) probe.toSeq.map(_.getString(0))
    else {
      System.err.println(
        s"[graft] WARN causal driver node set over cap: > $maxNodes ids; " +
          s"keeping the first $maxNodes in ascending id order (dag.py:96 bound).")
      ids.orderBy(c.asc).limit(maxNodes).collect().toSeq.map(_.getString(0))
    }
  }
}

/** One domain's causal DAG: adjacency + strengths, acyclic after
  * construction (weakest-edge cycle breaking, dag.py:155-180). Bounded by
  * the per-domain concept count — the same in-process bound the reference
  * places on its networkx graph.
  */
final class CausalDag private (
    initialEdges: Seq[(String, String, String, Double)],
    /** Isolated nodes with no causal edges — from_backend loads ALL domain
      * nodes before the edges (dag.py:105-113), so an edge-less concept is
      * still a DAG node and receives direct credit.
      */
    extraNodes: Seq[String]) extends Serializable {

  private val adj = scala.collection.mutable.Map.empty[String, scala.collection.mutable.LinkedHashSet[String]]
  private val radj = scala.collection.mutable.Map.empty[String, scala.collection.mutable.LinkedHashSet[String]]
  private val strengths = scala.collection.mutable.Map.empty[(String, String), Double]
  private val rels = scala.collection.mutable.Map.empty[(String, String), String]

  extraNodes.foreach { n =>
    adj.getOrElseUpdate(n, scala.collection.mutable.LinkedHashSet.empty)
    radj.getOrElseUpdate(n, scala.collection.mutable.LinkedHashSet.empty)
  }
  initialEdges.foreach { case (s, t, rel, w) =>
    adj.getOrElseUpdate(s, scala.collection.mutable.LinkedHashSet.empty)
    adj.getOrElseUpdate(t, scala.collection.mutable.LinkedHashSet.empty)
    radj.getOrElseUpdate(s, scala.collection.mutable.LinkedHashSet.empty)
    radj.getOrElseUpdate(t, scala.collection.mutable.LinkedHashSet.empty)
    adj(s) += t
    radj(t) += s
    strengths((s, t)) = w
    rels((s, t)) = rel
  }
  breakCycles()

  def nodeIds: Set[String] = adj.keySet.toSet
  def edgeCount: Int = strengths.size
  def parents(n: String): Set[String] = radj.get(n).map(_.toSet).getOrElse(Set.empty)
  def children(n: String): Set[String] = adj.get(n).map(_.toSet).getOrElse(Set.empty)
  def edgeStrength(s: String, t: String): Double = strengths.getOrElse((s, t), 0.0)
  def edges: Seq[(String, String, String, Double)] =
    strengths.keys.toSeq.sorted.map { case (s, t) => (s, t, rels((s, t)), strengths((s, t))) }

  private def transitive(start: String, step: String => Set[String]): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    var frontier = step(start)
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(step).diff(seen)
    }
    seen.toSet
  }

  def ancestors(n: String): Set[String] = transitive(n, parents)
  def descendants(n: String): Set[String] = transitive(n, children)

  def topologicalOrder(): Seq[String] = {
    val indeg = scala.collection.mutable.Map.empty[String, Int]
    nodeIds.toSeq.sorted.foreach(n => indeg(n) = parents(n).size)
    val ready = scala.collection.mutable.PriorityQueue.empty[String](Ordering[String].reverse)
    ready ++= indeg.collect { case (n, 0) => n }
    val out = Seq.newBuilder[String]
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      out += n
      children(n).toSeq.sorted.foreach { c =>
        indeg(c) -= 1
        if (indeg(c) == 0) ready += c
      }
    }
    out.result()
  }

  def isValidDag: Boolean = topologicalOrder().size == nodeIds.size

  /** Find one directed cycle, or None. Iterative DFS with an explicit
    * stack — a 100k-node path graph must not blow the JVM call stack.
    */
  private def findCycle(): Option[Seq[(String, String)]] = {
    val color = scala.collection.mutable.Map.empty[String, Int] // 0 white 1 gray 2 black
    val parent = scala.collection.mutable.Map.empty[String, String]
    for (root <- nodeIds.toSeq.sorted if color.getOrElse(root, 0) == 0) {
      // stack holds (node, remaining children iterator)
      val stack = scala.collection.mutable.Stack[(String, Iterator[String])]()
      color(root) = 1
      stack.push((root, children(root).toSeq.sorted.iterator))
      while (stack.nonEmpty) {
        val (n, it) = stack.top
        if (it.hasNext) {
          val c = it.next()
          color.getOrElse(c, 0) match {
            case 0 =>
              parent(c) = n
              color(c) = 1
              stack.push((c, children(c).toSeq.sorted.iterator))
            case 1 => // back edge n → c closes a cycle c → ... → n → c
              val path = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
              var cur = n
              while (cur != c) { path += ((parent(cur), cur)); cur = parent(cur) }
              return Some((path.reverse :+ ((n, c))).toSeq)
            case _ => ()
          }
        } else {
          color(n) = 2
          stack.pop()
        }
      }
    }
    None
  }

  /** Remove the lowest-strength edge of each cycle until acyclic
    * (dag.py:155-180).
    */
  private def breakCycles(): Unit = {
    var c = findCycle()
    while (c.isDefined) {
      val weakest = c.get.minBy { case (u, v) => strengths.getOrElse((u, v), 1.0) }
      adj(weakest._1) -= weakest._2
      radj(weakest._2) -= weakest._1
      strengths -= weakest
      rels -= weakest
      c = findCycle()
    }
  }
}

object CausalDag {

  /** Build from explicit directed edges (dag.py:46-82), optionally seeding
    * edge-less nodes (from_backend's find_nodes pass, dag.py:105-113).
    */
  def fromEdges(
      edges: Seq[(String, String, String, Double)],
      nodes: Seq[String] = Seq.empty): CausalDag =
    new CausalDag(edges, nodes)

  /** Build from a KG edge table: distributed orientation via
    * Causal.causalEdges, then collect ONE domain's oriented subgraph —
    * ENFORCED bound at `maxEdges` (dag.py:96 reads at most 100k nodes the
    * same way; over-cap keeps the strongest edges, loudly). `nodeIds`
    * optionally seeds the node set with the domain's concept ids (capped
    * at `maxEdges` too) so isolated concepts stay credit-addressable.
    */
  def fromEdgeFrame(
      edges: DataFrame,
      mapping: Map[String, (String, Double)] = Causal.RelationCausalDirection,
      maxEdges: Int = Causal.MaxDriverGraph,
      nodeIds: Option[DataFrame] = None
  )(implicit spark: SparkSession): CausalDag = {
    val rows = Causal.collectEdgesBounded(
      Causal.causalEdges(edges, mapping).select("src", "dst", "relation_type", "strength"),
      maxEdges)
    val nodes = nodeIds.map(Causal.collectIdsBounded(_, maxEdges)).getOrElse(Seq.empty)
    new CausalDag(rows, nodes)
  }
}

/** d-separation via the reachability ("Bayes ball") algorithm — the same
  * structural-independence semantics as nx.is_d_separator (dsep.py:27-41).
  */
final class DSeparation(dag: CausalDag) {

  final case class IndependenceAssertion(
      x: Set[String], y: Set[String], z: Set[String],
      isIndependent: Boolean, method: String = "d_separation",
      confidence: Double = 1.0)

  /** X ⟂ Y | Z iff no active trail from X to Y. Reachability over
    * (node, direction) states; colliders stay open only when in An(Z)∪Z.
    */
  def isDSeparated(x: Set[String], y: Set[String], z: Set[String]): IndependenceAssertion = {
    val ancZ = z ++ z.flatMap(dag.ancestors)
    // state: (node, cameFromChild); start as if entering each x from a child
    val visited = scala.collection.mutable.Set.empty[(String, Boolean)]
    val queue = scala.collection.mutable.Queue.empty[(String, Boolean)]
    x.foreach(n => queue.enqueue((n, true)))
    var connected = false
    while (queue.nonEmpty && !connected) {
      val (n, fromChild) = queue.dequeue()
      if (!visited((n, fromChild))) {
        visited += ((n, fromChild))
        if (y.contains(n)) connected = true
        else if (fromChild) {
          if (!z.contains(n)) {
            dag.parents(n).foreach(p => queue.enqueue((p, true)))
            dag.children(n).foreach(c => queue.enqueue((c, false)))
          }
        } else {
          if (!z.contains(n)) dag.children(n).foreach(c => queue.enqueue((c, false)))
          if (ancZ.contains(n)) dag.parents(n).foreach(p => queue.enqueue((p, true)))
        }
      }
    }
    IndependenceAssertion(x, y, z, isIndependent = !connected)
  }

  /** All (x, y, z) separations up to a conditioning-size bound, in the
    * reference's enumeration order (dsep.py:73-100): sorted node pairs,
    * conditioning sizes ascending, combinations lexicographic.
    */
  def findAllDSeparations(maxConditioningSize: Int = 3): Seq[IndependenceAssertion] = {
    val nodes = dag.nodeIds.toSeq.sorted
    for {
      (xi, i) <- nodes.zipWithIndex
      yi <- nodes.drop(i + 1)
      remaining = nodes.filter(n => n != xi && n != yi)
      size <- 0 to math.min(maxConditioningSize, remaining.size)
      zt <- remaining.combinations(size)
      a = isDSeparated(Set(xi), Set(yi), zt.toSet)
      if a.isIndependent
    } yield a
  }

  /** Smallest conditioning set separating x and y, or None (dsep.py:102-126). */
  def findMinimalConditioningSet(x: String, y: String): Option[Set[String]] = {
    val remaining = dag.nodeIds.toSeq.sorted.filter(n => n != x && n != y)
    (0 to remaining.size).iterator
      .flatMap(size => remaining.combinations(size))
      .map(_.toSet)
      .find(z => isDSeparated(Set(x), Set(y), z).isIndependent)
  }
}

/** Causal credit assignment (credit.py): reward flows from a rule's
  * concepts back through DAG ancestry, decaying per hop × edge strength;
  * output feeds Thompson posteriors.
  */
object CreditAssigner {
  final case class CreditAssignment(
      conceptId: String, credit: Double, path: Seq[String], method: String)

  /** credit.py:110-136 — the single definition of the credit → (α, β)
    * delta convention, shared by the instance method, the distributed
    * stream bridge, and Service.propagateCredit.
    */
  def toPosteriorUpdates(assignments: Seq[CreditAssignment]): Map[String, (Double, Double)] =
    assignments.groupBy(_.conceptId).map { case (cid, as) =>
      cid -> (
        as.filter(_.credit >= 0).map(_.credit).sum,
        as.filter(_.credit < 0).map(a => math.abs(a.credit)).sum)
    }
}

final class CreditAssigner(
    dag: CausalDag,
    decayFactor: Double = 0.5,
    minCredit: Double = 0.01,
    maxDepth: Int = 50) extends Serializable {
  import CreditAssigner.CreditAssignment

  /** credit.py:31-72: direct credit to rule concepts, decayed credit to
    * ancestors; each concept credited once (first path wins).
    */
  def assignCredit(
      ruleConceptIds: Seq[String],
      reward: Double,
      magnitude: Double = 1.0): Seq[CreditAssignment] = {
    val out = Seq.newBuilder[CreditAssignment]
    val seen = scala.collection.mutable.Set.empty[String]
    val base = reward * magnitude
    for (cid <- ruleConceptIds if dag.nodeIds.contains(cid) && !seen(cid)) {
      seen += cid
      out += CreditAssignment(cid, base, Seq(cid), "direct")
    }
    def propagate(n: String, credit: Double, path: Seq[String], depth: Int): Unit = {
      if (depth >= maxDepth) return
      for (p <- dag.parents(n).toSeq.sorted if !seen(p)) {
        val c = credit * decayFactor * dag.edgeStrength(p, n)
        if (math.abs(c) >= minCredit) {
          seen += p
          val path2 = p +: path
          out += CreditAssignment(p, c, path2, "ancestor")
          propagate(p, c, path2, depth + 1)
        }
      }
    }
    for (cid <- ruleConceptIds if dag.nodeIds.contains(cid)) propagate(cid, base, Seq(cid), 0)
    out.result()
  }

  /** credit.py:110-136: positive credit → alpha delta, negative → beta. */
  def toPosteriorUpdates(assignments: Seq[CreditAssignment]): Map[String, (Double, Double)] =
    CreditAssigner.toPosteriorUpdates(assignments)

  /** Distributed bridge: a rewards STREAM (rule concept_ids + reward) →
    * per-concept posterior deltas. The DAG broadcasts with this (small,
    * per-domain) instance; the rewards table is the big side. Output joins
    * straight onto Thompson posteriors as (alpha_delta, beta_delta).
    */
  def creditStream(rewards: DataFrame /* (concept_ids ARRAY, reward) */)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val self = this
    rewards
      .select(col("concept_ids"), col("reward").cast("double"))
      .as[(Seq[String], Double)]
      .flatMap { case (cids, reward) =>
        self.assignCredit(cids, reward).map(a => (a.conceptId, a.credit))
      }
      .toDF("concept_id", "credit")
      .groupBy("concept_id")
      .agg(
        sum(when(col("credit") >= 0, col("credit")).otherwise(0.0)).as("alpha_delta"),
        sum(when(col("credit") < 0, -col("credit")).otherwise(0.0)).as("beta_delta"))
  }
}

/** Statistical refutation of d-separation claims against observed data
  * (refutation.py): chi-squared (conditional) independence tests. The
  * contingency counts are DataFrame aggregations — the observations table
  * can be arbitrarily large; only scalar test statistics reach the driver.
  */
object Refutation {

  final case class RefutationResult(
      x: Set[String], y: Set[String], z: Set[String],
      claimedIndependent: Boolean,
      testStatistic: Double, pValue: Double, dof: Int,
      consistent: Boolean, sampleSize: Long)

  /** Regularized upper incomplete gamma Q(s, x) — the chi-squared survival
    * function is Q(dof/2, stat/2). Series for x < s+1, Lentz continued
    * fraction otherwise (standard numerical formulation).
    */
  private[causal] def gammaQ(s: Double, x: Double): Double = {
    if (x <= 0.0) return 1.0
    val lg = logGamma(s)
    if (x < s + 1.0) {
      // P(s,x) by series, Q = 1 - P
      var term = 1.0 / s
      var sum = term
      var n = 1
      while (math.abs(term) > math.abs(sum) * 1e-15 && n < 1000) {
        term *= x / (s + n)
        sum += term
        n += 1
      }
      1.0 - sum * math.exp(-x + s * math.log(x) - lg)
    } else {
      // Q(s,x) by Lentz continued fraction
      var b = x + 1.0 - s
      var c = 1.0 / 1e-300
      var d = 1.0 / b
      var h = d
      var i = 1
      var del = 0.0
      do {
        val an = -i * (i - s)
        b += 2.0
        d = an * d + b; if (math.abs(d) < 1e-300) d = 1e-300
        c = b + an / c; if (math.abs(c) < 1e-300) c = 1e-300
        d = 1.0 / d
        del = d * c
        h *= del
        i += 1
      } while (math.abs(del - 1.0) > 1e-15 && i < 1000)
      h * math.exp(-x + s * math.log(x) - lg)
    }
  }

  private def logGamma(x: Double): Double = {
    // Lanczos approximation (g=7, n=9)
    val g = 7.0
    val coef = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - logGamma(1.0 - x)
    else {
      val xx = x - 1.0
      var a = coef(0)
      val t = xx + g + 0.5
      for (i <- 1 until 9) a += coef(i) / (xx + i)
      0.5 * math.log(2.0 * math.Pi) + (xx + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  def chiSquarePValue(stat: Double, dof: Int): Double =
    if (dof <= 0) 1.0 else gammaQ(dof / 2.0, stat / 2.0)

  /** Chi-squared statistic + dof of one contingency table given as
    * (xLabel, yLabel) → count. Yates continuity correction for 2×2 tables,
    * matching scipy.chi2_contingency's default (refutation.py:119-141).
    */
  private def chi2Table(counts: Map[(String, String), Long]): (Double, Int) = {
    val xs = counts.keys.map(_._1).toSeq.distinct.sorted
    val ys = counts.keys.map(_._2).toSeq.distinct.sorted
    if (xs.size < 2 || ys.size < 2) return (0.0, 0)
    val n = counts.values.sum.toDouble
    val rowSum = xs.map(x => x -> ys.map(y => counts.getOrElse((x, y), 0L)).sum.toDouble).toMap
    val colSum = ys.map(y => y -> xs.map(x => counts.getOrElse((x, y), 0L)).sum.toDouble).toMap
    val dof = (xs.size - 1) * (ys.size - 1)
    val yates = dof == 1
    var stat = 0.0
    for (x <- xs; y <- ys) {
      val e = rowSum(x) * colSum(y) / n
      if (e > 0) {
        val o = counts.getOrElse((x, y), 0L).toDouble
        val diff = if (yates) math.abs(o - e) - 0.5 else o - e
        stat += diff * diff / e
      }
    }
    (stat, dof)
  }

  /** Test one independence claim against an observations DataFrame whose
    * columns are the (categorical) variables. Joint variables combine with
    * '|' like the reference (refutation.py:112-117); conditional tests
    * stratify by Z and pool statistics (CMH-style, :143-195), skipping
    * strata with < 5 samples or a degenerate table.
    *
    * The only Spark actions: one groupBy-count over (z, x, y) — everything
    * else is arithmetic over the collected (small) contingency cells.
    */
  def testIndependence(
      data: DataFrame,
      x: Set[String], y: Set[String], z: Set[String],
      claimedIndependent: Boolean,
      significanceLevel: Double = 0.05
  ): RefutationResult = {
    // NULL-safe joint key: a null value is its own category ("None", the
    // reference's str(None)), never silently dropped by concat_ws — two
    // distinct configurations must not merge into one contingency cell
    def joint(vars: Set[String]) = concat_ws("|",
      vars.toSeq.sorted.map(v => coalesce(col(v).cast("string"), lit("None"))): _*)
    val n = data.count()
    require(n >= 5, s"Insufficient data: $n samples (need >= 5)")
    val cells = data
      .groupBy(
        (if (z.isEmpty) lit("") else joint(z)).as("__z"),
        joint(x).as("__x"), joint(y).as("__y"))
      .agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))

    val byStratum = cells.groupBy(_._1)
    var totalStat = 0.0
    var totalDof = 0
    for ((_, rows) <- byStratum.toSeq.sortBy(_._1)) {
      if (rows.map(_._4).sum >= 5) {
        val (stat, dof) = chi2Table(rows.map(r => (r._2, r._3) -> r._4).toMap)
        totalStat += stat
        totalDof += dof
      }
    }
    require(totalDof > 0, "Insufficient data in all strata for the test")
    val p = chiSquarePValue(totalStat, totalDof)
    val dataSaysIndependent = p > significanceLevel
    RefutationResult(x, y, z, claimedIndependent, totalStat, p, totalDof,
      consistent = dataSaysIndependent == claimedIndependent, sampleSize = n)
  }
}

/** Causal rule projector (projector.py): d-separation assertions → rules
  * with derivation "causal", one per (x, y) pair (first = smallest
  * conditioning set, by enumeration order), feeding graft.projectors.
  */
object CausalRules {

  /** Derive causal independence (and optionally dependency) rules from a
    * domain's DAG. Returns the same flat shape Projectors.ruleSource
    * consumes, plus the conditioning-set provenance.
    */
  def derive(
      dag: CausalDag,
      domain: String,
      maxConditioningSize: Int = 3,
      includeDependencies: Boolean = false
  )(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val engine = new DSeparation(dag)
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    val rows = Seq.newBuilder[(String, String, String, String, Double, Seq[String], String, String)]
    for (a <- engine.findAllDSeparations(maxConditioningSize)) {
      val key = (a.x.toSeq.sorted.mkString(","), a.y.toSeq.sorted.mkString(","))
      if (!seen(key)) {
        seen += key
        val xs = a.x.toSeq.sorted.mkString(", ")
        val ys = a.y.toSeq.sorted.mkString(", ")
        val text =
          if (a.z.nonEmpty)
            s"$xs and $ys are conditionally independent given ${a.z.toSeq.sorted.mkString(", ")} (d-separated in the causal graph)"
          else s"$xs and $ys are unconditionally independent (d-separated in the causal graph)"
        rows += ((s"causal:${key._1}<>${key._2}", text, domain, "causal_independence",
          a.confidence, (a.x ++ a.y).toSeq.sorted, a.z.toSeq.sorted.mkString(","),
          a.method))
      }
    }
    if (includeDependencies) {
      val nodes = dag.nodeIds.toSeq.sorted
      for {
        (xi, i) <- nodes.zipWithIndex
        yi <- nodes.drop(i + 1)
        key = (xi, yi)
        if !seen(key)
      } {
        seen += key
        rows += ((s"causal:$xi<>$yi",
          s"$xi and $yi are causally dependent (d-connected in the causal graph)",
          domain, "causal_dependency", 1.0, Seq(xi, yi), "", "d_separation"))
      }
    }
    rows.result().toDF("id", "text", "domain", "category", "confidence",
      "source_concepts", "conditioning_set", "method")
  }
}
