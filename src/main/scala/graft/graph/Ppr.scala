package graft.graph

import graft.core.Loops
import graft.core.Loops.release
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

import scala.collection.mutable

/** Personalized PageRank — the query-side graph algorithm of the
  * reference (G1).
  *
  * Semantics from src/qortex/core/memory.py:231-372 (InMemory power
  * iteration; the Memgraph variant at backend.py:777-957 pulls the whole
  * graph client-side and runs the same loop):
  *   - undirected view: every edge contributes both directions
  *     (memory.py:316-326 adds the reverse edge)
  *   - edge weight = confidence; per-step contribution is
  *     weight / Σ(out-weights of the source) — weighted-degree
  *     normalization (memory.py:331-339); a null confidence keeps its
  *     endpoints as nodes and contributes nothing
  *   - π(t+1) = d · (Â π) + (1 − d) · personalization, d = 0.85 at call
  *     sites (adapter.py:514-544), tol 1e-6 on Σ|Δ|, ≤ 100 iterations
  *   - personalization = normalized seed weights (uniform fallback) over
  *     ALL nodes (edge endpoints ∪ seed ids), scores ≤ 1e-8 dropped from
  *     the result (memory.py:357-366); duplicate or null seed ids are
  *     rejected
  *
  * Two executions of the same loop, chosen by `prepare` from the size of
  * the undirected adjacency (2 × edge rows):
  *   - below `Loops.RowsPerPartition` rows the adjacency is collected once
  *     into a driver-side CSR (`DriverGraph`) and every run iterates
  *     there. That constant is the loop width: below it the DataFrame loop
  *     would run every stage as ONE task anyway, so each of its ~100 jobs
  *     per query was pure scheduling overhead around work a single thread
  *     does in milliseconds. The CSR is bounded by the same constant —
  *     < 100k adjacency rows, a few MB of arrays — and a query service
  *     holds it once (GraftService.pprGraph). A run collects only its
  *     seeds and extra edges.
  *   - at or above it the adjacency stays distributed (`DistributedGraph`)
  *     and the loop runs as DataFrame joins over the adjacency
  *     repartitioned on src to the loop's width: ranks ⋈ edges →
  *     groupBy(dst).sum → join personalization, checkpointed once per
  *     block of iterations.
  *
  * Both run blocks of `BlockSize` iterations with one Σ|Δ| convergence
  * probe per block (none when tol ≤ 0), so they stop at the same block.
  */
object Ppr {

  /** A query-reusable normalized graph, built once from a committed edge
    * table. A query SERVICE over a committed snapshot prepares this ONCE
    * and serves every query from it — the per-query work drops to merging
    * that query's ephemeral online edges (tiny) and the loop itself.
    */
  sealed trait PreparedGraph {

    /** Rows of the undirected adjacency (both directions of every edge). */
    def rows: Long
  }

  /** The undirected weighted edge list and per-source out-weight sums,
    * both checkpointed leaves.
    */
  final case class DistributedGraph(und: DataFrame, outW: DataFrame, rows: Long)
      extends PreparedGraph

  /** The undirected adjacency on the driver in compressed sparse row form
    * over dense int node ids: the out-edges of node `i` are
    * `dst`/`w` at `offsets(i) until offsets(i + 1)`. Null-confidence
    * edges are left out of the arrays (they contribute nothing) but their
    * endpoints keep an id. `ends` keeps every collected edge row, null
    * confidence included, as its (source, target) dense ids back to back.
    */
  final class DriverGraph private[Ppr] (
      private[graft] val idType: DataType,
      private[graft] val ids: Array[Any], // dense id → node id
      private[graft] val index: Map[Any, Int], // node id → dense id
      private[graph] val offsets: Array[Int],
      private[graph] val dst: Array[Int],
      private[graph] val w: Array[Double],
      private[graph] val outW: Array[Double], // Σ non-null out-weights per source
      private[graft] val ends: Array[Int],
      val rows: Long
  ) extends PreparedGraph

  /** Iterations chained per convergence probe (and, on the distributed
    * path, per checkpoint). Measured: larger blocks for the fixed-iteration
    * case LOSE on the DataFrame loop — the deeper Catalyst plan costs more
    * per materialization than the saved job round-trips.
    */
  private val BlockSize = 5

  /** Build the reusable normalized adjacency from a committed edge table
    * (source_id, target_id, confidence).
    */
  def prepare(edges: DataFrame)(implicit spark: SparkSession): PreparedGraph =
    prepare(edges, Loops.RowsPerPartition)

  /** `rowLimit`: adjacencies with fewer rows go to the driver. Tests pass 0
    * to force the distributed loop on small graphs.
    */
  private[graph] def prepare(edges: DataFrame, rowLimit: Long)(
      implicit spark: SparkSession): PreparedGraph = {
    // the adjacency holds both directions of every edge: it is below the
    // limit iff fewer than ⌈rowLimit/2⌉ edges come back from a capped
    // collect. That collect is the only pass over the caller's plan on the
    // driver path; on a larger graph the checkpoint below reads the plan
    // again in full, so callers with big graphs pass a materialized frame.
    val cap = ((rowLimit + 1) / 2).toInt
    val idType = edges.schema("source_id").dataType
    val head = if (cap > 0) edgeRows(edges, idType).limit(cap).collect() else Array.empty[Row]
    if (head.length < cap) driverGraph(head, idType)
    else {
      // localCheckpoint (NOT persist): persist caches the *data* but keeps
      // the full upstream logical plan attached to every derived frame, so
      // each loop block pays Catalyst re-analysis of the whole extraction →
      // linking → pruning tree. Checkpointing truncates the plan to a leaf.
      val und = undirected(edges).localCheckpoint()
      val rows = und.count()
      val outW = und.groupBy("src").agg(sum("w").as("wout")).localCheckpoint()
      DistributedGraph(und, outW, rows)
    }
  }

  /** @param edges  (source_id, target_id, confidence)
    * @param seeds  (id, weight) — personalization vector (need not sum to 1)
    */
  def run(
      edges: DataFrame,
      seeds: DataFrame,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      minScore: Double = 1e-8
  )(implicit spark: SparkSession): DataFrame =
    runOnce(prepare(edges), None, seeds, damping, tol, maxIter, minScore)

  /** `runGraph` over a graph prepared for this call alone, which is
    * released before returning: the result reads none of its blocks.
    */
  private[graph] def runOnce(
      graph: PreparedGraph,
      extraEdges: Option[DataFrame],
      seeds: DataFrame,
      damping: Double,
      tol: Double,
      maxIter: Int,
      minScore: Double
  )(implicit spark: SparkSession): DataFrame = {
    val ranks = runGraph(graph, extraEdges, seeds, damping, tol, maxIter, minScore)
    graph match {
      case g: DistributedGraph => release(g.und); release(g.outW)
      case _: DriverGraph =>
    }
    ranks
  }

  /** Run from a prepared graph plus per-query extra edges (the online
    * similarity edges of one retrieval, adapter.py:532). Only the extras
    * pay new normalization work: their out-weight delta folds into the
    * cached sums, and sources untouched by extras keep their cached
    * normalization.
    */
  def runPrepared(
      graph: PreparedGraph,
      extraEdges: DataFrame, // (source_id, target_id, confidence)
      seeds: DataFrame,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      minScore: Double = 1e-8
  )(implicit spark: SparkSession): DataFrame =
    runGraph(graph, Some(extraEdges), seeds, damping, tol, maxIter, minScore)

  private def runGraph(
      graph: PreparedGraph,
      extraEdges: Option[DataFrame],
      seeds: DataFrame,
      damping: Double,
      tol: Double,
      maxIter: Int,
      minScore: Double
  )(implicit spark: SparkSession): DataFrame = graph match {
    case g: DriverGraph => runDriver(g, extraEdges, seeds, damping, tol, maxIter, minScore)
    case g: DistributedGraph => runDistributed(g, extraEdges, seeds, damping, tol, maxIter, minScore)
  }

  private def edgeRows(edges: DataFrame, idType: DataType): DataFrame =
    edges.select(col("source_id").cast(idType), col("target_id").cast(idType),
      col("confidence").cast("double"))

  private def undirected(edges: DataFrame): DataFrame = {
    def direction(from: String, to: String) =
      edges.select(col(from).as("src"), col(to).as("dst"), col("confidence").cast("double").as("w"))
    direction("source_id", "target_id").union(direction("target_id", "source_id"))
  }

  private def duplicateSeed(id: Any): Nothing =
    throw new IllegalArgumentException(s"PPR seeds list id '$id' more than once")

  // ---- driver path ---------------------------------------------------------

  /** Both directions of every collected (source_id, target_id, confidence)
    * row with a non-null confidence, as (src, dst, w) arrays of dense ids;
    * `node` gives every endpoint an id, null-confidence ones included.
    */
  private def bothDirections(edges: Array[Row], node: Any => Int)
      : (Array[Int], Array[Int], Array[Double]) = {
    val src = mutable.ArrayBuilder.make[Int]
    val dst = mutable.ArrayBuilder.make[Int]
    val w = mutable.ArrayBuilder.make[Double]
    for (e <- edges) {
      val a = node(e.get(0))
      val b = node(e.get(1))
      if (!e.isNullAt(2)) {
        src += a; dst += b; w += e.getDouble(2)
        src += b; dst += a; w += e.getDouble(2)
      }
    }
    (src.result(), dst.result(), w.result())
  }

  /** CSR over collected (source_id, target_id, confidence) rows. */
  private def driverGraph(edges: Array[Row], idType: DataType): DriverGraph = {
    val index = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    def node(id: Any): Int = index.getOrElseUpdate(id, { ids += id; ids.size - 1 })
    val ends = new Array[Int](2 * edges.length)
    for ((e, k) <- edges.zipWithIndex) { ends(2 * k) = node(e.get(0)); ends(2 * k + 1) = node(e.get(1)) }
    val (s, d, ws) = bothDirections(edges, node)
    val n = ids.size
    // counting sort by source
    val offsets = new Array[Int](n + 1)
    s.foreach(i => offsets(i + 1) += 1)
    for (i <- 0 until n) offsets(i + 1) += offsets(i)
    val next = offsets.clone()
    val csrDst = new Array[Int](s.length)
    val csrW = new Array[Double](s.length)
    val outW = new Array[Double](n)
    for (k <- s.indices) {
      val p = next(s(k))
      csrDst(p) = d(k); csrW(p) = ws(k); next(s(k)) += 1
      outW(s(k)) += ws(k)
    }
    new DriverGraph(idType, ids.toArray, index.toMap, offsets, csrDst, csrW, outW, ends,
      2L * edges.length)
  }

  private def runDriver(
      g: DriverGraph,
      extraEdges: Option[DataFrame],
      seeds: DataFrame,
      damping: Double,
      tol: Double,
      maxIter: Int,
      minScore: Double
  )(implicit spark: SparkSession): DataFrame = {
    val extras = extraEdges.fold(Array.empty[Row])(edgeRows(_, g.idType).collect())
    val seedRows = seeds.select(col("id").cast(g.idType), col("weight").cast("double")).collect()
    val ranks = rankOnDriver(g, extras, seedRows, damping, tol, maxIter, minScore)
    spark.createDataFrame(java.util.Arrays.asList(ranks: _*),
      StructType(Seq(StructField("id", g.idType), StructField("rank", DoubleType))))
  }

  /** The driver path's power iteration over rows already on the driver:
    * `extras` are (source_id, target_id, confidence: Double or null) and
    * `seeds` (id, weight: Double or null), ids of the graph's id type.
    * Returns (id, rank) rows with rank > `minScore`, the graph's nodes
    * first.
    *
    * The result depends only on the rows, not on the order they arrive in:
    * nodes beyond the prepared graph (extra-edge endpoints, edgeless seeds)
    * get dense ids in Spark's order of their values, and the extras fold
    * in (source, target, weight) order. So a caller that computes the same
    * extras and seeds on the driver (graft.query.SnapshotIndex) gets the
    * ranks of `runPrepared` bit for bit.
    */
  private[graft] def rankOnDriver(
      g: DriverGraph,
      extras: Array[Row],
      seedRows: Array[Row],
      damping: Double,
      tol: Double,
      maxIter: Int,
      minScore: Double
  ): Array[Row] = {
    if (seedRows.exists(_.isNullAt(0)))
      throw new IllegalArgumentException("PPR seeds contain a null id")
    val base = g.ids.length
    val added: Map[Any, Int] =
      (extras.iterator.flatMap(e => Iterator(e.get(0), e.get(1))) ++ seedRows.iterator.map(_.get(0)))
        .filterNot(g.index.contains).toArray.distinct
        .sorted(Ordering.by[Any, Option[Any]](Option(_))(Ordering.Option(sparkOrdering(g.idType))))
        .zipWithIndex.map { case (id, i) => id -> (base + i) }.toMap
    def node(id: Any): Int = g.index.getOrElse(id, added(id))
    val (xs0, xd0, xw0) = bothDirections(extras, node)
    val byKey = xs0.indices.sortBy(k => (xs0(k), xd0(k), xw0(k)))(
      Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.Double.TotalOrdering))
    val xs = byKey.map(xs0).toArray
    val xd = byKey.map(xd0).toArray
    val xw = byKey.map(xw0).toArray
    val n = base + added.size

    // the extras' out-weight deltas fold into a copy of the cached sums
    val wout = java.util.Arrays.copyOf(g.outW, n)
    for (k <- xs.indices) wout(xs(k)) += xw(k)

    val pers = new Array[Double](n)
    val seen = new Array[Boolean](n)
    for (r <- seedRows) {
      val i = node(r.get(0))
      if (seen(i)) duplicateSeed(r.get(0))
      seen(i) = true
      pers(i) = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
    }
    val totalSeed = pers.sum
    for (i <- 0 until n) pers(i) = if (totalSeed <= 0.0) 1.0 / n else pers(i) / totalSeed

    def step(rank: Array[Double]): Array[Double] = {
      val inflow = new Array[Double](n)
      var s = 0
      while (s < base) {
        if (wout(s) != 0.0) {
          var e = g.offsets(s)
          while (e < g.offsets(s + 1)) {
            inflow(g.dst(e)) += rank(s) * (g.w(e) / wout(s))
            e += 1
          }
        }
        s += 1
      }
      for (k <- xs.indices if wout(xs(k)) != 0.0)
        inflow(xd(k)) += rank(xs(k)) * (xw(k) / wout(xs(k)))
      for (i <- 0 until n) inflow(i) = damping * inflow(i) + (1.0 - damping) * pers(i)
      inflow
    }

    var rank = pers
    var iter = 0
    var delta = Double.MaxValue
    while (delta > tol && iter < maxIter) {
      val blockStart = rank
      val steps = math.min(BlockSize, maxIter - iter)
      for (_ <- 0 until steps) rank = step(rank)
      if (tol > 0.0) {
        delta = 0.0
        for (i <- 0 until n) delta += math.abs(rank(i) - blockStart(i))
      }
      iter += steps
    }

    val addedIds = new Array[Any](added.size)
    added.foreach { case (id, i) => addedIds(i - base) = id }
    (0 until n).iterator.filter(i => rank(i) > minScore)
      .map(i => Row(if (i < base) g.ids(i) else addedIds(i - base), rank(i))).toArray
  }

  /** Spark SQL's order on non-null values of `t`, over external (Row) values. */
  private def sparkOrdering(t: DataType): Ordering[Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
    Ordering.by(toCatalyst)(TypeUtils.getInterpretedOrdering(t))
  }

  // ---- distributed path ----------------------------------------------------

  private def runDistributed(
      graph: DistributedGraph,
      extraEdges: Option[DataFrame],
      seeds: DataFrame,
      damping: Double,
      tol: Double,
      maxIter: Int,
      minScore: Double
  )(implicit spark: SparkSession): DataFrame = {
    val extraUnd = extraEdges.map(undirected(_).localCheckpoint())
    val nExtra = extraUnd.fold(0L)(_.count()) // both directions already
    val (und, outW) = extraUnd match {
      case Some(x) if nExtra > 0L =>
        val delta = x.groupBy("src").agg(sum("w").as("__dw"))
        val merged = graph.outW.join(delta, Seq("src"), "full_outer")
          .select(col("src"),
            (coalesce(col("wout"), lit(0.0)) + coalesce(col("__dw"), lit(0.0))).as("wout"))
        (graph.und.unionByName(x), merged)
      case _ => (graph.und, graph.outW)
    }
    val adj0 = und.join(outW, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("wout")).as("p"))
      .localCheckpoint()
    extraUnd.foreach(release)
    runAdj(adj0, graph.rows + nExtra, seeds, damping, tol, maxIter, minScore)
  }

  private def runAdj(
      adj0: DataFrame,
      adjRows: Long, // adj0 rows = merged adjacency rows (the normalization join matches every row)
      seeds: DataFrame,
      damping: Double,
      tol: Double,
      maxIter: Int,
      minScore: Double
  )(implicit spark: SparkSession): DataFrame = {
    // right-size the loop's partitioning from the MEASURED adjacency:
    // ~100k edges per partition keeps a 10⁹-edge graph at real-cluster
    // width and a small graph in one partition. The width travels with the
    // data; the loop's own shuffles plan at the session width, which AQE
    // coalesces.
    val parts = math.max(1, (adjRows / Loops.RowsPerPartition).toInt + 1)
    val adj =
      if (adj0.rdd.getNumPartitions <= parts) adj0
      else {
        val a = adj0.repartition(parts, col("src")).localCheckpoint()
        release(adj0)
        a
      }

    // node set = edge endpoints ∪ seed ids: the reference's InMemory PPR
    // personalizes over ALL graph nodes (memory.py:304-315), so a seed with
    // no edges must still receive (1−d)·pers mass each iteration instead of
    // silently dropping to rank 0. No persist: the only consumer is the
    // checkpointed `pers` build below (the uniform fallback recomputes it
    // once for its count).
    val nodes = adj.select(col("src").as("id"))
      .unionByName(seeds.select(col("id")))
      .distinct()

    // normalized personalization over the node set (uniform fallback —
    // memory.py:304-315). A duplicated seed id would duplicate its `pers`
    // row in the join below and count its rank twice every iteration, so
    // the same job that sums the weights also checks the ids are distinct.
    val seedStats = seeds.agg(sum(col("weight")), count(lit(1)), count(col("id")),
      countDistinct(col("id"))).collect()(0)
    if (seedStats.getLong(1) != seedStats.getLong(2))
      throw new IllegalArgumentException("PPR seeds contain a null id")
    if (seedStats.getLong(2) != seedStats.getLong(3))
      duplicateSeed(seeds.groupBy("id").count().filter(col("count") > 1).first().get(0))
    val totalSeed = if (seedStats.isNullAt(0)) 0.0 else seedStats.getDouble(0)
    val pers =
      if (totalSeed <= 0.0) {
        val n = nodes.count()
        nodes.withColumn("pers", lit(1.0 / n))
      } else {
        nodes.join(seeds, Seq("id"), "left")
          .select(col("id"), (coalesce(col("weight"), lit(0.0)) / totalSeed).as("pers"))
      }
    val persisted = pers.localCheckpoint()

    // Iterations are chained LAZILY in blocks of `BlockSize`; each block
    // materializes once (localCheckpoint, truncating lineage) and pays one
    // convergence check. Per-iteration eager checkpoints + delta counts
    // would cost ~3 driver jobs per iteration.
    def step(ranks: DataFrame): DataFrame = {
      val contrib = adj
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") * col("p")).as("inflow"))
      persisted
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(damping) * coalesce(col("inflow"), lit(0.0)) +
            lit(1.0 - damping) * col("pers")).as("rank"))
    }

    // tol ≤ 0 ⇒ the convergence probe can only stop the loop early when a
    // block's delta is EXACTLY 0.0 — and a zero delta means ranks are at a
    // double-exact fixed point, so the remaining iterations reproduce them
    // bit-for-bit. Skipping the probe therefore yields identical results
    // while saving one join+agg job per block.
    val checkConvergence = tol > 0.0
    // ranks₀ is a projection of the checkpointed personalization leaf — no
    // checkpoint job needed for it
    var ranks = persisted.select(col("id"), col("pers").as("rank"))
    var iter = 0
    var delta = Double.MaxValue
    while (delta > tol && iter < maxIter) {
      val n = math.min(BlockSize, maxIter - iter)
      var next = ranks
      for (_ <- 0 until n) next = step(next)
      next = next.localCheckpoint()
      if (checkConvergence)
        delta = next
          .join(ranks.withColumnRenamed("rank", "prev"), Seq("id"))
          .agg(sum(abs(col("rank") - col("prev"))))
          .collect()(0).getDouble(0)
      if (iter > 0) release(ranks) // a superseded block
      ranks = next
      iter += n
    }
    // the result reads only the last block, or `persisted` when no
    // iteration ran
    release(adj)
    if (iter > 0) release(persisted)
    ranks.filter(col("rank") > minScore)
  }
}
