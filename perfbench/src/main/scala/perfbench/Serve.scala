package perfbench

import graft.core.Embeddings
import graft.fixtures.PagesGen
import graft.query.GraftService
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The seeded traffic of the `serve` workload.
  *
  * Contexts and explored nodes are drawn Zipf-like (weight 1/rank^1.1)
  * from the `PagesGen` entity vocabulary in its own order: head entities
  * first, then the core vocabulary, then a slice of the long tail.
  * Operations come in blocks of one `query`, then one `explore` and one
  * `feedback` in an order the seed shuffles; the feedback rates the items
  * of the block's query. So every block carries the same work.
  */
final class Mix(seed: Long, knownIds: Vector[String]) {
  // java.util.Random's first draws for nearby seeds are nearly equal, so
  // the seed is scrambled first
  private val rng = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
  private var nextContext: Option[String] = None
  private var nextNode: Option[String] = None

  private def zipf[T](xs: Vector[T]): T = {
    val w = xs.indices.map(r => 1.0 / math.pow(r + 1.0, 1.1))
    var u = rng.nextDouble() * w.sum
    var i = 0
    while (i < xs.size - 1 && u >= w(i)) { u -= w(i); i += 1 }
    xs(i)
  }

  /** The context the next `context()` call returns. */
  def peekContext(): String = nextContext.getOrElse {
    val a = zipf(Mix.vocabulary)
    val b = zipf(Mix.vocabulary)
    val c = if (a == b) a else s"$a and $b"
    nextContext = Some(c)
    c
  }

  def context(): String = { val c = peekContext(); nextContext = None; c }

  /** The node the next `node()` call returns. */
  def peekNode(): String = nextNode.getOrElse { val n = zipf(knownIds); nextNode = Some(n); n }

  def node(): String = { val n = peekNode(); nextNode = None; n }

  def block(): Seq[String] = "query" +: rng.shuffle(Seq("explore", "feedback"))

  def outcome(): String = Seq("accepted", "partial", "rejected")(rng.nextInt(3))
}

object Mix {
  val vocabulary: Vector[String] =
    PagesGen.allEntities ++ (0 until 40).map(i => PagesGen.tailEntity(i.toLong, i * 7L + 3L))

  /** Whether a context names a head entity: the hubs that together make
    * 40 % of the entity mentions `PagesGen` draws. */
  def namesHub(context: String): Boolean =
    PagesGen.headEntities.exists(h => context.split(" and ").contains(h))

  /** Shares of the first `n` contexts `seed`'s traffic draws that name a
    * hub and that repeat an earlier one. */
  def profile(seed: Long, n: Int): Seq[(String, Double)] = {
    val mix = new Mix(seed, Vector.empty)
    val ctxs = Vector.fill(n)(mix.context())
    Seq(s"mix$n.hub_share" -> ctxs.count(namesHub).toDouble / n,
      s"mix$n.repeat_share" -> (n - ctxs.distinct.size).toDouble / n)
  }

  /** Concept ids of vocabulary entities the committed graph holds, in
    * vocabulary order (what `explore` may ask for). */
  def knownIds(store: SnapshotStore)(implicit spark: SparkSession): Vector[String] = {
    val rank = vocabulary.map(_.toLowerCase(java.util.Locale.ROOT)).zipWithIndex.toMap
    store.read("concepts").select(col("id"), lower(col("name")))
      .collect().toVector
      .flatMap(r => rank.get(r.getString(1)).map(i => (i, r.getString(0))))
      .sortBy(_._1).map(_._2).distinct
  }

  /** The first of the next `tries` contexts of `mix` whose query adds
    * online similarity edges, so that a traced query runs the PPR branch
    * that merges them; the first context if none does.
    *
    * It predicts on the driver what `GraftService.query` computes: the
    * `fetchK` concepts nearest to the context (ties by id) are the seeds,
    * and a pair of seeds at cosine >= 0.7 is an online edge. The traced
    * run's `query.online_edges.rows_out` shows whether it held.
    */
  def onlineEdgeContext(mix: Mix, store: SnapshotStore, fetchK: Int, tries: Int)(
      implicit spark: SparkSession): String = {
    val concepts = store.read("concepts").select("id", "embedding").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray))
    def hasOnlineEdge(ctx: String): Boolean = {
      val q = Embeddings.embed(ctx)
      val seeds = concepts.map(c => (c, Embeddings.cosine(q, c._2)))
        .sortBy { case ((id, _), s) => (-s, id) }.take(fetchK).map(_._1._2)
      seeds.indices.exists(i =>
        (i + 1 until seeds.length).exists(j => Embeddings.cosine(seeds(i), seeds(j)) >= 0.7))
    }
    val drawn = Iterator.continually(mix.context()).take(tries).toVector
    drawn.find(hasOnlineEdge).getOrElse(drawn.head)
  }
}

/** One operation's outcome as the client saw it. */
final case class Op(kind: String, seconds: Double, ok: Boolean, detail: String)

/** A closed-loop client of one `GraftService`: it sends its next
  * operation only once the previous one has returned, and checks every
  * answer.
  *
  * Correctness checks: a query returns 1..topK ranked items; `explore` of a
  * known id returns `Some`; feedback returns `Right` with status
  * "recorded". Identical requests against identical state return identical
  * ids: queries are keyed by (context, number of feedback commits so far),
  * explores by node id (explore does not read the feedback factors).
  */
final class ServeClient(svc: GraftService, mix: Mix) {

  val topK: Int = Main.TopK
  private var feedbacks = 0
  private val seenQueries = mutable.Map.empty[(String, Int), Vector[String]]
  private val seenExplores = mutable.Map.empty[String, Vector[String]]
  private var lastQuery: (String, Vector[String]) = ("", Vector.empty)

  /** What the traffic exercised so far, counted as it ran. */
  val counts: mutable.Map[String, Int] = mutable.LinkedHashMap(
    "queries" -> 0, "explores" -> 0, "feedbacks" -> 0,
    "repeats_compared" -> 0, // answers compared with an identical earlier request's
    "hub_queries" -> 0, // contexts naming a head entity
    "kg_coverage_below_1" -> 0) // queries whose seeds gained online edges (or had no edge)

  private def timed(kind: String)(f: => (Boolean, String)): Op = {
    val t0 = System.nanoTime()
    val (ok, detail) =
      try f
      catch { case e: Exception => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    Op(kind, (System.nanoTime() - t0) / 1e9, ok, detail)
  }

  /** Whether `ids` equal those an identical earlier request returned. */
  private def sameAsBefore[K](seen: mutable.Map[K, Vector[String]], key: K, ids: Vector[String]): Boolean =
    seen.get(key) match {
      case Some(prev) => counts("repeats_compared") += 1; prev == ids
      case None => seen(key) = ids; true
    }

  def query(ctx: String): Op = timed("query") {
    val r = svc.query(ctx, topK = topK)
    val ids = r.items.select("id").collect().map(_.getString(0)).toVector
    r.rules.count()
    counts("queries") += 1
    if (Mix.namesHub(ctx)) counts("hub_queries") += 1
    if (r.kgCoverage < 1.0) counts("kg_coverage_below_1") += 1
    val valid = ids.nonEmpty && ids.size <= topK && !ids.contains(null)
    val repeatOk = sameAsBefore(seenQueries, (ctx, feedbacks), ids)
    if (valid) lastQuery = (r.queryId, ids)
    (valid && repeatOk, s"query '$ctx' -> ${ids.size} items" +
      (if (repeatOk) "" else " (differs from an identical earlier query)"))
  }

  def explore(node: String): Op = timed("explore") {
    counts("explores") += 1
    svc.explore(node) match {
      case None => (false, s"explore '$node' -> None for a known id")
      case Some(r) =>
        val ids = r.neighbors.select("id").collect().map(_.getString(0)).toVector.sorted
        r.rules.count()
        val repeatOk = sameAsBefore(seenExplores, node, ids)
        (ids.contains(node) && repeatOk, s"explore '$node' -> ${ids.size} neighbours" +
          (if (repeatOk) "" else " (differs from an identical earlier explore)"))
    }
  }

  def feedback(): Op = timed("feedback") {
    counts("feedbacks") += 1
    val (qid, ids) = lastQuery
    val outcomes = ids.take(3).map(_ -> mix.outcome()).toMap
    svc.feedback(qid, outcomes) match {
      case Right(r) if r.status == "recorded" =>
        feedbacks += 1
        (true, s"feedback $qid -> recorded")
      case other => (false, s"feedback $qid -> $other")
    }
  }

  def run(kind: String): Op = kind match {
    case "query" => query(mix.context())
    case "explore" => explore(mix.node())
    case "feedback" => feedback()
  }
}
