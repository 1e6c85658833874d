package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the
  * coarse-quantizer scale path next to `Similarity.lshTopK`.
  *
  * The reference serves vectors from a flat in-process index
  * (vec/index.py:181-193 — brute-force numpy cosine over the whole
  * matrix); an IVF layout is what that becomes at corpus scales where
  * even one pass per query is too much. Spark-first shape:
  *
  *  - '''train''': Lloyd k-means, each iteration ONE distributed pass —
  *    broadcast centroids → narrow argmax-assignment map → per-cluster
  *    vector sum via a typed [[Aggregator]] (map-side partial
  *    aggregation: each task ships k×dim longs, never rows). Centroids
  *    (k ≤ 4096, driver-bounded by a loud `require`) live on the driver
  *    between iterations, like any Lloyd-on-Spark implementation.
  *  - '''index''': one narrow map stamping each corpus row with its
  *    nearest-centroid cluster id. At warehouse scale this column is the
  *    bucketing/partition key of the written index, so a probe reads
  *    only its buckets.
  *  - '''search''': explode each query into its `nprobe` nearest
  *    clusters and BROADCAST that small side — the corpus streams
  *    through a broadcast-hash join untouched by any shuffle; only the
  *    candidate set (≈ nprobe/k of the corpus per query) pays the
  *    top-k window.
  *
  * Determinism contract (what makes the q48 oracle possible): the
  * centroid update sums fixed-point longs (`round(x · 2^20)`) — exact,
  * associative, order-independent — so training yields bit-identical
  * centroids at ANY partitioning/parallelism; init is the k lowest-id
  * vectors (no RNG). Assignment/probing rank by sequential-double
  * cosine with ties broken by lower cluster id, the same discipline the
  * DuckDB oracle re-derives from the dumped centroid fixture.
  */
object Ivf {

  /** Fixed-point scale for centroid sums: 2^20 keeps |x| ≤ 2000-ish
    * embeddings inside Long range for corpora up to ~4e12 rows per
    * cluster while preserving ~6 decimal digits of the mean.
    */
  private val FixedScale = (1L << 20).toDouble

  /** The `n` nearest centroids of `v`, by `Similarity.cosine` desc then
    * cluster id asc (the tie-break the oracle mirrors with `ORDER BY sim
    * DESC, cluster ASC`).
    */
  def nearestClusters(cents: Array[Array[Float]], v: Seq[Float], n: Int): Seq[Int] = {
    val a = if (v == null) null else v.toArray
    val len = if (a == null) 0 else a.length
    cents.indices
      .map(i => (Similarity.cosine(a, 0, len, cents(i), 0, cents(i).length), i))
      .sortBy { case (s, i) => (-s, i) }
      .take(n)
      .map(_._2)
  }

  /** Per-cluster fixed-point vector sum. Buffer is a mutable long array
    * (k×dim longs per task at the partial-agg boundary — no row
    * traffic); exact Long addition makes the result independent of
    * partitioning and merge order.
    */
  private final class VecSumAgg(dim: Int)
      extends Aggregator[Seq[Float], Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](dim)
    def reduce(b: Array[Long], v: Seq[Float]): Array[Long] = {
      if (v != null) {
        var i = 0
        val n = math.min(dim, v.length)
        while (i < n) { b(i) += math.round(v(i).toDouble * FixedScale); i += 1 }
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dim) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Deterministic Lloyd k-means over the corpus' embedding column.
    * Returns the k centroids (cluster id = array index). Empty clusters
    * keep their previous centroid.
    */
  def train(
      corpus: DataFrame,
      k: Int = 16,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  )(implicit spark: SparkSession): Array[Array[Float]] = {
    require(k > 0 && k <= 4096,
      s"IVF centroid count $k out of driver-bounded range (0, 4096]")
    import spark.implicits._
    // id keeps its natural type — "the k lowest-id vectors" must hold
    // for string ids (VectorIndex) as well as numeric ones (a cast to
    // long would null string ids and scramble the deterministic init).
    // Checkpointed: the init sort plus every Lloyd iteration is a full
    // pass over this frame — without it each of the 6+ passes re-reads
    // and re-decodes the source parquet (guide §5: reuse justifies the
    // materialization; values are unchanged so centroids are identical).
    val vecs = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .localCheckpoint()
    val init = vecs.orderBy(col("id")).limit(k).select("v").as[Seq[Float]].collect()
    require(init.nonEmpty, "IVF training corpus is empty")
    val dim = init.head.length
    var cents = init.map(_.toArray)
    val sumUdaf = udaf(new VecSumAgg(dim), implicitly[Encoder[Seq[Float]]])
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val assignU = udf { (v: Seq[Float]) => nearestClusters(bc.value, v, 1).head }
      val stats = vecs
        .withColumn("cluster", assignU(col("v")))
        .groupBy("cluster")
        .agg(sumUdaf(col("v")).as("sums"), count(lit(1)).as("n"))
        .collect() // bounded: ≤ k rows of (k + dim·8B) each
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val cl = r.getInt(0)
        val sums = r.getSeq[Long](1)
        val n = r.getLong(2)
        next(cl) = sums.map(s => ((s.toDouble / n) / FixedScale).toFloat).toArray
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Stamp each corpus row with its nearest-centroid cluster — one
    * narrow map (broadcast centroids, no shuffle). At scale this is the
    * write-side of the index: bucket/partition the output by `cluster`.
    */
  def index(
      corpus: DataFrame,
      cents: Array[Array[Float]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  )(implicit spark: SparkSession): DataFrame = {
    val bc = spark.sparkContext.broadcast(cents)
    val assignU = udf { (v: Seq[Float]) => nearestClusters(bc.value, v, 1).head }
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("cluster", assignU(col("nv")))
  }

  /** Probe search over an indexed corpus: queries explode into their
    * `nprobe` nearest clusters, the (small) query side broadcasts, and
    * the corpus streams through the broadcast-hash join — the only
    * shuffle is the per-query top-k window over the candidate set.
    */
  def search(
      indexed: DataFrame,
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int = 5,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  )(implicit spark: SparkSession): DataFrame = {
    val bc = spark.sparkContext.broadcast(cents)
    val probesU = udf { (v: Seq[Float]) => nearestClusters(bc.value, v, nprobe) }
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("cluster", explode(probesU(col("qv")))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(indexed, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.cosineUdf(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Train + index + search in one call (the q48 shape). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nClusters: Int = 16,
      iters: Int = 5,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  )(implicit spark: SparkSession): DataFrame = {
    val cents = train(corpus, nClusters, iters, idCol, vecCol)
    search(index(corpus, cents, idCol, vecCol), cents, queries, k, nprobe, idCol, vecCol)
  }
}
