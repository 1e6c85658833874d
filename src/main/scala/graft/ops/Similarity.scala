package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  *  - brute-force cosine top-k: the correctness baseline. One broadcast of
  *    the query set, a narrow map to score, a window top-k. Works at any
  *    corpus size when |queries| is small (queries broadcast; corpus
  *    streams through codegen).
  *  - LSH-bucketed ANN: random-hyperplane signatures (fixed seed) bucket
  *    the corpus; a query probes only its bucket. The scale path — probes
  *    touch |corpus| / 2^planes rows.
  *
  * Cosine math runs in a compact JVM UDF over float arrays (no per-element
  * boxing in the hot loop) — the direct lesson from the reference's 222×
  * numpy-vs-pure-Python story (buildlog/2026-02-12-*.md:173-213,
  * vec/index.py:181-193).
  */
object Similarity {

  /** Cosine of `a[aFrom, aFrom + aLen)` and `b[bFrom, bFrom + bLen)`,
    * accumulated in double. 0.0 for a null or empty vector, mismatched
    * lengths or a zero norm. The one kernel behind `cosineUdf` and the
    * driver-side snapshot index (graft.query.SnapshotIndex), so both score
    * a pair bit for bit alike.
    */
  def cosine(a: Array[Float], aFrom: Int, aLen: Int, b: Array[Float], bFrom: Int, bLen: Int): Double =
    if (a == null || b == null || aLen == 0 || aLen != bLen) 0.0
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < aLen) {
        val x = a(aFrom + i).toDouble; val y = b(bFrom + i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }

  val cosineUdf = udf { (a: Array[Float], b: Array[Float]) =>
    cosine(a, 0, if (a == null) 0 else a.length, b, 0, if (b == null) 0 else b.length)
  }

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows (excluding itself). Queries are broadcast — the corpus is
    * scanned once regardless of |queries|.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  )(implicit spark: SparkSession): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineUdf(col("qv"), col("nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Pseudo-random plane component for (plane p, dimension d) in [-1, 1). */
  private def planeComponent(p: Int, d: Int): Double =
    (graft.functions.SplitMix64.mix(p.toLong * 0x9e37L ^ d.toLong) >>> 11).toDouble / (1L << 52).toDouble - 1.0

  /** Plane matrix memo: the signature kernels previously re-derived every
    * plane component (one SplitMix64 mix + float ops) PER ROW — ~10⁹ mix
    * calls per corpus pass at 64 planes × 384 dims. The matrix is a pure
    * function of (p, d), so caching it once per JVM (64 × 1024 doubles =
    * 512 KB) yields bit-identical signatures; indices past the cache fall
    * back to the direct computation.
    */
  private val MaxCachedPlanes = 64
  private val MaxCachedDim = 1024
  private lazy val planeCache: Array[Array[Double]] =
    Array.tabulate(MaxCachedPlanes, MaxCachedDim)((p, d) => planeComponent(p, d))

  @inline private def planeDot(p: Int, v: Seq[Float]): Double = {
    val n = v.length
    var dot = 0.0; var d = 0
    if (p < MaxCachedPlanes) {
      val row = planeCache(p)
      val m = math.min(n, MaxCachedDim)
      while (d < m) { dot += v(d) * row(d); d += 1 }
    }
    while (d < n) { dot += v(d) * planeComponent(p, d); d += 1 }
    dot
  }

  /** Sign-bit signature of `v` against `planes` fixed random hyperplanes
    * (splitmix-seeded, dimension-cyclic). Deterministic across runs and
    * partitions; more planes = finer buckets.
    */
  def signatureOf(v: Seq[Float], planes: Int): Int = {
    if (v == null || v.isEmpty) return 0
    var sig = 0
    var p = 0
    while (p < planes) {
      if (planeDot(p, v) >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  val planeSignatureNUdf = udf { (v: Seq[Float], planes: Int) => signatureOf(v, planes) }

  /** Banded hyperplane signatures for near-dup detection: `NumBands` bands
    * of `BandBits` planes each (64 planes total). Two vectors are LSH
    * candidates when ANY band matches exactly — a cosine-0.999 pair flips
    * each plane with p ≈ angle/π ≈ 0.005, so missing ALL 4 bands needs ≥4
    * flipped planes spread across every band (≈1e-5 per pair): recall ≈ 1
    * where a single 16-plane signature (p_miss ≈ 7%/pair) visibly missed.
    * Bucket space per band stays 2¹⁶ → skew handled by Dedup.capBuckets.
    */
  val BandBits = 16
  val NumBands = 4

  val bandedSignatureUdf = udf { (v: Seq[Float]) =>
    if (v == null || v.isEmpty) Seq.fill(NumBands)(0)
    else
      (0 until NumBands).map { b =>
        var sig = 0
        var k = 0
        while (k < BandBits) {
          if (planeDot(b * BandBits + k, v) >= 0) sig |= (1 << k)
          k += 1
        }
        sig
      }
  }

  /** LSH ANN: probe only the query's hyperplane bucket (multi-probe with
    * the exact bucket plus all 1-bit-flip neighbors, trading 17× probe
    * fan-out for recall).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      planes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  )(implicit spark: SparkSession): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      planeSignatureNUdf(col(vecCol), lit(planes)).as("bucket"))
    // multi-probe: exact bucket + 1-bit flips
    val probes = (0 until planes).map(b => lit(1 << b))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      planeSignatureNUdf(col(vecCol), lit(planes)).as("qsig"))
      .withColumn("bucket", explode(array(col("qsig") +: probes.map(p =>
        col("qsig").bitwiseXOR(p)): _*)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineUdf(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
