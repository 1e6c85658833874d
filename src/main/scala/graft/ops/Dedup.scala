package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora. Four families:
  *
  *  - exact: hash-groupBy on content (one shuffle, map-side combine)
  *  - MinHash + LSH: shingle → k minhashes → band buckets → candidate
  *    pairs only within buckets (never all-pairs)
  *  - SimHash: 64-bit near-dup signature, bucketed by rotated prefixes
  *  - n-gram Jaccard: exact verification join over LSH candidates
  *
  * Scale shape: every family is (narrow per-row signature) → (groupBy
  * bucket) → (within-bucket pairs). Bucket sizes are bounded by banding
  * parameters, so the pair stage never goes quadratic in corpus size.
  */
object Dedup {

  /** Cap a bucketed candidate frame: buckets with more than `cap` members
    * (degenerate boilerplate buckets — the web-scale failure mode) are
    * DROPPED before the within-bucket self-join can go |bucket|². Same
    * pattern as Canon.nameSimilarityPairs' blockCap. The number of dropped
    * buckets is reported via the returned (pruned, droppedBuckets) pair —
    * callers surface it so capping is never silent.
    */
  def capBuckets(
      bucketed: DataFrame,
      keyCols: Seq[String],
      cap: Long
  ): (DataFrame, DataFrame) = {
    val keys = keyCols.map(col)
    val sizes = bucketed.groupBy(keys: _*).agg(count(lit(1)).as("__bn"))
    val kept = bucketed
      .join(sizes.filter(col("__bn") <= cap), keyCols)
      .drop("__bn")
    val dropped = sizes.filter(col("__bn") > cap)
    (kept, dropped)
  }

  /** Surface capped buckets (GRAFT_VERBOSE gates the extra count job). */
  private[ops] def logDropped(op: String, dropped: DataFrame): Unit =
    if (sys.env.contains("GRAFT_VERBOSE")) {
      val n = dropped.count()
      if (n > 0)
        System.err.println(s"[graft] $op: dropped $n over-cap LSH buckets (quadratic guard)")
    }

  /** Exact dedup: keep the smallest doc_id per identical text.
    * groupBy(md5) rather than groupBy(text) so the shuffle carries 16
    * bytes per key instead of the document body.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  // --- MinHash -------------------------------------------------------

  // (the splitmix64 scrambler lives in graft.functions.{MinHashSig,SimHashSig})

  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = NumHashes / Bands

  /** Estimated Jaccard from signature agreement — the ONE copy shared by
    * minhashLsh / crossContamination / dedupClusters / IncrementalDedup.
    */
  private[graft] val estJaccardUdf = udf { (x: Seq[Long], y: Seq[Long]) =>
    x.zip(y).count { case (u, v) => u == v }.toDouble / NumHashes
  }

  /** UDF form of the minhash kernel — kept for API compatibility; it
    * delegates to the SAME [[graft.functions.MinHashSig.compute]] kernel
    * as the codegen'd native expression, so the two paths cannot diverge.
    * New code should use [[graft.functions.MinHashSig.sig]] (UDF-free).
    */
  val minhashUdf = udf { (text: String) =>
    if (text == null) graft.functions.MinHashSig.nullSig()
    else graft.functions.MinHashSig.compute(text)
  }

  /** LSH candidate pairs: docs sharing ANY band of minhash values.
    * Output: (id_a, id_b) with id_a < id_b, plus the estimated Jaccard
    * from signature agreement.
    */
  /** Banded minhash signatures: one row per (doc, band) keyed by the
    * band's RAW minhash tuple (not a re-hash) — grouping on the values
    * directly is collision-free and lets the q18/q50 oracles re-derive
    * banding from the dumped signatures in plain SQL.
    *
    * The signature stage is checkpointed BEFORE the band explode: the
    * banded frame has 3-4 consumers downstream (bucket sizing, the
    * capped join, the candidate self-join), and without the checkpoint
    * each one re-runs the 32-hash shingle UDF over the whole corpus —
    * the dominant CPU cost of the operator, multiplied needlessly.
    * Checkpointing the compact pre-explode frame (id + 32 longs per doc)
    * costs a fraction of one recompute.
    */
  private[graft] def minhashBanded(docs: DataFrame, idCol: String): DataFrame =
    bandify(signatures(docs, idCol).localCheckpoint())

  /** Compact per-doc signature frame `(id, sig)` — the unit the
    * incremental path persists (one 32-long array per doc, ~300 bytes:
    * ~1 % of corpus bytes at web-document sizes).
    */
  private[graft] def signatures(docs: DataFrame, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.MinHashSig.sig(col("text")).as("sig"))

  /** Re-derive the 8×4 banding from stored signatures — array slicing
    * only, so reading a committed signature table back into banded form
    * costs no text re-hashing.
    */
  private[graft] def bandify(sigs: DataFrame): DataFrame =
    sigs
      .select(
        col("id"), col("sig"),
        explode(array((0 until Bands).map { b =>
          struct(lit(b).as("band"),
            concat_ws(":",
              (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => col("sig")(i)): _*)
              .as("bucket"))
        }: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))

  def minhashLsh(docs: DataFrame, idCol: String = "doc_id", bucketCap: Long = 10000L)(
      implicit spark: SparkSession): DataFrame = {
    val allBanded = minhashBanded(docs, idCol)
    // degenerate-bucket guard: a boilerplate-heavy band bucket would go
    // |bucket|² in the self-join below; pairs in a dropped bucket usually
    // still meet through one of the other 7 bands
    val (banded, droppedB) = capBuckets(allBanded, Seq("band", "bucket"), bucketCap)
    logDropped("minhashLsh", droppedB)

    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), estJaccardUdf(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .groupBy("id_a", "id_b")
      .agg(max("est_jaccard").as("est_jaccard"))
  }

  // --- SimHash -------------------------------------------------------

  /** UDF form of the simhash kernel — kept for API compatibility;
    * delegates to the same [[graft.functions.SimHashSig.compute]] kernel
    * as the codegen'd native expression (see the MinHash note above).
    */
  val simhashUdf = udf { (text: String) =>
    if (text == null) 0L else graft.functions.SimHashSig.compute(text)
  }

  /** SimHash near-dup pairs: bucket by each of 4 16-bit chunks (docs within
    * Hamming distance ≤ 3 of each other share at least one chunk when bits
    * spread uniformly), verify with exact popcount.
    */
  def simhash(docs: DataFrame, maxHamming: Int = 3, idCol: String = "doc_id",
      bucketCap: Long = 10000L)(
      implicit spark: SparkSession): DataFrame = {
    // checkpoint the signature stage once — the chunked frame has three
    // consumers (bucket sizing, capped join, self-join) that would each
    // re-run the per-word 64-bit hash fold otherwise
    val sigs = docs.select(col(idCol).as("id"),
      graft.functions.SimHashSig.sig(col("text")).as("sig"))
      .localCheckpoint()
    val allChunked = sigs.select(
      col("id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("ck"))
      .select(col("id"), col("sig"), col("ck.chunk"), col("ck.key"))
    // 16-bit chunks give only 65 536 buckets — at 10⁹ docs a bucket holds
    // ~15 k rows, so the cap is what keeps the self-join from ~10⁸ pairs
    val (chunked, droppedB) = capBuckets(allChunked, Seq("chunk", "key"), bucketCap)
    logDropped("simhash", droppedB)
    val a = chunked.select(col("chunk"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  // --- n-gram Jaccard --------------------------------------------------

  val ngramSetUdf = udf { (text: String, n: Int) =>
    if (text == null) Array.empty[Int]
    else {
      val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      val set = scala.collection.mutable.SortedSet.empty[Int]
      var i = 0
      while (i + n <= words.length) {
        set += words.slice(i, i + n).mkString(" ").hashCode
        i += 1
      }
      set.toArray
    }
  }

  /** Exact n-gram Jaccard over LSH candidates: LSH proposes, this verifies.
    * The verification join is bounded by candidate count, not corpus².
    */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
      idCol: String = "doc_id")(implicit spark: SparkSession): DataFrame = {
    val candidates = minhashLsh(docs, idCol).filter(col("est_jaccard") >= threshold * 0.5)
      .localCheckpoint()
    // gram sets only for docs that actually appear in a candidate pair
    // (candidates ≪ corpus at scale), materialized once instead of the
    // whole-corpus shingle UDF running twice for the two join sides
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id"))).distinct()
    val grams = docs.select(col(idCol).as("id"), ngramSetUdf(col("text"), lit(n)).as("grams"))
      .join(candIds, Seq("id"), "left_semi")
      .localCheckpoint()
    val jac = udf { (x: Seq[Int], y: Seq[Int]) =>
      if (x.isEmpty || y.isEmpty) 0.0
      else {
        val xs = x.toSet; val inter = y.count(xs.contains)
        inter.toDouble / (x.length + y.length - inter)
      }
    }
    candidates
      .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "ga"), Seq("id_a"))
      .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "gb"), Seq("id_b"))
      .withColumn("jaccard", jac(col("ga"), col("gb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding-cosine near-dup: banded random-hyperplane LSH (4 bands ×
    * 16 planes — candidates share ANY full band, recall ≈ 1 at cosine ≥
    * 0.95; see Similarity.bandedSignatureUdf), verify with exact cosine ≥
    * threshold. Buckets capped against boilerplate skew.
    */
  def embeddingCosine(embeddings: DataFrame, threshold: Double = 0.95,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCap: Long = 10000L)(
      implicit spark: SparkSession): DataFrame = {
    // checkpoint the signature stage pre-explode: four downstream
    // consumers would each re-run the 64 hyperplane dot products per
    // vector; materializing (id, vec, 4 ints) once is far cheaper
    val allSigs = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        Similarity.bandedSignatureUdf(col(vecCol)).as("__bands"))
      .localCheckpoint()
      .select(col("id"), col("vec"), posexplode(col("__bands")).as(Seq("band", "key")))
    val (sigs, droppedB) = capBuckets(allSigs, Seq("band", "key"), bucketCap)
    logDropped("embeddingCosine", droppedB)
    val a = sigs.select(col("band"), col("key"), col("id").as("id_a"), col("vec").as("va"))
    val b = sigs.select(col("band"), col("key"), col("id").as("id_b"), col("vec").as("vb"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b") // a pair can meet in several bands
      .withColumn("cosine", Similarity.cosineUdf(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Cross-corpus contamination check (decontamination): corpus documents
    * whose text is a near-duplicate of a benchmark/eval document — the
    * train/test-leakage scan every training-data pipeline runs before a
    * corpus ships. Same minhash banding as [[minhashLsh]] but as a
    * TWO-TABLE bucketed join (corpus × benchmark), not a self-join: the
    * benchmark side is typically tiny and the corpus streams through the
    * band-bucket join touching only colliding buckets. Buckets are capped
    * on the corpus side only (skew guard, loud) — benchmark buckets are
    * never dropped, a benchmark doc that collides everywhere is exactly
    * the one to report. Output: (corpus_id, benchmark_id, est_jaccard ≥
    * threshold), max over bands.
    */
  def crossContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      minEstJaccard: Double = 0.5,
      idCol: String = "doc_id",
      bucketCap: Long = 10000L
  )(implicit spark: SparkSession): DataFrame = {
    val (c, droppedB) = capBuckets(minhashBanded(corpus, idCol),
      Seq("band", "bucket"), bucketCap)
    logDropped("crossContamination", droppedB)
    val b = minhashBanded(benchmark, idCol)
    c.select(col("band"), col("bucket"), col("id").as("corpus_id"), col("sig").as("sig_c"))
      .join(b.select(col("band"), col("bucket"), col("id").as("benchmark_id"),
        col("sig").as("sig_b")), Seq("band", "bucket"))
      .select(col("corpus_id"), col("benchmark_id"),
        estJaccardUdf(col("sig_c"), col("sig_b")).as("est_jaccard"))
      .groupBy("corpus_id", "benchmark_id")
      .agg(max("est_jaccard").as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Near-dup CLUSTER resolution — what a training-data pipeline actually
    * consumes: pairwise candidates only say "these two are similar";
    * keeping one copy per duplicate *group* needs the transitive closure
    * (A~B, B~C ⇒ {A,B,C} is one cluster even if A and C never met in a
    * band). Composes minhash banding with the engine's connected
    * components (`Canon.connectedComponents` — large-star/small-star
    * rounds over checkpointed edge sets, the same scale path the KG
    * canonicalizer uses).
    *
    * Giant-family correctness: buckets over `bucketCap` must NOT go
    * through the |bucket|² verified self-join, but for CLUSTERING they
    * must not be dropped either — a 10⁶-copy boilerplate family is
    * exactly the cluster a 100-TB dedup exists to find. Over-cap buckets
    * instead contribute STAR edges (every member → the bucket's min id):
    * O(m) edges with the same connectivity, skipping the est-jaccard
    * verify (members of a full-band-identical giant bucket are accepted
    * as dups — the precision loss is confined to over-cap buckets, and
    * which ones were star-linked is loggable via GRAFT_VERBOSE).
    *
    * One row per input document: `cluster_id` = smallest doc_id in its
    * component (singletons are their own cluster), `n_members`, and
    * `keep` = true on the one canonical row per cluster.
    */
  def dedupClusters(
      docs: DataFrame,
      minEstJaccard: Double = 0.5,
      idCol: String = "doc_id",
      bucketCap: Long = 10000L
  )(implicit spark: SparkSession): DataFrame =
    dedupClustersFromSigs(
      signatures(docs, idCol).localCheckpoint(), minEstJaccard, bucketCap)

  /** [[dedupClusters]] over an already-computed `(id, sig)` signature
    * frame — the entry the incremental path uses so an arriving batch is
    * hashed exactly once ([[IncrementalDedup.ingestBatch]] needs both the
    * within-batch clusters AND the vs-committed annotation from the same
    * signatures).
    */
  private[graft] def dedupClustersFromSigs(
      sigs: DataFrame,
      minEstJaccard: Double,
      bucketCap: Long
  )(implicit spark: SparkSession): DataFrame = {
    val allBanded = bandify(sigs)
    val sizes = allBanded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bn"), min(col("id")).as("__mn"))

    // normal buckets: verified pairwise candidates (est-jaccard gate)
    val small = allBanded.join(
      sizes.filter(col("__bn") <= bucketCap).select("band", "bucket"),
      Seq("band", "bucket"))
    val a = small.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = small.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    val verified = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(estJaccardUdf(col("sig_a"), col("sig_b")) >= minEstJaccard)
      .select(col("id_a"), col("id_b"))

    // giant buckets: star-link members to the bucket minimum — O(m)
    val star = allBanded.join(
      sizes.filter(col("__bn") > bucketCap).select(col("band"), col("bucket"), col("__mn")),
      Seq("band", "bucket"))
      .filter(col("id") =!= col("__mn"))
      .select(col("__mn").as("id_a"), col("id").as("id_b"))

    val cc = graft.canon.Canon.connectedComponents(
      verified.union(star).distinct())
    val asgn = sigs.select(col("id").as("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("cluster_id"))
    val clusterSizes = asgn.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    asgn.join(clusterSizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        (col("doc_id") === col("cluster_id")).as("keep"))
  }
}
