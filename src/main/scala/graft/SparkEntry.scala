package graft

import graft.canon.Canon
import graft.fixtures.PagesGen
import graft.link.Linking
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.Ingest
import graft.prune.Pruning
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), with ANSI-SQL oracles for everything DuckDB can express.
  *
  * Float discipline for oracle parity: any SUM over doubles goes through
  * DECIMAL so Spark's partial aggregation and DuckDB's sequential sum
  * produce bit-identical results; raw doubles only pass through untouched
  * (projection/sort) or via exact integer math.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** q47's non-default context hash — ONE constant shared by the Spark
    * query and the DuckDB oracle SQL (computed, not hand-copied).
    */
  private val AltContextHash: String =
    graft.learning.Learner.contextHash(Map("task" -> "alt"))

  /** Flagship: KG triple extraction over a deterministic generated pages
    * table (the engine's core operator). Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s = spark
    val pages = PagesGen.pages(spark, 100)
    Ingest.triplesOf(Ingest.extract(pages, Ingest.Config()).toDF())
  }

  // ---- shared KG sub-pipeline over generated pages ----
  // The q25–q34 queries share one 300-page extraction AND its derived
  // concepts/pruned-edges frames. Each shared frame is localCheckpoint-ed:
  // that both caches the data and truncates the logical plan to a leaf, so
  // a query consuming `edges` plans against a leaf instead of re-optimizing
  // the whole extraction→linking→pruning tree (the round-1 q29/q33
  // pathology). concepts/edges are lazy: the first consumer (q26/q27 in
  // driver order) pays and thereby *measures* that stage.
  final class KgShared(spark: SparkSession) {
    private implicit val s: SparkSession = spark
    val ex: DataFrame =
      Ingest.extract(PagesGen.pages(spark, 300), Ingest.Config()).toDF().localCheckpoint()
    lazy val concepts: DataFrame =
      Linking.buildConcepts(Ingest.mentionsOf(ex), "web", graft.core.TextSpec.version)
        .localCheckpoint()
    lazy val edges: DataFrame =
      Pruning.prune(Linking.resolveEdges(Ingest.triplesOf(ex), concepts)).localCheckpoint()

    /** The two rule tables a query service would keep COMMITTED next to
      * concepts/edges — computed once, checkpointed, shared by every
      * rules consumer (q31/q32 measure the operators as first consumers;
      * q33/q36/q41/q42 then read them like committed tables instead of
      * re-deriving per query).
      */
    lazy val explicitRulesDf: DataFrame =
      graft.rules.Rules.explicitRules(Ingest.ruleSentencesOf(ex), concepts, "web")
        .localCheckpoint()
    lazy val derivedRulesDf: DataFrame =
      graft.rules.Rules.derivedRules(
        edges.select("source_id", "target_id", "relation_type", "confidence"), concepts, "web")
        .localCheckpoint()

    /** Explicit ∪ derived rules in the retrieval-side shape
      * (id, text, category, concept_ids).
      */
    lazy val rulesAll: DataFrame = {
      val cols = Seq("id", "text", "category", "concept_ids").map(col)
      explicitRulesDf.select(cols: _*).unionByName(derivedRulesDf.select(cols: _*))
    }

    /** ONE full retrieval (query text shared with q33), computed once and
      * checkpointed — q33 serves the items half, q42 the rules half, and
      * writeFixtures dumps the items as the q42 oracle's input fixture, so
      * operator and oracle see byte-identical activation scores.
      */
    lazy val retrieval: graft.query.Retrieval.RetrievalOutput = {
      import spark.implicits._
      val factors = Seq.empty[(String, Double)].toDF("node_id", "factor")
      graft.query.Retrieval.retrieveFull(concepts, edges, factors,
        "platform access control tokens", topK = 10, rules = Some(rulesAll))
    }
  }

  /** Absolute path Verify dumps oracle fixtures to; fixture-based oracle SQL
    * reads them back via DuckDB read_parquet. The fixtures are STAGE INPUTS
    * (extraction structs, pruned edges, rule sentences) — each fixture-based
    * oracle re-implements the downstream operator in independent SQL, so the
    * circularity is limited to the (suite-verified, P/R-1.0) extraction.
    */
  val FixturesDir: String =
    sys.props.get("graft.fixtures.dir")
      .orElse(sys.env.get("GRAFT_FIXTURES_DIR"))
      .getOrElse(new java.io.File(
        sys.props.getOrElse("user.dir", "."), "target/verify_fixtures").getAbsolutePath)

  /** Dump the fixtures referenced by oracleSql. Verify calls this BEFORE
    * the driver runs the oracle SQL.
    */
  def writeFixtures(spark: SparkSession, sfDir: Option[String] = None): Unit = {
    implicit val s: SparkSession = spark
    val shared = kg(spark)
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$FixturesDir/$name")

    // hash-output fixtures for the LSH-family oracles (q17–q20): minhash /
    // simhash / hyperplane signatures and n-gram hash sets are the ONLY
    // non-SQL-expressible stage of those operators — everything downstream
    // (banding, bucket caps, candidate joins, hamming/jaccard verify,
    // ranking) is re-derived independently in DuckDB from these
    sfDir.foreach { dir =>
      val docs = t(spark, dir, "documents")
      w(docs.select(col("doc_id"),
        graft.ops.Dedup.minhashUdf(col("text")).as("sig")), "minhash_sigs")
      w(docs.select(col("doc_id"),
        graft.ops.Dedup.simhashUdf(col("text")).as("sig")), "simhash_sigs")
      w(docs.select(col("doc_id"),
        graft.ops.Dedup.ngramSetUdf(col("text"), lit(3)).as("grams")), "ngram_sets")
      w(t(spark, dir, "embeddings").select(col("vec_id"),
        graft.ops.Similarity.planeSignatureNUdf(col("embedding"), lit(8)).as("sig")),
        "lsh_sigs")
      // IVF coarse quantizer (q48): k-means training is the only
      // non-SQL-expressible stage — the trained centroids are the
      // fixture; assignment, probing, and ranking are all re-derived
      // independently in DuckDB. Training is bit-deterministic
      // (fixed-point sums, lowest-id init), so this dump and the q48
      // query's own training agree exactly.
      locally {
        import spark.implicits._
        val cents = graft.ops.Ivf.train(t(spark, dir, "embeddings"), k = 16, iters = 5)
        w(cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toDF("cluster", "centroid"), "ivf_centroids")
      }
    }
    w(shared.ex, "extractions")
    w(shared.edges, "pruned_edges")
    // pruning INPUT (resolved, unpruned edges) — the q27 oracle re-runs
    // the P0–P6 pipeline from this in independent SQL
    w(Linking.resolveEdges(Ingest.triplesOf(shared.ex), shared.concepts),
      "resolved_edges")
    w(shared.concepts.drop("embedding"), "concepts_lite")
    val sents = graft.rules.Rules.normativeSentences(Ingest.ruleSentencesOf(shared.ex))
    w(sents, "rule_sentences")
    w(graft.rules.Rules.sentenceMentionNames(sents), "rule_mention_names")
    w(graft.canon.Canon.synonymEdges(shared.concepts, Ingest.aliasesOf(shared.ex), 0.75),
      "synonym_pairs")
    // activated items of the shared retrieval — input fixture for the q42
    // rules-bundle oracle (the vec/PPR half is suite-verified; the rules
    // join downstream is what the oracle re-implements in SQL)
    w(shared.retrieval.results.select(col("id"), col("combined").as("score")),
      "retrieval_items")
    // q33's embedding-derived stage inputs, recomputed on the same code
    // path + inputs the shared retrieval used: the vec-search seeds and
    // the online cosine edges. The q33 oracle re-derives everything
    // DOWNSTREAM of the embedding (factor weighting, blocked PPR with the
    // convergence stop, max-normalization, blend, top-k) in independent
    // SQL over these.
    val qvec = graft.core.Embeddings.embed("platform access control tokens")
    val seeds = graft.query.Retrieval.vectorSearch(shared.concepts, qvec, 30)
    w(seeds.select(col("id"), col("vec_score")), "retrieval_seeds")
    val seedEmb = seeds.select(col("id"))
      .join(shared.concepts.select(col("id"), col("embedding")), Seq("id"))
    w(graft.query.Retrieval.onlineEdges(seedEmb, 0.7), "retrieval_online")
  }

  private val kgCache =
    new java.util.concurrent.atomic.AtomicReference[(SparkSession, KgShared)]()

  def kg(spark: SparkSession): KgShared = {
    val cached = kgCache.get()
    if (cached != null && (cached._1 eq spark)) cached._2
    else {
      val shared = new KgShared(spark)
      kgCache.set((spark, shared))
      shared
    }
  }

  /** The random synthetic embeddings contain no true near-duplicates, so
    * near-dup ops are exercised on a corpus with injected dups: every 10th
    * vector gets a copy (id + 1,000,000) perturbed by +0.01 in dim 0 —
    * cosine ≈ 0.9999 to its original.
    */
  private val perturbUdf = udf { (v: Seq[Float]) =>
    if (v == null || v.isEmpty) v
    else (v.head + 0.01f) +: v.tail
  }

  private[graft] def withNearDups(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val dups = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        perturbUdf(col("embedding")).as("embedding"), col("label"))
    emb.select("vec_id", "embedding", "label").union(dups)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- relational core over the TPC-H-ish tables ----------
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1995-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          count(lit(1)).as("count_order"))
    }),
    "q02_segment_revenue" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),
    "q03_top_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),
    "q04_exists_semi" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q05_not_exists_anti" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q06_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),
    "q07_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),
    "q08_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"))
    }),
    "q09_broadcast_multijoin" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    }),
    "q10_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    }),
    "q49_events_windowed" -> ((s, dir) =>
      // the streaming windowed-agg operator run in batch mode (the
      // watermark is a no-op there; streaming semantics are
      // suite-driven in WindowedEventsSuite)
      graft.streaming.WindowedEvents.hourlyByType(t(s, dir, "events"))),
    // ---------- text analysis over documents ----------
    "q11_doc_lang_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),
    "q12_doc_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    }),
    "q13_dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    "q14_doc_quality" -> ((s, dir) => {
      TextAnalysis.quality(t(s, dir, "documents"))
        .select("doc_id", "lang", "n_chars", "len_bucket", "n_punct", "has_the")
    }),
    "q15_embed_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"), min(size(col("embedding"))).as("dim"))
    }),
    // ---------- similarity / dedup (rows-only: not ANSI-SQL-expressible) --
    "q16_knn_brute" -> ((s, dir) => {
      implicit val sp = s
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
    }),
    "q17_ann_lsh" -> ((s, dir) => {
      implicit val sp = s
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
    }),
    "q18_dedup_minhash" -> ((s, dir) => {
      implicit val sp = s
      Dedup.minhashLsh(t(s, dir, "documents")).filter(col("est_jaccard") >= 0.5)
    }),
    "q48_ann_ivf" -> ((s, dir) => {
      implicit val sp = s
      val emb = t(s, dir, "embeddings")
      graft.ops.Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 5),
        k = 5, nClusters = 16, iters = 5, nprobe = 4)
        .withColumn("cosine", round(col("cosine"), 4))
    }),
    "q19_dedup_simhash" -> ((s, dir) => {
      implicit val sp = s
      Dedup.simhash(t(s, dir, "documents"), maxHamming = 8)
    }),
    "q50_dedup_clusters" -> ((s, dir) => {
      implicit val sp = s
      Dedup.dedupClusters(t(s, dir, "documents"))
    }),
    "q51_split_assign" -> ((s, dir) =>
      graft.ops.Sampling.assignSplits(t(s, dir, "documents"))
        .select("doc_id", "bucket", "split")),
    "q72_resample_mix" -> ((s, dir) =>
      graft.ops.Sampling.resampleSources(
        t(s, dir, "documents").select("doc_id", "source"),
        Map("src0" -> 250, "src1" -> 500, "src2" -> 0),
        defaultPermille = 800)),
    "q54_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"))),
    "q55_shared_grams" -> ((s, dir) =>
      graft.ops.Curation.sharedGramStats(t(s, dir, "documents"))),
    "q65_substring_dup" -> ((s, dir) =>
      graft.ops.Curation.substringDupStats(t(s, dir, "documents"), w = 10)),
    "q66_substring_dedup" -> ((s, dir) =>
      graft.ops.Curation.substringDedup(t(s, dir, "documents"), w = 10)),
    "q67_ngram_decontaminate" -> ((s, dir) => {
      // same simulated eval set as q52 (every 7th doc re-keyed) — q52
      // flags whole near-duplicate DOCS via minhash, this flags the exact
      // token spans shared with the benchmark
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      graft.ops.Curation.ngramDecontaminate(docs, bench, w = 10)
    }),
    "q68_c4_lines" -> ((s, dir) => {
      // the fixture text is single-line and punctuation-free, so the
      // query splices deterministic STRUCTURE in (the q61 PII pattern):
      // three 60-char chunks with terminal '.', one bare chunk, plus
      // javascript / brace / lorem-ipsum lines on doc_id-keyed subsets —
      // the oracle performs the identical concat, so every C4 rule fires
      val docs = t(s, dir, "documents")
      val enriched = docs.select(col("doc_id"), concat_ws("\n",
        concat(substring(col("text"), 1, 60), lit(".")),
        concat(substring(col("text"), 61, 60), lit(".")),
        concat(substring(col("text"), 121, 60), lit(".")),
        substring(col("text"), 181, 60),
        when(col("doc_id") % 9 === 0,
          lit("Please enable javascript to continue viewing."))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit("config = { mode: 1 }"))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("Lorem ipsum dolor sit amet consectetur adipiscing elit."))
          .otherwise(lit(""))).as("text"))
      graft.ops.Curation.c4LineClean(enriched)
    }),
    "q69_gopher_quality" -> ((s, dir) => {
      // symbol-ratio and ellipsis-line rules need symbols the fixture
      // lacks — spliced on doc_id-keyed subsets, mirrored in the oracle;
      // word-count and stopword-presence vary naturally
      val docs = t(s, dir, "documents")
      val enriched = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0,
          lit(" ### ### ### ### ### ### ### ###")).otherwise(lit("")),
        when(col("doc_id") % 8 === 0, lit(" to be continued..."))
          .otherwise(lit(""))).as("text"))
      graft.ops.Curation.gopherQuality(enriched, minStopwords = 1)
    }),
    "q70_gopher_repetition" -> ((s, dir) => {
      // the fixture text is single-line; deterministic line/paragraph
      // STRUCTURE is spliced in (q68/q69 discipline): two-line
      // paragraphs, a cross-paragraph duplicate line on doc_id%4, a
      // whole duplicated paragraph on doc_id%5 — the oracle performs
      // the identical concat so every repetition rule fires
      val docs = t(s, dir, "documents")
      val l1 = substring(col("text"), 1, 50)
      val l2 = substring(col("text"), 51, 50)
      val l3 = substring(col("text"), 101, 50)
      val l4 = substring(col("text"), 151, 50)
      val paraA = concat_ws("\n", l1, l2)
      val paraB = concat_ws("\n", l3,
        when(col("doc_id") % 4 === 0, l1).otherwise(l4))
      val full = concat_ws("\n\n", paraA, paraB,
        when(col("doc_id") % 5 === 0, paraA).otherwise(lit("")))
      graft.ops.Curation.gopherRepetition(
        docs.select(col("doc_id"), full.as("text")))
    }),
    "q71_dedup_paragraphs" -> ((s, dir) => {
      // same structural splice as q70 (duplicate paragraph on doc_id%5,
      // cross-paragraph duplicate line on doc_id%4) — the transform must
      // drop the repeated paragraph and keep first occurrences in order
      val docs = t(s, dir, "documents")
      val l1 = substring(col("text"), 1, 50)
      val l2 = substring(col("text"), 51, 50)
      val l3 = substring(col("text"), 101, 50)
      val l4 = substring(col("text"), 151, 50)
      val paraA = concat_ws("\n", l1, l2)
      val paraB = concat_ws("\n", l3,
        when(col("doc_id") % 4 === 0, l1).otherwise(l4))
      val full = concat_ws("\n\n", paraA, paraB,
        when(col("doc_id") % 5 === 0, paraA).otherwise(lit("")))
      graft.ops.Curation.dedupParagraphs(
        docs.select(col("doc_id"), full.as("text")))
    }),
    "q56_source_caps" -> ((s, dir) =>
      graft.ops.Curation.capPerSourceVerified(t(s, dir, "documents"),
        maxPerSource = 10)),
    "q57_unigram_rarity" -> ((s, dir) =>
      graft.ops.Curation.unigramRarity(t(s, dir, "documents"))),
    "q58_pattern_signals" -> ((s, dir) =>
      graft.ops.Curation.patternSignals(t(s, dir, "documents"))),
    "q59_curate" -> ((s, dir) =>
      graft.ops.Curation.curate(t(s, dir, "documents"))),
    "q60_incremental_dedup" -> ((s, dir) => {
      implicit val sp = s
      // cross-batch dedup: evens play the committed corpus (signature
      // index), odds the arriving batch — each odd doc annotated with its
      // best committed near-dup (est ≥ 0.5) without re-reading even text
      val docs = t(s, dir, "documents")
      // checkpoint the committed-side signatures: capBuckets reads the
      // banded frame twice (sizes + kept-join) and must not re-hash text
      val existing = Dedup.signatures(docs.filter(col("doc_id") % 2 === 0), "doc_id")
        .localCheckpoint()
      graft.ops.IncrementalDedup.annotateAgainst(
        existing, docs.filter(col("doc_id") % 2 === 1), minEstJaccard = 0.5)
    }),
    "q61_redact_pii" -> ((s, dir) => {
      // the synthetic docs carry no PII; splice deterministic email/URL/IP
      // literals into doc_id-keyed subsets INSIDE the query (the oracle
      // performs the same concat) so the rewrite is actually exercised
      val docs = t(s, dir, "documents")
      val enriched = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" see https://ex"), col("doc_id").cast("string"),
            lit(".example/p?q=1"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 200).cast("string"))).otherwise(lit(""))))
      graft.ops.Curation.redactPii(enriched)
    }),
    "q62_incremental_canon" -> ((s, dir) => {
      implicit val sp = s
      // incremental CC: commit clusters over the even-even near-dup pairs,
      // then fold in every pair touching an odd (new-batch) doc via
      // IncrementalCanon — the result must equal global CC over ALL pairs,
      // which the oracle recomputes independently as a recursive closure
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLsh(docs).filter(col("est_jaccard") >= 0.5)
        .select("id_a", "id_b").localCheckpoint()
      val init = pairs.filter(col("id_a") % 2 === 0 && col("id_b") % 2 === 0)
      val delta = pairs.filter(col("id_a") % 2 === 1 || col("id_b") % 2 === 1)
      val committed = graft.canon.Canon.connectedComponents(init)
      val updated = graft.canon.IncrementalCanon.update(committed, delta)
      docs.select(col("doc_id"))
        .join(updated.select(col("id").as("doc_id"), col("canonical_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical_id"), col("doc_id")).as("cluster_id"))
    }),
    "q63_vector_migrate" -> ((s, dir) => {
      implicit val sp = s
      // S7 migration job (vec/migrate.py): build a source index from the
      // fixture embeddings, tombstone every 10th vector (so the migration
      // resolves merge-on-read state, not raw deltas), then migrate with a
      // re-embed transform (slice to 8 dims). Output = the DESTINATION
      // index resolved — the oracle re-derives it from the parquet alone
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val wh = java.nio.file.Files.createTempDirectory("graft-q63").toString
      val store = new graft.store.SnapshotStore(wh)
      val src = new graft.query.VectorIndex(store, "vi_src")
      val dst = new graft.query.VectorIndex(store, "vi_dst")
      src.upsert(emb.select(col("vec_id").cast("string").as("id"), col("embedding")))
      src.remove(emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").cast("string").as("id")))
      graft.query.VectorMigrate.migrate(src, dst,
        transform = df => df.select(col("id"),
          slice(col("embedding"), 1, 8).as("embedding")),
        expectDim = Some(8))
      dst.read().select(col("id"), size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("e0"))
    }),
    "q64_session_retrieval" -> ((s, dir) => {
      implicit val sp = s
      // session-scoped online retrieval (service.py:724-785): three
      // fixture documents play conversation messages across two sessions;
      // session B is expired, then session A is searched. Deterministic
      // hash embeddings → deterministic ranking; no SQL oracle (the
      // chunker + embedding are not SQL-expressible) → rows-only check
      val wh = java.nio.file.Files.createTempDirectory("graft-q64").toString
      val store = new graft.store.SnapshotStore(wh)
      val si = new graft.query.SessionIndex(store)
      val msgs = t(s, dir, "documents").orderBy("doc_id").limit(3)
        .select("text").collect().map(_.getString(0))
      si.ingestMessage(msgs(0), "sess-a", "user", nowMillis = 1L)
      si.ingestMessage(msgs(1), "sess-a", "assistant", nowMillis = 2L)
      si.ingestMessage(msgs(2), "sess-b", "user", nowMillis = 3L)
      si.expire("sess-b")
      si.search("sess-a", msgs(0).take(80), topK = 5, nowMillis = 4L)
        .select(col("id"), col("role"), round(col("score"), 6).as("score"))
    }),
    "q53_pack_shards" -> ((s, dir) =>
      graft.ops.Sampling.packShards(
        t(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        tokenBudget = 1000L, nBuckets = 50)),
    "q52_decontaminate" -> ((s, dir) => {
      implicit val sp = s
      // simulated eval set: every 7th document re-keyed — contamination
      // hits are its identical source (est 1.0) plus true near-dups
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.crossContamination(docs, bench)
    }),
    "q20_dedup_ngram" -> ((s, dir) => {
      implicit val sp = s
      Dedup.ngramJaccard(t(s, dir, "documents"), threshold = 0.5)
    }),
    "q21_dedup_embed" -> ((s, dir) => {
      implicit val sp = s
      // round(6): DuckDB's list_cosine_similarity accumulates in a
      // different order than our loop — identical to the last ulp only.
      // The ≥0.95 gate is applied to the ROUNDED cosine on both sides
      // (operator threshold sits just below), so a pair within an ulp of
      // the boundary cannot be included by one side only.
      Dedup.embeddingCosine(withNearDups(s, dir), threshold = 0.9499)
        .withColumn("cosine", round(col("cosine"), 6))
        .filter(col("cosine") >= 0.95)
    }),
    "q22_langid" -> ((s, dir) => TextAnalysis.langId(t(s, dir, "documents"))),
    "q23_fingerprint" -> ((s, dir) => TextAnalysis.fingerprints(t(s, dir, "documents"))),
    "q24_mm_features" -> ((s, dir) => {
      implicit val sp = s
      // features flattened to scalar double columns (the checker cannot
      // hash raw arrays); float→double cast is value-exact, so the oracle
      // reproduces the float32 arithmetic bit-for-bit via double math +
      // a float32 round-trip cast
      val f = Multimodal.extractFeatures(
        Multimodal.synthesizeFromDocuments(t(s, dir, "documents")))
      f.select(Seq(col("media_id"), col("kind"), col("n_bytes")) ++
        (0 until 8).map(i => col("features")(i).cast("double").as(s"f$i")): _*)
    }),
    // ---------- KG construction over deterministic generated pages ------
    "q25_kg_triples" -> ((s, _) => {
      implicit val sp = s
      Ingest.triplesOf(kg(s).ex)
    }),
    "q26_kg_concepts" -> ((s, _) => {
      // embedding dropped from the driver-facing projection (array column;
      // its determinism is suite-pinned), dim kept as a scalar witness;
      // properties map flattened to scalar columns for the checker
      kg(s).concepts.select(
        col("id"), col("name"), col("description"), col("domain"),
        col("source_id"), col("source_location"), col("confidence"),
        col("mention_count"), size(col("embedding")).as("embedding_dim"),
        col("embedding_model"), col("extractor_version"),
        coalesce(col("properties")("examples"), lit("")).as("prop_examples"),
        coalesce(col("properties")("concept_role"), lit("")).as("prop_role"),
        coalesce(col("properties")("illustrates"), lit("")).as("prop_illustrates"))
    }),
    "q27_kg_edges_pruned" -> ((s, _) => kg(s).edges),
    "q28_kg_canon_map" -> ((s, _) => {
      implicit val sp = s
      val shared = kg(s)
      Canon.canonicalMap(shared.concepts, Ingest.aliasesOf(shared.ex), 0.75)
    }),
    "q29_ppr" -> ((s, _) => {
      implicit val sp = s
      import sp.implicits._
      val seeds = Seq(("web:The Platform", 1.0)).toDF("id", "weight")
      // fixed 25 iterations (tol=0) → deterministic, oracle-comparable;
      // convergence-to-1e-6 behavior is pinned by GraphSuite against a
      // dense reference
      graft.graph.Ppr.run(kg(s).edges, seeds, tol = 0.0, maxIter = 25)
        .withColumn("rank", round(col("rank"), 6))
    }),
    "q31_rules_explicit" -> ((s, _) => {
      kg(s).explicitRulesDf
        .withColumn("concept_ids", concat_ws(",", col("concept_ids")))
    }),
    "q32_rules_derived" -> ((s, _) => {
      kg(s).derivedRulesDf
        .withColumn("concept_ids", concat_ws(",", col("concept_ids")))
    }),
    "q33_retrieval_hybrid" -> ((s, _) => {
      // items half of the ONE shared retrieval (see KgShared.retrieval);
      // q42 serves the rules half of the same contract
      kg(s).retrieval.results
        .withColumn("vec_score", round(col("vec_score"), 4))
        .withColumn("combined", round(col("combined"), 4))
        .drop("ppr")
    }),
    "q42_retrieval_rules" -> ((s, _) => {
      kg(s).retrieval.rules
        .withColumn("relevance", round(col("relevance"), 6))
    }),
    "q43_feedback_drift" -> ((s, dir) => {
      implicit val sp = s
      // same synthetic factor table as q37; outcomes cycle through the
      // three allowed values by vec_id — one Service.feedback call, then
      // the drift snapshot of the updated factors
      val factors = t(s, dir, "embeddings").select(
        col("vec_id").cast("string").as("node_id"),
        (lit(0.1) + (col("vec_id") % 50).cast("double") * 0.1).as("factor"))
      val outcomes = t(s, dir, "embeddings").select(
        col("vec_id").cast("string").as("node_id"),
        when(col("vec_id") % 3 === 0, "accepted")
          .when(col("vec_id") % 3 === 1, "rejected")
          .otherwise("partial").as("outcome"))
      val fb = graft.query.Service.feedback(factors, outcomes, "q43")
        .fold(err => sys.error(err), identity)
      graft.streaming.EdgePromotion.factorDriftSnapshot(fb.factors)
        .withColumn("mean", round(col("mean"), 6))
        .withColumn("entropy", round(col("entropy"), 6))
    }),
    "q44_thompson" -> ((s, dir) => {
      // A10 — Beta-Bernoulli posterior aggregation over a deterministic
      // synthetic reward stream keyed by the embeddings labels
      val obs = t(s, dir, "embeddings").select(
        col("label").as("arm_id"),
        when(col("vec_id") % 5 < 2, 1.0).otherwise(0.0).as("reward"))
      graft.learning.Thompson.posteriors(obs)
        .withColumn("posterior_mean", round(col("posterior_mean"), 6))
    }),
    "q34_bfs_neighborhood" -> ((s, _) => {
      implicit val sp = s
      import sp.implicits._
      val seeds = Seq("web:The Platform").toDF("id")
      graft.graph.Bfs.patternCompletion(kg(s).edges, seeds, maxDepth = 2)
    }),
    "q35_code_examples" -> ((s, _) => {
      implicit val sp = s
      val shared = kg(s)
      Ingest.codeExamplesOf(shared.ex, shared.concepts, "web")
        .withColumn("concept_ids", concat_ws(",", col("concept_ids")))
    }),
    "q36_service_stats" -> ((s, _) => {
      val shared = kg(s)
      graft.query.Service.knowledgeStats(shared.concepts, shared.edges,
        shared.explicitRulesDf.select("id", "domain")
          .unionByName(shared.derivedRulesDf.select("id", "domain")))
    }),
    "q37_factor_drift" -> ((s, dir) => {
      implicit val sp = s
      // deterministic synthetic factor table over the embeddings ids,
      // spanning the full clamp range [0.1, 5.0]
      val factors = t(s, dir, "embeddings").select(
        col("vec_id").cast("string").as("node_id"),
        (lit(0.1) + (col("vec_id") % 50).cast("double") * 0.1).as("factor"))
      graft.streaming.EdgePromotion.factorDriftSnapshot(factors)
        .withColumn("mean", round(col("mean"), 6))
        .withColumn("entropy", round(col("entropy"), 6))
    }),
    "q38_name_glob" -> ((s, _) => {
      graft.query.Service.filterByNameGlob(kg(s).concepts, "*auth*")
        .select("id", "name")
    }),
    "q39_db_schema_kg" -> ((s, _) => {
      implicit val sp = s
      import sp.implicits._
      // deterministic synthetic schema exercising every J8 branch
      val tables = Seq(
        ("users", Seq("id", "name", "email"), Seq("id")),
        ("posts", Seq("id", "title", "body", "rating", "views", "owner_id",
          "post_template_id"), Seq("id")),
        ("post_tags", Seq("post_id", "tag_id"), Seq("post_id", "tag_id")),
        ("tags", Seq("id", "label"), Seq("id")),
        ("comments", Seq("id", "body", "post_id"), Seq("id"))
      ).toDF("table_name", "columns", "pk_columns")
      val fks = Seq(
        ("posts", "owner_id", "users", "NO ACTION"),
        ("posts", "post_template_id", "posts", "NO ACTION"),
        ("post_tags", "post_id", "posts", "CASCADE"),
        ("post_tags", "tag_id", "tags", "CASCADE"),
        ("comments", "post_id", "posts", "CASCADE")
      ).toDF("table_name", "source_column", "ref_table", "on_delete")
      val constraints = Seq(
        ("posts", "title_nonempty", "((length(title) > 0))"),
        ("tags", "label_lower", "(label = lower(label))")
      ).toDF("table_name", "constraint_name", "check_clause")
      val (_, edges, rules) = graft.sources.Structured.schemaToKg(
        tables, fks, constraints, "db")
      edges.select(col("source_id"), col("target_id"), col("relation_type"),
        col("source_text"))
        .unionByName(rules.select(col("concept_ids")(0).as("source_id"),
          lit("").as("target_id"), col("category").as("relation_type"),
          col("text").as("source_text")))
    }),
    "q40_db_row_text" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
        graft.sources.Structured.serializeNatural(docs, "documents").as("text_nl"))
    }),
    "q41_projection" -> ((s, _) => {
      val shared = kg(s)
      val rules = graft.projectors.Projectors.ruleSource(
        shared.explicitRulesDf, shared.derivedRulesDf)
      graft.projectors.Projectors.seedEntries(
          graft.projectors.Projectors.enrichTemplate(rules))
        .na.fill("", Seq("prov_relation_type", "prov_template_id",
          "prov_template_variant", "prov_template_severity"))
    }),
    "q45_causal_rules" -> ((s, _) => {
      implicit val sp = s
      import sp.implicits._
      // deterministic 5-node DAG exercising chain, fork, and collider
      // blocking: A→B→C (REQUIRES), A→D (USES), E→C (SUPPORTS)
      val edges = Seq(
        ("A", "B", "REQUIRES", 1.0), ("B", "C", "REQUIRES", 1.0),
        ("A", "D", "USES", 1.0), ("E", "C", "SUPPORTS", 1.0))
        .toDF("source_id", "target_id", "relation_type", "confidence")
      val dag = graft.causal.CausalDag.fromEdgeFrame(edges)
      graft.causal.CausalRules.derive(dag, "web")
        .withColumn("source_concepts", concat_ws(",", col("source_concepts")))
    }),
    "q46_credit_stream" -> ((s, dir) => {
      implicit val sp = s
      // distributed causal credit over a reward stream: fixed chain
      // A →0.81→ B →0.81→ C (REQUIRES conf 0.9 × default 0.9), rewards ±1
      // alternating by vec_id — posterior deltas per concept
      val dag = graft.causal.CausalDag.fromEdges(Seq(
        ("A", "B", "REQUIRES", 0.9 * 0.9), ("B", "C", "REQUIRES", 0.9 * 0.9)))
      val rewards = t(s, dir, "embeddings").select(
        array(lit("C")).as("concept_ids"),
        when(col("vec_id") % 2 === 0, 1.0).otherwise(-1.0).as("reward"))
      new graft.causal.CreditAssigner(dag).creditStream(rewards)
        .withColumn("alpha_delta", round(col("alpha_delta"), 6))
        .withColumn("beta_delta", round(col("beta_delta"), 6))
    }),
    "q47_learner_state" -> ((s, dir) => {
      implicit val sp = s
      // the Learner facade's distributed state derivation: seed boosts
      // (default context only, learner.py:78-95) + TernaryReward mapping
      // + one posterior aggregation over a deterministic observation
      // stream keyed by the events table
      val obs = t(s, dir, "events").select(
        when(col("event_id") % 2 === 0, lit("default"))
          .otherwise(lit(AltContextHash)).as("context_hash"),
        col("event_type").as("arm_id"),
        when(col("value") > 100, "accepted")
          .when(col("value") > 10, "partial")
          .otherwise("rejected").as("outcome"))
      graft.learning.Learner.posteriorState(obs,
        graft.learning.LearnerConfig("graft",
          seedArms = Seq("click", "signup", "dormant")))
        .withColumn("posterior_mean", round(col("posterior_mean"), 6))
    }),
    "q30_edge_promotion" -> ((s, dir) => {
      implicit val sp = s
      // synthetic observation stream: repeated high-cosine pairs from the
      // near-dup-injected embeddings table
      val pairs = Dedup.embeddingCosine(withNearDups(s, dir), threshold = 0.9)
      val obs = pairs.select(
        col("id_a").cast("string").as("node_a"),
        col("id_b").cast("string").as("node_b"),
        col("cosine").as("score"))
        .crossJoin(s.range(3).select(col("id").as("rep")))
        .drop("rep")
      graft.streaming.EdgePromotion.promoteBatch(obs)
        .withColumn("confidence", round(col("confidence"), 6))
    })
  )

  /** ANSI-SQL oracles DuckDB runs on the same parquet files. Keys absent
    * here get the driver's weaker rows-only check (the op is not
    * SQL-expressible: LSH, minhash, extraction, CC, PPR, ...).
    */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1995-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_segment_revenue" ->
      """SELECT c_mktsegment,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q03_top_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q04_exists_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q05_not_exists_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin,
    "q06_filter_pushdown" ->
      """SELECT
        | CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q07_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin,
    "q08_distinct_agg" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_partkey) AS distinct_parts,
        | COUNT(DISTINCT l_suppkey) AS distinct_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q09_broadcast_multijoin" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q10_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q49_events_windowed" ->
      // Spark's window(ts, '1 hour') start == date_trunc; end = start + 1h
      """SELECT date_trunc('hour', ts) AS window_start,
        | date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        | event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q11_doc_lang_stats" ->
      // CAST: DuckDB SUM(BIGINT) yields HUGEINT (int128) — the driver's
      // hasher then sees different value types than Spark's BIGINT
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "q12_doc_tokens" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents""".stripMargin,
    "q13_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        | COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q14_doc_quality" ->
      """SELECT doc_id, lang, n_chars,
        | CASE WHEN n_chars < 200 THEN 'short'
        |      WHEN n_chars < 1000 THEN 'medium' ELSE 'long' END AS len_bucket,
        | length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
        | contains(text, ' the ') AS has_the
        |FROM documents""".stripMargin,
    "q15_embed_stats" ->
      """SELECT label, COUNT(*) AS n_vectors, MIN(len(embedding)) AS dim
        |FROM embeddings GROUP BY label""".stripMargin,

    // ---------- ops oracles (DuckDB re-implementations) ----------
    "q16_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) AS cosine
        |      FROM q, c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,
    "q21_dedup_embed" ->
      // ground-truth all-pairs cosine (the operator's banded LSH must reach
      // recall 1.0 on this corpus for the hashes to match)
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_prepend(CAST(embedding[1] + CAST(0.01 AS FLOAT) AS FLOAT), embedding[2:])
        |  FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cosine
        |  FROM base a, base b WHERE a.vec_id < b.vec_id)
        |WHERE round(cosine, 6) >= 0.95""".stripMargin,
    "q22_langid" ->
      """WITH d AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    list_slice(regexp_split_to_array(lower(coalesce(text,'')), '\s+'), 1, 200) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, labeled_lang,
        |  len(list_filter(['the','and','of','to','in','is','a'], m -> list_contains(toks, m))) AS n_en,
        |  len(list_filter(['der','die','und','das','ist','nicht','ein'], m -> list_contains(toks, m))) AS n_de,
        |  len(list_filter(['el','la','de','que','y','los','una'], m -> list_contains(toks, m))) AS n_es,
        |  len(list_filter(['le','la','les','des','est','une','et'], m -> list_contains(toks, m))) AS n_fr
        | FROM d)
        |SELECT doc_id, labeled_lang,
        | CASE WHEN greatest(n_en,n_de,n_es,n_fr) = 0 THEN 'unknown'
        |      WHEN n_fr >= n_en AND n_fr >= n_de AND n_fr >= n_es THEN 'fr'
        |      WHEN n_es >= n_en AND n_es >= n_de THEN 'es'
        |      WHEN n_en >= n_de THEN 'en'
        |      ELSE 'de' END AS predicted_lang
        |FROM s""".stripMargin,
    "q23_fingerprint" ->
      // same rolling polynomial hash (B=257, M=1e9+7, window 16) over the
      // (all-ASCII) text, expressed with DuckDB list lambdas
      """SELECT doc_id,
        | CASE WHEN length(coalesce(text,'')) < 16 THEN 0 ELSE
        |  list_min(list_transform(range(1, length(text) - 14),
        |    s -> list_reduce(
        |           list_prepend(CAST(0 AS BIGINT),
        |             list_transform(range(s, s + 16), i -> CAST(unicode(text[i]) AS BIGINT))),
        |           (h, b) -> (h * 257 + b) % 1000000007)))
        | END AS fingerprint
        |FROM documents""".stripMargin,
    "q30_edge_promotion" ->
      // obs = each cosine≥0.9 near-dup pair seen 3× → hits=3, avg=cosine
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_prepend(CAST(embedding[1] + CAST(0.01 AS FLOAT) AS FLOAT), embedding[2:])
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cosine
        |  FROM base a, base b WHERE a.vec_id < b.vec_id),
        |q AS (SELECT CAST(id_a AS VARCHAR) AS na, CAST(id_b AS VARCHAR) AS nb, cosine
        |      FROM p WHERE cosine >= 0.9)
        |SELECT least(na, nb) AS source_id, greatest(na, nb) AS target_id,
        |  'SIMILAR_TO' AS relation_type, round(cosine, 6) AS confidence,
        |  CAST(3 AS BIGINT) AS hits
        |FROM q WHERE cosine >= 0.75""".stripMargin,

    // ---------- KG oracles over the Verify-dumped stage-input fixtures ----
    "q25_kg_triples" ->
      s"""SELECT t.subj AS subj, t.pred AS pred, t.obj AS obj, t.confidence AS confidence,
         |       url, day, t.chunk_id AS chunk_id, t.sentence AS sentence,
         |       '${graft.core.TextSpec.version}' AS extractor_version
         |FROM (SELECT url, day, unnest(triples) AS t
         |      FROM read_parquet('$FixturesDir/extractions/*.parquet'))""".stripMargin,
    "q26_kg_concepts" ->
      s"""WITH m AS (
         |  SELECT url, u.chunk_id AS chunk_id, u.name AS name,
         |         u.description AS description, u.confidence AS confidence,
         |         u.role AS role, u.illustrates AS illustrates
         |  FROM (SELECT url, unnest(mentions) AS u
         |        FROM read_parquet('$FixturesDir/extractions/*.parquet'))),
         |gen AS (SELECT * FROM m WHERE role <> 'illustrative'),
         |ill AS (SELECT * FROM m WHERE role = 'illustrative'),
         |base AS (
         |  SELECT lower(name) AS k, name, url, chunk_id, description, confidence,
         |    ROW_NUMBER() OVER (PARTITION BY lower(name)
         |      ORDER BY confidence DESC, name ASC, url ASC, chunk_id ASC, description ASC) AS rn,
         |    COUNT(*) OVER (PARTITION BY lower(name)) AS mention_count
         |  FROM gen),
         |basew AS (SELECT * FROM base WHERE rn = 1),
         |exw AS (
         |  SELECT lower(illustrates) AS k, name, description, chunk_id, confidence,
         |    ROW_NUMBER() OVER (PARTITION BY lower(illustrates), lower(name)
         |      ORDER BY confidence DESC, name ASC, description ASC, chunk_id ASC) AS wn
         |  FROM ill WHERE illustrates IS NOT NULL),
         |exr AS (
         |  SELECT k, struct_pack(name := name, description := description,
         |           source_location := chunk_id, confidence := confidence) AS ex,
         |    ROW_NUMBER() OVER (PARTITION BY k
         |      ORDER BY name ASC, description ASC, chunk_id ASC, confidence ASC) AS rn2
         |  FROM exw WHERE wn = 1),
         |ex AS (
         |  SELECT k, CAST(to_json(list_sort(list(ex))) AS VARCHAR) AS examples
         |  FROM exr WHERE rn2 <= 20 GROUP BY k),
         |orph AS (
         |  SELECT lower(name) AS k, name, url, chunk_id, description, confidence, illustrates,
         |    ROW_NUMBER() OVER (PARTITION BY lower(name)
         |      ORDER BY confidence DESC, name ASC, url ASC, chunk_id ASC, description ASC,
         |               illustrates ASC NULLS FIRST) AS rn,
         |    COUNT(*) OVER (PARTITION BY lower(name)) AS mention_count
         |  FROM ill
         |  WHERE lower(coalesce(illustrates, ' ')) NOT IN (SELECT k FROM basew)
         |    AND lower(name) NOT IN (SELECT k FROM basew))
         |SELECT 'web:' || name AS id, name, description, 'web' AS domain, url AS source_id,
         |  chunk_id AS source_location, confidence, mention_count,
         |  CAST(384 AS INT) AS embedding_dim,
         |  'feature-hash-384-v1' AS embedding_model,
         |  '${graft.core.TextSpec.version}' AS extractor_version,
         |  coalesce(ex.examples, '') AS prop_examples,
         |  '' AS prop_role, '' AS prop_illustrates
         |FROM basew LEFT JOIN ex USING (k) WHERE rn = 1
         |UNION ALL
         |SELECT 'web:' || name, name, description, 'web', url, chunk_id, confidence,
         |  mention_count, CAST(384 AS INT), 'feature-hash-384-v1',
         |  '${graft.core.TextSpec.version}', '', 'illustrative', coalesce(illustrates, '')
         |FROM orph WHERE rn = 1""".stripMargin,
    "q17_ann_lsh" -> lshAnnOracleSql,
    "q48_ann_ivf" ->
      // centroids are the fixture (k-means is the one non-SQL stage);
      // nearest-centroid assignment, nprobe probing, candidate join, and
      // the top-k ranking are all re-derived independently here. Cosine
      // ties break by lower cluster / neighbor id on both sides.
      s"""WITH cents AS (SELECT cluster, centroid
         |  FROM read_parquet('$FixturesDir/ivf_centroids/*.parquet')),
         |sims AS (SELECT e.vec_id, c.cluster,
         |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(c.centroid AS DOUBLE[])) AS sim
         |  FROM embeddings e, cents c),
         |asg AS (SELECT vec_id AS neighbor_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cluster ASC) AS rn
         |    FROM sims) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cluster ASC) AS rn
         |    FROM sims WHERE vec_id < 5) WHERE rn <= 4),
         |cand AS (SELECT p.query_id, a.neighbor_id
         |  FROM probes p JOIN asg a USING (cluster)
         |  WHERE p.query_id <> a.neighbor_id),
         |scored AS (SELECT c.query_id, c.neighbor_id,
         |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                           CAST(ne.embedding AS DOUBLE[])) AS cosine
         |  FROM cand c
         |  JOIN embeddings qe ON c.query_id = qe.vec_id
         |  JOIN embeddings ne ON c.neighbor_id = ne.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine,
         |  CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin,
    "q24_mm_features" ->
      // the stub decoder's byte statistics re-derived from the (all-ASCII)
      // text: char codes == payload bytes, hist bucket = code // 64. The
      // operator computes in float32 over exact <2^24 integers, so double
      // math + a float32 round-trip cast reproduces every value exactly.
      """WITH d AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  text AS t FROM documents),
        |c AS (SELECT media_id, kind, CAST(length(t) AS BIGINT) AS n_bytes,
        |  list_transform(range(1, length(t)+1), i -> unicode(t[i])) AS codes FROM d),
        |s AS (SELECT media_id, kind, n_bytes,
        |  CAST(n_bytes AS DOUBLE) AS n,
        |  CAST(list_sum(codes) AS DOUBLE) AS sm,
        |  CAST(list_max(codes) AS DOUBLE) AS mx, CAST(list_min(codes) AS DOUBLE) AS mn,
        |  CAST(len(list_filter(codes, x -> x // 64 = 0)) AS DOUBLE) AS h0,
        |  CAST(len(list_filter(codes, x -> x // 64 = 1)) AS DOUBLE) AS h1,
        |  CAST(len(list_filter(codes, x -> x // 64 = 2)) AS DOUBLE) AS h2,
        |  CAST(len(list_filter(codes, x -> x // 64 = 3)) AS DOUBLE) AS h3
        |  FROM c)
        |SELECT media_id, kind, n_bytes,
        |  CAST(CAST(n AS FLOAT) AS DOUBLE) AS f0,
        |  CASE WHEN n_bytes = 0 THEN 0.0 ELSE CAST(CAST(sm / n AS FLOAT) AS DOUBLE) END AS f1,
        |  CASE WHEN n_bytes = 0 THEN 0.0 ELSE CAST(CAST(mx AS FLOAT) AS DOUBLE) END AS f2,
        |  CASE WHEN n_bytes = 0 THEN 0.0 ELSE CAST(CAST(mn AS FLOAT) AS DOUBLE) END AS f3,
        |  CASE WHEN n_bytes = 0 THEN 0.0 ELSE CAST(CAST(h0 / n AS FLOAT) AS DOUBLE) END AS f4,
        |  CASE WHEN n_bytes = 0 THEN 0.0 ELSE CAST(CAST(h1 / n AS FLOAT) AS DOUBLE) END AS f5,
        |  CASE WHEN n_bytes = 0 THEN 0.0 ELSE CAST(CAST(h2 / n AS FLOAT) AS DOUBLE) END AS f6,
        |  CASE WHEN n_bytes = 0 THEN 0.0 ELSE CAST(CAST(h3 / n AS FLOAT) AS DOUBLE) END AS f7
        |FROM s""".stripMargin,
    "q18_dedup_minhash" -> minhashOracleSql,
    "q19_dedup_simhash" -> simhashOracleSql,
    "q50_dedup_clusters" -> dedupClustersOracleSql,
    "q54_repetition" ->
      // fixture-free: word 3-grams via list lambdas, duplicate fraction
      // and top-gram share from a per-(doc, gram) count; docs shorter
      // than 3 words come back as all-zero rows via the left join
      """WITH w AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN []
        |         ELSE list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS grams
        |  FROM w),
        |u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |tc AS (SELECT doc_id, gram, count(*) AS c FROM u GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_grams,
        |        CAST(count(*) AS INT) AS n_distinct, CAST(max(c) AS INT) AS top
        |      FROM tc GROUP BY 1)
        |SELECT g.doc_id,
        |  COALESCE(s.n_grams, 0) AS n_grams,
        |  COALESCE(s.n_distinct, 0) AS n_distinct,
        |  CASE WHEN s.n_grams IS NULL THEN 0.0
        |       ELSE 1.0 - CAST(s.n_distinct AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
        |  END AS dup_fraction,
        |  CASE WHEN s.n_grams IS NULL THEN 0.0
        |       ELSE CAST(s.top AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
        |  END AS top_share
        |FROM g LEFT JOIN s USING (doc_id)""".stripMargin,
    "q55_shared_grams" ->
      // fixture-free: the oracle groups the gram STRINGS (no hashing) —
      // a q55 match therefore also witnesses xxhash64 collision-freedom
      // at this scale
      """WITH w AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN []
        |         ELSE list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS grams
        |  FROM w),
        |u AS (SELECT DISTINCT doc_id, gram
        |      FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
        |f AS (SELECT gram, count(*) AS df FROM u GROUP BY 1),
        |p AS (SELECT u.doc_id,
        |        CAST(count(*) AS INT) AS n_distinct_grams,
        |        CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS INT) AS n_shared_grams
        |      FROM u JOIN f USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(p.n_distinct_grams, 0) AS n_distinct_grams,
        |  COALESCE(p.n_shared_grams, 0) AS n_shared_grams,
        |  CASE WHEN p.n_distinct_grams IS NULL OR p.n_distinct_grams = 0 THEN 0.0
        |       ELSE CAST(p.n_shared_grams AS DOUBLE) / CAST(p.n_distinct_grams AS DOUBLE)
        |  END AS shared_fraction
        |FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin,
    "q65_substring_dup" ->
      // fixture-free: the oracle groups the 10-token window STRINGS (no
      // hashing — a match also witnesses xxhash64 collision-freedom at
      // this scale) and re-derives the per-doc interval union with a
      // lead() window — naive SQL, same integers
      """WITH w AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, len(ws) AS n_tokens, ws FROM w),
        |s AS (SELECT doc_id, i - 1 AS pos,
        |        array_to_string(ws[i:i+9], ' ') AS win
        |      FROM (SELECT doc_id, ws, unnest(range(1, n_tokens - 10 + 2)) AS i
        |            FROM t WHERE n_tokens >= 10)),
        |f AS (SELECT win FROM (SELECT DISTINCT doc_id, win FROM s)
        |      GROUP BY 1 HAVING count(*) >= 2),
        |iu AS (SELECT doc_id,
        |         sum(LEAST(10, COALESCE(nxt - pos, 10))) AS ndup
        |       FROM (SELECT doc_id, pos,
        |               lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |             FROM (SELECT s.doc_id, s.pos FROM s JOIN f USING (win)))
        |       GROUP BY 1)
        |SELECT t.doc_id, CAST(t.n_tokens AS INT) AS n_tokens,
        |  CAST(COALESCE(iu.ndup, 0) AS INT) AS n_dup_tokens,
        |  CASE WHEN t.n_tokens = 0 THEN 0.0
        |       ELSE CAST(COALESCE(iu.ndup, 0) AS DOUBLE) / t.n_tokens
        |  END AS dup_fraction
        |FROM t LEFT JOIN iu USING (doc_id)""".stripMargin,
    "q66_substring_dedup" ->
      // fixture-free: keep-one substring removal re-derived over the
      // window STRINGS — keeper = min doc_id per duplicated window, a
      // non-keeper doc drops every token inside a duplicated window, and
      // the cleaned text is rebuilt token-by-token (both engines rebuild
      // from the token array, so whitespace normalization agrees)
      """WITH w AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, len(ws) AS n_tokens, ws FROM w),
        |s AS (SELECT doc_id, i - 1 AS pos,
        |        array_to_string(ws[i:i+9], ' ') AS win
        |      FROM (SELECT doc_id, ws, unnest(range(1, n_tokens - 10 + 2)) AS i
        |            FROM t WHERE n_tokens >= 10)),
        |k AS (SELECT win, min(doc_id) AS keeper
        |      FROM (SELECT DISTINCT doc_id, win FROM s)
        |      GROUP BY 1 HAVING count(*) >= 2),
        |r AS (SELECT s.doc_id, list_sort(list(DISTINCT s.pos)) AS ps
        |      FROM s JOIN k USING (win) WHERE s.doc_id <> k.keeper
        |      GROUP BY 1),
        |c AS (SELECT t.doc_id, t.n_tokens, t.ws,
        |        list_filter(range(0, t.n_tokens), i -> NOT list_contains(
        |          COALESCE(list_distinct(flatten(list_transform(r.ps,
        |            q -> range(q, q + 10)))), []), i)) AS kept
        |      FROM t LEFT JOIN r USING (doc_id))
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(n_tokens - len(kept) AS INT) AS n_removed,
        |  -- DuckDB's array_to_string([]) is NULL, Spark's array_join([]) is ''
        |  COALESCE(array_to_string(list_transform(kept, i -> ws[i + 1]), ' '), '')
        |    AS clean_text
        |FROM c""".stripMargin,
    "q67_ngram_decontaminate" ->
      // fixture-free: the eval set's text equals the %7 documents' text
      // (re-keying changes ids only), so the oracle windows the corpus
      // and the %7 subset directly over the window STRINGS and re-derives
      // the positional interval union with lead()
      """WITH w AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, len(ws) AS n_tokens, ws FROM w),
        |s AS (SELECT doc_id, i - 1 AS pos,
        |        array_to_string(ws[i:i+9], ' ') AS win
        |      FROM (SELECT doc_id, ws, unnest(range(1, n_tokens - 10 + 2)) AS i
        |            FROM t WHERE n_tokens >= 10)),
        |b AS (SELECT DISTINCT win FROM s WHERE doc_id % 7 = 0),
        |iu AS (SELECT doc_id,
        |         sum(LEAST(10, COALESCE(nxt - pos, 10))) AS ncon
        |       FROM (SELECT doc_id, pos,
        |               lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |             FROM (SELECT s.doc_id, s.pos FROM s JOIN b USING (win)))
        |       GROUP BY 1)
        |SELECT t.doc_id, CAST(t.n_tokens AS INT) AS n_tokens,
        |  CAST(COALESCE(iu.ncon, 0) AS INT) AS n_contam_tokens,
        |  CASE WHEN t.n_tokens = 0 THEN 0.0
        |       ELSE CAST(COALESCE(iu.ncon, 0) AS DOUBLE) / t.n_tokens
        |  END AS contam_fraction
        |FROM t LEFT JOIN iu USING (doc_id)""".stripMargin,
    "q68_c4_lines" ->
      // fixture-free: the identical enrichment concat, then the C4 rules
      // replayed over DuckDB list functions (blank lines ignored on both
      // sides, so concat_ws's empty entries cannot skew the counts)
      """WITH e AS (SELECT doc_id, concat_ws(chr(10),
        |    substring(text, 1, 60) || '.',
        |    substring(text, 61, 60) || '.',
        |    substring(text, 121, 60) || '.',
        |    substring(text, 181, 60),
        |    CASE WHEN doc_id % 9 = 0
        |         THEN 'Please enable javascript to continue viewing.'
        |         ELSE '' END,
        |    CASE WHEN doc_id % 13 = 0 THEN 'config = { mode: 1 }'
        |         ELSE '' END,
        |    CASE WHEN doc_id % 17 = 0
        |         THEN 'Lorem ipsum dolor sit amet consectetur adipiscing elit.'
        |         ELSE '' END) AS text
        |  FROM documents),
        |l AS (SELECT doc_id, text,
        |    list_filter(string_split(replace(text, chr(13)||chr(10), chr(10)), chr(10)),
        |      x -> length(trim(x)) > 0) AS lines
        |  FROM e),
        |k AS (SELECT doc_id, text, lines,
        |    list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
        |      AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM l)
        |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
        |  CAST(len(kept) AS INT) AS n_kept_lines,
        |  (NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{') AND len(kept) >= 3) AS keep_page,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
        |FROM k""".stripMargin,
    "q69_gopher_quality" ->
      // fixture-free: same enrichment, Gopher table-A1 rules replayed —
      // every ratio is one division of exact integer counts so the
      // doubles agree bit-for-bit
      """WITH e AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 6 = 0
        |         THEN ' ### ### ### ### ### ### ### ###' ELSE '' END ||
        |    CASE WHEN doc_id % 8 = 0 THEN ' to be continued...'
        |         ELSE '' END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws,
        |    list_filter(string_split(replace(text, chr(13)||chr(10), chr(10)), chr(10)),
        |      x -> length(trim(x)) > 0) AS lines
        |  FROM e),
        |c AS (SELECT doc_id, len(ws) AS n_words,
        |    COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS sum_len,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    (length(text) - length(replace(text, '...', ''))) // 3
        |      + (length(text) - length(replace(text, '…', ''))) AS n_dots,
        |    len(lines) AS n_lines,
        |    len(list_filter(lines, x -> starts_with(trim(x), '- ')
        |      OR starts_with(trim(x), '• ')
        |      OR starts_with(trim(x), '* '))) AS n_bullet,
        |    len(list_filter(lines, x -> ends_with(trim(x), '...')
        |      OR ends_with(trim(x), '…'))) AS n_ell,
        |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |    len(list_intersect(list_transform(ws, x -> lower(x)),
        |      ['the','be','to','of','and','that','have','with'])) AS n_stop
        |  FROM w),
        |r AS (SELECT doc_id, n_words,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE CAST(sum_len AS DOUBLE) / n_words END AS mean_word_len,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE CAST(n_hash + n_dots AS DOUBLE) / n_words END AS symbol_ratio,
        |    CASE WHEN n_lines = 0 THEN 0.0
        |         ELSE CAST(n_bullet AS DOUBLE) / n_lines END AS bullet_frac,
        |    CASE WHEN n_lines = 0 THEN 0.0
        |         ELSE CAST(n_ell AS DOUBLE) / n_lines END AS ellipsis_frac,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE CAST(n_alpha AS DOUBLE) / n_words END AS alpha_frac,
        |    n_stop
        |  FROM c)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
        |  symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac,
        |  CAST(n_stop AS INT) AS n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |    AND n_stop >= 1) AS gopher_pass
        |FROM r""".stripMargin,
    "q70_gopher_repetition" ->
      // fixture-free: the identical structural concat, then the Gopher
      // repetition rules replayed over DuckDB list functions; duplicate
      // char mass = total mass - mass(list_distinct), exactly the
      // operator's identity, and every ratio is one division of exact
      // integer counts so the doubles agree bit-for-bit
      """WITH e AS (SELECT doc_id, concat_ws(chr(10)||chr(10),
        |    concat_ws(chr(10), substring(text, 1, 50),
        |      substring(text, 51, 50)),
        |    concat_ws(chr(10), substring(text, 101, 50),
        |      CASE WHEN doc_id % 4 = 0 THEN substring(text, 1, 50)
        |           ELSE substring(text, 151, 50) END),
        |    CASE WHEN doc_id % 5 = 0
        |         THEN concat_ws(chr(10), substring(text, 1, 50),
        |           substring(text, 51, 50))
        |         ELSE '' END) AS text
        |  FROM documents),
        |a AS (SELECT doc_id,
        |    list_filter(list_transform(
        |      string_split(replace(text, chr(13)||chr(10), chr(10)), chr(10)),
        |      x -> trim(x)), x -> length(x) > 0) AS lines,
        |    list_filter(list_transform(
        |      string_split(replace(text, chr(13)||chr(10), chr(10)),
        |      chr(10)||chr(10)),
        |      x -> trim(x)), x -> length(x) > 0) AS paras
        |  FROM e),
        |c AS (SELECT doc_id,
        |    len(lines) AS nl, len(list_distinct(lines)) AS ndl,
        |    COALESCE(list_sum(list_transform(lines,
        |      x -> length(x))), 0) AS ml,
        |    COALESCE(list_sum(list_transform(list_distinct(lines),
        |      x -> length(x))), 0) AS dml,
        |    len(paras) AS np, len(list_distinct(paras)) AS ndp,
        |    COALESCE(list_sum(list_transform(paras,
        |      x -> length(x))), 0) AS mp,
        |    COALESCE(list_sum(list_transform(list_distinct(paras),
        |      x -> length(x))), 0) AS dmp
        |  FROM a),
        |r AS (SELECT doc_id,
        |    CAST(nl AS INT) AS n_lines, CAST(ndl AS INT) AS n_distinct_lines,
        |    CASE WHEN nl = 0 THEN 0.0
        |         ELSE CAST(nl - ndl AS DOUBLE) / nl END AS dup_line_frac,
        |    CASE WHEN ml = 0 THEN 0.0
        |         ELSE CAST(ml - dml AS DOUBLE) / ml END AS dup_line_char_frac,
        |    CAST(np AS INT) AS n_paras, CAST(ndp AS INT) AS n_distinct_paras,
        |    CASE WHEN np = 0 THEN 0.0
        |         ELSE CAST(np - ndp AS DOUBLE) / np END AS dup_para_frac,
        |    CASE WHEN mp = 0 THEN 0.0
        |         ELSE CAST(mp - dmp AS DOUBLE) / mp END AS dup_para_char_frac
        |  FROM c)
        |SELECT doc_id, n_lines, n_distinct_lines, dup_line_frac,
        |  dup_line_char_frac, n_paras, n_distinct_paras, dup_para_frac,
        |  dup_para_char_frac,
        |  (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2
        |    AND dup_para_frac <= 0.3
        |    AND dup_para_char_frac <= 0.2) AS repetition_pass
        |FROM r""".stripMargin,
    "q71_dedup_paragraphs" ->
      // fixture-free: identical splice, then first-occurrence paragraph
      // selection replayed with DuckDB's 1-based indexed lambda (Spark's
      // filter index is 0-based; both keep iff first position == own)
      """WITH e AS (SELECT doc_id, concat_ws(chr(10)||chr(10),
        |    concat_ws(chr(10), substring(text, 1, 50),
        |      substring(text, 51, 50)),
        |    concat_ws(chr(10), substring(text, 101, 50),
        |      CASE WHEN doc_id % 4 = 0 THEN substring(text, 1, 50)
        |           ELSE substring(text, 151, 50) END),
        |    CASE WHEN doc_id % 5 = 0
        |         THEN concat_ws(chr(10), substring(text, 1, 50),
        |           substring(text, 51, 50))
        |         ELSE '' END) AS text
        |  FROM documents),
        |a AS (SELECT doc_id,
        |    list_filter(list_transform(
        |      string_split(replace(text, chr(13)||chr(10), chr(10)),
        |      chr(10)||chr(10)),
        |      x -> trim(x)), x -> length(x) > 0) AS parts
        |  FROM e),
        |k AS (SELECT doc_id, parts,
        |    list_filter(parts,
        |      (x, i) -> list_position(parts, x) = i) AS kept
        |  FROM a)
        |SELECT doc_id, CAST(len(parts) AS INT) AS n_parts,
        |  CAST(len(kept) AS INT) AS n_kept,
        |  COALESCE(array_to_string(kept, chr(10)||chr(10)), '') AS clean_text
        |FROM k""".stripMargin,
    "q56_source_caps" ->
      // fixture-free: row_number over the same salted-md5 order; the
      // operator's hash-prefix pre-filter is provably rank-preserving so
      // the naive SQL and the scale-safe plan agree exactly
      """SELECT doc_id, source, CAST(src_rank AS INT) AS src_rank FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) AS src_rank
        |  FROM documents) WHERE src_rank <= 10""".stripMargin,
    "q57_unigram_rarity" ->
      // fixture-free: integer tf×vocab sums + one final division — no
      // float accumulation anywhere, so partial aggregation order is moot
      """WITH w AS (SELECT doc_id, unnest(
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY 1, 2),
        |v AS (SELECT w, sum(tf) AS wc FROM tf GROUP BY 1),
        |p AS (SELECT tf.doc_id,
        |        CAST(sum(tf.tf) AS INT) AS n_tokens,
        |        CAST(sum(CASE WHEN v.wc <= 2 THEN tf.tf ELSE 0 END) AS INT) AS n_rare,
        |        sum(tf.tf * v.wc) AS freq_mass
        |      FROM tf JOIN v USING (w) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(p.n_tokens, 0) AS n_tokens,
        |  COALESCE(p.n_rare, 0) AS n_rare,
        |  CASE WHEN p.n_tokens IS NULL OR p.n_tokens = 0 THEN 0.0
        |       ELSE CAST(p.n_rare AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
        |  END AS rare_fraction,
        |  CASE WHEN p.n_tokens IS NULL OR p.n_tokens = 0 THEN 0.0
        |       ELSE CAST(p.freq_mass AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
        |  END AS avg_token_freq
        |FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin,
    "q58_pattern_signals" ->
      // fixture-free: patterns avoid Java-vs-RE2 divergence points; note
      // DuckDB regexp_replace needs the 'g' flag Spark applies by default
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT) AS n_urls,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT)
        |    AS n_digits,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |              AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |  END AS digit_fraction
        |FROM documents""".stripMargin,
    "q59_curate" ->
      // fixture-free COMPOSITION oracle: the q13/q22/q54/q55/q57/q56
      // signal derivations inlined as CTEs and conjoined — the whole
      // curation gate re-decided independently in one SQL statement
      """WITH ex AS (SELECT doc_id,
        |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep_exact
        |  FROM documents),
        |lt AS (SELECT doc_id,
        |    list_slice(regexp_split_to_array(lower(coalesce(text,'')), '\s+'), 1, 200) AS toks
        |  FROM documents),
        |ls AS (SELECT doc_id,
        |  len(list_filter(['the','and','of','to','in','is','a'], m -> list_contains(toks, m))) AS n_en,
        |  len(list_filter(['der','die','und','das','ist','nicht','ein'], m -> list_contains(toks, m))) AS n_de,
        |  len(list_filter(['el','la','de','que','y','los','una'], m -> list_contains(toks, m))) AS n_es,
        |  len(list_filter(['le','la','les','des','est','une','et'], m -> list_contains(toks, m))) AS n_fr
        | FROM lt),
        |lg AS (SELECT doc_id,
        | CASE WHEN greatest(n_en,n_de,n_es,n_fr) = 0 THEN 'unknown'
        |      WHEN n_fr >= n_en AND n_fr >= n_de AND n_fr >= n_es THEN 'fr'
        |      WHEN n_es >= n_en AND n_es >= n_de THEN 'es'
        |      WHEN n_en >= n_de THEN 'en'
        |      ELSE 'de' END = 'en' AS lang_ok
        |FROM ls),
        |w AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN []
        |         ELSE list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS grams
        |  FROM w),
        |rtc AS (SELECT doc_id, gram, count(*) AS c
        |        FROM (SELECT doc_id, unnest(grams) AS gram FROM g) GROUP BY 1, 2),
        |rs AS (SELECT doc_id, sum(c) AS n_grams, count(*) AS n_distinct
        |       FROM rtc GROUP BY 1),
        |rep AS (SELECT g.doc_id,
        |    CASE WHEN rs.n_grams IS NULL THEN 0.0
        |         ELSE 1.0 - CAST(rs.n_distinct AS DOUBLE) / CAST(rs.n_grams AS DOUBLE)
        |    END <= 0.05 AS low_repetition
        |  FROM g LEFT JOIN rs USING (doc_id)),
        |u AS (SELECT DISTINCT doc_id, gram
        |      FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
        |f AS (SELECT gram, count(*) AS df FROM u GROUP BY 1),
        |shp AS (SELECT u.doc_id, count(*) AS nd,
        |         sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS ns
        |       FROM u JOIN f USING (gram) GROUP BY 1),
        |sh AS (SELECT d.doc_id,
        |    CASE WHEN shp.nd IS NULL OR shp.nd = 0 THEN 0.0
        |         ELSE CAST(shp.ns AS DOUBLE) / CAST(shp.nd AS DOUBLE)
        |    END <= 0.8 AS low_shared
        |  FROM documents d LEFT JOIN shp USING (doc_id)),
        |uw AS (SELECT doc_id, unnest(ws) AS w FROM w),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM uw GROUP BY 1, 2),
        |v AS (SELECT w, sum(tf) AS wc FROM tf GROUP BY 1),
        |rp AS (SELECT tf.doc_id, sum(tf.tf) AS n_tokens,
        |        sum(CASE WHEN v.wc <= 2 THEN tf.tf ELSE 0 END) AS n_rare
        |      FROM tf JOIN v USING (w) GROUP BY 1),
        |rar AS (SELECT d.doc_id,
        |    CASE WHEN rp.n_tokens IS NULL OR rp.n_tokens = 0 THEN 0.0
        |         ELSE CAST(rp.n_rare AS DOUBLE) / CAST(rp.n_tokens AS DOUBLE)
        |    END <= 0.25 AS low_rarity
        |  FROM documents d LEFT JOIN rp USING (doc_id)),
        |cap AS (SELECT doc_id, src_rank <= 10 AS within_cap FROM (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) AS src_rank
        |  FROM documents))
        |SELECT d.doc_id, ex.keep_exact, lg.lang_ok, rep.low_repetition,
        |  rar.low_rarity, sh.low_shared, cap.within_cap,
        |  ex.keep_exact AND lg.lang_ok AND rep.low_repetition AND
        |    rar.low_rarity AND sh.low_shared AND cap.within_cap AS kept
        |FROM documents d
        |JOIN ex USING (doc_id) JOIN lg USING (doc_id) JOIN rep USING (doc_id)
        |JOIN rar USING (doc_id) JOIN sh USING (doc_id) JOIN cap USING (doc_id)""".stripMargin,
    "q53_pack_shards" ->
      // fixture-free: q12's token count + the md5 bucket + a window
      // prefix-sum reproduce the packing layout exactly
      """WITH tk AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-pack'), 1, 8))
        |         AS BIGINT) % 50 AS bucket
        |  FROM tk),
        |p AS (SELECT doc_id, n_tokens, bucket,
        |    COALESCE(SUM(LEAST(n_tokens, 1000)) OVER (
        |      PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
        |  FROM b)
        |SELECT doc_id,
        |  -- CAST: DuckDB types window-SUM results HUGEINT (int128); Spark
        |  -- writes int64 — without the cast the driver's typed hasher
        |  -- mismatches on identical values (round-4 adjudication)
        |  CAST(bucket * 4294967296 + tok_before // 1000 AS BIGINT) AS shard_id,
        |  n_tokens
        |FROM p""".stripMargin,
    "q63_vector_migrate" ->
      // the destination index = the source's RESOLVED state (every 10th
      // vector tombstoned) re-embedded to 8 dims; embedding[1] is float32
      // on both engines, value-exact
      """SELECT CAST(vec_id AS VARCHAR) AS id, CAST(8 AS INTEGER) AS dim,
        |  embedding[1] AS e0
        |FROM embeddings WHERE vec_id % 10 <> 0""".stripMargin,
    "q52_decontaminate" ->
      // benchmark banding re-derived by RE-KEYING the corpus banding —
      // the eval set's text (hence sigs, hence buckets) is identical to
      // its source docs by construction; corpus buckets capped, benchmark
      // side never dropped, exactly like the operator
      s"""WITH sigs AS (SELECT doc_id AS id, sig
         |  FROM read_parquet('$FixturesDir/minhash_sigs/*.parquet')),
         |banded AS (
         |  SELECT id, sig, b.band,
         |    concat_ws(':', sig[b.band*4+1], sig[b.band*4+2],
         |              sig[b.band*4+3], sig[b.band*4+4]) AS bucket
         |  FROM sigs, (SELECT unnest(range(0,8)) AS band) b),
         |csz AS (SELECT band, bucket, count(*) AS bn FROM banded GROUP BY 1, 2),
         |ckept AS (SELECT banded.* FROM banded JOIN csz USING (band, bucket)
         |          WHERE bn <= 10000),
         |bb AS (SELECT id + 1000000 AS benchmark_id, band, bucket, sig
         |       FROM banded WHERE id % 7 = 0),
         |est AS (SELECT c.id AS corpus_id, bb.benchmark_id,
         |    len(list_filter(range(1, 33), i -> c.sig[i] = bb.sig[i]))
         |      / CAST(32 AS DOUBLE) AS ej
         |  FROM ckept c JOIN bb USING (band, bucket)),
         |agg AS (SELECT corpus_id, benchmark_id, max(ej) AS est_jaccard
         |        FROM est GROUP BY 1, 2)
         |SELECT corpus_id, benchmark_id, est_jaccard FROM agg
         |WHERE est_jaccard >= 0.5""".stripMargin,
    "q60_incremental_dedup" ->
      // incremental annotation re-derived from the signature fixture:
      // committed side (evens) banded + capped, batch side (odds)
      // banded uncapped, best committed match per batch doc = highest
      // est_jaccard then smallest committed id, novel docs kept as nulls
      s"""WITH sigs AS (SELECT doc_id AS id, sig
         |  FROM read_parquet('$FixturesDir/minhash_sigs/*.parquet')),
         |banded AS (
         |  SELECT id, sig, b.band,
         |    concat_ws(':', sig[b.band*4+1], sig[b.band*4+2],
         |              sig[b.band*4+3], sig[b.band*4+4]) AS bucket
         |  FROM sigs, (SELECT unnest(range(0,8)) AS band) b),
         |exb AS (SELECT * FROM banded WHERE id % 2 = 0),
         |esz AS (SELECT band, bucket, count(*) AS bn FROM exb GROUP BY 1, 2),
         |ekept AS (SELECT exb.* FROM exb JOIN esz USING (band, bucket)
         |          WHERE bn <= 10000),
         |bab AS (SELECT * FROM banded WHERE id % 2 = 1),
         |hits AS (SELECT bab.id AS batch_id, e.id AS existing_id,
         |    max(len(list_filter(range(1, 33), i -> bab.sig[i] = e.sig[i]))
         |      / CAST(32 AS DOUBLE)) AS est_jaccard
         |  FROM bab JOIN ekept e USING (band, bucket)
         |  GROUP BY 1, 2),
         |best AS (SELECT batch_id, existing_id, est_jaccard FROM (
         |    SELECT batch_id, existing_id, est_jaccard, row_number() OVER (
         |      PARTITION BY batch_id
         |      ORDER BY est_jaccard DESC, existing_id ASC) AS rn
         |    FROM hits WHERE est_jaccard >= 0.5) WHERE rn = 1)
         |SELECT s.id AS doc_id, best.existing_id AS dup_of, best.est_jaccard
         |FROM (SELECT id FROM sigs WHERE id % 2 = 1) s
         |LEFT JOIN best ON s.id = best.batch_id""".stripMargin,
    "q61_redact_pii" ->
      // fixture-free: the deterministic PII splice re-built with ||/CASE,
      // then the SAME three ordered RE2 rewrites (email → URL → IPv4);
      // counts taken on each stage's input exactly like the operator
      """WITH enriched AS (SELECT doc_id,
        |  text ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' ||
        |    CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' see https://ex' ||
        |    CAST(doc_id AS VARCHAR) || '.example/p?q=1' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |    CAST(doc_id % 200 AS VARCHAR) ELSE '' END AS text
        |  FROM documents),
        |e1 AS (SELECT doc_id, text, regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM enriched),
        |e2 AS (SELECT *, regexp_replace(t1, 'https?://[^ ]+', '<URL>', 'g') AS t2
        |  FROM e1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t1, 'https?://[^ ]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(t2,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
        |  regexp_replace(t2,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
        |    AS text_redacted
        |FROM e2""".stripMargin,
    "q62_incremental_canon" ->
      // the incremental result must equal GLOBAL connected components over
      // all near-dup pairs — recomputed here from the signature fixture as
      // a recursive closure (same independent-derivation pattern as q50),
      // so the contract-relabel-merge path is checked end-to-end
      s"""WITH RECURSIVE $minhashPairsCte,
         |p AS (SELECT id_a, id_b FROM agg WHERE est_jaccard >= 0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |nn AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nn
         |  UNION
         |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON reach.id = e.src),
         |lbl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id""".stripMargin,
    "q51_split_assign" ->
      // fixture-free: md5 is md5 in both engines; hex→int via conv /
      // CAST('0x…'), mod 1000, same CASE cut
      """WITH b AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8))
        |       AS BIGINT) % 1000 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 900 THEN 'train'
        |       WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "q72_resample_mix" ->
      // fixture-free: same md5 permille bucket (q51 idiom, ':graft-mix'
      // salt), per-source rate CASE, keep iff bucket < rate
      """WITH b AS (SELECT doc_id, source,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-mix'),
        |        1, 8)) AS BIGINT) % 1000 AS bucket,
        |  CASE WHEN source = 'src0' THEN 250
        |       WHEN source = 'src1' THEN 500
        |       WHEN source = 'src2' THEN 0
        |       ELSE 800 END AS rate_permille
        |  FROM documents)
        |SELECT doc_id, source, bucket, CAST(rate_permille AS INT) AS rate_permille,
        |  bucket < rate_permille AS keep_mix
        |FROM b""".stripMargin,
    "q20_dedup_ngram" -> ngramOracleSql,
    "q27_kg_edges_pruned" -> pruningOracleSql,
    "q33_retrieval_hybrid" -> hybridRetrievalOracleSql,
    "q28_kg_canon_map" -> ccOracleSql,
    "q29_ppr" -> pprOracleSql,
    "q31_rules_explicit" -> explicitRulesOracleSql,
    "q32_rules_derived" -> derivedRulesOracleSql,
    "q41_projection" -> projectionOracleSql,
    "q42_retrieval_rules" -> retrievalRulesOracleSql,
    "q46_credit_stream" ->
      // credit.py semantics on the fixed chain: direct = reward; each
      // ancestor hop multiplies by decay 0.5 × edge strength 0.81 (same
      // association order as the operator; round(6) absorbs sum-order ulps)
      """WITH r AS (SELECT CASE WHEN vec_id % 2 = 0 THEN CAST(1.0 AS DOUBLE)
        |                       ELSE CAST(-1.0 AS DOUBLE) END AS reward
        |           FROM embeddings),
        |f(concept_id, factor) AS (VALUES
        |  ('C', CAST(1.0 AS DOUBLE)),
        |  ('B', CAST(0.5 AS DOUBLE) * (CAST(0.9 AS DOUBLE) * CAST(0.9 AS DOUBLE))),
        |  ('A', CAST(0.5 AS DOUBLE) * (CAST(0.9 AS DOUBLE) * CAST(0.9 AS DOUBLE))
        |      * CAST(0.5 AS DOUBLE) * (CAST(0.9 AS DOUBLE) * CAST(0.9 AS DOUBLE)))),
        |x AS (SELECT f.concept_id, r.reward * f.factor AS credit FROM r CROSS JOIN f)
        |SELECT concept_id,
        |  round(sum(CASE WHEN credit >= 0 THEN credit ELSE CAST(0 AS DOUBLE) END), 6) AS alpha_delta,
        |  round(sum(CASE WHEN credit < 0 THEN -credit ELSE CAST(0 AS DOUBLE) END), 6) AS beta_delta
        |FROM x GROUP BY concept_id""".stripMargin,
    "q43_feedback_drift" ->
      // factors.py:36-45 deltas + [0.1, 5.0] clamp, then the q37 one-pass
      // drift identity over the UPDATED factors
      """WITH f AS (SELECT CAST(vec_id AS VARCHAR) AS node_id,
        |  CAST(0.1 AS DOUBLE) + CAST(vec_id % 50 AS DOUBLE) * 0.1 AS factor
        |           FROM embeddings),
        |o AS (SELECT CAST(vec_id AS VARCHAR) AS node_id,
        |  CASE WHEN vec_id % 3 = 0 THEN CAST(0.1 AS DOUBLE)
        |       WHEN vec_id % 3 = 1 THEN CAST(-0.05 AS DOUBLE)
        |       ELSE CAST(0.03 AS DOUBLE) END AS d
        |      FROM embeddings),
        |u AS (SELECT f.node_id,
        |  least(CAST(5.0 AS DOUBLE), greatest(CAST(0.1 AS DOUBLE),
        |        f.factor + coalesce(o.d, CAST(0.0 AS DOUBLE)))) AS v
        |      FROM f LEFT JOIN o USING (node_id)),
        |a AS (SELECT count(*) AS count, avg(v) AS mean, min(v) AS min_val, max(v) AS max_val,
        |        CAST(sum(CASE WHEN v > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS boosted,
        |        CAST(sum(CASE WHEN v < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS penalized,
        |        sum(v) AS t, sum(v * log2(v)) AS vlog
        |      FROM u)
        |SELECT count, round(mean, 6) AS mean, min_val, max_val, boosted, penalized,
        |  round(CASE WHEN t > 0 THEN log2(t) - vlog / t ELSE 0 END, 6) AS entropy
        |FROM a""".stripMargin,
    "q45_causal_rules" ->
      // golden: the d-separation structure of the fixed 5-node DAG, worked
      // by hand (chain A→B→C blocked by B; fork at A blocks B–D and C–D;
      // collider at C blocks A–E, B–E, D–E unconditionally); per-pair
      // first assertion = smallest conditioning set by enumeration order
      """SELECT * FROM (VALUES
        | ('causal:A<>C', 'A and C are conditionally independent given B (d-separated in the causal graph)',
        |  'web', 'causal_independence', CAST(1.0 AS DOUBLE), 'A,C', 'B', 'd_separation'),
        | ('causal:A<>E', 'A and E are unconditionally independent (d-separated in the causal graph)',
        |  'web', 'causal_independence', CAST(1.0 AS DOUBLE), 'A,E', '', 'd_separation'),
        | ('causal:B<>D', 'B and D are conditionally independent given A (d-separated in the causal graph)',
        |  'web', 'causal_independence', CAST(1.0 AS DOUBLE), 'B,D', 'A', 'd_separation'),
        | ('causal:B<>E', 'B and E are unconditionally independent (d-separated in the causal graph)',
        |  'web', 'causal_independence', CAST(1.0 AS DOUBLE), 'B,E', '', 'd_separation'),
        | ('causal:C<>D', 'C and D are conditionally independent given A (d-separated in the causal graph)',
        |  'web', 'causal_independence', CAST(1.0 AS DOUBLE), 'C,D', 'A', 'd_separation'),
        | ('causal:D<>E', 'D and E are unconditionally independent (d-separated in the causal graph)',
        |  'web', 'causal_independence', CAST(1.0 AS DOUBLE), 'D,E', '', 'd_separation')
        |) AS t(id, text, domain, category, confidence, source_concepts,
        |       conditioning_set, method)""".stripMargin,
    "q44_thompson" ->
      // strategy.py:148-168: alpha = 1 + Σ reward, beta = 1 + Σ (1 − reward)
      """WITH obs AS (SELECT label AS arm_id,
        |  CASE WHEN vec_id % 5 < 2 THEN CAST(1.0 AS DOUBLE)
        |       ELSE CAST(0.0 AS DOUBLE) END AS reward
        |             FROM embeddings),
        |p AS (SELECT arm_id,
        |        CAST(1.0 AS DOUBLE) + sum(reward) AS alpha,
        |        CAST(1.0 AS DOUBLE) + sum(CAST(1.0 AS DOUBLE) - reward) AS beta,
        |        count(*) AS pulls, sum(reward) AS total_reward
        |      FROM obs GROUP BY arm_id)
        |SELECT arm_id, alpha, beta, pulls, total_reward,
        |  round(alpha / (alpha + beta), 6) AS posterior_mean
        |FROM p""".stripMargin,
    "q47_learner_state" ->
      // learner.py seed boosts + reward.py TernaryReward + the
      // strategy.py posterior identity, in plain SQL; rewards are
      // multiples of 0.5 so sums are exact in both engines
      s"""WITH obs AS (SELECT
         |  CASE WHEN event_id % 2 = 0 THEN 'default' ELSE '$AltContextHash' END AS context_hash,
         |  event_type AS arm_id,
         |  CASE WHEN value > 100 THEN CAST(1.0 AS DOUBLE)
         |       WHEN value > 10 THEN CAST(0.5 AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS reward
         |  FROM events),
         |agg AS (SELECT context_hash, arm_id, sum(reward) AS r, count(*) AS n
         |        FROM obs GROUP BY 1, 2),
         |seeds(context_hash, arm_id) AS (VALUES
         |  ('default', 'click'), ('default', 'signup'), ('default', 'dormant')),
         |merged AS (
         |  SELECT coalesce(a.context_hash, s.context_hash) AS context_hash,
         |    coalesce(a.arm_id, s.arm_id) AS arm_id,
         |    (CASE WHEN s.arm_id IS NOT NULL THEN CAST(2.0 AS DOUBLE)
         |          ELSE CAST(1.0 AS DOUBLE) END) + coalesce(a.r, CAST(0.0 AS DOUBLE)) AS alpha,
         |    CAST(1.0 AS DOUBLE) + coalesce(a.n, 0) - coalesce(a.r, CAST(0.0 AS DOUBLE)) AS beta,
         |    CAST(coalesce(a.n, 0) AS BIGINT) AS pulls,
         |    coalesce(a.r, CAST(0.0 AS DOUBLE)) AS total_reward
         |  FROM agg a FULL OUTER JOIN seeds s
         |    ON a.context_hash = s.context_hash AND a.arm_id = s.arm_id)
         |SELECT context_hash, arm_id, alpha, beta, pulls, total_reward,
         |  round(alpha / (alpha + beta), 6) AS posterior_mean
         |FROM merged""".stripMargin,
    "q35_code_examples" ->
      s"""WITH b AS (
         |  SELECT url, generate_subscripts(code_blocks, 1) - 1 AS idx,
         |         unnest(code_blocks) AS cb
         |  FROM read_parquet('$FixturesDir/extractions/*.parquet')),
         |f AS (SELECT url, idx, cb.code AS code, cb.language AS language,
         |             cb.description AS description, cb.is_antipattern AS is_antipattern,
         |             cb.names AS names
         |      FROM b),
         |dict AS (SELECT id AS concept_id, lower(name) AS __n
         |         FROM read_parquet('$FixturesDir/concepts_lite/*.parquet')),
         |linked AS (
         |  SELECT url, idx,
         |    array_to_string(list_sort(list(DISTINCT d.concept_id)), ',') AS concept_ids
         |  FROM (SELECT url, idx, unnest(names) AS __n FROM f) x
         |  JOIN dict d USING (__n)
         |  GROUP BY url, idx)
         |SELECT 'web:example:' || substr(sha256(f.url || '|' || f.idx), 1, 16) AS id,
         |  code, language, description, f.url AS source_location,
         |  coalesce(l.concept_ids, '') AS concept_ids, is_antipattern
         |FROM f LEFT JOIN linked l ON f.url = l.url AND f.idx = l.idx""".stripMargin,
    "q39_db_schema_kg" ->
      // golden: the expected classification of every J8 branch
      """SELECT * FROM (VALUES
        | ('db:Post', 'db:User', 'BELONGS_TO', 'FK posts.owner_id -> users'),
        | ('db:Post', 'db:Post', 'INSTANCE_OF', 'FK posts.post_template_id -> posts'),
        | ('db:Post Tag', 'db:Post', 'USES', 'FK post_tags.post_id -> posts'),
        | ('db:Post Tag', 'db:Tag', 'USES', 'FK post_tags.tag_id -> tags'),
        | ('db:Comment', 'db:Post', 'PART_OF', 'FK comments.post_id -> posts'),
        | ('db:Post', '', 'constraint', 'In posts, length(title) > 0'),
        | ('db:Tag', '', 'constraint', 'In tags, label = lower(label)')
        |) AS t(source_id, target_id, relation_type, source_text)""".stripMargin,
    "q40_db_row_text" ->
      """SELECT doc_id,
        | concat_ws(' ', 'A document',
        |   CASE WHEN text IS NOT NULL AND text <> '' THEN text END,
        |   CASE WHEN len(concat_ws(', ',
        |       CASE WHEN lang IS NOT NULL AND lang <> '' THEN 'lang: ' || lang END,
        |       CASE WHEN source IS NOT NULL AND source <> '' THEN 'source: ' || source END,
        |       CASE WHEN n_chars IS NOT NULL THEN 'n chars: ' || CAST(n_chars AS VARCHAR) END)) > 0
        |   THEN 'with ' || concat_ws(', ',
        |       CASE WHEN lang IS NOT NULL AND lang <> '' THEN 'lang: ' || lang END,
        |       CASE WHEN source IS NOT NULL AND source <> '' THEN 'source: ' || source END,
        |       CASE WHEN n_chars IS NOT NULL THEN 'n chars: ' || CAST(n_chars AS VARCHAR) END)
        |   END) AS text_nl
        |FROM documents""".stripMargin,
    "q36_service_stats" ->
      s"""SELECT 'web' AS domain,
         | (SELECT count(*) FROM read_parquet('$FixturesDir/concepts_lite/*.parquet')) AS concepts,
         | (SELECT count(*) FROM read_parquet('$FixturesDir/pruned_edges/*.parquet')) AS edges,
         | (SELECT count(*) FROM (SELECT DISTINCT text
         |    FROM read_parquet('$FixturesDir/rule_sentences/*.parquet')))
         | + (SELECT count(*) FROM (SELECT DISTINCT source_id, target_id
         |    FROM read_parquet('$FixturesDir/pruned_edges/*.parquet'))) AS rules""".stripMargin,
    "q37_factor_drift" ->
      // same one-pass identity H = log2(T) − Σ(v·log2 v)/T as the operator,
      // so only summation-order ulps differ (absorbed by round 6)
      """WITH f AS (SELECT CAST(0.1 AS DOUBLE) + CAST(vec_id % 50 AS DOUBLE) * 0.1 AS v
        |           FROM embeddings),
        |a AS (SELECT count(*) AS count, avg(v) AS mean, min(v) AS min_val, max(v) AS max_val,
        |        CAST(sum(CASE WHEN v > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS boosted,
        |        CAST(sum(CASE WHEN v < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS penalized,
        |        sum(v) AS t, sum(v * log2(v)) AS vlog
        |      FROM f)
        |SELECT count, round(mean, 6) AS mean, min_val, max_val, boosted, penalized,
        |  round(CASE WHEN t > 0 THEN log2(t) - vlog / t ELSE 0 END, 6) AS entropy
        |FROM a""".stripMargin,
    "q38_name_glob" ->
      s"""SELECT id, name FROM read_parquet('$FixturesDir/concepts_lite/*.parquet')
         |WHERE regexp_matches(name, '(?i)^.*auth.*$$')""".stripMargin,
    "q34_bfs_neighborhood" ->
      s"""WITH e AS (SELECT source_id, target_id
         |           FROM read_parquet('$FixturesDir/pruned_edges/*.parquet')),
         |und AS (SELECT source_id AS src, target_id AS dst FROM e
         |        UNION SELECT target_id, source_id FROM e),
         |d1 AS (SELECT DISTINCT dst AS id FROM und WHERE src = 'web:The Platform'),
         |d2 AS (SELECT DISTINCT dst AS id FROM und WHERE src IN (SELECT id FROM d1)),
         |alln AS (SELECT 'web:The Platform' AS id, CAST(1.0 AS DOUBLE) AS score
         |        UNION ALL SELECT id, 0.5 FROM d1
         |        UNION ALL SELECT id, 0.25 FROM d2)
         |SELECT id, MAX(score) AS score FROM alln GROUP BY id""".stripMargin
  )

  /** q31's oracle, also reused as a CTE body by q41. */
  private def explicitRulesOracleSql: String =
    s"""WITH sent AS (SELECT text, source_id
       |              FROM read_parquet('$FixturesDir/rule_sentences/*.parquet')),
       |cand AS (SELECT text, __n FROM read_parquet('$FixturesDir/rule_mention_names/*.parquet')),
       |dict AS (SELECT id AS concept_id, lower(name) AS __n
       |         FROM read_parquet('$FixturesDir/concepts_lite/*.parquet')),
       |linked AS (SELECT c.text, d.concept_id FROM cand c JOIN dict d USING (__n)),
       |agg AS (
       |  SELECT s.text, s.source_id,
       |    coalesce(array_to_string(list_sort(list(DISTINCT l.concept_id)
       |      FILTER (l.concept_id IS NOT NULL)), ','), '') AS concept_ids
       |  FROM sent s LEFT JOIN linked l ON s.text = l.text
       |  GROUP BY s.text, s.source_id)
       |SELECT 'rule:' || substr(sha256(text), 1, 16) AS id, text, 'web' AS domain, source_id,
       |  concept_ids,
       |  CASE WHEN regexp_matches(lower(text), '\\bnever\\b|\\bdo not\\b|\\bdon''t\\b|\\bavoid\\b')
       |       THEN 'prohibition' ELSE 'requirement' END AS category,
       |  CAST(0.8 AS DOUBLE) AS confidence
       |FROM agg""".stripMargin

  /** q32's oracle, also reused as a CTE body by q41. */
  private def derivedRulesOracleSql: String =
    s"""WITH e AS (SELECT source_id, target_id, relation_type, confidence,
       |     ROW_NUMBER() OVER (PARTITION BY source_id, target_id
       |       ORDER BY confidence DESC, relation_type ASC) AS rn
       |     FROM read_parquet('$FixturesDir/pruned_edges/*.parquet')),
       |u AS (SELECT * FROM e WHERE rn = 1),
       |n AS (SELECT id, name FROM read_parquet('$FixturesDir/concepts_lite/*.parquet')),
       |t(relation_type, template, template_id, tcat, severity) AS (VALUES $templateValuesSql),
       |x AS (SELECT u.source_id, u.target_id, u.confidence, sn.name AS sn, tn.name AS tn,
       |        coalesce(t.template, '{source} relates to {target}.') AS template,
       |        coalesce(t.template_id, '') AS template_id,
       |        coalesce(t.tcat, 'general') AS category,
       |        coalesce(t.severity, 'info') AS severity
       |      FROM u JOIN n sn ON u.source_id = sn.id JOIN n tn ON u.target_id = tn.id
       |      LEFT JOIN t ON u.relation_type = t.relation_type)
       |SELECT 'drule:' || substr(sha256(source_id || '|' || target_id), 1, 16) AS id,
       |  replace(replace(template, '{source}', sn), '{target}', tn) AS text,
       |  'web' AS domain, source_id || ',' || target_id AS concept_ids,
       |  category, confidence, template_id, severity
       |FROM x""".stripMargin

  /** q41's oracle: the seed-entry projection of the SAME explicit+derived
    * rule sets the q31/q32 oracles derive (their SQL is embedded verbatim
    * as derived-table subqueries — one source of truth). The mechanical
    * template enrichment and the provenance block are re-expressed
    * independently in SQL (targets/_serialize.py:75-113 semantics).
    */
  private def projectionOracleSql: String =
    s"""SELECT text AS rule, category,
       |  'When working in the web domain' AS context,
       |  'Violating this rule' AS antipattern,
       |  text AS rationale,
       |  'web,' || category AS tags,
       |  id AS prov_id, 'web' AS prov_domain, 'explicit' AS prov_derivation,
       |  concept_ids AS prov_source_concepts, confidence AS prov_confidence,
       |  CAST(0.0 AS DOUBLE) AS prov_relevance,
       |  '' AS prov_relation_type, '' AS prov_template_id,
       |  '' AS prov_template_variant, '' AS prov_template_severity
       |FROM ($explicitRulesOracleSql)
       |UNION ALL
       |SELECT text, category,
       |  'When working in the web domain', 'Violating this rule', text,
       |  'web,' || category || ',derived',
       |  id, 'web', 'derived', concept_ids, confidence, CAST(0.0 AS DOUBLE),
       |  upper(split_part(template_id, ':', 1)), template_id,
       |  split_part(template_id, ':', 2), severity
       |FROM ($derivedRulesOracleSql)""".stripMargin

  /** q42's oracle: the rules-bundle join of the reference's query contract
    * (service._collect_query_rules → core/rules.py:17-96) re-implemented in
    * SQL — rules re-derived by the q31/q32 oracle SQL, activated items read
    * from the dumped retrieval_items fixture, relevance = max activation
    * score per rule.
    */
  private def retrievalRulesOracleSql: String =
    s"""WITH items AS (SELECT id, score
       |               FROM read_parquet('$FixturesDir/retrieval_items/*.parquet')),
       |ruleset AS (
       |  SELECT id, text, category, concept_ids FROM ($explicitRulesOracleSql)
       |  UNION ALL
       |  SELECT id, text, category, concept_ids FROM ($derivedRulesOracleSql)),
       |exploded AS (
       |  SELECT r.id, r.text, r.category, unnest(string_split(r.concept_ids, ',')) AS cid
       |  FROM ruleset r WHERE r.concept_ids <> '')
       |SELECT e.id, e.text, e.category, round(max(i.score), 6) AS relevance
       |FROM exploded e JOIN items i ON e.cid = i.id
       |GROUP BY 1, 2, 3""".stripMargin

  /** The default template variant per relation type rendered as a DuckDB
    * VALUES list — oracle and operator share one registry, so they cannot
    * drift.
    */
  private def templateValuesSql: String =
    graft.core.RelationTypes.all.sorted
      .flatMap(rt => graft.rules.Rules.selectTemplate(rt, None))
      .map(t => s"('${t.relationType}','${t.template.replace("'", "''")}'," +
        s"'${t.id}','${t.category}','${t.severity}')")
      .mkString(",")

  /** q27's oracle: the full deterministic pruning pipeline (P0–P6,
    * pruning.py:329-489 semantics plus this repo's P0 evidence collapse and
    * sweep cap) re-implemented in DuckDB over the dumped pruning-INPUT
    * fixture (resolved, unpruned edges). The order-dependent greedy P3/P4
    * sweeps run as a recursive CTE that walks each (src,tgt) group in the
    * operator's exact sort order (conf desc, text, relation), carrying the
    * kept sets as lists of (rel, tokens) structs; Jaccard is list algebra.
    * Constants (stopwords, thresholds, causal relation set) are injected
    * from the SAME Scala objects the operator uses — no drift possible.
    */
  private def pruningOracleSql: String = {
    val cfg = Pruning.Config()
    val stopSql = graft.core.TextSpec.stopwords.toSeq.sorted
      .map(w => s"'$w'").mkString("[", ",", "]")
    val causalSql = graft.core.RelationTypes.causal.toSeq
      .map(_.toLowerCase(java.util.Locale.ROOT)).sorted
      .map(r => s"'$r'").mkString(", ")
    // jaccard(k.toks, s.toks) as SQL list algebra (pruning.py:308-314)
    def jac = """(CASE WHEN len(k.toks) = 0 OR len(s.toks) = 0 THEN 0.0
                 |            ELSE len(list_intersect(k.toks, s.toks)) /
                 |                 CAST(len(list_distinct(k.toks || s.toks)) AS DOUBLE) END)""".stripMargin
    val drop3 = s"""len(list_filter(r.kept3, k -> k.rel = s.relation_type AND
                   |      $jac > ${cfg.jaccardDuplicateThreshold})) > 0""".stripMargin
    val drop4 = s"""len(list_filter(r.kept4, k -> k.rel <> s.relation_type AND
                   |      $jac >= ${cfg.competingOverlapThreshold})) > 0""".stripMargin
    s"""WITH RECURSIVE src AS (
       |  SELECT source_id, target_id, relation_type, confidence, bidirectional,
       |         source_text, source_location, extractor_version
       |  FROM read_parquet('$FixturesDir/resolved_edges/*.parquet')),
       |p0 AS (
       |  SELECT * EXCLUDE (wrn) FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY source_id, target_id, relation_type, source_text
       |      ORDER BY confidence DESC, source_location ASC) AS wrn
       |    FROM src) WHERE wrn = 1),
       |tok AS (
       |  SELECT *, list_sort(list_distinct(list_filter(
       |      regexp_extract_all(lower(source_text), '\\b[a-z]+\\b'),
       |      t -> NOT list_contains($stopSql, t)))) AS toks
       |  FROM p0),
       |p12 AS (SELECT * FROM tok
       |        WHERE len(toks) >= ${cfg.minEvidenceTokens}
       |          AND confidence >= ${cfg.confidenceFloor}),
       |capped AS (
       |  SELECT * EXCLUDE (crn) FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY source_id, target_id, relation_type
       |      ORDER BY confidence DESC, source_text ASC) AS crn
       |    FROM p12) WHERE crn <= ${cfg.sweepCap}),
       |swept AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY source_id, target_id
       |    ORDER BY confidence DESC, source_text ASC, relation_type ASC) AS pos
       |  FROM capped),
       |rec AS (
       |  SELECT source_id, target_id, 0 AS pos, false AS d3, false AS d4,
       |    CAST([] AS STRUCT(rel VARCHAR, toks VARCHAR[])[]) AS kept3,
       |    CAST([] AS STRUCT(rel VARCHAR, toks VARCHAR[])[]) AS kept4
       |  FROM (SELECT DISTINCT source_id, target_id FROM swept)
       |  UNION ALL
       |  SELECT s.source_id, s.target_id, s.pos,
       |    $drop3 AS d3,
       |    $drop4 AS d4,
       |    CASE WHEN $drop3 THEN r.kept3
       |      ELSE list_append(r.kept3, {'rel': s.relation_type, 'toks': s.toks}) END AS kept3,
       |    CASE WHEN $drop3 OR $drop4 THEN r.kept4
       |      ELSE list_append(r.kept4, {'rel': s.relation_type, 'toks': s.toks}) END AS kept4
       |  FROM rec r JOIN swept s
       |    ON s.source_id = r.source_id AND s.target_id = r.target_id
       |   AND s.pos = r.pos + 1),
       |s4 AS (
       |  SELECT s.* FROM swept s
       |  JOIN (SELECT source_id, target_id, pos, d3, d4 FROM rec WHERE pos > 0) d
       |    ON s.source_id = d.source_id AND s.target_id = d.target_id AND s.pos = d.pos
       |  WHERE NOT d.d3 AND NOT d.d4),
       |deg AS (
       |  SELECT node, count(*) AS c FROM (
       |    SELECT source_id AS node FROM s4 UNION ALL SELECT target_id FROM s4)
       |  GROUP BY node),
       |final AS (
       |  SELECT s4.* FROM s4
       |  JOIN deg ds ON s4.source_id = ds.node
       |  JOIN deg dt ON s4.target_id = dt.node
       |  WHERE NOT ((ds.c = 1 OR dt.c = 1)
       |             AND s4.confidence < ${cfg.isolatedWeakConfidence}))
       |SELECT source_id, target_id, relation_type, confidence, bidirectional,
       |  source_text, source_location, extractor_version,
       |  CASE WHEN confidence >= ${cfg.confidenceWeak} THEN 'strong' ELSE 'weak' END AS strength,
       |  CASE WHEN lower(relation_type) IN ($causalSql)
       |       THEN 'causal' ELSE 'structural' END AS layer
       |FROM final""".stripMargin
  }

  // ---- LSH-family oracles (q17–q20) -------------------------------------
  // The hash functions (minhash splitmix, simhash, hyperplane signatures,
  // n-gram hashCode sets) are the only non-SQL-expressible stage; their
  // per-row outputs are dumped as fixtures (writeFixtures) and everything
  // downstream — banding, bucket caps, candidate self-joins, hamming /
  // exact-jaccard verification, est-jaccard agreement, multi-probe ANN
  // ranking — is re-derived independently in DuckDB.

  /** Shared CTE body: minhash signatures → capped band buckets →
    * candidate pairs with estimated jaccard (Dedup.minhashLsh downstream
    * of the UDF; 8 bands × 4 rows, bucket = the raw minhash tuple).
    */
  private def minhashPairsCte: String =
    s"""sigs AS (SELECT doc_id AS id, sig FROM read_parquet('$FixturesDir/minhash_sigs/*.parquet')),
       |banded AS (
       |  SELECT id, sig, b.band,
       |    concat_ws(':', sig[b.band*4+1], sig[b.band*4+2],
       |              sig[b.band*4+3], sig[b.band*4+4]) AS bucket
       |  FROM sigs, (SELECT unnest(range(0,8)) AS band) b),
       |sizes AS (SELECT band, bucket, count(*) AS bn, MIN(id) AS mn
       |          FROM banded GROUP BY 1, 2),
       |kept AS (SELECT banded.* FROM banded JOIN sizes USING (band, bucket)
       |         WHERE bn <= 10000),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM kept a JOIN kept b USING (band, bucket)
       |  WHERE a.id < b.id),
       |est AS (
       |  SELECT id_a, id_b,
       |    len(list_filter(range(1, 33), i -> sa[i] = sb[i])) / CAST(32 AS DOUBLE)
       |      AS est_jaccard
       |  FROM pairs),
       |agg AS (SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM est GROUP BY 1, 2)""".stripMargin

  private def minhashOracleSql: String =
    s"""WITH $minhashPairsCte
       |SELECT id_a, id_b, est_jaccard FROM agg WHERE est_jaccard >= 0.5""".stripMargin

  // q50: candidate pairs re-derived from the minhash-signature fixture
  // (same CTE as q18), then the TRANSITIVE CLOSURE — the operator's
  // connected components — re-computed independently via a recursive
  // CTE: every label spreads along symmetric edges until fixpoint, and
  // MIN over the reach set is exactly the min-label CC result.
  private def dedupClustersOracleSql: String =
    s"""WITH RECURSIVE $minhashPairsCte,
       |star AS (SELECT s.mn AS id_a, b.id AS id_b
       |         FROM banded b JOIN sizes s USING (band, bucket)
       |         WHERE s.bn > 10000 AND b.id <> s.mn),
       |p AS (SELECT id_a, id_b FROM agg WHERE est_jaccard >= 0.5
       |      UNION SELECT id_a, id_b FROM star),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION SELECT id_b, id_a FROM p),
       |nn AS (SELECT DISTINCT src AS id FROM e),
       |reach AS (
       |  SELECT id, id AS r FROM nn
       |  UNION
       |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON reach.id = e.src),
       |lbl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |asgn AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |         FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id),
       |counts AS (SELECT cluster_id, COUNT(*) AS n_members FROM asgn GROUP BY 1)
       |SELECT a.doc_id, a.cluster_id, c.n_members,
       |  a.doc_id = a.cluster_id AS keep
       |FROM asgn a JOIN counts c USING (cluster_id)""".stripMargin

  private def simhashOracleSql: String =
    s"""WITH sigs AS (SELECT doc_id AS id, sig
       |              FROM read_parquet('$FixturesDir/simhash_sigs/*.parquet')),
       |chunked AS (
       |  SELECT id, sig, c.chunk, (sig >> (c.chunk*16)) & 65535 AS key
       |  FROM sigs, (SELECT unnest(range(0,4)) AS chunk) c),
       |sizes AS (SELECT chunk, key, count(*) AS bn FROM chunked GROUP BY 1, 2),
       |kept AS (SELECT chunked.* FROM chunked JOIN sizes USING (chunk, key)
       |         WHERE bn <= 10000),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM kept a JOIN kept b USING (chunk, key)
       |  WHERE a.id < b.id)
       |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8""".stripMargin

  private def ngramOracleSql: String =
    s"""WITH $minhashPairsCte,
       |cand AS (SELECT id_a, id_b FROM agg WHERE est_jaccard >= 0.25),
       |grams AS (SELECT doc_id AS id, grams
       |          FROM read_parquet('$FixturesDir/ngram_sets/*.parquet')),
       |verify AS (
       |  SELECT c.id_a, c.id_b,
       |    CASE WHEN len(ga.grams) = 0 OR len(gb.grams) = 0 THEN 0.0
       |      ELSE len(list_intersect(ga.grams, gb.grams)) /
       |           CAST(len(ga.grams) + len(gb.grams)
       |                - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |    END AS jaccard
       |  FROM cand c JOIN grams ga ON c.id_a = ga.id JOIN grams gb ON c.id_b = gb.id)
       |SELECT id_a, id_b, jaccard FROM verify WHERE jaccard >= 0.5""".stripMargin

  private def lshAnnOracleSql: String =
    s"""WITH sigs AS (SELECT vec_id, sig FROM read_parquet('$FixturesDir/lsh_sigs/*.parquet')),
       |c AS (SELECT s.vec_id AS neighbor_id, e.embedding AS nv, s.sig AS bucket
       |      FROM sigs s JOIN embeddings e USING (vec_id)),
       |q0 AS (SELECT s.vec_id AS query_id, e.embedding AS qv, s.sig AS qsig
       |       FROM sigs s JOIN embeddings e USING (vec_id) WHERE s.vec_id < 5),
       |probes AS (
       |  SELECT query_id, qv,
       |    CASE WHEN p.i = -1 THEN qsig ELSE xor(qsig, 1 << p.i) END AS bucket
       |  FROM q0, (SELECT unnest(range(-1, 8)) AS i) p),
       |joined AS (
       |  SELECT query_id, neighbor_id,
       |    list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) AS cosine
       |  FROM probes JOIN c USING (bucket)
       |  WHERE query_id <> neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM joined)
       |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** q33's oracle: the hybrid-retrieval graph half re-derived in SQL —
    * factor weighting (empty factors → weight = vec_score), the BLOCKED
    * convergence-stopped PPR of Retrieval.retrieveFull (blocks of 5
    * iterations, stop when a block's Σ|Δ| ≤ 1e-4, ≤ 30 iterations, scores
    * ≤ 1e-8 dropped), max-normalization, the 0.5/0.5 blend over
    * seeds ∪ activated, and the deterministic top-10 — over the dumped
    * pruning output plus the two embedding-derived stage inputs
    * (retrieval_seeds, retrieval_online; the embedding itself is
    * suite-pinned, not SQL-expressible). The convergence RULE is encoded,
    * not a pinned iteration count: the oracle computes all six block
    * outputs and their deltas and selects the block the operator's
    * stopping rule would have published.
    */
  private def hybridRetrievalOracleSql: String = {
    val iters = (1 to 30).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         |  SELECT p.id, 0.85 * coalesce(c.inflow, 0.0) + 0.15 * p.pers AS rank
         |  FROM pers p LEFT JOIN (
         |    SELECT a.dst AS id, SUM(r.rank * a.p) AS inflow
         |    FROM adj a JOIN $prev r ON r.id = a.src GROUP BY a.dst) c USING (id))""".stripMargin
    }.mkString(",\n")
    val deltas = (1 to 6).map { b =>
      s"""(SELECT sum(abs(a.rank - b.rank))
         |   FROM r${5 * b} a JOIN r${5 * (b - 1)} b USING (id)) AS d$b""".stripMargin
    }.mkString(", ")
    val pick = "CASE " +
      (1 to 6).map(b => s"WHEN d$b <= 1e-4 THEN $b").mkString(" ") + " ELSE 6 END"
    val unionRanks = (1 to 6)
      .map(b => s"SELECT $b AS blk, id, rank FROM r${5 * b}")
      .mkString("\nUNION ALL\n")
    s"""WITH seeds AS (SELECT id, vec_score
       |               FROM read_parquet('$FixturesDir/retrieval_seeds/*.parquet')),
       |online AS (SELECT id_a, id_b, cosine
       |           FROM read_parquet('$FixturesDir/retrieval_online/*.parquet')),
       |e AS (SELECT source_id, target_id, CAST(confidence AS DOUBLE) AS w
       |      FROM read_parquet('$FixturesDir/pruned_edges/*.parquet')
       |      UNION ALL
       |      SELECT id_a, id_b, cosine FROM online),
       |und AS (SELECT source_id AS src, target_id AS dst, w FROM e
       |        UNION ALL SELECT target_id, source_id, w FROM e),
       |outw AS (SELECT src, SUM(w) AS wout FROM und GROUP BY src),
       |adj AS MATERIALIZED (SELECT und.src, und.dst, und.w / outw.wout AS p
       |                     FROM und JOIN outw USING (src)),
       |nodes AS (SELECT DISTINCT src AS id FROM adj UNION SELECT id FROM seeds),
       |wsum AS (SELECT sum(vec_score) AS t FROM seeds),
       |pers AS MATERIALIZED (
       |  SELECT n.id, coalesce(s.vec_score, 0.0) / w.t AS pers
       |  FROM nodes n LEFT JOIN seeds s USING (id) CROSS JOIN wsum w),
       |r0 AS MATERIALIZED (SELECT id, pers AS rank FROM pers),
       |$iters,
       |dl AS (SELECT $deltas),
       |pick AS (SELECT $pick AS k FROM dl),
       |allr AS ($unionRanks),
       |ranks AS (SELECT id, rank FROM allr JOIN pick ON blk = k WHERE rank > 1e-8),
       |mx AS (SELECT CASE WHEN max(rank) > 0 THEN max(rank) ELSE 1.0 END AS m
       |       FROM ranks),
       |blend AS (
       |  SELECT coalesce(s.id, r.id) AS id,
       |    coalesce(s.vec_score, 0.0) AS vec_score,
       |    coalesce(r.rank, 0.0) AS ppr
       |  FROM seeds s FULL OUTER JOIN ranks r ON s.id = r.id),
       |scored AS (
       |  SELECT id, vec_score, 0.5 * vec_score + 0.5 * (ppr / mx.m) AS combined
       |  FROM blend CROSS JOIN mx),
       |topk AS (SELECT * FROM scored ORDER BY combined DESC, id ASC LIMIT 10)
       |SELECT t.id, n.name, round(t.vec_score, 4) AS vec_score,
       |  round(t.combined, 4) AS combined
       |FROM topk t
       |LEFT JOIN read_parquet('$FixturesDir/concepts_lite/*.parquet') n
       |  ON t.id = n.id""".stripMargin
  }

  /** q28's oracle: min-label connected components over the dumped synonym
    * pair fixture as `Canon.OracleRoundBudget` generated MATERIALIZED
    * label-propagation rounds (components converge in ≤ diameter rounds;
    * CanonSuite asserts that min-label propagation over the verify
    * corpus's synonym pairs converges within the budget). The operator,
    * Canon.connectedComponents, is large-star/small-star and reaches the
    * same component minima. Identity fallback for singleton concepts,
    * exactly like Canon.canonicalMap.
    */
  private def ccOracleSql: String = {
    val n = Canon.OracleRoundBudget
    val rounds = (1 to n).map { i =>
      val prev = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
         |  SELECT $prev.id, least($prev.label, coalesce(m.nl, $prev.label)) AS label
         |  FROM $prev LEFT JOIN (
         |    SELECT e.dst AS id, min($prev.label) AS nl
         |    FROM e JOIN $prev ON $prev.id = e.src GROUP BY e.dst) m USING (id))""".stripMargin
    }
    s"""WITH p AS (SELECT id_a, id_b FROM read_parquet('$FixturesDir/synonym_pairs/*.parquet')),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM e),
       |${rounds.mkString(",\n")}
       |SELECT c.id, coalesce(l$n.label, c.id) AS canonical_id
       |FROM read_parquet('$FixturesDir/concepts_lite/*.parquet') c
       |LEFT JOIN l$n ON c.id = l$n.id""".stripMargin
  }

  /** q29's oracle: the same 25-iteration PPR power iteration as a generated
    * chain of MATERIALIZED CTEs (DuckDB's optimizer blows up on the inlined
    * 25-deep join tree otherwise). Seed = web:The Platform, weight 1.
    */
  private def pprOracleSql: String = {
    val iters = (1 to 25).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         |  SELECT p.id, 0.85 * coalesce(c.inflow, 0.0) + 0.15 * p.pers AS rank
         |  FROM pers p LEFT JOIN (
         |    SELECT a.dst AS id, SUM(r.rank * a.p) AS inflow
         |    FROM adj a JOIN $prev r ON r.id = a.src GROUP BY a.dst) c USING (id))""".stripMargin
    }
    s"""WITH e AS (SELECT source_id, target_id, confidence
       |           FROM read_parquet('$FixturesDir/pruned_edges/*.parquet')),
       |und AS (SELECT source_id AS src, target_id AS dst, CAST(confidence AS DOUBLE) AS w FROM e
       |        UNION ALL SELECT target_id, source_id, CAST(confidence AS DOUBLE) FROM e),
       |outw AS (SELECT src, SUM(w) AS wout FROM und GROUP BY src),
       |adj AS MATERIALIZED (SELECT und.src, und.dst, und.w / outw.wout AS p
       |                     FROM und JOIN outw USING (src)),
       |nodes AS (SELECT DISTINCT src AS id FROM adj),
       |pers AS MATERIALIZED (SELECT id,
       |    CASE WHEN id = 'web:The Platform' THEN 1.0 ELSE 0.0 END AS pers FROM nodes),
       |r0 AS MATERIALIZED (SELECT id, pers AS rank FROM pers),
       |${iters.mkString(",\n")}
       |SELECT id, round(rank, 6) AS rank FROM r25 WHERE rank > 1e-8""".stripMargin
  }
}
