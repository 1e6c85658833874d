package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class OpsSuite extends SparkFunSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", 70L),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", 70L), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight", "en", 71L), // near dup
    (3L, "der schnelle braune fuchs springt und das ist ein ganz anderer text hier", "de", 72L),
    (4L, "completely different content about spark shuffle partitions and joins", "en", 69L)
  ).toDF("doc_id", "text", "lang", "n_chars")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val out = Dedup.exact(docs).as[(String, Long, Long)].collect()
    assert(out.length == 4) // 0 and 1 collapse
    val dupGroup = out.find(_._3 == 2L)
    assert(dupGroup.isDefined && dupGroup.get._2 == 0L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs).filter($"est_jaccard" >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("dedup clusters: transitive closure, canonical keeper, singletons") {
    // 0≡1 (exact) and 0~2 (near): {0,1,2} must land in ONE cluster even
    // if 1 and 2 never met in a band; 3 and 4 stay singletons
    val out = Dedup.dedupClusters(docs)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out.size == 5) // one row per input doc
    assert(out(0L) == ((0L, 3L, true)))
    assert(out(1L) == ((0L, 3L, false)))
    assert(out(2L) == ((0L, 3L, false)))
    assert(out(3L) == ((3L, 1L, true)))
    assert(out(4L) == ((4L, 1L, true)))
  }

  test("dedup clusters: over-cap bucket star-links instead of dropping the giant family") {
    // 40 identical docs blow a bucketCap of 5 in every band — the pure
    // pairwise path (minhashLsh) DROPS those buckets, but clustering must
    // still find the family, via O(m) star edges to the bucket minimum
    val giant = (0L until 40L).map(i => (i, "same boilerplate text repeated " +
      "across the whole mirror family of this synthetic corpus")) :+
      (99L, "an unrelated document about completely different things entirely")
    val df = giant.toDF("doc_id", "text")
    val out = Dedup.dedupClusters(df, bucketCap = 5L)
      .as[(Long, Long, Long, Boolean)].collect()
    val family = out.filter(_._1 < 40L)
    assert(family.forall(_._2 == 0L), "giant family must collapse to cluster 0")
    assert(family.forall(_._3 == 40L))
    assert(family.count(_._4) == 1 && family.find(_._4).get._1 == 0L)
    assert(out.find(_._1 == 99L).get._2 == 99L)
  }

  test("decontamination flags corpus docs matching the benchmark, nothing else") {
    // benchmark holds a verbatim copy of doc 0 (re-keyed 100) and an
    // unseen doc (101): doc 0, its exact dup 1, and near-dup 2 must all
    // flag against 100; nothing flags against 101
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "an entirely novel benchmark question no corpus document resembles at all")
    ).toDF("doc_id", "text")
    val hits = Dedup.crossContamination(docs, bench)
      .as[(Long, Long, Double)].collect()
    assert(hits.map(h => (h._1, h._2)).toSet == Set((0L, 100L), (1L, 100L), (2L, 100L)), hits.toSeq)
    assert(hits.filter(h => h._1 <= 1L).forall(_._3 == 1.0))
  }

  test("split assignment is a pure function of the id — partitioning-proof") {
    import graft.ops.Sampling
    val corpus = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = Sampling.assignSplits(corpus).select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().toSet
    val b = Sampling.assignSplits(corpus.repartition(13)).select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().toSet
    assert(a == b)
    val bySplit = a.groupBy(_._3).view.mapValues(_.size).toMap
    // 900/50/50 permille cut: binomial bounds, not exact thirds
    assert(bySplit("train") > 850 && bySplit("train") < 950)
    assert(bySplit("val") > 20 && bySplit("val") < 90)
    assert(bySplit("test") > 20 && bySplit("test") < 90)
    assert(bySplit.values.sum == 1000)
    // sample: deterministic subset of the right magnitude
    val s1 = Sampling.sample(corpus, 100).select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.sample(corpus.coalesce(1), 100).select("doc_id").as[Long].collect().toSet
    assert(s1 == s2 && s1.size > 60 && s1.size < 150)
  }

  test("packShards: deterministic bucket packing with the one-doc overflow bound") {
    import graft.ops.Sampling
    val corpus = (0L until 300L).map(i => (i, 1 + (i % 97).toInt))
      .toDF("doc_id", "n_tokens")
    val a = Sampling.packShards(corpus, 100L, nBuckets = 7)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    val b = Sampling.packShards(corpus.repartition(5), 100L, nBuckets = 7)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 300 && a.map(_._1).distinct.length == 300)
    // each shard: < budget + its largest doc (clamped streaming bound)
    val byShard = a.groupBy(_._2).values
    assert(byShard.forall(s => s.map(_._3.toLong).sum < 100L + s.map(_._3).max))
    // the bucket id is recoverable from the shard id
    assert(a.forall { case (_, shard, _) => (shard >> 32) < 7 })
  }

  test("simhash: identical docs at hamming 0; unrelated docs far") {
    val pairs = Dedup.simhash(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    val exact = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(exact.isDefined && exact.get._3 == 0L)
    assert(!pairs.exists(p => (p._1, p._2) == (0L, 4L)))
  }

  test("ngram jaccard verifies near-dups exactly") {
    val pairs = Dedup.ngramJaccard(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val d01 = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(d01.isDefined && d01.get._3 == 1.0)
  }

  test("cosine: orthogonal, identical, opposite") {
    val c = Similarity.cosineUdf
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 2f), Seq(1f, 2f)),
      (Seq(1f, 0f), Seq(-1f, 0f))).toDF("a", "b")
      .select(c($"a", $"b").as("cos")).as[Double].collect()
    assert(math.abs(df(0)) < 1e-12)
    assert(math.abs(df(1) - 1.0) < 1e-12)
    assert(math.abs(df(2) + 1.0) < 1e-12)
  }

  test("cosine: cosineUdf and the driver kernel agree bit for bit (random 384-d, guards)") {
    val rng = new scala.util.Random(384)
    def vec(n: Int): Seq[Float] = Seq.fill(n)((rng.nextGaussian() * 0.3).toFloat)
    val zeros = Seq.fill(384)(0f)
    val pairs: Seq[(Option[Seq[Float]], Option[Seq[Float]])] =
      Seq.fill(40)((Some(vec(384)), Some(vec(384)))) ++ Seq(
        (None, Some(vec(384))), // null
        (Some(vec(384)), None),
        (None, None),
        (Some(Seq.empty[Float]), Some(Seq.empty[Float])), // empty
        (Some(vec(3)), Some(vec(4))), // mismatched length
        (Some(zeros), Some(vec(384))), // zero norm
        (Some(vec(384)), Some(zeros)))
    val udfScores = pairs.toDF("a", "b")
      .select(Similarity.cosineUdf($"a", $"b")).as[Double].collect()
    // the driver side reads each vector as a slice of one flat array
    val flat = pairs.flatMap { case (a, b) => a.getOrElse(Nil) ++ b.getOrElse(Nil) }.toArray
    var at = 0
    val kernelScores = pairs.map { case (a, b) =>
      val (la, lb) = (a.fold(0)(_.length), b.fold(0)(_.length))
      val s = Similarity.cosine(if (a.isEmpty) null else flat, at, la,
        if (b.isEmpty) null else flat, at + la, lb)
      at += la + lb
      s
    }
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(udfScores.toSeq) == bits(kernelScores))
    assert(udfScores.takeRight(7).forall(_ == 0.0))
    assert(udfScores.take(40).forall(s => s != 0.0 && math.abs(s) < 1.0))
  }

  test("brute-force top-k returns k neighbors ranked by cosine") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(0.95f, 0f, 0.05f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L), k = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    assert(out.keySet == Set(3L, 1L)) // the two closest to (1,0,0)
    assert(out(3L) == 1)
  }

  test("LSH ANN recall: identical vector found in its own bucket") {
    val base = (0L until 50L).map(i =>
      (i, Seq.tabulate(16)(d => math.sin(i * 17.0 + d).toFloat)))
    val vecs = base.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(vecs, vecs.filter($"vec_id" < 3L), k = 3, planes = 6)
    assert(out.count() > 0)
  }

  test("token count, quality flags, langid, fingerprint are deterministic and sane") {
    val q = TextAnalysis.quality(docs)
    assert(q.filter($"doc_id" === 0L).select("n_tokens").as[Int].head() == 14)
    val lid = TextAnalysis.langId(docs)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(lid(0L) == "en")
    assert(lid(3L) == "de")
    val fp = TextAnalysis.fingerprints(docs).as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L)) // identical text → identical fingerprint
    assert(fp(0L) != fp(4L))
  }

  test("repetition signals: duplicate 3-gram fraction and top-gram share") {
    val d = Seq(
      (1L, "a b a b a b a b"),
      (2L, "all distinct words here now"),
      (3L, "x y")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(d)
      .as[(Long, Int, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 6, 2, 1.0 - 2.0 / 6.0, 0.5)))
    assert(out(2L) == ((2L, 3, 3, 0.0, 1.0 / 3.0)))
    assert(out(3L) == ((3L, 0, 0, 0.0, 0.0)))
  }

  test("shared-gram stats: cross-doc 3-gram doc-frequency, hand-worked") {
    // docs 0/1 identical (12 grams each, all shared), doc2 shares 11 of
    // its 12 ("river bank tonight" is unique), docs 3/4 share nothing
    val out = graft.ops.Curation.sharedGramStats(docs)
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == ((0L, 12, 12, 1.0)))
    assert(out(1L) == ((1L, 12, 12, 1.0)))
    assert(out(2L) == ((2L, 12, 11, 11.0 / 12.0)))
    assert(out(3L) == ((3L, 11, 0, 0.0)))
    assert(out(4L) == ((4L, 7, 0, 0.0)))
  }

  test("shared-gram stats: within-doc repeats count once toward doc-frequency") {
    // "x y z x y z" repeats its grams internally but no OTHER doc has
    // them — distinct-per-doc means df stays 1 and nothing is 'shared'
    val d = Seq((1L, "x y z x y z"), (2L, "totally unrelated words here")).toDF("doc_id", "text")
    val out = graft.ops.Curation.sharedGramStats(d)
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3, 0, 0.0))) // 4 grams, 3 distinct, none shared
  }

  test("per-source caps: deterministic, exact, and prefilter-path-identical") {
    val d = (0L until 500L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
      .withColumn("text", lit("unused"))
    val naive = graft.ops.Curation.capPerSource(d, maxPerSource = 3,
      prefilterAbove = Long.MaxValue)
    // prefilterAbove = 0 forces the hash-prefix cut on every source
    // (125 docs/source vs slack ≈ 81 → the cut genuinely drops rows)
    val fast = graft.ops.Curation.capPerSourceVerified(d, maxPerSource = 3,
      prefilterAbove = 0L)
    val a = naive.as[(Long, String, Int)].collect().toSet
    val b = fast.as[(Long, String, Int)].collect().toSet
    assert(a == b, s"prefilter path diverged: ${a.diff(b)} vs ${b.diff(a)}")
    assert(a.size == 12) // 4 sources × cap 3
    assert(a.groupBy(_._2).forall(_._2.map(_._3).toSeq.sorted == Seq(1, 2, 3)))
  }

  test("per-source caps: sources smaller than the cap keep everything") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    val out = graft.ops.Curation.capPerSourceVerified(d, maxPerSource = 10)
      .as[(Long, String, Int)].collect()
    assert(out.length == 3)
  }

  test("unigram rarity: corpus-trained frequencies, hand-worked") {
    val d = Seq((1L, "a a b"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    // vocab: a→2, b→2, c→1; rareThreshold 1 ⇒ only c is rare
    val out = graft.ops.Curation.unigramRarity(d, rareThreshold = 1L)
      .as[(Long, Int, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3, 0, 0.0, 2.0)))       // freq mass 2+2+2 = 6
    assert(out(2L) == ((2L, 2, 1, 0.5, 1.5)))       // freq mass 2+1 = 3
    assert(out(3L) == ((3L, 0, 0, 0.0, 0.0)))
  }

  test("pattern signals: email/url/digit counters, hand-worked") {
    val d = Seq(
      (1L, "contact me at foo@example.com or visit https://example.com/page now 123"),
      (2L, "no patterns in this text"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.patternSignals(d)
      .as[(Long, Int, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 1 && out(1L)._3 == 1 && out(1L)._4 == 3)
    assert(out(1L)._5 == 3.0 / "contact me at foo@example.com or visit https://example.com/page now 123".length)
    assert(out(2L) == ((2L, 0, 0, 0, 0.0)))
    assert(out(3L) == ((3L, 0, 0, 0, 0.0)))
  }

  test("curate: composed verdict with per-gate rejection flags") {
    val en = "the quick brown fox is a good dog and the cat is in the house today"
    val d = Seq(
      (0L, en, "s1"),                                                      // kept
      (1L, en, "s1"),                                                      // exact dup
      (2L, "der schnelle braune fuchs ist und das nicht ein gutes haus", "s1"), // wrong lang
      (3L, "yes yes yes yes yes yes yes yes yes yes the is a of to in and", "s1"), // repetitive
      (4L, "one english text about the state of a market in the city", "s2"),
      (5L, "another english text about the shape of a river in the hills", "s2"),
      (6L, "a third english text about the sound of a forest in the north", "s2")
    ).toDF("doc_id", "text", "source")
    // lenient rarity/shared thresholds + a non-binding cap isolate the
    // content gates under test
    val out = graft.ops.Curation.curate(d, maxDupFraction = 0.05,
      maxRareFraction = 1.0, maxSharedFraction = 1.0, maxPerSource = 10)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(0L)._8, out(0L).toString)                  // all gates pass
    assert(!out(1L)._2 && !out(1L)._8)                    // exact-dup loser
    assert(!out(2L)._3 && !out(2L)._8)                    // lang gate
    assert(!out(3L)._4 && !out(3L)._8)                    // repetition gate
    assert(Seq(4L, 5L, 6L).forall(out(_)._8))             // s2 all kept
    // binding cap: 2 per source must exclude exactly one of docs 4/5/6
    val capped = graft.ops.Curation.curate(d, maxDupFraction = 0.05,
      maxRareFraction = 1.0, maxSharedFraction = 1.0, maxPerSource = 2)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    val s2 = Seq(4L, 5L, 6L).map(capped)
    assert(s2.count(!_._7) == 1, s2.toString)             // cap excluded one
    assert(s2.count(_._8) == 2)
  }

  test("multimodal: stub features have real schema/batch shape") {
    val media = Multimodal.synthesizeFromDocuments(docs)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 5)
    val textLen = docs.filter($"doc_id" === 0L)
      .select(length($"text")).as[Int].head()
    val row = feats.filter($"media_id" === 0L)
      .select("n_bytes", "features").as[(Long, Seq[Float])].head()
    assert(row._1 == textLen.toLong)
    assert(row._2.length == 8)
    assert(row._2.head == textLen.toFloat) // feature 0 = byte length
  }

  // ---- LSH bucket caps: adversarial identical-band corpus stays bounded ----

  test("bucket caps: a degenerate minhash bucket is dropped, not joined") {
    val docs = (0 until 2000).map(i => (i.toLong, "identical boilerplate text repeated " +
      "across the corpus exactly the same way every time")).toDF("doc_id", "text")
    // every doc shares every band bucket; cap 100 → all buckets dropped
    val pairs = Dedup.minhashLsh(docs, bucketCap = 100L)
    assert(pairs.count() == 0)
    // with the cap above corpus size the pairs would be ~2M — the cap is
    // what keeps the join bounded. Sanity: small corpus still pairs up.
    val small = (0 until 10).map(i => (i.toLong, "identical boilerplate text")).toDF("doc_id", "text")
    assert(Dedup.minhashLsh(small, bucketCap = 100L).count() == 45)
  }

  test("banded embedding LSH reaches recall 1.0 on perturbed near-dups") {
    val base = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val dups = base.filter(_._1 % 10 == 0)
      .map { case (id, v) => (id + 1000000L, (v(0) + 0.01f) +: v.tail) }
    val all = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosine(all, threshold = 0.95)
    // each injected dup must be found (cosine ≈ 0.9999)
    assert(pairs.count() >= dups.size)
  }
}
