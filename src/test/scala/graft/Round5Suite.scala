package graft

import graft.ops.{Curation, Dedup, IncrementalDedup, Sampling}
import graft.query.{Service, SessionIndex, VectorIndex, VectorMigrate}
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._

/** Round-5 regression tests: string-keyed incremental dedup, the
  * scale-safe curation shapes (no hot-key windows), the enforced
  * propagateCredit driver bound, vector index migration, and
  * session-scoped online retrieval.
  */
class Round5Suite extends SparkFunSuite {
  import spark.implicits._

  // ---- IncrementalDedup: generalized tie-break ---------------------------

  test("annotateAgainst works on a STRING-keyed corpus (tie-break: max est, then min id)") {
    val existing = Seq(
      ("doc-aa", "the quick brown fox jumps over the lazy dog again and again today"),
      ("doc-zz", "the quick brown fox jumps over the lazy dog again and again today"),
      ("doc-mm", "completely different content about snapshot stores and lineage rows")
    ).toDF("doc_id", "text")
    val batch = Seq(
      ("b-1", "the quick brown fox jumps over the lazy dog again and again today"),
      ("b-2", "novel text that matches nothing in the committed corpus at all ok")
    ).toDF("doc_id", "text")
    val existingSigs = Dedup.signatures(existing, "doc_id")
    val out = IncrementalDedup.annotateAgainst(existingSigs, batch,
      minEstJaccard = 0.9).collect().map(r =>
      (r.getString(0), Option(r.getString(1)))).toMap
    // both committed copies match at est 1.0 → smallest id lexicographically
    assert(out("b-1") == Some("doc-aa"))
    assert(out("b-2").isEmpty)
  }

  test("ingestBatch end-to-end on string ids: accept, append, re-match next batch") {
    val wh = java.nio.file.Files.createTempDirectory("graft-incdedup-str").toString
    val store = new SnapshotStore(wh)
    val b0 = Seq(
      ("u-1", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      ("u-2", "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val r0 = IncrementalDedup.ingestBatch(store, "batch0", b0)
    assert(r0.filter(col("accepted")).count() == 2)
    val b1 = Seq(
      ("u-3", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      ("u-4", "fresh words nowhere else mentioned in this corpus of test phrases")
    ).toDF("doc_id", "text")
    val r1 = IncrementalDedup.ingestBatch(store, "batch1", b1)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(r.fieldIndex("dup_of"))), r.getBoolean(r.fieldIndex("accepted"))))
      .toMap
    assert(r1("u-3") == (Some("u-1"), false))
    assert(r1("u-4") == (None, true))
  }

  test("annotateSigs tie-break on numeric ids still prefers highest est, then smallest id") {
    // sig arrays crafted directly: e2 agrees with the batch sig on all 32
    // slots, e1/e3 on 31 — so est 1.0 must win even though e1 < e2
    val base = (0 until 32).map(_.toLong)
    val off = base.updated(0, 999L)
    val existing = Seq((1L, off), (2L, base), (3L, off)).toDF("id", "sig")
    val batch = Seq((10L, base)).toDF("id", "sig")
    val annotated = graft.ops.IncrementalDedupTestAccess.annotate(existing, batch, 0.5)
      .collect()
    assert(annotated.length == 1)
    val r = annotated.head
    assert(r.getLong(r.fieldIndex("dup_of")) == 2L)
    assert(r.getDouble(r.fieldIndex("est_jaccard")) == 1.0)
  }

  test("replayAnnotation reproduces the ORIGINAL annotation after later commits") {
    val wh = java.nio.file.Files.createTempDirectory("graft-incdedup-replay").toString
    val store = new SnapshotStore(wh)
    val sharedText = "gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val b0 = Seq((1L, "totally novel base corpus content with many different words here"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(store, "b0", b0)
    // b1's doc 2 matches nothing at ingest time → accepted
    val b1 = Seq((2L, sharedText)).toDF("doc_id", "text")
    val orig = IncrementalDedup.ingestBatch(store, "b1", b1).collect()
    assert(orig.length == 1 && orig.head.getBoolean(orig.head.fieldIndex("accepted")))
    // b2 commits a near-dup of b1's doc — the index has grown
    val b2 = Seq((3L, sharedText + " extra")).toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(store, "b2", b2)

    // a plain re-invoke now annotates against the GROWN index (documented
    // behavior): doc 2 may match doc 3. The replay must NOT.
    val replay = IncrementalDedup.replayAnnotation(store, "b1", b1).collect()
    assert(replay.length == 1)
    val r = replay.head
    assert(r.isNullAt(r.fieldIndex("dup_of")),
      "replay leaked a post-batch signature into the match side")
    assert(r.getBoolean(r.fieldIndex("accepted")))
    // first-commit replay: empty pre-batch index → all novel
    val replay0 = IncrementalDedup.replayAnnotation(store, "b0", b0).collect()
    assert(replay0.length == 1 && replay0.head.isNullAt(replay0.head.fieldIndex("dup_of")))
    // never-committed batch id fails loudly
    val ex = intercept[RuntimeException] {
      IncrementalDedup.replayAnnotation(store, "nope", b1)
    }
    assert(ex.getMessage.contains("never committed"))
  }

  // ---- Curation: scale-safe shapes ---------------------------------------

  test("sharedGramStats plan has NO window operator (groupBy + join shape)") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c x y z"), (3L, "totally unique words here now")
    ).toDF("doc_id", "text")
    val df = Curation.sharedGramStats(docs)
    val optimized = df.queryExecution.optimizedPlan
    val windows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, s"sharedGramStats must not use a window:\n$optimized")
    // values unchanged vs the window form: doc 1/2 share the "a b c" gram
    val rows = df.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rows(1L) == 1 && rows(2L) == 1 && rows(3L) == 0)
  }

  test("curate plan has no window partitioned by a content hash (md5)") {
    val docs = Seq(
      (1L, "hello world one two three", "s1"),
      (2L, "hello world one two three", "s1"),
      (3L, "different text entirely here", "s2")
    ).toDF("doc_id", "text", "source")
    val df = Curation.curate(docs)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // the per-source cap's row_number window remains (partitioned by the
    // SOURCE key, bounded by the hash pre-filter); none may partition by
    // a content-hash expression
    windows.foreach { w =>
      val spec = w.partitionSpec.map(_.sql.toLowerCase).mkString(",")
      assert(!spec.contains("md5") && !spec.contains("hash"),
        s"content-hash window partition survives: $spec")
    }
    // semantics pinned: doc 1 keeps (min id of the dup family), doc 2 not
    val kept = df.collect().map(r => r.getLong(0) ->
      r.getBoolean(r.fieldIndex("keep_exact"))).toMap
    assert(kept(1L) && !kept(2L) && kept(3L))
  }

  test("substringDupStats: positional interval-union coverage, cross-doc only") {
    val docs = Seq(
      (1L, "a b c d e f"),          // shares "a b c" with doc 2 → 3 of 6
      (2L, "x a b c y z"),          // span at pos 1 → 3 of 6
      (3L, "p q r p q r p q"),      // every window shared with doc 4 → 8 of 8
      (4L, "p q r p q r s t"),      // starts {0,1,2,3} → 1+1+1+3 = 6 of 8
      (5L, "m n o m n o m n"),      // repeats only WITHIN itself → 0 (df is
                                    //   distinct-doc count, not occurrences)
      (6L, "xx yy")                 // shorter than the window → 0 of 2
    ).toDF("doc_id", "text")
    val out = Curation.substringDupStats(docs, w = 3)
    val got = out.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((6, 3, 0.5)))
    assert(got(2L) == ((6, 3, 0.5)))
    assert(got(3L) == ((8, 8, 1.0)))
    assert(got(4L) == ((8, 6, 0.75)))
    assert(got(5L) == ((8, 0, 0.0)))
    assert(got(6L) == ((2, 0, 0.0)))
    // scale shape pinned: hashed windows, partial-agg doc-frequency, and
    // NO window operator anywhere (the per-doc union is an aggregate)
    val optimized = out.queryExecution.optimizedPlan
    val windows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, s"substringDupStats must not use a window:\n$optimized")
    assert(out.queryExecution.executedPlan.toString.contains("xxhash64"))
  }

  test("substringDedup: keep-one removal, keeper retains, overlaps union") {
    val span = "a b c d e f g h i j" // 10 tokens = one window at w=10
    val docs = Seq(
      (1L, s"$span k l"),        // keeper (min id) — keeps everything
      (2L, s"$span k l"),        // exact dup → every window removable
      (3L, s"z1 z2 $span z3")    // shares only the span → middle cut
    ).toDF("doc_id", "text")
    val out = Curation.substringDedup(docs, w = 10).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((12, 0, span + " k l")))
    assert(out(2L) == ((12, 12, "")))
    assert(out(3L) == ((13, 10, "z1 z2 z3")))
  }

  test("ngramDecontaminate flags exact spans quoted from the benchmark") {
    val question = "what is the capital of the ancient kingdom of lydia"  // 10 tokens
    val corpus = Seq(
      (1L, s"intro words $question closing words"),  // quotes the question verbatim
      (2L, "entirely unrelated content about spark adaptive query execution and shuffles here"),
      (3L, question)                                  // IS the benchmark doc
    ).toDF("doc_id", "text")
    val bench = Seq((900L, question)).toDF("doc_id", "text")
    val out = Curation.ngramDecontaminate(corpus, bench, w = 10).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((14, 10, 10.0 / 14)))
    assert(out(2L)._2 == 0)
    assert(out(3L) == ((10, 10, 1.0)))
  }

  test("capPerSource broadcast gate: results identical with and without hint path") {
    val docs = (0 until 200).map(i => (i.toLong, s"s${i % 7}")).toDF("doc_id", "source")
    val kept = Curation.capPerSource(docs, maxPerSource = 5)
    assert(kept.count() == 35)
    val perSrc = kept.groupBy("source").count().collect().map(_.getLong(1)).toSet
    assert(perSrc == Set(5L))
  }

  // ---- propagateCredit enforced driver bound ------------------------------

  test("propagateCredit throws loudly when the outcomes frame exceeds the cap") {
    val edges = (0 until 9).map(i => (s"d:n$i", s"d:n${i + 1}", "SUPPORTS", 0.9))
      .toDF("source_id", "target_id", "relation_type", "confidence")
    val outcomes = (0 until 10).map(i => (s"d:n$i", "accepted"))
      .toDF("node_id", "outcome")
    val ex = intercept[IllegalArgumentException] {
      Service.propagateCredit(edges, outcomes, maxOutcomes = 5)
    }
    assert(ex.getMessage.contains("driver cap"))
    // under the cap: same frame propagates fine
    val ok = Service.propagateCredit(edges, outcomes, maxOutcomes = 100)
    assert(ok.isDefined)
  }

  // ---- Vector index migration ---------------------------------------------

  private def vecOf(seed: Int, dim: Int = 4): Seq[Float] =
    (0 until dim).map(i => (seed * 31 + i).toFloat)

  test("VectorMigrate copies every vector, is idempotent, validates post-write") {
    val wh = java.nio.file.Files.createTempDirectory("graft-migrate").toString
    val store = new SnapshotStore(wh)
    val src = new VectorIndex(store, "vi_src")
    val dst = new VectorIndex(store, "vi_dst")
    src.upsert(Seq(("a", vecOf(1)), ("b", vecOf(2)), ("c", vecOf(3)))
      .toDF("id", "embedding").withColumn("embedding", col("embedding").cast("array<float>")))
    src.remove(Seq("c").toDF("id")) // merge-on-read state must resolve first

    val r = VectorMigrate.migrate(src, dst, expectDim = Some(4))
    assert(r.vectorsRead == 2 && r.vectorsWritten == 2 && r.dimension == 4)
    assert(dst.count() == 2)
    // idempotent: re-running upserts the same rows, count unchanged
    val r2 = VectorMigrate.migrate(src, dst)
    assert(r2.vectorsWritten == 2 && dst.count() == 2)
  }

  test("VectorMigrate: dry run writes nothing; transform re-embeds; bad dims throw") {
    val wh = java.nio.file.Files.createTempDirectory("graft-migrate2").toString
    val store = new SnapshotStore(wh)
    val src = new VectorIndex(store, "vi_src")
    src.upsert(Seq(("a", vecOf(1)), ("b", vecOf(2)))
      .toDF("id", "embedding").withColumn("embedding", col("embedding").cast("array<float>")))

    val dry = new VectorIndex(store, "vi_dry")
    val rd = VectorMigrate.migrate(src, dry, dryRun = true)
    assert(rd.vectorsRead == 2 && rd.vectorsWritten == 0 && dry.count() == 0)

    // re-embed: project to 2 dims
    val dst = new VectorIndex(store, "vi_reembed")
    val rt = VectorMigrate.migrate(src, dst,
      transform = df => df.select(col("id"),
        slice(col("embedding"), 1, 2).as("embedding")))
    assert(rt.dimension == 2 && dst.count() == 2)

    // expected-dimension mismatch throws
    val dst2 = new VectorIndex(store, "vi_baddim")
    val ex = intercept[IllegalArgumentException] {
      VectorMigrate.migrate(src, dst2, expectDim = Some(8))
    }
    assert(ex.getMessage.contains("dimension"))

    // row-dropping transform throws (a migration carries every vector)
    val ex2 = intercept[IllegalArgumentException] {
      VectorMigrate.migrate(src, dst2, transform = _.limit(1))
    }
    assert(ex2.getMessage.contains("vector count"))
  }

  // ---- Session-scoped online retrieval ------------------------------------

  test("SessionIndex: ingest → scoped search → expiry lifecycle") {
    val wh = java.nio.file.Files.createTempDirectory("graft-session").toString
    val store = new SnapshotStore(wh)
    val si = new SessionIndex(store)

    assert(si.ingestMessage("", "s1").chunks == 0) // blank → no-op
    val r1 = si.ingestMessage(
      "The deploy pipeline uses canary rollouts. Rollbacks are automatic.",
      "s1", role = "user", nowMillis = 1000L)
    assert(r1.chunks >= 1 && r1.concepts == 0 && r1.edges == 0)
    si.ingestMessage("Databases use snapshot isolation for reads.",
      "s2", role = "assistant", nowMillis = 2000L)
    // invalid role indexes as "unknown" (service.py:737-742)
    si.ingestMessage("Weird role content.", "s2", role = "hacker", nowMillis = 2000L)
    assert(store.read("session_chunks").filter(col("role") === "unknown").count() >= 1)

    // search is session-scoped: s1's query never sees s2's chunks
    val hits = si.search("s1", "canary deploy rollouts", topK = 3, nowMillis = 3000L)
      .collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getString(0).startsWith("s1:")))
    assert(hits.exists(_.getString(2).contains("canary")))

    // expire s1: its vectors and chunks are gone, s2 untouched
    si.expire("s1")
    assert(si.index.read().filter(col("id").startsWith("s1:")).count() == 0)
    assert(store.read("session_chunks").filter(col("session_id") === "s1").count() == 0)
    assert(si.index.read().filter(col("id").startsWith("s2:")).count() >= 1)
    assert(!si.liveSessions.contains("s1") && si.liveSessions.contains("s2"))

    // idle expiry with the injected clock
    val expired = si.expireIdle(maxIdleMillis = 500L, nowMillis = 10000L)
    assert(expired == Seq("s2"))
    assert(si.index.count() == 0)
  }

  // ---- C4 / Gopher web-corpus gates --------------------------------------

  test("c4LineClean keeps terminal-punctuation lines and gates the page") {
    val docs = Seq(
      (1L, "This is a good sentence with enough words here.\nshort.\n" +
        "Another quality sentence ends with punctuation mark!\n" +
        "Please enable javascript to view this content now.\n" +
        "A third full sentence survives the line filter today."),
      (2L, "Lorem ipsum dolor sit amet consectetur adipiscing elit now.\n" +
        "Another quality sentence ends with punctuation mark!\n" +
        "A third full sentence survives the line filter today."),
      (3L, "var config = { mode: 1 }\n" +
        "One good sentence that would otherwise keep this page alive.\n" +
        "Second good sentence that would keep the page alive too.\n" +
        "Third good sentence that keeps the page alive as well.")
    ).toDF("doc_id", "text")
    val out = Curation.c4LineClean(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 5 lines; "short." (<5 words) and the javascript line drop
    assert(out(1L).getInt(1) == 5 && out(1L).getInt(2) == 3)
    assert(out(1L).getBoolean(3))
    assert(out(1L).getString(4) ==
      "This is a good sentence with enough words here.\n" +
        "Another quality sentence ends with punctuation mark!\n" +
        "A third full sentence survives the line filter today.")
    // doc 2: lines survive individually but "lorem ipsum" kills the page
    assert(out(2L).getInt(2) == 3 && !out(2L).getBoolean(3))
    // doc 3: '{' kills the page; the code line also fails the line rules
    assert(out(3L).getInt(2) == 3 && !out(3L).getBoolean(3))
  }

  test("gopherQuality passes clean prose and fails short/symbol-heavy docs") {
    val sentence = "the quick brown fox jumps over and around the lazy dog today "
    val docs = Seq(
      (1L, sentence * 5),                                  // 60 clean words
      (2L, "short text here."),                            // too few words
      (3L, sentence * 5 + "### ### ### ### ### ### ###")   // symbol-heavy
    ).toDF("doc_id", "text")
    val out = Curation.gopherQuality(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 60 && out(1L).getBoolean(8))
    assert(out(2L).getInt(1) == 3 && !out(2L).getBoolean(8))
    val r3 = out(3L)
    assert(r3.getDouble(3) > 0.1 && !r3.getBoolean(8)) // symbol_ratio trips
  }

  test("gopherRepetition measures dup lines/paragraphs by count and char mass") {
    val docs = Seq(
      (1L, "alpha beta\ngamma delta\nalpha beta\n\ngamma delta epsilon"),
      (2L, "one two three\n\none two three"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Curation.gopherRepetition(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 4 lines, 3 distinct → 0.25 by count; 10/50 = 0.2 by mass
    assert(out(1L).getInt(1) == 4 && out(1L).getInt(2) == 3)
    assert(out(1L).getDouble(3) == 0.25 && out(1L).getDouble(4) == 0.2)
    assert(out(1L).getInt(5) == 2 && out(1L).getInt(6) == 2)
    assert(out(1L).getDouble(7) == 0.0 && out(1L).getBoolean(9))
    // doc 2: a fully duplicated paragraph (and line) → fails both axes
    assert(out(2L).getDouble(3) == 0.5 && out(2L).getDouble(7) == 0.5)
    assert(!out(2L).getBoolean(9))
    // doc 3: empty → all-zero signals, vacuously passes
    assert(out(3L).getInt(1) == 0 && out(3L).getBoolean(9))
  }

  test("dedupParagraphs keeps first occurrences in original order") {
    val docs = Seq(
      (1L, "header\n\nbody one\n\nheader\n\nbody two\n\nheader"),
      (2L, "only paragraph"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 5 && out(1L).getInt(2) == 3)
    assert(out(1L).getString(3) == "header\n\nbody one\n\nbody two")
    assert(out(2L).getInt(1) == 1 && out(2L).getString(3) == "only paragraph")
    assert(out(3L).getInt(1) == 0 && out(3L).getString(3) == "")
  }

  test("resampleSources: rate-0 drops all, rate-1000 keeps all, stable under repartition") {
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}"))
      .toDF("doc_id", "source")
    val rates = Map("src0" -> 0, "src1" -> 1000, "src2" -> 500)
    def keepSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Sampling.resampleSources(df, rates, defaultPermille = 800)
        .filter(col("keep_mix")).select("doc_id").as[Long].collect().toSet
    val kept = keepSet(docs)
    assert(!kept.exists(_ % 4 == 0))                  // src0: rate 0
    assert((1L until 400L by 4).forall(kept.contains)) // src1: rate 1000
    val src2Kept = kept.count(_ % 4 == 2)
    assert(src2Kept > 20 && src2Kept < 80)            // src2: ~half of 100
    // pure function of the row: identical keep set at any partitioning
    assert(keepSet(docs.repartition(7)) == kept)
  }

  test("text gates are CRLF-tolerant (crawled HTML is often \\r\\n)") {
    val crlf = "This is a good sentence with enough words here.\r\n" +
      "Another quality sentence ends with punctuation mark!\r\n" +
      "A third full sentence survives the line filter today."
    val c4 = Curation.c4LineClean(Seq((1L, crlf)).toDF("doc_id", "text"))
      .collect().head
    // a literal-\n split would leave trailing \r on every line and fail
    // the terminal-punctuation anchor → n_kept 0; CRLF must keep all 3
    assert(c4.getInt(1) == 3 && c4.getInt(2) == 3 && c4.getBoolean(3))
    assert(!c4.getString(4).contains("\r"))

    val rep = Curation.gopherRepetition(
      Seq((1L, "alpha beta\r\ngamma delta\r\nalpha beta\r\n\r\nomega end"))
        .toDF("doc_id", "text")).collect().head
    assert(rep.getInt(1) == 4 && rep.getInt(2) == 3)   // dup line seen
    assert(rep.getInt(5) == 2)                          // two paragraphs

    val dp = Curation.dedupParagraphs(
      Seq((1L, "header\r\n\r\nbody\r\n\r\nheader")).toDF("doc_id", "text"))
      .collect().head
    assert(dp.getInt(1) == 3 && dp.getInt(2) == 2)
    assert(dp.getString(3) == "header\n\nbody")

    // MIXED endings: the same multi-line paragraph duplicated once with
    // CRLF and once with LF must still compare equal (endings are
    // normalized before the split, not just tolerated at split points)
    val mixed = Curation.dedupParagraphs(
      Seq((1L, "line1\r\nline2\n\nline1\nline2")).toDF("doc_id", "text"))
      .collect().head
    assert(mixed.getInt(1) == 2 && mixed.getInt(2) == 1)
    assert(mixed.getString(3) == "line1\nline2")
    val mixedRep = Curation.gopherRepetition(
      Seq((1L, "line1\r\nline2\n\nline1\nline2")).toDF("doc_id", "text"))
      .collect().head
    assert(mixedRep.getInt(5) == 2 && mixedRep.getInt(6) == 1)
  }

  test("VectorMigrate rejects a transform that collides or re-keys ids") {
    val wh = java.nio.file.Files.createTempDirectory("graft-migrate-dup").toString
    val store = new SnapshotStore(wh)
    val src = new VectorIndex(store, "vi_src2")
    val dst = new VectorIndex(store, "vi_dst2")
    src.upsert(Seq(("a", vecOf(1)), ("b", vecOf(2)))
      .toDF("id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>")))
    // id collision: same row count, one destination vector silently lost
    val collide = intercept[IllegalArgumentException] {
      VectorMigrate.migrate(src, dst,
        transform = df => df.withColumn("id", lit("a")))
    }
    assert(collide.getMessage.contains("duplicate ids") ||
      collide.getMessage.contains("re-keyed"))
    // re-key to ids outside the source set
    val rekey = intercept[IllegalArgumentException] {
      VectorMigrate.migrate(src, dst,
        transform = df => df.withColumn("id", concat(col("id"), lit("-x"))))
    }
    assert(rekey.getMessage.contains("re-keyed"))
    assert(dst.count() == 0) // nothing written by either failed migration
  }

  test("VectorMigrate rejects a null embedding before writing anything") {
    val wh = java.nio.file.Files.createTempDirectory("graft-migrate-null").toString
    val store = new SnapshotStore(wh)
    val src = new VectorIndex(store, "vi_src3")
    val dst = new VectorIndex(store, "vi_dst3")
    src.upsert(Seq(("a", Some(vecOf(1))), ("b", None), ("c", Some(vecOf(3))))
      .toDF("id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>")))
    val ex = intercept[IllegalArgumentException](VectorMigrate.migrate(src, dst, expectDim = Some(4)))
    assert(ex.getMessage.contains("1 vector(s) have a null embedding"))
    assert(dst.count() == 0)
  }

  test("VectorMigrate rejects a source listing an id twice, naming it as such") {
    val wh = java.nio.file.Files.createTempDirectory("graft-migrate-dupsrc").toString
    val dst = new VectorIndex(new SnapshotStore(wh), "vi_dst4")
    val rows = Seq(("a", vecOf(1)), ("a", vecOf(2)), ("b", vecOf(3)))
      .toDF("id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // a count taken after the join with the source read 5 rows here and
    // blamed the transform for changing the vector count
    val ex = intercept[IllegalArgumentException](
      VectorMigrate.migrateRows(rows, dst, identity, None, dryRun = false))
    assert(ex.getMessage.contains("duplicate or null ids (3 rows, 2 distinct ids)"))
    assert(dst.count() == 0)
  }

  test("session messages sharing a 64-char prefix keep distinct vectors") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sess-prefix").toString
    val si = new SessionIndex(new SnapshotStore(wh))
    // chunkId hashes (sourceId, idx, text.take(64)) — these two messages
    // agree on their first 64 chars, so without the per-message sequence
    // in sourceId the second upsert would overwrite the first
    val p = "Please summarize the following document carefully and completely today: "
    si.ingestMessage(p + "alpha body", "sx", nowMillis = 1L)
    si.ingestMessage(p + "omega body", "sx", nowMillis = 2L)
    assert(si.index.read().filter(col("id").startsWith("sx:")).count() == 2)
    val texts = si.search("sx", p, topK = 5).select("text")
      .as[String].collect().toSet
    assert(texts.exists(_.contains("alpha")) && texts.exists(_.contains("omega")))
  }

  test("SparkEntry.entry (driver smoke surface) returns triples") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("session search and expire on a fresh store are empty no-ops, not errors") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sess-empty").toString
    val si = new SessionIndex(new SnapshotStore(wh))
    assert(si.search("nobody", "anything").count() == 0)
    si.expire("nobody") // must not throw on a never-committed index
  }
}
