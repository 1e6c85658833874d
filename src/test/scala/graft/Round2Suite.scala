package graft

import graft.extract.{CodeExamples, DetExtractor}
import graft.link.Linking
import graft.ops.Dedup
import graft.pipeline.Ingest
import graft.rules.Rules
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._

/** Round-2 features: E10 two-pass reconciliation + properties, template
  * registry selection, code-example extraction, snapshot time travel, LSH
  * bucket caps, glob filters, knowledge stats, drift, the vector index and
  * the structured-source modality.
  */
class Round2Suite extends SparkFunSuite {
  import spark.implicits._

  // ---- E10: illustrative mention tagging (extract side) ----

  test("E10: 'such as' mention is illustrative of the nearest preceding mention") {
    val s = "Auth Module offers integrations such as Key Vault in production."
    val ms = DetExtractor.detectMentions(s, DetExtractor.tokens(s))
    val kv = ms.find(_.name == "Key Vault").get
    assert(kv.role == "illustrative" && kv.illustrates == "Auth Module")
    assert(ms.find(_.name == "Auth Module").get.role == "generalizable")
  }

  test("E10: sentence-initial 'For example' mention is an orphan (no parent)") {
    val s = "For example Zephyr Ledger handles overflow gracefully."
    val ms = DetExtractor.detectMentions(s, DetExtractor.tokens(s))
    val z = ms.find(_.name == "Zephyr Ledger").get
    assert(z.role == "illustrative" && z.illustrates == null)
  }

  // ---- E10: buildConcepts reconciliation (link side, base.py:159-223) ----

  private def mentionRows(rows: (String, String, String, String, Double, String, String)*) =
    rows.toSeq.toDF("url", "day", "chunk_id", "name", "confidence__", "role", "illustrates")
      .withColumnRenamed("confidence__", "confidence")
      .select(col("url"), col("day"), col("chunk_id"), col("name"),
        concat(lit("d:"), col("name")).as("description"),
        col("confidence").cast("double"), col("role"), col("illustrates"))

  test("E10: illustrative mentions attach to parent properties[examples]") {
    val m = mentionRows(
      ("u1", "d", "c1", "Auth Module", 0.9, "generalizable", null),
      ("u1", "d", "c1", "Key Vault", 0.9, "illustrative", "Auth Module"),
      ("u2", "d", "c2", "Token Bucket", 0.7, "illustrative", "auth module"))
    val c = Linking.buildConcepts(m, "web", "v1")
    assert(c.count() == 1) // only the parent becomes a concept
    val props = c.select(col("properties")("examples")).as[String].head()
    assert(props.contains("\"Key Vault\"") && props.contains("\"Token Bucket\""))
    assert(props.contains("\"source_location\":\"c1\""))
  }

  test("E10: orphan illustrative becomes a tagged concept; existing name wins") {
    val m = mentionRows(
      ("u1", "d", "c1", "Auth Module", 0.9, "generalizable", null),
      ("u1", "d", "c1", "Ghost Feature", 0.7, "illustrative", "Unknown Parent"),
      ("u2", "d", "c2", "Auth Module", 0.7, "illustrative", "Other Unknown"))
    val c = Linking.buildConcepts(m, "web", "v1")
    assert(c.count() == 2) // Auth Module (generalizable wins) + Ghost Feature orphan
    val ghost = c.filter(col("name") === "Ghost Feature")
    val (role, ill) = ghost.select(col("properties")("concept_role"),
      col("properties")("illustrates")).as[(String, String)].head()
    assert(role == "illustrative" && ill == "Unknown Parent")
    // the illustrative "Auth Module" mention must NOT demote the concept
    val auth = c.filter(col("name") === "Auth Module")
    assert(auth.select("confidence").as[Double].head() == 0.9)
  }

  // ---- template registry (core/templates.py:33-437) ----

  test("template registry: 3 variants for every relation type, distinct ids") {
    val byType = Rules.templateRegistry.groupBy(_.relationType)
    assert(graft.core.RelationTypes.all.forall(rt => byType(rt).size == 3))
    assert(Rules.templateRegistry.map(_.id).distinct.size == Rules.templateRegistry.size)
  }

  test("template selection: category hint picks the matching variant, else default") {
    val anti = Rules.selectTemplate("CONTRADICTS", Some("antipattern")).get
    assert(anti.variant == "avoidance" && anti.category == "antipattern")
    val default = Rules.selectTemplate("CONTRADICTS", None).get
    assert(default.variant == "incompatibility")
    val missing = Rules.selectTemplate("CONTRADICTS", Some("no-such-category")).get
    assert(missing.variant == "incompatibility") // falls back to default
  }

  test("derivedRules: one rule per unique (source,target) pair; hint switches text") {
    val edges = Seq(
      ("web:A", "web:B", "CONTRADICTS", 0.9),
      ("web:A", "web:B", "USES", 0.7), // same pair, lower confidence — deduped
      ("web:B", "web:C", "USES", 0.8)
    ).toDF("source_id", "target_id", "relation_type", "confidence")
    val concepts = Seq(("web:A", "A"), ("web:B", "B"), ("web:C", "C")).toDF("id", "name")
    val default = Rules.derivedRules(edges, concepts, "web")
    assert(default.count() == 2) // unique pairs invariant (flat.py:109-112)
    val hinted = Rules.derivedRules(edges, concepts, "web", Some("antipattern"))
    val textOf = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("template_id").startsWith("contradicts")).select("text").as[String].head()
    assert(textOf(default) != textOf(hinted))
    assert(hinted.filter(col("category") === "antipattern").count() == 2)
  }

  // ---- code examples (models.py:91-119; anthropic.py:385-454) ----

  test("code examples: fenced blocks with language, description, antipattern flag") {
    val text = Seq(
      "The following example shows Auth Module usage reliably.",
      "```python",
      "client = connect(\"auth_module\")",
      "client.retry(3)",
      "```",
      "Do not copy this bad example for Key Vault.",
      "```",
      "x = 1",
      "```",
      "```python",
      "unterminated block is ignored").mkString("\n")
    val blocks = CodeExamples.extractBlocks(text)
    assert(blocks.size == 2)
    assert(blocks(0).language == "python" && !blocks(0).is_antipattern)
    assert(blocks(0).code == "client = connect(\"auth_module\")\nclient.retry(3)")
    assert(blocks(0).names == Seq("auth module"))
    assert(blocks(1).language == "unknown" && blocks(1).is_antipattern)
    assert(blocks(1).names == Seq("key vault"))
  }

  test("codeExamplesOf: concept linking + deterministic ids") {
    val ex = Ingest.extract(graft.fixtures.PagesGen.pages(spark, 120), Ingest.Config()).toDF()
    val concepts = Linking.buildConcepts(Ingest.mentionsOf(ex), "web", "v1")
    val ce = Ingest.codeExamplesOf(ex, concepts, "web")
    assert(ce.count() > 0)
    assert(ce.filter(col("is_antipattern")).count() > 0)
    assert(ce.filter(size(col("concept_ids")) > 0).count() > 0)
    assert(ce.filter(!col("id").startsWith("web:example:")).count() == 0)
  }

  // ---- snapshot store: time travel / rollback / expire / recovery ----

  test("snapshot time travel, rollback, diff and expire") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val store = new SnapshotStore(dir)
    store.commitAppend("t", Seq((1, "a")).toDF("k", "v"), Seq("p1"))
    store.commitAppend("t", Seq((2, "b")).toDF("k", "v"), Seq("p2"))
    assert(store.read("t").count() == 2)
    assert(store.read("t", 0L).count() == 1) // time travel to v0
    val (added, removed) = store.diff("t", 0L, 1L)
    assert(added == Seq("batch=00001") && removed.isEmpty)

    store.rollback("t", 0L) // new snapshot v2 with v0's content
    assert(store.read("t").count() == 1)
    assert(store.latest("t").get.id == 2L)
    // resume-after-rollback converges: appending p2 again is allowed because
    // v2 carries v0's inputPartitions
    assert(!store.ingestedPartitions("t").contains("p2"))

    // orphan batch dir from a killed write + expiry of old snapshots
    val orphan = new java.io.File(s"$dir/t/data/batch=99999"); orphan.mkdirs()
    val removedDirs = store.expire("t", keepLast = 1)
    assert(removedDirs.contains("batch=99999"))
    assert(store.read("t").count() == 1) // latest still readable
  }

  test("latest() recovers from max manifest when LATEST pointer is missing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rec").toString
    val store = new SnapshotStore(dir)
    store.commitAppend("t", Seq((1, "a")).toDF("k", "v"), Seq("p1"))
    store.commitAppend("t", Seq((2, "b")).toDF("k", "v"), Seq("p2"))
    new java.io.File(s"$dir/t/_snapshots/LATEST").delete()
    assert(store.latest("t").get.id == 1L)
    assert(store.read("t").count() == 2)
    // and the next commit continues the id sequence instead of restarting
    store.commitAppend("t", Seq((3, "c")).toDF("k", "v"), Seq("p3"))
    assert(store.latest("t").get.id == 2L)
  }

  test("manifest JSON escape/unescape round-trips hostile strings") {
    val hostile = Seq("plain", "back\\slash", "qu\"ote", "new\nline",
      "tab\there", "ctrl\u0001char", "mix\\\"\n\u0002")
    val dir = java.nio.file.Files.createTempDirectory("graft-esc").toString
    val store = new SnapshotStore(dir)
    store.commitAppend("t", Seq((1, "a")).toDF("k", "v"), hostile)
    assert(store.ingestedPartitions("t") == hostile.toSet)
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

  // ---- F5 glob filter / A7 knowledge stats / A5 drift / S7 vector index --

  test("F5: glob name filter — '*' and '?' expand, other chars literal") {
    val df = Seq("Auth Module", "Oauth2 Tokens", "Key Vault", "auth(x)")
      .map(Tuple1(_)).toDF("name")
    import graft.query.Service
    assert(Service.filterByNameGlob(df, "*auth*").count() == 3) // case-insensitive
    assert(Service.filterByNameGlob(df, "Auth M?dule").as[String].head() == "Auth Module")
    assert(Service.filterByNameGlob(df, "auth(x)").count() == 1) // parens literal
    assert(Service.filterByNameGlob(df, "Key").count() == 0) // full match, not substring
  }

  test("A7: knowledgeStats per-domain counts with edge domain from id prefix") {
    val concepts = Seq(("web:A", "web"), ("web:B", "web"), ("db:C", "db"))
      .toDF("id", "domain")
    val edges = Seq(("web:A", "web:B"), ("db:C", "db:C")).toDF("source_id", "target_id")
    val rules = Seq(("r1", "web")).toDF("id", "domain")
    val stats = graft.query.Service.knowledgeStats(concepts, edges, rules)
      .orderBy("domain").as[(String, Long, Long, Long)].collect().toSeq
    assert(stats == Seq(("db", 1L, 1L, 0L), ("web", 2L, 1L, 1L)))
  }

  test("A5: factor drift snapshot matches hand-computed entropy") {
    val factors = Seq(("a", 0.5), ("b", 1.0), ("c", 2.5)).toDF("node_id", "factor")
    val row = graft.streaming.EdgePromotion.factorDriftSnapshot(factors)
      .as[(Long, Double, Double, Double, Long, Long, Double)].head()
    val (count, mean, mn, mx, boosted, penalized, entropy) = row
    assert(count == 3 && mn == 0.5 && mx == 2.5 && boosted == 1 && penalized == 1)
    assert(math.abs(mean - 4.0 / 3.0) < 1e-12)
    val t = 4.0
    val expected = -Seq(0.5, 1.0, 2.5).map(_ / t).map(p => p * math.log(p) / math.log(2)).sum
    assert(math.abs(entropy - expected) < 1e-9)
  }

  test("S7: vector index upsert overwrites, remove drops, search ranks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vi").toString
    val store = new SnapshotStore(dir)
    val vi = new graft.query.VectorIndex(store)
    val v1 = Array(1.0f, 0.0f, 0.0f)
    val v2 = Array(0.0f, 1.0f, 0.0f)
    val v3 = Array(0.9f, 0.1f, 0.0f)
    vi.upsert(Seq(("a", v1), ("b", v2)).toDF("id", "embedding"))
    assert(vi.count() == 2)
    vi.upsert(Seq(("b", v3)).toDF("id", "embedding")) // overwrite b
    assert(vi.count() == 2)
    val top = vi.search(v1, topK = 2).as[(String, Double)].collect().toSeq
    assert(top.map(_._1) == Seq("a", "b")) // b now near v1 via v3
    assert(top.head._2 > 0.999 && top(1)._2 > 0.9)
    vi.remove(Seq("a").toDF("id"))
    assert(vi.count() == 1)
    // index history is snapshotted: the pre-remove state is still readable
    // (resolved through the merge-on-read view, latest-wins per id)
    assert(vi.asOf(1L).count() == 2)
  }

  // ---- structured/DB source modality (S8/S9, J8, F6–F8) ----

  test("F6/F7: natural-language row serialization skips internals, formats values") {
    import graft.sources.Structured
    val df = Seq(
      (1L, "Widget", "Does things", 2.5, true, "2020-01-01", 7L)
    ).toDF("id", "name", "description", "weight", "active", "created_at", "owner_id")
    val text = df.select(Structured.serializeNatural(df, "food_items").as("t"))
      .as[String].head()
    assert(text == "A food item named 'Widget' Does things with weight: 2.5, active: yes")
    val kv = df.select(Structured.serializeKeyValue(df, "food_items").as("t"))
      .as[String].head()
    assert(kv == "table=food_items, name=Widget, description=Does things, " +
      "weight=2.5, active=yes")
  }

  test("J8: FK classification priority order (mapping_rules.py:38-81)") {
    import graft.sources.Structured
    val cases = Seq(
      // (source_column, on_delete, table, nFks, nNonKey, expected)
      ("owner_id", "NO ACTION", "posts", 1, 5, "BELONGS_TO"),
      ("post_id", "NO ACTION", "post_tags", 2, 0, "USES"), // junction suffix
      ("a_id", "NO ACTION", "pairs", 2, 1, "USES"), // 2 FKs, ≤2 non-key cols
      ("parent_id", "CASCADE", "items", 1, 5, "PART_OF"),
      ("meal_template_id", "NO ACTION", "meals", 1, 5, "INSTANCE_OF"),
      ("other_id", "NO ACTION", "things", 1, 5, "PART_OF"))
    val df = cases.toDF("c", "d", "t", "nf", "nk", "expected")
    val got = df.select(col("expected"),
      Structured.classifyFk(col("c"), col("d"), col("t"), col("nf"), col("nk")).as("got"))
    assert(got.filter(col("expected") =!= col("got")).count() == 0)
  }

  test("F8/S9: schema metadata → concepts, typed edges, constraint rules") {
    import graft.sources.Structured
    val tables = Seq(
      ("users", Seq("id", "name", "email"), Seq("id")),
      ("posts", Seq("id", "title", "user_id", "created_at"), Seq("id"))
    ).toDF("table_name", "columns", "pk_columns")
    val fks = Seq(("posts", "user_id", "users", "NO ACTION"))
      .toDF("table_name", "source_column", "ref_table", "on_delete")
    val constraints = Seq(("posts", "posts_title_check", "((length(title) > 0))"))
      .toDF("table_name", "constraint_name", "check_clause")
    val (concepts, edges, rules) = Structured.schemaToKg(tables, fks, constraints, "db")
    assert(concepts.count() == 2)
    assert(concepts.filter(col("id") === "db:User").count() == 1) // singularized + titled
    val e = edges.as[(String, String, String, Double, String)].head()
    assert(e._1 == "db:Post" && e._2 == "db:User" && e._3 == "BELONGS_TO")
    val r = rules.select("text", "category").as[(String, String)].head()
    assert(r == (("In posts, length(title) > 0", "constraint")))
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
