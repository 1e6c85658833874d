package graft

import graft.fixtures.PagesGen
import graft.link.Linking
import graft.oracle.SeqOracle
import graft.pipeline.Ingest
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** End-to-end gates (BASELINE.md targets):
  *  - triple P/R ≥ 0.95 vs the sequential oracle (here: exactly 1.0)
  *  - byte-identical extracted text per url (sha256 comparison)
  *  - resume: a two-phase ingest equals an uninterrupted one
  */
class PipelineSuite extends SparkFunSuite {
  import spark.implicits._

  private val N = 120L

  test("triple P/R vs sequential oracle is 1.0 on the tiny corpus") {
    val triples = Ingest.triplesOf(Ingest.extract(PagesGen.pages(spark, N), Ingest.Config()).toDF())
      .select("subj", "pred", "obj").distinct()
      .as[(String, String, String)].collect().toSet
    val oracle = SeqOracle.run(N)
    val (p, r) = SeqOracle.precisionRecall(triples, oracle.triples)
    assert(p == 1.0, s"precision $p")
    assert(r == 1.0, s"recall $r")
  }

  test("byte-identical text per url: pipeline sha256 == oracle sha256") {
    val pipelineSha = Ingest.extract(PagesGen.pages(spark, N), Ingest.Config())
      .select("url", "text_sha256").as[(String, String)].collect().toMap
    val oracle = SeqOracle.run(N)
    assert(pipelineSha == oracle.textSha)
  }

  test("resume: two-phase ingest (kill between snapshots) equals uninterrupted run") {
    val whA = java.nio.file.Files.createTempDirectory("graft-resume-a").toString
    val whB = java.nio.file.Files.createTempDirectory("graft-resume-b").toString
    val pages = PagesGen.pages(spark, N)
    val days = pages.select("day").distinct().as[String].collect().sorted

    // A: uninterrupted
    Ingest.run(pages, new SnapshotStore(whA))
    // B: first only half the days (simulating the state after a kill —
    // committed snapshots for some partitions), then the full input
    val storeB = new SnapshotStore(whB)
    Ingest.run(pages.filter(col("day").isin(days.take(2).toSeq: _*)), storeB)
    val processedSecond = Ingest.run(pages, storeB)
    assert(processedSecond == days.length - 2, "only uncommitted partitions reprocess")

    def table(wh: String, t: String): Set[String] =
      new SnapshotStore(wh).read(t).collect().map(_.toString).toSet
    for (t <- Seq("pages_text", "extractions", "concepts", "edges", "canon_map"))
      assert(table(whA, t) == table(whB, t), s"table $t differs after resume")
  }

  test("lineage rows cover every input partition with extraction counters") {
    val wh = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val store = new SnapshotStore(wh)
    Ingest.run(PagesGen.pages(spark, N), store)
    val lineage = store.read("lineage")
    val parts = lineage.select("input_partition").as[String].collect().toSet
    assert(parts.size == 4)
    assert(lineage.filter(col("docs") <= 0).count() == 0)
    assert(lineage.filter(col("triples_raw") <= 0).count() == 0)
  }

  test("snapshot isolation: orphan batch dirs from a killed write are invisible") {
    val wh = java.nio.file.Files.createTempDirectory("graft-orphan").toString
    val store = new SnapshotStore(wh)
    Ingest.run(PagesGen.pages(spark, N), store)
    val before = store.read("concepts").count()
    // simulate a killed run: data directory written but no snapshot commit
    val orphan = new java.io.File(s"$wh/concepts/data/batch=99999")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("garbage.parquet"), "not parquet")
    assert(store.read("concepts").count() == before)
  }

  /** A column as "name type", with " not null" where the column, an array
    * element or a map value cannot be null; struct fields nest the same way.
    */
  private def render(name: String, t: DataType, nullable: Boolean): String =
    s"$name ${typeOf(t)}${if (nullable) "" else " not null"}"
  private def typeOf(t: DataType): String = t match {
    case s: StructType => s.fields.map(f => render(f.name, f.dataType, f.nullable)).mkString("struct<", ", ", ">")
    case a: ArrayType => s"array<${typeOf(a.elementType)}${if (a.containsNull) "" else " not null"}>"
    case m: MapType => s"map<${typeOf(m.keyType)}, ${typeOf(m.valueType)}${if (m.valueContainsNull) "" else " not null"}>"
    case other => other.simpleString
  }

  test("schemas of every table Ingest.run commits") {
    val expected: Map[String, Seq[String]] = Map(
      // one row per page (Ingest.PageExtraction): mentions as
      // packages/qortex-online/src/qortex/online/extractor.py:35-41 (chunk_id
      // is sha256(source:idx:head64)[0,16), chunker.py:71-82), triples as
      // extractor.py:44-51 (ExtractedRelation) plus provenance
      "extractions" -> Seq("url string", "day string", "text_sha256 string", "n_chars bigint",
        "n_chunks int",
        "mentions array<struct<chunk_id string, name string, description string, confidence double, " +
          "role string, illustrates string>>",
        "triples array<struct<chunk_id string, subj string, pred string, obj string, " +
          "confidence double, sentence string>>",
        "aliases array<struct<name_a string, name_b string>>", "rule_sentences array<string>",
        "code_blocks array<struct<code string, language string, description string, " +
          "is_antipattern boolean, names array<string>>>"),
      "pages_text" -> Seq("url string", "day string", "text_sha256 string", "n_chars bigint",
        "n_chunks int"),
      // our Iceberg-style per-partition lineage (SURVEY.md §7.4)
      "lineage" -> Seq("input_partition string", "docs bigint", "chunks bigint", "mentions bigint",
        "triples_raw bigint", "wall_ms bigint", "extractor_version string"),
      // src/qortex/core/models.py:77-89 (ConceptEdge) plus the pruning tags:
      // strength strong | weak (pruning.py:386-388), layer structural | causal
      // (pruning.py:317-326)
      "edges_tagged" -> Seq("target_id string", "source_id string", "relation_type string",
        "confidence double", "bidirectional boolean", "source_text string", "source_location string",
        "extractor_version string", "drop_reason string", "strength string", "__dups bigint",
        "layer string"),
      // src/qortex/core/models.py:55-74 (ConceptNode), id "{domain}:{Name}"
      // (ingest/base.py:174); properties (models.py:69) carries the E10
      // reconciliation outputs
      "concepts" -> Seq("id string", "name string", "description string", "domain string",
        "source_id string", "source_location string", "confidence double", "mention_count bigint",
        "embedding array<float>", "embedding_model string", "extractor_version string",
        "properties map<string, string>", "canonical_id string"),
      // the survivors of edges_tagged, without drop_reason and __dups
      "edges" -> Seq("target_id string", "source_id string", "relation_type string",
        "confidence double", "bidirectional boolean", "source_text string", "source_location string",
        "extractor_version string", "strength string", "layer string"),
      "canon_map" -> Seq("id string", "canonical_id string"),
      // src/qortex/core/models.py:122-143 (ExplicitRule)
      "rules" -> Seq("id string", "text string", "domain string", "source_id string",
        "concept_ids array<string>", "category string", "confidence double", "template_id string",
        "severity string"),
      // models.py:91-119 (CodeExample)
      "code_examples" -> Seq("id string", "code string", "language string", "description string",
        "source_location string", "concept_ids array<string>", "is_antipattern boolean"),
      // drop counters per reason, as src/qortex/core/pruning.py:160-201
      "lineage_prune" -> Seq("reason string", "n bigint"))
    val wh = java.nio.file.Files.createTempDirectory("graft-schemas").toString
    val store = new SnapshotStore(wh)
    Ingest.run(PagesGen.pages(spark, N), store)
    assert(new java.io.File(wh).list().toSet == expected.keySet)
    for ((table, columns) <- expected)
      assert(store.read(table).schema.fields.toSeq.map(f => render(f.name, f.dataType, f.nullable)) == columns,
        s"table $table")
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
}
