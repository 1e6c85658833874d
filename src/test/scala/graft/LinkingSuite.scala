package graft

import graft.link.Linking
import org.apache.spark.sql.functions._

class LinkingSuite extends SparkFunSuite {
  import spark.implicits._

  private lazy val mentions = Seq(
    ("u1", "d1", "c1", "Auth Module", "Named entity: Auth Module", 0.9),
    ("u1", "d1", "c1", "Session Store", "Named entity: Session Store", 0.9),
    ("u2", "d1", "c2", "auth module", "Noun phrase: auth module", 0.7),
    ("u2", "d1", "c2", "Key Vault", "Named entity: Key Vault", 0.9)
  ).toDF("url", "day", "chunk_id", "name", "description", "confidence")

  private lazy val triples = Seq(
    ("Auth Module", "REQUIRES", "Session Store", 0.75, "u1", "d1", "c1", "evidence one", "v"),
    ("auth module", "USES", "Key Vault", 0.75, "u2", "d1", "c2", "evidence two", "v"),
    ("Ghost Entity", "USES", "Key Vault", 0.75, "u3", "d1", "c3", "evidence three", "v")
  ).toDF("subj", "pred", "obj", "confidence", "url", "day", "chunk_id", "sentence",
    "extractor_version")

  test("buildConcepts: case-insensitive grouping, max confidence, mention counts") {
    val c = Linking.buildConcepts(mentions, "web", "v1")
    assert(c.count() == 3)
    val auth = c.filter($"name" === "Auth Module")
      .select("id", "confidence", "mention_count")
      .as[(String, Double, Long)].head()
    assert(auth == (("web:Auth Module", 0.9, 2L)))
  }

  test("resolveEdges broadcast path: both endpoints must resolve (J2 validation)") {
    val concepts = Linking.buildConcepts(mentions, "web", "v1")
    val edges = Linking.resolveEdges(triples, concepts)
      .select("source_id", "target_id", "relation_type")
      .as[(String, String, String)].collect().toSet
    assert(edges == Set(
      ("web:Auth Module", "web:Session Store", "REQUIRES"),
      ("web:Auth Module", "web:Key Vault", "USES"))) // Ghost Entity dropped
  }

  test("resolveEdges salted path produces identical results to broadcast") {
    val concepts = Linking.buildConcepts(mentions, "web", "v1")
    val bcast = Linking.resolveEdges(triples, concepts).collect().map(_.toString).toSet
    val salted = Linking.resolveEdges(triples, concepts, broadcastMaxRows = 0L, saltBuckets = 4)
      .collect().map(_.toString).toSet
    assert(bcast == salted)
  }

  test("dictSizeHint skips the sizing count but picks the same plan") {
    val concepts = Linking.buildConcepts(mentions, "web", "v1")
    val hinted = Linking.resolveEdges(triples, concepts, dictSizeHint = Some(3L))
      .collect().map(_.toString).toSet
    val counted = Linking.resolveEdges(triples, concepts).collect().map(_.toString).toSet
    assert(hinted == counted)
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
}
