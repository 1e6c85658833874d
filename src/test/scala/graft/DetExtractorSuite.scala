package graft

import graft.extract.{CodeExamples, DetExtractor}
import org.scalatest.funsuite.AnyFunSuite

class DetExtractorSuite extends AnyFunSuite {

  test("mention detection: multiword capitalized runs are entity-like (conf 0.9)") {
    val ex = DetExtractor.extract("the Auth Module handles everything smoothly today.")
    val m = ex.mentions.find(_.name == "Auth Module")
    assert(m.isDefined)
    assert(m.get.confidence == 0.9)
    assert(m.get.description.startsWith("Named entity:"))
  }

  test("mention detection: single capitalized token is noun-phrase-like (conf 0.7)") {
    val ex = DetExtractor.extract("we rely on Redis across the regional deployments daily.")
    val m = ex.mentions.find(_.name == "Redis")
    assert(m.isDefined)
    assert(m.get.confidence == 0.7)
    assert(m.get.description.startsWith("Noun phrase:"))
  }

  test("sentence-initial lone stopword/verb capitalization carries no signal") {
    val ex = DetExtractor.extract("The system keeps running. Uses of caching vary widely.")
    assert(!ex.mentions.exists(_.name == "The"))
    assert(!ex.mentions.exists(_.name == "Uses"))
  }

  test("sentence-initial run of capitalized tokens IS a mention (The Platform)") {
    val ex = DetExtractor.extract("The Platform uses Message Queue reliably across regions.")
    assert(ex.mentions.exists(_.name == "The Platform"))
  }

  test("case-insensitive per-doc dedup, higher confidence wins (extractor.py:139-153)") {
    val ex = DetExtractor.extract(
      "Auth Module works fine here. the auth module is busy. AUTH MODULE again!")
    val ms = ex.mentions.filter(_.name.equalsIgnoreCase("Auth Module"))
    assert(ms.length == 1)
    assert(ms.head.confidence == 0.9)
  }

  test("SVO triple with reference verb map (extractor.py:367-380)") {
    val ex = DetExtractor.extract("Auth Module requires Session Store during nightly compaction runs.")
    val t = ex.triples.find(t => t.subj == "Auth Module" && t.obj == "Session Store")
    assert(t.isDefined)
    assert(t.get.pred == "REQUIRES")
    assert(t.get.confidence == 0.75) // both endpoints entity-like: 0.6 + 2*0.075
  }

  test("inflected verbs normalize: uses/includes/extends/needs") {
    def pred(s: String) = DetExtractor.extract(s).triples.headOption.map(_.pred)
    assert(pred("Cache Layer uses Token Bucket under heavy load always.") == Some("USES"))
    assert(pred("Event Bus includes Retry Policy for every tenant there.") == Some("CONTAINS"))
    assert(pred("Edge Proxy extends Load Balancer behind the gateway node.") == Some("IMPLEMENTS"))
    assert(pred("Query Planner needs Data Catalog according to policy now.") == Some("REQUIRES"))
  }

  test("coordination: X and Y → SIMILAR_TO conf base 0.5 (extractor.py:347-363)") {
    val ex = DetExtractor.extract("Rate Limiter and Token Bucket share operational traits nicely.")
    val t = ex.triples.find(_.pred == "SIMILAR_TO")
    assert(t.isDefined)
    assert(t.get.subj == "Rate Limiter" && t.get.obj == "Token Bucket")
    assert(math.abs(t.get.confidence - 0.65) < 1e-9) // 0.5 + 2*0.075
  }

  test("(s,o,type) dedup within a document (extractor.py:334-344)") {
    val text = "Auth Module uses Key Vault reliably across regions. " +
      "Auth Module uses Key Vault for every tenant happily."
    val ex = DetExtractor.extract(text)
    assert(ex.triples.count(t =>
      t.subj == "Auth Module" && t.obj == "Key Vault" && t.pred == "USES") == 1)
  }

  test("no triple across sentence boundary") {
    val ex = DetExtractor.extract("Auth Module is stable. Uses Session Store heavily sometimes.")
    assert(!ex.triples.exists(t => t.subj == "Auth Module" && t.obj == "Session Store"))
  }

  test("subject/object gap beyond 3 tokens breaks the pattern") {
    val ex = DetExtractor.extract(
      "Auth Module at some point in recent operational history uses Session Store.")
    assert(ex.triples.isEmpty)
  }

  test("empty input") {
    assert(DetExtractor.extract("").mentions.isEmpty)
    assert(DetExtractor.extract(null).triples.isEmpty)
  }

  test("extraction is a pure function (same input ⇒ same output)") {
    val text = "The Platform implements Circuit Breaker and Feature Flags under heavy load."
    val a = DetExtractor.extract(text)
    val b = DetExtractor.extract(text)
    assert(a == b)
  }

  test("dedupMentions: generalizable beats illustrative on a confidence tie") {
    def m(name: String, conf: Double, role: String, pos: Int) =
      DetExtractor.Mention(name, name, pos, pos + name.length, pos, pos + 1, conf,
        s"at $pos", role = role, illustrates = if (role == "illustrative") "Parent" else null)
    // illustrative occurrence precedes an equal-confidence generalizable one
    val kept = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "illustrative", 0), m("Redis", 0.7, "generalizable", 10)))
    assert(kept.size == 1 && kept.head.role == "generalizable")
    // reverse arrival order: generalizable still wins (first kept)
    val kept2 = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "generalizable", 0), m("Redis", 0.7, "illustrative", 10)))
    assert(kept2.head.role == "generalizable")
    // higher confidence still dominates role
    val kept3 = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "generalizable", 0), m("Redis", 0.9, "illustrative", 10)))
    assert(kept3.head.role == "illustrative" && kept3.head.confidence == 0.9)
    // equal confidence, both generalizable: earlier position wins (unchanged)
    val kept4 = DetExtractor.dedupMentions(Vector(
      m("Redis", 0.7, "generalizable", 0), m("Redis", 0.7, "generalizable", 10)))
    assert(kept4.head.begin == 0)
  }

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
}
