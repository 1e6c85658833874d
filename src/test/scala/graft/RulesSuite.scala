package graft

import graft.rules.Rules
import org.apache.spark.sql.functions._

/** The rule template registry (core/templates.py:33-437), its
  * category-hint selection, and the derived rules it expands.
  */
class RulesSuite extends SparkFunSuite {
  import spark.implicits._

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
}
