package graft.core

import java.sql.Timestamp

/** Input row of the KG-construction pipeline: one crawled page
  * (BASELINE.json input_hint: url, warc_ts, html, text, lang). The schemas
  * of the tables `Ingest.run` commits are pinned by PipelineSuite.
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
    day: String // partition column: days(warc_ts) rendered yyyy-MM-dd
)

object RelationTypes {
  // src/qortex/core/models.py:25-52 — 13 typed relations (+RELATED_TO default
  // used by the online extractor, extractor.py:380).
  val all: Seq[String] = Seq(
    "CONTRADICTS", "REQUIRES", "REFINES", "IMPLEMENTS", "PART_OF", "USES",
    "SIMILAR_TO", "ALTERNATIVE_TO", "SUPPORTS", "CHALLENGES",
    "BELONGS_TO", "INSTANCE_OF", "CONTAINS", "RELATED_TO"
  )
  val valid: Set[String] = all.toSet

  // pruning.py:110-128 — layer classification (lowercase names there).
  val structural: Set[String] =
    Set("PART_OF", "REFINES", "IMPLEMENTS", "SIMILAR_TO", "ALTERNATIVE_TO", "USES")
  val causal: Set[String] =
    Set("REQUIRES", "SUPPORTS", "CHALLENGES", "CONTRADICTS")

  def layer(relationType: String): String = {
    val up = relationType.toUpperCase(java.util.Locale.ROOT)
    if (causal.contains(up)) "causal" else "structural"
  }
}
