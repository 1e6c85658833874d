package graft.projectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Projection pipeline: KG rules → versioned export artifacts — the third
  * traced entry point of the reference (§3.3): Source → Enricher → Target
  * (projectors/projection.py:15-41).
  *
  * Distributed re-expression: every stage is a DataFrame transform over the
  * committed rules tables (the reference walks backend.get_rules per domain,
  * projectors/sources/flat.py:34-112); the per-rule entry serialization is a
  * codegen'd `to_json(struct(...))` column, so the heavy half — millions of
  * rules at web scale — never touches the driver. Only the final artifact
  * assembly (one JSON/YAML document per projection, reference returns a
  * `str`) collects, and that is bounded by rules-per-projection; the
  * unbounded scale path is `writeJsonl`, which streams entries straight to
  * files.
  *
  * Deterministic invariant kept from the reference's e2e test
  * (tests/test_e2e_book_to_buildlog.py:386-394):
  *   projected rule count == explicit rules + one per unique edge pair.
  */
object Projectors {

  /** ProjectionFilter (projectors/models.py:13-22): empty seq = no filter,
    * derivation ∈ {explicit, derived, all}.
    */
  final case class ProjectionFilter(
      domains: Seq[String] = Seq.empty,
      categories: Seq[String] = Seq.empty,
      minConfidence: Double = 0.0,
      derivation: String = "all")

  /** Normalize the two committed rule tables into the universal rule shape
    * (core/models.py Rule + the template provenance the reference stores in
    * rule metadata, projectors/sources/flat.py:62-75, 128-146):
    *
    *   (id, text, domain, derivation, confidence, category,
    *    source_concepts ARRAY, relevance,
    *    relation_type, template_id, template_variant, template_severity)
    *
    * Template provenance is recovered from the registry id "type:variant"
    * (Rules.templateRegistry mirrors templates.py:16-26); null for explicit
    * rules, exactly like _build_provenance (targets/_serialize.py:52-72).
    */
  def ruleSource(
      explicitRules: DataFrame, // Rules.explicitRules output
      derivedRules: DataFrame, // Rules.derivedRules output
      filter: ProjectionFilter = ProjectionFilter(),
      /** CausalRules.derive output; included for derivation ∈ {causal, all}
        * (the reference's CausalRuleProjector gates the same way,
        * causal/projector.py:74-76).
        */
      causalRules: Option[DataFrame] = None
  ): DataFrame = {
    val nullS = lit(null).cast("string")
    val ex = explicitRules.select(
      col("id"), col("text"), col("domain"),
      lit("explicit").as("derivation"),
      col("confidence").cast("double").as("confidence"),
      col("category"),
      col("concept_ids").as("source_concepts"),
      lit(0.0).as("relevance"),
      nullS.as("relation_type"), nullS.as("template_id"),
      nullS.as("template_variant"), nullS.as("template_severity"))
    val dv = derivedRules.select(
      col("id"), col("text"), col("domain"),
      lit("derived").as("derivation"),
      col("confidence").cast("double").as("confidence"),
      col("category"),
      col("concept_ids").as("source_concepts"),
      lit(0.0).as("relevance"),
      upper(substring_index(col("template_id"), ":", 1)).as("relation_type"),
      col("template_id"),
      substring_index(col("template_id"), ":", -1).as("template_variant"),
      col("severity").as("template_severity"))

    val ca = causalRules.map(_.select(
      col("id"), col("text"), col("domain"),
      lit("causal").as("derivation"),
      col("confidence").cast("double").as("confidence"),
      col("category"),
      col("source_concepts"),
      lit(0.0).as("relevance"),
      nullS.as("relation_type"), nullS.as("template_id"),
      nullS.as("template_variant"), nullS.as("template_severity")))

    // selection per source, matching the reference's gating: explicit for
    // {explicit, all} (sources/flat.py:45); edge-derived for
    // {derived, causal, all} (:49); causal for {causal, all}
    // (causal/projector.py:74-76)
    val parts = Seq(
      if (Set("explicit", "all")(filter.derivation)) Some(ex) else None,
      if (Set("derived", "causal", "all")(filter.derivation)) Some(dv) else None,
      if (Set("causal", "all")(filter.derivation)) ca else None
    ).flatten
    val unioned = parts.reduce(_.unionByName(_))
    Seq[Option[Column]](
      if (filter.domains.nonEmpty) Some(col("domain").isin(filter.domains: _*)) else None,
      if (filter.categories.nonEmpty) Some(col("category").isin(filter.categories: _*)) else None,
      if (filter.minConfidence > 0.0) Some(col("confidence") >= filter.minConfidence) else None
    ).flatten.foldLeft(unioned)(_.filter(_))
  }

  /** TemplateEnricher — mechanical enrichment, no LLM
    * (enrichment/pipeline.py:56-72): context/antipattern/rationale derived
    * from the rule itself; tags = [domain, category?, "derived"?]. Pure
    * column expressions, codegen'd.
    */
  def enrichTemplate(rules: DataFrame): DataFrame =
    rules
      .withColumn("context", concat(lit("When working in the "), col("domain"), lit(" domain")))
      .withColumn("antipattern", lit("Violating this rule"))
      .withColumn("rationale", col("text"))
      .withColumn("tags",
        filter(
          array(col("domain"), col("category"),
            when(col("derivation") === "derived", lit("derived"))),
          c => c.isNotNull))

  private def hasEnrichment(df: DataFrame): Boolean = df.columns.contains("context")

  /** One seed entry per rule, flat scalar columns — the SQL-checkable
    * projection of _rule_to_seed_entry (targets/_serialize.py:75-113):
    * rule text, category (domain fallback), enrichment fields, and the full
    * provenance block.
    */
  def seedEntries(rules: DataFrame): DataFrame = {
    val enriched = hasEnrichment(rules)
    rules.select(
      col("text").as("rule"),
      coalesce(col("category"), col("domain")).as("category"),
      (if (enriched) col("context") else lit(null).cast("string")).as("context"),
      (if (enriched) col("antipattern") else lit(null).cast("string")).as("antipattern"),
      (if (enriched) col("rationale") else lit(null).cast("string")).as("rationale"),
      (if (enriched) concat_ws(",", col("tags")) else lit(null).cast("string")).as("tags"),
      col("id").as("prov_id"),
      col("domain").as("prov_domain"),
      col("derivation").as("prov_derivation"),
      concat_ws(",", col("source_concepts")).as("prov_source_concepts"),
      col("confidence").as("prov_confidence"),
      col("relevance").as("prov_relevance"),
      col("relation_type").as("prov_relation_type"),
      col("template_id").as("prov_template_id"),
      col("template_variant").as("prov_template_variant"),
      col("template_severity").as("prov_template_severity"))
  }

  /** rule_to_dict (targets/_serialize.py:16-48) as one JSON string per row:
    * id/text/domain/derivation/confidence always; category,
    * source_concepts, metadata (template provenance), enrichment only when
    * present — `to_json` drops null struct fields, which reproduces the
    * reference's conditional key inclusion.
    */
  def ruleDictJson(rules: DataFrame, includeEnrichment: Boolean = true): DataFrame = {
    val metadata = when(col("derivation") === "derived",
      map(lit("relation_type"), col("relation_type"),
        lit("template_id"), col("template_id"),
        lit("template_variant"), col("template_variant"),
        lit("template_severity"), col("template_severity")))
    val enrichment =
      if (includeEnrichment && hasEnrichment(rules))
        when(col("context").isNotNull,
          struct(col("context"), col("antipattern"), col("rationale"), col("tags")))
      else lit(null).cast("string")
    rules
      .withColumn("__entry", to_json(struct(
        col("id"), col("text"), col("domain"), col("derivation"), col("confidence"),
        col("category"),
        when(size(col("source_concepts")) > 0, col("source_concepts")).as("source_concepts"),
        metadata.as("metadata"),
        enrichment.as("enrichment"))))
      .select(col("id"), col("derivation"), col("__entry").as("entry"))
  }

  /** Scale path: entries as JSONL files (one JSON object per line), written
    * distributed — no driver materialization. Artifact targets below are
    * thin driver-side assemblies over the same entry column.
    */
  def writeJsonl(rules: DataFrame, path: String, includeEnrichment: Boolean = true): Unit =
    ruleDictJson(rules, includeEnrichment).select("entry").write.mode("overwrite").text(path)

  /** Deterministic entry order shared by every artifact target: explicit
    * before derived, then id.
    */
  private def collectEntries(rules: DataFrame, includeEnrichment: Boolean): Seq[String] =
    ruleDictJson(rules, includeEnrichment)
      .orderBy(col("derivation"), col("id"))
      .select("entry")
      .collect() // bounded: one artifact = one domain's projected rules
      .map(_.getString(0)).toSeq

  /** FlatJSONTarget (targets/flat_json.py): `{"rules": [...]}`. */
  def flatJson(rules: DataFrame, includeEnrichment: Boolean = true, indent: Int = 2): String = {
    val entries = collectEntries(rules, includeEnrichment)
    if (indent <= 0) entries.mkString("{\"rules\":[", ",", "]}")
    else {
      val pad = " " * indent
      entries.mkString(s"{\n$pad\"rules\": [\n$pad$pad",
        s",\n$pad$pad", s"\n$pad]\n}")
    }
  }

  /** FlatYAMLTarget (targets/flat_yaml.py): same list-of-rule-dicts shape
    * as YAML. Rendered from the JSON entries with a minimal emitter —
    * scalar values are emitted as YAML double-quoted strings/numbers, which
    * any YAML 1.2 parser reads back to the same dicts (JSON is a YAML
    * subset; only the layout differs from PyYAML's).
    */
  def flatYaml(rules: DataFrame, includeEnrichment: Boolean = true): String = {
    val entries = collectEntries(rules, includeEnrichment)
    val items = entries.map(e => "- " + e).mkString("\n")
    s"rules:\n$items\n"
  }

  /** serialize_ruleset (targets/_serialize.py:116-166) — the universal rule
    * set schema every consumer ingests: {persona, version, rules, metadata}.
    * `projectedAt` is caller-supplied (commit-time UTC, F9) so projection is
    * a pure function of its inputs.
    */
  def serializeRuleset(
      rules: DataFrame,
      persona: String,
      version: Int = 1,
      source: String = "graft",
      sourceVersion: String = "0.1.0",
      graphVersion: Option[String] = None,
      projectedAt: String
  ): String = {
    val withProv = seedEntriesJson(rules, graphVersion)
    val entries = withProv.orderBy(col("derivation"), col("id"))
      .select("entry").collect().map(_.getString(0))
    val meta =
      s"""{"source":${jsonStr(source)},"source_version":${jsonStr(sourceVersion)},""" +
        s""""projected_at":${jsonStr(projectedAt)},"rule_count":${entries.length}}"""
    s"""{"persona":${jsonStr(persona)},"version":$version,""" +
      s""""rules":[${entries.mkString(",")}],"metadata":$meta}"""
  }

  /** JSON string literal for the hand-built artifact envelope — the rule
    * entries are to_json-escaped already, but persona/source/timestamps are
    * caller-supplied and must not corrupt the document.
    */
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** _rule_to_seed_entry as JSON (rule/category/enrichment at entry level,
    * provenance nested — targets/_serialize.py:75-113).
    */
  private def seedEntriesJson(rules: DataFrame, graphVersion: Option[String]): DataFrame = {
    val enriched = hasEnrichment(rules)
    val prov = struct(
      col("id"), col("domain"), col("derivation"),
      col("source_concepts"), col("confidence"), col("relevance"),
      col("relation_type"), col("template_id"),
      col("template_variant"), col("template_severity"),
      graphVersion.map(v => lit(v)).getOrElse(lit(null).cast("string")).as("graph_version"))
    val entry = to_json(struct(
      col("text").as("rule"),
      coalesce(col("category"), col("domain")).as("category"),
      (if (enriched) col("context") else lit(null).cast("string")).as("context"),
      (if (enriched) col("antipattern") else lit(null).cast("string")).as("antipattern"),
      (if (enriched) col("rationale") else lit(null).cast("string")).as("rationale"),
      (if (enriched) col("tags") else lit(null).cast("array<string>")).as("tags"),
      prov.as("provenance")))
    rules.select(col("id"), col("derivation"), entry.as("entry"))
  }

  /** ClaudeCodeSkillTarget single-file variant
    * (targets/claude_code_skill.py:30-75): one SKILL.md with YAML
    * frontmatter (name + description) and the rules as a markdown body
    * grouped by category. Returns (path, content).
    */
  def skillMarkdown(rules: DataFrame, skillName: String): (String, String) = {
    require(skillName.matches("[A-Za-z0-9._-]+"),
      s"skill name must be a plain identifier (got '$skillName') — it becomes " +
        "a path segment and unquoted YAML frontmatter")
    val rows = rules
      .select(coalesce(col("category"), col("domain")).as("category"), col("text"))
      .orderBy(col("category"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val body = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (cat, rs) =>
      s"## $cat\n\n" + rs.map("- " + _._2).mkString("\n")
    }.mkString("\n\n")
    val desc = s"Rules projected from the knowledge graph (${rows.size} rules)"
    val content =
      s"---\nname: $skillName\ndescription: $desc\n---\n\n# $skillName\n\n$body\n"
    (s"$skillName/SKILL.md", content)
  }

  // ---- multi-file skill targets (claude_code_skill.py / openclaw_skill.py
  // / skillipedia.py) — each emits (path, content) rows, computed
  // DISTRIBUTED (mapGroups per domain / map per rule) so a million-domain
  // projection never assembles on the driver; callers either collect the
  // bounded artifact set or write the frame directly.

  /** Skill flavor: Claude-Code Agent-Skills frontmatter (name +
    * description [+ license]) vs OpenClaw (adds homepage/license and the
    * single-line-JSON `metadata:` line, skillmd.py:262-300).
    */
  sealed trait SkillFlavor
  case object ClaudeSkill extends SkillFlavor
  case object OpenClawSkill extends SkillFlavor

  /** _yaml_quote (skillmd.py:303-329): double-quote when the value would
    * be misread as YAML structure; unquoted otherwise.
    */
  private[graft] def yamlQuote(v: String): String = {
    val indicators = "{}[]\"'#&*!|>%@`"
    def quoted = "\"" + v.replace("\"", "\\\"").replace("\n", "\\n") + "\""
    if (v.contains("\n")) quoted
    else if (v.nonEmpty && indicators.contains(v.head)) quoted
    else if (v.contains(": ")) quoted
    else v
  }

  /** `## {id}\n\n{text}` + optional enrichment lines — the shared
    * _rules_to_body shape (claude_code_skill.py:76-93).
    */
  private def ruleBodyPart(
      id: String, text: String,
      context: String, antipattern: String, rationale: String,
      includeEnrichment: Boolean): String = {
    val parts = Seq(s"## $id\n\n$text") ++
      (if (includeEnrichment) Seq(
        Option(context).map(c => s"\n**Context:** $c"),
        Option(antipattern).map(a => s"\n**Antipattern:** $a"),
        Option(rationale).map(r => s"\n**Rationale:** $r")).flatten
      else Seq.empty)
    parts.mkString("\n\n")
  }

  /** Strip the `skill:` domain prefix (claude_code_skill.py:115-122). */
  private def domainToName(domain: String): String =
    if (domain.startsWith("skill:")) domain.substring(6) else domain

  /** Multi-file SKILL.md projection (claude_code_skill.py:56-75 /
    * openclaw_skill.py:47-60): one file per domain — or one file for all
    * rules when `skillName` is given. Returns (path, content) rows;
    * per-domain assembly runs distributed (mapGroups). Rule order within
    * a file is the deterministic (derivation, id) artifact order.
    */
  def skillFiles(
      rules: DataFrame,
      flavor: SkillFlavor = ClaudeSkill,
      skillName: Option[String] = None,
      includeEnrichment: Boolean = true,
      defaultEmoji: String = "🧠", // openclaw_skill.py:34
      defaultLicense: String = "MIT"
  ): DataFrame = {
    val spark = rules.sparkSession
    import spark.implicits._
    val enriched = hasEnrichment(rules)
    val inc = includeEnrichment && enriched
    val nullS = lit(null).cast("string")
    val rows = rules.select(
      skillName.map(n => lit(n)).getOrElse(col("domain")).as("__group"),
      col("derivation"), col("id"), col("text"),
      (if (enriched) col("context") else nullS).as("context"),
      (if (enriched) col("antipattern") else nullS).as("antipattern"),
      (if (enriched) col("rationale") else nullS).as("rationale"))
      .as[(String, String, String, String, String, String, String)]
    val isOpenClaw = flavor == OpenClawSkill
    val single = skillName.isDefined
    rows.groupByKey(_._1).mapGroups { (group, it) =>
      val sorted = it.toSeq.sortBy(r => (r._2, r._3))
      val name = if (single) group else domainToName(group)
      val body = sorted
        .map(r => ruleBodyPart(r._3, r._4, r._5, r._6, r._7, inc))
        .mkString("\n\n")
      val desc = sorted.headOption.map(_._4.take(200)).getOrElse("")
      val fm = Seq.newBuilder[String]
      fm += "---"
      fm += s"name: $name"
      fm += s"description: ${yamlQuote(desc)}"
      if (isOpenClaw) {
        fm += s"license: $defaultLicense"
        // metadata as single-line JSON, the OpenClaw parser constraint
        fm += s"""metadata: {"openclaw":{"emoji":"$defaultEmoji"}}"""
      }
      fm += "---"
      (s"$name/SKILL.md", fm.result().mkString("\n") + "\n\n" + body + "\n")
    }.toDF("path", "content")
  }

  /** slugify (skillipedia.py:186-196): lowercase, non-alphanumeric runs →
    * '-', trimmed, max 80.
    */
  private[graft] def slugify(text: String): String =
    text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", "-")
      .replaceAll("^-+|-+$", "")
      .take(80)

  /** SkillipediaTarget per-rule MDX (skillipedia.py:55-69): one
    * `entries/slug.mdx` per rule with YAML frontmatter (id, inferred
    * type, claim, confidence, domain, derivation, tags, category,
    * source_concepts, provenance) and the markdown body. `generatedAt` is
    * caller-supplied (commit-time UTC, F9) so projection stays pure.
    * Fully distributed — one row in, one (path, content) row out.
    */
  def skillipediaEntries(
      rules: DataFrame,
      generatedAt: String,
      baseDir: String = "entries",
      includeEnrichment: Boolean = true
  ): DataFrame = {
    val spark = rules.sparkSession
    import spark.implicits._
    val enriched = hasEnrichment(rules)
    val inc = includeEnrichment && enriched
    val nullS = lit(null).cast("string")
    val nullA = lit(null).cast("array<string>")
    val rows = rules.select(
      col("id"), col("text"), col("confidence").cast("double"), col("domain"),
      col("derivation"), coalesce(col("category"), col("domain")).as("category"),
      col("source_concepts"),
      (if (enriched) col("context") else nullS).as("context"),
      (if (enriched) col("antipattern") else nullS).as("antipattern"),
      (if (enriched) col("rationale") else nullS).as("rationale"),
      (if (enriched) col("tags") else nullA).as("tags"),
      coalesce(col("relation_type"), lit("")).as("relation_type"),
      coalesce(col("template_id"), lit("")).as("template_id"))
      .as[(String, String, Double, String, String, String, Seq[String],
        String, String, String, Seq[String], String, String)]
    rows.map { case (id, text, conf, domain, derivation, category, srcConcepts,
        context, antipattern, rationale, tags, relType, templateId) =>
      val claim = text.take(200)
      // "pattern" for derived, "learning" otherwise (skillipedia.py:170-184;
      // the skill_format metadata branch has no analog here)
      val entryType = if (derivation == "derived") "pattern" else "learning"
      def yList(xs: Seq[String]) =
        if (xs == null || xs.isEmpty) "[]"
        else xs.map(x => s"\n- ${yamlQuote(x)}").mkString
      val fm = Seq.newBuilder[String]
      fm += s"id: ${yamlQuote(id)}"
      fm += s"type: $entryType"
      fm += s"claim: ${yamlQuote(claim)}"
      fm += s"confidence: $conf"
      fm += s"domain: ${yamlQuote(domain)}"
      fm += s"derivation: $derivation"
      if (tags != null && tags.nonEmpty) fm += s"tags: ${yList(tags)}"
      fm += s"category: ${yamlQuote(category)}"
      fm += s"source_concepts: ${yList(srcConcepts)}"
      fm += "provenance:"
      fm += s"  id: ${yamlQuote(id)}"
      fm += s"  domain: ${yamlQuote(domain)}"
      fm += s"  derivation: $derivation"
      fm += s"  confidence: $conf"
      if (relType.nonEmpty) fm += s"  relation_type: ${yamlQuote(relType)}"
      if (templateId.nonEmpty) fm += s"  template_id: ${yamlQuote(templateId)}"
      fm += s"generated_at: ${yamlQuote(generatedAt)}"
      val bodyParts = Seq(s"## $id\n\n$text") ++
        (if (inc) Seq(
          Option(context).map(c => s"### Context\n\n$c"),
          Option(antipattern).map(a => s"### Antipattern\n\n$a"),
          Option(rationale).map(r => s"### Rationale\n\n$r")).flatten
        else Seq.empty)
      val content =
        s"---\n${fm.result().mkString("\n")}\n---\n\n${bodyParts.mkString("\n\n")}\n"
      (s"$baseDir/${slugify(id)}.mdx", content)
    }.toDF("path", "content")
  }

  /** Write a (path, content) artifact frame under `dir`, each file
    * atomically. Driver-iterated over the bounded artifact list — the
    * unbounded path is writing the frame itself as parquet/JSONL.
    */
  def writeFiles(dir: String, files: DataFrame)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit =
    files.select(col("path"), col("content")).collect().foreach { r =>
      writeArtifact(s"$dir/${r.getString(0)}", r.getString(1))
    }

  /** Atomic single-file artifact write (temp + rename, same protocol as
    * SnapshotStore manifests) so a reader never sees a half-written export.
    */
  def writeArtifact(path: String, content: String)(
      implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p.getParent)) fs.mkdirs(p.getParent)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp-" + System.nanoTime())
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ctx = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
    ctx.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
