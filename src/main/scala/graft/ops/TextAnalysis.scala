package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, document fingerprinting.
  * All pure column expressions or cheap UDFs over the `documents` table —
  * no shuffles except the final aggregations, so they scan-pipeline at
  * 100 TB (predicate/column pruning reaches the parquet scan).
  */
object TextAnalysis {

  /** Whitespace token count as a codegen'd expression (no UDF). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Quality flags per document: length bucket, token stats, stopword and
    * punctuation signals. Everything stays in whole-stage codegen.
    */
  def quality(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("lang"),
      col("n_chars"),
      tokenCount(col("text")).as("n_tokens"),
      when(col("n_chars") < 200, "short")
        .when(col("n_chars") < 1000, "medium")
        .otherwise("long").as("len_bucket"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.!?,;:]", "")))
        .as("n_punct"),
      col("text").contains(" the ").as("has_the"))

  /** Character-frequency language-ID heuristic: score each candidate
    * language by its high-frequency marker words; deterministic argmax.
    * Closed marker lists (public-knowledge stopword heads per language).
    */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "et"),
    "zh" -> Seq.empty // no latin markers: falls through to "unknown"
  )

  val langIdUdf = udf { (text: String) =>
    if (text == null || text.isEmpty) "unknown"
    else {
      val toks = text.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").iterator.take(200).toSet
      val scored = markers.toSeq
        .map { case (lang, ms) => (lang, ms.count(toks.contains)) }
        .filter(_._2 > 0)
      if (scored.isEmpty) "unknown"
      else scored.maxBy { case (lang, n) => (n, lang) }._1
    }
  }

  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("labeled_lang"),
      langIdUdf(col("text")).as("predicted_lang"))

  /** Rolling-hash document fingerprint (Rabin-Karp-style over byte stream,
    * window 16): min of window hashes — a cheap shift-resistant signature.
    */
  val fingerprintUdf = udf { (text: String) =>
    if (text == null || text.length < 16) 0L
    else {
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val B = 257L; val M = 1000000007L
      var pow = 1L; var i = 0
      while (i < 15) { pow = pow * B % M; i += 1 }
      var h = 0L
      i = 0
      while (i < 16) { h = (h * B + (bytes(i) & 0xff)) % M; i += 1 }
      var minH = h
      while (i < bytes.length) {
        h = ((h - (bytes(i - 16) & 0xff) * pow % M + M * 256) % M * B +
          (bytes(i) & 0xff)) % M
        if (h < minH) minH = h
        i += 1
      }
      minH
    }
  }

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintUdf(col("text")).as("fingerprint"))

  /** Within-document repetition signals (the Gopher-style curation
    * filters): duplicate word-n-gram fraction and the share of the most
    * frequent n-gram. Boilerplate, keyword stuffing, and generation
    * loops all light these up while length/stopword stats stay normal.
    * Whitespace tokenization matches [[tokenCount]]/q12 so the q54
    * oracle re-derives everything with DuckDB list lambdas.
    */
  private val repetitionUdf = udf { (text: String, n: Int) =>
    val words =
      if (text == null || text.trim.isEmpty) Array.empty[String]
      else text.trim.split("\\s+")
    if (words.length < n) (0, 0, 0)
    else {
      val counts = scala.collection.mutable.HashMap.empty[String, Int]
      var i = 0
      while (i + n <= words.length) {
        val g = words.slice(i, i + n).mkString(" ")
        counts.update(g, counts.getOrElse(g, 0) + 1)
        i += 1
      }
      (words.length - n + 1, counts.size, counts.valuesIterator.max)
    }
  }

  /** One row per doc: n-gram total/distinct counts, duplicate-gram
    * fraction, and top-gram share (0.0 for docs shorter than n words).
    */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), repetitionUdf(col("text"), lit(n)).as("r"))
      .select(col("doc_id"),
        col("r._1").as("n_grams"), col("r._2").as("n_distinct"),
        when(col("r._1") === 0, 0.0)
          .otherwise(lit(1.0) - col("r._2").cast("double") / col("r._1").cast("double"))
          .as("dup_fraction"),
        when(col("r._1") === 0, 0.0)
          .otherwise(col("r._3").cast("double") / col("r._1").cast("double"))
          .as("top_share"))
}
