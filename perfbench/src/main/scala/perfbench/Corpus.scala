package perfbench

import graft.core.PageRow
import graft.fixtures.PagesGen
import graft.pipeline.Ingest
import graft.store.SnapshotStore
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The generated inputs of one run: `PagesGen` pages for `seed`, spread
  * over `days` day partitions. The program only ever sees these pages.
  */
final class Corpus(seed: Long, pagesPerDay: Int, val days: Int)(implicit spark: SparkSession) {
  import spark.implicits._

  val allDays: Seq[String] = PagesGen.dayStrings(days)
  val nPages: Long = pagesPerDay.toLong * days

  def pages(ds: Seq[String]): Dataset[PageRow] =
    PagesGen.pages(spark, nPages, seed = seed, days = days).filter(col("day").isin(ds: _*))

  /** HTML bytes of the pages of each day. */
  def htmlBytes(): Map[String, Long] =
    pages(allDays).groupBy(col("day")).agg(sum(length(col("html"))))
      .as[(String, Long)].collect().toMap
}

/** Warehouse helpers: isolation copies and order-independent fingerprints. */
object Warehouse {

  /** The derived tables a resumed ingest must reproduce exactly. */
  val DerivedTables: Seq[String] = Seq("concepts", "edges", "canon_map", "rules")

  /** (rows, sum of 64-bit row hashes) — equal for equal multisets of rows. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    // maps have no stable hash; their sorted entries do
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }.toIndexedSeq
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def fingerprints(store: SnapshotStore): Map[String, (Long, java.math.BigDecimal)] =
    DerivedTables.map(t => t -> fingerprint(store.read(t))).toMap

  def build(corpus: Corpus, ds: Seq[String], root: Path)(implicit spark: SparkSession): SnapshotStore = {
    Files2.delete(root)
    val store = new SnapshotStore(root.toString)
    Ingest.run(corpus.pages(ds), store, Ingest.Config(), knownPartitions = Some(ds))
    store
  }
}
