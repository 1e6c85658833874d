package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector-index migration — the Spark re-expression of the reference's
  * `migrate_vec` (src/qortex/vec/migrate.py:40-120, tested by
  * tests/test_migrate.py): transfer every vector from one index to
  * another, optionally transforming / re-embedding en route, idempotently
  * (the destination write is an upsert, exactly the property the
  * reference leans on). The reference streams id/embedding batches
  * through `destination.add()` with a progress callback; here the
  * transfer is ONE distributed delta commit — batching disappears because
  * the dataflow IS the batch — and progress becomes Observe events
  * (`vec.migrate.start` / `vec.migrate.complete`, the reference's
  * logger.info event names).
  *
  * Validation (the reference's per-batch shape checks, made global):
  *  - source ids are unique and non-null;
  *  - no outgoing embedding is null, and all share ONE dimension (and
  *    match `expectDim` when given);
  *  - the transform preserves the id count (a re-embed must not drop or
  *    duplicate vectors);
  *  - post-write, every migrated id resolves in the destination
  *    (left-anti probe — the "vectors_written" accounting is verified,
  *    not assumed).
  */
object VectorMigrate {

  final case class MigrateResult(
      vectorsRead: Long,
      vectorsWritten: Long,
      dimension: Int,
      dryRun: Boolean)

  def migrate(
      source: VectorIndex,
      destination: VectorIndex,
      /** Optional re-embed/transform: (id, embedding) → (id, embedding).
        * Must preserve the id set — checked.
        */
      transform: DataFrame => DataFrame = identity,
      expectDim: Option[Int] = None,
      dryRun: Boolean = false): MigrateResult =
    migrateRows(source.read(), destination, transform, expectDim, dryRun)

  /** `migrate` over a source's resolved (id, embedding) rows. */
  private[graft] def migrateRows(
      source: DataFrame,
      destination: VectorIndex,
      transform: DataFrame => DataFrame,
      expectDim: Option[Int],
      dryRun: Boolean): MigrateResult = {
    graft.observe.Observe.emit("vec.migrate.start",
      "dry_run" -> dryRun, "expect_dim" -> expectDim.getOrElse(-1))
    // resolve the merge-on-read log ONCE; both the count and the write
    // read this materialized frame
    val resolved = source.localCheckpoint()
    val read = resolved.agg(count(lit(1)), countDistinct("id")).collect().head
    val vectorsRead = read.getLong(0)
    // unique source ids keep the left join below from inflating `n`
    require(read.getLong(1) == vectorsRead,
      s"vec.migrate: the source holds duplicate or null ids " +
        s"($vectorsRead rows, ${read.getLong(1)} distinct ids)")
    val out = transform(resolved).localCheckpoint()

    // ONE aggregation job over the checkpointed frame answers every
    // validation probe: row count, null embeddings, the dimension range
    // (min==max ⇔ one shared dimension — replaces the separate
    // limit(2)-distinct scan), distinct-id count, and the re-key count.
    val stats = out
      .join(resolved.select(col("id"), lit(1).as("__src")), Seq("id"), "left")
      .agg(count(lit(1)).as("n"),
        min(size(col("embedding"))).as("dmin"),
        max(size(col("embedding"))).as("dmax"),
        countDistinct("id").as("d"),
        // coalesce: sum over an EMPTY out frame is null, not 0
        coalesce(sum(when(col("__src").isNull, 1L).otherwise(0L)), lit(0L))
          .as("rk"),
        coalesce(sum(when(col("embedding").isNull, 1L).otherwise(0L)), lit(0L))
          .as("nulls"))
      .collect().head
    // size(NULL) is NULL, so min/max skip null embeddings: count them apart
    require(stats.getLong(5) == 0,
      s"vec.migrate: ${stats.getLong(5)} vector(s) have a null embedding")
    val (dmin, dmax) =
      (if (stats.isNullAt(1)) 0 else stats.getInt(1),
        if (stats.isNullAt(2)) 0 else stats.getInt(2))
    require(dmin == dmax,
      s"vec.migrate: mixed embedding dimensions (saw $dmin..$dmax)")
    val dim = dmax
    expectDim.foreach(e => require(stats.getLong(0) == 0L || dim == e,
      s"vec.migrate: embedding dimension $dim != expected $e"))
    val outCount = stats.getLong(0)
    require(outCount == vectorsRead,
      s"vec.migrate: transform changed the vector count " +
        s"($vectorsRead read, $outCount after transform) — a migration " +
        "must carry every vector; filter before migrating instead")
    // the documented contract is id-SET preservation, not just count:
    // a transform that collides two ids while keeping the row count
    // would otherwise pass every check (upsert dedups silently) and
    // over-report vectorsWritten
    val (distinctIds, rekeyed) = (stats.getLong(3), stats.getLong(4))
    require(rekeyed == 0,
      s"vec.migrate: transform re-keyed $rekeyed id(s) not present in " +
        "the source — a migration must preserve the id set")
    require(distinctIds == outCount,
      s"vec.migrate: transform produced duplicate ids " +
        s"($outCount rows, $distinctIds distinct) — the destination " +
        "upsert would silently collapse them")

    var written = 0L
    if (!dryRun) {
      destination.upsert(out)
      written = outCount
      val missing = out.select(col("id").cast("string").as("id"))
        .join(destination.read().select("id"), Seq("id"), "left_anti").count()
      require(missing == 0,
        s"vec.migrate: $missing migrated id(s) do not resolve in the " +
          "destination after upsert")
    }
    graft.observe.Observe.emit("vec.migrate.complete",
      "vectors_read" -> vectorsRead, "vectors_written" -> written,
      "dimension" -> dim, "dry_run" -> dryRun)
    MigrateResult(vectorsRead, written, dim, dryRun)
  }
}
