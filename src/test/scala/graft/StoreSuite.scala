package graft

import graft.store.SnapshotStore
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** `SnapshotStore`'s commit path: batches written from the driver against
  * Spark-written ones, orphan and empty batches, and readers racing the
  * snapshot pointer.
  */
class StoreSuite extends SparkFunSuite {
  import spark.implicits._

  private def newStore(prefix: String): SnapshotStore =
    new SnapshotStore(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** A value with every float and double as its raw bits, arrays and maps
    * as sequences in stored order.
    */
  private def bits(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case r: Row => r.toSeq.map(bits)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (bits(k), bits(x)) }
    case s: scala.collection.Seq[_] => s.map(bits)
    case x => x
  }

  private def rowBits(df: DataFrame): Seq[String] = df.collect().toSeq.map(r => bits(r).toString).sorted

  /** The one Parquet data file of a table's latest batch. */
  private def partFile(st: SnapshotStore, table: String): Path = {
    val dir = new Path(st.root, s"$table/data/${st.latest(table).get.batches.last}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(", "))
    parts.head
  }

  private val mixedSchema = StructType.fromDDL(
    "node_id STRING, factor DOUBLE, name STRING, vec ARRAY<FLOAT>, attrs MAP<STRING, DOUBLE>, " +
      "n BIGINT NOT NULL, amount DECIMAL(10,2), at TIMESTAMP")

  private val mixedRows: Seq[Row] = Seq(
    Row("web:Alpha", 1.5, "Zürich", Seq(0.25f, -0.0f, Float.NaN), Map("w" -> 0.5, "z" -> -0.0), 1L,
      new java.math.BigDecimal("12.34"), java.sql.Timestamp.valueOf("2024-02-29 12:00:00")),
    Row(null, Double.NaN, "東京 🚀", Seq.empty[Float], Map.empty[String, Double], 2L, null, null),
    Row("web:Beta", -0.0, null, null, null, 3L, new java.math.BigDecimal("-0.01"),
      java.sql.Timestamp.valueOf("1900-01-01 00:00:00")),
    Row("web:Gamma", null, "", Seq(Float.MaxValue), Map("nan" -> Double.NaN), Long.MinValue,
      new java.math.BigDecimal("99999999.99"), java.sql.Timestamp.valueOf("2262-04-11 23:47:16")))

  /** Commits `local`, a frame whose rows are on the driver, and the same
    * rows as a one-task Spark write, and checks that the driver wrote
    * `local` with no job and as Spark writes it: schema, rows as bits,
    * Parquet footer and codecs.
    */
  private def assertWrittenAsSpark(st: SnapshotStore, local: DataFrame): Unit = {
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(local.collect().toSeq, 1), local.schema)
    assert(jobsOf(st.commitReplace("local", local, Seq.empty)) == 0)
    st.commitReplace("spark", distributed, Seq.empty)

    val (got, want) = (st.read("local"), st.read("spark"))
    assert(got.schema == want.schema)
    assert(rowBits(got) == rowBits(want))
    assert(rowBits(got) == rowBits(local))

    val conf = spark.sparkContext.hadoopConfiguration
    def footer(p: Path) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getFooter finally r.close()
    }
    val (a, b) = (footer(partFile(st, "local")), footer(partFile(st, "spark")))
    assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema)
    assert(a.getFileMetaData.getKeyValueMetaData == b.getFileMetaData.getKeyValueMetaData)
    assert(a.getFileMetaData.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assert(a.getFileMetaData.getKeyValueMetaData.containsKey("org.apache.spark.version"))
    def codecs(f: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    assert(codecs(a) == codecs(b) && codecs(a).nonEmpty)
    assert(partFile(st, "local").getName.matches("part-00000-[0-9a-f-]{36}\\.snappy\\.parquet"))
  }

  test("a driver-written batch equals a Spark-written one: schema, rows as bits, Parquet footer") {
    assertWrittenAsSpark(newStore("graft-store-eq"), spark.createDataFrame(mixedRows.asJava, mixedSchema))
  }

  test("an ordered or aggregated local frame is written from the driver under LocalFold, as Spark writes it") {
    // a session of the shared context with the rule, whatever ran before
    val folding = spark.newSession()
    graft.core.LocalFold.install(folding)
    val plain = spark.newSession()
    val shapes: Seq[(String, org.apache.spark.sql.SparkSession => DataFrame)] = Seq(
      "ordered" -> (s => s.createDataFrame(mixedRows.asJava, mixedSchema)
        .orderBy(col("factor").desc_nulls_first, col("node_id"))),
      "aggregated" -> (s => s.createDataFrame(mixedRows.asJava, mixedSchema)
        .groupBy(col("name")).agg(count(lit(1)), max("factor"), min("amount"), sum("n"), max("at"))))
    for ((name, shape) <- shapes) {
      val st = new SnapshotStore(java.nio.file.Files.createTempDirectory(s"graft-store-$name").toString)(folding)
      assertWrittenAsSpark(st, shape(folding))
      assert(rowBits(st.read("local")) == rowBits(shape(plain)), name)
    }
  }

  test("an empty local frame commits with no job and reads back empty with its schema") {
    val st = newStore("graft-store-empty")
    val empty = Seq.empty[(String, Double)].toDF("node_id", "factor")
    assert(jobsOf(st.commitReplace("t", empty, Seq("p0"))) == 0)
    val back = st.read("t")
    assert(back.schema == StructType.fromDDL("node_id STRING, factor DOUBLE"))
    assert(back.collect().isEmpty)
    assert(st.ingestedPartitions("t") == Set("p0"))
  }

  test("a stale part file in an orphan batch directory is replaced, not merged") {
    val st = newStore("graft-store-orphan")
    st.commitReplace("t", Seq(("a", 1.0)).toDF("node_id", "factor"), Seq.empty)
    // a killed run wrote batch=00001 but never committed its manifest
    Seq(("stale", 9.0)).toDF("node_id", "factor")
      .write.parquet(new Path(st.root, "t/data/batch=00001").toString)
    val snap = st.commitReplace("t", Seq(("b", 2.0)).toDF("node_id", "factor"), Seq.empty)
    assert(snap.batches == Seq("batch=00001"))
    assert(st.read("t").as[(String, Double)].collect().toSeq == Seq(("b", 2.0)))
  }

  test("a frame that is not on the driver is still written by a Spark job") {
    val st = newStore("graft-store-job")
    assert(jobsOf(st.commitAppend("t", spark.range(5).toDF("k"), Seq("p0"))) >= 1)
    assert(jobsOf(st.commitAppend("t", Seq(5L, 6L).toDF("k"), Seq("p1"))) == 0)
    assert(st.read("t").as[Long].collect().sorted.toSeq == (0L to 6L))
  }

  // the pointer is replaced by delete + rename wherever the file system
  // refuses to rename onto an existing file, as HDFS does and as the
  // `file:` file system on the test classpath does
  test("a reader during 200 commits never throws and never sees a lower snapshot id") {
    val st = newStore("graft-store-race")
    st.commitReplace("t", Seq(0L).toDF("k"), Seq.empty)
    @volatile var writing = true
    val reader = Future {
      var (last, reads) = (-1L, 0)
      while (writing || reads == 0) {
        val id = st.latest("t").getOrElse(fail("no snapshot")).id
        assert(id >= last, s"snapshot id went back from $last to $id")
        // each snapshot holds its own id, and read() resolves the pointer again
        if (reads % 64 == 0) assert(st.read("t").as[Long].collect().forall(_ >= id))
        last = id
        reads += 1
      }
      reads
    }
    try (1 to 200).foreach(i => st.commitReplace("t", Seq(i.toLong).toDF("k"), Seq.empty))
    finally writing = false
    assert(Await.result(reader, 300.seconds) > 200)
    assert(st.latest("t").get.id == 200L)
    assert(st.read("t").as[Long].collect().toSeq == Seq(200L))
  }

  test("a LATEST lost inside the flip resolves to the manifest written before it") {
    val st = newStore("graft-store-flip")
    (0 to 2).foreach(i => st.commitReplace("t", Seq(i.toLong).toDF("k"), Seq(s"p$i")))
    // the pointer is deleted after v2.json was renamed into place, and the
    // new pointer never lands
    val ptr = new Path(st.root, "t/_snapshots/LATEST")
    ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ptr, false)
    assert(st.latest("t").map(_.id).contains(2L))
    assert(st.read("t").as[Long].collect().toSeq == Seq(2L))
    assert(st.commitReplace("t", Seq(3L).toDF("k"), Seq.empty).id == 3L)
    assert(st.latest("t").map(_.id).contains(3L))
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
}
