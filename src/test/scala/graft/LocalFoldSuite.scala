package graft

import graft.core.{LocalFold, LocalFoldTestAccess}
import graft.query.GraftService
import graft.store.SnapshotStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** `graft.core.LocalFold`: what it folds answers as Spark does with no
  * job, what it leaves to Spark keeps Spark's plan and answer, and how it
  * is installed. Each test runs on new sessions of the shared context, so
  * it does not depend on whether a suite before it installed the rule on
  * the shared session.
  */
class LocalFoldSuite extends SparkFunSuite {

  /** A session of the shared context with the rule, and one without. */
  private lazy val folding: SparkSession = {
    val s = spark.newSession()
    LocalFold.install(s)
    s
  }
  private lazy val plain: SparkSession = spark.newSession()

  private val schema = StructType.fromDDL("k STRING, v INT, l BIGINT, d DOUBLE, m DECIMAL(10,2)")

  private val rows: Seq[Row] = Seq(
    Row("a", 3, 30L, 1.5, new java.math.BigDecimal("1.25")),
    Row("b", 1, 10L, Double.NaN, new java.math.BigDecimal("-3.50")),
    Row(null, 2, 20L, -0.0, null),
    Row("a", 5, 50L, 1e16, new java.math.BigDecimal("99999999.99")),
    Row("b", 4, 40L, 0.0, new java.math.BigDecimal("0.01")),
    Row("a", 1, 10L, -1e16, new java.math.BigDecimal("-0.01")),
    Row(null, null, null, null, null),
    Row("c", 2, 20L, 1.0, new java.math.BigDecimal("7.00")))

  private def frame(s: SparkSession): DataFrame = s.createDataFrame(rows.asJava, schema)

  /** Rows with every double as its raw bits. */
  private def bits(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq.map {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case x => x
  })

  private def answer(rs: Seq[Row], ordered: Boolean): Seq[Any] =
    if (ordered) bits(rs) else bits(rs).map(_.toString).sorted

  /** Jobs `shape` runs in `s` on collect, and its rows. */
  private def run(s: SparkSession, shape: SparkSession => DataFrame): (Int, Seq[Row]) = {
    var got: Seq[Row] = Nil
    val jobs = jobsOf { got = shape(s).collect().toSeq }
    (jobs, got)
  }

  /** `shape` keeps Spark's plan under the rule: it runs jobs, and answers
    * as it does without the rule.
    */
  private def keepsSparksPlan(shape: SparkSession => DataFrame, ordered: Boolean = false): Unit = {
    val (jobs, got) = run(folding, shape)
    assert(jobs > 0, shape(folding).queryExecution.optimizedPlan)
    assert(answer(got, ordered) == answer(shape(plain).collect().toSeq, ordered))
  }

  /** `shape` folds to one local relation, runs no job, and answers as it
    * does without the rule.
    */
  private def folds(shape: SparkSession => DataFrame, ordered: Boolean = false, in: SparkSession = folding): Unit = {
    assert(shape(in).queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      shape(in).queryExecution.optimizedPlan)
    val (jobs, got) = run(in, shape)
    assert(jobs == 0)
    assert(answer(got, ordered) == answer(shape(plain).collect().toSeq, ordered))
  }

  test("count, sort, group, distinct and union of local frames fold and answer as Spark does") {
    folds(s => frame(s).groupBy().count())
    folds(s => frame(s).orderBy(col("d").desc, col("k").asc_nulls_last, col("v")), ordered = true)
    folds(s => frame(s).groupBy(col("d")).agg(count(lit(1)), min("k"), max("v"), sum("l"), avg("v")))
    folds(s => frame(s).groupBy(col("k"), col("v") % 2).agg(sum("v"), sum("m"), avg("m"), count("d")))
    folds(s => frame(s).select("k", "v").distinct())
    folds(s => frame(s).union(frame(s)).distinct())
    folds(s => frame(s).union(frame(s).filter(col("v") > 2)))
  }

  test("chains over a folded node fold too: orderBy + limit, groupBy + count + filter") {
    folds(s => frame(s).orderBy(col("l").desc_nulls_last, col("k")).limit(3), ordered = true)
    folds(s => frame(s).groupBy("k").count().filter(col("count") > 1).orderBy("k"), ordered = true)
    folds(s => frame(s).union(frame(s)).groupBy("k").agg(max("d")).select(col("k"), col("max(d)") + 1))
  }

  test("an empty local frame: a global aggregate answers one row, a grouped one none") {
    folds(s => frame(s).filter(lit(false)).agg(count(lit(1)), sum("v"), min("k"), avg("m")))
    folds(s => frame(s).filter(lit(false)).groupBy("k").count())
    folds(s => frame(s).filter(lit(false)).orderBy("v"))
  }

  test("rand(): an aggregate with a nondeterministic result keeps Spark's plan") {
    keepsSparksPlan(s => frame(s).groupBy("k").agg(max("v") + rand(7)))
    keepsSparksPlan(s => frame(s).agg(count(lit(1)) * rand(11)))
    // Spark itself folds the projection a sort by rand() is planned over,
    // so that sort sorts fixed values and folds
    folds(s => frame(s).orderBy(rand(3)), ordered = true)
  }

  test("a double sum or avg, and an avg of longs, keep Spark's plan") {
    keepsSparksPlan(s => frame(s).groupBy("k").agg(sum("d")))
    keepsSparksPlan(s => frame(s).agg(avg("d")))
    keepsSparksPlan(s => frame(s).groupBy("k").agg(avg("l")))
  }

  test("first, last and collect_list keep Spark's plan") {
    keepsSparksPlan(s => frame(s).groupBy("k").agg(first("v")))
    keepsSparksPlan(s => frame(s).groupBy("k").agg(last("v")))
    keepsSparksPlan(s => frame(s).groupBy("k").agg(sort_array(collect_list("v"))))
  }

  test("a distinct aggregate keeps Spark's plan") {
    keepsSparksPlan(s => frame(s).groupBy("k").agg(countDistinct("v")))
  }

  test("sortWithinPartitions keeps Spark's plan") {
    keepsSparksPlan(s => frame(s).sortWithinPartitions(col("v").desc), ordered = true)
  }

  test("a join of two local frames keeps Spark's plan") {
    keepsSparksPlan(s => frame(s).join(frame(s).select("k", "m"), "k"))
  }

  test("a spark.range leaf keeps Spark's plan") {
    keepsSparksPlan(s => s.range(10).toDF().groupBy(col("id") % 3).count())
    keepsSparksPlan(s => s.range(10).toDF().orderBy(col("id").desc), ordered = true)
    keepsSparksPlan(s => frame(s).select("l").union(s.range(3).toDF("l")))
  }

  test("a local frame at the size rule keeps Spark's plan; one row below it folds") {
    val n = rows.size.toLong
    val (at, below) = (LocalFoldTestAccess.session(spark, n), LocalFoldTestAccess.session(spark, n + 1))
    val shapes: Seq[SparkSession => DataFrame] = Seq(
      s => frame(s).groupBy("k").count(), s => frame(s).orderBy("v", "k"))
    for (shape <- shapes) {
      val (jobs, got) = run(at, shape)
      assert(jobs > 0)
      assert(answer(got, ordered = false) == answer(shape(plain).collect().toSeq, ordered = false))
      folds(shape, in = below)
    }
    // a union counts the rows of all its inputs
    val (union2n, union2n1) = (LocalFoldTestAccess.session(spark, 2 * n),
      LocalFoldTestAccess.session(spark, 2 * n + 1))
    val union: SparkSession => DataFrame = s => frame(s).union(frame(s))
    assert(run(union2n, s => union(s).groupBy().count())._1 > 0)
    assert(run(union2n1, s => union(s).groupBy().count())._1 == 0)
  }

  test("install: two threads building services on one session keep a user rule and add the rule once") {
    for (round <- 1 to 5) {
      val s = spark.newSession()
      val user = new Rule[LogicalPlan] { def apply(plan: LogicalPlan): LogicalPlan = plan }
      s.experimental.extraOptimizations = Seq(user)
      val store = new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-fold").toString)(s)
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (0 until 2).map(_ => Future { start.await(); new GraftService(store)(s) })
      start.countDown()
      threads.foreach(Await.result(_, 60.seconds))
      assert(s.experimental.extraOptimizations == Seq(user, LocalFold), s"round $round")
      LocalFold.install(s)
      assert(s.experimental.extraOptimizations == Seq(user, LocalFold), s"round $round, installed again")
    }
  }
}
