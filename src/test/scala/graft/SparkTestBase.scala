package graft

import graft.core.LocalSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM (Test/fork := true
  * gives the suite its own JVM; suites share the session lazily).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = LocalSpark.session("graft-test", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestBase.spark

  /** Spark jobs started while `body` runs on this thread, counted once the
    * listener bus has delivered every event posted by then.
    */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusTestAccess.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}

/** Keeps every core of a local session busy while `body` runs: one Spark
  * job whose tasks wait on a latch until `body` returns. Local-mode tasks
  * run in this JVM, so they read the latches from this object, not from a
  * serialized closure.
  */
object BusyCores extends Serializable {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  import scala.concurrent.{Await, ExecutionContext, Future}
  import scala.concurrent.duration._

  @volatile private var started = new CountDownLatch(0)
  @volatile private var release = new CountDownLatch(0)

  def during[T](spark: SparkSession)(body: => T): T = synchronized {
    val cores = spark.sparkContext.defaultParallelism
    started = new CountDownLatch(cores)
    release = new CountDownLatch(1)
    val job = Future(spark.sparkContext.parallelize(0 until cores, cores).foreach { _ =>
      BusyCores.started.countDown()
      BusyCores.release.await(120, TimeUnit.SECONDS)
    })(ExecutionContext.global)
    try {
      assert(started.await(60, TimeUnit.SECONDS), s"the $cores blocking tasks did not all start")
      body
    } finally {
      release.countDown()
      Await.result(job, 60.seconds)
    }
  }
}
