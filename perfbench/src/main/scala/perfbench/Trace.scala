package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans recorded from outside the program, around calls into its layers.
  *
  * A span tags every Spark job its body starts with a job group of its own
  * (`SparkContext.setJobGroup`), and one `SparkListener` rolls the jobs,
  * stages and task metrics of that group up to the span. Spans stay in
  * memory; `toJson` writes them out once the run ends.
  *
  * Jobs come in two kinds. Actions are the jobs the program's own calls
  * start (`collect`, `count`, `localCheckpoint`, writes); their number is
  * fixed by the program's control flow. With adaptive execution on, Spark
  * also runs each query stage as a job of its own, started from its
  * stage-materialisation threads (call site `withThreadLocalCaptured`).
  * How those group into jobs depends on which stage finishes first, so
  * `jobs` may differ by a job or two between identical calls; `actions`
  * does not.
  */
object Trace {

  final case class Span(
      id: Int,
      name: String,
      parent: Int, // -1 for a root span
      runId: String,
      startNs: Long,
      endNs: Long,
      jobs: Int, // jobs that succeeded
      actions: Int, // of those, the ones the program's calls started
      stages: Int,
      tasks: Int,
      shuffleBytes: Long, // shuffle read + shuffle write
      spillBytes: Long, // memory + disk spill
      gcMs: Long, // JVM GC time over the span (local mode: one JVM)
      taskMs: Vector[Long],
      extra: Map[String, Double]) {
    def wallS: Double = (endNs - startNs) / 1e9

    /** max/median task duration; 1.0 when the span ran no tasks. */
    def taskSkew: Double =
      if (taskMs.isEmpty) 1.0
      else {
        val s = taskMs.sorted
        val med = math.max(1L, s(s.size / 2))
        s.last.toDouble / med
      }
  }

  private[perfbench] final class Counters {
    var jobs = 0
    var actions = 0
    var stages = 0
    var tasks = 0
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private[perfbench] def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

final class Tracer(spark: SparkSession, val runId: String) {
  import Trace._

  private val sc = spark.sparkContext
  private val groupPrefix = s"perfbench-$runId-"
  private val lock = new Object
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Boolean)] // job -> (span, is an action)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  private def spanOfGroup(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(groupPrefix))
      .map(_.stripPrefix(groupPrefix).toInt)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOfGroup(e.properties).foreach { id =>
      // a job's own stage is its newest; the others are parents it may reuse
      val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      lock.synchronized {
        jobSpan(e.jobId) = (id, !callSite.contains("withThreadLocalCaptured"))
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (e.jobResult == JobSucceeded)
        jobSpan.get(e.jobId).foreach { case (id, action) =>
          val c = counters.getOrElseUpdate(id, new Counters)
          c.jobs += 1
          if (action) c.actions += 1
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      if (e.stageInfo.failureReason.isEmpty)
        stageSpan.get(e.stageInfo.stageId).foreach(id => counters.getOrElseUpdate(id, new Counters).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = counters.getOrElseUpdate(id, new Counters)
        c.tasks += 1
        c.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  /** Run `body` as span `name`, nested under the calling thread's open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(-1)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    stack.set(id :: stack.get)
    sc.setJobGroup(groupPrefix + id, name, interruptOnCancel = false)
    val gc0 = gcMillis
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val gc = gcMillis - gc0
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      stack.set(stack.get.tail)
      PerfbenchBus.drain(sc)
      val c = lock.synchronized(counters.remove(id)).getOrElse(new Counters)
      val rec = Span(id, name, parent, runId, t0, t1, c.jobs, c.actions, c.stages, c.tasks,
        c.shuffleBytes, c.spillBytes, gc, c.taskMs.toVector, Map.empty)
      lock.synchronized(spans += rec)
    }
  }

  /** Attach a counter measured outside the span (e.g. rows out) to the
    * latest span called `name`. */
  def annotate(name: String, key: String, value: Double): Unit = lock.synchronized {
    val i = spans.lastIndexWhere(_.name == name)
    if (i >= 0) spans(i) = spans(i).copy(extra = spans(i).extra.updated(key, value))
  }

  def all: Vector[Span] = lock.synchronized(spans.toVector.sortBy(_.id))

  /** Spans (and their parents' totals) rolled up: a parent's jobs, tasks
    * and bytes include its children's. */
  def rolledUp: Vector[Span] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def roll(s: Span): Span = kids.getOrElse(s.id, Vector.empty).map(roll).foldLeft(s) { (a, k) =>
      a.copy(jobs = a.jobs + k.jobs, actions = a.actions + k.actions, stages = a.stages + k.stages,
        tasks = a.tasks + k.tasks,
        shuffleBytes = a.shuffleBytes + k.shuffleBytes, spillBytes = a.spillBytes + k.spillBytes,
        taskMs = a.taskMs ++ k.taskMs)
    }
    ss.map(roll)
  }

  /** Self time: the span's wall minus its children's. A span's children
    * run one after another on its own thread. */
  def selfSeconds(s: Span): Double = s.wallS - all.filter(_.parent == s.id).map(_.wallS).sum

  def toJson(t0Ns: Long): String = rolledUp.map { s =>
    val fields = Seq(
      "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
      "run_id" -> Json.str(s.runId),
      "start_s" -> Json.num((s.startNs - t0Ns) / 1e9), "end_s" -> Json.num((s.endNs - t0Ns) / 1e9),
      "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(selfSeconds(s)),
      "jobs" -> Json.num(s.jobs), "actions" -> Json.num(s.actions),
      "stages" -> Json.num(s.stages), "tasks" -> Json.num(s.tasks),
      "shuffle_mb" -> Json.num(s.shuffleBytes / 1e6), "spill_mb" -> Json.num(s.spillBytes / 1e6),
      "gc_s" -> Json.num(s.gcMs / 1e3), "task_skew" -> Json.num(s.taskSkew)) ++
      s.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
    Json.obj(fields)
  }.mkString("[\n", ",\n", "\n]\n")
}
