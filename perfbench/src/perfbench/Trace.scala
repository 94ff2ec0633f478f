package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: wall from the monotonic clock, bounds in epoch ms (the
  * clock Spark stamps its job events with). `parent` is -1 at the root. */
final case class Span(id: Int, name: String, parent: Int, opId: Long,
                      startMs: Long, endMs: Long, wallMs: Double)

/** What the per-call counters are made of. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0, actions: Long = 0, planMs: Double = 0,
    cpuMs: Double = 0, gcMs: Double = 0, rowsRead: Long = 0, bytesRead: Long = 0,
    filesRead: Long = 0, shuffleBytes: Long = 0, bytesWritten: Long = 0,
    filesWritten: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    actions + o.actions, planMs + o.planMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
    rowsRead + o.rowsRead, bytesRead + o.bytesRead, filesRead + o.filesRead,
    shuffleBytes + o.shuffleBytes, bytesWritten + o.bytesWritten,
    filesWritten + o.filesWritten)
}

/** Times calls. The untraced form only measures wall time; [[Tracer]]
  * also records spans and attributes Spark work to them. */
class Clock {
  /** Runs `body` as the span `name` (nested under the open span) and
    * returns its result with its wall time in ms. */
  def timed[T](name: String, opId: Long = -1L)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def span[T](name: String, opId: Long = -1L)(body: => T): T = timed(name, opId)(body)._1
  def traced: Boolean = false
}

/** The traced clock. Each span sets a Spark local property on the client
  * thread; jobs carry it in their properties, so this class's own
  * `SparkListener` attributes jobs, stages and task metrics to the span
  * that launched them. Jobs without the property go to the `unattributed`
  * bucket. Query executions carry no properties to the listener, so they
  * are attributed to the innermost span open when they were planned —
  * exact here because one client thread issues every call. Spans and
  * events stay in memory until [[report]]. */
final class Tracer(spark: SparkSession) extends Clock {
  import Tracer._

  override def traced: Boolean = true

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  private final class JobRec(val span: Int, val startMs: Long) { @volatile var endMs: Long = -1L }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageCounters = new ConcurrentHashMap[Int, Counters]()
  private final case class QeRec(key: (Int, Long), atMs: Long, planMs: Double,
                                 filesRead: Long, filesWritten: Long)
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val events = new AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      jobs.put(e.jobId, new JobRec(tag.map(_.toInt).getOrElse(Unattributed), e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      events.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      events.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = if (m == null) Counters(tasks = 1) else Counters(tasks = 1,
        cpuMs = m.executorCpuTime / 1e6, gcMs = m.jvmGCTime.toDouble,
        rowsRead = m.inputMetrics.recordsRead, bytesRead = m.inputMetrics.bytesRead,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        bytesWritten = m.outputMetrics.bytesWritten)
      stageCounters.merge(e.stageId, c, (a: Counters, b: Counters) => a + b)
      events.incrementAndGet()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs.toDouble).sum
      val at = ph.get("planning").map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
      val (fr, fw) = PlanFiles(qe.executedPlan)
      qes.add(QeRec((System.identityHashCode(qe), at), at, planMs, fr, fw))
      events.incrementAndGet()
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  override def timed[T](name: String, opId: Long = -1L)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    open = id :: open
    sc.setLocalProperty(Prop, id.toString)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val wall = (System.nanoTime() - t0) / 1e6
      spans += Span(id, name, parent, opId, s0, System.currentTimeMillis(), wall)
      (r, wall)
    } finally {
      open = open.tail
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Waits until the listener bus has delivered every event of the jobs
    * started so far, then stops listening. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000L
    var last = -1L
    var quiet = 0
    while (quiet < 5 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = events.get()
      val pending = jobs.values.asScala.exists(_.endMs < 0)
      if (now == last && !pending) quiet += 1 else quiet = 0
      last = now
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Per-span counters and job intervals (span id -> ...); the
    * [[Tracer.Unattributed]] key collects jobs that carried no span tag. */
  def report(): (Map[Int, Counters], Map[Int, Seq[(Long, Long)]]) = {
    val byJob = mutable.Map.empty[Int, Counters]
    stageCounters.asScala.foreach { case (stage, c) =>
      Option(stageJob.get(stage)).foreach(j => byJob(j) = byJob.getOrElse(j, Counters()) + c)
    }
    val counters = mutable.Map.empty[Int, Counters]
    val intervals = mutable.Map.empty[Int, Seq[(Long, Long)]]
    jobs.asScala.foreach { case (j, rec) =>
      counters(rec.span) = counters.getOrElse(rec.span, Counters()) +
        byJob.getOrElse(j, Counters()).copy(jobs = 1)
      intervals(rec.span) = intervals.getOrElse(rec.span, Nil) :+
        ((rec.startMs, if (rec.endMs < 0) rec.startMs else rec.endMs))
    }
    val seen = mutable.Set.empty[(Int, Long)]
    qes.asScala.foreach { q =>
      val owner = spans.filter(s => s.startMs <= q.atMs && q.atMs <= s.endMs)
        .sortBy(s => (-s.startMs, -s.id)).headOption.map(_.id).getOrElse(Unattributed)
      val plan = if (seen.add(q.key)) q.planMs else 0.0
      counters(owner) = counters.getOrElse(owner, Counters()) +
        Counters(actions = 1, planMs = plan, filesRead = q.filesRead, filesWritten = q.filesWritten)
    }
    (counters.toMap, intervals.toMap)
  }
}

object Tracer {
  val Prop = "perfbench.span"
  val Unattributed: Int = -2
}

/** Files read by the scans and written by the writes of an executed plan,
  * from the SQL metrics Spark keeps on those nodes. */
private object PlanFiles extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Long, Long) = {
    var read = 0L
    var written = 0L
    foreachWithSubqueries(plan) {
      case s: FileSourceScanExec => read += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case w: DataWritingCommandExec => written += w.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
    (read, written)
  }

  private def foreachWithSubqueries(p: SparkPlan)(f: SparkPlan => Unit): Unit =
    collectWithSubqueries(p) { case n => f(n) }: Unit
}
