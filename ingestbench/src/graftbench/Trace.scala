package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `op` is the loop cycle it belongs to
  * (-1 in setup); `parent` is the enclosing span's id (-1 at the root). */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, traced: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A Spark job as the scheduler listener saw it. `execution` is the SQL
  * execution that ran it, if any. */
final case class JobRec(id: Int, span: Int, startMs: Long, execution: Option[Long],
    stageSite: String) {
  @volatile var endMs: Long = -1L
}

/** Per-span task counters, filled from task-end events. */
final class TaskAcc {
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val outputBytes = new AtomicLong
}

/** Scheduler listener: every job, submitted stage and finished task is
  * charged to the span that was open on the submitting thread, read from
  * the `graftbench.span` local property. Spark copies local properties into
  * threads created later (the runner's pool) and into broadcast and
  * subquery threads, so concurrent entity work is charged correctly. */
final class SchedulerTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val acc = new ConcurrentHashMap[Int, TaskAcc]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(-1)
  private def accOf(span: Int): TaskAcc = acc.computeIfAbsent(span, _ => new TaskAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time, exec, site))
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => executionSite.put(x.executionId, x.details)
    case _ =>
  }

  /** The stack that submitted the job. Jobs of a SQL execution may be
    * submitted from a stage-materialization thread, so the execution's own
    * call site (the action on the caller's thread) is used for them. */
  def callSite(j: JobRec): String =
    j.execution.flatMap(x => Option(executionSite.get(x))).getOrElse(j.stageSite)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, span)
    accOf(span).stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = accOf(stageSpan.getOrDefault(e.stageId, -1))
    a.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
}

/** Query listener: file and byte counts of every scan in a finished query,
  * kept with the query so a read span can find its own execution. */
final class ScanTrace extends QueryExecutionListener {
  private final class Scan(val qe: QueryExecution, val files: Long, val bytes: Long)
  private val scans = ArrayBuffer.empty[Scan]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = ScanTrace.scanNodes(qe.executedPlan)
    def sum(key: String) = nodes.flatMap(_.metrics.get(key)).map(_.value).sum
    synchronized(scans += new Scan(qe, sum("numFiles"), sum("filesSize")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(qe: QueryExecution): Option[(Long, Long)] = synchronized {
    val i = scans.indexWhere(_.qe eq qe)
    if (i < 0) None
    else { val s = scans.remove(i); Some((s.files, s.bytes)) }
  }
}

object ScanTrace {
  def scanNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec        => scanNodes(q.plan)
    case s if s.metrics.contains("numFiles") && s.children.isEmpty => Seq(s)
    case other => other.children.flatMap(scanNodes) ++ other.subqueries.flatMap(scanNodes)
  }
}

/** Spans, JVM counters and (when tracing) the Spark listeners. With
  * tracing off nothing is registered with Spark: spans are still timed,
  * because the end-to-end metrics are built from them. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  /** Whether the listeners are attached for the current cycle. */
  var live: Boolean = false

  val sched = new SchedulerTrace
  val scans = new ScanTrace

  /** Attach the listeners for one traced cycle. */
  def attach(): Unit = if (enabled && !live) {
    sc.addSparkListener(sched)
    spark.listenerManager.register(scans)
    live = true
  }

  /** Deliver every pending event, then detach. */
  def detach(): Unit = if (live) {
    BenchBus.drain(sc)
    sc.removeSparkListener(sched)
    spark.listenerManager.unregister(scans)
    live = false
  }

  def drain(): Unit = if (live) BenchBus.drain(sc)

  /** Time `f` as a span named `name` under the innermost open span. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    stack = id :: stack
    val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, name, op, parent, ns0, System.nanoTime(), ms0,
        System.currentTimeMillis(), live)
      spans += s
      (r, s)
    } finally {
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def descendants(s: Span): Set[Int] = {
    val kids = children(s)
    Set(s.id) ++ kids.flatMap(descendants)
  }

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = descendants(s)
    sched.jobs.values.asScala.filter(j => ids.contains(j.span)).toSeq
  }

  def tasksUnder(s: Span): Seq[TaskAcc] = {
    val ids = descendants(s)
    sched.acc.asScala.collect { case (k, v) if ids.contains(k) => v }.toSeq
  }

  /** Wall milliseconds inside [lo, hi] covered by at least one job. */
  def busyMs(jobs: Seq[JobRec], lo: Long, hi: Long): Long = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  /** Spans as JSON lines, with self time (duration minus children). */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    val self = s.seconds - children(s).map(_.seconds).sum
    f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},""" +
      s""""self_seconds":$self,"traced":${s.traced}}"""
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** JVM-side counters that need no listener: process CPU, GC time, and the
  * heap still in use after a full collection. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val memory = ManagementFactory.getMemoryMXBean

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3

  private var peak = 0L

  /** Run a full collection and keep the heap still in use as a candidate
    * peak. Called between cycles, outside every timed span: as in
    * graft.Bench, the collection also lets Spark's cleaner reclaim the
    * finished cycle's broadcasts and shuffles before the next one starts. */
  def collect(): Unit = {
    System.gc()
    peak = math.max(peak, memory.getHeapMemoryUsage.getUsed)
    // the cleaner works off the collected references asynchronously
    Thread.sleep(100)
  }

  /** Peak heap in use after a full collection, in MB. */
  def peakHeapMb: Double = peak / 1048576.0
}
