package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.tables.ManagedTable

/** One ingest call of the timed loop. `versions` holds, per silver table
  * the call wrote, the table version before and after it. */
final case class IngestRec(span: Span, rows: Long, bronzeBytes: Long,
    cpuS: Double, gcS: Double, versions: Seq[(String, Long, Long)],
    entitySeconds: Seq[Double]) {
  def wall: Double = span.seconds
}

/** One read of the read mix. `liveFiles` is the table's file count when a
  * point lookup ran (traced cycles only). */
final case class ReadRec(kind: String, span: Span, scan: Option[(Long, Long)],
    liveFiles: Option[Long])

/** One `Runner.maintainEntity` call and the versions it committed. */
final case class MaintRec(span: Span, root: String, from: Long, to: Long)

/** Run-wide state shared by the workloads: the session, the tracer, the
  * operation and failure counts, and everything measured. */
final class Ctx(session: => SparkSession, val seed: Long, val nproc: Int,
    trace: Boolean, val inputs: String, val hconf: Configuration) {

  /** The session is started while the inputs are generated; generation
    * must not touch it. */
  lazy val spark: SparkSession = session
  lazy val tracer: Tracer = new Tracer(spark, trace)

  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  /** Whether ingests and reads are recorded: only in the timed loop. */
  var measuring = false
  val ingests = ArrayBuffer.empty[IngestRec]
  val reads = ArrayBuffer.empty[ReadRec]
  val maints = ArrayBuffer.empty[MaintRec]

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"graftbench FAILED: $msg")
  }

  /** Run one operation; an exception counts it as failed. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case e: Throwable =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      None
    }
  }

  /** One output check: counts as an operation, fails on mismatch. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(s"$what: $detail")
  }

  def table(path: String): ManagedTable = ManagedTable(spark, path)
  def version(path: String): Long = table(path).currentVersion.getOrElse(-1L)

  /** One read: builds the frame and collects it inside the span, so driver
    * work such as file skipping is timed too. `verify` returns an error
    * message on a wrong result. */
  def read(kind: String, liveFiles: => Option[Long] = None)(mk: => DataFrame)(
      verify: Array[Row] => Option[String]): Unit = {
    val live = if (tracer.live && kind == "point") liveFiles else None
    op(s"read.$kind") {
      val ((df, rows), span) = tracer.span(s"read.$kind") {
        val df = mk
        (df, df.collect())
      }
      val scan =
        if (!tracer.live) None
        else { tracer.drain(); tracer.scans.take(df.queryExecution) }
      if (measuring) reads += ReadRec(kind, span, scan, live)
      verify(rows).foreach(m => check(s"read.$kind", ok = false, m))
    }
  }

  /** `Runner.maintainEntity` on one silver table, timed. Kept from the
    * warm-up pass on, which runs on the lake the timed loop uses. */
  def maintain(root: String)(f: => Unit): Unit = op("maintain") {
    val from = version(root)
    val (_, span) = tracer.span("maintain")(f)
    maints += MaintRec(span, root, from, version(root))
  }

  /** Time one ingest call: wall time, process CPU and GC time. `run` gets
    * the ingest span open, so a workload may nest layer spans in it. */
  def ingest[T](rows: Long, bronzeBytes: Long, roots: Seq[String])(
      run: => T)(durations: T => Seq[Double]): Option[T] = {
    val before = roots.map(version)
    val cpu0 = Jvm.cpuSeconds; val gc0 = Jvm.gcSeconds
    val res = op("ingest")(tracer.span("ingest")(run))
    val cpu = Jvm.cpuSeconds - cpu0; val gc = Jvm.gcSeconds - gc0
    res.map { case (r, span) =>
      if (measuring) {
        val after = roots.map(version)
        ingests += IngestRec(span, rows, bronzeBytes, cpu, gc,
          roots.indices.map(i => (roots(i), before(i), after(i))), durations(r))
      }
      r
    }
  }
}
