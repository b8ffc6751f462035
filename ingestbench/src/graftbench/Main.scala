package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Ingestion benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * graftbench.Main --workload merge_cdc --seed 1 --seconds 20 --trace 0 \
  *   --root <fresh scratch dir> [--commit <id>]
  * }}}
  *
  * Prints a `RUN_RECORD` line, one `METRIC` line per metric, and as its last
  * line the result object; exits 1 when any operation or check failed. */
object Main {
  /** Initial loads per run; `setup_s` counts their median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: String, commit: String, setupReps: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), m.getOrElse("commit", "unknown"),
      m.get("setup-reps").map(_.toInt).getOrElse(SetupReps))
  }

  def session(nproc: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.appStateStore.asyncTracking.enable", "true")
      // the flush policy of graft.Bench: local disk, no checksum files, no fsync
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Other JVMs that steal cores: graft test children, other benchmark
    * runs, graft.Bench. Reported, never killed. */
  def preflight(): Seq[String] = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala
      .filter(_.pid() != self)
      .filter(_.info().command().orElse("").endsWith("java"))
      .flatMap { p =>
        val cl = p.info().commandLine()
        if (cl.isPresent) Iterator((p.pid(), cl.get)) else Iterator.empty
      }
      .filter { case (_, cl) =>
        (cl.contains("graftbench.Main") ||
          cl.contains("graft.tables.Crash") || cl.contains("graft.streaming.Crash") ||
          cl.contains("graft.tables.CrossProcess") || cl.contains("graft.Bench") ||
          cl.contains("ScalaTest") || cl.contains("sbt-launch")) }
      .map { case (pid, cl) =>
        val main = cl.split("\\s+").find(a => a.startsWith("graft") || a.contains("sbt-launch"))
          .getOrElse(cl.split("\\s+").last)
        s"pid=$pid main=$main"
      }.toList
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach((q: Path) => Files.deleteIfExists(q))
      finally s.close()
    }
  }

  def jsonValue(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number  => n.toString
    case m: Map[_, _] => m.map { case (k, x) => jsonValue(k.toString) + ":" + jsonValue(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case null       => "null"
    case other      => jsonValue(other.toString)
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch { case e: Throwable =>
      // no result line: the runner reports the failure; exiting also stops
      // the session through its shutdown hook
      e.printStackTrace()
      sys.exit(2)
    }

  def run(a: Args): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val strays = preflight()
    strays.foreach(s => System.err.println(
      s"graftbench PREFLIGHT stray JVM $s: timings below may be inflated by its CPU use"))
    new File(a.root).mkdirs()
    // the session starts on its own thread while the inputs are written
    // straight through parquet-hadoop, which needs no session
    val hconf = new org.apache.hadoop.conf.Configuration()
    hconf.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    val started = new java.util.concurrent.CompletableFuture[(SparkSession, Double)]()
    new Thread(() =>
      try started.complete(timed(session(nproc, a.root)))
      catch { case e: Throwable => started.completeExceptionally(e) }, "graftbench-session").start()
    val ctx = new Ctx(started.get()._1, a.seed, nproc, a.trace, s"${a.root}/inputs", hconf)
    val w = Workload(a.workload, ctx)
    val (inputSizes, inputsS) = timed(w.inputs())
    val (spark, sessionS) = started.get()
    val tracer = ctx.tracer
    // the initial load runs on several fresh lakes and reports its median;
    // the warm-up ingest then runs once on the last lake, which the timed
    // loop uses
    val setupTimes = (0 until a.setupReps).map { r =>
      val lake = s"${a.root}/lake$r"
      if (r > 0) deleteTree(s"${a.root}/lake${r - 1}")
      timed(tracer.span("setup")(w.setup(lake)))._2
    }
    val warmupS = timed(tracer.span("warmup")(w.warmupIngest()))._2
    val setupS = sessionS + Stats.median(setupTimes) + warmupS
    val warmS = timed(w.warm())._2
    Jvm.collect()

    // the timed loop; in a traced run every other cycle has the listeners
    // attached, the rest run untraced to measure the trace overhead, so at
    // least two cycles run
    ctx.measuring = true
    val wm0 = ctx.version(w.watermarkRoot)
    var spaceAmp: Option[(Double, Int)] = None
    def takeSpaceAmp(): Unit = {
      val live = w.silverRoots.map(p => ctx.table(p).detail().sizeBytes).sum
      spaceAmp = Some((w.silverRoots.map(dirBytes).sum.toDouble / live, ctx.ingests.size))
    }
    val t0 = System.nanoTime()
    var c = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || c < 2) {
      tracer.op = c
      if (a.trace && c % 2 == 0) tracer.attach()
      w.cycle(c)
      tracer.detach()
      Jvm.collect()
      if (spaceAmp.isEmpty && ctx.ingests.size >= w.spaceAmpAt) takeSpaceAmp()
      c += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    ctx.measuring = false
    if (spaceAmp.isEmpty) takeSpaceAmp()
    tracer.op = -1
    val finishS = timed(w.finish())._2

    val ing = ctx.ingests.toSeq
    val readS = ctx.reads.map(_.span.seconds).toSeq
    val ingS = ing.map(_.wall)
    val (ingTail, ingTailP, ingN) = Stats.tail(ingS)
    val (readTail, readTailP, readN) = Stats.tail(readS)

    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "ingest_p50_s" -> (Stats.median(ingS), "s"),
      "ingest_tail_s" -> (ingTail, "s"),
      "ingest_rows_per_s" -> (ing.map(_.rows).sum / ingS.sum, "rows/s"),
      "ingest_cpu_s_per_op" -> (ing.map(_.cpuS).sum / ing.size, "s"),
      "read_p50_s" -> (Stats.median(readS), "s"),
      "read_tail_s" -> (readTail, "s"),
      "space_amp" -> (spaceAmp.get._1, "ratio"),
      "peak_heap_mb" -> (Jvm.peakHeapMb, "MB"))
    val failedRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)

    val perLayer = if (a.trace) Layers.metrics(ctx, w, wm0) else Seq.empty

    val metrics = if (a.trace) perLayer else endToEnd.toSeq
    metrics.foreach { case (k, (v, _)) =>
      if (v.isNaN || v.isInfinite) ctx.check(s"metric $k", ok = false, "no samples")
    }

    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "git_commit" -> a.commit,
      "inputs" -> inputSizes, "inputs_s" -> inputsS, "session_s" -> sessionS,
      "initial_load_s" -> setupTimes, "warmup_ingest_s" -> warmupS, "warm_s" -> warmS,
      "loop_s" -> loopS, "final_check_s" -> finishS, "cycles" -> c,
      "ingests" -> ing.size, "reads" -> readS.size, "maintenance" -> ctx.maints.size,
      "ingest_tail" -> Map("percentile" -> ingTailP, "samples" -> ingN),
      "read_tail" -> Map("percentile" -> readTailP, "samples" -> readN),
      "space_amp_after_ingests" -> spaceAmp.get._2,
      "failed_ratio" -> failedRatio, "failures" -> ctx.failures.toSeq,
      "preflight_stray_jvms" -> strays)
    println("RUN_RECORD " + jsonValue(record))
    (endToEnd.toSeq ++ perLayer).foreach { case (k, (v, u)) => println(s"METRIC $k $v $u") }
    println(s"METRIC failed_ratio $failedRatio ratio")

    if (a.trace) {
      val dir = new File(a.root, "trace"); dir.mkdirs()
      Files.write(new File(dir, "spans.jsonl").toPath, tracer.spansJson.asJava)
      val jobs = tracer.sched.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        jsonValue(Map("job" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs,
          "call_site" -> tracer.sched.callSite(j).linesIterator.take(6).mkString(" | "))))
      Files.write(new File(dir, "jobs.jsonl").toPath, jobs.asJava)
    }

    val result = Map(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    spark.stop()
    println(jsonValue(result))
    System.out.flush()
    sys.exit(if (ctx.failed == 0) 0 else 1)
  }
}
