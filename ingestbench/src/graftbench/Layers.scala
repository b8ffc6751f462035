package graftbench

/** Per-layer metrics of a traced run. Each is measured from outside the
  * layer: spans around its public calls, the scheduler and query
  * listeners, and the tables' own commit history and details. */
object Layers {
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** A job belongs to the source phase when `Processing.source` submitted
    * it: the slice read, the stats and watermark aggregate, the partition
    * values (see [[SchedulerTrace.callSite]]). */
  def isSource(callSite: String): Boolean = callSite.contains("graft.pipeline.Processing.source")

  def metrics(ctx: Ctx, w: Workload, wm0: Long): Seq[(String, (Double, String))] = {
    val t = ctx.tracer
    val ing = ctx.ingests.toSeq
    val traced = ing.filter(_.span.traced)
    val untraced = ing.filterNot(_.span.traced)

    // (source_s, strategy_s, strategy_driver_s, unattributed_s, source jobs, strategy jobs)
    val split = traced.map { r =>
      val s = r.span
      val kids = t.children(s)
      (kids.find(_.name == "source"), kids.find(_.name == "strategy")) match {
        case (Some(src), Some(st)) =>
          val stJobs = t.jobsUnder(st)
          val driver = (st.endMs - st.startMs - t.busyMs(stJobs, st.startMs, st.endMs)) / 1e3
          (src.seconds, st.seconds, driver, s.seconds - src.seconds - st.seconds,
            t.jobsUnder(src).size.toDouble, stJobs.size.toDouble)
        case _ =>
          // Runner.processGroup builds its Processing objects itself, so
          // its batch is split by job call site instead of by span: the
          // source phase is the wall time its jobs cover, unattributed is
          // the batch time before the first and after the last job
          val jobs = t.jobsUnder(s).filter(_.endMs >= 0)
          val (srcJobs, stJobs) = jobs.partition(j => isSource(t.sched.callSite(j)))
          if (jobs.isEmpty) (0.0, s.seconds, s.seconds, 0.0, 0.0, 0.0)
          else {
            val lo = jobs.map(_.startMs).min; val hi = jobs.map(_.endMs).max
            val srcS = t.busyMs(srcJobs, lo, hi) / 1e3
            val unattributed = s.seconds - (hi - lo) / 1e3
            val driver = (hi - lo - t.busyMs(jobs, lo, hi)) / 1e3
            (srcS, s.seconds - srcS - unattributed, driver, unattributed,
              srcJobs.size.toDouble, stJobs.size.toDouble)
          }
      }
    }

    def perTraced(f: IngestRec => Double): Double = mean(traced.map(f))
    def taskSum(r: IngestRec, f: TaskAcc => Long): Double = t.tasksUnder(r.span).map(f).sum.toDouble

    // commit metrics of every silver version, from the tables' own history
    val hist: Map[(String, Long), Map[String, Long]] = w.silverRoots.flatMap { root =>
      ctx.table(root).history().map(h => (root, h.version) -> h.metrics)
    }.toMap
    def commitSum(ranges: Seq[(String, Long, Long)], key: String): Double =
      ranges.map { case (root, from, to) =>
        ((from + 1) to to).map(v => hist.getOrElse((root, v), Map.empty[String, Long])
          .getOrElse(key, 0L)).sum
      }.sum.toDouble
    def perIngest(key: String) = mean(ing.map(r => commitSum(r.versions, key)))

    val reads = ctx.reads.toSeq
    def readP50(kind: String) = Stats.median(reads.filter(_.kind == kind).map(_.span.seconds))
    val scanned = reads.flatMap(_.scan)
    val points = reads.filter(_.kind == "point").flatMap(r =>
      for ((files, _) <- r.scan; live <- r.liveFiles if live > 0) yield files.toDouble / live)

    val maints = ctx.maints.toSeq
    val wm = ctx.table(w.watermarkRoot)
    val entity = ing.flatMap(_.entitySeconds)

    Seq(
      "pipeline.source_s" -> (mean(split.map(_._1)), "s"),
      "pipeline.source_jobs" -> (mean(split.map(_._5)), "count"),
      "pipeline.strategy_s" -> (mean(split.map(_._2)), "s"),
      "pipeline.strategy_jobs" -> (mean(split.map(_._6)), "count"),
      "pipeline.strategy_driver_s" -> (mean(split.map(_._3)), "s"),
      "pipeline.unattributed_s" -> (mean(split.map(_._4)), "s"),
      "spark.jobs_per_ingest" -> (perTraced(r => t.jobsUnder(r.span).size.toDouble), "count"),
      "spark.stages_per_ingest" -> (perTraced(r => taskSum(r, _.stages.get)), "count"),
      "spark.tasks_per_ingest" -> (perTraced(r => taskSum(r, _.tasks.get)), "count"),
      "spark.input_bytes_per_ingest" -> (perTraced(r => taskSum(r, _.inputBytes.get)), "bytes"),
      "spark.shuffle_write_bytes_per_ingest" ->
        (perTraced(r => taskSum(r, _.shuffleWriteBytes.get)), "bytes"),
      "spark.output_bytes_per_ingest" -> (perTraced(r => taskSum(r, _.outputBytes.get)), "bytes"),
      "log.jobs_per_ingest" -> (perTraced(r =>
        t.jobsUnder(r.span).count(j => t.sched.callSite(j).contains("graft.log.")).toDouble), "count"),
      "tables.files_added_per_ingest" -> (perIngest("filesAdded"), "count"),
      "tables.files_removed_per_ingest" -> (perIngest("filesRemoved"), "count"),
      "tables.bytes_added_per_ingest" -> (perIngest("bytesAdded"), "bytes"),
      "tables.write_amp" -> (ing.map(r => commitSum(r.versions, "bytesAdded")).sum /
        ing.map(_.bronzeBytes).sum, "ratio"),
      "tables.live_files" -> (w.silverRoots.map(ctx.table(_).detail().numFiles).sum.toDouble,
        "count"),
      "tables.scan_files_per_read" -> (mean(scanned.map(_._1.toDouble)), "count"),
      "tables.scan_bytes_per_read" -> (mean(scanned.map(_._2.toDouble)), "bytes"),
      "tables.point_prune_ratio" -> (mean(points), "ratio"),
      "read.point_p50_s" -> (readP50("point"), "s"),
      "read.agg_p50_s" -> (readP50("agg"), "s"),
      "read.changes_p50_s" -> (readP50("changes"), "s"),
      "read.time_travel_p50_s" -> (readP50("time_travel"), "s"),
      "tables.maintain_s" -> (mean(maints.map(_.span.seconds)), "s"),
      "tables.maintain_bytes_rewritten" -> (mean(maints.map(m =>
        commitSum(Seq((m.root, m.from, m.to)), "bytesAdded"))), "bytes"),
      "watermark.commits_per_ingest" ->
        ((ctx.version(w.watermarkRoot) - wm0).toDouble / ing.size, "count"),
      "watermark.live_files" -> (wm.detail().numFiles.toDouble, "count"),
      "runner.entity_p50_s" -> (Stats.median(entity), "s"),
      "runner.concurrency" -> (entity.sum / ing.map(_.wall).sum, "ratio"),
      "jvm.gc_s_per_ingest" -> (mean(ing.map(_.gcS)), "s"),
      "trace.overhead" -> (Stats.median(traced.map(_.wall)) / Stats.median(untraced.map(_.wall)),
        "ratio"))
  }
}
