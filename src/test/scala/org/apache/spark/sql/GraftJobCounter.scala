package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Exact Spark-job counts for job-count locks: runs `f` under a fresh job
  * group, drains the listener bus (so every job of `f` has been recorded
  * by the status store), and returns `f`'s result with the short call
  * sites of the jobs it ran, in submission order. Jobs launched from
  * Spark's own helper threads (broadcast, AQE stage materialization)
  * inherit the group and are counted. */
object GraftJobCounter {
  def apply[A](sc: SparkContext)(f: => A): (A, Seq[String]) = {
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job-count lock")
    val out = try f finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty()
    val jobs = sc.statusTracker.getJobIdsForGroup(group).sorted.toSeq
    (out, jobs.map(id => sc.statusTracker.getJobInfo(id)
      .flatMap(_.stageIds.headOption)
      .flatMap(sc.statusTracker.getStageInfo(_))
      .map(_.name).getOrElse("")))
  }
}
