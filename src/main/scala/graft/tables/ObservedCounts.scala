package graft.tables

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, count_if, lit}

/** Per-tag row counters a commit reads off its own write job. The caller
  * hands [[ManagedTable.replaceFiles]] (or [[ManagedTable.replacePartitions]]
  * / [[ManagedTable.maskAndReplaceFiles]]) a frame whose rows carry a tag
  * in `tagCol`, including rows the commit must count but not write
  * (`written` false: a merge's deletes and dropped inserts). The commit
  * attaches one `count_if` per tag through Spark's `Dataset.observe`
  * directly above its write — after identity allocation, generated
  * columns and any rebalance exchange, so the counters sit in the write's
  * result stage, where Spark folds each task's update in exactly once —
  * then drops the unwritten rows and `tagCol` and writes the rest.
  *
  * The counts then cost no Spark job of their own and describe the rows
  * that one evaluation wrote, self-consistent under nondeterministic
  * expressions. The commit reads them back before its pointer swap
  * (failing with nothing published when they cannot be read), so
  * [[values]] is set once the commit returned. */
private[graft] final class ObservedCounts(
    val tagCol: String,
    tags: Seq[String],
    private[tables] val written: Column = lit(true)) {
  require(tags.nonEmpty, "ObservedCounts needs at least one tag")

  private[tables] def counters: Seq[(String, Column)] =
    tags.distinct.map(t => t -> count_if(col(tagCol) === lit(t)))

  @volatile private var observed: Option[Map[String, Long]] = None

  private[tables] def complete(counts: Map[String, Long]): Unit =
    observed = Some(tags.distinct.map(t => t -> counts.getOrElse(t, 0L)).toMap)

  /** Rows per tag, as the commit's write observed them. */
  def values: Map[String, Long] = observed.getOrElse(
    throw new IllegalStateException(
      "row counts are read only after the commit that carried them"))
}
