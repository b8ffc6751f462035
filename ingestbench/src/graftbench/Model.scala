package graftbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Per-key state of one generated entity: the payload revision, the change
  * sequence it carries as its watermark column, and the soft-delete flag.
  * Payload values are derived from (key, revision), so nothing else is kept.
  * `stamp` marks keys already drawn for the slice being built, which keeps
  * every slice free of duplicate business keys. */
final class Keys(seed: Long, salt: Int, capacity: Int) {
  var n = 0
  var rev = new Array[Int](capacity)
  var seq = new Array[Long](capacity)
  var del = new Array[Boolean](capacity)
  private var stamp = new Array[Int](capacity)
  private val rng = new java.util.SplittableRandom(seed * 1000003L + salt)

  def add(s: Long): Int = {
    if (n == rev.length) {
      val c = rev.length * 2
      rev = java.util.Arrays.copyOf(rev, c)
      seq = java.util.Arrays.copyOf(seq, c)
      del = java.util.Arrays.copyOf(del, c)
      stamp = java.util.Arrays.copyOf(stamp, c)
    }
    val k = n
    rev(k) = 0; seq(k) = s; del(k) = false; stamp(k) = 0
    n += 1
    k
  }

  /** A live key in [lo, hi) not yet drawn for slice `slice` (>= 1). */
  def pick(lo: Int, hi: Int, slice: Int): Int = {
    var k = lo + rng.nextInt(hi - lo)
    while (del(k) || stamp(k) == slice) k = lo + rng.nextInt(hi - lo)
    stamp(k) = slice
    k
  }

  def chance(p: Double): Boolean = rng.nextDouble() < p
}

/** Counts a `ProcessingSummary` must report for one slice. */
final case class Expected(strategy: String, records: Long, inserted: Long = 0,
    updated: Long = 0, deleted: Long = 0, unchanged: Long = 0)

object Expected {
  def compare(e: Expected, s: graft.pipeline.ProcessingSummary): Option[String] = {
    val got = Expected(s.strategy, s.recordsInSlice, s.inserted, s.updated,
      s.deleted, s.unchanged)
    if (got == e) None else Some(s"summary $got, expected $e")
  }
}

object Clock {
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val Base = LocalDateTime.of(2024, 1, 1, 0, 0)
  /** The `processing.time` of ingest number `i`: one minute apart. */
  def processingTime(i: Int): String = Base.plusMinutes(i.toLong).format(Fmt)
}

/** Metadata JSON for the benchmark's lake. Every workload switches the
  * Parquet run log on through `log_path`. */
object Meta {
  def json(root: String, entities: Seq[String]): String =
    s"""{"environment": {"name": "bench", "timezone": "UTC", "root_folder": "$root",
       |  "settings": {"log_path": "$${root_folder}/log"}},
       | "connections": [{"name": "bench"}],
       | "entities": [${entities.mkString(",\n")}]}""".stripMargin

  def entity(id: Int, name: String, processType: String, cols: Seq[Col],
      businessKey: String, bronze: String, group: String = "",
      partition: Option[String] = None,
      settings: Map[String, String] = Map.empty): String = {
    val colJson = cols.filterNot(_.name == "deleted").map { c =>
      val roles =
        (if (c.name == businessKey) Seq("businesskey") else Nil) ++
          (if (partition.contains(c.name)) Seq("partition") else Nil)
      s"""{"name": "${c.name}", "fieldroles": [${roles.map(r => s""""$r"""").mkString(",")}]}"""
    }
    val set = (settings + ("bronze_path" -> bronze)).map { case (k, v) =>
      s""""$k": "$v"""" }
    s"""{"id": $id, "name": "$name", "connection": "bench", "group": "$group",
       |  "processtype": "$processType", "watermark": [{"column": "change_seq"}],
       |  "columns": [${colJson.mkString(", ")}],
       |  "settings": {${set.mkString(", ")}}}""".stripMargin
  }
}
