package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.metadata.{Entity, Metadata, PathLocation}
import graft.pipeline.{Processing, ProcessingSummary, Runner}

/** A benchmark workload: inputs generated from the seed, a set-up that
  * builds a lake from them, the timed loop's cycle, and the final check of
  * the silver state against the generator's model. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Generate every input the set-up needs; returns input sizes. */
  def inputs(): Map[String, Any]
  /** Build a lake under `root`: the initial load. */
  def setup(root: String): Unit
  /** The warm-up ingest on the lake of the last set-up. */
  def warmupIngest(): Unit
  /** One maintenance pass before the timed loop, so its reads see an
    * indexed table. Not part of `setup_s`. */
  def warm(): Unit
  /** One cycle of the timed loop: generate a slice (untimed), ingest it,
    * run the read mix, and maintain every few cycles. */
  def cycle(c: Int): Unit
  /** Compare the final silver state with the model. */
  def finish(): Unit
  def silverRoots: Seq[String]
  def watermarkRoot: String
  /** `space_amp` is taken after this many timed ingests, so it does not
    * depend on how many ingests fit in the run. */
  def spaceAmpAt: Int

  protected def spark = ctx.spark
  protected def seed = ctx.seed
  protected def mkdirs(p: String): Unit = new java.io.File(p).mkdirs()

  protected def silverPath(md: Metadata, e: Entity): String = md.silverLocation(e) match {
    case PathLocation(p) => p
    case other           => throw new IllegalStateException(s"not a path: $other")
  }

  protected def summaryCheck(what: String, exp: Expected, s: ProcessingSummary): Unit = {
    val err = Expected.compare(exp, s)
    ctx.check(what, err.isEmpty, err.getOrElse(""))
  }

  protected def rowOf(r: Row): Array[Any] = r.toSeq.toArray
}

object Workload {
  val Names: Seq[String] = Seq("merge_cdc", "group_full_small")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "merge_cdc"        => new MergeCdc(ctx)
    case "group_full_small" => new GroupFullSmall(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(", ")})")
  }
}

/** Merge (CDC upsert) of 10k-row slices into a lineitem-shaped table six
  * times larger: probe scope, file rewrite, pruning and fixed per-ingest
  * cost. One slice per ingest through `new Processing(...).process()`. In a
  * traced cycle `Processing.source` is forced in its own span first;
  * `process()` reuses the memoized source, so the second span holds the
  * strategy, the commit, the watermark write and the run log. */
final class MergeCdc(ctx: Ctx) extends Workload(ctx) {
  val name = "merge_cdc"
  val InitialRows = 60000
  val SliceRows = 10000
  val Changed = 2000; val Fresh = 800; val Deletes = 200
  val Resends: Int = SliceRows - Changed - Fresh - Deletes
  val MaintainEvery = 4
  val TimeTravelBack = 3
  val spaceAmpAt = 3

  val cols: Seq[Col] = Seq(Col("id", Kind.I64), Col("l_partkey", Kind.I64),
    Col("l_suppkey", Kind.I64), Col("l_linenumber", Kind.I32),
    Col("l_quantity", Kind.Dec2), Col("l_extendedprice", Kind.Dec2),
    Col("l_discount", Kind.Dec2), Col("l_shipdate", Kind.Date),
    Col("l_shipmode", Kind.Str), Col("l_comment", Kind.Str),
    Col("change_seq", Kind.I64), Col("deleted", Kind.Bool))
  /** SQL columns of the checksum, in model order. */
  val checkCols: Seq[String] = cols.map(_.norm)

  // ---------------------------------------------------------------- model
  private val keys = new Keys(seed, 1, InitialRows * 2)
  private var live = 0L
  private var qtySum = 0L
  /** slice index -> (rows, live rows) after it */
  private val history = mutable.Map.empty[Int, (Long, Long)]
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  private def qty(k: Int, r: Int): Long = 100L * (1 + Mix.mod(Mix.h(seed, k, r, 4), 50))
  private def row(k: Int): Array[Any] = {
    val r = keys.rev(k)
    def h(f: Int) = Mix.h(seed, k, r, f)
    Array[Any](k.toLong, 1L + Mix.mod(h(1), 200000), 1L + Mix.mod(h(2), 10000),
      1 + Mix.mod(h(3), 7), qty(k, r), 90000L + Mix.mod(h(5), 10000000),
      Mix.mod(h(6), 11).toLong, 8036 + Mix.mod(h(7), 2500), Modes(Mix.mod(h(8), 7)),
      Mix.text(seed, k, r, 9, 10, 40), keys.seq(k), keys.del(k))
  }

  /** Rows of slice `i` (0 = initial load), its expected summary and the
    * keys to look up after it; advances the model. Each CDC slice is 70%
    * unchanged re-sends, 20% changed rows (80% of them from the newest
    * tenth of the keys), 8% new keys and 2% source-flagged deletes. */
  private def generate(i: Int): (Iterator[Array[Any]], Expected, Seq[Int]) =
    if (i == 0) {
      (0 until InitialRows).foreach { _ => val k = keys.add(0); live += 1; qtySum += qty(k, 0) }
      history(0) = (keys.n.toLong, live)
      ((0 until InitialRows).iterator.map(row),
        Expected("merge", InitialRows, inserted = InitialRows), Nil)
    } else {
      val n = keys.n
      val changed = (0 until Changed).map { _ =>
        if (keys.chance(0.8)) keys.pick(n - n / 10, n, i) else keys.pick(0, n, i)
      }
      val deletes = (0 until Deletes).map(_ => keys.pick(0, n, i))
      val resends = (0 until Resends).map(_ => keys.pick(0, n, i))
      changed.foreach { k =>
        qtySum -= qty(k, keys.rev(k))
        keys.rev(k) += 1; keys.seq(k) = i
        qtySum += qty(k, keys.rev(k))
      }
      deletes.foreach { k => keys.del(k) = true; live -= 1; qtySum -= qty(k, keys.rev(k)) }
      val fresh = (0 until Fresh).map { _ =>
        val k = keys.add(i); live += 1; qtySum += qty(k, 0); k }
      history(i) = (keys.n.toLong, live)
      val rows = (changed ++ deletes ++ resends ++ fresh).map(row)
      (rows.iterator, Expected("merge", SliceRows, inserted = Fresh, updated = Changed,
        deleted = Deletes, unchanged = Resends), changed.take(2) ++ fresh.take(2))
    }

  // --------------------------------------------------------------- inputs
  private lazy val bronze = s"${ctx.inputs}/lineitem_cdc"
  private def sliceName(i: Int) = f"s$i%05d.parquet"
  private val expected = mutable.Map.empty[Int, Expected]
  private val lookups = mutable.Map.empty[Int, Seq[Int]]
  private val sliceBytes = mutable.Map.empty[Int, Long]
  private var nextSlice = 0

  private def writeSlice(): Int = {
    val i = nextSlice; nextSlice += 1
    val (rows, exp, ks) = generate(i)
    sliceBytes(i) = SliceWriter.write(ctx.hconf, s"$bronze/${sliceName(i)}", cols, rows)
    expected(i) = exp; lookups(i) = ks
    i
  }

  def inputs(): Map[String, Any] = {
    mkdirs(bronze)
    writeSlice(); writeSlice()
    Map("initial_rows" -> expected(0).records, "initial_bytes" -> sliceBytes(0),
      "slice_rows" -> expected(1).records, "slice_bytes" -> sliceBytes(1))
  }

  // ----------------------------------------------------------------- lake
  private var md: Metadata = _
  private var entity: Entity = _
  private var silver: String = _
  private var root: String = _
  private var vInit = 0L
  /** silver version -> slice index whose state it holds */
  private val verSlice = mutable.TreeMap.empty[Long, Int]

  def silverRoots: Seq[String] = Seq(silver)
  def watermarkRoot: String = s"$root/system/watermark"

  def setup(r: String): Unit = {
    root = r
    md = Metadata.fromJson(Meta.json(root, Seq(Meta.entity(1, "lineitem_cdc", "merge",
      cols, "id", bronze, settings = Map("compact_small_bytes" -> "1048576")))))
    entity = md.getEntity(1)
    silver = silverPath(md, entity)
    verSlice.clear()
    ingest(0)
    vInit = ctx.version(silver)
  }

  def warmupIngest(): Unit = ingest(1)

  def warm(): Unit = maintain(1)

  private def ingest(i: Int): Unit = {
    val exp = expected(i)
    val opts = Map("processing.time" -> Clock.processingTime(i))
    val traced = ctx.tracer.live
    val res = ctx.ingest(exp.records, sliceBytes(i), Seq(silver)) {
      val p = new Processing(md, entity, sliceName(i), opts)(spark)
      if (traced) {
        ctx.tracer.span("source")(p.source)
        ctx.tracer.span("strategy")(p.process())._1
      } else p.process()
    }(s => Seq(s.durationMs / 1000.0))
    res.foreach(s => summaryCheck(s"summary of slice $i", exp, s))
    verSlice(ctx.version(silver)) = i
  }

  private def maintain(i: Int): Unit = {
    ctx.maintain(silver)(Runner.maintainEntity(md, entity)(spark))
    verSlice(ctx.version(silver)) = i
  }

  def cycle(c: Int): Unit = {
    val i = writeSlice()
    val vb = ctx.version(silver)
    ingest(i)
    readMix(i, vb, ctx.version(silver))
    if (c % MaintainEvery == MaintainEvery - 1) maintain(i)
  }

  // ---------------------------------------------------------------- reads
  private def table = ctx.table(silver)
  private def graftRead: DataFrame = spark.read.format("graft").load(silver)

  /** Point lookups of four keys slice `i` wrote, the live-row aggregate through
    * the `graft` source, the slice's change feed, and time travel a few
    * versions back, each checked against the model. */
  private def readMix(i: Int, vBefore: Long, vAfter: Long): Unit = {
    lookups(i).foreach { k =>
      ctx.read("point", table.manifest.map(_.files.size.toLong))(
          table.readEquals("id", Seq(k.toLong)).selectExpr(checkCols: _*)) { rows =>
        if (rows.length == 1 && Checksum.row(rowOf(rows.head)) == Checksum.row(row(k))) None
        else Some(s"point lookup of key $k: ${rows.length} rows or a wrong payload")
      }
    }
    val want = (live, qtySum)
    ctx.read("agg")(graftRead.where("deleted = false")
        .selectExpr("count(*)", "sum(cast(l_quantity * 100 as bigint))")) { rows =>
      val got = (rows.head.getLong(0), rows.head.getLong(1))
      if (got == want) None else Some(s"aggregate $got, expected $want")
    }
    // added minus removed rows of the ingest's commit = its new keys
    val net = expected(i).inserted
    ctx.read("changes")(table.changes(vBefore, vAfter).groupBy("_change_type").count()) { rows =>
      val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = m.getOrElse("added", 0L) - m.getOrElse("removed", 0L)
      if (got == net) None else Some(s"changes($vBefore, $vAfter) net $got rows, expected $net")
    }
    val vt = math.max(vInit, vAfter - TimeTravelBack)
    val state = history(verSlice.rangeTo(vt).last._2)
    ctx.read("time_travel")(table.readVersion(vt)
        .selectExpr("count(*)", "sum(case when deleted then 0 else 1 end)")) { rows =>
      val got = (rows.head.getLong(0), rows.head.getLong(1))
      if (got == state) None else Some(s"readVersion($vt) gave $got, expected $state")
    }
  }

  def finish(): Unit = ctx.op("final state") {
    val df = graftRead
    val r = df.selectExpr("count(*)", "sum(case when deleted then 0 else 1 end)").head()
    val got = (r.getLong(0), r.getLong(1))
    ctx.check("final counts", got == ((keys.n.toLong, live)),
      s"table $got, model ${(keys.n, live)}")
    val (n, sum) = Checksum.ofFrame(df.selectExpr(checkCols: _*))
    var mn = 0L; var ms = 0L
    (0 until keys.n).foreach { k => mn += 1; ms += Checksum.row(row(k)) }
    ctx.check("final checksum", n == mn && sum == ms,
      s"table ($n rows, checksum $sum), model ($mn rows, checksum $ms)")
  }
}

/** A group of small entities through `Runner.processGroup`: Full,
  * partitioned Full (dynamic overwrite) and Merge entities sharing one
  * watermark table. Almost no data, so fixed per-operation cost dominates. */
final class GroupFullSmall(ctx: Ctx) extends Workload(ctx) {
  val name = "group_full_small"
  val Group = "bench_group"
  val Parts = 4
  val warmups = 1
  val spaceAmpAt = 2

  val cols: Seq[Col] = Seq(Col("id", Kind.I64), Col("part", Kind.Str),
    Col("g_val", Kind.I64), Col("g_name", Kind.Str), Col("g_amount", Kind.Dec2),
    Col("g_day", Kind.Date), Col("change_seq", Kind.I64))
  val checkCols: Seq[String] = cols.map(_.norm)

  sealed trait Ent {
    val id: Int; val size: Int
    def name: String
    /** Rows of batch `b`; advances the model. */
    def generate(b: Int): (Seq[Array[Any]], Expected)
    def modelRows: Iterator[Array[Any]]
    def count: Long
    def processType: String
    def partition: Option[String] = None
  }

  private def row(e: Int, k: Int, rev: Int, s: Long): Array[Any] = {
    def h(f: Int) = Mix.h(seed + e, k, rev, f)
    Array[Any](k.toLong, s"P${k % Parts}", Mix.mod(h(1), 1000000).toLong,
      Mix.text(seed + e, k, rev, 2, 5, 20), Mix.mod(h(3), 10000000).toLong,
      18000 + Mix.mod(h(4), 1500), s)
  }

  /** Full snapshot each batch: every row carries the batch as revision. */
  final class FullEnt(val id: Int, val size: Int) extends Ent {
    var rev = 0
    def name = s"full_$id"
    def processType = "full"
    def generate(b: Int) = {
      rev = b
      ((0 until size).map(k => row(id, k, b, b)), Expected("full", size, inserted = size))
    }
    def modelRows = (0 until size).iterator.map(k => row(id, k, rev, rev))
    def count: Long = size
  }

  /** Partitioned Full: after the initial load each batch rewrites two of
    * the four partitions, which dynamic overwrite replaces in place. */
  final class PartFullEnt(val id: Int, val size: Int) extends Ent {
    val partRev = new Array[Int](Parts)
    def name = s"pfull_$id"
    def processType = "full"
    override def partition = Some("part")
    def generate(b: Int) = {
      val ps = if (b == 0) (0 until Parts).toSet else Set(b % Parts, (b + 1) % Parts)
      ps.foreach(p => partRev(p) = b)
      val rows = (0 until size).filter(k => ps.contains(k % Parts)).map(k => row(id, k, b, b))
      (rows, Expected("full", rows.size, inserted = rows.size))
    }
    def modelRows = (0 until size).iterator.map { k =>
      val r = partRev(k % Parts); row(id, k, r, r) }
    def count: Long = size
  }

  /** Merge CDC: a fifth of the table per batch, half re-sends, 35% changed
    * rows and 15% new keys. */
  final class MergeEnt(val id: Int, val size: Int) extends Ent {
    val keys = new Keys(seed, 100 + id, size * 2)
    def name = s"merge_$id"
    def processType = "merge"
    var lastChanged: Seq[Int] = Nil
    var lastInserted = 0L
    val history = mutable.Map.empty[Int, Long]
    private def r(k: Int) = row(id, k, keys.rev(k), keys.seq(k))
    def generate(b: Int) =
      if (b == 0) {
        (0 until size).foreach(_ => keys.add(0))
        history(0) = keys.n.toLong
        lastInserted = size
        ((0 until size).map(r), Expected("merge", size, inserted = size))
      } else {
        val m = size / 5
        val nCh = m * 35 / 100; val nNew = m * 15 / 100; val nRe = m - nCh - nNew
        val n = keys.n
        val ch = (0 until nCh).map(_ => keys.pick(0, n, b))
        val re = (0 until nRe).map(_ => keys.pick(0, n, b))
        ch.foreach { k => keys.rev(k) += 1; keys.seq(k) = b }
        val fresh = (0 until nNew).map(_ => keys.add(b))
        history(b) = keys.n.toLong
        lastChanged = ch; lastInserted = nNew
        ((ch ++ re ++ fresh).map(r), Expected("merge", m, inserted = nNew,
          updated = nCh, unchanged = nRe))
      }
    def modelRows = (0 until keys.n).iterator.map(r)
    def count: Long = keys.n
    def rowOf(k: Int): Array[Any] = r(k)
  }

  val ents: Seq[Ent] = Seq(new FullEnt(1, 2000), new PartFullEnt(2, 4000),
    new MergeEnt(3, 8000), new FullEnt(4, 12000), new PartFullEnt(5, 16000),
    new MergeEnt(6, 20000))
  private val merges = ents.collect { case m: MergeEnt => m }

  private def bronze(e: Ent) = s"${ctx.inputs}/${e.name}"
  private def sliceName(b: Int) = f"b$b%05d.parquet"
  private val expected = mutable.Map.empty[(Int, Int), Expected]
  private val batchRows = mutable.Map.empty[Int, Long]
  private val batchBytes = mutable.Map.empty[Int, Long]
  private var nextBatch = 0

  private def writeBatch(): Int = {
    val b = nextBatch; nextBatch += 1
    var rows = 0L; var bytes = 0L
    ents.foreach { e =>
      val (rs, exp) = e.generate(b)
      bytes += SliceWriter.write(ctx.hconf, s"${bronze(e)}/${sliceName(b)}", cols, rs.iterator)
      rows += rs.size
      expected((b, e.id)) = exp
    }
    batchRows(b) = rows; batchBytes(b) = bytes
    b
  }

  def inputs(): Map[String, Any] = {
    ents.foreach(e => mkdirs(bronze(e)))
    (0 to warmups).foreach(_ => writeBatch())
    Map("entities" -> ents.size, "initial_rows" -> batchRows(0),
      "initial_bytes" -> batchBytes(0), "batch_rows" -> batchRows(1),
      "batch_bytes" -> batchBytes(1))
  }

  private var md: Metadata = _
  private var root: String = _
  private var paths: Map[Int, String] = Map.empty
  /** per merge entity: silver version -> batch whose state it holds */
  private val verBatch = mutable.Map.empty[Int, mutable.TreeMap[Long, Int]]
  private val vInit = mutable.Map.empty[Int, Long]

  def silverRoots: Seq[String] = ents.map(e => paths(e.id))
  def watermarkRoot: String = s"$root/system/watermark"

  def setup(r: String): Unit = {
    root = r
    md = Metadata.fromJson(Meta.json(root, ents.map(e =>
      Meta.entity(e.id, e.name, e.processType, cols, "id", bronze(e), group = Group,
        partition = e.partition))))
    paths = ents.map(e => e.id -> silverPath(md, md.getEntity(e.id))).toMap
    verBatch.clear(); merges.foreach(m => verBatch(m.id) = mutable.TreeMap.empty)
    batch(0)
    merges.foreach(m => vInit(m.id) = ctx.version(paths(m.id)))
  }

  def warmupIngest(): Unit = (1 to warmups).foreach(b => batch(b))

  def warm(): Unit = maintainOne(0)

  /** per merge entity: its silver versions before and after the last batch */
  private val lastRange = mutable.Map.empty[Int, (Long, Long)]

  private def batch(b: Int): Unit = {
    val before = merges.map(m => m.id -> ctx.version(paths(m.id))).toMap
    val opts = Map("processing.time" -> Clock.processingTime(b))
    val res = ctx.ingest(batchRows(b), batchBytes(b), silverRoots) {
      Runner.processGroup(md, Group, sliceName(b), opts, parallelism = ctx.nproc)(spark)
    }(_.flatMap(_.result.toOption).map(_.durationMs / 1000.0))
    res.foreach { results =>
      ctx.check(s"batch $b entity count", results.size == ents.size,
        s"${results.size} results for ${ents.size} entities")
      results.foreach { er =>
        er.result match {
          case Right(s) => summaryCheck(s"batch $b ${er.name}", expected((b, er.entityId)), s)
          case Left(e) => ctx.check(s"batch $b ${er.name}", ok = false,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
    }
    merges.foreach { m =>
      val v = ctx.version(paths(m.id))
      verBatch(m.id)(v) = b
      lastRange(m.id) = (before(m.id), v)
    }
  }

  private def maintainOne(c: Int): Unit = {
    val e = ents(c % ents.size)
    val p = paths(e.id)
    ctx.maintain(p)(Runner.maintainEntity(md, md.getEntity(e.id))(spark))
    e match {
      case m: MergeEnt => verBatch(m.id)(ctx.version(p)) = verBatch(m.id).last._2
      case _ =>
    }
  }

  /** Every table's row count and amount total through the `graft` source,
    * then a point lookup, a change feed and a time-travel read on one Merge
    * entity. */
  private def readMix(c: Int): Unit = {
    ents.foreach { e =>
      val want = (e.count, e.modelRows.map(_(4).asInstanceOf[Long]).sum)
      ctx.read("agg")(spark.read.format("graft").load(paths(e.id))
          .selectExpr("count(*)", "sum(cast(g_amount * 100 as bigint))")) { rows =>
        val got = (rows.head.getLong(0), rows.head.getLong(1))
        if (got == want) None else Some(s"${e.name} count and total $got, expected $want")
      }
    }
    val m = merges(math.floorMod(c, merges.size))
    val p = paths(m.id)
    val t = ctx.table(p)
    val (vb, v) = lastRange(m.id)
    m.lastChanged.headOption.foreach { k =>
      ctx.read("point", t.manifest.map(_.files.size.toLong))(
          t.readEquals("id", Seq(k.toLong)).selectExpr(checkCols: _*)) { rows =>
        if (rows.length == 1 && Checksum.row(rowOf(rows.head)) == Checksum.row(m.rowOf(k))) None
        else Some(s"${m.name} point lookup of key $k: ${rows.length} rows")
      }
    }
    ctx.read("changes")(t.changes(vb, v).groupBy("_change_type").count()) { rows =>
      val mm = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = mm.getOrElse("added", 0L) - mm.getOrElse("removed", 0L)
      if (got == m.lastInserted) None
      else Some(s"${m.name} changes($vb, $v) net $got, expected ${m.lastInserted}")
    }
    val vt = math.max(vInit(m.id), v - 2)
    val want = m.history(verBatch(m.id).rangeTo(vt).last._2)
    ctx.read("time_travel")(t.readVersion(vt).selectExpr("count(*)")) { rows =>
      val got = rows.head.getLong(0)
      if (got == want) None else Some(s"${m.name} readVersion($vt) count $got, expected $want")
    }
  }

  def cycle(c: Int): Unit = {
    val b = writeBatch()
    batch(b)
    readMix(c)
    maintainOne(c + 1)
  }

  def finish(): Unit = ents.foreach { e =>
    ctx.op(s"final state ${e.name}") {
      val df = spark.read.format("graft").load(paths(e.id))
      val (n, sum) = Checksum.ofFrame(df.selectExpr(checkCols: _*))
      var mn = 0L; var ms = 0L
      e.modelRows.foreach { r => mn += 1; ms += Checksum.row(r) }
      ctx.check(s"final ${e.name}", n == mn && sum == ms,
        s"table ($n rows, checksum $sum), model ($mn rows, checksum $ms)")
    }
  }
}
