package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftJobCounter, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

/** MERGE metrics read from the commit's own write job: the counts must
  * equal what the commit wrote, as `history()` and a re-read show, on the
  * generic (partition-granular) and the keyed (file-granular) paths;
  * CHECK constraints and identity ids apply to exactly the rows written,
  * also under a nondeterministic condition; a commit whose counted rows
  * disagree with its files publishes nothing; bloom sidecars build in one
  * job per indexed column. */
class MergeMetricsSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-mm").toString

  def rows(ids: Seq[Int], tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"$tag$i")).toDF("id", "name")
  }

  def target(n: Int): ManagedTable = {
    val t = ManagedTable(spark, tmp() + "/t")
    t.overwriteAll(rows(1 to n, "t").repartition(3))
    t
  }

  /** Rows a generic merge writes: every tag except the delete clauses'. */
  def written(m: MergeBuilder.MergeMetrics): Long =
    m.byTag.collect { case (t, n) if !t.startsWith("del:") => n }.sum

  /** The parity contract: counts equal the rows the commit added (history)
    * and the table's live rows (the generic path rewrites the whole
    * unpartitioned scope). */
  def assertParity(t: ManagedTable, m: MergeBuilder.MergeMetrics): Unit = {
    val added = t.history().head.metrics.getOrElse("rowsAdded", 0L)
    withClue(s"metrics ${m.byTag}, history ${t.history().head.metrics}\n") {
      written(m) shouldBe added
      t.read().count() shouldBe added
    }
  }

  test("generic merge: a delete clause counts exactly the removed rows") {
    val t = target(30)
    val m = MergeInto(t, rows(1 to 10, "s"), "target.id = source.id")
      .whenMatchedDelete(Some("source.id <= 4"))
      .whenMatchedUpdateAll()
      .execute()
    m.count("m0") shouldBe 4L
    m.count("m1") shouldBe 6L
    m.count("unchanged") shouldBe 20L
    assertParity(t, m)
    t.read().count() shouldBe 26L
  }

  test("generic merge: a not-matched insert whose condition is false " +
      "drops its rows and counts none") {
    val t = target(10)
    val m = MergeInto(t, rows(5 to 15, "s"), "target.id = source.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll(Some("source.id > 100"))
      .execute()
    m.count("m0") shouldBe 6L
    m.count("nm1") shouldBe 0L
    m.byTag.keySet should not contain "drop"
    assertParity(t, m)
    t.read().count() shouldBe 10L
  }

  test("generic merge: a rand() condition is counted from the one " +
      "evaluation that wrote the rows") {
    val t = target(200)
    val m = MergeInto(t, rows(1 to 200, "s"), "target.id = source.id")
      .whenMatchedUpdateAll(Some("rand() < 0.5"))
      .execute()
    // the nondeterministic draw happens once, in the write: the count of
    // updated rows is exactly the number of source-valued rows written
    val updated = t.read().filter(col("name").startsWith("s")).count()
    m.count("m0") shouldBe updated
    m.count("unchanged") shouldBe 200L - updated
    assertParity(t, m)
  }

  test("generic merge: an empty source rewrites the scope unchanged") {
    val t = target(25)
    val m = MergeInto(t, rows(Nil, "s"), "target.id = source.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    m.byTag shouldBe Map("unchanged" -> 25L)
    assertParity(t, m)
  }

  test("generic merge: counts hold with the write rebalance on") {
    spark.conf.set("spark.graft.write.rebalance", "true")
    try {
      val t = target(40)
      val m = MergeInto(t, rows(30 to 50, "s"), "target.id = source.id")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
      m.count("m0") shouldBe 11L
      m.count("nm1") shouldBe 10L
      m.count("unchanged") shouldBe 29L
      assertParity(t, m)
    } finally spark.conf.unset("spark.graft.write.rebalance")
  }

  test("generic merge on a CHECK-constrained table: the constraint is " +
      "checked on the write, the counts hold") {
    val t = target(30)
    t.addConstraint("id_pos", "id > 0")
    val m = MergeInto(t, rows(25 to 40, "s"), "target.id = source.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll(Some("source.id <= 35"))
      .execute()
    m.count("m0") shouldBe 6L
    m.count("nm1") shouldBe 5L
    m.count("unchanged") shouldBe 24L
    assertParity(t, m)
  }

  /** `coin(p)`: true with probability `p`, drawn anew on every call (a
    * seeded `rand()` repeats its draws when a plan re-runs). */
  def withCoin[T](body: => T): T = {
    spark.udf.register("coin", udf((p: Double) =>
      scala.util.Random.nextDouble() < p).asNondeterministic())
    body
  }

  test("nondeterministic merge into a CHECK-constrained table: the " +
      "constraint is checked on the rows the commit writes") (withCoin {
    val t = target(200)
    t.addConstraint("name_ok", "name NOT LIKE 'bad%'")
    def dataDirs: Set[String] =
      new java.io.File(t.rootPath, "data").list().toSet
    // a rare violating update: a check that read other rows than the
    // write would now and then pass a merge that commits violations
    (1 to 8).foreach { _ =>
      val v = t.currentVersion
      val before = dataDirs
      try
        MergeInto(t, rows(1 to 200, "bad"), "target.id = source.id")
          .whenMatchedUpdateAll(Some("coin(0.0035)")).execute()
      catch {
        case _: ConstraintViolationException =>
          t.currentVersion shouldBe v
          dataDirs shouldBe before // the rejected write's dir is swept
      }
      t.read().filter(col("name").startsWith("bad")).count() shouldBe 0L
    }
    val v = t.currentVersion
    intercept[ConstraintViolationException] {
      MergeInto(t, rows(1 to 200, "bad"), "target.id = source.id")
        .whenMatchedUpdateAll(Some("rand() < 2.0")).execute()
    }.getMessage should include("name_ok")
    t.currentVersion shouldBe v
    t.read().count() shouldBe 200L
  })

  test("nondeterministic merge into an identity table: ids go to exactly " +
      "the rows written") (withCoin {
    val s = spark
    import s.implicits._
    val t = ManagedTable(spark, tmp() + "/ident")
    t.overwriteAll(Seq.empty[(String, Int)].toDF("name", "qty"))
    t.addIdentityColumn("id", start = 100L, step = 10L)
    t.append((1 to 50).map(i => (s"t$i", i)).toDF("name", "qty"))
    val m = MergeInto(t, (1 to 200).map(i => (s"s$i", i)).toDF("name", "qty"),
        "target.name = source.name")
      .whenNotMatchedInsertAll(Some("coin(0.5)"))
      .execute()
    val inserted = t.read().filter(col("name").startsWith("s")).count()
    m.count("nm0") shouldBe inserted
    assertParity(t, m)
    val ids = t.read().select("id").collect().map(_.getLong(0)).toSeq
    ids.size shouldBe 50L + inserted
    ids.distinct.size shouldBe ids.size
    // the watermark advanced by exactly the ids the written rows took
    t.properties("graft.identity.id.next").toLong shouldBe
      100L + 10L * (50L + inserted)
    ids.max shouldBe 100L + 10L * (50L + inserted - 1)
  })

  test("keyed merge: insert counts come from the write, drops excluded") {
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0") // force keyed
    try {
      val t = target(40)
      val v0 = t.currentVersion.get
      val m = MergeInto.byKey(t, rows(35 to 60, "s"), "id")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll(Some("source.id <= 55"))
        .execute()
      t.currentVersion.get shouldBe v0 + 1
      m.count("m0") shouldBe 6L
      m.count("nm1") shouldBe 15L // 41..55; 56..60 drop
      m.byTag.keySet should not contain "drop"
      m.count("unchanged") shouldBe 34L
      t.read().count() shouldBe 55L
      t.read().filter(col("name").startsWith("s")).count() shouldBe 21L
    } finally spark.conf.unset("spark.graft.merge.smallScopeBytes")
  }

  test("a commit whose counted rows disagree with its files publishes " +
      "nothing") {
    val t = target(12)
    val v0 = t.currentVersion
    val dataDirs = new java.io.File(t.rootPath, "data").list().toSet
    // a `written` predicate that claims to be deterministic but flips on
    // every call: the observation counts one answer, the write keeps
    // rows by the other
    val flip = udf(() => MergeMetricsSpec.calls.getAndIncrement() % 2 == 0)
    val tally = new ObservedCounts("tag", Seq("x"), written = flip())
    val e = intercept[graft.metadata.MetadataException] {
      t.replacePartitions(None,
        rows(1 to 5, "x").coalesce(1).withColumn("tag", lit("x")), "merge",
        tally = Some(tally))
    }
    e.getMessage should include("the write counted")
    t.currentVersion shouldBe v0
    t.read().count() shouldBe 12L
    // the rejected write's commit dir is swept
    new java.io.File(t.rootPath, "data").list().toSet shouldBe dataDirs
  }

  test("bloom sidecars: one job per indexed column, bytes identical to a " +
      "per-file build") {
    val t = target(300) // three files
    val files = t.manifest.get.files
    files.size should be >= 2
    val (_, jobs) = GraftJobCounter(spark.sparkContext) {
      t.addBloomIndex("id", expectedItemsPerFile = 1000L)
    }
    withClue(jobs.mkString("jobs:\n", "\n", "\n")) {
      jobs.count(_.contains("BloomIndex")) shouldBe 1
    }
    val fs = new Path(t.rootPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bloomDir = new Path(t.rootPath, "_graft/_bloom")
    files.foreach { f =>
      val expected = BloomFilter.create(1000L, 0.01)
      spark.read.parquet(new Path(t.rootPath, f.path).toString)
        .select("id").collect().foreach(r => expected.putLong(r.getInt(0).toLong))
      BloomIndex.load(fs, bloomDir, f.path, "id") shouldBe Some(expected)
    }
    // the commit path builds the same way: a merge's new files get sidecars
    val m = MergeInto(t, rows(Seq(301), "s"), "target.id = source.id")
      .whenNotMatchedInsertAll().execute()
    m.count("nm0") shouldBe 1L
    t.readEquals("id", Seq(301)).count() shouldBe 1L
  }
}

object MergeMetricsSpec {
  val calls = new java.util.concurrent.atomic.AtomicLong()
}
