package org.apache.spark.sql

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{caseInsensitiveResolution,
  caseSensitiveResolution}
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.execution.datasources.PartitionDirectory
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

/** Partition pruning inside the manifest-backed FileIndex. */
class GraftManifestScanSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val partSchema = StructType(Seq(StructField("part", StringType)))
  private val dirs = Seq("a", "b").map(v =>
    PartitionDirectory(InternalRow(UTF8String.fromString(v)),
      Array.empty[FileStatus]))
  private def isB(name: String) = EqualTo(
    AttributeReference(name, StringType)(),
    Literal(UTF8String.fromString("b"), StringType))

  test("a bound partition filter prunes the directories") {
    GraftManifestScan.prunePartitions(Seq(isB("part")), partSchema, dirs,
      caseSensitiveResolution) shouldBe dirs.drop(1)
  }

  test("filter attributes bind by the session resolver") {
    GraftManifestScan.prunePartitions(Seq(isB("PART")), partSchema, dirs,
      caseInsensitiveResolution) shouldBe dirs.drop(1)
    intercept[IllegalStateException] {
      GraftManifestScan.prunePartitions(Seq(isB("PART")), partSchema, dirs,
        caseSensitiveResolution)
    }
  }

  test("a filter attribute no partition column binds fails the scan " +
      "instead of returning every partition") {
    val other = AttributeReference("not_a_partition", IntegerType)()
    // mixed: one bindable and one unbindable conjunct
    val e = intercept[IllegalStateException] {
      GraftManifestScan.prunePartitions(
        Seq(isB("part"), EqualTo(other, Literal(1))),
        partSchema, dirs, caseInsensitiveResolution)
    }
    e.getMessage should include("not_a_partition")
  }

  test("a graft read of an adopted hive layout prunes by a partition " +
      "filter in any case") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-mscan").toString + "/hive"
    Seq((1, "x"), (2, "y"), (3, "y"), (4, "z")).toDF("id", "part")
      .write.partitionBy("part").parquet(dir)
    graft.tables.ManagedTable(spark, dir).convertInPlace()
    def ids(df: DataFrame): Seq[Int] =
      df.select("id").collect().map(_.getInt(0)).toSeq.sorted
    val read = spark.read.format("graft").load(dir)
    ids(read.filter(col("part") === "y")) shouldBe Seq(2, 3)
    ids(read.filter(col("PART") === "y")) shouldBe Seq(2, 3)
    ids(read.filter(col("Part").isin("x", "z") && col("id") > 1)) shouldBe Seq(4)
  }
}
