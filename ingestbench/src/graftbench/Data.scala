package graftbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame

/** Column kinds of the generated bronze data. Every value travels in its
  * Parquet physical form (Long, Int, String, Boolean): a date is its epoch
  * day, a DECIMAL(12,2) its unscaled Long. The generator, the writer and the
  * checksum all use that one form, and [[Col.norm]] projects a silver column
  * back into it, so the model and the table are compared value for value. */
sealed trait Kind
object Kind {
  case object I64 extends Kind
  case object I32 extends Kind
  case object Str extends Kind
  case object Bool extends Kind
  case object Date extends Kind
  case object Dec2 extends Kind
}

final case class Col(name: String, kind: Kind) {
  def parquet: String = kind match {
    case Kind.I64  => s"required int64 $name;"
    case Kind.I32  => s"required int32 $name;"
    case Kind.Str  => s"required binary $name (STRING);"
    case Kind.Bool => s"required boolean $name;"
    case Kind.Date => s"required int32 $name (DATE);"
    case Kind.Dec2 => s"required int64 $name (DECIMAL(12,2));"
  }

  /** SQL that reads the silver column back in its physical form. */
  def norm: String = kind match {
    case Kind.Date => s"unix_date(`$name`)"
    case Kind.Dec2 => s"cast(`$name` * 100 as bigint)"
    case _         => s"`$name`"
  }
}

/** Deterministic value streams: every generated value is a pure function of
  * (seed, key, revision, field), so the model never stores payloads. */
object Mix {
  def splitmix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, key: Long, rev: Long, field: Int): Long =
    splitmix(splitmix(splitmix(seed * 31 + field) ^ key) + rev)
  def mod(x: Long, m: Int): Int = java.lang.Math.floorMod(x, m.toLong).toInt

  private val Letters = "abcdefghijklmnopqrstuvwxyz     "
  def text(seed: Long, key: Long, rev: Long, field: Int, minLen: Int, maxLen: Int): String = {
    var x = h(seed, key, rev, field)
    val n = minLen + mod(x, maxLen - minLen + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      x = splitmix(x)
      sb.append(Letters.charAt(mod(x, Letters.length)))
      i += 1
    }
    sb.toString
  }
}

/** Order-independent checksum: the wrapping sum of a 64-bit mix of each
  * row's physical values. Equal multisets of rows give equal sums. */
object Checksum {
  def row(values: Array[Any]): Long = {
    var acc = 0x1234567L
    var i = 0
    while (i < values.length) {
      val v: Long = values(i) match {
        case l: Long    => l
        case n: Int     => n.toLong * 0x100000001L
        case s: String  => s.hashCode.toLong * 0x7FFFFFFFL + s.length
        case b: Boolean => if (b) 0x5DEECE66DL else 0x2545F491L
        case null       => 0x9E3779B9L
        case other      => other.hashCode.toLong
      }
      acc = Mix.splitmix(acc ^ (v + i))
      i += 1
    }
    acc
  }

  /** (row count, checksum) of a frame whose columns are already in
    * physical form (see [[Col.norm]]); computed on the executors. */
  def ofFrame(df: DataFrame): (Long, Long) =
    df.rdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += row(r.toSeq.toArray) }
      Iterator((n, s))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}

/** Writes one bronze slice straight through parquet-hadoop: no Spark job,
  * so generation never shows up in the scheduler counts. */
object SliceWriter {
  def write(conf: Configuration, file: String, cols: Seq[Col],
      rows: Iterator[Array[Any]]): Long = {
    val schema = MessageTypeParser.parseMessageType(
      cols.map(_.parquet).mkString("message bronze {", " ", "}"))
    val factory = new SimpleGroupFactory(schema)
    val path = new Path(file)
    val w = ExampleParquetWriter.builder(path).withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      var i = 0
      while (i < cols.length) {
        val name = cols(i).name
        r(i) match {
          case l: Long    => g.append(name, l)
          case n: Int     => g.append(name, n)
          case s: String  => g.append(name, s)
          case b: Boolean => g.append(name, b)
          case v          => throw new IllegalArgumentException(s"$name: $v")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
    path.getFileSystem(conf).getFileStatus(path).getLen
  }
}

/** Percentiles as the run reports them. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in 0..100. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val k = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
      s(math.min(k, s.size) - 1)
    }

  /** The tail rule: the highest percentile that leaves at least ten samples
    * beyond it, 100 * (1 - 10 / n), never below the median. Returns
    * (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val p = if (n == 0) 50.0 else math.max(50.0, 100.0 * (1.0 - 10.0 / n))
    val v = if (p == 50.0) median(xs) else pct(xs, p)
    (v, p, n)
  }
}
