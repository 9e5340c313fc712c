package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output digest: row count plus the sum of a 64-bit
  * hash of each row's canonical text. Columns are taken in name order.
  * Each value is tagged with its column's type class and canonicalised
  * the way `tools/check.py` compares values: integer widths, float widths
  * and decimal scales do not change the digest, a change of type class
  * does, and timestamps compare as epoch microseconds. */
object Digest {
  private val Null = "\u0001N"

  /** Type class of a column as pandas reads the engine's parquet in
    * `tools/check.py`. pandas reads decimals, dates, strings, binaries and
    * nested values all as objects; they get classes of their own here. */
  private def typeClass(t: DataType): String = t match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => "int"
    case _: FloatType | _: DoubleType => "float"
    case _: DecimalType => "decimal"
    case _: BooleanType => "bool"
    case _: TimestampType | _: TimestampNTZType => "datetime"
    case _: DateType => "date"
    case _: BinaryType => "binary"
    case _: ArrayType | _: MapType | _: StructType => "nested"
    case _ => "string"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => c.cast(LongType).cast(StringType)
    case d: DecimalType if d.scale == 0 => c.cast(LongType).cast(StringType)
    case _: DecimalType | _: FloatType | _: DoubleType =>
      // -0.0 == 0.0 in the comparison rule, so both print as 0.0
      val x = c.cast(DoubleType)
      when(x === 0.0, lit("0.0")).otherwise(x.cast(StringType))
    case _: TimestampType | _: TimestampNTZType | _: DateType => unix_micros(c.cast(TimestampType)).cast(StringType)
    case _: BinaryType => hex(c)
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c.cast(StringType)
  }

  /** (rows, digest) of `df`, in one job over its output. */
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map { n =>
      val t = df.schema(n).dataType
      concat(lit(typeClass(t) + ":"), coalesce(canon(col(s"`$n`"), t), lit(Null)))
    }
    val h = xxhash64(concat_ws("\u0000", cols.toIndexedSeq: _*))
    // two 32-bit halves summed as longs: no overflow under ANSI mode
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
           sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"${(hi << 32) + lo}%016x")
  }

  /** Digest of each `<dir>/<key>.parquet` (expected values from the
    * DuckDB oracle or a reference run). */
  def ofParquetDir(rec: Records, dir: String, keys: Seq[String]): Unit = {
    val s = Posture.session(Work.dir)
    keys.foreach { k =>
      val (n, d) = of(s.read.parquet(s"$dir/$k.parquet"))
      rec.add("t" -> "digest", "key" -> k, "rows" -> n, "digest" -> d)
    }
    s.stop()
  }

  /** The same rows in another order, split over other partitions, must
    * give the same digest; one changed cell must not. */
  def selfTest(rec: Records): Unit = {
    val s = Posture.session(Work.dir, Seq("spark.master" -> "local[2]"))
    import s.implicits._
    val base = (1 to 2000).map(i => (i.toLong, s"u${i % 37}", i * 0.25, i % 3 == 0)).toDF("id", "user", "v", "f")
    val shuffled = base.orderBy(rand(7)).repartition(5)
    val widened = base.select(col("id").cast(IntegerType), col("user"), col("v").cast(FloatType), col("f"))
    val changed = base.withColumn("v", when(col("id") === 1000L, lit(-1.0)).otherwise(col("v")))
    // same values, other type class: decimal for double, decimal(20,0) for long
    val toDecimal = base.withColumn("v", col("v").cast(DecimalType(12, 2)))
    val idDecimal = base.withColumn("id", col("id").cast(DecimalType(20, 0)))
    rec.add("t" -> "selftest", "base" -> of(base)._2, "shuffled" -> of(shuffled)._2,
      "widened" -> of(widened)._2, "changed" -> of(changed)._2,
      "to_decimal" -> of(toDecimal)._2, "id_decimal" -> of(idDecimal)._2)
    s.stop()
  }
}
