package perfbench

import java.security.MessageDigest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Order-insensitive result digest; the same canonical form as
  * perfbench/digest.py (see there), so a digest pinned from DuckDB compares
  * equal to one computed here. Hashing runs on the executors; only one 64-bit sum per
  * partition comes back to the driver.
  */
object Digest {
  def fraction(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else (if (d < 0) "-" else "") + "L" + Math.floor(Math.log(Math.abs(d)) * 1e6 + 0.5).toLong

  private def micros(epochSecond: Long, nano: Int): String =
    (epochSecond * 1000000L + nano / 1000).toString

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case s: String => s
    case d: Double => fraction(d)
    case f: Float => fraction(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case b: java.math.BigDecimal => fraction(b.doubleValue)
    case b: scala.math.BigDecimal => fraction(b.toDouble)
    case t: java.sql.Timestamp => micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case other => other.toString
  }

  private def rowHash(md: MessageDigest, fields: Array[String]): Long = {
    val line = fields.mkString("\u001f")
    val h = md.digest(line.getBytes("UTF-8"))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
    x
  }

  /** `<rows>:<column-set hash>:<row-hash sum>`; re-executes `df`. */
  def of(df: DataFrame): String = {
    val order = sortedOrder(df.columns)
    finish(df.columns, df.rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.map(r => rowHash(md, order.map(i => canon(r.get(i)))))
    })
  }

  /** The digest of rows an executed plan produced: `rdd` is the plan's own
    * `queryExecution.toRdd`, so a second pass over it reuses the shuffle
    * outputs of the timed pass and recomputes only the final stage. */
  def ofExecuted(rdd: RDD[InternalRow], schema: StructType): String = {
    val types = schema.fields.map(_.dataType)
    val order = sortedOrder(schema.fieldNames)
    finish(schema.fieldNames, rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.map(r => rowHash(md, order.map(i => canon(internal(r, i, types(i))))))
    })
  }

  private def internal(r: InternalRow, i: Int, t: DataType): Any =
    if (r.isNullAt(i)) null
    else t match {
      case BooleanType => r.getBoolean(i)
      case ByteType => r.getByte(i)
      case ShortType => r.getShort(i)
      case IntegerType => r.getInt(i)
      case LongType => r.getLong(i)
      case FloatType => r.getFloat(i)
      case DoubleType => r.getDouble(i)
      case d: DecimalType => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case StringType => r.getUTF8String(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong)
      case TimestampType | TimestampNTZType => r.getLong(i).toString // epoch micros
      case other => throw new IllegalArgumentException(s"digest: unsupported type $other")
    }

  private def sortedOrder(cols: Array[String]): Array[Int] =
    cols.indices.sortBy(cols(_)).toArray

  private def finish(cols: Array[String], hashes: RDD[Long]): String = {
    val (n, sum) = hashes.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { h => s += h; n += 1 }
      Iterator((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val names = sortedOrder(cols).map(cols(_)).mkString(",")
    val head = MessageDigest.getInstance("MD5").digest(names.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    f"$n:$head:$sum%016x"
  }
}
