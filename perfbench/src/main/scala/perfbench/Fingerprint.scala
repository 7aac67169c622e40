package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row. A row is its cells rendered
  * canonically in column-name order and joined by U+001F; the row hash is
  * the first 8 bytes of the MD5 of that text. Doubles and decimals are
  * rounded half-even to 9 decimals before rendering, so accumulation-order
  * noise in the last bits does not change the fingerprint.
  *
  * perfbench/fingerprint.py renders DuckDB values by the same rules; the
  * expected fingerprints in perfbench/fingerprints.json come from it. */
object Fingerprint {
  final case class Result(rows: Long, hash: Long, cols: String) {
    def hex: String = f"$hash%016x"
  }

  /** Materializes every row of `df`'s full plan in one job, folding each
    * into the fingerprint. With `hashRows` false it only counts. */
  def materialize(df: DataFrame, hashRows: Boolean): Result = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val cols = fields.map(_._1.name).mkString(",")
    val rdd = df.queryExecution.toRdd
    if (!hashRows) return Result(rdd.count(), 0L, cols)
    val layout = fields.map { case (f, i) => (i, f.dataType) }
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        h += rowHash(it.next(), layout)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum, cols)
  }

  def rowHash(r: InternalRow, layout: Array[(Int, DataType)]): Long =
    textHash(layout.map { case (i, t) => cell(r, i, t) }.mkString("\u001f"))

  def textHash(row: String): Long = ByteBuffer.wrap(
    MessageDigest.getInstance("MD5").digest(row.getBytes(UTF_8))).getLong

  def cell(r: InternalRow, i: Int, t: DataType): String =
    if (r.isNullAt(i)) "\\N"
    else t match {
      case BooleanType => r.getBoolean(i).toString
      case ByteType => r.getByte(i).toString
      case ShortType => r.getShort(i).toString
      case IntegerType => r.getInt(i).toString
      case LongType => r.getLong(i).toString
      case FloatType => double(r.getFloat(i).toDouble)
      case DoubleType => double(r.getDouble(i))
      case d: DecimalType =>
        decimal(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case _: StringType => r.getUTF8String(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
      case TimestampType | TimestampNTZType => r.getLong(i).toString
      case BinaryType => r.getBinary(i).map(b => f"$b%02x").mkString
      case other =>
        throw new IllegalArgumentException(s"no canonical form for $other")
    }

  def double(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "Infinity" else "-Infinity")
    else decimal(new JBigDecimal(v))

  def decimal(v: JBigDecimal): String = {
    val q = v.setScale(9, RoundingMode.HALF_EVEN)
    if (q.signum == 0) "0" else q.stripTrailingZeros.toPlainString
  }
}
