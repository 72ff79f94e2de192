package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result, computed while the query
  * runs: each partition folds its rows into (row count, wrapping sum of
  * row hashes), so executing the query and checking its output is one
  * Spark job over the same plan a `noop` write would run. The canonical
  * row rendering is specified in oracle.py, which digests DuckDB's
  * oracle results the same way. */
object Digest {

  final case class Result(rows: Long, hash: Long) {
    def hashString: String = java.lang.Long.toUnsignedString(hash)
  }

  def of(df: DataFrame): Result = {
    val order = df.schema.fields.zipWithIndex.sortBy(_._1.name)
      .map { case (f, i) => (i, f.dataType) }
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md5 = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var sum = 0L
      while (it.hasNext) {
        val row = it.next()
        sb.setLength(0)
        var k = 0
        while (k < order.length) {
          if (k > 0) sb.append('\u001f')
          render(sb, row, order(k)._1, order(k)._2)
          k += 1
        }
        val h = md5.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
        sum += ByteBuffer.wrap(h, 0, 8).getLong
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def render(sb: java.lang.StringBuilder, row: SpecializedGetters,
      i: Int, dt: DataType): Unit =
    if (row.isNullAt(i)) sb.append("\\N")
    else dt match {
      case BooleanType => sb.append(row.getBoolean(i))
      case ByteType => sb.append(row.getByte(i).toInt)
      case ShortType => sb.append(row.getShort(i).toInt)
      case IntegerType | DateType => sb.append(row.getInt(i))
      case LongType | TimestampType | TimestampNTZType =>
        sb.append(row.getLong(i))
      case FloatType => sb.append(hex(row.getFloat(i).toDouble))
      case DoubleType => sb.append(hex(row.getDouble(i)))
      case _: StringType => sb.append(row.getUTF8String(i).toString)
      case d: DecimalType =>
        sb.append(row.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.toPlainString)
      case ArrayType(et, _) =>
        val a = row.getArray(i)
        sb.append('[')
        var j = 0
        while (j < a.numElements()) {
          if (j > 0) sb.append(',')
          render(sb, a, j, et)
          j += 1
        }
        sb.append(']')
      case other => sb.append(String.valueOf(row.get(i, other)))
    }

  private def hex(d: Double): String =
    if (d.isNaN) "NaN"
    else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
}
