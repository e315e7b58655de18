package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digest of a query result: the row count plus the
  * wrapping 64-bit sum of per-row hashes over every output column.
  *
  * Floating values are rounded to [[Digits]] significant decimal digits
  * before hashing, so results that differ only in the order a sum was
  * accumulated hash alike. -0.0 hashes as 0.0 and every NaN alike. Row
  * order never matters; duplicate rows count twice. */
object Digest {
  val Digits = 10
  private val Ctx = new MathContext(Digits, RoundingMode.HALF_EVEN)
  private val Seed = 0x5eedL
  private val NullHash = 0x9e3779b97f4a7c15L

  case class Result(rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  /** Runs the query's already-planned physical plan once as a named SQL
    * execution and digests every row it returns. Reusing the executed
    * plan keeps Catalyst from pruning columns or re-planning the query. */
  def run(qe: QueryExecution, schema: StructType): Result =
    SQLExecution.withNewExecutionId(qe, Some(ActionName)) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += row(r, schema) }
        Iterator.single((n, s))
      }.collect().foldLeft(Result(0L, 0L)) { case (acc, (n, s)) =>
        Result(acc.rows + n, acc.sum + s)
      }
    }

  /** Name of the digest's SQL execution, as QueryExecutionListeners see it. */
  val ActionName = "perfbench.digest"

  def rows(rs: Iterable[InternalRow], schema: StructType): Result =
    rs.foldLeft(Result(0L, 0L)) { (acc, r) =>
      Result(acc.rows + 1, acc.sum + row(r, schema))
    }

  def row(r: InternalRow, schema: StructType): Long = struct(r, schema)

  private def struct(r: SpecializedGetters, t: StructType): Long = {
    var h = Seed
    var i = 0
    val fs = t.fields
    while (i < fs.length) {
      h = XXH64.hashLong(value(r, i, fs(i).dataType), h)
      i += 1
    }
    h
  }

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, Seed)

  private def text(s: String): Long = XXH64.hashUTF8String(UTF8String.fromString(s), Seed)

  /** Canonical text of a floating value at [[Digits]] significant digits. */
  def canonical(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Ctx).stripTrailingZeros.toString

  private def value(g: SpecializedGetters, i: Int, t: DataType): Long =
    if (g.isNullAt(i)) NullHash
    else t match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => XXH64.hashLong(g.getByte(i).toLong, Seed)
      case ShortType => XXH64.hashLong(g.getShort(i).toLong, Seed)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        XXH64.hashLong(g.getInt(i).toLong, Seed)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        XXH64.hashLong(g.getLong(i), Seed)
      case FloatType => text(canonical(g.getFloat(i).toDouble))
      case DoubleType => text(canonical(g.getDouble(i)))
      case d: DecimalType =>
        text(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.toPlainString)
      case _: StringType => XXH64.hashUTF8String(g.getUTF8String(i), Seed)
      case BinaryType => bytes(g.getBinary(i))
      case s: StructType => struct(g.getStruct(i, s.size), s)
      case a: ArrayType =>
        val arr = g.getArray(i)
        var h = XXH64.hashLong(arr.numElements().toLong, Seed)
        var j = 0
        while (j < arr.numElements()) {
          h = XXH64.hashLong(value(arr, j, a.elementType), h)
          j += 1
        }
        h
      case m: MapType =>
        // Entries are summed, so map iteration order does not matter.
        val md = g.getMap(i)
        val (ks, vs) = (md.keyArray(), md.valueArray())
        var h = XXH64.hashLong(md.numElements().toLong, Seed)
        var j = 0
        while (j < md.numElements()) {
          h += XXH64.hashLong(value(vs, j, m.valueType), value(ks, j, m.keyType))
          j += 1
        }
        h
      case u: UserDefinedType[_] => value(g, i, u.sqlType)
      case other => text(String.valueOf(g.get(i, other)))
    }
}
