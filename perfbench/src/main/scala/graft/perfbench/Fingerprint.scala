package graft.perfbench

import java.math.MathContext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive fingerprint of a query's output: row count, column
  * names and types, and two independent sums of per-row hashes. Doubles
  * are rounded to 9 significant digits first, so a change in summation
  * order cannot flip a fingerprint; any other change of a value, a row or
  * a type does.
  */
final case class Fingerprint(rows: Long, schema: String, hash: String)

object Fingerprint {

  private val Digits = new MathContext(9)

  /** Executes the query once, as one SQL execution (so listeners see it),
    * and fingerprints every output row on the executors.
    */
  def of(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var a = 0L
        var b = 0L
        it.foreach { r =>
          val h = row(r, schema)
          n += 1; a += h; b += mix(h ^ 0x5bd1e9955bd1e995L)
        }
        Iterator((n, a, b))
      }.collect()
    }
    Fingerprint(parts.map(_._1).sum, schema.catalogString,
      f"${parts.map(_._2).sum}%016x${parts.map(_._3).sum}%016x")
  }

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def str(s: String): Long = bytes(s.getBytes("UTF-8"))

  private def double(d: Double): Long =
    if (d.isNaN) 0x7ff8L
    else if (d.isInfinite) (if (d > 0) 0x7ff0L else -0x7ff0L)
    else if (d == 0.0) 0L
    else str(new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString)

  def row(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.length) {
      h = combine(h, value(if (r.isNullAt(i)) null else r.get(i, st(i).dataType),
        st(i).dataType))
      i += 1
    }
    h
  }

  private def value(v: Any, dt: DataType): Long = if (v == null) 0x9e3779b9L else dt match {
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType => v.asInstanceOf[Byte].toLong
    case ShortType => v.asInstanceOf[Short].toLong
    case IntegerType | DateType => v.asInstanceOf[Int].toLong
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case DoubleType => double(v.asInstanceOf[Double])
    case _: DecimalType =>
      str(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString)
    case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 23L
      var i = 0
      while (i < a.numElements()) {
        h = combine(h, value(if (a.isNullAt(i)) null else a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      // entries in any order
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map { i =>
        mix(value(ks.get(i, kt), kt) * 31 +
          value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))
      }.sum
    case _ => str(v.toString)
  }
}
