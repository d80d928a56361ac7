package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Row count plus an order-independent hash of every column of a result.
  *
  * Columns are taken in lower-cased name order. Each value is written in a
  * canonical text form that does not depend on the physical type: integral
  * values (any integer type, a scale-0 decimal, an integral double) as their
  * digits, other numbers rounded to 6 significant digits. So a Spark result
  * and a DuckDB result of the same rows hash alike although one says
  * `decimal(38,0)` where the other says `BIGINT`. Row hashes (XXH64 of the
  * row text) are summed modulo 2^64, so row order does not matter. */
final case class Fingerprint(rows: Long, hash: Long) {
  def show: String = f"$rows:$hash%016x"
}

object Fingerprint {
  private val Mc = new MathContext(6)

  private def number(bd: JBigDecimal, sb: java.lang.StringBuilder): Unit = {
    val s = bd.stripTrailingZeros()
    if (s.scale() <= 0) sb.append(s.toBigInteger.toString)
    else sb.append(s.round(Mc).stripTrailingZeros().toString)
  }

  private def double(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) sb.append(d.toLong)
    else number(new JBigDecimal(d), sb)

  private def value(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("\u0000N")
    else dt match {
      case BooleanType => sb.append(v.asInstanceOf[Boolean])
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append(v.toString)
      case FloatType => double(v.asInstanceOf[Float].toDouble, sb)
      case DoubleType => double(v.asInstanceOf[Double], sb)
      case _: DecimalType =>
        number(v.asInstanceOf[Decimal].toJavaBigDecimal, sb)
      case DateType =>
        sb.append(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType => sb.append("t").append(v.toString)
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append('\u0002')
          value(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append('\u0003')
          value(if (r.isNullAt(i)) null else r.get(i, st(i).dataType),
            st(i).dataType, sb)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          value(m.keyArray().get(i, kt), kt, e)
          e.append('\u0004')
          value(if (m.valueArray().isNullAt(i)) null
            else m.valueArray().get(i, vt), vt, e)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString("\u0005")).append('>')
      case _ => sb.append(v.toString)
    }

  /** Hash of one row; `order` lists the column ordinals in name order. */
  def rowHash(r: InternalRow, order: Array[Int], types: Array[DataType]): Long = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < order.length) {
      val i = order(j)
      if (j > 0) sb.append('\u0001')
      value(if (r.isNullAt(i)) null else r.get(i, types(i)), types(i), sb)
      j += 1
    }
    val b = sb.toString.getBytes("UTF-8")
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Runs `qe`'s physical plan to completion and folds every row into the
    * fingerprint on the executors. This is the timed action of the batch
    * workloads: the same jobs a `noop` write runs, plus one hash per output
    * row, so checking the output needs no second execution. */
  def execute(spark: SparkSession, qe: QueryExecution, schema: StructType,
      label: String): Fingerprint = {
    val order = schema.fields.indices.sortBy(i => schema(i).name.toLowerCase).toArray
    val types = schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some(label)) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var h = 0L
        while (it.hasNext) { h += rowHash(it.next(), order, types); n += 1 }
        Iterator((n, h))
      }.collect()
    }
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def of(df: DataFrame): Fingerprint =
    execute(df.sparkSession, df.queryExecution, df.schema, "fingerprint")
}
