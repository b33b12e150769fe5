package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecificInternalRow,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Result frames built on the driver (the size-chosen driver plans of
  * [[graft.scale.Dedup.connectedComponents]], [[graft.scale.Similarity
  * .centroids]] and [[graft.scale.Pq.codebook]]) as one local relation of
  * Catalyst rows.
  *
  * `createDataFrame(java.util.List[Row], schema)` boxes every value into an
  * external `Row`, then converts each row again into a generic internal row
  * that keeps the boxes. Here `fill` writes row `i`'s fields into one reused
  * mutable row, each row is encoded once, and every row's bytes land in ONE
  * shared byte array: a row costs its `UnsafeRow` header plus its encoded
  * bytes (24 for two longs), and nothing else is allocated per row. */
object LocalFrame {

  /** `n` rows of `schema`; `fill(i, row)` sets row `i`'s fields (a field it
    * leaves alone is null). */
  def apply(spark: SparkSession, schema: StructType, n: Int)(
      fill: (Int, InternalRow) => Unit): DataFrame = {
    val row = new SpecificInternalRow(schema.map(_.dataType))
    val encode = UnsafeProjection.create(schema)
    // exact for fixed-width schemas; variable-width rows grow the buffer
    var buf = new Array[Byte](math.max(16,
      n * (UnsafeRow.calculateBitSetWidthInBytes(schema.length) +
        8 * schema.length)))
    val start = new Array[Int](n + 1)
    for (i <- 0 until n) {
      for (j <- schema.indices) row.setNullAt(j)
      fill(i, row)
      val u = encode(row)
      val end = start(i) + u.getSizeInBytes
      if (end > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(end, 2 * buf.length))
      u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + start(i))
      start(i + 1) = end
    }
    if (start(n) < buf.length) buf = java.util.Arrays.copyOf(buf, start(n))
    val rows = Array.tabulate[InternalRow](n) { i =>
      val r = new UnsafeRow(schema.length)
      r.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + start(i),
        start(i + 1) - start(i))
      r
    }
    org.apache.spark.sql.graftbridge.Bridge.localFrame(spark, schema,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
  }

  /** Set field `j` of an integral column of type `t` from a long. */
  def setIntegral(row: InternalRow, j: Int, t: DataType, v: Long): Unit =
    t match {
      case ByteType => row.setByte(j, v.toByte)
      case ShortType => row.setShort(j, v.toShort)
      case IntegerType => row.setInt(j, v.toInt)
      case _ => row.setLong(j, v)
    }
}
