package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** Keyed vectors collected to the driver when they fit: the input side of
  * the size-chosen k-means and PQ M-steps ([[graft.scale.Similarity
  * .centroids]], [[graft.scale.Pq.codebook]]) and of the size-chosen PQ
  * probe ([[graft.scale.Pq.encode]], [[graft.scale.Pq.adcTopK]], whose
  * code tables come as extra integral columns beside the key). One bounded
  * collect decides and fetches at once, so an input that fits costs one job and an input
  * that does not costs a read of at most `cap` elements before its caller
  * takes the Spark plan.
  *
  * The driver plans mirror Spark's decimal-exact means bit for bit: each
  * element is quantized ONCE to DECIMAL(27,9) through Spark's own
  * [[Decimal]] (the `CAST(CAST(x AS DOUBLE) AS DECIMAL(27,9))` of the Spark
  * M-step), [[Sums]] adds the unscaled values exactly, and [[Sums.mean]]
  * finishes as `round(CAST(sum AS DOUBLE) / n, scale)` does. */
object DriverVectors {

  /** Vector elements (rows × D) up to which the M-steps, the encode and the
    * ADC run on the driver.
    * Set from a synthetic probe of the curate train (per-label centroids
    * over 16 labels, residualize, PQ codebook m = 8, k = 16, 2 rounds) over
    * clustered doubles in one parquet file, local mode on 4 cores, 2 GB
    * heap, the better of 2 runs per plan after a warm-up. At 4,194,304
    * elements (65,536 × 64 or 5,461 × 768) the driver plans took 5.4 s at
    * both widths where the Spark plans took 11.8 s (D = 64) and 11.1 s
    * (D = 768). The collected vectors held 67 and 64 MB of driver heap (16
    * bytes an element: the double and its decimal units); one collect
    * allocated 1.8 and 1.9 GB over all threads, and one driver-plan train
    * 4.0 and 4.3 GB. Twice the cap holds twice that (133 MB at 8,388,608
    * elements, D = 64), so the cap stays where the held vectors are a
    * sixteenth of Spark's default 1 GB driver heap. The curate workload
    * trains on 128,000 elements.
    *
    * An input above the cap pays one aborted collect before its Spark plan:
    * the one task reads the first `cap` elements and stops. At twice the
    * cap that read took 0.23 s (D = 64) and 0.27 s (D = 768) over a plain
    * scan, and 0.97 and 0.83 s over a `kmeansFit` E-step, whose distance
    * kernels then run in that one task; `kmeansFit` pays it in its first
    * round only. The Spark plans it precedes took 7.5 and 9.5 s
    * (centroids), 28–38 s (codebook) and 27–33 s (`kmeansFit`, 3 rounds)
    * there, and the spread between their runs exceeded the collect. */
  val ElementCap: Long = 1L << 22

  /** Collected rows: row `r`'s key is `keys(r)` (an integral key, or an
    * index into `dict` for a string key) unless `nullKey(r)`, its elements
    * are `values(start(r) until start(r + 1))` as doubles, and its value of
    * the `j`-th extra integral column is `extra(j)(r)`. Only these arrays
    * cross the wire; `units`, the same elements quantized to DECIMAL(27,9)
    * as unscaled longs (x·10⁹), is built on the driver when a caller first
    * reads it: the M-steps do, to sum exactly, and take the Spark plan when
    * an element has [[NoUnits]]; the E-step and ADC callers never do. */
  final class Vectors(val keys: Array[Long], val nullKey: Array[Boolean],
      val dict: Array[String], val start: Array[Int],
      val values: Array[Double], val extra: Array[Array[Long]])
      extends Serializable {
    def rows: Int = keys.length
    def size(r: Int): Int = start(r + 1) - start(r)
    @transient lazy val units: Array[Long] = values.map(quantize)

    /** Set field `j` of `row`, of the key column's type `t`, to key `key`
      * (a value of `keys`). */
    def setKey(row: InternalRow, j: Int, t: DataType, key: Long): Unit =
      t match {
        case StringType =>
          row.update(j, UTF8String.fromString(dict(key.toInt)))
        case _ => LocalFrame.setIntegral(row, j, t, key)
      }
  }

  /** `(keyCol, vecCol, extra…)` of `df` on the driver, or None when the
    * input holds more than `cap` elements (or more than `cap` rows) or is
    * not one the driver mirrors: a key neither integral nor a
    * default-collation string, elements not numeric, a null vector, an
    * element that is null, NaN or infinite, an extra column that is not
    * integral or holds a null, or a read that fails (the caller's Spark
    * plan then raises the failure when an action runs it). A row costs
    * its vector's length plus one element per extra column; without a
    * `vecCol` every row's vector is empty. `cap = 0` starts no job.
    *
    * The input is read through `limit(cap + 1)` by ONE task, which counts
    * elements as the rows stream in and stops at the first row past the
    * cap or the first value the driver does not mirror: no row above the
    * cap reaches the driver, and an input far above it is read no further
    * than its first `cap` elements. */
  def collect(df: DataFrame, keyCol: String, vecCol: Option[String],
      cap: Long, extra: Seq[String] = Nil): Option[Vectors] = {
    val integral: DataType => Boolean = {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val stringKey = df.schema(keyCol).dataType match {
      case StringType => Some(true)
      case t if integral(t) => Some(false)
      case _ => None
    }
    val numeric = vecCol.forall(c => df.schema(c).dataType match {
      case ArrayType(_: NumericType, _) => true
      case _ => false
    })
    if (cap <= 0 || stringKey.isEmpty || !numeric ||
        !extra.forall(c => integral(df.schema(c).dataType))) return None
    val str = stringKey.get
    val key = if (str) col(keyCol) else col(keyCol).cast(LongType)
    val vec = vecCol.fold(lit(null).cast(ArrayType(DoubleType)))(c =>
      col(c).cast(ArrayType(DoubleType)))
    val hasVec = vecCol.isDefined
    val n = extra.size
    val rows =
      try df.select(key +: vec +: extra.map(col(_).cast(LongType)): _*)
        .coalesce(1).limit(math.min(cap, Int.MaxValue - 1L).toInt + 1)
        .queryExecution.toRdd
        .mapPartitions(it => Iterator(pack(it, str, hasVec, n, cap)))
        .collect()
      catch { case NonFatal(_) => return None }
    rows.headOption.getOrElse(pack(Iterator.empty, str, hasVec, n, cap))
  }

  private def pack(it: Iterator[InternalRow], str: Boolean, hasVec: Boolean,
      n: Int, cap: Long): Option[Vectors] = {
    val keys = new scala.collection.mutable.ArrayBuilder.ofLong
    val nullKey = new scala.collection.mutable.ArrayBuilder.ofBoolean
    val start = new scala.collection.mutable.ArrayBuilder.ofInt
    val values = new scala.collection.mutable.ArrayBuilder.ofDouble
    val extra = Array.fill(n)(new scala.collection.mutable.ArrayBuilder.ofLong)
    val dict = new java.util.HashMap[String, Integer]()
    var rows = 0L
    var elems = 0L
    var vals = 0
    start += 0
    while (it.hasNext) {
      val r = it.next()
      rows += 1
      if (rows > cap || (hasVec && r.isNullAt(1))) return None
      val d = if (hasVec) r.getArray(1).numElements() else 0
      if (elems + d + n > cap) return None
      if (hasVec) {
        val v = r.getArray(1)
        var i = 0
        while (i < d) {
          if (v.isNullAt(i)) return None
          val x = v.getDouble(i)
          if (x.isNaN || x.isInfinite) return None
          values += x
          i += 1
        }
      }
      var j = 0
      while (j < n) {
        if (r.isNullAt(2 + j)) return None
        extra(j) += r.getLong(2 + j)
        j += 1
      }
      vals += d
      elems += d + n
      start += vals
      nullKey += r.isNullAt(0)
      keys += (if (r.isNullAt(0)) 0L
        else if (str) {
          val s = r.getUTF8String(0).toString
          dict.computeIfAbsent(s, _ => Integer.valueOf(dict.size)).toLong
        } else r.getLong(0))
    }
    val names = new Array[String](dict.size)
    dict.forEach((s, i) => names(i) = s)
    Some(new Vectors(keys.result(), nullKey.result(), names, start.result(),
      values.result(), extra.map(_.result())))
  }

  /** [[quantize]]'s answer for an element the driver does not mirror. */
  private[graft] val NoUnits = Long.MinValue

  /** `CAST(x AS DECIMAL(27,9))` as Spark evaluates it — `Decimal(x)`, the
    * decimal form of `Double.toString(x)`, rounded half-up to 9 places —
    * as its unscaled long, or [[NoUnits]] for NaN, an infinity, or a value
    * whose unscaled form is no long (one value that is, −2⁶³·10⁻⁹, also
    * reads NoUnits and merely takes the Spark plan). */
  private[graft] def quantize(x: Double): Long = {
    if (x.isNaN || x.isInfinite) return NoUnits
    val q = Decimal(x)
    if (!q.changePrecision(27, 9)) NoUnits
    else try q.toUnscaledLong catch { case _: ArithmeticException => NoUnits }
  }

  /** Exact sums of DECIMAL(27,9) unscaled values, one per cell: a long and
    * a count of its wraps, so no sum of up to 2³¹ longs can overflow. */
  final class Sums(cells: Int) {
    private val lo = new Array[Long](cells)
    private val hi = new Array[Long](cells)

    def add(i: Int, u: Long): Unit = {
      val s = lo(i)
      val t = s + u
      if (((s ^ t) & (u ^ t)) < 0) hi(i) += (if (u < 0) -1 else 1)
      lo(i) = t
    }

    /** `round(CAST(sum AS DOUBLE) / n, scale)` over cell `i`, as Spark
      * evaluates it on the DECIMAL(37,9) sum of its M-step. */
    def mean(i: Int, n: Long, scale: Int): Double = {
      val u = java.math.BigInteger.valueOf(hi(i)).shiftLeft(64)
        .add(java.math.BigInteger.valueOf(lo(i)))
      round(Decimal(new java.math.BigDecimal(u, 9)).toDouble / n, scale)
    }
  }

  /** Spark's `round(x, scale)` on a double: half-up on the decimal form of
    * `x`, NaN and infinities unchanged. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue
}
