package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Primitive-loop kernel behind [[VectorDotExpression]]. Replicates the
  * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
  * 0.0, (acc, v) => acc + v)` fold bit-for-bit: sequential left-to-right
  * double accumulation, float elements widened exactly like `CAST(float AS
  * double)`, and the HOF null contract — a ragged pair (zip_with pads with
  * null) or any null element poisons the whole sum to null. */
object VectorKernels {

  /** Boxed so codegen can represent the null outcome; isFloatX selects the
    * accessor (no whole-array cast pass on float embeddings). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Sign-quantization (binary) signature behind [[SrpSignature]]: bit j
    * of the result is 1 iff the vector's projection onto deterministic
    * hyperplane j is > 0, with integer weights
    * `w(i,j) = ((i·(2j+1) + 3j) mod 127) − 63` — the [[graft.scale
    * .Similarity.srpBucket]] family widened to up to 60 planes (2j+1 stays
    * below the modulus, so plane directions are distinct). One pass over
    * the vector with `bits` running sums; each plane's accumulation order
    * is element order, bit-identical to the per-plane
    * `aggregate∘zip_with` HOF fold (and to an engine recomputing
    * `list_sum` in element order). Null element → null signature, same
    * poisoning contract as [[dot]]. */
  def srpSignature(vec: ArrayData, bits: Int, isFloat: Boolean): java.lang.Long = {
    val n = vec.numElements()
    val acc = new Array[Double](bits)
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      var j = 0
      while (j < bits) {
        acc(j) += x * (((i.toLong * (2 * j + 1) + 3 * j) % 127) - 63).toDouble
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (acc(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Squared-L2 fold behind [[VectorSqL2Expression]]: replicates
    * `aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), 0.0, +)`
    * bit-for-bit — sequential accumulation of `d·d` with `d = x − y`
    * evaluated once per element, same null/ragged poisoning as [[dot]]. */
  def sqL2(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  /** [[sqL2]]'s loop over `n` doubles of `a` from `aOff` against `b` — the
    * driver-held E-step of [[graft.scale.Pq.codebook]], bit-identical to
    * the expression kernel over the same doubles. */
  def sqL2(a: Array[Double], aOff: Int, b: Array[Double], n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a(aOff + i) - b(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
