package graft.scale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression path for
  * billion-vector ANN: a D-dim float vector becomes `m` small integer codes
  * (here m·8 bits instead of D·32), and query scoring becomes `m` table
  * lookups per candidate instead of a D-dim float kernel.
  *
  * The codebook's Lloyd loop, the encode and the ADC top-k pick their plan
  * from the measured input: one bounded collect
  * ([[graft.io.DriverVectors.collect]], up to
  * [[graft.io.DriverVectors.ElementCap]] vector elements) decides and
  * fetches at once, and an input that fits finishes on the driver over
  * primitive arrays, returning a local frame with the Spark plan's schema,
  * rows and values. A 2,000-vector index thus trains and answers 50
  * queries in a handful of small jobs and no shuffle. An input the driver
  * does not mirror, or one above the cap (every corpus at 100 TB), runs
  * the Spark plans, which have the 100 TB shape: the codebook is tiny
  * (m·k·(D/m) floats) and each Lloyd round is ONE collected aggregate (one
  * scan of the subvector frame against a centroid literal, grouped into
  * the next centroids), so nothing accumulates and no round re-plans an
  * earlier round's frame. Encoding is one zero-shuffle scan. ADC search
  * joins the (id, subspace, code) table against a BROADCAST per-query
  * lookup table (q·m·k rows) and reduces with one hash aggregation — the
  * corpus-sized side never shuffles on a float.
  *
  * Determinism mirrors the k-means family: min-id seeding (no RNG),
  * per-round `round(·, scale)` centroid quantization, argmin ties broken
  * to the smallest label, and the compared distance surface is pure int64
  * (`floor(d·10⁹)` per subspace, summed as integers — order-free).
  */
object Pq {

  /** One-scan subvector explode: (id, subspace, subvec) with `subspace` in
    * 0..m-1 and `subvec` the contiguous D/m-dim slice. `dims` must be the
    * uniform vector length (`codebook` derives it). A ragged row — a
    * vector whose size differs from `dims` — fails LOUDLY here, at the
    * entry of every PQ path: a short vector would otherwise yield null
    * subspace distances, and the null-first struct ordering in `array_min`
    * would silently assign it code 1 in [[encode]] (and null-skipping
    * sums would drop its error in [[quantizationError]]). A NULL vector
    * is guarded explicitly: `size(NULL)` is null, so a bare `=!=` test
    * would three-value-logic its way into the otherwise branch and pass
    * the null through — the exact silent path the guard exists to close. */
  def subvectors(df: DataFrame, idCol: String, vecCol: String, m: Int,
      dims: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"m=$m must divide dims=$dims")
    val sub = dims / m
    // checked vector lands in its own column so the size-guard CASE is
    // evaluated once, not duplicated into each of the m slice() references
    val vec = when(col(vecCol).isNull || size(col(vecCol)) =!= dims,
      raise_error(concat(
        lit(s"subvectors: expected $dims dims, got "),
        coalesce(size(col(vecCol)).cast("string"), lit("null")),
        lit(" for "),
        coalesce(col(idCol).cast("string"), lit("null")))))
      .otherwise(col(vecCol))
    val subArr = array((0 until m).map { j =>
      struct(lit(j).as("subspace"),
        slice(col("__vec"), j * sub + 1, sub).as("subvec"))
    }: _*)
    df.select(col(idCol).as("__id"), vec.as("__vec"))
      .select(col("__id"), explode(subArr).as("sv"))
      .select(col("__id").as(idCol), col("sv.subspace").as("subspace"),
        col("sv.subvec").as("subvec"))
  }

  /** One trained codebook held on the driver: (subspace, label, centroid
    * coordinates in `pos` order), sorted by (subspace, label). Bounded by
    * contract at m·k entries of D/m doubles. */
  private type Entries = Array[(Int, Long, IndexedSeq[Double])]

  /** The schema of every codebook frame [[codebook]] returns. */
  private val CodebookSchema = StructType(Seq(
    StructField("subspace", IntegerType, nullable = false),
    StructField("label", LongType),
    StructField("pos", IntegerType, nullable = false),
    StructField("centroid", DoubleType)))

  /** Collected (subspace, label, pos, centroid, n) rows grouped into
    * codebook entries, with the two M-step guards checked here on the
    * driver: every pos of one entry must average the same number of
    * subvectors `n` (else the subvectors were ragged), and an entry's pos
    * run must be contiguous 1..size. Both errors name the subspace and
    * label. */
  private[graft] def entries(
      rows: Seq[(Int, Long, Int, Double, Long)]): Entries =
    rows.groupBy(r => (r._1, r._2)).toArray.sortBy(_._1).map {
      case ((sub, label), g) =>
        require(g.map(_._5).distinct.size == 1,
          s"ragged subvectors in subspace $sub label $label")
        val byPos = g.map(r => r._3 -> r._4).toMap
        require((1 to byPos.size).forall(byPos.contains),
          s"codebook dims for subspace $sub label $label are not " +
            s"contiguous 1..${byPos.size}")
        (sub, label, (1 to byPos.size).map(byPos): IndexedSeq[Double])
    }

  /** The PQ M-step as ONE collected aggregate: per-(subspace, label, pos)
    * mean of the assigned subvectors, with the same decimal-exact sum and
    * per-round `round(·, scale)` as [[Similarity.centroids]], plus the row
    * count `n` the ragged guard compares. */
  private def mStep(assigned: DataFrame, scale: Int): Entries =
    entries(assigned
      .select(col("subspace"), col("label"),
        posexplode(col("subvec")).as(Seq("pos", "v")))
      .groupBy(col("subspace"), col("label"), (col("pos") + 1).as("pos"))
      .agg(
        round(
          sum(col("v").cast("double").cast("decimal(27,9)")).cast("double") /
            count(lit(1)), scale).as("centroid"),
        count(lit(1)).as("_n"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getAs[Double](3), r.getLong(4))))

  /** Codebook entries, memoized per codebook FRAME INSTANCE (weak keys —
    * entries die with their frames): every consumer of one trained
    * codebook (encode + ADC LUT + quantization error inside one query)
    * would otherwise re-collect the same frame, paying one Spark job per
    * consumer. [[codebook]] registers its own frames as it returns them,
    * so only a codebook read from elsewhere (a published state version)
    * is ever collected here. Session-scoped and keyed by object identity
    * — never persisted, never shared across frames, so a retrained
    * codebook can never serve stale rows. */
  private val cbMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Entries]())

  private def cbRows(cb: DataFrame): Entries = {
    val hit = cbMemo.get(cb)
    if (hit != null) hit
    else {
      // the collect runs OUTSIDE the memo lock: a Spark job must not
      // block every other codebook's lookup. Two threads racing on one
      // frame both collect the same rows; the first put wins. A stored
      // row is one value, so its count is 1.
      val rows = entries(cb.select("subspace", "label", "pos", "centroid")
        .collect().toSeq
        .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).longValue,
          r.getAs[Number](2).intValue, r.getAs[Double](3), 1L)))
      cbMemo.synchronized {
        val won = cbMemo.get(cb)
        if (won != null) won else { cbMemo.put(cb, rows); rows }
      }
    }
  }

  /** One centroid of a codebook literal: the struct the E-step scores. */
  private case class Centroid(label: Long, c: Seq[Double])

  /** Codebook entries as ONE broadcast-able plan literal:
    * map(subspace -> array of (label, centroid-array) structs). A single
    * typed literal, not a tree of k·D `lit` nodes: every optimizer pass
    * and the generated code see one constant. */
  private def codebookLiteral(rows: Entries): Column =
    typedLit(rows.groupBy(_._1).map { case (s, cl) =>
      s -> cl.sortBy(_._2).map { case (_, l, c) => Centroid(l, c) }.toSeq
    })

  /** Squared-L2 scores of `subvec` against every centroid of its subspace:
    * array of (d, label) structs. The native [[graft.functions.VectorSqL2]]
    * kernel is one primitive loop per pair (bit-identical to the
    * `aggregate∘zip_with` fold by property test), and its in-order
    * accumulation matches the oracle's `list_sum(list_transform(...))`
    * element order bit-for-bit. */
  private def scoredAgainst(cbLit: Column): Column =
    transform(element_at(cbLit, col("subspace")), cs => struct(
      graft.functions.VectorSqL2(col("subvec"), cs.getField("c")).as("d"),
      cs.getField("label").as("label")))

  /** E-step: nearest codebook entry per (id, subspace); ties break to the
    * smallest label (struct min is (d, label)-lexicographic). */
  private def assignSub(subv: DataFrame, rows: Entries): DataFrame =
    subv.withColumn("label",
      array_min(scoredAgainst(codebookLiteral(rows))).getField("label"))

  /** Train the PQ codebook: split D dims into `m` contiguous subspaces and
    * run `iters` Lloyd's rounds with k centroids in EACH subspace — all
    * subspaces advance together in ONE pass per round (subspace is just a
    * grouping key), not m separate loops. Deterministic min-id seeding:
    * the k smallest-id vectors seed every subspace, labels 1..k.
    *
    * The plan is chosen from the measured input, and the loop is held on
    * the driver either way:
    *
    *  - up to [[graft.io.DriverVectors.ElementCap]] elements with integral
    *    ids and float or double elements, ONE bounded collect fetches the
    *    input ([[graft.io.DriverVectors.collect]]) and every round runs on
    *    the driver over primitive arrays: the E-step is the
    *    [[graft.functions.VectorKernels.sqL2]] loop against each centroid
    *    of the subvector's subspace, ties to the smallest label; the
    *    M-step sums each element's DECIMAL(27,9) form exactly and goes
    *    through [[entries]]. One job, and the same rows and double bits as
    *    the Spark plan;
    *  - any other input (more elements; null or non-integral ids; a null,
    *    NaN or infinite element; a tie on the k-th smallest id; a ragged
    *    vector or an `m` that does not divide D, which the Spark plan
    *    raises) runs the Spark plan, the 100 TB shape: one job collects the
    *    seeds (their size fixes D; the first round's scan checks every other
    *    row against it through the [[subvectors]] guard), and each round is
    *    one collected aggregate — the E-step against the previous round's
    *    centroid literal feeding the M-step — checked on the driver by
    *    [[entries]]. Nothing is re-planned from an earlier round's frame.
    *    The subvector scan fans out to every core when the input is narrow
    *    (see [[graft.io.FanOut]]; a no-op at scale).
    *
    * Returns a local (subspace, label, pos, centroid) frame, `pos` 1-based
    * within the subspace, already registered with [[encode]],
    * [[adcTopK]] and [[quantizationError]], so they never collect it
    * again. */
  def codebook(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      iters: Int, scale: Int = 4): DataFrame =
    trainCodebook(df, idCol, vecCol, m, k, iters, scale,
      graft.io.DriverVectors.ElementCap)

  /** [[codebook]] with the driver-plan cap as a parameter: `cap = 0`
    * always runs the Spark plan. */
  private[graft] def trainCodebook(df: DataFrame, idCol: String,
      vecCol: String, m: Int, k: Int, iters: Int, scale: Int,
      cap: Long): DataFrame = {
    require(k > 0, "k must be positive")
    require(iters > 0, "iters must be positive")
    val rows = driverLloyd(df, idCol, vecCol, m, k, iters, scale, cap)
      .getOrElse(sparkLloyd(df, idCol, vecCol, m, k, iters, scale))
    val cells = rows.toSeq.flatMap { case (s, l, c) =>
      c.indices.map(p => (s, l, p + 1, c(p))) }
    val out = graft.io.LocalFrame(df.sparkSession, CodebookSchema,
        cells.length) { (i, row) =>
      val (s, l, p, v) = cells(i)
      row.setInt(0, s)
      row.setLong(1, l)
      row.setInt(2, p)
      row.setDouble(3, v)
    }
    cbMemo.put(out, rows)
    out
  }

  /** The Spark plan of [[codebook]]'s Lloyd loop. */
  private def sparkLloyd(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, scale: Int): Entries = {
    // seeds: the k smallest-id vectors (TakeOrderedAndProject on the base
    // frame — never a full-partition window), rounded as centroids
    val seeds = df.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).cast("string"),
        transform(col(vecCol), v => round(v.cast("double"), scale)))
      .collect()
      .map(r => (r.getString(0),
        Option(r.getSeq[Double](1)).map(_.toIndexedSeq)))
    val sizes = seeds.flatMap(_._2.map(_.length))
    require(sizes.nonEmpty, "codebook: no vector to seed from")
    val dims = sizes.max
    seeds.find(_._2.forall(_.length != dims)).foreach { case (id, v) =>
      throw new IllegalArgumentException(s"subvectors: expected $dims dims, " +
        s"got ${v.fold("null")(_.length.toString)} for $id")
    }
    val subv = subvectors(graft.io.FanOut(df.select(col(idCol), col(vecCol))),
      idCol, vecCol, m, dims)
    val sub = dims / m
    // every subspace gets the same seed ids, labels 1..k
    var rows: Entries = for {
      j <- (0 until m).toArray
      ((_, v), i) <- seeds.zipWithIndex
    } yield (j, i + 1L, v.get.slice(j * sub, (j + 1) * sub))
    for (_ <- 1 to iters)
      rows = mStep(assignSub(subv, rows).select("subspace", "label", "subvec"),
        scale)
    rows
  }

  /** The driver plan of [[codebook]]'s Lloyd loop over collected vectors,
    * or None for an input it does not mirror (see [[codebook]]). */
  private def driverLloyd(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, scale: Int, cap: Long): Option[Entries] = {
    val integralIds = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integralIds || !floatVectors(df, vecCol)) return None
    val v = graft.io.DriverVectors.collect(df, idCol, Some(vecCol), cap) match {
      case Some(v) if !v.units.contains(graft.io.DriverVectors.NoUnits) => v
      case _ => return None
    }
    val n = v.rows
    if (n == 0 || v.nullKey.contains(true)) return None
    // seeds as `orderBy(id).limit(k)` takes them; equal ids among or next
    // to them have no defined order
    val ids = v.keys.clone()
    java.util.Arrays.sort(ids)
    val s = math.min(k, n)
    if ((1 until math.min(k + 1, n)).exists(i => ids(i) == ids(i - 1)))
      return None
    val seedRow = new Array[Int](s)
    for (r <- 0 until n) {
      val i = java.util.Arrays.binarySearch(ids, 0, s, v.keys(r))
      if (i >= 0) seedRow(i) = r
    }
    val dims = seedRow.map(v.size).max
    if (dims == 0 || m <= 0 || dims % m != 0 ||
        (0 until n).exists(v.size(_) != dims)) return None
    val sub = dims / m
    var rows: Entries = for {
      j <- (0 until m).toArray
      (r, i) <- seedRow.zipWithIndex
    } yield (j, i + 1L, (0 until sub).map(p => graft.io.DriverVectors.round(
      v.values(v.start(r) + j * sub + p), scale)): IndexedSeq[Double])
    for (_ <- 1 to iters) rows = driverRound(v, rows, m, sub, scale)
    Some(rows)
  }

  /** Whether `vecCol` holds float or double vectors: the element types the
    * native squared-L2 kernel reads, and so the ones the driver plans
    * mirror. */
  private def floatVectors(df: DataFrame, vecCol: String): Boolean =
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }

  /** A codebook as the driver plans score it: each entry's centroid, and
    * each subspace's entries in label order. */
  private final class Book(rows: Entries, m: Int) {
    private val cents = rows.map(_._3.toArray)
    val bySub: Array[Array[Int]] =
      Array.tabulate(m)(j => rows.indices.filter(rows(_)._1 == j).toArray)
    private val labels = bySub.map(_.map(rows(_)._2))

    /** Whether scoring on the driver mirrors the Spark plans: every
      * subspace has an entry and every centroid holds `sub` finite
      * elements (a shorter one scores null there, and a NaN or infinite
      * one scores NaN or ∞). */
    def mirrored(sub: Int): Boolean = bySub.forall(_.nonEmpty) &&
      cents.forall(c => c.length == sub && c.forall(x => !x.isNaN &&
        !x.isInfinite))

    /** The entry of subspace `j` labelled `label`, or -1. */
    def entry(j: Int, label: Long): Int = {
      val i = java.util.Arrays.binarySearch(labels(j), label)
      if (i < 0) -1 else bySub(j)(i)
    }

    /** Squared L2 from the subvector at `values(off)` to entry `e`, by the
      * [[graft.functions.VectorKernels.sqL2]] loop in Spark's double
      * order. */
    def dist(values: Array[Double], off: Int, e: Int): Double =
      graft.functions.VectorKernels.sqL2(values, off, cents(e), cents(e).length)

    /** The E-step: the entry of subspace `j` nearest to the subvector at
      * `values(off)`, ties to the smallest label, as `array_min` over
      * (d, label) structs breaks them. */
    def nearest(values: Array[Double], off: Int, j: Int): Int = {
      var best = -1
      var bestD = 0.0
      for (e <- bySub(j)) {
        val d = dist(values, off, e)
        if (best < 0 || org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(d, bestD) < 0) { best = e; bestD = d }
      }
      best
    }
  }

  /** One driver-held Lloyd round: each subvector goes to its nearest entry
    * of its subspace ([[Book.nearest]]), then every entry that kept a
    * subvector averages them decimal-exactly, as [[mStep]] does. */
  private def driverRound(v: graft.io.DriverVectors.Vectors, rows: Entries,
      m: Int, sub: Int, scale: Int): Entries = {
    val book = new Book(rows, m)
    val sums = new graft.io.DriverVectors.Sums(rows.length * sub)
    val cnt = new Array[Long](rows.length)
    for (r <- 0 until v.rows; j <- 0 until m) {
      val off = v.start(r) + j * sub
      val best = book.nearest(v.values, off, j)
      cnt(best) += 1
      for (p <- 0 until sub) sums.add(best * sub + p, v.units(off + p))
    }
    entries(for (e <- rows.indices if cnt(e) > 0; p <- 0 until sub)
      yield (rows(e)._1, rows(e)._2, p + 1,
        sums.mean(e * sub + p, cnt(e), scale), cnt(e)))
  }

  /** IVF residual vectors (Jégou '11 §IV, eq. 14): replace each vector by
    * `x − centroid(cell(x))` before product quantization. Residual energy
    * is far smaller than raw energy once the coarse quantizer has
    * explained the cell structure, so at an identical code budget
    * (m·8 bits) the PQ codebook spends its centroids on the fine
    * structure — the recall lever that separates IVFADC from "IVF next to
    * ADC". Within a query's own cell the ordering is EXACT under the
    * substitution: ‖q − (c + r_x)‖² = ‖(q − c) − r_x‖², so searching
    * residual queries against residual codes loses nothing.
    *
    * `cents` is a (label, pos, centroid) frame keyed by the cell label
    * (the [[Similarity.centroids]] shape — bounded at cells·dims rows by
    * contract). It is collected ONCE, here at call time, into per-cell
    * centroid arrays, so no action on the result re-runs the centroid
    * aggregate. Integral labels that fill at least half of their range
    * (k-means labels 0..k−1, holes where a label went empty) become one
    * array literal indexed by `cell − min label`: an O(1) lookup per row
    * and no broadcast, which would cost a job on every action over the
    * result. Any other labels keep a broadcast hash join on the cell.
    * 100 TB shape: either way a zero-shuffle projection plus a `zip_with`
    * per row — the corpus never shuffles. A row
    * whose cell has no centroid (index / centroid-table desync) or whose
    * vector length differs from its centroid fails LOUDLY: a silent
    * inner-join drop would excise the row from the index, and zip_with's
    * null-padding would poison distances downstream. Output: `df` with
    * `vecCol` replaced by the residual (elements cast to double — the PQ
    * entry type). */
  def residualize(df: DataFrame, cents: DataFrame, cellCol: String,
      vecCol: String): DataFrame = {
    val carrC = Cols.fresh("__carr", df.columns)
    val c = cents.select("label", "pos", "centroid")
    val arrays = c.collect().toSeq.groupBy(r => Option(r.get(0))).toSeq.map {
      case (cell, rs) => cell -> rs.sortBy(_.getAs[Number](1).intValue)
        .map(_.get(2))
    }
    val arrT = ArrayType(c.schema("centroid").dataType)
    // a null label matches no cell, so it never takes a slot
    val keys = arrays.collect { case (Some(k: Number), _) => k.longValue }
    val lo = if (keys.isEmpty) 0L else keys.min
    val span = if (keys.isEmpty) 0L else keys.max - lo + 1
    val dense = Seq(df.schema(cellCol).dataType, c.schema("label").dataType)
      .forall(Set[DataType](ByteType, ShortType, IntegerType, LongType)) &&
      span <= 2L * keys.size
    val withCarr = if (dense) {
      val table = new Array[Any](span.toInt)
      for ((Some(k: Number), cs) <- arrays)
        table((k.longValue - lo).toInt) = cs
      val carr = org.apache.spark.sql.graftbridge.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          table.toSeq, ArrayType(arrT)))
      val cell = col(cellCol).cast("long")
      // the cell stays the first column, where the join on it puts it
      df.select(col(cellCol) +: df.columns.filter(_ != cellCol).map(col): _*)
        .withColumn(carrC, when(cell.between(lo, lo + span - 1),
          get(carr, (cell - lo).cast("int"))))
    } else {
      val carr = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(arrays.map { case (cell, cs) =>
          Row(cell.orNull, cs) }: _*), StructType(Seq(
          StructField(cellCol, c.schema("label").dataType),
          StructField(carrC, arrT))))
      df.join(broadcast(carr), Seq(cellCol), "left")
    }
    withCarr
      .withColumn(vecCol,
        when(col(carrC).isNull, raise_error(concat(
          lit("residualize: no centroid for cell "),
          coalesce(col(cellCol).cast("string"), lit("null")))))
        .when(size(col(vecCol)) =!= size(col(carrC)), raise_error(concat(
          lit("residualize: vector/centroid dims differ for cell "),
          col(cellCol).cast("string"))))
        .otherwise(zip_with(col(vecCol), col(carrC),
          (a, b) => a.cast("double") - b)))
      .drop(carrC)
  }

  /** Encode every vector as m integer codes: (id, subspace, code) — the
    * compressed index representation (m·8 bits/vector at k ≤ 256), each
    * code the label of the subvector's nearest entry in its subspace, ties
    * to the smallest label.
    *
    * The plan is chosen from the measured input:
    *
    *  - up to [[graft.io.DriverVectors.ElementCap]] elements of float or
    *    double vectors with non-null integral or string ids, ONE bounded
    *    collect ([[graft.io.DriverVectors.collect]]) fetches the input and
    *    the driver encodes it with the E-step of the driver-held Lloyd
    *    round ([[Book.nearest]]), returning a local frame with the Spark
    *    plan's schema and rows: one job;
    *  - any other input (more elements; a null id; a null, ragged, NaN or
    *    infinite vector, which the Spark plan raises or scores; a codebook
    *    with a short or non-finite centroid or an empty subspace) runs the
    *    Spark plan, the 100 TB shape: one zero-shuffle scan against the
    *    codebook literal, fanned out to every core when the input is
    *    narrow (see [[graft.io.FanOut]]). Its errors keep their messages
    *    and are raised when an action runs it. */
  def encode(df: DataFrame, cb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    encodeCapped(df, cb, idCol, vecCol, graft.io.DriverVectors.ElementCap)

  /** [[encode]] with the driver-plan cap as a parameter: `cap = 0` always
    * runs the Spark plan. */
  private[graft] def encodeCapped(df: DataFrame, cb: DataFrame, idCol: String,
      vecCol: String, cap: Long): DataFrame = {
    val (m, dims) = cbDims(cb)
    val rows = cbRows(cb)
    val plan = assignSub(subvectors(
        graft.io.FanOut(df.select(col(idCol), col(vecCol))),
        idCol, vecCol, m, dims), rows)
      .select(col(idCol), col("subspace"), col("label").as("code"))
    driverEncode(df, rows, idCol, vecCol, m, dims, plan.schema, cap)
      .getOrElse(plan)
  }

  /** The driver plan of [[encode]] as a local frame of `schema`, or None
    * for an input it does not mirror (see [[encode]]). */
  private def driverEncode(df: DataFrame, rows: Entries, idCol: String,
      vecCol: String, m: Int, dims: Int, schema: StructType,
      cap: Long): Option[DataFrame] = {
    val sub = dims / m
    val book = new Book(rows, m)
    if (!floatVectors(df, vecCol) || !book.mirrored(sub)) return None
    val v = graft.io.DriverVectors.collect(df, idCol, Some(vecCol), cap) match {
      case Some(v) if !v.nullKey.contains(true) &&
        (0 until v.rows).forall(v.size(_) == dims) => v
      case _ => return None
    }
    val idType = schema(0).dataType
    Some(graft.io.LocalFrame(df.sparkSession, schema, v.rows * m) {
      (i, row) =>
        val (r, j) = (i / m, i % m)
        v.setKey(row, 0, idType, v.keys(r))
        row.setInt(1, j)
        row.setLong(2, rows(book.nearest(v.values, v.start(r) + j * sub, j))._2)
    })
  }

  /** (m, D) from a codebook frame — derived from the memoized entries. */
  private def cbDims(cb: DataFrame): (Int, Int) = {
    val rows = cbRows(cb)
    require(rows.nonEmpty, "cbDims: empty codebook")
    val m = rows.iterator.map(_._1).max + 1
    (m, m * rows.iterator.map(_._3.length).max)
  }

  /** ADC (asymmetric distance computation) top-k: for each query, build
    * the per-subspace lookup table of int64 NANO squared-L2 distances to
    * every centroid (`floor(d·10⁹)`), then score candidates by summing
    * their m lookups and keep the k nearest under the deterministic
    * (dist, id) order. The corpus side touches only the compressed code
    * table — the whole point of PQ at 100 TB (raw vectors never rejoin
    * the scan).
    *
    * `cellCol` (IVFADC, Jégou '11 §V): when set, `queries` and `codes`
    * must both carry that column (a coarse IVF cell label) and a
    * candidate is scored ONLY for queries in its cell, pruning
    * ~(1 − 1/cells) of the code table per query before any arithmetic
    * happens.
    *
    * The plan is chosen from the measured input:
    *
    *  - when the queries and the code table each fit in
    *    [[graft.io.DriverVectors.ElementCap]] elements, one bounded
    *    collect of each ([[graft.io.DriverVectors.collect]]; the query
    *    cell and the codes' subspace, code and cell ride as extra integral
    *    columns) feeds a driver scan over primitive arrays: the lookup
    *    tables as `floor(d·10⁹)` longs, candidates restricted to the
    *    query's cell, m lookups summed exactly, the k smallest kept by
    *    (dist_nano, neighbor_id). It returns a local frame with the Spark
    *    plan's schema, rows and values: two jobs;
    *  - any input the driver does not mirror runs the Spark plan, the
    *    100 TB shape, whose errors keep their messages and are raised when
    *    an action runs it: more elements; a null query or neighbor id or
    *    cell; duplicate query ids; a neighbor without exactly one code per
    *    subspace, with a code that is not a label of its subspace, or
    *    spread over two cells; a null, ragged, NaN or infinite query
    *    vector; a short or non-finite centroid; a lookup or sum outside
    *    the long range. That plan tags each query's LUT rows with its cell,
    *    joins the code table against the BROADCAST LUT (q·m·k rows) on
    *    (subspace, code[, cell]) and reduces with one hash aggregation and
    *    a per-query window — the corpus-sized side never shuffles on a
    *    float.
    *
    * Returns (query_id, rnk, neighbor_id, dist_nano). */
  def adcTopK(queries: DataFrame, codes: DataFrame, cb: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cellCol: Option[String] = None): DataFrame =
    adcTopKCapped(queries, codes, cb, idCol, vecCol, k, cellCol,
      graft.io.DriverVectors.ElementCap)

  /** [[adcTopK]] with the driver-plan cap as a parameter: `cap = 0` always
    * runs the Spark plan. */
  private[graft] def adcTopKCapped(queries: DataFrame, codes: DataFrame,
      cb: DataFrame, idCol: String, vecCol: String, k: Int,
      cellCol: Option[String], cap: Long): DataFrame = {
    require(k > 0, "k must be positive")
    val (m, dims) = cbDims(cb)
    val rows = cbRows(cb)
    val lut0 = subvectors(queries, idCol, vecCol, m, dims)
      .withColumn("sc", explode(scoredAgainst(codebookLiteral(rows))))
      .select(col(idCol).as("query_id"), col("subspace"),
        col("sc.label").as("code"),
        floor(col("sc.d") * 1e9).cast("long").as("d_nano"))
    // cell restriction: tag each query's LUT rows with its cell (a tiny
    // join on the query side) and add the cell to the broadcast join key
    val lut = cellCol.fold(lut0) { cc =>
      lut0.join(queries.select(col(idCol).as("query_id"), col(cc)),
        Seq("query_id"))
    }
    val plan = codes
      .join(broadcast(lut), Seq("subspace", "code") ++ cellCol)
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(sum(col("d_nano")).as("dist_nano"),
        count(lit(1)).as("_m"))
      // a candidate missing a subspace row (corrupt code table) must fail
      // loudly, not win with a partial sum
      .select(col("query_id"), col("neighbor_id"),
        when(col("_m") =!= m, raise_error(concat(
          lit(s"adcTopK: expected $m subspace codes, got "),
          col("_m").cast("string"), lit(" for neighbor "),
          col("neighbor_id").cast("string"))))
          .otherwise(col("dist_nano")).as("dist_nano"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dist_nano").asc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "dist_nano")
    driverAdc(queries, codes, rows, idCol, vecCol, k, cellCol, m, dims,
      plan.schema, cap).getOrElse(plan)
  }

  /** The driver plan of [[adcTopK]] as a local frame of `schema`, or None
    * for an input it does not mirror (see [[adcTopK]]). */
  private def driverAdc(queries: DataFrame, codes: DataFrame, rows: Entries,
      idCol: String, vecCol: String, k: Int, cellCol: Option[String], m: Int,
      dims: Int, schema: StructType, cap: Long): Option[DataFrame] = {
    import graft.io.DriverVectors
    val sub = dims / m
    val book = new Book(rows, m)
    if (!floatVectors(queries, vecCol) || !book.mirrored(sub)) return None
    val q = DriverVectors.collect(queries, idCol, Some(vecCol), cap,
        cellCol.toSeq) match {
      case Some(q) if !q.nullKey.contains(true) &&
        (0 until q.rows).forall(q.size(_) == dims) &&
        q.keys.distinct.length == q.rows => q
      case _ => return None
    }
    val c = DriverVectors.collect(codes, idCol, None, cap,
        Seq("subspace", "code") ++ cellCol) match {
      case Some(c) if !c.nullKey.contains(true) => c
      case _ => return None
    }
    // neighbors in id order: integral keys sort as the ids, string keys
    // (dictionary indices) by their UTF-8 bytes, as Spark orders strings
    val nbKeys = c.keys.distinct
    java.util.Arrays.sort(nbKeys)
    val g = nbKeys.length
    val byId = if (codes.schema(idCol).dataType != StringType)
        Array.range(0, g)
      else {
        val utf8 = nbKeys.map(i =>
          org.apache.spark.unsafe.types.UTF8String.fromString(c.dict(i.toInt)))
        Array.range(0, g).sortWith((a, b) => utf8(a).compareTo(utf8(b)) < 0)
      }
    // each neighbor's entry per subspace, and its cell
    val code = Array.fill(g * m)(-1)
    val cell = new Array[Long](g)
    val hasCell = new Array[Boolean](g)
    for (r <- 0 until c.rows) {
      val nb = java.util.Arrays.binarySearch(nbKeys, c.keys(r))
      val j = c.extra(0)(r)
      if (j < 0 || j >= m || code(nb * m + j.toInt) >= 0) return None
      val e = book.entry(j.toInt, c.extra(1)(r))
      if (e < 0) return None
      code(nb * m + j.toInt) = e
      if (cellCol.isDefined) {
        if (hasCell(nb) && cell(nb) != c.extra(2)(r)) return None
        cell(nb) = c.extra(2)(r)
        hasCell(nb) = true
      }
    }
    if (code.contains(-1)) return None
    val byCell = byId.groupBy(nb => cell(nb))
    val outQ = new scala.collection.mutable.ArrayBuilder.ofInt
    val outR = new scala.collection.mutable.ArrayBuilder.ofInt
    val outNb = new scala.collection.mutable.ArrayBuilder.ofInt
    val outD = new scala.collection.mutable.ArrayBuilder.ofLong
    val lut = new Array[Long](rows.length)
    for (qi <- 0 until q.rows) {
      for (j <- 0 until m; e <- book.bySub(j)) {
        val x = book.dist(q.values, q.start(qi) + j * sub, e) * 1e9
        if (!(x < 9.223372036854775807e18)) return None
        lut(e) = math.floor(x).toLong
      }
      // the k smallest (dist, id): candidates arrive in id order, so a
      // later one enters only with a strictly smaller distance
      val cands = if (cellCol.isEmpty) byId
        else byCell.getOrElse(q.extra(0)(qi), Array.emptyIntArray)
      val topD = new Array[Long](math.min(k, cands.length))
      val topN = new Array[Int](topD.length)
      var n = 0
      for (nb <- cands) {
        var d = 0L
        try for (j <- 0 until m) d = Math.addExact(d, lut(code(nb * m + j)))
        catch { case _: ArithmeticException => return None }
        if (n < topD.length || d < topD(n - 1)) {
          var i = math.min(n, topD.length - 1)
          while (i > 0 && topD(i - 1) > d) {
            topD(i) = topD(i - 1); topN(i) = topN(i - 1); i -= 1
          }
          topD(i) = d; topN(i) = nb
          if (n < topD.length) n += 1
        }
      }
      for (i <- 0 until n) {
        outQ += qi; outR += i + 1; outNb += topN(i); outD += topD(i)
      }
    }
    val (oq, or, onb, od) =
      (outQ.result(), outR.result(), outNb.result(), outD.result())
    val (qType, nType) = (schema(0).dataType, schema(2).dataType)
    Some(graft.io.LocalFrame(queries.sparkSession, schema, oq.length) {
      (i, row) =>
        q.setKey(row, 0, qType, q.keys(oq(i)))
        row.setInt(1, or(i))
        c.setKey(row, 2, nType, nbKeys(onb(i)))
        row.setLong(3, od(i))
    })
  }

  /** Per-subspace quantization-error sufficient statistics: the int64
    * nano sum of each vector's squared-L2 distance to its NEAREST centroid
    * (`floor(d·10⁹)` per row — order-free integer aggregation), plus the
    * row count. The index-quality QA metric: err/n per subspace is the
    * expected ADC distortion, and a drifting corpus shows up as a rising
    * error long before recall collapses — check it before trusting a
    * compressed 100 TB index, and monitor it on new batches to decide
    * when the codebook needs retraining. One zero-shuffle scan + one
    * m-row aggregate. Returns (subspace, n, err_nano_sum). */
  def quantizationError(df: DataFrame, cb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val (m, dims) = cbDims(cb)
    subvectors(df, idCol, vecCol, m, dims)
      .withColumn("md", array_min(scoredAgainst(codebookLiteral(cbRows(cb)))))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("md.d") * 1e9).cast("long")).as("err_nano_sum"))
  }

  /** IVFADC+R (Jégou '11 §VI — re-ranking with exact distances): ADC
    * retrieves `kPrime > k` candidates in the compressed domain, then the
    * k' survivors — and ONLY they — are re-scored with the exact
    * squared-L2 against their raw vectors, and the k nearest under the
    * deterministic (dist, id) order are kept. Standard because ADC's
    * quantization distortion mis-orders near-ties: a small exact pass
    * over q·k' rows recovers most of the lost recall without giving up
    * the compressed scan.
    *
    * 100 TB shape: the candidate list (q·k' rows) is BROADCAST onto the
    * corpus scan — one pass over the raw-vector table with a broadcast
    * hash semi-join-shaped fetch, never a shuffle of the corpus and never
    * a full rejoin (the corpus side of the ADC stage still touches only
    * the code table). Returns (query_id, rnk, neighbor_id, d2_nano) with
    * `d2_nano = floor(d2·10⁹)` — the pure-int64 gate surface. */
  def adcRerankTopK(queries: DataFrame, corpus: DataFrame, codes: DataFrame,
      cb: DataFrame, idCol: String, vecCol: String, k: Int, kPrime: Int,
      cellCol: Option[String] = None): DataFrame =
    adcRerankTopKCapped(queries, corpus, codes, cb, idCol, vecCol, k, kPrime,
      cellCol, graft.io.DriverVectors.ElementCap)

  /** [[adcRerankTopK]] with its [[adcTopK]] stage's driver-plan cap as a
    * parameter: `cap = 0` always runs the Spark plan. */
  private[graft] def adcRerankTopKCapped(queries: DataFrame,
      corpus: DataFrame, codes: DataFrame, cb: DataFrame, idCol: String,
      vecCol: String, k: Int, kPrime: Int, cellCol: Option[String],
      cap: Long): DataFrame = {
    require(k > 0, "k must be positive")
    require(kPrime >= k, s"kPrime=$kPrime must be >= k=$k")
    val cand = adcTopKCapped(queries, codes, cb, idCol, vecCol, kPrime,
        cellCol, cap)
      .select(col("query_id"), col("neighbor_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cvec"))
    val qvec = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qvec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2_nano").asc, col("neighbor_id").asc)
    // corrupt-index guards (the adcTopK contract): a candidate whose raw
    // vector is missing from the corpus (code table / corpus desync)
    // would be silently dropped by the inner fetch join and ship a top-k
    // missing true survivors — detected by comparing the per-query
    // candidate count against the post-fetch count (two windows over the
    // bounded q·k' frame, NOT an outer join, which could not keep the
    // small side as the broadcast build). A null exact distance (ragged
    // pair) would sort NULLS FIRST and win — raised explicitly.
    val wq = Window.partitionBy("query_id")
    val fetched = cvec.join(
        broadcast(cand.withColumn("__n_cand", count(lit(1)).over(wq))),
        Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .withColumn("__n_fetched", count(lit(1)).over(wq))
    // total-miss guard: the count-compare below rides ON fetched rows, so
    // it cannot fire when ALL of a query's k' candidates are missing from
    // the corpus — that query would silently vanish from the output. A
    // bounded anti-join (distinct candidate query_ids vs distinct fetched
    // query_ids, both ≤ q rows) is unioned in as a normally-zero-row
    // branch whose projection raises the moment a vanished query exists.
    // The raise lives in the PROJECTION, not a filter: a deterministic
    // filter predicate gets pushed below the anti-join and would fire on
    // every candidate unconditionally. The branch re-references the
    // candidate plan; its heavy exchange is canonical-identical to the
    // main path's and reuses it, so the corpus is not scanned twice.
    val vanished = cand.select("query_id").distinct()
      .join(broadcast(fetched.select("query_id").distinct()),
        Seq("query_id"), "left_anti")
      .select(col("query_id"), lit(0).as("rnk"),
        col("query_id").as("neighbor_id"),
        raise_error(concat(
          lit("adcRerankTopK: no corpus vector for ANY candidate of query "),
          col("query_id").cast("string"))).cast("long").as("d2_nano"))
    fetched
      .withColumn("d2_nano",
        when(col("__n_fetched") =!= col("__n_cand"), raise_error(concat(
          lit("adcRerankTopK: candidates without a corpus vector for "
            + "query "), col("query_id").cast("string"))))
          .otherwise(floor(graft.functions.VectorSqL2(
            col("__qvec"), col("__cvec")) * 1e9)).cast("long"))
      .withColumn("d2_nano",
        when(col("d2_nano").isNull, raise_error(concat(
          lit("adcRerankTopK: null exact distance (ragged pair) for "),
          col("neighbor_id").cast("string"))))
          .otherwise(col("d2_nano")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "d2_nano")
      .unionByName(vanished)
  }

  /** Exact squared-L2 top-k (broadcast queries, one corpus scan) — the
    * ground truth for ADC recall QA. Same metric and same candidate
    * convention as [[adcTopK]] (self-matches included: the code table is
    * an index over arbitrary ids, queries are external vectors). */
  def bruteForceL2TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    // fan the corpus out before the per-pair exact scoring (no-op at
    // scale — see graft.io.FanOut)
    val c = graft.io.FanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .withColumn("d2",
        graft.functions.VectorSqL2(col("qvec"), col("cvec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
  }
}
