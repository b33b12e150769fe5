package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression path for
  * billion-vector ANN: a D-dim float vector becomes `m` small integer codes
  * (here m·8 bits instead of D·32), and query scoring becomes `m` table
  * lookups per candidate instead of a D-dim float kernel.
  *
  * 100 TB shape: the codebook is tiny (m·k·(D/m) floats) and trained with
  * the same flat-lineage Lloyd's loop as [[Similarity.kmeansFit]] — every
  * iteration's plan is (one scan of the subvector frame + broadcast
  * centroid literals), nothing accumulates. Encoding is one zero-shuffle
  * scan. ADC search joins the (id, subspace, code) table against a
  * BROADCAST per-query lookup table (q·m·k rows) and reduces with one
  * hash aggregation — the corpus-sized side never shuffles on a float.
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

  /** Per-(subspace, label) centroids of assigned subvectors — the PQ
    * M-step. Same decimal-exact mean + ragged-dimension guard as
    * [[Similarity.centroids]], keyed by (subspace, label). */
  private def subCentroids(assigned: DataFrame, scale: Int): DataFrame = {
    val perDim = assigned
      .select(col("subspace"), col("label"),
        posexplode(col("subvec")).as(Seq("pos", "v")))
      .groupBy(col("subspace"), col("label"), (col("pos") + 1).as("pos"))
      .agg(
        round(
          sum(col("v").cast("double").cast("decimal(27,9)")).cast("double") /
            count(lit(1)), scale).as("centroid"),
        count(lit(1)).as("_n"))
    val w = Window.partitionBy("subspace", "label")
    perDim
      .withColumn("_nmax", max(col("_n")).over(w))
      .select(col("subspace"), col("label"), col("pos"),
        when(col("_n") =!= col("_nmax"), raise_error(concat(
          lit("ragged subvectors in subspace "), col("subspace").cast("string"),
          lit(" label "), col("label").cast("string"))))
          .otherwise(col("centroid")).as("centroid"))
  }

  /** Collected codebook rows, memoized per codebook FRAME INSTANCE (weak
    * keys — entries die with their frames): every consumer of one trained
    * codebook (encode + ADC LUT + quantization error inside one query)
    * previously re-collected the same cached frame, paying one Spark job
    * per consumer, and [[cbDims]] paid a further aggregate job for (m, D)
    * that these rows already determine. Bounded by contract at
    * m·k·(D/m) = k·D rows, so holding the collected rows is as cheap as
    * the plan literal that was already built from them. Session-scoped
    * and keyed by object identity — never persisted, never shared across
    * frames, so a retrained codebook can never serve stale rows. */
  private val cbMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame,
      Array[(Int, Long, IndexedSeq[Double])]]())

  private def cbRows(cb: DataFrame): Array[(Int, Long, IndexedSeq[Double])] = {
    val hit = cbMemo.get(cb)
    if (hit != null) hit
    else {
      // the collect runs OUTSIDE the memo lock: a Spark job must not
      // block every other codebook's lookup. Two threads racing on one
      // frame both collect the same rows; the first put wins.
      val rows = cb
        .groupBy("subspace", "label").agg(map_from_arrays(
          collect_list(col("pos")), collect_list(col("centroid"))).as("c"))
        .collect()
        .map { r =>
          val m = r.getMap[Int, Double](2)
          val sub = r.getAs[Number]("subspace").intValue()
          val label = r.getAs[Number]("label").longValue()
          require((1 to m.size).forall(m.contains),
            s"codebook dims for subspace $sub label $label are not " +
              s"contiguous 1..${m.size}")
          (sub, label, (1 to m.size).map(m(_)): IndexedSeq[Double])
        }
      cbMemo.synchronized {
        val won = cbMemo.get(cb)
        if (won != null) won else { cbMemo.put(cb, rows); rows }
      }
    }
  }

  /** Collected codebook as a broadcast-able plan literal:
    * map(subspace -> array of (label, centroid-array) structs). */
  private def codebookLiteral(cb: DataFrame): Column = {
    val rows = cbRows(cb)
    map(rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (s, cl) =>
      Seq(lit(s), array(cl.sortBy(_._2).map { case (_, lbl, c) =>
        struct(lit(lbl).as("label"), array(c.map(lit): _*).as("c"))
      }: _*))
    }: _*)
  }

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
  private def assignSub(subv: DataFrame, cb: DataFrame): DataFrame =
    subv.withColumn("label",
      array_min(scoredAgainst(codebookLiteral(cb))).getField("label"))

  /** Train the PQ codebook: split D dims into `m` contiguous subspaces and
    * run `iters` Lloyd's rounds with k centroids in EACH subspace — all
    * subspaces advance together in ONE scan per round (subspace is just a
    * grouping key), not m separate loops. Deterministic min-id seeding:
    * the k smallest-id vectors seed every subspace, labels 1..k.
    * Returns (subspace, label, pos, centroid), `pos` 1-based within the
    * subspace. */
  def codebook(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      iters: Int, scale: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    require(iters > 0, "iters must be positive")
    val dims = df.select(max(size(col(vecCol)))).head.getInt(0)
    val subv = subvectors(df, idCol, vecCol, m, dims)
    // seeds: the k smallest-id vectors (TakeOrderedAndProject on the base
    // frame — never a full-partition window), exploded to per-subspace
    // slices; every subspace gets the same seed ids, labels 1..k
    val w = Window.partitionBy("subspace").orderBy(col(idCol).asc)
    var cents = subvectors(df.orderBy(col(idCol).asc).limit(k),
        idCol, vecCol, m, dims)
      .withColumn("label", row_number().over(w).cast("long"))
      .select(col("subspace"), col("label"),
        posexplode(col("subvec")).as(Seq("pos", "v")))
      .select(col("subspace"), col("label"), (col("pos") + 1).as("pos"),
        round(col("v").cast("double"), scale).as("centroid"))
    for (_ <- 1 to iters)
      cents = subCentroids(
        assignSub(subv, cents).select("subspace", "label", "subvec"), scale)
    cents
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
    * contract, so it broadcasts). 100 TB shape: one broadcast hash join
    * on the cell label + a zero-shuffle `zip_with` projection — the
    * corpus never shuffles. A row whose cell has no centroid (index /
    * centroid-table desync) or whose vector length differs from its
    * centroid fails LOUDLY: a silent inner-join drop would excise the row
    * from the index, and zip_with's null-padding would poison distances
    * downstream. Output: `df` with `vecCol` replaced by the residual
    * (elements cast to double — the PQ entry type). */
  def residualize(df: DataFrame, cents: DataFrame, cellCol: String,
      vecCol: String): DataFrame = {
    val carrC = Cols.fresh("__carr", df.columns)
    val carr = cents
      .groupBy(col("label").as(cellCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
        .as("__cs"))
      .select(col(cellCol),
        transform(col("__cs"), _.getField("centroid")).as(carrC))
    df.join(broadcast(carr), Seq(cellCol), "left")
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
    * compressed index representation (m·8 bits/vector at k ≤ 256). One
    * zero-shuffle scan against the broadcast codebook literal. */
  def encode(df: DataFrame, cb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val (m, dims) = cbDims(cb)
    assignSub(subvectors(df, idCol, vecCol, m, dims), cb)
      .select(col(idCol), col("subspace"), col("label").as("code"))
  }

  /** (m, D) from a codebook frame — derived from the memoized collected
    * rows (previously a separate aggregate job per consumer). */
  private def cbDims(cb: DataFrame): (Int, Int) = {
    val rows = cbRows(cb)
    require(rows.nonEmpty, "cbDims: empty codebook")
    val m = rows.iterator.map(_._1).max + 1
    (m, m * rows.iterator.map(_._3.length).max)
  }

  /** ADC (asymmetric distance computation) top-k: for each query, build
    * the per-subspace lookup table of int64 NANO squared-L2 distances to
    * every centroid (`floor(d·10⁹)` — q·m·k rows, broadcast), then score
    * candidates by summing m integer lookups joined on (subspace, code)
    * and keep the k nearest under the deterministic (dist, id) order.
    * The corpus side touches only the compressed code table — the whole
    * point of PQ at 100 TB (raw vectors never rejoin the scan).
    *
    * `cellCol` (IVFADC, Jégou '11 §V): when set, `queries` and `codes`
    * must both carry that column (a coarse IVF cell label) and a
    * candidate is scored ONLY for queries in its cell — the join key
    * grows to (cell, subspace, code), pruning ~(1 − 1/cells) of the code
    * table per query before any arithmetic happens.
    * Returns (query_id, rnk, neighbor_id, dist_nano). */
  def adcTopK(queries: DataFrame, codes: DataFrame, cb: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cellCol: Option[String] = None): DataFrame = {
    require(k > 0, "k must be positive")
    val (m, dims) = cbDims(cb)
    val lut0 = subvectors(queries, idCol, vecCol, m, dims)
      .withColumn("sc", explode(scoredAgainst(codebookLiteral(cb))))
      .select(col(idCol).as("query_id"), col("subspace"),
        col("sc.label").as("code"),
        floor(col("sc.d") * 1e9).cast("long").as("d_nano"))
    // cell restriction: tag each query's LUT rows with its cell (a tiny
    // join on the query side) and add the cell to the broadcast join key
    val lut = cellCol.fold(lut0) { cc =>
      lut0.join(queries.select(col(idCol).as("query_id"), col(cc)),
        Seq("query_id"))
    }
    codes
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
      .withColumn("md", array_min(scoredAgainst(codebookLiteral(cb))))
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
      cellCol: Option[String] = None): DataFrame = {
    require(k > 0, "k must be positive")
    require(kPrime >= k, s"kPrime=$kPrime must be >= k=$k")
    val cand = adcTopK(queries, codes, cb, idCol, vecCol, kPrime, cellCol)
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
