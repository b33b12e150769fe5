package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — correct at any corpus size as long as the query set is
  * small). Scale path: IVF-style coarse quantization — restrict candidate
  * scoring to the query's cell(s), turning the scan into a bucketed join
  * that prunes ~(1 - 1/cells) of the corpus per query.
  */
object Similarity {

  /** Dot product — elements cast to double for a stable, engine-portable
    * accumulation order (sequential fold over the array). A native codegen
    * expression ([[graft.functions.VectorDot]]): one fused primitive loop
    * per pair instead of the `aggregate∘zip_with` HOF chain, which runs its
    * lambdas interpreted and materializes the zipped product array.
    * Bit-identical to the HOF fold by property test. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Cosine with per-row precomputed norms: attach `norm(vec)` to each side
    * BEFORE a pair join so each vector's norm is computed once per row, not
    * once per pair — same expression tree (and bit-identical doubles) as
    * [[cosine]], a third of the per-pair work. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Brute-force cosine top-k: every (query, corpus) pair scored, ranked per
    * query. The query side MUST be small (it is broadcast); the corpus is
    * scanned exactly once regardless of k. Ties break by candidate id for
    * determinism. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qn", norm(col("qvec")))
    // fan the corpus out before the per-pair scoring (the heavy stage —
    // |queries| cosines per corpus row); no-op once the corpus scan has
    // >= cores splits, i.e. at scale
    val c = graft.io.FanOut(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")))
      .withColumn("cn", norm(col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the `k` most similar corpus items with a DIFFERENT label — the
    * closest impostors, which carry the training signal random negatives
    * lack (in-batch negatives are mostly easy; the hard ones are what move
    * a retriever). Same scan shape as [[bruteForceTopK]] with the label
    * inequality pushed BELOW the scoring, so mismatched pairs never pay
    * the dot product. At 100 TB compose with the IVF route instead:
    * probe cells ([[ivfTopK]]'s join) and apply the same label filter —
    * the exact form here is the ground-truth/QA baseline. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(labelCol).as("query_label")).withColumn("qn", norm(col("qvec")))
    val c = graft.io.FanOut(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"), col(labelCol).as("neighbor_label")))
      .withColumn("cn", norm(col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine",
        cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"))
  }

  /** kNN label-agreement probe — the standard embedding-quality QA: each
    * query's k nearest neighbors (excluding itself) vote with their
    * labels; `knn_label` is the majority (count desc, label asc — total
    * order), `agree` whether it matches the query's own label. High
    * agreement = the space clusters by label; a drop after a pipeline
    * change is the early-warning signal. Integer/string logic end to end
    * after the scored top-k. */
  def knnLabelAgreement(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val top = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neighbor_label")), "neighbor_id")
    val votes = top.groupBy("query_id", "neighbor_label")
      .agg(count(lit(1)).as("__votes"))
    val wv = Window.partitionBy("query_id")
      .orderBy(col("__votes").desc, col("neighbor_label").asc)
    val majority = votes.withColumn("__r", row_number().over(wv))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("neighbor_label").as("knn_label"))
    majority
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("own_label")), "query_id")
      .withColumn("agree", col("knn_label") === col("own_label"))
  }

  /** IVF cell-balance diagnostics — the operational health check of every
    * inverted-file index: per cell, its vector count, exact basis-point
    * share, and a `hot` flag (> 2× the fair share). A hot cell is the
    * latency tail (every query probing it scans it whole) and the signal
    * to re-train centroids or split cells; empty/cold cells waste nlist.
    * One bounded aggregation + a broadcast total — pure int64. */
  def ivfCellStats(corpus: DataFrame, cellCol: String): DataFrame = {
    val cells = corpus.groupBy(col(cellCol).as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum(col("n_vecs")).as("__t"),
      count(lit(1)).as("__nc"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("(10000L * n_vecs) div __t").as("share_bp"),
        (col("n_vecs") * col("__nc") > col("__t") * 2L).as("hot"))
  }

  /** IVF-style ANN: candidates restricted to the query's coarse cell
    * (`cellCol` — a precomputed cluster/partition label, the inverted-file
    * list). The join shuffles on the cell key; per-cell candidate lists are
    * bounded, so cost is corpus/cells per query instead of the full scan. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(cellCol).as("cell")).withColumn("qn", norm(col("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col(cellCol).as("cell")).withColumn("cn", norm(col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** Multi-probe IVF top-k: each query is scored against the candidates
    * of its `nProbe` NEAREST cells (by squared-L2 to the per-cell decimal
    * centroid) instead of the single cell it lives in — the standard
    * recall knob of inverted-file search: per-query cost grows linearly
    * in `nProbe` while recall approaches brute force. Cell ranking is a
    * zero-shuffle per-row pass over the broadcast centroid literals; the
    * candidate join then shuffles on the cell key exactly like
    * [[ivfTopK]], with the probe list exploded to (query, cell) rows
    * (queries-side blowup only — the corpus side never duplicates). */
  def ivfMultiProbeTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int, nProbe: Int): DataFrame =
    rankCandidatePairs(
      multiProbeCandidatePairs(queries, corpus, idCol, vecCol, cellCol,
        nProbe),
      k, rounded = false)

  /** Metadata-filtered ANN (the "filtered vector search" shape: top-k
    * among only the corpus rows satisfying `pred`, e.g. a language,
    * license, or freshness predicate riding next to the vectors). The
    * search runs through the SAME shared IVF cell index as the
    * unfiltered path — probe ranking uses centroids of the FULL corpus,
    * so the index is built once and every predicate reuses it; the
    * filter lands on the corpus side BEFORE the cell join, so a
    * selective predicate shrinks the shuffled posting lists instead of
    * being applied after scoring (post-filtering k results from an
    * unfiltered search is the classic recall bug this operator exists
    * to avoid — a query whose true filtered neighbors sit outside the
    * unfiltered top-k would silently lose them). At very low
    * selectivity the plan degrades gracefully: each probed cell's
    * filtered posting list is scanned exactly, never the full corpus.
    * Raising `nProbe` is the recall knob exactly as in
    * [[ivfMultiProbeTopK]] — filtered search typically runs with a
    * larger `nProbe` than unfiltered because per-cell candidate counts
    * shrink by the predicate's selectivity. */
  def ivfFilteredTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cellCol: String, pred: Column, k: Int,
      nProbe: Int): DataFrame = {
    // full-corpus centroids: the shared index; only postings are filtered
    val cents = centroids(corpus, cellCol, vecCol)
    rankCandidatePairs(
      multiProbeCandidatePairs(queries, corpus.filter(pred), idCol, vecCol,
        cellCol, nProbe, Some(cents)),
      k, rounded = false)
  }

  /** Exact-cosine rank over a prepared (query, corpus) candidate-pair
    * frame (`qvec`/`cvec`/`qn`/`cn` present) — the shared scoring tail of
    * [[ivfMultiProbeTopK]] and [[rpTopK]], also applied by
    * [[annFrontier]] to its materialized candidate frames. `rounded`
    * selects rpTopK's 6-decimal engine-portable order. */
  private def rankCandidatePairs(pairs: DataFrame, k: Int,
      rounded: Boolean): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val cos = cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn"))
    pairs
      .withColumn("cosine", if (rounded) round(cos, 6) else cos)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** The candidate stage of [[ivfMultiProbeTopK]] — the (query, corpus)
    * pairs in each query's `nProbe` nearest cells, BEFORE scoring —
    * factored out so [[annFrontier]] can count a configuration's
    * candidate cost from the identical frame the search scores.
    * `centsOpt` lets a caller running SEVERAL nProbe configurations
    * compute (and materialize) the per-cell centroid frame once. */
  private[scale] def multiProbeCandidatePairs(queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
      nProbe: Int, centsOpt: Option[DataFrame] = None): DataFrame = {
    require(nProbe > 0, "nProbe must be positive")
    val centArr = centroidStructArray(
      centsOpt.getOrElse(centroids(corpus, cellCol, vecCol)))
    val scored = transform(centArr, cs => struct(
      graft.functions.VectorSqL2(col(vecCol), cs.getField("c")).as("d"),
      cs.getField("label").as("label")))
    // struct sort = (distance, label) lexicographic — deterministic probes
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        explode(slice(array_sort(scored), 1, nProbe)).as("pr"))
      .select(col("query_id"), col("qvec"),
        col("pr").getField("label").as("cell"))
      .withColumn("qn", norm(col("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col(cellCol).as("cell")).withColumn("cn", norm(col("cvec")))
    probed.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
  }

  /** Sign-random-projection LSH bucket id over `planes` deterministic
    * hyperplanes derived from the embedding dimension index (no RNG — the
    * plane weights are (dim·(j+1) mod 13) - 6, stable across engines/runs).
    * The modulus must exceed `planes` and the per-plane multipliers must be
    * distinct and nonzero mod it, or planes degenerate (a mod-7 family with
    * 8 planes makes plane 6 a constant and plane 7 a copy of plane 0).
    * Used to bucket corpora when no precomputed cell label exists. */
  def srpBucket(vec: Column, planes: Int = 8): Column = {
    require(planes < 13, "plane multipliers must stay distinct mod 13")
    val bits = (0 until planes).map { j =>
      val proj = aggregate(
        zip_with(vec, transform(sequence(lit(0), size(vec) - 1), i =>
          ((i * (j + 1)) % 13 - 6).cast("double")),
          (x, wgt) => x.cast("double") * wgt),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Symmetric int8 quantization scale: max|x|/127 — materialize this into
    * a column before [[int8Quantize]] (an inline scale expression would
    * re-evaluate the max per element inside the quantize lambda). */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / 127.0

  /** Symmetric int8 quantization against a PRE-MATERIALIZED scale column:
    * each element rounds to round(x/scale) ∈ [-127, 127] — the standard
    * storage/compute shrink for ANN at scale (4× smaller vectors,
    * SIMD-friendly dot products). Zero vectors (scale 0) quantize to
    * all-zeros. */
  def int8Quantize(vec: Column, scale: Column): Column =
    when(scale > 0,
      transform(vec, x => round(x.cast("double") / scale).cast("int")))
      .otherwise(transform(vec, _ => lit(0)))

  /** Exact maximum-inner-product (MIPS) top-k: every (query, corpus) pair
    * scored by the raw dot product, ranked per query (score desc, id asc),
    * self-matches excluded. The ground truth for the quantized
    * inner-product indexes ([[sqTopK]]); same broadcast-query geometry as
    * [[bruteForceTopK]]. */
  def dotTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qvec"), col("cvec")))
      // a null score (null vector/element, ragged pair) would sort NULLS
      // LAST and silently vanish from the top-k — raise instead, the
      // hammingTopK contract
      .withColumn("score", when(col("score").isNull, raise_error(concat(
        lit("dotTopK: null score (null/ragged vector) for neighbor "),
        col("neighbor_id").cast("string")))).otherwise(col("score")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
  }

  /** The SQ8 code table: (neighbor_id[, cell], scale, codesd) — int8
    * codes widened to double ONCE PER CORPUS ROW so every consumer's
    * per-pair kernel is the same fused [[graft.functions.VectorDot]]
    * loop. Shared by [[sqTopK]] / [[ivfSqTopK]] / [[ivfSqMultiProbeTopK]]
    * so the quantization recipe cannot drift between the indexes. */
  private def sqCodes(corpus: DataFrame, idCol: String, vecCol: String,
      cellCol: Option[String]): DataFrame = {
    val base = corpus.select(
      (col(idCol).as("neighbor_id") +: cellCol.map(c => col(c).as("cell")).toSeq) :+
        col(vecCol).as("cvec"): _*)
    base
      .withColumn("scale", int8Scale(col("cvec")))
      .withColumn("codes", int8Quantize(col("cvec"), col("scale")))
      .select((col("neighbor_id") +: cellCol.map(_ => col("cell")).toSeq) ++
        Seq(col("scale"), transform(col("codes"), _.cast("double")).as("codesd")): _*)
  }

  /** Scalar-quantized (SQ8) asymmetric-distance top-k — the FAISS
    * `IndexScalarQuantizer` idea: the CORPUS is stored as int8 codes plus
    * one scale per vector ([[int8Scale]]/[[int8Quantize]] — 4× smaller
    * than float32), the QUERY stays float, and each pair scores as
    * `scale · Σ_j q_j·code_j` (asymmetric: only the corpus side pays the
    * quantization error). The middle of the quantized-index spectrum
    * (int8 → PQ → signs). Codes are widened to double ONCE PER CORPUS ROW
    * before the pair join, so the per-pair kernel is the same fused
    * [[graft.functions.VectorDot]] loop as the float path; ranking is the
    * deterministic (score desc, id asc) order and the compared surface is
    * int-only — the scale/round/fold arithmetic is bit-portable, so the
    * DuckDB oracle reproduces the ranking exactly. */
  def sqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val c = sqCodes(corpus, idCol, vecCol, cellCol = None)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", col("scale") * dot(col("qvec"), col("codesd")))
      .withColumn("adc", when(col("adc").isNull, raise_error(concat(
        lit("sqTopK: null score (null/ragged vector) for neighbor "),
        col("neighbor_id").cast("string")))).otherwise(col("adc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
  }

  /** SQ8 + exact re-ranking — the IVFADC+R / hamming-rerank shape for the
    * scalar quantizer: the int8 index retrieves `kPrime > k` candidates,
    * then ONLY those q·k′ rows are re-scored with the exact float dot
    * product (the candidate set broadcasts into ONE corpus scan — raw
    * vectors never join the quantized scan) and the k best under the
    * deterministic (score desc, id asc) order are kept. Recovers the
    * quantization-distorted near-ties at a bounded exact-scoring cost. */
  def sqRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, kPrime: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(kPrime >= k, s"kPrime ($kPrime) must be >= k ($k)")
    val cand = sqTopK(queries, corpus, idCol, vecCol, kPrime)
      .select("query_id", "neighbor_id")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("score", dot(col("qvec"), col("cvec")))
      .withColumn("score", when(col("score").isNull, raise_error(concat(
        lit("sqRerankTopK: null score (null/ragged vector) for neighbor "),
        col("neighbor_id").cast("string")))).otherwise(col("score")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
  }

  /** Matryoshka two-stage search (Kusupati '22, arXiv:2205.13147 — MRL
    * embeddings carry their information front-loaded, so a PREFIX of the
    * dimensions is itself a usable embedding): stage 1 ranks the corpus
    * by squared-L2 over only the first `prefixDims` dimensions (a
    * dims/prefixDims cost cut on the scan — at 100 TB this is the stage
    * that reads the short stored prefix), keeping `candidates` ≥ k per
    * query; stage 2 re-scores ONLY those q·candidates rows with the exact
    * full-dimension squared-L2 (broadcast candidate fetch into one corpus
    * scan — the [[sqRerankTopK]] / IVFADC+R shape) and keeps the k
    * nearest under the deterministic (d2, id) order. The recall lever the
    * `ann_matryoshka_recall` curve quantifies, shipped as an operator.
    * Returns (query_id, rnk, neighbor_id, d2_nano) — `floor(d2·10⁹)`
    * int64, the pure-integer gate surface. */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, prefixDims: Int, k: Int, candidates: Int): DataFrame = {
    require(prefixDims > 0, s"prefixDims must be positive: $prefixDims")
    require(k > 0, s"k must be positive: $k")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val qp = queries.select(col(idCol).as("query_id"),
      slice(col(vecCol), 1, prefixDims).as("qp"))
    val cp = corpus.select(col(idCol).as("neighbor_id"),
      slice(col(vecCol), 1, prefixDims).as("cp"))
    val wPre = Window.partitionBy("query_id")
      .orderBy(col("pd2").asc, col("neighbor_id").asc)
    val cand = cp.crossJoin(broadcast(qp))
      .withColumn("pd2", graft.functions.VectorSqL2(col("qp"), col("cp")))
      .withColumn("prnk", row_number().over(wPre))
      .filter(col("prnk") <= candidates)
      .select("query_id", "neighbor_id")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2_nano").asc, col("neighbor_id").asc)
    c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("d2_nano",
        floor(graft.functions.VectorSqL2(col("qvec"), col("cvec")) * 1e9)
          .cast("long"))
      .withColumn("d2_nano", when(col("d2_nano").isNull, raise_error(concat(
        lit("matryoshkaTopK: null exact distance (null/ragged vector) " +
          "for neighbor "), col("neighbor_id").cast("string"))))
        .otherwise(col("d2_nano")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "d2_nano")
  }

  /** IVF-SQ8: cell-restricted scalar-quantized search — the scale path
    * for [[sqTopK]], exactly as IVFADC is for ADC. Candidates are
    * restricted to the query's cell (a KEYED join — broadcast at test SF,
    * shuffle-hash at scale; never an all-pairs scan) and scored by the
    * same asymmetric `scale · dot(query, codes)` kernel. The compressed
    * corpus representation (int8 codes + scale) is computed once per
    * corpus row, before the candidate join. */
  def ivfSqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val c = sqCodes(corpus, idCol, vecCol, Some(cellCol))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(cellCol).as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", col("scale") * dot(col("qvec"), col("codesd")))
      .withColumn("adc", when(col("adc").isNull, raise_error(concat(
        lit("ivfSqTopK: null score (null/ragged vector) for neighbor "),
        col("neighbor_id").cast("string")))).otherwise(col("adc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
  }

  /** Multi-probe IVF-SQ8: the recall knob for the int8 index — each query
    * scores the candidates of its `nProbe` nearest cells (by squared-L2
    * to the per-cell decimal centroid, exactly [[ivfMultiProbeTopK]]'s
    * probe pass) under the asymmetric `scale · dot(query, codes)` kernel.
    * Probe ranking is a zero-shuffle pass over broadcast centroid
    * literals; the candidate join shuffles on the cell key with the
    * probe list exploded on the QUERY side only. */
  def ivfSqMultiProbeTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, cellCol: String, k: Int,
      nProbe: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(nProbe > 0, "nProbe must be positive")
    val centArr = centroidStructArray(centroids(corpus, cellCol, vecCol))
    val scored = transform(centArr, cs => struct(
      graft.functions.VectorSqL2(col(vecCol), cs.getField("c")).as("d"),
      cs.getField("label").as("label")))
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        explode(slice(array_sort(scored), 1, nProbe)).as("pr"))
      .select(col("query_id"), col("qvec"),
        col("pr").getField("label").as("cell"))
    val c = sqCodes(corpus, idCol, vecCol, Some(cellCol))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    probed.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", col("scale") * dot(col("qvec"), col("codesd")))
      .withColumn("adc", when(col("adc").isNull, raise_error(concat(
        lit("ivfSqMultiProbeTopK: null score (null/ragged vector) for "),
        col("neighbor_id").cast("string")))).otherwise(col("adc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
  }

  /** Deterministic random-projection dimensionality reduction: out_j =
    * Σ_i vec_i · w(i,j), with the same integer weight family as
    * [[srpBucket]] (w = (i·(j+1) mod 13) - 6) — no RNG, engine-portable,
    * distance-preserving in the Johnson-Lindenstrauss sense for the
    * hyperplane family. Per-row expression; reduces ANN candidate scoring
    * cost by dims/outDims. */
  def randomProject(vec: Column, outDims: Int): Column = {
    require(outDims < 13, "weight multipliers must stay distinct mod 13")
    array((0 until outDims).map { j =>
      aggregate(
        zip_with(vec, transform(sequence(lit(0), size(vec) - 1), i =>
          ((i * (j + 1)) % 13 - 6).cast("double")),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
    }: _*)
  }

  /** Two-stage ANN: random-projection prefilter + exact rerank. Stage 1
    * scores every (query, corpus) pair in `projDims`-dimensional projected
    * space ([[randomProject]] — deterministic JL family) and keeps the top
    * `candidates` per query; stage 2 re-scores ONLY those candidates with
    * the exact full-dimension cosine. The heavy per-pair work drops by
    * ~dims/projDims while recall is tunable via `candidates` — the classic
    * two-stage retrieval shape. Both rankings use cosines rounded to 6
    * decimals (ties → smallest id) so the candidate sets — and therefore
    * the results — are reproducible bit-for-bit across engines. */
  def rpTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, projDims: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    rankCandidatePairs(
      rpCandidatePairs(queries, corpus, idCol, vecCol, projDims, candidates),
      k, rounded = true)
  }

  /** The prefilter stage of [[rpTopK]] — the top-`candidates` pairs per
    * query under the rounded projected cosine, BEFORE exact re-scoring —
    * factored out so [[annFrontier]] can count a candidate budget's cost
    * from the identical frame the rerank scores. */
  private[scale] def rpCandidatePairs(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, projDims: Int,
      candidates: Int): DataFrame = {
    require(candidates > 0, s"candidates must be positive: $candidates")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qp", randomProject(col("qvec"), projDims))
      .withColumn("qpn", norm(col("qp")))
      .withColumn("qn", norm(col("qvec")))
    val c = graft.io.FanOut(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")))
      .withColumn("cp", randomProject(col("cvec"), projDims))
      .withColumn("cpn", norm(col("cp")))
      .withColumn("cn", norm(col("cvec")))
    val wProj = Window.partitionBy("query_id")
      .orderBy(col("proj_cosine").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("proj_cosine", round(
        cosineWithNorms(col("qp"), col("cp"), col("qpn"), col("cpn")), 6))
      .withColumn("prnk", row_number().over(wProj))
      .filter(col("prnk") <= candidates)
  }

  /** ANN recall-vs-cost FRONTIER report — the operational tuning table
    * for the index stack: one row per (method, param) configuration with
    * the exact-integer recall numerator/denominator against the
    * brute-force cosine ground truth and the configuration's candidate
    * cost (the pairs entering its expensive exact-scoring stage). Recall
    * and cost-per-query are the caller's divisions — the emitted surface
    * is pure int64, so any engine replays it exactly.
    *  - `bf` (param 0): the exact baseline — n_hit = k_total by
    *    construction; candidate_rows = every scored (query, corpus) pair,
    *    the cost ceiling the approximate configs are measured against;
    *  - `ivf` (param = nProbe): [[ivfMultiProbeTopK]] — candidate_rows =
    *    pairs in the probed cells ([[multiProbeCandidatePairs]], the
    *    IDENTICAL frame the search scores);
    *  - `rp` (param = candidate budget k′): [[rpTopK]]'s two-stage search
    *    — candidate_rows = pairs surviving the projected-space prefilter
    *    into exact re-scoring ([[rpCandidatePairs]]);
    *  - `ham` (param = candidate budget k′, when `hamBudgets` nonempty):
    *    the [[hammingRerankTopK]] shape — `hamBits`-plane sign-signature
    *    Hamming prefilter keeps k′ per query (self included, the index
    *    convention — it sits at distance 0), then self is dropped before
    *    exact re-scoring so the row compares cleanly against the
    *    self-excluded truth; candidate_rows = the post-self-drop rerank
    *    set.
    * Scale shape: each configuration is one keyed/broadcast search the
    * library already runs plus two count aggregates over its ONE
    * materialized candidate frame; configurations are a small constant,
    * and every per-config result is a single row. */
  def annFrontier(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int, nProbes: Seq[Int],
      rpBudgets: Seq[Int], rpProjDims: Int = 8,
      hamBudgets: Seq[Int] = Seq.empty,
      hamBitsAxis: Seq[Int] = Seq(48)): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"nProbes must be positive: $nProbes")
    require(rpBudgets.nonEmpty && rpBudgets.forall(_ >= k),
      s"rp budgets must be >= k=$k: $rpBudgets")
    require(hamBudgets.forall(_ >= k),
      s"hamming budgets must be >= k=$k: $hamBudgets")
    require(hamBitsAxis.nonEmpty && hamBitsAxis.forall(b => b >= 1 && b <= 60),
      s"hamming bits must be in [1, 60]: $hamBitsAxis")
    // cached (NOT checkpointed): the truth frame anchors every
    // configuration's hit join, and every configuration is consumed by
    // the ONE final union action — an in-plan cache dedups the compute
    // with zero extra jobs, where a localCheckpoint per frame paid a
    // job barrier (plus driver gap) per configuration (the r15 JobProf
    // showed 118 jobs / 6.3 s on ann_frontier, mostly these barriers)
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); caches += c; c }
    val truth = cached(bruteForceTopK(queries, corpus, idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id")))
    def row(method: String, param: Long, res: DataFrame,
        cand: DataFrame): DataFrame =
      truth
        .join(res.select("query_id", "neighbor_id")
            .withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
          count(lit(1)).as("k_total"))
        .crossJoin(cand.agg(count(lit(1)).as("candidate_rows")))
        .select(lit(method).as("method"), lit(param).as("param"),
          col("n_hit"), col("k_total"), col("candidate_rows"))
    val bfCand = corpus.select(col(idCol).as("neighbor_id"))
      .crossJoin(broadcast(queries.select(col(idCol).as("query_id"))))
      .filter(col("query_id") =!= col("neighbor_id"))
    val bf = row("bf", 0L, truth, bfCand)
    // one centroid build for every nProbe configuration, and ONE
    // cached candidate frame per configuration feeding both its search
    // and its cost count (the naive form re-ran the corpus-wide centroid
    // aggregate and the candidate join twice per config; caches, not
    // checkpoints — see `truth` above)
    val cents = cached(centroids(corpus, cellCol, vecCol))
    val ivf = nProbes.map { p =>
      val cand = cached(multiProbeCandidatePairs(
        queries, corpus, idCol, vecCol, cellCol, p, Some(cents)))
      row("ivf", p.toLong, rankCandidatePairs(cand, k, rounded = false),
        cand)
    }
    val rp = rpBudgets.map { b =>
      val cand = cached(rpCandidatePairs(
        queries, corpus, idCol, vecCol, rpProjDims, b))
      row("rp", b.toLong, rankCandidatePairs(cand, k, rounded = true), cand)
    }
    // the binary stack's full (bits, rerank-budget) grid: signature width
    // trades index bytes/vector against prefilter recall, the budget
    // trades rerank cost — method "ham<bits>" rows make the whole plane
    // readable from one report
    val ham = for (bits <- hamBitsAxis; b <- hamBudgets) yield {
      val cand = cached(hammingCandidatePairs(
        queries, corpus, idCol, vecCol, bits, b))
      row(s"ham$bits", b.toLong, rankCandidatePairs(cand, k, rounded = true),
        cand)
    }
    // the report is a bounded handful of rows (one per configuration):
    // materialize it NOW and RELEASE every cached frame before returning —
    // a returned lazy plan holding a dozen cached subtrees would leave
    // them registered in the session CacheManager, and every later
    // query's analysis pays a canonical-plan comparison against each
    // entry (measured in-bench: +3x on later large-plan ANN queries)
    val report = (Seq(bf) ++ ivf ++ rp ++ ham).reduce(_ unionByName _)
    val spark = corpus.sparkSession
    // released on the failure path too: a throwing collect must not leave
    // the frontier's frames registered in the CacheManager
    val rows = try report.collect().toSeq
      finally caches.foreach(_.unpersist(false))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      report.schema)
  }

  /** The filtered-search companion of [[annFrontier]]: recall-vs-cost of
    * [[ivfFilteredTopK]] per nProbe, measured against the FILTERED
    * brute-force truth (the truth a filtered search must hit — comparing
    * against unfiltered truth would grade the predicate, not the index).
    * This is the table that answers the operational question filtered
    * search raises: how much must nProbe grow to recover recall when the
    * predicate thins each cell's posting list. Rows
    * (method, param, n_hit, k_total, candidate_rows) — all integers,
    * same surface as [[annFrontier]]; `bfF` is the filtered-exhaustive
    * baseline row. One centroid build (the shared full-corpus index) and
    * ONE cached candidate frame per configuration feed both the
    * search and its cost count. */
  def filteredFrontier(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cellCol: String, pred: Column, k: Int,
      nProbes: Seq[Int]): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"nProbes must be positive: $nProbes")
    val fCorpus = corpus.filter(pred)
    // caches, not checkpoints — one final union action consumes every
    // branch, so in-plan caches dedup with zero extra job barriers (see
    // [[annFrontier]])
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); caches += c; c }
    val truth = cached(bruteForceTopK(queries, fCorpus, idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id")))
    def row(method: String, param: Long, res: DataFrame,
        cand: DataFrame): DataFrame =
      truth
        .join(res.select("query_id", "neighbor_id")
            .withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"),
          count(lit(1)).as("k_total"))
        .crossJoin(cand.agg(count(lit(1)).as("candidate_rows")))
        .select(lit(method).as("method"), lit(param).as("param"),
          col("n_hit"), col("k_total"), col("candidate_rows"))
    val bfCand = fCorpus.select(col(idCol).as("neighbor_id"))
      .crossJoin(broadcast(queries.select(col(idCol).as("query_id"))))
      .filter(col("query_id") =!= col("neighbor_id"))
    val cents = cached(centroids(corpus, cellCol, vecCol))
    val ivfF = nProbes.map { p =>
      val cand = cached(multiProbeCandidatePairs(
        queries, fCorpus, idCol, vecCol, cellCol, p, Some(cents)))
      row("ivfF", p.toLong, rankCandidatePairs(cand, k, rounded = false),
        cand)
    }
    // materialize + release, same rationale as [[annFrontier]]
    val report = (Seq(row("bfF", 0L, truth, bfCand)) ++ ivfF)
      .reduce(_ unionByName _)
    val spark = corpus.sparkSession
    val rows = try report.collect().toSeq
      finally caches.foreach(_.unpersist(false))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      report.schema)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR '09) over
    * named ranked lists — the standard hybrid-retrieval combiner (e.g.
    * BM25 lexical top-k fused with dense-cosine top-k for RAG retrieval).
    * Each input is a bounded top-k frame of (`idCol`, `rankCol`) for ONE
    * query scope; the caller fuses per query by scoping its lists. The
    * fused score is kept integer-exact end to end:
    * `rrf_micro = Σ_lists 1_000_000 div (k0 + rank)` (k0 = 60 per the
    * paper), so the fusion order is bit-identical on any engine — no
    * float division ever lands on a compared surface. Output carries one
    * `<name>_rnk` column per list (0 where the id missed that list) and
    * `rrf_micro`, descending-fusable by the caller. PRECONDITION: input
    * ranks are 1-based (standard top-k rank); a rank < 1 raise_errors
    * per-row, since 0 is this operator's "missed the list" marker. List
    * names must be plain SQL identifiers. Scale shape: inputs
    * are top-k frames (≤ k rows each), so the full-outer join chain is a
    * few k-row frames — cost lives in producing the lists, never here. */
  def rrfFuse(lists: Seq[(String, DataFrame)], idCol: String,
      rankCol: String, k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 >= 1, s"k0 must be positive: $k0")
    val names = lists.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate list names: $names")
    // list names become column names AND splice into the scoring expr —
    // anything but a plain SQL identifier would fail analysis or, worse,
    // silently change the expression (round-11 ADVICE)
    names.foreach(n => require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"rrfFuse list name must be a plain identifier " +
        s"[A-Za-z_][A-Za-z0-9_]*: '$n'"))
    val renamed = lists.map { case (name, df) =>
      // ranks are contractually 1-BASED: a 0-based rank 0 would both
      // score 1e6 div k0 and be indistinguishable from the 0 this
      // operator emits for "id missed that list" (round-11 ADVICE) —
      // fail per-row instead of silently mis-scoring
      df.select(col(idCol),
        when(col(rankCol) < 1, raise_error(concat(
            lit(s"rrfFuse: list '$name' carries rank "),
            col(rankCol).cast("string"),
            lit(s" at $idCol="), col(idCol).cast("string"),
            lit(" — ranks must be 1-based (0 is reserved for 'missed')"))))
          .otherwise(col(rankCol)).cast("long").as(s"${name}_rnk"))
    }
    val joined = renamed.reduce(_.join(_, Seq(idCol), "full_outer"))
    // score FIRST (null rank → null term → 0 contribution), THEN flatten
    // the absent-list ranks to 0 for the integer-only output surface —
    // coalescing before scoring would credit every absent list 1e6/k0
    val contribs = names.map { n =>
      coalesce(expr(s"1000000L div (${k0}L + ${n}_rnk)"), lit(0L))
    }
    names.foldLeft(joined.withColumn("rrf_micro", contribs.reduce(_ + _))) {
      (df, n) =>
        df.withColumn(s"${n}_rnk", coalesce(col(s"${n}_rnk"), lit(0L)))
    }
  }

  /** The candidate stage of the [[hammingRerankTopK]] shape for
    * [[annFrontier]]: Hamming top-`candidates` per query (self included,
    * at distance 0) joined back to the raw vectors, with SELF dropped
    * before exact scoring — the frontier measures every method against
    * the self-excluded brute-force truth. */
  private[scale] def hammingCandidatePairs(queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, bits: Int,
      candidates: Int): DataFrame = {
    require(candidates >= 1, s"candidates must be positive: $candidates")
    val cand = hammingTopK(queries, corpus, idCol, vecCol, bits, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec")).withColumn("cn", norm(col("cvec")))
    val qvec = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")).withColumn("qn", norm(col("qvec")))
    cvec.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
  }

  /** Sign-quantized (binary) embedding signature: bit j = sign of the
    * projection onto deterministic hyperplane j (the [[srpBucket]] integer
    * weight family widened to ≤ 60 planes,
    * `w(i,j) = ((i·(2j+1) + 3j) mod 127) − 63`). The 1-bit-per-plane
    * extreme of the quantized-index spectrum (int8 → PQ → signs): ~60
    * bits per vector instead of D·32. One fused codegen loop
    * ([[graft.functions.SrpSignature]] — bit-identical to the per-plane
    * `aggregate∘zip_with` fold by VectorHashProps). */
  def srpSignature(vec: Column, bits: Int): Column =
    graft.functions.SrpSignature(vec, bits)

  /** Binary-quantized ANN: top-k by HAMMING distance between sign
    * signatures — `bit_count(xor(sig_q, sig_c))`, a pure integer metric
    * over one long per vector. The cheapest index in the family: the
    * candidate scan reads 8 bytes per vector and does one xor+popcount,
    * no float kernel anywhere; the classic first stage in front of an
    * exact rerank (compose with [[bruteForceTopK]] on the survivors, the
    * [[rpTopK]]/IVFADC+R shape). Signatures are computed once per side;
    * queries broadcast; ranking is the deterministic integer
    * (hamming asc, id asc) total order. Self-matches are included (index
    * convention, as in the PQ family: hamming(self) = 0 ranks first).
    * Fully cross-engine: projection signs come from the in-order fold
    * (bit-identical everywhere) and everything after is int64. */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, bits: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // a null signature (null vector / null element — the kernel's
    // poisoning contract) would sort NULLS FIRST under the ascending
    // Hamming window and silently win rank 1 for every query — raise at
    // signature creation instead, once per row, before the pair join
    def sigOrError(id: Column, vec: Column): Column = {
      val s = srpSignature(vec, bits)
      when(s.isNull, raise_error(concat(
        lit("hammingTopK: null signature (null vector or element) for "),
        id.cast("string")))).otherwise(s)
    }
    val q = queries.select(col(idCol).as("query_id"),
      sigOrError(col(idCol), col(vecCol)).as("qsig"))
    val c = graft.io.FanOut(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol)))
      .select(col("neighbor_id"),
        sigOrError(col("neighbor_id"), col(vecCol)).as("csig"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .withColumn("hamming", bit_count(col("qsig").bitwiseXOR(col("csig"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Multi-index (banded) Hamming search (Norouzi, Punjani, Fleet,
    * "Fast Search in Hamming Space with Multi-Index Hashing", CVPR 2012 —
    * the banded-LSH idea applied to sign signatures): the `bits`-bit
    * signature splits into `bands` disjoint substrings; a corpus row is a
    * CANDIDATE for a query iff they share at least one exact band, and
    * only candidates get the full Hamming distance. By pigeonhole, any
    * pair with Hamming distance < `bands` MUST share a band, so the
    * result is EXACT for neighbors closer than `bands` bits and
    * approximate beyond — tune `bands` to the radius that matters.
    *
    * The 100 TB shape — this is the scale path where [[hammingTopK]]'s
    * broadcast scan is the small-query-set path: one shuffle on the
    * (band, value) key, bucket-bounded candidate pairs, NEVER an all-pairs
    * loop (exactly [[graft.scale.Dedup.minhashCandidates]]'s banded-join
    * geometry, with signature substrings instead of MinHash bands).
    * A query with no shared band emits no rows (nothing within the
    * guaranteed radius — the caller's signal to fall back or widen). */
  def hammingBandTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, bits: Int, bands: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(bands >= 1 && bits % bands == 0,
      s"bands=$bands must divide bits=$bits")
    val width = bits / bands
    val mask = (1L << width) - 1
    def sigOrError(id: Column, vec: Column): Column = {
      val s = srpSignature(vec, bits)
      when(s.isNull, raise_error(concat(
        lit("hammingBandTopK: null signature for "), id.cast("string"))))
        .otherwise(s)
    }
    def banded(df: DataFrame, idAs: String, sigAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
          sigOrError(col(idCol), col(vecCol)).as(sigAs))
        .select(col(idAs), col(sigAs), explode(array((0 until bands).map {
          b => struct(lit(b).as("band"),
            shiftright(col(sigAs), b * width).bitwiseAND(lit(mask)).as("bv"))
        }: _*)).as("bb"))
        .select(col(idAs), col(sigAs),
          col("bb.band").as("band"), col("bb.bv").as("bv"))
    val q = banded(queries, "query_id", "qsig")
    val c = banded(corpus, "neighbor_id", "csig")
    // candidates: distinct id pairs sharing >= 1 band — bucket-sized work
    val cand = c.join(q, Seq("band", "bv"))
      .select("query_id", "qsig", "neighbor_id", "csig").distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    cand
      .withColumn("hamming", bit_count(col("qsig").bitwiseXOR(col("csig"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Banded Hamming near-duplicate PAIRS over a PRECOMPUTED integer
    * signature column (the self-join sibling of [[hammingBandTopK]], for
    * signatures that do not come from vectors — e.g. [[graft.scale
    * .Multimodal.dHash]] perceptual hashes): the `bits`-bit signature
    * splits into `bands` disjoint substrings, ids sharing ≥ 1 exact band
    * become candidates, and only candidates pay the xor+popcount; pairs
    * with Hamming distance ≤ `maxHamming` emit. By pigeonhole the result
    * is EXACT for `maxHamming < bands` (any pair within that radius must
    * agree on some band) and approximate beyond.
    *
    * 100 TB shape: one shuffle on the (band, value) key, bucket-bounded
    * candidate pairs, never an all-pairs join — the
    * [[graft.scale.Dedup.minhashCandidates]] geometry over signature
    * substrings, including its skew caveat: a band value shared by k
    * rows emits k² candidates, so at deployment scale hot (band, value)
    * buckets get the same cap-or-salt guard documented there (a
    * that-common band carries no identity signal — low-entropy payloads
    * concentrate band values exactly like boilerplate chunks concentrate
    * chunk hashes). A null signature fails loudly (it would otherwise
    * silently pair with nothing). Returns (id_a, id_b, hamming),
    * id_a < id_b. */
  def hammingBandPairs(df: DataFrame, idCol: String, sigCol: String,
      bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"bands=$bands must divide bits=$bits")
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    val width = bits / bands
    val mask = (1L << width) - 1
    val sig = when(col(sigCol).isNull, raise_error(concat(
      lit("hammingBandPairs: null signature for "),
      col(idCol).cast("string")))).otherwise(col(sigCol))
    val banded = df
      .select(col(idCol).as("id"), sig.as("sig"))
      .select(col("id"), col("sig"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * width).bitwiseAND(lit(mask)).as("bv"))
      }: _*)).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    banded.select(col("band"), col("bv"), col("id").as("id_a"),
        col("sig").as("sig_a"))
      .join(banded.select(col("band"), col("bv"), col("id").as("id_b"),
        col("sig").as("sig_b")), Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Two-stage binary search (the IVFADC+R shape at the 1-bit extreme):
    * [[hammingTopK]] retrieves `candidates ≥ k` survivors from the
    * sign-signature scan, then ONLY those q·candidates rows are re-scored
    * with the exact full-dimension cosine and the top k under the
    * (cosine desc, id) order are kept — Hamming's heavy tie mass (a
    * `bits`-valued integer metric) is resolved by exact distances instead
    * of by id. The raw-vector fetch broadcasts the candidate list onto
    * one corpus scan, never a corpus shuffle. Cosines are rounded to 6
    * decimals (ties → smallest id), the [[rpTopK]] reproducibility
    * contract. Self-matches are included, as in [[hammingTopK]]. */
  def hammingRerankTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, bits: Int, k: Int,
      candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val cand = hammingTopK(queries, corpus, idCol, vecCol, bits, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec")).withColumn("cn", norm(col("cvec")))
    val qvec = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")).withColumn("qn", norm(col("qvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cvec.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .withColumn("cosine", round(
        cosineWithNorms(col("qvec"), col("cvec"), col("qn"), col("cn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** Per-label centroid, one row per (label, dim), `pos` 1-based: the
    * k-means M-step. The mean is decimal-exact: every element is quantized
    * to DECIMAL(27,9) and summed exactly (order-independent), so the mean
    * is bit-stable under any partitioning; it is then rounded to `scale`
    * decimals.
    *
    * The plan is chosen from the measured input. One bounded collect
    * ([[graft.io.DriverVectors.collect]]) fetches an input of up to
    * [[graft.io.DriverVectors.ElementCap]] elements with integral or string
    * labels, and the means are computed on the driver over primitive
    * arrays and returned as a local frame: one job, and the same schema,
    * rows and double bits as the Spark plan. Any other input (more
    * elements, a null vector, a null, NaN or infinite element or one
    * outside a long's DECIMAL(27,9) unscaled range, another label type)
    * and any ragged input take the Spark plan: a two-phase
    * hash aggregate with map-side partial sums, #labels × dim reduced rows
    * regardless of corpus size — the 100 TB shape.
    *
    * Ragged input (vectors of differing length under one label) would make
    * "mean per dimension" over silently varying denominators; instead of
    * producing a divergent mean, the Spark plan fails loudly: within each
    * label every dimension must have been observed in every vector. The
    * guard is a window over the already-reduced #labels × dim frame —
    * negligible. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String,
      scale: Int = 4): DataFrame =
    centroidsCapped(df, labelCol, vecCol, scale,
      graft.io.DriverVectors.ElementCap)

  /** [[centroids]] with the driver-plan cap as a parameter: `cap = 0`
    * always runs the Spark plan. */
  private[graft] def centroidsCapped(df: DataFrame, labelCol: String,
      vecCol: String, scale: Int, cap: Long): DataFrame = {
    val plan = sparkCentroids(df, labelCol, vecCol, scale)
    graft.io.DriverVectors.collect(df, labelCol, Some(vecCol), cap)
      .filterNot(_.units.contains(graft.io.DriverVectors.NoUnits))
      .flatMap(driverCentroids(df.sparkSession, _, plan.schema, scale))
      .getOrElse(plan)
  }

  private def sparkCentroids(df: DataFrame, labelCol: String, vecCol: String,
      scale: Int): DataFrame = {
    val perDim = df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("pos"))
      .agg(
        round(
          sum(col("v").cast("double").cast("decimal(27,9)")).cast("double") /
            count(lit(1)), scale).as("centroid"),
        count(lit(1)).as("_n"))
    val w = Window.partitionBy("label")
    perDim
      .withColumn("_nmax", max(col("_n")).over(w))
      .select(col("label"), col("pos"),
        when(col("_n") =!= col("_nmax"), raise_error(concat(
          lit("ragged embedding vectors under label "), col("label").cast("string"),
          lit(": dim "), col("pos").cast("string"),
          lit(" observed in "), col("_n").cast("string"),
          lit(" of "), col("_nmax").cast("string"), lit(" rows"))))
          .otherwise(col("centroid")).as("centroid"))
  }

  /** The Spark plan's rows computed from collected vectors, as a local frame
    * of `schema`, or None for ragged input (the Spark plan raises its
    * error). A label's cell (label, pos) averages every vector at least
    * `pos` long; a null label is one group, as the grouped null key is. */
  private def driverCentroids(spark: org.apache.spark.sql.SparkSession,
      v: graft.io.DriverVectors.Vectors,
      schema: org.apache.spark.sql.types.StructType,
      scale: Int): Option[DataFrame] = {
    val n = v.rows
    val keys = (0 until n).iterator.filterNot(v.nullKey).map(v.keys).toArray
    java.util.Arrays.sort(keys)
    var g = 0
    for (i <- keys.indices) if (g == 0 || keys(i) != keys(g - 1)) {
      keys(g) = keys(i); g += 1
    }
    val groups = if (v.nullKey.contains(true)) g + 1 else g
    val group = Array.tabulate(n) { r =>
      if (v.nullKey(r)) g
      else java.util.Arrays.binarySearch(keys, 0, g, v.keys(r))
    }
    val len = new Array[Int](groups)
    for (r <- 0 until n) len(group(r)) = math.max(len(group(r)), v.size(r))
    val base = len.scanLeft(0)(_ + _)
    val cells = base(groups)
    val sums = new graft.io.DriverVectors.Sums(cells)
    val cnt = new Array[Long](cells)
    for (r <- 0 until n; i <- 0 until v.size(r)) {
      val c = base(group(r)) + i
      sums.add(c, v.units(v.start(r) + i))
      cnt(c) += 1
    }
    // the window guard of the Spark plan: every pos of a label counts as
    // many rows as its first
    val cellGroup = new Array[Int](cells)
    for (gi <- 0 until groups; c <- base(gi) until base(gi + 1)) {
      if (cnt(c) != cnt(base(gi))) return None
      cellGroup(c) = gi
    }
    val labelType = schema("label").dataType
    Some(graft.io.LocalFrame(spark, schema, cells) { (c, row) =>
      val gi = cellGroup(c)
      if (gi < g) v.setKey(row, 0, labelType, keys(gi))
      row.setInt(1, c - base(gi) + 1)
      row.setDouble(2, sums.mean(c, cnt(c), scale))
    })
  }

  /** Assign each vector to its nearest centroid by squared L2 distance (the
    * k-means E-step). `cents` must be small (#labels × dim rows — it is
    * collected to a literal array per label and broadcast inside the plan);
    * ties break to the smallest label for determinism. */
  def assignToNearest(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val centArr = centroidStructArray(cents)
    // native squared-L2 kernel: one primitive loop per (row, centroid),
    // bit-identical to the aggregate∘zip_with fold (FunctionsSpec property)
    val scored = transform(centArr, cs => struct(
      graft.functions.VectorSqL2(col(vecCol), cs.getField("c")).as("d"),
      cs.getField("label").as("label")))
    // struct ordering is field-order lexicographic: min = (smallest distance,
    // then smallest label) — the deterministic tie-break for free
    df.withColumn("assigned", array_min(scored).getField("label"))
  }

  /** A (label, pos, centroid) frame collected into one literal array of
    * (label, centroid-array) structs — the broadcast-in-plan form every
    * E-step/probe ranking maps over, so each distance is computed exactly
    * once per row (an argmin fold referencing its accumulator more than
    * once would duplicate the whole accumulated expression tree per level
    * — exponential codegen). #labels × dim rows by contract — the
    * driver-side build is bounded. */
  private[scale] def centroidStructArray(cents: DataFrame): Column = {
    // rows grouped on the driver: a local centroid frame (the driver plan
    // of [[centroids]]) is read with no job
    val centroidVecs: Seq[(Long, Seq[Double])] = cents
      .select("label", "pos", "centroid").collect().toSeq
      .groupBy(_.getAs[Number](0).longValue()).toSeq.sortBy(_._1)
      .map { case (label, rs) =>
        val m = rs.map(r =>
          r.getAs[Number](1).intValue -> r.getDouble(2)).toMap
        require((1 to m.size).forall(m.contains),
          s"centroid dims for label $label are not contiguous 1..${m.size}: " +
            s"got ${m.keys.toSeq.sorted.mkString(",")} (ragged input vectors?)")
        (label, (1 to m.size).map(m(_)))
      }
    array(centroidVecs.map { case (lbl, c) =>
      struct(lit(lbl).as("label"), array(c.map(lit): _*).as("c"))
    }: _*)
  }

  /** Full k-means training loop (Lloyd's algorithm) composed from the E/M
    * steps above. Deterministic seeding: the k rows with the smallest ids
    * seed centroids labeled 1..k (no RNG — reproducible across runs and
    * engines). Each round the E-step reads the k × dim centroid frame into
    * plan literals, so the loop's lineage stays FLAT — every iteration's
    * plan is (corpus scan + literals), nothing accumulates and no
    * checkpointing is needed. The M-step is [[centroids]], so its plan is
    * chosen from the measured input each round: up to
    * [[graft.io.DriverVectors.ElementCap]] elements, a round is ONE job
    * (the E-step scan, collected by the M-step's bounded collect, averaged
    * on the driver and read back by the next E-step with no job); above
    * it, the corpus is scanned by the E-step and re-averaged by the
    * distributed aggregate, and only the first round pays the bounded
    * collect (every round's M-step input has the same rows). A label whose
    * cluster empties simply drops out (standard Lloyd's behavior). Returns
    * the final (label, pos, centroid) frame, `pos` 1-based. */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, scale: Int = 4): DataFrame =
    kmeansFitCapped(df, idCol, vecCol, k, iters, scale,
      graft.io.DriverVectors.ElementCap)

  /** [[kmeansFit]] with the M-step's driver-plan cap as a parameter:
    * `cap = 0` always runs the Spark plan. */
  private[graft] def kmeansFitCapped(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, scale: Int, cap: Long): DataFrame = {
    require(k > 0, "k must be positive")
    require(iters > 0, "iters must be positive")
    val w = Window.orderBy(col(idCol).asc)
    var cents = df.orderBy(col(idCol).asc).limit(k)
      .withColumn("label", row_number().over(w).cast("long"))
      .select(col("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("label"), (col("pos") + 1).as("pos"),
        round(col("v").cast("double"), scale).as("centroid"))
    // every round's M-step reads the same vectors under integral labels, so
    // once one round takes the Spark plan the later ones skip the collect
    var roundCap = cap
    for (_ <- 1 to iters) {
      val assigned = assignToNearest(df, cents, idCol, vecCol)
        .select(col("assigned").as("label"), col(vecCol).as("vec"))
      cents = centroidsCapped(assigned, "label", "vec", scale, roundCap)
      if (!cents.isLocal) roundCap = 0
    }
    cents
  }

  /** Per-dimension mean/std over the corpus — the whitening statistics an
    * embedding pipeline computes before standardizing, and the QA signal
    * for stuck dimensions (std ≈ 0) or biased dimensions (|mean| ≫ 0).
    * One posexplode + groupBy over `dim` keys (map-side partials —
    * scan-bound at any corpus size); sums are exact decimal arithmetic
    * over per-element DECIMAL-quantized values (partition-order-stable,
    * engine-portable), with mean/std finished in IEEE double and quantized
    * DECIMAL(18,6). Returns (pos, mean, std, n), pos 1-based. */
  /** Division-free sufficient statistics behind [[componentStats]]:
    * per-dimension `(n, Σx, Σx²)` in integer MICRO-UNITS — each element
    * quantized ONCE by `floor(x·10⁶)` (one IEEE multiply + floor: both
    * bit-deterministic on any engine, and the result is an INTEGER-valued
    * double — unlike a fractional double→decimal cast, whose round-half
    * direction differs across engines and DID flip one element at sf0.1),
    * then squared and summed in exact decimal arithmetic and returned as
    * PURE INT64 (`s_micro`, `sq_micro`). No division, sqrt, rounding tie,
    * transcendental, DOUBLE, or DECIMAL anywhere on the compared surface —
    * int64 is the one type every engine/driver formats and hashes
    * identically (the round-5 lesson: even integer-VALUED decimals drew a
    * cross-build gate mismatch). Callers derive mean/std by dividing by
    * 10⁶/10¹² (as [[componentStats]] does for interactive use).
    *
    * Guards (loud, not silent): elements must satisfy |x| < 9·10³ (keeps
    * x·10⁶ exact in a double with huge margin and bounds xq² ≤ 8.1·10¹⁹ —
    * summed in DECIMAL(38,0) so no intermediate wrap is possible), and the
    * final sums must fit int64 or the query raises instead of wrapping. */
  def componentSums(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("pos"),
        floor(guardMagnitude(col("x").cast("double"), "componentSums")
          * lit(1e6)).cast("decimal(20,0)").as("xq"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("xq")).cast("decimal(38,0)").as("__s"),
        sum(col("xq") * col("xq")).cast("decimal(38,0)").as("__sq"))
      .select(col("pos"), col("n"),
        toInt64OrError(col("__s"), "componentSums s_micro").as("s_micro"),
        toInt64OrError(col("__sq"), "componentSums sq_micro").as("sq_micro"))

  /** Loud element-magnitude guard for the quantized-sum family: |x| must
    * stay under the documented ~9·10³ bound so x·10⁹ (nano) is exact in a
    * double — previously a doc-comment contract, now a runtime error
    * (silent long-wrap under non-ANSI casts produced wrong-but-plausible
    * sums otherwise). NULL passes through unchanged: ragged/short vectors
    * produce null elements (zip_with padding), which the quantized sums
    * already skip — raising here would turn a tolerated shape into a
    * crash with a misleading magnitude message. */
  private[graft] def guardMagnitude(x: Column, who: String): Column =
    when(x.isNotNull.and(abs(x) >= lit(9e3)),
      raise_error(concat(lit(s"$who: |element| must be < 9e3 (got "),
        x.cast("string"), lit(")"))))
      .otherwise(x)

  /** Guarded exact-decimal → int64 narrowing: raises if the value is
    * outside int64 instead of wrapping/nulling, so a gate column can never
    * silently carry a truncated sum. */
  private[graft] def toInt64OrError(c: Column, who: String): Column =
    when(abs(c) > lit(Long.MaxValue).cast("decimal(38,0)"),
      raise_error(concat(lit(s"$who overflows int64: "), c.cast("string"))))
      .otherwise(c.cast("long"))

  def componentStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("pos"),
        col("x").cast("double").as("x"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(27,9)")).as("s"),
        sum((col("x") * col("x")).cast("decimal(27,12)")).as("sq"))
      .select(col("pos"),
        (col("s").cast("double") / col("n")).cast("decimal(18,6)").as("mean"),
        sqrt(greatest(lit(0.0),
          col("sq").cast("double") / col("n") -
            (col("s").cast("double") / col("n")) *
            (col("s").cast("double") / col("n"))))
          .cast("decimal(18,6)").as("std"),
        col("n"))

  /** Top principal direction of the (uncentered) embedding matrix by power
    * iteration: v ← normalize(Σ_rows (x·v)·x), `iters` rounds from the
    * deterministic seed v₀ = e₁ — the spectral probe an embedding-QA
    * pipeline uses to find a dominant axis (anisotropy, a stuck encoder
    * dimension) without an eigensolver. Returns (pos, loading), pos
    * 1-based, loading DECIMAL(18,6).
    *
    * The k-means determinism playbook applies: per-row contributions
    * (dot·x_j) are quantized at DECIMAL(27,9) so the per-dimension sums
    * are exact decimal arithmetic, and each round's normalized v is
    * rounded at 6 decimals (absorbing double-ULP noise) before it feeds
    * the next round as plan literals. Per round: one scan (the per-row
    * dot is a fold over the row's own array — no join), one groupBy over
    * `dim` keys with map-side partials, a `dim`-row collect — the
    * bounded-model pattern. Lineage stays flat: every round's plan is
    * (corpus scan + literals). */
  def powerIterationTop(df: DataFrame, vecCol: String, iters: Int = 3,
      roundScale: Int = 6): DataFrame = {
    val (_, finalSums) = powerIterationState(df, vecCol, iters, roundScale)
    val collected = finalSums.orderBy("pos").collect()
    val s = collected.map(_.getDecimal(1).doubleValue())
    val norm = math.sqrt(s.map(x => x * x).sum)
    require(norm > 0, "power iteration collapsed to the zero vector")
    val sp = df.sparkSession
    import sp.implicits._
    s.toSeq.zipWithIndex
      .map { case (x, i) => ((i + 1).toLong,
        BigDecimal(x / norm)
          .setScale(roundScale, scala.math.BigDecimal.RoundingMode.HALF_UP)) }
      .toDF("pos", "loading")
      .select(col("pos"), col("loading").cast("decimal(18,6)").as("loading"))
  }

  /** The iteration state behind [[powerIterationTop]]: runs `iters − 1`
    * normalize-and-round rounds driver-side, then returns the vector `v`
    * that FEEDS the final round (as the exact plan-literal doubles) plus
    * the final round's UNNORMALIZED per-dimension decimal sums as an
    * unexecuted DataFrame — the distributed half of the last round,
    * exposed so the correctness oracle can recompute exactly that
    * aggregation from the literal `v` (no transcendental, no division —
    * the `OracleLits` canonicalization contract). */
  def powerIterationState(df: DataFrame, vecCol: String, iters: Int = 3,
      roundScale: Int = 6): (Seq[Double], DataFrame) = {
    require(iters > 0, "iters must be positive")
    val dimRow = df.agg(max(size(col(vecCol)))).head()
    require(!dimRow.isNullAt(0), "power iteration needs a non-empty corpus")
    val dim = dimRow.getInt(0)
    require(dim > 0, "embeddings are empty")
    // per-round quantized-sum aggregation: Σ_rows (x·v)·x_j with per-row
    // contributions truncated to integer NANO-UNITS (floor((dot·x)·10⁹):
    // IEEE multiply + floor are bit-deterministic everywhere, and the
    // integer-valued double casts to DECIMAL exactly — no round-half tie
    // an engine pair could disagree on; see componentSums) and summed in
    // exact decimal math. The nano scale cancels in the normalize step.
    def roundSums(v: Seq[Double]): DataFrame = {
      // literals carry the double nearest the rounded decimal — the same
      // value an external engine's round(x, 6) produces, so both engines
      // iterate on bit-identical vectors
      val vlit = array(v.map(lit): _*)
      val dot = aggregate(
        zip_with(col(vecCol), vlit,
          (x, y) => guardMagnitude(x.cast("double"), "powerIteration") * y),
        lit(0.0), (acc, t) => acc + t)
      // per-row overflow guard: floor() narrows double → long, and a
      // (dot·x)·10⁹ beyond int64 would CLAMP there (Java saturating
      // conversion) before the decimal cast could preserve it — raise
      // instead of silently clamping (|dot·x| < 9·10⁹ keeps the nano
      // product inside int64 with margin)
      val prod = col("__dot") * col("x").cast("double")
      val guarded = when(prod.isNotNull.and(abs(prod) >= lit(9.0e9)),
        raise_error(concat(lit("powerIteration: |dot*x| must be < 9e9 (got "),
          prod.cast("string"), lit(")"))))
        .otherwise(prod)
      df.withColumn("__dot", dot)
        .select(col("__dot"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy((col("pos") + 1).cast("long").as("pos"))
        .agg(sum(floor(guarded * lit(1e9))
          .cast("decimal(20,0)")).cast("decimal(38,0)").as("s"))
    }
    var v: Seq[Double] =
      1.0 +: Seq.fill(dim - 1)(0.0)
    for (_ <- 1 until iters) {
      val sums = roundSums(v).orderBy("pos").collect()  // `dim` rows — bounded
      val s = Array.fill(dim)(0.0)
      sums.foreach(r => s(r.getLong(0).toInt - 1) = r.getDecimal(1).doubleValue())
      val norm = math.sqrt(s.map(x => x * x).sum)
      require(norm > 0, "power iteration collapsed to the zero vector")
      v = s.map(x => BigDecimal(x / norm)
        .setScale(roundScale, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble).toSeq
    }
    (v, roundSums(v))
  }
}
