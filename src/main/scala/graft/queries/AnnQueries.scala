package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.scale.{Dedup, Multimodal, Pq, Sampling, Similarity, Temporal, TextAnalysis}
import ScaleShared._

/** ANN + embedding family: brute-force / IVF / multi-probe / RP /
  * PQ(ADC, IVFADC, +R) / SQ8 / binary-Hamming top-k, k-means, PCA,
  * quantization, recall and quantization-error QA.
  *
  * Mechanically split out of the former single-file ScaleQueries registry;
  * each family owns its queries AND their DuckDB oracle SQL. */
object AnnQueries {

  val queries: Map[String, QF] = Map(
    // SRP-LSH bucket ids (deterministic hyperplanes from dim index)
    "sim_srp_bucket" -> ((s, d) =>
      emb(s, d).select(col("vec_id"),
        Similarity.srpBucket(col("embedding"), 8).as("bucket"))
        .orderBy("vec_id")),

    // Brute-force cosine top-k (ids+rank output; the correctness baseline)
    "ann_bruteforce_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e,
        "vec_id", "embedding", 10)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk")
    }),

    // Hard-negative mining (contrastive-training data op): per query, the
    // 10 most-similar corpus vectors with a DIFFERENT label — the closest
    // impostors; label filter below the scoring so mismatches never pay
    // the dot product
    "ann_hard_negatives" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.hardNegatives(e.filter(col("vec_id") < 5), e,
        "vec_id", "embedding", "label", 10)
        .select("query_id", "rnk", "neighbor_id", "neighbor_label")
        .orderBy("query_id", "rnk")
    }),

    // kNN label-agreement probe (embedding-quality QA): majority label of
    // each query's 10 nearest neighbors vs its own, aggregated per label
    // as pure integer counts
    "ann_knn_label_acc" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.knnLabelAgreement(e.filter(col("vec_id") < 50), e,
        "vec_id", "embedding", "label", 10)
        .groupBy("own_label")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("agree"), 1L).otherwise(0L)).as("n_agree"))
        .orderBy("own_label")
    }),

    // IVF cell-balance diagnostics: per-cell counts, exact bp share, and
    // the hot flag (> 2× fair share = the latency-tail / retrain signal)
    "ann_ivf_stats" -> ((s, d) =>
      Similarity.ivfCellStats(emb(s, d), "label")
        .select(col("cell").cast("long").as("cell"),
          col("n_vecs").cast("long").as("n_vecs"),
          col("share_bp").cast("long").as("share_bp"), col("hot"))
        .orderBy("cell")),

    // IVF-style ANN: search restricted to the query's coarse cell (label)
    "ann_ivf_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e,
        "vec_id", "embedding", "label", 10)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk")
    }),

    // Multi-probe IVF: each query scored against its 2 nearest cells (by
    // squared-L2 to the per-cell centroid) — the standard inverted-file
    // recall knob; probe ranking is a zero-shuffle broadcast-literal pass
    "ann_ivf_multiprobe" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfMultiProbeTopK(e.filter(col("vec_id") < 5), e,
        "vec_id", "embedding", "label", k = 10, nProbe = 2)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk")
    }),

    // Metadata-filtered ANN (filtered vector search): top-k among ONLY
    // the corpus vectors passing a metadata predicate (vec_id % 3 = 0, a
    // license/lang/freshness stand-in), searched through the SHARED
    // full-corpus IVF index at nProbe=2. The filter prunes the posting
    // lists BEFORE scoring — never post-filtering an unfiltered top-k,
    // the classic recall bug where filtered-out neighbors displace the
    // true filtered ones
    "ann_filtered_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfFilteredTopK(e.filter(col("vec_id") < 5), e,
        "vec_id", "embedding", "label", pred = col("vec_id") % 3 === 0,
        k = 10, nProbe = 2)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk")
    }),

    // ANN index QA: recall of the IVF index against brute-force ground
    // truth per query — the metric that decides whether a cell layout is
    // usable before committing a 100 TB index build
    // Recall-vs-cost frontier: the tuning table for the index stack —
    // exact baseline, multi-probe IVF at nProbe 1..3, RP two-stage, and
    // the binary-Hamming rerank over its full (bits, budget) grid
    // (32/48-bit signatures × candidate budgets 15/30) — each row
    // (method, param, n_hit, k_total, candidate_rows), all integers;
    // recall and cost-per-query are the reader's divisions
    "ann_frontier" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.annFrontier(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", "label", k = 10,
          nProbes = Seq(1, 2, 3), rpBudgets = Seq(15, 30),
          hamBudgets = Seq(15, 30), hamBitsAxis = Seq(32, 48))
        .orderBy("method", "param")
    }),

    // The filtered-search tuning table: recall of ivfFilteredTopK per
    // nProbe against the FILTERED brute-force truth — answers how much
    // nProbe must grow to recover recall when the predicate thins the
    // posting lists (the operational question filtered search raises)
    "ann_filtered_frontier" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.filteredFrontier(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", "label", pred = col("vec_id") % 3 === 0,
          k = 10, nProbes = Seq(1, 2, 3))
        .orderBy("method", "param")
    }),

    "ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
      val bf = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", "label", 10)
        .select(col("query_id"), col("neighbor_id"))
      // (n_hit, k) integer pairs — recall is the caller's one division;
      // emitting the ratio itself would put a float quantization on the
      // gate for no information gain (the nb_calibration pattern)
      bf.join(ivf.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_hit"), col("k"))
        .orderBy("query_id")
    }),

    // MRR index QA beside recall: per query, the rank of the FIRST true
    // neighbor the IVF index surfaces (ground truth = exact cosine
    // top-10, self excluded — the ann_recall reference). rr is shipped
    // as floor(10⁶/rank) — exact integer both engines; a query whose
    // index list contains no true neighbor reports rank 0 / rr 0
    "ann_mrr" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
      val bf = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", "label", 10)
        .select(col("query_id"), col("rnk"), col("neighbor_id"))
      val firstHit = ivf.join(bf, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(min(col("rnk")).as("first_hit_rank"))
      q.select(col("vec_id").as("query_id"))
        .join(firstHit, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("first_hit_rank"), lit(0)).cast("long")
            .as("first_hit_rank"),
          coalesce(floor(lit(1000000.0) / col("first_hit_rank")), lit(0.0))
            .cast("long").as("rr_micro"))
        .orderBy("query_id")
    }),

    // Matryoshka-style truncation QA: recall@10 of brute-force search
    // over PREFIX dims (16/32/64) vs the full-dimension ground truth —
    // the embedding-dimension cost/recall curve a pipeline consults
    // before storing truncated vectors (Kusupati '22's evaluation shape)
    "ann_matryoshka_recall" -> ((s, d) => {
      val e = emb(s, d)
      val full = Pq.bruteForceL2TopK(
          e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      Seq(16, 32, 64).map { dd =>
        val te = e.select(col("vec_id"),
          slice(col("embedding"), 1, dd).as("embedding"))
        val bfT = Pq.bruteForceL2TopK(te.filter(col("vec_id") < 5), te,
            "vec_id", "embedding", 10)
          .select(col("query_id"), col("neighbor_id"))
        full.join(bfT.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left_outer")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(lit(dd.toLong).as("dims"), col("query_id"), col("n_hit"))
      }.reduce(_.unionByName(_)).orderBy("dims", "query_id")
    }),

    // Matryoshka two-stage search (the recall curve above, shipped as an
    // operator): 16-dim PREFIX squared-L2 prefilter keeps 30 candidates
    // per query, then ONLY those rows re-score with the exact full-dim
    // squared-L2 (broadcast candidate fetch — the IVFADC+R shape) for the
    // final top-10; d2_nano keeps the gate pure int64
    "ann_matryoshka_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.matryoshkaTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", prefixDims = 16, k = 10, candidates = 30)
        .orderBy("query_id", "rnk")
    }),

    // Two-stage ANN: 8-dim random-projection prefilter (top-30 candidates)
    // + exact cosine rerank (top-10) — the dims/projDims cost cut with
    // tunable recall
    "ann_rp_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.rpTopK(e.filter(col("vec_id") < 5), e,
        "vec_id", "embedding", k = 10, projDims = 8, candidates = 30)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk")
    }),

    // Per-label embedding centroids (distributed k-means M-step)
    "emb_centroids" -> ((s, d) =>
      Similarity.centroids(emb(s, d), "label", "embedding")
        .select(col("label"), col("pos").cast("long").as("pos"), col("centroid"))
        .orderBy("label", "pos")),

    // Nearest-centroid assignment (k-means E-step; centroids broadcast)
    "emb_kmeans_assign" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.assignToNearest(e,
        Similarity.centroids(e, "label", "embedding"), "vec_id", "embedding")
        .select("vec_id", "assigned").orderBy("vec_id")
    }),

    // Embedding QA: robust norm-fence outlier flags (Tukey fences at 3×IQR
    // on exact percentiles) — catches zero/corrupt/unnormalized vectors
    // before they poison similarity search. Exact percentile state grows
    // with distinct (rounded) norms — fine at oracle scale; at 100 TB swap
    // in percentile_approx (constant-size GK sketch, the sk_approx_quantile
    // pattern) since fences don't need exactness
    "emb_outliers" -> ((s, d) => {
      val e = emb(s, d)
        .select(col("vec_id"),
          round(Similarity.norm(col("embedding")), 6).as("norm"))
      val q = e.agg(expr("percentile(norm, 0.25)").as("q1"),
        expr("percentile(norm, 0.75)").as("q3"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("norm"),
          (col("norm") < col("q1") - (col("q3") - col("q1")) * 3 ||
            col("norm") > col("q3") + (col("q3") - col("q1")) * 3)
            .as("is_outlier"))
        .orderBy("vec_id")
    }),

    // Embedding-space drift between snapshots: per-dimension |Δ| of the
    // decimal-exact global centroids of two corpus halves (the vector-side
    // counterpart of tx_drift — catches encoder or population shift)
    "emb_drift" -> ((s, d) => {
      val e = emb(s, d).withColumn("all", lit(1))
      def cent(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Similarity.centroids(e.filter(f(col("vec_id"))), "all", "embedding")
      cent(_ < 250).withColumnRenamed("centroid", "c_a")
        .join(cent(_ >= 250).withColumnRenamed("centroid", "c_b"),
          Seq("label", "pos"))
        .select(col("pos").cast("long").as("pos"),
          round(abs(col("c_a") - col("c_b")), 4).as("abs_shift"))
        .orderBy("pos")
    }),

    // Incremental vector indexing (the IVF-index-update shape): centroids
    // trained on history, a new batch of vectors assigned to them without
    // touching historical assignments
    "emb_incr_assign" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.assignToNearest(e.filter(col("vec_id") >= 250),
        Similarity.centroids(e.filter(col("vec_id") < 250),
          "label", "embedding"),
        "vec_id", "embedding")
        .select("vec_id", "assigned").orderBy("vec_id")
    }),

    // Full k-means training loop: deterministic min-id seeding, 2 Lloyd's
    // rounds (E-step broadcasts centroid literals, M-step decimal-mean)
    "emb_kmeans_fit" -> ((s, d) =>
      Similarity.kmeansFit(emb(s, d), "vec_id", "embedding", k = 4, iters = 2)
        .select(col("label"), col("pos").cast("long").as("pos"), col("centroid"))
        .orderBy("label", "pos")),

    // SemDeDup: k-means cluster the embedding space (1 Lloyd's round,
    // so the assignment matches the fit oracle's a2), then drop
    // within-cluster cosine near-dups — min-id survivor, per-cluster
    // pair join (never global all-pairs)
    "emb_semdedup" -> ((s, d) => {
      val e = emb(s, d)
      val cents = Similarity.kmeansFit(e, "vec_id", "embedding",
        k = 4, iters = 1)
      Dedup.semDedup(e, cents, "vec_id", "embedding", 0.3)
        .orderBy("vec_id")
    }),

    // Symmetric int8 quantization (scale materialized, then per-element)
    // Top principal direction by 3-round power iteration (embedding-QA
    // spectral probe) — deterministic seed, per-round decimal
    // quantization. The gate verifies the final round's DISTRIBUTED
    // matrix-vector sums (exact decimals, no division/sqrt anywhere on
    // the compared surface); the iterated 6-decimal vector feeding that
    // round is registered for the oracle (OracleLits), and the
    // normalized loading view stays on powerIterationTop for callers
    "emb_pca_top" -> ((s, d) => {
      val (vPrev, sums) =
        Similarity.powerIterationState(emb(s, d), "embedding", iters = 3)
      // the 6-decimal iterated vector ships as INTEGER micro values; the
      // oracle reconstructs each element by one IEEE division (micro/10⁶),
      // which is bit-identical to the engine's plan literal (both are the
      // double nearest the same rational) — no decimal literal to parse
      OracleLits.put("pca_vprev",
        vPrev.map(x => math.round(x * 1e6).toString).mkString("[", ", ", "]"))
      // gate column is pure int64 (guarded narrowing of the exact decimal
      // sum — raises instead of wrapping if a corpus ever outgrows it)
      sums.select(col("pos"),
          Similarity.toInt64OrError(col("s"), "emb_pca_top mv_sum_nano")
            .as("mv_sum_nano"))
        .orderBy("pos")
    }),

    // Whitening stats: per-dimension n/Σx/Σx² sufficient statistics in
    // exact decimal arithmetic (stuck/biased-dim QA — componentStats
    // derives mean/std for interactive use; the gate compares the
    // division-free sums, the nb_calibration pattern)
    "emb_component_stats" -> ((s, d) =>
      Similarity.componentSums(emb(s, d), "embedding").orderBy("pos")),

    "emb_quantize" -> ((s, d) =>
      emb(s, d)
        .withColumn("scale", Similarity.int8Scale(col("embedding")))
        .select(col("vec_id"), col("scale"),
          posexplode(Similarity.int8Quantize(col("embedding"), col("scale"))))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("q"), col("scale"))
        .orderBy("vec_id", "pos")),

    // Deterministic random-projection dim reduction (64 → 8 dims)
    "emb_project" -> ((s, d) =>
      emb(s, d)
        .select(col("vec_id"),
          posexplode(Similarity.randomProject(col("embedding"), 8)))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
          round(col("col"), 6).as("v"))
        .orderBy("vec_id", "pos")),

    // Product-quantization codebook (Jégou '11): 4 subspaces × 4 centroids,
    // 2 Lloyd's rounds each — all subspaces trained together in one scan
    // per round (subspace is a grouping key, not a loop)
    "emb_pq_codebook" -> ((s, d) =>
      Pq.codebook(emb(s, d), "vec_id", "embedding", m = 4, k = 4, iters = 2)
        .select(col("subspace").cast("long").as("subspace"), col("label"),
          col("pos").cast("long").as("pos"), col("centroid"))
        .orderBy("subspace", "label", "pos")),

    // PQ encode: each vector compressed to 4 integer codes (m·8 bits vs
    // D·32 — the representation an exhaustive ADC scan reads at 100 TB)
    "emb_pq_encode" -> ((s, d) => {
      val e = emb(s, d)
      Pq.encode(e,
          Pq.codebook(e, "vec_id", "embedding", m = 4, k = 4, iters = 2),
          "vec_id", "embedding")
        .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
          col("code"))
        .orderBy("vec_id", "subspace")
    }),

    // PQ ADC top-k: compressed-domain search — per-query int64 nano LUT
    // (broadcast) + one integer-sum aggregation over the code table; the
    // raw vectors never rejoin the candidate scan
    "ann_pq_topk" -> ((s, d) => {
      val e = emb(s, d)
      val cb = Pq.codebook(e, "vec_id", "embedding", m = 4, k = 4, iters = 2)
      Pq.adcTopK(e.filter(col("vec_id") < 5),
          Pq.encode(e, cb, "vec_id", "embedding"), cb,
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("dist_nano"))
        .orderBy("query_id", "rnk")
    }),

    // OPQ-P (Ge '13): variance-balancing dimension permutation ahead of
    // the subspace split, then the UNCHANGED PQ stack on the permuted
    // vectors — the oracle re-derives the identical permutation from the
    // integer componentSums surface (no shipped constants) and runs the
    // same codebook/encode/ADC CTEs over the permuted corpus
    "ann_opq_topk" -> ((s, d) => {
      val e = emb(s, d)
      val perm = graft.scale.Opq.permutation(e, "embedding", 4)
      val pe = e.select(col("vec_id"),
        graft.scale.Opq.permute(col("embedding"), perm).as("embedding"))
      val cb = Pq.codebook(pe, "vec_id", "embedding", m = 4, k = 4,
        iters = 2)
      Pq.adcTopK(pe.filter(col("vec_id") < 5),
          Pq.encode(pe, cb, "vec_id", "embedding"), cb,
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("dist_nano"))
        .orderBy("query_id", "rnk")
    }),

    // Incremental index append: a NEW batch of vectors encoded against the
    // frozen codebook trained on history ALONE — codes for existing
    // vectors are never recomputed; the oracle independently retrains on
    // the same history and encodes the same batch, proving the frozen-
    // codebook deployment shape end-to-end
    "emb_pq_incr_encode" -> ((s, d) => {
      val e = emb(s, d)
      // codebook trained on history only, batch encoded against it
      Pq.encode(e.filter(col("vec_id") >= 250),
          Pq.codebook(e.filter(col("vec_id") < 250), "vec_id", "embedding",
            m = 4, k = 4, iters = 2),
          "vec_id", "embedding")
        .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
          col("code"))
        .orderBy("vec_id", "subspace")
    }),

    // IVFADC (Jégou '11 §V — the FAISS-style 100 TB layout): coarse IVF
    // cell restriction composed with compressed-domain ADC scoring — the
    // join key grows to (cell, subspace, code), so candidates outside the
    // query's cell are pruned before any distance arithmetic
    "ann_ivfpq_topk" -> ((s, d) => {
      val e = emb(s, d)
      val cb = Pq.codebook(e, "vec_id", "embedding", m = 4, k = 4, iters = 2)
      val codes = Pq.encode(e, cb, "vec_id", "embedding")
        .join(e.select(col("vec_id"), col("label").as("cell")), Seq("vec_id"))
      Pq.adcTopK(e.filter(col("vec_id") < 5).withColumn("cell", col("label")),
          codes, cb, "vec_id", "embedding", k = 10, cellCol = Some("cell"))
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("dist_nano"))
        .orderBy("query_id", "rnk")
    }),

    // IVFADC with RESIDUAL encoding (Jégou '11 §IV eq. 14 — the paper's
    // actual construction): every vector is replaced by x − centroid(cell)
    // before PQ training/encoding, and the query LUT is built from the
    // query's own-cell residual — within a cell the substitution is exact
    // (‖q−(c+r)‖² = ‖(q−c)−r‖²), and residual energy ≪ raw energy gives
    // the codebook its recall edge at the same m·8-bit budget. Cell
    // centroids are the decimal-exact per-label means (broadcast join +
    // zero-shuffle zip_with; the corpus never shuffles on a float)
    "ann_ivfpq_residual_topk" -> ((s, d) => {
      val e = emb(s, d)
      val cents = Similarity.centroids(
        e.select(col("label"), col("embedding")), "label", "embedding")
      val re = Pq.residualize(
        e.select(col("vec_id"), col("label").as("cell"), col("embedding")),
        cents, "cell", "embedding")
      val cb = Pq.codebook(re, "vec_id", "embedding", m = 4, k = 4, iters = 2)
      val codes = Pq.encode(re, cb, "vec_id", "embedding")
        .join(e.select(col("vec_id"), col("label").as("cell")), Seq("vec_id"))
      Pq.adcTopK(re.filter(col("vec_id") < 5),
          codes, cb, "vec_id", "embedding", k = 10, cellCol = Some("cell"))
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("dist_nano"))
        .orderBy("query_id", "rnk")
    }),

    // Binary-quantized ANN: 48-bit sign signatures (one fused codegen
    // loop), candidates scored by pure integer Hamming distance — the
    // 1-bit extreme of the quantized-index spectrum (8 bytes/vector, one
    // xor+popcount per candidate, no float kernel in the scan)
    "ann_hamming_topk" -> ((s, d) =>
      Similarity.hammingTopK(
          emb(s, d).filter(col("vec_id") < 5), emb(s, d),
          "vec_id", "embedding", bits = 48, k = 10)
        .orderBy("query_id", "rnk")),

    // Multi-index Hamming search (Norouzi '12): 4 bands of 12 signature
    // bits, candidates = rows sharing >= 1 exact band (pigeonhole: exact
    // for neighbors < 4 bits apart), one band-key shuffle — never the
    // all-pairs loop. The scale path of ann_hamming_topk
    "ann_hamming_band" -> ((s, d) =>
      Similarity.hammingBandTopK(
          emb(s, d).filter(col("vec_id") < 5), emb(s, d),
          "vec_id", "embedding", bits = 48, bands = 4, k = 10)
        .orderBy("query_id", "rnk")),

    // Two-stage binary search: Hamming top-30 prefilter, exact-cosine
    // re-rank of only those survivors (the IVFADC+R shape at the 1-bit
    // extreme — Hamming's tie mass resolved by exact distances, not ids)
    "ann_hamming_rerank" -> ((s, d) =>
      Similarity.hammingRerankTopK(
          emb(s, d).filter(col("vec_id") < 5), emb(s, d),
          "vec_id", "embedding", bits = 48, k = 10, candidates = 30)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk")),

    // IVFADC+R (Jégou '11 §VI): cell-restricted ADC retrieves k'=30
    // candidates in the compressed domain, then ONLY those q·k' rows are
    // re-scored exactly against their raw vectors (broadcast candidate
    // fetch — never a full corpus rejoin) and the top 10 under the exact
    // (d2, id) order are kept — the standard recall-recovery tail of the
    // compressed search stack
    "ann_ivfpq_rerank" -> ((s, d) => {
      val e = emb(s, d)
      val cb = Pq.codebook(e, "vec_id", "embedding", m = 4, k = 4, iters = 2)
      val codes = Pq.encode(e, cb, "vec_id", "embedding")
        .join(e.select(col("vec_id"), col("label").as("cell")), Seq("vec_id"))
      Pq.adcRerankTopK(
          e.filter(col("vec_id") < 5).withColumn("cell", col("label")),
          e, codes, cb, "vec_id", "embedding", k = 10, kPrime = 30,
          cellCol = Some("cell"))
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("d2_nano"))
        .orderBy("query_id", "rnk")
    }),

    // PQ index QA: per-subspace quantization error (expected ADC
    // distortion) — the retrain-trigger metric; int64 nano sums only
    "emb_pq_error" -> ((s, d) => {
      val e = emb(s, d)
      Pq.quantizationError(e,
          Pq.codebook(e, "vec_id", "embedding", m = 4, k = 4, iters = 2),
          "vec_id", "embedding")
        .select(col("subspace").cast("long").as("subspace"), col("n"),
          col("err_nano_sum"))
        .orderBy("subspace")
    }),

    // PQ index QA: ADC recall against exact brute-force ground truth —
    // integer (n_hit, k) pairs, the ann_recall pattern (quantization-loss
    // QA before committing a compressed 100 TB index)
    "ann_pq_recall" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
      val cb = Pq.codebook(e, "vec_id", "embedding", m = 4, k = 4, iters = 2)
      val bf = Pq.bruteForceL2TopK(q, e, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val pq = Pq.adcTopK(q, Pq.encode(e, cb, "vec_id", "embedding"), cb,
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      bf.join(pq.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_hit"), col("k"))
        .orderBy("query_id")
    }),

    // Scalar-quantized (SQ8) asymmetric-distance ANN: corpus stored as
    // int8 codes + per-vector scale (4× smaller), query stays float —
    // the middle of the quantized-index spectrum (int8 → PQ → signs);
    // int-only gate, the bit-portable scale/round/fold makes the DuckDB
    // ranking identical
    "ann_sq_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.sqTopK(e.filter(col("vec_id") < 5), e, "vec_id",
          "embedding", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // IVF-SQ8: cell-restricted scalar-quantized search — the scale path
    // for ann_sq_topk, exactly as IVFADC is for plain ADC (keyed
    // candidate join, compressed representation computed pre-join)
    "ann_ivfsq_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfSqTopK(e.filter(col("vec_id") < 5), e, "vec_id",
          "embedding", "label", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // Multi-probe IVF-SQ8: the recall knob for the int8 index — probe
    // the 2 nearest cells per query (broadcast-centroid pass), SQ-score
    // the probed cells' candidates
    "ann_ivfsq_multiprobe" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfSqMultiProbeTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", "label", k = 10, nProbe = 2)
        .orderBy("query_id", "rnk")
    }),

    // SQ8 + exact rerank (the IVFADC+R shape for the scalar quantizer):
    // int8 prefilter to k'=30, exact float dot on only those candidates
    "ann_sq_rerank" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.sqRerankTopK(e.filter(col("vec_id") < 5), e, "vec_id",
          "embedding", k = 10, kPrime = 30)
        .orderBy("query_id", "rnk")
    }),

    // SQ index QA: recall of the int8 asymmetric ranking against the
    // exact inner-product ground truth — integer (n_hit, k) pairs, the
    // ann_recall pattern
    "ann_sq_recall" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.dotTopK(q, e, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val sq = Similarity.sqTopK(q, e, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(sq.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_hit"), col("k"))
        .orderBy("query_id")
    }),
  )

  // a def, not a val: registry-aware entries read OracleLits fragments
  // that the query functions register as they run (Verify dumps oracle
  // SQL AFTER running every query)
  def oracles: Map[String, String] = Map(
    "sim_srp_bucket" -> {
      s"""SELECT vec_id, $duckSrpTerms AS bucket FROM embeddings
         |ORDER BY vec_id""".stripMargin
    },

    "ann_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "ann_ivf_stats" ->
      """WITH c AS (SELECT label AS cell, count(*) AS n_vecs
        |  FROM embeddings GROUP BY 1),
        |t AS (SELECT sum(n_vecs) AS tt, count(*) AS nc FROM c)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(n_vecs AS BIGINT)
        |    AS n_vecs,
        |  CAST((10000 * n_vecs) // tt AS BIGINT) AS share_bp,
        |  (n_vecs * nc > tt * 2) AS hot
        |FROM c CROSS JOIN t ORDER BY cell""".stripMargin,

    "ann_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS cl
         |  FROM embeddings)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id,
         |  neighbor_label FROM (
         |  SELECT query_id, neighbor_id, cl AS neighbor_label,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE ql != cl)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "ann_knn_label_acc" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    label AS own_label
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS cl
         |  FROM embeddings),
         |bf AS (SELECT query_id, neighbor_id, cl FROM (
         |  SELECT query_id, neighbor_id, cl, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |  WHERE rnk <= 10),
         |votes AS (SELECT query_id, cl, count(*) AS v FROM bf GROUP BY 1, 2),
         |maj AS (SELECT query_id, cl AS knn_label FROM (
         |  SELECT query_id, cl, row_number() OVER (PARTITION BY query_id
         |    ORDER BY v DESC, cl ASC) AS r FROM votes) WHERE r = 1)
         |SELECT q.own_label AS own_label, CAST(count(*) AS BIGINT)
         |    AS n_queries,
         |  CAST(sum(CASE WHEN maj.knn_label = q.own_label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_agree
         |FROM maj JOIN q USING (query_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // composes the ann_recall / ann_ivf_multiprobe / ann_rp_topk CTE
    // stacks: one bf truth, per-pair probe-cell rank (a corpus vector
    // lives in ONE cell, so cell_rn is unique per pair), RP prefilter
    // rank — then one row per configuration
    "ann_frontier" -> {
      def proj(e: String): String =
        s"list_transform(range(1, 9), j -> list_sum(list_transform(" +
          s"range(1, len($e) + 1), i -> CAST($e[i] AS DOUBLE) * ((i - 1) * j % 13 - 6))))"
      def ivfSel(p: Int): String =
        s"""SELECT 'ivf', $p,
           |  (SELECT count(*) FROM (SELECT query_id, neighbor_id FROM (
           |     SELECT query_id, neighbor_id, row_number() OVER (
           |       PARTITION BY query_id
           |       ORDER BY ${ScaleShared.duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
           |     FROM pairs WHERE cell_rn <= $p) WHERE rnk <= 10) iv
           |   JOIN bf USING (query_id, neighbor_id)),
           |  (SELECT count(*) FROM bf),
           |  (SELECT count(*) FROM pairs WHERE cell_rn <= $p)""".stripMargin
      def rpSel(b: Int): String =
        s"""SELECT 'rp', $b,
           |  (SELECT count(*) FROM (SELECT query_id, neighbor_id FROM (
           |     SELECT query_id, neighbor_id, row_number() OVER (
           |       PARTITION BY query_id
           |       ORDER BY round(${ScaleShared.duckCosine("qe", "ce")}, 6) DESC, neighbor_id) AS rnk
           |     FROM rcand WHERE prnk <= $b) WHERE rnk <= 10) rr
           |   JOIN bf USING (query_id, neighbor_id)),
           |  (SELECT count(*) FROM bf),
           |  (SELECT count(*) FROM rcand WHERE prnk <= $b)""".stripMargin
      def hamSel(bits: Int, b: Int): String =
        s"""SELECT 'ham$bits', $b,
           |  (SELECT count(*) FROM (SELECT query_id, neighbor_id FROM (
           |     SELECT query_id, neighbor_id, row_number() OVER (
           |       PARTITION BY query_id
           |       ORDER BY round(${ScaleShared.duckCosine("qe", "ce")}, 6) DESC, neighbor_id) AS rnk
           |     FROM hcand$bits WHERE prnk <= $b AND query_id != neighbor_id)
           |     WHERE rnk <= 10) hh
           |   JOIN bf USING (query_id, neighbor_id)),
           |  (SELECT count(*) FROM bf),
           |  (SELECT count(*) FROM hcand$bits
           |   WHERE prnk <= $b AND query_id != neighbor_id)""".stripMargin
      def hamCtes(bits: Int): String =
        s"""sig$bits AS (SELECT vec_id, embedding,
           |  CAST(list_sum(list_transform(range(0, $bits), j ->
           |    CASE WHEN list_sum(list_transform(
           |        range(1, len(embedding) + 1),
           |        i -> CAST(embedding[i] AS DOUBLE) *
           |          (((i - 1) * (2*j + 1) + 3*j) % 127 - 63))) > 0
           |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sg
           |  FROM embeddings),
           |hcand$bits AS (
           |  SELECT hq.vec_id AS query_id, hc.vec_id AS neighbor_id,
           |    hq.embedding AS qe, hc.embedding AS ce, row_number() OVER (
           |      PARTITION BY hq.vec_id
           |      ORDER BY bit_count(xor(hq.sg, hc.sg)), hc.vec_id) AS prnk
           |  FROM sig$bits hc CROSS JOIN sig$bits hq
           |  WHERE hq.vec_id < 5)""".stripMargin
      s"""WITH dim AS (SELECT unnest(range(1,
         |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
         |cents AS (SELECT label, i AS pos,
         |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
         |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
         |  FROM embeddings CROSS JOIN dim GROUP BY 1, 2),
         |cl AS (SELECT label, list(centroid ORDER BY pos) AS cl
         |  FROM cents GROUP BY 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS cell
         |  FROM embeddings),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${ScaleShared.duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |  WHERE rnk <= 10),
         |qd AS (SELECT query_id, cc.label AS cell,
         |  list_sum(list_transform(range(1, len(qe) + 1),
         |    i -> (CAST(qe[i] AS DOUBLE) - cc.cl[i])
         |       * (CAST(qe[i] AS DOUBLE) - cc.cl[i]))) AS d
         |  FROM q, cl cc),
         |pr AS (SELECT query_id, cell, row_number() OVER (
         |  PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd),
         |pairs AS (SELECT p.query_id, c.neighbor_id, p.rn AS cell_rn,
         |    q.qe, c.ce
         |  FROM pr p JOIN c ON c.cell = p.cell
         |  JOIN q ON q.query_id = p.query_id
         |  WHERE p.query_id != c.neighbor_id),
         |rq AS (SELECT vec_id AS query_id, embedding AS qe,
         |    ${proj("embedding")} AS qpv
         |  FROM embeddings WHERE vec_id < 5),
         |rc AS (SELECT vec_id AS neighbor_id, embedding AS ce,
         |    ${proj("embedding")} AS cpv
         |  FROM embeddings),
         |rcand AS (SELECT query_id, neighbor_id, qe, ce, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY round(${ScaleShared.duckCosine("qpv", "cpv")}, 6) DESC, neighbor_id
         |  ) AS prnk
         |  FROM rq, rc WHERE query_id != neighbor_id),
         |${hamCtes(32)},
         |${hamCtes(48)}
         |SELECT CAST(method AS VARCHAR) AS method,
         |  CAST(param AS BIGINT) AS param, CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(k_total AS BIGINT) AS k_total,
         |  CAST(candidate_rows AS BIGINT) AS candidate_rows
         |FROM (
         |  SELECT 'bf' AS method, 0 AS param,
         |    (SELECT count(*) FROM bf) AS n_hit,
         |    (SELECT count(*) FROM bf) AS k_total,
         |    (SELECT count(*) FROM q, c WHERE query_id != neighbor_id)
         |      AS candidate_rows
         |  UNION ALL ${ivfSel(1)}
         |  UNION ALL ${ivfSel(2)}
         |  UNION ALL ${ivfSel(3)}
         |  UNION ALL ${rpSel(15)}
         |  UNION ALL ${rpSel(30)}
         |  UNION ALL ${hamSel(32, 15)}
         |  UNION ALL ${hamSel(32, 30)}
         |  UNION ALL ${hamSel(48, 15)}
         |  UNION ALL ${hamSel(48, 30)}
         |)
         |ORDER BY method, param""".stripMargin
    },

    "ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label
         |  FROM embeddings),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |  WHERE rnk <= 10),
         |iv AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q JOIN c ON q.label = c.label
         |  WHERE query_id != neighbor_id)
         |  WHERE rnk <= 10)
         |SELECT bf.query_id,
         |  CAST(count(iv.neighbor_id) AS BIGINT) AS n_hit,
         |  CAST(count(*) AS BIGINT) AS k
         |FROM bf LEFT JOIN iv USING (query_id, neighbor_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the ann_recall CTEs plus first-hit rank; rr = 10^6 // rank exactly
    "ann_mrr" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label
         |  FROM embeddings),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |  WHERE rnk <= 10),
         |iv AS (SELECT query_id, neighbor_id, rnk FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q JOIN c ON q.label = c.label
         |  WHERE query_id != neighbor_id)
         |  WHERE rnk <= 10),
         |fh AS (SELECT iv.query_id, min(iv.rnk) AS fr
         |  FROM iv JOIN bf USING (query_id, neighbor_id) GROUP BY 1)
         |SELECT q.query_id,
         |  CAST(coalesce(fh.fr, 0) AS BIGINT) AS first_hit_rank,
         |  CAST(coalesce(1000000 // fh.fr, 0) AS BIGINT) AS rr_micro
         |FROM q LEFT JOIN fh USING (query_id) ORDER BY query_id""".stripMargin,

    // prefix-dim brute force vs full-dim ground truth, same in-order
    // squared-L2 fold family as the PQ oracles
    "ann_matryoshka_recall" -> {
      def bfCte(name: String, dd: Int): String =
        s"""$name AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      list_sum(list_transform(range(1, $dd + 1), i ->
           |        (CAST(q.embedding[i] AS DOUBLE) -
           |          CAST(c.embedding[i] AS DOUBLE)) *
           |        (CAST(q.embedding[i] AS DOUBLE) -
           |          CAST(c.embedding[i] AS DOUBLE)))),
           |      c.vec_id) AS rnk
           |  FROM embeddings q CROSS JOIN embeddings c WHERE q.vec_id < 5)
           |  WHERE rnk <= 10)""".stripMargin
      def block(dd: Int): String =
        s"""SELECT CAST($dd AS BIGINT) AS dims, f.query_id,
           |  CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_hit
           |FROM bf_full f LEFT JOIN bf_$dd t USING (query_id, neighbor_id)
           |GROUP BY 2""".stripMargin
      s"""WITH ${bfCte("bf_full", 64)},
         |${bfCte("bf_16", 16)},
         |${bfCte("bf_32", 32)},
         |${bfCte("bf_64", 64)}
         |SELECT dims, query_id, n_hit FROM (
         |${block(16)} UNION ALL ${block(32)} UNION ALL ${block(64)})
         |ORDER BY dims, query_id""".stripMargin
    },

    // prefix-dim prefilter (top-30 by the in-order squared-L2 fold over
    // the first 16 dims), exact full-dim rerank of only the survivors,
    // int64 nano distances on the gate
    "ann_matryoshka_topk" -> {
      def fold(dims: String): String =
        s"""list_sum(list_transform(range(1, $dims), i ->
           |      (CAST(q.embedding[i] AS DOUBLE) -
           |        CAST(c.embedding[i] AS DOUBLE)) *
           |      (CAST(q.embedding[i] AS DOUBLE) -
           |        CAST(c.embedding[i] AS DOUBLE))))""".stripMargin
      s"""WITH cand AS (SELECT query_id, neighbor_id, qe, ce FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    q.embedding AS qe, c.embedding AS ce,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${fold("17")},
         |      c.vec_id) AS prnk
         |  FROM embeddings q CROSS JOIN embeddings c WHERE q.vec_id < 5)
         |  WHERE prnk <= 30),
         |ex AS (SELECT query_id, neighbor_id,
         |  CAST(floor(list_sum(list_transform(range(1, len(qe) + 1), i ->
         |    (CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)) *
         |    (CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))))
         |    * 1000000000.0) AS BIGINT) AS d2_nano
         |  FROM cand)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, d2_nano
         |FROM (SELECT query_id, neighbor_id, d2_nano, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2_nano, neighbor_id) AS rnk
         |  FROM ex) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    },

    // the oracle re-quantizes the corpus (emb_quantize recipe) and ranks
    // by the same scale·dot(query, codes) asymmetric score
    "ann_sq_topk" ->
      s"""WITH c0 AS (SELECT vec_id AS neighbor_id, embedding AS ce,
         |  list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings),
         |c AS (SELECT neighbor_id, scale,
         |  CASE WHEN scale > 0
         |    THEN list_transform(ce, x -> round(CAST(x AS DOUBLE) / scale))
         |    ELSE list_transform(ce, x -> 0.0) END AS codes FROM c0),
         |q AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < 5)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY scale * ${duckDot("qe", "codes")} DESC,
         |      neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // cell-restricted variant: same asymmetric ranking, candidates
    // limited to the query's label cell
    "ann_ivfsq_topk" ->
      s"""WITH c0 AS (SELECT vec_id AS neighbor_id, label, embedding AS ce,
         |  list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings),
         |c AS (SELECT neighbor_id, label, scale,
         |  CASE WHEN scale > 0
         |    THEN list_transform(ce, x -> round(CAST(x AS DOUBLE) / scale))
         |    ELSE list_transform(ce, x -> 0.0) END AS codes FROM c0),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, label
         |  FROM embeddings WHERE vec_id < 5)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY scale * ${duckDot("qe", "codes")} DESC,
         |      neighbor_id) AS rnk
         |  FROM q JOIN c ON q.label = c.label
         |  WHERE query_id != neighbor_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // the ann_ivf_multiprobe probe CTEs + the SQ asymmetric ranking
    "ann_ivfsq_multiprobe" ->
      s"""WITH dim AS (SELECT unnest(range(1,
         |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
         |cents AS (SELECT label, i AS pos,
         |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
         |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
         |  FROM embeddings CROSS JOIN dim GROUP BY 1, 2),
         |cl AS (SELECT label, list(centroid ORDER BY pos) AS cl
         |  FROM cents GROUP BY 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < 5),
         |qd AS (SELECT query_id, cc.label AS cell,
         |  list_sum(list_transform(range(1, len(qe) + 1),
         |    i -> (CAST(qe[i] AS DOUBLE) - cc.cl[i])
         |       * (CAST(qe[i] AS DOUBLE) - cc.cl[i]))) AS d
         |  FROM q, cl cc),
         |probe AS (SELECT query_id, cell FROM (
         |  SELECT query_id, cell, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd)
         |  WHERE rn <= 2),
         |c0 AS (SELECT vec_id AS neighbor_id, label AS cell,
         |  embedding AS ce,
         |  list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings),
         |c AS (SELECT neighbor_id, cell, scale,
         |  CASE WHEN scale > 0
         |    THEN list_transform(ce, x -> round(CAST(x AS DOUBLE) / scale))
         |    ELSE list_transform(ce, x -> 0.0) END AS codes FROM c0)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT p.query_id, c.neighbor_id, row_number() OVER (
         |    PARTITION BY p.query_id
         |    ORDER BY scale * ${duckDot("qe", "codes")} DESC,
         |      neighbor_id) AS rnk
         |  FROM probe p JOIN c ON c.cell = p.cell
         |  JOIN q ON q.query_id = p.query_id
         |  WHERE p.query_id != c.neighbor_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // sq prefilter CTE to rnk<=30, then exact-dot rerank of the survivors
    "ann_sq_rerank" ->
      s"""WITH c0 AS (SELECT vec_id AS neighbor_id, embedding AS ce,
         |  list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings),
         |c AS (SELECT neighbor_id, ce, scale,
         |  CASE WHEN scale > 0
         |    THEN list_transform(ce, x -> round(CAST(x AS DOUBLE) / scale))
         |    ELSE list_transform(ce, x -> 0.0) END AS codes FROM c0),
         |q AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < 5),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY scale * ${duckDot("qe", "codes")} DESC,
         |      neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id) WHERE rnk <= 30)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT cand.query_id, cand.neighbor_id, row_number() OVER (
         |    PARTITION BY cand.query_id
         |    ORDER BY ${duckDot("qe", "ce")} DESC, cand.neighbor_id) AS rnk
         |  FROM cand JOIN c ON c.neighbor_id = cand.neighbor_id
         |  JOIN q ON q.query_id = cand.query_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "ann_sq_recall" ->
      s"""WITH c0 AS (SELECT vec_id AS neighbor_id, embedding AS ce,
         |  list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings),
         |c AS (SELECT neighbor_id, ce, scale,
         |  CASE WHEN scale > 0
         |    THEN list_transform(ce, x -> round(CAST(x AS DOUBLE) / scale))
         |    ELSE list_transform(ce, x -> 0.0) END AS codes FROM c0),
         |q AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < 5),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckDot("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id) WHERE rnk <= 10),
         |sq AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY scale * ${duckDot("qe", "codes")} DESC,
         |      neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id) WHERE rnk <= 10)
         |SELECT exact.query_id,
         |  CAST(count(sq.neighbor_id) AS BIGINT) AS n_hit,
         |  CAST(count(*) AS BIGINT) AS k
         |FROM exact LEFT JOIN sq USING (query_id, neighbor_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label
         |  FROM embeddings)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q JOIN c ON q.label = c.label
         |  WHERE query_id != neighbor_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // per-cell decimal-mean centroids (the Similarity.centroids recipe),
    // probe = 2 nearest cells by in-order sqL2 fold, then the ivf cosine
    // ranking over the probed cells' union
    "ann_ivf_multiprobe" ->
      s"""WITH dim AS (SELECT unnest(range(1,
         |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
         |cents AS (SELECT label, i AS pos,
         |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
         |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
         |  FROM embeddings CROSS JOIN dim GROUP BY 1, 2),
         |cl AS (SELECT label, list(centroid ORDER BY pos) AS cl
         |  FROM cents GROUP BY 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < 5),
         |qd AS (SELECT query_id, cc.label AS cell,
         |  list_sum(list_transform(range(1, len(qe) + 1),
         |    i -> (CAST(qe[i] AS DOUBLE) - cc.cl[i])
         |       * (CAST(qe[i] AS DOUBLE) - cc.cl[i]))) AS d
         |  FROM q, cl cc),
         |probe AS (SELECT query_id, cell FROM (
         |  SELECT query_id, cell, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd)
         |  WHERE rn <= 2),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS cell
         |  FROM embeddings)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT p.query_id, c.neighbor_id, row_number() OVER (
         |    PARTITION BY p.query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM probe p JOIN c ON c.cell = p.cell
         |  JOIN q ON q.query_id = p.query_id
         |  WHERE p.query_id != c.neighbor_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // identical probe selection to ann_ivf_multiprobe (centroids over the
    // FULL corpus — the shared index), with only the posting-list scan
    // filtered by the metadata predicate
    "ann_filtered_topk" ->
      s"""WITH dim AS (SELECT unnest(range(1,
         |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
         |cents AS (SELECT label, i AS pos,
         |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
         |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
         |  FROM embeddings CROSS JOIN dim GROUP BY 1, 2),
         |cl AS (SELECT label, list(centroid ORDER BY pos) AS cl
         |  FROM cents GROUP BY 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < 5),
         |qd AS (SELECT query_id, cc.label AS cell,
         |  list_sum(list_transform(range(1, len(qe) + 1),
         |    i -> (CAST(qe[i] AS DOUBLE) - cc.cl[i])
         |       * (CAST(qe[i] AS DOUBLE) - cc.cl[i]))) AS d
         |  FROM q, cl cc),
         |probe AS (SELECT query_id, cell FROM (
         |  SELECT query_id, cell, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd)
         |  WHERE rn <= 2),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS cell
         |  FROM embeddings WHERE vec_id % 3 = 0)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT p.query_id, c.neighbor_id, row_number() OVER (
         |    PARTITION BY p.query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM probe p JOIN c ON c.cell = p.cell
         |  JOIN q ON q.query_id = p.query_id
         |  WHERE p.query_id != c.neighbor_id)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // same CTE skeleton as the main frontier, with the corpus scan
    // filtered and the truth taken over the FILTERED corpus
    "ann_filtered_frontier" -> {
      def ivfSel(p: Int): String =
        s"""SELECT 'ivfF', $p,
           |  (SELECT count(*) FROM (SELECT query_id, neighbor_id FROM (
           |     SELECT query_id, neighbor_id, row_number() OVER (
           |       PARTITION BY query_id
           |       ORDER BY ${duckCosine("qe", "ce")} DESC,
           |         neighbor_id) AS rnk
           |     FROM pairs WHERE cell_rn <= $p) WHERE rnk <= 10) iv
           |   JOIN bf USING (query_id, neighbor_id)),
           |  (SELECT count(*) FROM bf),
           |  (SELECT count(*) FROM pairs WHERE cell_rn <= $p)""".stripMargin
      s"""WITH dim AS (SELECT unnest(range(1,
         |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
         |cents AS (SELECT label, i AS pos,
         |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
         |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
         |  FROM embeddings CROSS JOIN dim GROUP BY 1, 2),
         |cl AS (SELECT label, list(centroid ORDER BY pos) AS cl
         |  FROM cents GROUP BY 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS cell
         |  FROM embeddings WHERE vec_id % 3 = 0),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY ${duckCosine("qe", "ce")} DESC, neighbor_id) AS rnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |  WHERE rnk <= 10),
         |qd AS (SELECT query_id, cc.label AS cell,
         |  list_sum(list_transform(range(1, len(qe) + 1),
         |    i -> (CAST(qe[i] AS DOUBLE) - cc.cl[i])
         |       * (CAST(qe[i] AS DOUBLE) - cc.cl[i]))) AS d
         |  FROM q, cl cc),
         |pr AS (SELECT query_id, cell, row_number() OVER (
         |  PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd),
         |pairs AS (SELECT p.query_id, c.neighbor_id, p.rn AS cell_rn,
         |    q.qe, c.ce
         |  FROM pr p JOIN c ON c.cell = p.cell
         |  JOIN q ON q.query_id = p.query_id
         |  WHERE p.query_id != c.neighbor_id)
         |SELECT CAST(method AS VARCHAR) AS method,
         |  CAST(param AS BIGINT) AS param, CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(k_total AS BIGINT) AS k_total,
         |  CAST(candidate_rows AS BIGINT) AS candidate_rows
         |FROM (
         |  SELECT 'bfF' AS method, 0 AS param,
         |    (SELECT count(*) FROM bf) AS n_hit,
         |    (SELECT count(*) FROM bf) AS k_total,
         |    (SELECT count(*) FROM q, c WHERE query_id != neighbor_id)
         |      AS candidate_rows
         |  UNION ALL ${ivfSel(1)}
         |  UNION ALL ${ivfSel(2)}
         |  UNION ALL ${ivfSel(3)})
         |  t(method, param, n_hit, k_total, candidate_rows)
         |ORDER BY method, param""".stripMargin
    },

    "ann_rp_topk" -> {
      def proj(e: String): String =
        s"list_transform(range(1, 9), j -> list_sum(list_transform(" +
          s"range(1, len($e) + 1), i -> CAST($e[i] AS DOUBLE) * ((i - 1) * j % 13 - 6))))"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    ${proj("embedding")} AS qpv
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce,
         |    ${proj("embedding")} AS cpv
         |  FROM embeddings),
         |cand AS (SELECT query_id, neighbor_id, qe, ce, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY round(${duckCosine("qpv", "cpv")}, 6) DESC, neighbor_id
         |  ) AS prnk
         |  FROM q, c WHERE query_id != neighbor_id)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY round(${duckCosine("qe", "ce")}, 6) DESC, neighbor_id) AS rnk
         |  FROM cand WHERE prnk <= 30)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    },

    "emb_centroids" ->
      """SELECT label, i AS pos,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
        |FROM embeddings CROSS JOIN (SELECT unnest(range(1,
        |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i) d
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,

    "emb_kmeans_assign" ->
      """WITH dim AS (SELECT unnest(range(1,
        |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
        |c AS (SELECT label, i AS pos,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
        |  FROM embeddings CROSS JOIN dim GROUP BY label, i),
        |d2 AS (SELECT e.vec_id, c.label,
        |  sum((CAST(e.embedding[c.pos] AS DOUBLE) - c.centroid) *
        |      (CAST(e.embedding[c.pos] AS DOUBLE) - c.centroid)) AS d2
        |  FROM embeddings e CROSS JOIN c GROUP BY e.vec_id, c.label)
        |SELECT vec_id, CAST(assigned AS BIGINT) AS assigned FROM (
        |  SELECT vec_id, label AS assigned,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
        |  FROM d2)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "emb_outliers" ->
      s"""WITH n AS (SELECT vec_id,
         |  round(sqrt(${duckDot("embedding", "embedding")}), 6) AS norm
         |  FROM embeddings),
         |q AS (SELECT quantile_cont(norm, 0.25) AS q1,
         |  quantile_cont(norm, 0.75) AS q3 FROM n)
         |SELECT vec_id, norm,
         |  (norm < q1 - (q3 - q1) * 3 OR norm > q3 + (q3 - q1) * 3)
         |    AS is_outlier
         |FROM n CROSS JOIN q ORDER BY vec_id""".stripMargin,

    "emb_drift" ->
      """WITH dim AS (SELECT unnest(range(1,
        |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
        |ca AS (SELECT i AS pos,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS c_a
        |  FROM embeddings CROSS JOIN dim WHERE vec_id < 250 GROUP BY i),
        |cb AS (SELECT i AS pos,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS c_b
        |  FROM embeddings CROSS JOIN dim WHERE vec_id >= 250 GROUP BY i)
        |SELECT pos, round(abs(c_a - c_b), 4) AS abs_shift
        |FROM ca JOIN cb USING (pos) ORDER BY pos""".stripMargin,

    "emb_incr_assign" ->
      """WITH dim AS (SELECT unnest(range(1,
        |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
        |c AS (SELECT label, i AS pos,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
        |  FROM embeddings CROSS JOIN dim WHERE vec_id < 250
        |  GROUP BY label, i),
        |d2 AS (SELECT e.vec_id, c.label,
        |  sum((CAST(e.embedding[c.pos] AS DOUBLE) - c.centroid) *
        |      (CAST(e.embedding[c.pos] AS DOUBLE) - c.centroid)) AS d2
        |  FROM embeddings e CROSS JOIN c WHERE e.vec_id >= 250
        |  GROUP BY e.vec_id, c.label)
        |SELECT vec_id, CAST(assigned AS BIGINT) AS assigned FROM (
        |  SELECT vec_id, label AS assigned,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
        |  FROM d2)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "emb_kmeans_fit" ->
      s"""WITH $kmeansCtes
         |SELECT label, pos, centroid FROM c2 ORDER BY label, pos""".stripMargin,

    "emb_pq_codebook" ->
      s"""WITH $pqCtes
         |SELECT CAST(subspace AS BIGINT) AS subspace, label,
         |  CAST(pos AS BIGINT) AS pos, centroid
         |FROM c2 ORDER BY subspace, label, pos""".stripMargin,

    "emb_pq_encode" ->
      s"""WITH $pqCtes,
         |$pqEncodeCte
         |SELECT vec_id, CAST(subspace AS BIGINT) AS subspace, code
         |FROM enc ORDER BY vec_id, subspace""".stripMargin,

    "ann_pq_topk" ->
      s"""WITH $pqCtes,
         |$pqAdcCtes
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, dist_nano
         |FROM adck ORDER BY query_id, rnk""".stripMargin,

    // the OPQ permutation re-derived in SQL (integer variance keys +
    // serpentine deal), then the standard PQ train/encode/ADC CTEs over
    // the permuted corpus
    "ann_opq_topk" ->
      s"""WITH $opqPermCtes,
         |${pqSharedCtesOver("pemb")},
         |${pqTrainCtes("embeddings", "")},
         |$pqAdcCtes
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, dist_nano
         |FROM adck ORDER BY query_id, rnk""".stripMargin,

    // codebook CTEs trained on the id<250 history; enc spans the corpus
    // and the gate restricts to the appended batch
    "emb_pq_incr_encode" -> {
      val hist = "(SELECT vec_id FROM embeddings WHERE vec_id < 250)"
      s"""WITH ${pqCtesTrainedOn(hist)},
         |$pqEncodeCte
         |SELECT vec_id, CAST(subspace AS BIGINT) AS subspace, code
         |FROM enc WHERE vec_id >= 250 ORDER BY vec_id, subspace""".stripMargin
    },

    "emb_pq_error" ->
      s"""WITH $pqCtes,
         |qe AS (SELECT v.vec_id, v.subspace,
         |  min(list_sum(list_transform(range(1, len(v.subvec) + 1),
         |    i -> (v.subvec[i] - c.cl[i]) * (v.subvec[i] - c.cl[i])))) AS d
         |  FROM sv v JOIN cl2 c ON c.subspace = v.subspace
         |  GROUP BY 1, 2)
         |SELECT CAST(subspace AS BIGINT) AS subspace,
         |  count(*) AS n,
         |  CAST(sum(CAST(floor(d * 1000000000.0) AS BIGINT)) AS BIGINT)
         |    AS err_nano_sum
         |FROM qe GROUP BY 1 ORDER BY 1""".stripMargin,

    "ann_ivfpq_topk" ->
      s"""WITH $pqCtes,
         |$pqEncodeCte,
         |lutc AS (SELECT v.vec_id AS query_id, el.label AS cell,
         |  v.subspace, c.label AS code,
         |  CAST(floor(list_sum(list_transform(range(1, len(v.subvec) + 1),
         |    i -> (v.subvec[i] - c.cl[i]) * (v.subvec[i] - c.cl[i])))
         |    * 1000000000.0) AS BIGINT) AS d_nano
         |  FROM sv v JOIN cl2 c ON c.subspace = v.subspace
         |  JOIN embeddings el ON el.vec_id = v.vec_id
         |  WHERE v.vec_id < 5),
         |encc AS (SELECT e.vec_id, e.subspace, e.code, el.label AS cell
         |  FROM enc e JOIN embeddings el ON el.vec_id = e.vec_id),
         |adc AS (SELECT l.query_id, e.vec_id AS neighbor_id,
         |  CAST(sum(l.d_nano) AS BIGINT) AS dist_nano
         |  FROM encc e JOIN lutc l ON l.subspace = e.subspace
         |    AND l.code = e.code AND l.cell = e.cell
         |  GROUP BY 1, 2)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, dist_nano
         |FROM (SELECT query_id, neighbor_id, dist_nano, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist_nano, neighbor_id) AS rnk
         |  FROM adc) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // residual IVFADC: per-cell decimal-exact mean centroids (the kmeans
    // M-step convention), residual corpus remb = x − centroid(cell), then
    // the UNCHANGED PQ train/encode/ADC CTE stack over the residuals with
    // the cell on the join key — the oracle re-derives everything, no
    // shipped constants
    "ann_ivfpq_residual_topk" ->
      s"""WITH rdim AS (SELECT unnest(range(1,
         |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
         |rcc AS (SELECT e.label, i AS pos,
         |  round(CAST(sum(CAST(CAST(e.embedding[i] AS DOUBLE)
         |    AS DECIMAL(27,9))) AS DOUBLE) / count(*), 4) AS centroid
         |  FROM embeddings e CROSS JOIN rdim GROUP BY 1, 2),
         |rcl AS (SELECT label, list(centroid ORDER BY pos) AS cl
         |  FROM rcc GROUP BY 1),
         |remb AS (SELECT e.vec_id,
         |  list_transform(range(1, len(e.embedding) + 1),
         |    i -> CAST(e.embedding[i] AS DOUBLE) - c.cl[i]) AS embedding
         |  FROM embeddings e JOIN rcl c ON c.label = e.label),
         |${pqSharedCtesOver("remb")},
         |${pqTrainCtes("embeddings", "")},
         |$pqEncodeCte,
         |lutc AS (SELECT v.vec_id AS query_id, el.label AS cell,
         |  v.subspace, c.label AS code,
         |  CAST(floor(list_sum(list_transform(range(1, len(v.subvec) + 1),
         |    i -> (v.subvec[i] - c.cl[i]) * (v.subvec[i] - c.cl[i])))
         |    * 1000000000.0) AS BIGINT) AS d_nano
         |  FROM sv v JOIN cl2 c ON c.subspace = v.subspace
         |  JOIN embeddings el ON el.vec_id = v.vec_id
         |  WHERE v.vec_id < 5),
         |encc AS (SELECT e.vec_id, e.subspace, e.code, el.label AS cell
         |  FROM enc e JOIN embeddings el ON el.vec_id = e.vec_id),
         |adc AS (SELECT l.query_id, e.vec_id AS neighbor_id,
         |  CAST(sum(l.d_nano) AS BIGINT) AS dist_nano
         |  FROM encc e JOIN lutc l ON l.subspace = e.subspace
         |    AND l.code = e.code AND l.cell = e.cell
         |  GROUP BY 1, 2)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, dist_nano
         |FROM (SELECT query_id, neighbor_id, dist_nano, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist_nano, neighbor_id) AS rnk
         |  FROM adc) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // banded candidates (>= 1 shared 12-bit substring of the 48-bit
    // signature), then exact integer Hamming ranking over candidates only
    "ann_hamming_band" ->
      """WITH sig AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 48), j ->
        |    CASE WHEN list_sum(list_transform(
        |        range(1, len(embedding) + 1),
        |        i -> CAST(embedding[i] AS DOUBLE) *
        |          (((i - 1) * (2*j + 1) + 3*j) % 127 - 63))) > 0
        |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sg
        |  FROM embeddings),
        |bb AS (SELECT vec_id, sg, b,
        |    ((sg >> (b * 12)) & 4095) AS bv
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, q.sg AS qsg,
        |    c.vec_id AS neighbor_id, c.sg AS csg
        |  FROM bb c JOIN bb q ON q.b = c.b AND q.bv = c.bv
        |  WHERE q.vec_id < 5)
        |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, hamming
        |FROM (SELECT query_id, neighbor_id,
        |    CAST(bit_count(xor(qsg, csg)) AS BIGINT) AS hamming,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY bit_count(xor(qsg, csg)), neighbor_id) AS rnk
        |  FROM cand) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // Hamming top-30 via the 48-plane signatures, then exact-cosine
    // re-rank of only the survivors (round(cos, 6) desc, id — the
    // ann_rp_topk contract; the double never reaches the gate)
    "ann_hamming_rerank" ->
      s"""WITH sig AS (SELECT vec_id, embedding,
         |  CAST(list_sum(list_transform(range(0, 48), j ->
         |    CASE WHEN list_sum(list_transform(
         |        range(1, len(embedding) + 1),
         |        i -> CAST(embedding[i] AS DOUBLE) *
         |          (((i - 1) * (2*j + 1) + 3*j) % 127 - 63))) > 0
         |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sg
         |  FROM embeddings),
         |cand AS (SELECT query_id, neighbor_id, qe, ce FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    q.embedding AS qe, c.embedding AS ce, row_number() OVER (
         |      PARTITION BY q.vec_id
         |      ORDER BY bit_count(xor(q.sg, c.sg)), c.vec_id) AS prnk
         |  FROM sig c CROSS JOIN sig q WHERE q.vec_id < 5)
         |  WHERE prnk <= 30)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY round(${duckCosine("qe", "ce")}, 6) DESC,
         |      neighbor_id) AS rnk
         |  FROM cand)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // 48-plane sign signature per vector (projection = in-order fold of
    // elem × integer weight w(i,j) = ((i·(2j+1)+3j) mod 127) − 63, i
    // 0-based), then integer Hamming ranking — everything after the fold
    // is int64
    "ann_hamming_topk" ->
      """WITH sig AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 48), j ->
        |    CASE WHEN list_sum(list_transform(
        |        range(1, len(embedding) + 1),
        |        i -> CAST(embedding[i] AS DOUBLE) *
        |          (((i - 1) * (2*j + 1) + 3*j) % 127 - 63))) > 0
        |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sg
        |  FROM embeddings),
        |hd AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(bit_count(xor(q.sg, c.sg)) AS BIGINT) AS hamming
        |  FROM sig c CROSS JOIN sig q WHERE q.vec_id < 5)
        |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, hamming
        |FROM (SELECT query_id, neighbor_id, hamming, row_number() OVER (
        |    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rnk
        |  FROM hd) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // IVFADC top-30 candidates (the ann_ivfpq_topk CTEs with rnk <= 30),
    // then exact in-order-fold squared-L2 over ONLY those candidates'
    // full vectors, re-ranked to the top 10 — composing the two existing
    // oracle formulations exactly as the engine composes the operators
    "ann_ivfpq_rerank" ->
      s"""WITH $pqCtes,
         |$pqEncodeCte,
         |lutc AS (SELECT v.vec_id AS query_id, el.label AS cell,
         |  v.subspace, c.label AS code,
         |  CAST(floor(list_sum(list_transform(range(1, len(v.subvec) + 1),
         |    i -> (v.subvec[i] - c.cl[i]) * (v.subvec[i] - c.cl[i])))
         |    * 1000000000.0) AS BIGINT) AS d_nano
         |  FROM sv v JOIN cl2 c ON c.subspace = v.subspace
         |  JOIN embeddings el ON el.vec_id = v.vec_id
         |  WHERE v.vec_id < 5),
         |encc AS (SELECT e.vec_id, e.subspace, e.code, el.label AS cell
         |  FROM enc e JOIN embeddings el ON el.vec_id = e.vec_id),
         |adc AS (SELECT l.query_id, e.vec_id AS neighbor_id,
         |  CAST(sum(l.d_nano) AS BIGINT) AS dist_nano
         |  FROM encc e JOIN lutc l ON l.subspace = e.subspace
         |    AND l.code = e.code AND l.cell = e.cell
         |  GROUP BY 1, 2),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist_nano, neighbor_id) AS rnk
         |  FROM adc) WHERE rnk <= 30),
         |fv AS (SELECT vec_id, list_transform(range(1, len(embedding) + 1),
         |  i -> CAST(embedding[i] AS DOUBLE)) AS v FROM embeddings),
         |rr AS (SELECT cand.query_id, cand.neighbor_id,
         |  CAST(floor(list_sum(list_transform(range(1, len(f.v) + 1),
         |    i -> (q.v[i] - f.v[i]) * (q.v[i] - f.v[i])))
         |    * 1000000000.0) AS BIGINT) AS d2_nano
         |  FROM cand JOIN fv f ON f.vec_id = cand.neighbor_id
         |  JOIN fv q ON q.vec_id = cand.query_id)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, d2_nano
         |FROM (SELECT query_id, neighbor_id, d2_nano, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2_nano, neighbor_id) AS rnk
         |  FROM rr) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // ground truth is exact squared-L2 over the full vectors (same metric
    // and same self-inclusive candidate convention as the ADC scan)
    "ann_pq_recall" ->
      s"""WITH $pqCtes,
         |$pqAdcCtes,
         |fv AS (SELECT vec_id, list_transform(range(1, len(embedding) + 1),
         |  i -> CAST(embedding[i] AS DOUBLE)) AS v FROM embeddings),
         |qf AS (SELECT vec_id AS query_id, v AS qv FROM fv
         |  WHERE vec_id < 5),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, f.vec_id AS neighbor_id, row_number() OVER (
         |    PARTITION BY q.query_id ORDER BY
         |      list_sum(list_transform(range(1, len(f.v) + 1),
         |        i -> (q.qv[i] - f.v[i]) * (q.qv[i] - f.v[i]))),
         |      f.vec_id) AS rnk
         |  FROM fv f CROSS JOIN qf q) WHERE rnk <= 10)
         |SELECT bf.query_id,
         |  CAST(count(adck.neighbor_id) AS BIGINT) AS n_hit,
         |  CAST(count(*) AS BIGINT) AS k
         |FROM bf LEFT JOIN adck USING (query_id, neighbor_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // a2 is the assignment by the 1-round centroids (c1) — exactly what
    // the Spark side's kmeansFit(iters = 1) + assignToNearest produces
    "emb_semdedup" ->
      s"""WITH $kmeansCtes,
         |av AS (SELECT e.vec_id, a.label AS cluster, e.embedding
         |  FROM embeddings e JOIN a2 a USING (vec_id)),
         |drp AS (SELECT DISTINCT b.vec_id FROM av a JOIN av b
         |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.3)
         |SELECT av.vec_id, av.cluster, (d.vec_id IS NULL) AS kept
         |FROM av LEFT JOIN drp d USING (vec_id)
         |ORDER BY av.vec_id""".stripMargin,

    // division-free sufficient statistics in integer micro-units: each
    // element quantized by floor(x·10⁶) (IEEE multiply + floor — no
    // round-half tie for engines to disagree on; a fractional
    // double→decimal cast DID flip one element at sf0.1), squared and
    // summed — every compared column is pure int64
    "emb_component_stats" ->
      """WITH dim AS (SELECT unnest(range(1,
        |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
        |pe AS (SELECT i AS pos,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
        |      AS DECIMAL(19,0)) AS xq
        |  FROM embeddings CROSS JOIN dim)
        |SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n,
        |  CAST(sum(xq) AS BIGINT) AS s_micro,
        |  CAST(sum(xq * xq) AS BIGINT) AS sq_micro
        |FROM pe GROUP BY pos ORDER BY pos""".stripMargin,

    // the final power-iteration round's distributed matrix-vector sums,
    // recomputed from the registered 6-decimal vector literal (OracleLits
    // `pca_vprev`) — no sqrt/division on the gate. Fallback: the full
    // 3-round SQL iteration as before (emitting the same sums shape).
    "emb_pca_top" -> {
      // pcaCtes already defines `dim`; the literal path defines its own
      val vprev = OracleLits.get("pca_vprev") match {
        case Some(vl) =>
          s"""vp AS (SELECT list_transform($vl,
             |  m -> CAST(m AS DOUBLE) / CAST(1000000 AS DOUBLE)) AS vl),
             |dim AS (SELECT unnest(range(1,
             |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i)"""
            .stripMargin
        case None => s"${pcaCtes},\nvp AS (SELECT vl FROM vl2)"
      }
      s"""WITH $vprev,
         |d AS (SELECT vec_id, embedding,
         |  list_sum(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) * vl[i])) AS dot
         |  FROM embeddings, vp)
         |SELECT CAST(i AS BIGINT) AS pos,
         |  CAST(sum(CAST(floor((d.dot * CAST(d.embedding[i] AS DOUBLE))
         |      * 1000000000.0) AS BIGINT)) AS BIGINT)
         |    AS mv_sum_nano
         |FROM d CROSS JOIN dim GROUP BY i ORDER BY pos""".stripMargin
    },

    "emb_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings)
        |SELECT vec_id, i AS pos,
        |  CASE WHEN scale > 0
        |    THEN CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS INT)
        |    ELSE 0 END AS q,
        |  scale
        |FROM s CROSS JOIN (SELECT unnest(range(1,
        |  (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i) d
        |ORDER BY vec_id, pos""".stripMargin,

    "emb_project" -> {
      val dims = (1 to 8).map { j =>
        s"round(list_sum(list_transform(range(1, len(embedding) + 1), i -> " +
          s"CAST(embedding[i] AS DOUBLE) * ((i - 1) * $j % 13 - 6))), 6) AS p$j"
      }.mkString(", ")
      val unpivot = (1 to 8).map(j =>
        s"SELECT vec_id, $j AS pos, p$j AS v FROM p").mkString(" UNION ALL ")
      s"""WITH p AS (SELECT vec_id, $dims FROM embeddings)
         |SELECT vec_id, CAST(pos AS BIGINT) AS pos, v FROM ($unpivot)
         |ORDER BY vec_id, pos""".stripMargin
    },
  )
}
