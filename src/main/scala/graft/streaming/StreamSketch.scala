package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.scale.Sketches

/** Streaming frequency-sketch maintenance: each arriving micro-batch of
  * token occurrences folds into a persisted Count-Min grid
  * ([[Sketches.cms]]) — the running corpus token-frequency monitor (drift
  * alarms, heavy-hitter probes) without ever re-scanning history.
  *
  * CMS counters are LINEAR, which makes the streaming state radically
  * simpler than [[StreamDedup]]/[[StreamIndex]]: no read-modify-write of
  * prior state at all. Each batch owns one `batch=<id>` directory holding
  * only that batch's grid (bounded by groups × depth × width regardless
  * of batch size), and the live sketch is the cell-wise sum over the
  * committed batch grids ([[currentSketch]]) — a read-time aggregation of
  * a bounded frame, exactly the two-level `sk_hll_rollup` shape. The same
  * layout with Spark's mergeable HLL states as the grid gives streaming
  * DISTINCT counts ([[applyHllBatch]]/[[currentDistinct]]).
  *
  * Idempotent under foreachBatch's at-least-once contract on the
  * [[CommittedBatches]] protocol, like the other streaming operators: a
  * replayed batch overwrites its own directory whole (never double-appends)
  * and a COMMIT marker short-circuits replays of fully committed batches.
  * The readers list ONLY committed batch directories — a crash window
  * leaves at worst a torn, uncommitted `batch=<id>` dir that no reader
  * ever opens (it is overwritten whole by the replay). BOTH the markers
  * and the grid directories are kind-scoped (`<kind>_batch_N.done` under
  * stateRoot, `$gridRoot/<kind>/batch=N` under gridRoot), so one stateRoot
  * AND one gridRoot can safely host every grid family: a committed CMS
  * batch can neither mask an HLL replay of the same batch id nor have its grid
  * overwritten by one. Stores committed under the pre-kind-scope layout
  * (`$gridRoot/batch=N`) stay readable: a committed batch missing its
  * kind-scoped directory falls back to the legacy path (see
  * [[committedGrids]]) instead of failing a reader whose markers suppress
  * the healing replay. */
object StreamSketch {

  case class BatchResult(batchId: Long, received: Long, cells: Long,
      replaySkipped: Boolean)

  /** The shared per-batch commit: replay skip, whole-directory overwrite
    * of this batch's grid (its row count observed on the write), marker
    * written LAST. `grid` must be bounded (a sketch, never raw rows). */
  private def commitGrid(spark: SparkSession, grid: => DataFrame,
      received: => Long, batchId: Long, kind: String, gridRoot: String,
      stateRoot: String): BatchResult =
    CommittedBatches.commit(spark, stateRoot, s"${kind}_batch", batchId) {
      val cells = CommittedBatches.writeBatch(grid, s"$gridRoot/$kind", batchId)
      BatchResult(batchId, received, cells, replaySkipped = false)
    }.getOrElse(BatchResult(batchId, 0, 0, replaySkipped = true))

  /** [[commitGrid]] with the RECEIVED count also riding the grid-write job
    * as an observed metric on the batch side (previously a full extra
    * pass of the batch — for token-occurrence batches that second pass
    * re-ran the tokenize/explode lineage just to count it). */
  private def commitGridCounting(spark: SparkSession, batch: DataFrame,
      mkGrid: DataFrame => DataFrame, batchId: Long, kind: String,
      gridRoot: String, stateRoot: String): BatchResult = {
    val recObs = org.apache.spark.sql.Observation()
    commitGrid(spark, mkGrid(batch.observe(recObs, count(lit(1)).as("n"))),
      graft.io.Sinks.observed(recObs, "n"), batchId, kind, gridRoot,
      stateRoot)
  }

  /** Read ONLY the committed batch directories (never the crash window's
    * torn leftovers), failing loudly when nothing has committed yet: an
    * empty sketch answers "0" for every probe, which silently reads as
    * "token never seen".
    *
    * Grids moved from the pre-r8 `$gridRoot/batch=N` layout to the
    * kind-scoped `$gridRoot/<kind>/batch=N` (so one gridRoot hosts every
    * family) — a LAYOUT BREAK for stores committed under the old scheme:
    * their markers survive, so replay short-circuits and would never
    * re-land the grid at the new path. A committed batch whose kind-scoped
    * dir is absent therefore falls back to the legacy path (sound because
    * a legacy store by construction hosted a single kind — that is what
    * the scoping fixed — and the marker's kind prefix says which); if
    * neither exists the canonical path is kept so the reader fails loudly
    * there. New batches always land kind-scoped. */
  private def committedGrids(spark: SparkSession, gridRoot: String,
      stateRoot: String, kind: String): DataFrame = {
    val fs = CommittedBatches.fsOf(spark, gridRoot)
    def exists(p: String) = fs.exists(new Path(p))
    spark.read.parquet(CommittedBatches.committedPaths(spark, stateRoot,
        s"${kind}_batch", s"$gridRoot/$kind", s"$kind batch grids")
      .map { scoped =>
        val legacy = s"$gridRoot/${new Path(scoped).getName}"
        if (!exists(scoped) && exists(legacy)) legacy else scoped
      }: _*)
  }

  /** Fold one micro-batch of (group, token) occurrences into the CMS grid
    * store (the foreachBatch body; directly callable for batch pipelines
    * and tests). Markers live under `stateRoot`, NOT `gridRoot` — the
    * grid root must stay a pure partitioned parquet layout. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      groupCol: String, tokCol: String, gridRoot: String, stateRoot: String,
      depth: Int, width: Int): BatchResult =
    commitGridCounting(spark, batch,
      b => Sketches.cms(b, groupCol, tokCol, depth, width),
      batchId, "cms", gridRoot, stateRoot)

  /** The live CMS sketch: cell-wise sum over every COMMITTED batch grid
    * ([[Sketches.cmsCellSum]] — raises if batches were somehow written
    * with different depth/width, instead of summing incompatible grids). */
  def currentSketch(spark: SparkSession, gridRoot: String,
      stateRoot: String): DataFrame =
    Sketches.cmsCellSum(committedGrids(spark, gridRoot, stateRoot, "cms"))

  /** Streaming distinct-count maintenance — the same per-batch-grid +
    * commit-marker shape with Spark's mergeable HLL states as the grid:
    * each batch reduces to one `hll_sketch_agg` binary per group (KB-sized
    * regardless of batch rows), and the live estimate unions the committed
    * batch states ([[currentDistinct]]) — the `sk_hll_rollup` two-level
    * pattern kept fresh by a stream, history never re-scanned. */
  def applyHllBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, gridRoot: String,
      stateRoot: String, lgK: Int = 12): BatchResult =
    commitGridCounting(spark, batch,
      b => b.groupBy(col(groupCol).as("grp"))
        .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sk")),
      batchId, "hll", gridRoot, stateRoot)

  /** Live distinct estimate per group: union the committed batch HLL
    * states and estimate — constant-size state per (group, batch), exact
    * mergeability by the sketch algebra. */
  def currentDistinct(spark: SparkSession, gridRoot: String,
      stateRoot: String): DataFrame =
    committedGrids(spark, gridRoot, stateRoot, "hll")
      .groupBy("grp")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))

  /** Streaming AMS F2 maintenance — signed counters are linear exactly
    * like CMS cells, so the same per-batch-grid + commit-marker shape
    * keeps a running repetition-mass (self-join-size) monitor: each batch
    * reduces to r int64 counters per group and the live vector is the
    * counter-wise sum over committed batches ([[currentAms]]). */
  def applyAmsBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      groupCol: String, tokCol: String, gridRoot: String,
      stateRoot: String, r: Int): BatchResult =
    commitGridCounting(spark, batch,
      b => Sketches.amsSketch(b, groupCol, tokCol, r),
      batchId, "ams", gridRoot, stateRoot)

  /** The live AMS vector: counter-wise sum over committed batch vectors
    * (feed to [[Sketches.amsF2Estimate]] for the F2 estimate). */
  def currentAms(spark: SparkSession, gridRoot: String,
      stateRoot: String): DataFrame =
    committedGrids(spark, gridRoot, stateRoot, "ams")
      .groupBy("grp", "est_i").agg(sum("z").as("z"))

  /** Streaming corpus-quality monitor: per-batch per-group integer
    * sufficient statistics over a text column — docs, tokens, chars,
    * stopword hits (the [[graft.scale.TextAnalysis.qualityFeatures]]
    * numerators). Linear counters exactly like CMS cells, so the same
    * per-batch-grid + commit-marker shape applies and the live monitor
    * is the counter-wise sum over committed batches ([[currentQuality]])
    * — the drift signal a curation pipeline watches (mean doc length or
    * stopword rate shifting between crawls) without re-scanning history;
    * ratios are the reader's one division. */
  def applyQualityBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, groupCol: String, textCol: String, gridRoot: String,
      stateRoot: String): BatchResult =
    commitGridCounting(spark, batch,
      b => qualityGrid(b, groupCol, textCol),
      batchId, "qual", gridRoot, stateRoot)

  private def qualityGrid(batch: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    batch
      .select(col(groupCol).as("grp"),
        graft.scale.TextAnalysis.tokens(col(textCol)).as("__tk"),
        length(col(textCol)).cast("long").as("__nc"))
      .select(col("grp"), col("__nc"),
        size(col("__tk")).cast("long").as("__nt"),
        size(filter(col("__tk"), w => w.isin(
          graft.scale.TextAnalysis.stopwords.map(x => x: Any): _*)))
          .cast("long").as("__ns"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"),
        sum(col("__nc")).as("n_chars"), sum(col("__ns")).as("n_stopwords"))

  /** The live quality monitor: counter-wise sum over committed batches. */
  def currentQuality(spark: SparkSession, gridRoot: String,
      stateRoot: String): DataFrame =
    committedGrids(spark, gridRoot, stateRoot, "qual")
      .groupBy("grp")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"), sum("n_stopwords").as("n_stopwords"))

  /** Streaming DoReMi mixture-controller maintenance: each batch reduces
    * to its per-source loss partials — exact int64 counters, a LINEAR
    * grid exactly like the quality monitor's, so the same
    * per-batch-grid + commit-marker shape gives at-least-once replay
    * safety for free. The batch frame must arrive SCORED by the PINNED
    * proxy LM (`Sampling.doremiState`'s merge==retrain contract:
    * columns source, n_docs, __sn, sum_n_bigrams via
    * `doremiState(lmCrossEntropyStats(batch, …frozen lm…), …)`);
    * re-training the proxy per batch would change history's scores,
    * which is a retrain, not a merge. */
  def applyDoremiBatch(spark: SparkSession, stateGrid: DataFrame,
      received: Long, batchId: Long, gridRoot: String,
      stateRoot: String): BatchResult =
    commitGrid(spark, stateGrid, received, batchId, "doremi", gridRoot,
      stateRoot)

  /** The live mixture controller: fold every committed batch's partials
    * per source (integer sums — [[graft.scale.Sampling.doremiMerge]]'s
    * associativity) and apply the weight tail. Equal to batch-at-once
    * [[graft.scale.Sampling.doremiWeights]] over the union corpus. */
  def currentDoremiWeights(spark: SparkSession, gridRoot: String,
      stateRoot: String,
      etaMicro: Long = graft.scale.Sampling.DefaultEtaMicro): DataFrame =
    graft.scale.Sampling.doremiWeightsFromState(
      committedGrids(spark, gridRoot, stateRoot, "doremi")
        .groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("__sn").as("__sn"),
          sum("sum_n_bigrams").as("sum_n_bigrams")),
      etaMicro)

  /** Streaming KMV (bottom-k) maintenance — completing the streaming
    * sketch family (CMS/HLL/AMS): bottom-k states are not linear like CMS
    * cells but ARE idempotently mergeable (the k smallest of a union are
    * always among each side's k smallest — [[Sketches.kmvMerge]]'s
    * exactness contract), so the same per-batch-grid + commit-marker
    * shape holds: each batch reduces to ≤ k hashes per group and the
    * live sketch is the bottom-k over all committed batch grids
    * ([[currentKmv]]) — equal to the batch-at-once sketch of the union. */
  def applyKmvBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, gridRoot: String,
      stateRoot: String, k: Int): BatchResult =
    commitGridCounting(spark, batch,
      b => Sketches.kmv(b, groupCol, col(valueCol), k),
      batchId, "kmv", gridRoot, stateRoot)

  /** The live KMV sketch: per group, the k smallest distinct hashes over
    * every committed batch grid — (grp, h, rank), the [[Sketches.kmv]]
    * surface. All work on the bounded grid frames. */
  def currentKmv(spark: SparkSession, gridRoot: String, stateRoot: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val u = committedGrids(spark, gridRoot, stateRoot, "kmv")
      .select("grp", "h").distinct()
    graft.scale.Sampling.topPerGroup(u, "grp", col("h"), k,
      Seq(col("h").asc))
  }
}
