package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.scale.Dedup

/** Streaming repeated-window detection — the Lee '21 exact-substring
  * DETECTOR ([[graft.scale.Dedup.crossDocRepeats]]) kept fresh by a
  * stream: each micro-batch's sliding-window MD5 fingerprints land as one
  * committed `batch=<id>` parquet store (plus a per-batch doc roster, so
  * short documents with zero windows keep their zero-count rows), and the
  * live detector answers from the UNION of committed batches — a window
  * is "repeated" when its occurrences span ≥ `minDocs` distinct documents
  * across ALL batches, so a repeat whose copies arrive in different
  * micro-batches is found (per-batch detection would miss exactly those;
  * the persisted fingerprint store is the cross-batch join point).
  *
  * Contracts, shared with the rest of the streaming family: batches must
  * PARTITION the corpus by document (the [[StreamDedup]] shape — a doc
  * never straddles batches); replay is idempotent (whole-directory
  * overwrite + commit marker written last); readers list only committed
  * batch directories, so a crash window is invisible until replay heals
  * it. Unlike the sketch grids, the store is CORPUS-SIZED state (one row
  * per window occurrence) — the same class as [[StreamDedup]]'s corpus
  * store, not a bounded sketch; at 100 TB it is a partitioned table the
  * repeated-set aggregation shuffles by the fixed-width fingerprint key.
  * Read fan-in is kept bounded by [[compact]] ([[CommittedBatches]]): the
  * committed per-batch directories fold into one `base=<gen>` store, the
  * manifest keeps replay a no-op after folded markers retire, and readers
  * union base + unfolded tail. */
object StreamRepeats {

  case class BatchResult(batchId: Long, received: Long, windows: Long,
      replaySkipped: Boolean)

  private val MarkerPrefix = "rep_batch"

  /** Land one micro-batch's window store (the foreachBatch body; directly
    * callable for batch pipelines and tests). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, storeRoot: String, stateRoot: String,
      windowTokens: Int): BatchResult =
    CommittedBatches.commit(spark, stateRoot, MarkerPrefix, batchId) {
      // three actions (count, window write, roster write) must agree on
      // the batch even if its source is not deterministic
      CommittedBatches.cachedFor(batch) {
        val received = batch.count()
        val windows = CommittedBatches.writeBatch(
          Dedup.windowFingerprints(batch, idCol, textCol, windowTokens)
            .select("doc_id", "fp"), s"$storeRoot/wins", batchId)
        CommittedBatches.writeBatch(batch.select(col(idCol).as("doc_id")),
          s"$storeRoot/docs", batchId)
        BatchResult(batchId, received, windows, replaySkipped = false)
      }
    }.getOrElse(BatchResult(batchId, 0, 0, replaySkipped = true))

  /** Fold every committed batch directory (wins + roster, plus any prior
    * base) into one `base=<gen>` per sub-store and retire the folded
    * inputs — run between batches (single-writer), e.g. every K batches.
    * Detector output is identical before and after (StreamRepeatsSpec). */
  def compact(spark: SparkSession, storeRoot: String,
      stateRoot: String): CommittedBatches.CompactResult =
    CommittedBatches.compact(spark, stateRoot, MarkerPrefix,
      Seq(s"$storeRoot/wins", s"$storeRoot/docs"), None)

  /** The live detector: per document, total and repeated window counts
    * over every committed batch — equal to batch-at-once
    * [[Dedup.crossDocRepeats]] on the union corpus. Same shuffle
    * geometry: one hash agg on the fingerprint for the global repeated
    * set, a semi-join back, two per-doc aggregations, the roster left
    * join restoring zero-window documents. */
  def currentRepeats(spark: SparkSession, storeRoot: String,
      stateRoot: String, minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 (1 would flag everything)")
    val Seq(wins, docs) = Seq("wins", "docs").map(sub => CommittedBatches
      .read(spark, stateRoot, MarkerPrefix, s"$storeRoot/$sub", "window batches"))
    val repeated = wins.groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs).select("fp")
    val totals = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val flagged = wins.join(repeated, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_repeated"))
    docs.join(totals, Seq("doc_id"), "left_outer")
      .join(flagged, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
  }
}
