package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.scale.Temporal

/** Streaming SCD type-2 maintenance — the CDC-to-warehouse dimension kept
  * fresh by a change stream: each micro-batch's raw change rows land as
  * one committed `batch=<id>` parquet directory (the change LOG — the
  * durable artifact every CDC pipeline keeps anyway), and the live
  * dimension answers [[Temporal.scd2]] over the union of committed
  * batches. Because versioning recomputes from the full committed log,
  * OUT-OF-ORDER arrivals are handled exactly: a late batch carrying
  * earlier timestamps renumbers/reshapes the affected keys' versions to
  * precisely the batch-at-once answer (per-batch incremental version
  * append would get late data wrong — consecutive-duplicate collapse is
  * not union-safe across unordered batches, so the log IS the state).
  *
  * Contracts shared with the streaming family: replay of a committed
  * batch is a no-op (whole-directory overwrite + marker written last); a
  * crash window is invisible to readers until replay heals it; committed
  * directories fold via [[compact]] ([[CommittedBatches]]) to bound read
  * fan-in. 100 TB shape: the store is change-log-sized (≪ corpus);
  * [[currentDimension]] is two per-key window passes over one key
  * shuffle of the log. A further scale lever (not needed at log scale):
  * snapshot versions closed below a watermark and re-derive only the
  * open tail. */
object StreamScd2 {

  case class BatchResult(batchId: Long, received: Long,
      replaySkipped: Boolean)

  private val MarkerPrefix = "scd2_batch"

  /** Land one micro-batch of change rows (the foreachBatch body; directly
    * callable for batch pipelines and tests). Columns are canonicalized
    * to `(key, ts, tie, attr)` in the store so readers never depend on
    * source naming. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      keyCol: String, tsCol: String, tieCol: String, attrCol: String,
      storeRoot: String, stateRoot: String): BatchResult =
    CommittedBatches.commit(spark, stateRoot, MarkerPrefix, batchId) {
      // the count and the store write must agree on the batch
      CommittedBatches.cachedFor(batch) {
        val received = batch.count()
        CommittedBatches.writeBatch(batch.select(col(keyCol).as("key"),
          col(tsCol).as("ts"), col(tieCol).as("tie"), col(attrCol).as("attr")),
          s"$storeRoot/changes", batchId)
        BatchResult(batchId, received, replaySkipped = false)
      }
    }.getOrElse(BatchResult(batchId, 0, replaySkipped = true))

  /** Fold committed batch directories into one `base=<gen>` store and
    * retire the folded inputs (between batches, single-writer). The
    * dimension is identical before and after (StreamScd2Spec). */
  def compact(spark: SparkSession, storeRoot: String,
      stateRoot: String): CommittedBatches.CompactResult =
    CommittedBatches.compact(spark, stateRoot, MarkerPrefix,
      Seq(s"$storeRoot/changes"), None)

  /** The live dimension: [[Temporal.scd2]] over every committed batch —
    * equal to batch-at-once versioning of the union change stream, under
    * any batch split and any arrival order. Output columns:
    * `(key, ts, tie, attr, version, effective_from, effective_to,
    * is_current)`. */
  def currentDimension(spark: SparkSession, storeRoot: String,
      stateRoot: String): DataFrame =
    Temporal.scd2(CommittedBatches.read(spark, stateRoot, MarkerPrefix,
      s"$storeRoot/changes", "change batches"), "key", "ts", "tie", "attr")
}
