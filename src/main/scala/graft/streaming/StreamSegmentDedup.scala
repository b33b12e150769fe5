package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.StateStore
import graft.scale.Dedup

/** Streaming segment-level dedup — the C4-style boilerplate remover
  * ([[graft.scale.Dedup.segmentDedup]]) kept fresh by a stream: each
  * micro-batch's documents reassemble from the segments unseen in the
  * persisted fingerprint state and first within the batch
  * ([[graft.scale.Dedup.segmentDedupIncremental]]), the cleaned documents
  * land as one committed `batch=<id>` parquet directory, and the advanced
  * fingerprint state publishes as immutable versions
  * ([[StateStore.saveVersion]]). History is never re-tokenized: per-batch
  * cost is the batch's own segment explode plus an anti-join bounded by
  * the batch's segments and a stream of the state partitions.
  *
  * Effectively-exactly-once on the [[CommittedBatches]] protocol: the
  * intent pins the fp state VERSION a batch reads, so a replay after ANY
  * mid-batch crash (including after the state already advanced) recomputes
  * the identical cleaned set and overwrites the same directory with the
  * same bytes. Requires `keepVersions` ≥ 2. ASSUMES MONOTONE IDS with
  * arrival order (the [[StreamDedup]] contract): history outranks the
  * batch, so the union of committed cleaned batches equals batch-at-once
  * [[Dedup.segmentDedup]] over everything that arrived. Read fan-in of the
  * cleaned corpus is bounded by [[compact]]. */
object StreamSegmentDedup {

  case class BatchResult(batchId: Long, received: Long, kept: Long,
      replaySkipped: Boolean)

  private val MarkerPrefix = "seg_batch"

  /** Dedup one micro-batch (the foreachBatch body; directly callable for
    * batch pipelines and tests). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, corpusPath: String, stateRoot: String,
      segTokens: Int, keepVersions: Int = 3): BatchResult = {
    require(keepVersions >= 2,
      "keepVersions >= 2 (replay needs the pinned version)")
    CommittedBatches.commit(spark, stateRoot, MarkerPrefix, batchId) {
      val fpRoot = s"$stateRoot/fp"
      val Seq(pinned) = CommittedBatches.pinnedState(spark, stateRoot,
        MarkerPrefix, batchId, Seq(fpRoot))
      val state = pinned.getOrElse(
        Dedup.segmentState(batch.limit(0), idCol, textCol, segTokens))
      // the batch frame feeds the count and (twice, via the incremental's
      // internal materialize) the segment explode
      CommittedBatches.cachedFor(batch) {
        val received = batch.count()
        val (cleaned, nextState) = Dedup.segmentDedupIncremental(
          state, batch, idCol, textCol, segTokens)
        val kept = CommittedBatches.writeBatch(cleaned, corpusPath, batchId)
        StateStore.saveVersion(spark, nextState, fpRoot, keepVersions)
        BatchResult(batchId, received, kept, replaySkipped = false)
      }
    }.getOrElse(BatchResult(batchId, 0, 0, replaySkipped = true))
  }

  /** The cleaned corpus over every committed batch — equal to batch-at-once
    * [[Dedup.segmentDedup]] on everything that arrived (monotone ids). */
  def currentCorpus(spark: SparkSession, corpusPath: String,
      stateRoot: String): DataFrame =
    CommittedBatches.read(spark, stateRoot, MarkerPrefix, corpusPath,
      "cleaned batches")

  /** Fold committed cleaned-batch directories into one `base=<gen>` and
    * sweep their intents — the bounded-fan-in maintenance step
    * (single-writer, between batches). The versioned fp state is already
    * bounded by `keepVersions`. */
  def compact(spark: SparkSession, corpusPath: String,
      stateRoot: String): CommittedBatches.CompactResult =
    CommittedBatches.compact(spark, stateRoot, MarkerPrefix,
      Seq(corpusPath), None)
}
