package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.scale.Dedup

/** Streaming maintenance of the RAG embed-once chunk-dedup map
  * ([[graft.scale.Dedup.chunkDedupMap]]): each arriving micro-batch lands
  * its OWN per-chunk partial map `(chunk_hash, n_occ, rep_doc_id,
  * rep_chunk_idx)` as a committed `batch=<id>` parquet store, and the live
  * map is the merge of committed batches — counts add, the representative
  * is the corpus-wide min (doc, idx). The merge is associative and
  * commutative ([[graft.scale.Dedup.mergeChunkMaps]]), so the read-side
  * fold equals batch-at-once recomputation over the union corpus no
  * matter how the stream grouped the documents (merge == retrain, applied
  * per read instead of per write — history is never re-chunked, and no
  * state version is ever rewritten on the hot path).
  *
  * Contracts, shared with the streaming family: batches PARTITION the
  * corpus by document (the [[StreamDedup]] shape); replay is idempotent
  * (whole-directory overwrite + commit marker written last, so an
  * at-least-once foreachBatch re-delivery recomputes the same bytes or
  * short-circuits); readers list only committed directories. The store is
  * distinct-chunk-sized per batch — SMALLER than the corpus exactly on the
  * boilerplate-heavy streams this operator targets — and read fan-in is
  * bounded by [[compact]] ([[CommittedBatches]]): committed per-batch maps
  * fold into one pre-merged `base=<gen>` store between batches. */
object StreamChunkDedup {

  case class BatchResult(batchId: Long, received: Long, distinctChunks: Long,
      replaySkipped: Boolean)

  private val MarkerPrefix = "chunk_batch"

  /** Land one micro-batch's partial chunk map (the foreachBatch body;
    * directly callable for batch pipelines and tests). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, storeRoot: String, stateRoot: String,
      chunkTokens: Int, strideTokens: Int): BatchResult =
    CommittedBatches.commit(spark, stateRoot, MarkerPrefix, batchId) {
      // the batch frame runs twice (count + map write)
      CommittedBatches.cachedFor(batch) {
        val received = batch.count()
        val n = CommittedBatches.writeBatch(Dedup.chunkDedupMap(batch, idCol,
          textCol, chunkTokens, strideTokens), s"$storeRoot/chunks", batchId)
        BatchResult(batchId, received, n, replaySkipped = false)
      }
    }.getOrElse(BatchResult(batchId, 0, 0, replaySkipped = true))

  /** Fold every committed per-batch map (plus any prior base) into one
    * PRE-MERGED `base=<gen>` store and retire the folded inputs — run
    * between batches (single-writer). Folding merges, not just
    * concatenates: the base holds one row per distinct chunk, so read
    * cost stops growing with batch count ([[currentMap]] output is
    * identical before and after — StreamingChunkDedupSpec). */
  def compact(spark: SparkSession, storeRoot: String,
      stateRoot: String): CommittedBatches.CompactResult =
    CommittedBatches.compact(spark, stateRoot, MarkerPrefix,
      Seq(s"$storeRoot/chunks"), Some(Dedup.mergeChunkMaps))

  /** The live embed-once map over every committed batch — equal to
    * batch-at-once [[graft.scale.Dedup.chunkDedupMap]] on the union
    * corpus. One hash aggregate on the fixed-width chunk hash. */
  def currentMap(spark: SparkSession, storeRoot: String,
      stateRoot: String): DataFrame =
    Dedup.mergeChunkMaps(CommittedBatches.read(spark, stateRoot,
      MarkerPrefix, s"$storeRoot/chunks", "chunk batches"))
}
