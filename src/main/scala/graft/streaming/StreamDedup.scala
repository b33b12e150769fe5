package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Materialize, StateStore}
import graft.scale.{Dedup, TextAnalysis}

/** Streaming corpus deduplication: each arriving micro-batch of documents
  * dedups against the persisted corpus state — exact fingerprints AND
  * MinHash near-dup signatures — appends only its survivors to the clean
  * corpus, and publishes the advanced state as immutable versions
  * ([[StateStore.saveVersion]]). History is never re-scanned or re-hashed:
  * per-batch cost is the batch's own chains plus bounded joins against
  * stored state ([[Dedup.exactIncremental]] / [[Dedup.minhashIncremental]]).
  *
  * Effectively-exactly-once on the [[CommittedBatches]] protocol: the
  * intent pins the fp and sig state versions the batch reads, so a replay
  * after ANY mid-batch crash — including after the state has already
  * advanced — recomputes the identical survivor set and overwrites the same
  * per-batch corpus directory with the same bytes; the marker, written
  * last, short-circuits replays of committed batches. Requires
  * `keepVersions` ≥ 2 so pinned versions survive one re-publish.
  *
  * Drop rule: a document drops iff it is an exact duplicate, or a verified
  * near-duplicate (Jaccard ≥ threshold), of ANY document that arrived
  * before it — kept or itself dropped. Keeping dropped documents'
  * signatures in state is what makes the rule insensitive to batch
  * grouping: a chain a~b~c drops b and c whether they share a micro-batch
  * or arrive one per batch. (Exact duplicates contribute no new signature —
  * their survivor's is identical.)
  *
  * ASSUMES MONOTONE IDS: "arrived before" is decided by the id within a
  * batch (the greater id drops) and by history across batches (the batch
  * endpoint drops). The two agree — and survivor sets are independent of
  * batch grouping — only when ids are monotone with arrival order (e.g.
  * ingest sequence numbers, as in the `st_stream_dedup` corpus). If a
  * smaller id can arrive in a LATER batch, its earlier-batch neighbor has
  * already won, where a shared batch would have kept the smaller id:
  * precedence then needs an explicit arrival-order column, not the id.
  */
object StreamDedup {

  case class BatchResult(batchId: Long, received: Long, exactDropped: Long,
      nearDropped: Long, appended: Long, replaySkipped: Boolean)

  private val MarkerPrefix = "batch"

  /** The clean corpus over every committed batch: compaction base (if one
    * is committed) + unfolded per-batch directories. Readers must come
    * through here rather than scanning `corpusPath` wholesale — after a
    * [[compact]] the store holds `base=<gen>` next to `batch=<id>`
    * directories, which partition discovery would reject. */
  def currentCorpus(spark: SparkSession, corpusPath: String,
      stateRoot: String): DataFrame =
    CommittedBatches.read(spark, stateRoot, MarkerPrefix, corpusPath,
      "corpus batches")

  /** Fold the committed per-batch corpus directories (plus any prior
    * base) into one `base=<gen>`, retire the folded inputs and sweep their
    * intents (single-writer, run between batches). The versioned fp/sig
    * state is already bounded by `keepVersions`. */
  def compact(spark: SparkSession, corpusPath: String,
      stateRoot: String): CommittedBatches.CompactResult =
    CommittedBatches.compact(spark, stateRoot, MarkerPrefix,
      Seq(corpusPath), None)

  /** Dedup one micro-batch (the foreachBatch body; directly callable for
    * batch pipelines and tests). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, corpusPath: String, stateRoot: String,
      jaccardThreshold: Double = 0.9, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, keepVersions: Int = 3): BatchResult = {
    require(keepVersions >= 2, "keepVersions >= 2 (replay needs the pinned version)")
    CommittedBatches.commit(spark, stateRoot, MarkerPrefix, batchId) {
      val fpRoot = s"$stateRoot/fp"
      val sigRoot = s"$stateRoot/sig"
      val Seq(fpPinned, sigPinned) = CommittedBatches.pinnedState(spark,
        stateRoot, MarkerPrefix, batchId, Seq(fpRoot, sigRoot))
      val received = batch.count()
      // exact pass vs the pinned fingerprint state
      val fpState = fpPinned.getOrElse(
        Dedup.exactState(batch.limit(0), idCol, textCol))
      val (exactSurvRaw, _) =
        Dedup.exactIncremental(fpState, batch, idCol, textCol)
      // consumed by the sig chain, the drop join, the corpus write, and
      // the fp-state rebuild
      val exactSurv = Materialize(exactSurvRaw)
      val exactKept = exactSurv.count()

      // near-dup pass vs the pinned signature state
      val sigState = sigPinned.getOrElse(
        Dedup.minhashState(batch.limit(0), idCol, textCol, k, shingleN))
      val batchSig = Dedup.minhashState(exactSurv, idCol, textCol, k, shingleN)
      val (pairs, nextSig) = Dedup.minhashIncrementalFromState(sigState,
        batchSig, k, bands, jaccardThreshold)
      val batchIds = exactSurv.select(col(idCol))
      val flagged = pairs
        .join(batchIds.select(col(idCol).as("id_a"), lit(true).as("a_in")),
          Seq("id_a"), "left")
        .join(batchIds.select(col(idCol).as("id_b"), lit(true).as("b_in")),
          Seq("id_b"), "left")
      // both-in-batch: the greater id drops; batch-vs-history: the batch
      // endpoint drops (history outranks the batch regardless of id order)
      val drops = flagged.select(
        when(col("a_in").isNotNull && col("b_in").isNotNull,
          greatest(col("id_a"), col("id_b")))
          .when(col("a_in").isNotNull, col("id_a"))
          .otherwise(col("id_b")).as(idCol)).distinct()
      val kept = exactSurv.join(drops, Seq(idCol), "left_anti")
      val appended = CommittedBatches.writeBatch(kept, corpusPath, batchId)

      // publish advanced state. nextFp is rebuilt from the MATERIALIZED
      // survivors (fingerprints are one digest per row) instead of the
      // unmaterialized exactIncremental plan, which would re-run the
      // anti-join + first-occurrence window per publish. nextSig keeps
      // every batch signature — including near-dup-dropped docs' — so later
      // members of the same neighborhood drop regardless of batch grouping.
      StateStore.saveVersion(spark,
        fpState.unionByName(exactSurv.select(
          TextAnalysis.fingerprint(col(textCol)).as("fp"),
          col(idCol).cast("long").as("keep_id"))),
        fpRoot, keepVersions)
      StateStore.saveVersion(spark, nextSig, sigRoot, keepVersions)
      // this batch's checkpointed frames are dead once its state is
      // published — a long-running stream must not accumulate one per batch
      Materialize.release(batchSig)
      Materialize.release(exactSurv)
      BatchResult(batchId, received, received - exactKept,
        exactKept - appended, appended, replaySkipped = false)
    }.getOrElse(BatchResult(batchId, 0, 0, 0, 0, replaySkipped = true))
  }
}
