package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.StateStore
import graft.scale.Pq

/** Streaming ANN-index maintenance: each arriving micro-batch of vectors
  * is PQ-encoded against a frozen codebook and appended to the compressed
  * code table — the index stays fresh without ever re-encoding history
  * (the 100 TB contract: per-batch cost is the batch's own scan).
  *
  * The codebook is trained ONCE, on the first batch, and published as a
  * versioned state ([[StateStore.saveVersion]]); every later batch loads
  * the latest version and only encodes. Alongside the codes, each batch's
  * per-subspace quantization-error sufficient statistics
  * ([[Pq.quantizationError]] — int64 nano SSE + count) are appended to an
  * error log: a rising err/n across batches is the retrain trigger, read
  * WITHOUT touching the code table.
  *
  * Idempotent under foreachBatch's at-least-once contract on the
  * [[CommittedBatches]] protocol: each batch owns one `batch=<id>`
  * directory (overwritten whole on replay — never double-appended) and a
  * COMMIT marker short-circuits replays of fully committed batches. The
  * codebook state is replay-safe by construction: training is
  * deterministic (min-id seeds, no RNG), so a replayed bootstrap batch
  * republishes byte-identical centroids. */
object StreamIndex {

  case class BatchResult(batchId: Long, received: Long, encoded: Long,
      bootstrapped: Boolean, replaySkipped: Boolean,
      retrained: Boolean = false, cbVersion: Int = 0)

  /** Attach the codebook's TRAINING-TIME per-subspace quantization error
    * (count + int64 nano SSE on the batch it was trained on) to the
    * codebook frame itself, denormalized per row — so the retrain
    * baseline travels ATOMICALLY with the codebook version it describes
    * (two lock-stepped state roots could desynchronize on a crash between
    * saves). The extra columns are ignored by every Pq consumer. */
  private def withBaseline(trained: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    trained.join(
      Pq.quantizationError(batch, trained, idCol, vecCol)
        .select(col("subspace"), col("n").as("base_n"),
          col("err_nano_sum").as("base_err_nano")),
      Seq("subspace"))

  /** True iff some subspace's observed err/n exceeds
    * `retrainFactorPct`/100 × the codebook's training-time err/n —
    * compared by exact integer cross-multiplication (no float division
    * for an engine pair to disagree on). */
  private def driftTriggered(cb: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, retrainFactorPct: Long): Boolean = {
    val obs = Pq.quantizationError(batch, cb, idCol, vecCol)
      .select("subspace", "n", "err_nano_sum").collect()
      .map(r => r.getAs[Number](0).intValue ->
        (r.getLong(1), r.getLong(2))).toMap
    cb.select("subspace", "base_n", "base_err_nano").distinct().collect()
      .exists { r =>
        obs.get(r.getAs[Number](0).intValue).exists { case (n, err) =>
          BigInt(err) * BigInt(r.getLong(1)) * 100 >
            BigInt(r.getLong(2)) * BigInt(n) * retrainFactorPct
        }
      }
  }

  /** Encode one micro-batch (the foreachBatch body; directly callable for
    * batch pipelines and tests).
    *
    * `retrainFactorPct` > 0 arms the DRIFT-TRIGGERED RETRAIN loop
    * ([[Pq.quantizationError]] is the monitor): before encoding, the
    * batch's per-subspace err/n under the current codebook is compared
    * against the codebook's training-time baseline (stored inside the
    * versioned codebook frame); if any subspace exceeds
    * `retrainFactorPct`/100 × baseline, a NEW codebook is trained on this
    * batch and published as version n+1, and encoding proceeds under it —
    * only from the trigger batch FORWARD. History is never re-encoded
    * (each code row carries its `cb_version`, so readers score each
    * segment against its own codebook — the standard versioned-index
    * deployment shape). 0 (the default) freezes the bootstrap codebook
    * forever, preserving the prior contract.
    *
    * Retention: when retraining is armed, EVERY published codebook version
    * is live forever (historical code segments reference theirs by
    * `cb_version`), so `keepVersions` is ignored and nothing is ever
    * pruned — otherwise the keep-window would silently delete a codebook
    * some segment still scores against. The codebook is k·D rows per
    * version; retaining all versions is metadata-sized. `keepVersions`
    * applies only to the frozen (retrainFactorPct == 0) deployment, where
    * a replayed bootstrap republishes an identical frame and only the
    * newest version is ever read. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, codesPath: String, stateRoot: String,
      m: Int = 4, k: Int = 4, iters: Int = 2,
      keepVersions: Int = 3, retrainFactorPct: Long = 0L): BatchResult = {
    val cbRoot = s"$stateRoot/codebook"
    // armed retraining makes every codebook version permanently live (code
    // segments reference theirs by cb_version) — never prune one
    val cbKeep = if (retrainFactorPct > 0) Int.MaxValue else keepVersions
    CommittedBatches.commit(spark, stateRoot, "batch", batchId) {
      // one micro-batch feeds up to six scans (count, training dims + two
      // Lloyd's rounds, drift check, encode, error log)
      CommittedBatches.cachedFor(batch) {
        val received = batch.count()

        def trainAndPublish(): (DataFrame, Int) = {
          // cache the k·D-row codebook: its 2-round Lloyd's lineage would
          // otherwise re-execute for each of the three consumers below
          // (the baseline's literal collect, the baseline join side, the
          // state write)
          val trainedCb = Pq.codebook(batch, idCol, vecCol, m, k, iters).cache()
          val trained = withBaseline(trainedCb, batch, idCol, vecCol)
          val v = StateStore.saveVersion(spark, trained, cbRoot, cbKeep)
          trainedCb.unpersist()
          (StateStore.loadVersion(spark, cbRoot, v), v)
        }

        // frozen codebook: latest published version, or train-and-publish
        // on the bootstrap batch (deterministic, so a replay republishes
        // the identical frame and the overwrite is byte-stable)
        val (cb0, v0, bootstrapped) =
          StateStore.versions(spark, cbRoot).lastOption match {
            case Some(v) =>
              (StateStore.loadVersion(spark, cbRoot, v), v, false)
            case None =>
              val (t, v) = trainAndPublish()
              (t, v, true)
          }
        // drift check (replay-safe: the decision is a deterministic
        // function of the batch and the loaded version, and a replayed
        // trigger batch re-publishes the identical retrained codebook). Old
        // codebook versions without a stored baseline stay frozen — no
        // false trigger.
        val retrain = !bootstrapped && retrainFactorPct > 0 &&
          cb0.columns.contains("base_n") &&
          driftTriggered(cb0, batch, idCol, vecCol, retrainFactorPct)
        val (cb, version) = if (retrain) trainAndPublish() else (cb0, v0)
        val cbCached = cb.cache()
        try {
          // one directory per batch, overwritten whole; each segment
          // records the codebook version that encoded it
          val encoded = CommittedBatches.writeBatch(
            Pq.encode(batch, cbCached, idCol, vecCol)
              .withColumn("cb_version", lit(version)), codesPath, batchId)
          CommittedBatches.writeBatch(
            Pq.quantizationError(batch, cbCached, idCol, vecCol)
              .withColumn("batch_id", lit(batchId))
              .withColumn("cb_version", lit(version))
              .withColumn("retrained", lit(retrain)),
            s"$stateRoot/err", batchId)
          BatchResult(batchId, received, encoded, bootstrapped,
            replaySkipped = false, retrained = retrain, cbVersion = version)
        } finally cbCached.unpersist()
      }
    }.getOrElse(BatchResult(batchId, 0, 0, bootstrapped = false,
      replaySkipped = true))
  }
}
