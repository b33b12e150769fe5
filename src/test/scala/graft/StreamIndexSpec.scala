package graft

import org.apache.spark.sql.functions._
import graft.io.StateStore
import graft.scale.Pq
import graft.streaming.{CommittedBatches, StreamIndex}

/** Streaming PQ-index maintenance: bootstrap trains the codebook once,
  * later batches only encode; idempotent replay; error log accumulates. */
class StreamIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("bootstrap trains once, later batches encode against the frozen " +
      "codebook, replay is a no-op, error log accumulates per batch") {
    val codes = tmp("graft_si_codes")
    val state = tmp("graft_si_state")
    val e = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val b0 = e.filter(col("vec_id") < 30)
    val b1 = e.filter(col("vec_id") >= 30 && col("vec_id") < 60)

    val r0 = StreamIndex.applyBatch(spark, b0, 0L, "vec_id", "embedding",
      codes, state)
    assert(r0.bootstrapped && !r0.replaySkipped)
    assert(r0.encoded == r0.received * 4) // m codes per vector
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1))

    val r1 = StreamIndex.applyBatch(spark, b1, 1L, "vec_id", "embedding",
      codes, state)
    assert(!r1.bootstrapped) // frozen codebook — no retrain
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1))

    // the appended batch equals a direct encode against the stored codebook
    val cb = StateStore.loadVersion(spark, s"$state/codebook", 1)
    val direct = Pq.encode(b1, cb, "vec_id", "embedding")
      .as[(Long, Int, Long)].collect().toSet
    val appended = spark.read.parquet(s"$codes/batch=1")
      .select("vec_id", "subspace", "code")
      .as[(Long, Int, Long)].collect().toSet
    assert(appended == direct)

    // replay short-circuits on the commit marker; the code table is stable
    val before = spark.read.parquet(codes).count()
    val r2 = StreamIndex.applyBatch(spark, b1, 1L, "vec_id", "embedding",
      codes, state)
    assert(r2.replaySkipped)
    assert(spark.read.parquet(codes).count() == before)

    // crash-window replay: marker lost after the writes — the overwrite
    // re-lands the identical directory (deterministic encode), never a
    // double append
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state, "batch_1.done"), false)
    val r3 = StreamIndex.applyBatch(spark, b1, 1L, "vec_id", "embedding",
      codes, state)
    assert(!r3.replaySkipped)
    assert(spark.read.parquet(codes).count() == before)
    assert(spark.read.parquet(s"$codes/batch=1")
      .select("vec_id", "subspace", "code")
      .as[(Long, Int, Long)].collect().toSet == direct)

    // per-batch error log: one row per (batch, subspace), counts match
    val err = spark.read.parquet(s"$state/err")
      .select("batch_id", "subspace", "n")
      .as[(Long, Int, Long)].collect()
    assert(err.length == 8) // 2 batches × 4 subspaces
    assert(err.filter(_._1 == 0L).forall(_._3 == r0.received))
    assert(err.filter(_._1 == 1L).forall(_._3 == r1.received))
  }

  test("drift trigger: an in-distribution batch keeps the codebook " +
      "frozen; a shifted batch publishes v2 and re-encodes only itself") {
    val codes = tmp("graft_si_codes_rt")
    val state = tmp("graft_si_state_rt")
    val e = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val r0 = StreamIndex.applyBatch(spark, e.filter(col("vec_id") < 30),
      0L, "vec_id", "embedding", codes, state, retrainFactorPct = 150)
    assert(r0.bootstrapped && !r0.retrained && r0.cbVersion == 1)
    // in-distribution batch: same corpus region → err/n within 1.5x of
    // the training baseline → codebook stays frozen
    val r1 = StreamIndex.applyBatch(spark,
      e.filter(col("vec_id") >= 30 && col("vec_id") < 60),
      1L, "vec_id", "embedding", codes, state, retrainFactorPct = 150)
    assert(!r1.retrained && r1.cbVersion == 1)
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1))
    val oldCodes = spark.read.parquet(codes)
      .select("vec_id", "subspace", "code", "cb_version")
      .as[(Long, Int, Long, Int)].collect().toSet
    assert(oldCodes.forall(_._4 == 1))
    // drifted batch (exact x2 scale): err/n blows past the baseline →
    // version bump, batch encoded under v2, history untouched
    val shifted = e.filter(col("vec_id") >= 60 && col("vec_id") < 90)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val r2 = StreamIndex.applyBatch(spark, shifted, 2L, "vec_id",
      "embedding", codes, state, retrainFactorPct = 150)
    assert(r2.retrained && r2.cbVersion == 2, s"no retrain: $r2")
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1, 2))
    // old segments byte-stable — only the trigger batch carries v2
    val after = spark.read.parquet(codes)
      .select("vec_id", "subspace", "code", "cb_version")
      .as[(Long, Int, Long, Int)].collect().toSet
    assert(after.filter(_._1 < 60) == oldCodes)
    assert(after.filter(_._1 >= 60).forall(_._4 == 2))
    // the trigger batch's codes equal a direct encode under the NEW
    // codebook (which was trained on the shifted batch itself)
    val cb2 = StateStore.loadVersion(spark, s"$state/codebook", 2)
    val direct = Pq.encode(shifted, cb2, "vec_id", "embedding")
      .as[(Long, Int, Long)].collect().toSet
    assert(after.filter(_._1 >= 60).map(r => (r._1, r._2, r._3)) == direct)
    // error log records the trigger
    val err = spark.read.parquet(s"$state/err")
      .select("batch_id", "retrained").distinct()
      .as[(Long, Boolean)].collect().toSet
    assert(err == Set((0L, false), (1L, false), (2L, true)))
    // marker-lost replay of the trigger batch is IDEMPOTENT: the latest
    // codebook (v2) was trained on this very batch, so its err/n equals
    // the stored baseline exactly — no re-trigger, no version churn, and
    // the re-landed directory carries the identical v2 codes
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state, "batch_2.done"), false)
    val r3 = StreamIndex.applyBatch(spark, shifted, 2L, "vec_id",
      "embedding", codes, state, retrainFactorPct = 150)
    assert(!r3.replaySkipped && !r3.retrained && r3.cbVersion == 2)
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1, 2))
    assert(spark.read.parquet(codes)
      .select("vec_id", "subspace", "code", "cb_version")
      .as[(Long, Int, Long, Int)].collect().toSet == after)
  }

  test("armed retraining never prunes a historical codebook version, even " +
      "with keepVersions=1 — every code segment stays scoreable") {
    val codes = tmp("graft_si_codes_keep")
    val state = tmp("graft_si_state_keep")
    val e = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    StreamIndex.applyBatch(spark, e.filter(col("vec_id") < 30), 0L,
      "vec_id", "embedding", codes, state, keepVersions = 1,
      retrainFactorPct = 150)
    def scaled(lo: Int, hi: Int, f: Float) =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(f)).as("embedding"))
    val r1 = StreamIndex.applyBatch(spark, scaled(30, 60, 2.0f), 1L,
      "vec_id", "embedding", codes, state, keepVersions = 1,
      retrainFactorPct = 150)
    assert(r1.retrained && r1.cbVersion == 2)
    // v1 survived the keep-window: batch 0's segment stays scoreable
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1, 2))
    assert(StateStore.loadVersion(spark, s"$state/codebook", 1).count() > 0)
    // a second drift publishes v3; still nothing pruned
    val r2 = StreamIndex.applyBatch(spark, scaled(60, 90, 4.0f), 2L,
      "vec_id", "embedding", codes, state, keepVersions = 1,
      retrainFactorPct = 150)
    assert(r2.retrained && r2.cbVersion == 3)
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1, 2, 3))
    // every live segment can still load its own codebook
    val versionsUsed = spark.read.parquet(codes)
      .select("cb_version").distinct().as[Int].collect().toSet
    assert(versionsUsed == Set(1, 2, 3))
    versionsUsed.foreach { v =>
      assert(StateStore.loadVersion(spark, s"$state/codebook", v).count() > 0)
    }
  }

  test("AvailableNow stream drains vector files into the index; a second " +
      "drain encodes only the new arrivals against the same codebook") {
    val src = tmp("graft_si_src")
    val codes = tmp("graft_si_codes2")
    val state = tmp("graft_si_state2")
    val ckpt = tmp("graft_si_ckpt")
    val e = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    e.filter(col("vec_id") < 40).write.mode("overwrite").parquet(src)
    def drain(): Unit = CommittedBatches.drain(spark, src, ckpt, None) {
      (b, id) => StreamIndex.applyBatch(b.sparkSession, b, id, "vec_id",
        "embedding", codes, state)
    }
    drain()
    val n1 = spark.read.parquet(codes).count()
    assert(n1 == 40 * 4)
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1))
    // new files arrive; the resumed stream encodes ONLY them, against the
    // already-published codebook (no retrain, no history re-encode)
    e.filter(col("vec_id") >= 40 && col("vec_id") < 70)
      .write.mode("append").parquet(src)
    drain()
    assert(spark.read.parquet(codes).count() == 70 * 4)
    assert(StateStore.versions(spark, s"$state/codebook") == Seq(1))
    assert(spark.read.parquet(codes).select("vec_id").distinct().count() == 70)
  }
}
