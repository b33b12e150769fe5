package graft

import org.apache.spark.sql.functions._
import graft.scale.Dedup
import graft.streaming.{CommittedBatches, StreamRepeats}

/** Streaming repeated-window detection: cross-batch repeats, crash-window
  * exclusion, replay idempotency, zero-window roster rows. */
class StreamRepeatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val shared = "alpha beta gamma delta epsilon zeta eta theta"
  private val corpus = Seq(
    (1L, s"intro one two $shared tail end"),
    (2L, "totally different words entirely unrelated here now"),
    (3L, "short"), // < 8 tokens: zero windows, must keep a zero row
    (11L, s"$shared closing distinct remainder follows here"),
    (12L, "another unrelated document with its own content entirely")
  ).toDF("doc_id", "text")

  test("a repeat whose occurrences STRADDLE batches is detected from the " +
      "persisted store; counts equal batch-at-once crossDocRepeats; " +
      "short docs keep zero rows") {
    val store = tmp("graft_srp_w")
    val state = tmp("graft_srp_s")
    val b0 = corpus.filter(col("doc_id") < 10)
    val b1 = corpus.filter(col("doc_id") >= 10)
    val r0 = StreamRepeats.applyBatch(spark, b0, 0L, "doc_id", "text",
      store, state, windowTokens = 8)
    assert(!r0.replaySkipped && r0.received == 3)
    // batch 0 alone: the shared span has ONE occurrence — nothing repeats
    assert(StreamRepeats.currentRepeats(spark, store, state, 2)
      .filter(col("n_repeated") > 0).count() == 0,
      "nothing can repeat within batch 0")
    val r1 = StreamRepeats.applyBatch(spark, b1, 1L, "doc_id", "text",
      store, state, windowTokens = 8)
    assert(!r1.replaySkipped)
    val live = StreamRepeats.currentRepeats(spark, store, state, 2)
      .as[(Long, Long, Long)].collect().toSet
    val whole = Dedup.crossDocRepeats(corpus, "doc_id", "text", 8, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(live == whole, s"live=$live whole=$whole")
    // the straddling repeat was found, and the short doc kept its zeros
    assert(live.exists { case (id, _, rep) => id == 1L && rep > 0 })
    assert(live.contains((3L, 0L, 0L)))
    // replay of a committed batch is a no-op
    assert(StreamRepeats.applyBatch(spark, b1, 1L, "doc_id", "text",
      store, state, windowTokens = 8).replaySkipped)
  }

  test("a crashed batch (store written, no marker) is invisible and " +
      "heals on replay") {
    val store = tmp("graft_srp_w2")
    val state = tmp("graft_srp_s2")
    val b0 = corpus.filter(col("doc_id") < 10)
    val b1 = corpus.filter(col("doc_id") >= 10)
    StreamRepeats.applyBatch(spark, b0, 0L, "doc_id", "text", store, state, 8)
    // crash window: batch 1's store lands without a marker
    Dedup.windowFingerprints(b1, "doc_id", "text", 8).select("doc_id", "fp")
      .write.mode("overwrite").parquet(s"$store/wins/batch=1")
    b1.select(col("doc_id"))
      .write.mode("overwrite").parquet(s"$store/docs/batch=1")
    assert(StreamRepeats.currentRepeats(spark, store, state, 2)
      .filter(col("doc_id") >= 10).count() == 0,
      "uncommitted batch leaked into the detector")
    val r = StreamRepeats.applyBatch(spark, b1, 1L, "doc_id", "text",
      store, state, 8)
    assert(!r.replaySkipped)
    val live = StreamRepeats.currentRepeats(spark, store, state, 2)
      .as[(Long, Long, Long)].collect().toSet
    val whole = Dedup.crossDocRepeats(corpus, "doc_id", "text", 8, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(live == whole)
  }

  test("compaction: detector output identical across the fold; replay of " +
      "a folded batch stays a no-op; base + new tail fold again") {
    val store = tmp("graft_srp_w4")
    val state = tmp("graft_srp_s4")
    val b0 = corpus.filter(col("doc_id") < 10)
    val b1 = corpus.filter(col("doc_id") >= 10)
    def live() = StreamRepeats.currentRepeats(spark, store, state, 2)
      .as[(Long, Long, Long)].collect().toSet
    StreamRepeats.applyBatch(spark, b0, 0L, "doc_id", "text", store, state, 8)
    val before = live()
    val c1 = StreamRepeats.compact(spark, store, state)
    assert(!c1.skipped && c1.gen == 1 && c1.foldedNow == 1)
    assert(live() == before, "detector changed across compaction")
    // the folded batch's marker is retired; the manifest keeps replay a
    // no-op across the compaction boundary
    assert(StreamRepeats.applyBatch(spark, b0, 0L, "doc_id", "text",
      store, state, 8).replaySkipped, "folded batch replayed")
    // nothing unfolded → no-op
    assert(StreamRepeats.compact(spark, store, state).skipped)
    // a new batch lands beside the base; the detector spans both
    StreamRepeats.applyBatch(spark, b1, 1L, "doc_id", "text", store, state, 8)
    val whole = Dedup.crossDocRepeats(corpus, "doc_id", "text", 8, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(live() == whole)
    // second compaction folds base + tail; per-batch dirs retire
    val c2 = StreamRepeats.compact(spark, store, state)
    assert(!c2.skipped && c2.gen == 2 && c2.foldedNow == 1
      && c2.foldedTotal == 2)
    assert(live() == whole, "detector changed across second compaction")
    assert(StreamRepeats.applyBatch(spark, b1, 1L, "doc_id", "text",
      store, state, 8).replaySkipped)
    assert(!new java.io.File(s"$store/wins/batch=0").exists
      && !new java.io.File(s"$store/wins/batch=1").exists
      && !new java.io.File(s"$store/wins/base=1").exists,
      "folded inputs not retired")
  }

  test("AvailableNow stream drains doc files into the store; a second " +
      "drain lands only the new arrivals") {
    val src = tmp("graft_srp_src")
    val store = tmp("graft_srp_w3")
    val state = tmp("graft_srp_s3")
    val ckpt = tmp("graft_srp_ckpt")
    corpus.filter(col("doc_id") < 10)
      .write.mode("overwrite").parquet(src)
    def drain(): Unit = CommittedBatches.drain(spark, src, ckpt, None) {
      (b, id) => StreamRepeats.applyBatch(b.sparkSession, b, id, "doc_id",
        "text", store, state, 8)
    }
    drain()
    assert(StreamRepeats.currentRepeats(spark, store, state, 2)
      .filter(col("n_repeated") > 0).count() == 0)
    corpus.filter(col("doc_id") >= 10)
      .write.mode("append").parquet(src)
    drain()
    val live = StreamRepeats.currentRepeats(spark, store, state, 2)
      .as[(Long, Long, Long)].collect().toSet
    val whole = Dedup.crossDocRepeats(corpus, "doc_id", "text", 8, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(live == whole)
  }
}
