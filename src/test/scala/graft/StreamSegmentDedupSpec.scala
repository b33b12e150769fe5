package graft

import org.apache.spark.sql.functions._
import graft.scale.Dedup
import graft.streaming.{CommittedBatches, StreamSegmentDedup}

/** Streaming C4-style segment dedup: cross-batch boilerplate removal,
  * pinned-version crash replay, compaction, AvailableNow drains. */
class StreamSegmentDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val segA = (1 to 10).map(i => s"a$i").mkString(" ")
  private val segB = (1 to 10).map(i => s"b$i").mkString(" ")
  private val segC = (1 to 10).map(i => s"c$i").mkString(" ")
  // batch 0: segments A and B; batch 1: doc 11 = A (history dup) + C
  // (fresh), doc 12 = pure B (all-boilerplate — must drop)
  private val b0 = Seq((1L, segA), (2L, segB)).toDF("doc_id", "text")
  private val b1 = Seq((11L, s"$segA $segC"), (12L, segB))
    .toDF("doc_id", "text")
  private val whole = b0.unionByName(b1)

  private def cleanMap(corpus: String, state: String) =
    StreamSegmentDedup.currentCorpus(spark, corpus, state)
      .as[(Long, String)].collect().toMap

  test("streamed cleaned batches == batch-at-once segmentDedup; " +
      "all-boilerplate doc drops; committed replay no-ops") {
    val corpus = tmp("graft_ssd_c")
    val state = tmp("graft_ssd_s")
    val r0 = StreamSegmentDedup.applyBatch(spark, b0, 0L, "doc_id", "text",
      corpus, state, segTokens = 10)
    assert(!r0.replaySkipped && r0.received == 2 && r0.kept == 2)
    val r1 = StreamSegmentDedup.applyBatch(spark, b1, 1L, "doc_id", "text",
      corpus, state, segTokens = 10)
    assert(r1.kept == 1, "only the doc with a fresh segment survives")
    val live = cleanMap(corpus, state)
    val batchAtOnce = Dedup.segmentDedup(whole, "doc_id", "text", 10)
      .as[(Long, String)].collect().toMap
    assert(live == batchAtOnce, s"live=$live whole=$batchAtOnce")
    assert(live(11L) == segC && !live.contains(12L))
    assert(StreamSegmentDedup.applyBatch(spark, b1, 1L, "doc_id", "text",
      corpus, state, segTokens = 10).replaySkipped)
  }

  test("crash-window replay AFTER the state advanced recomputes the " +
      "identical cleaned set from the pinned version") {
    val corpus = tmp("graft_ssd_c2")
    val state = tmp("graft_ssd_s2")
    StreamSegmentDedup.applyBatch(spark, b0, 0L, "doc_id", "text",
      corpus, state, segTokens = 10)
    StreamSegmentDedup.applyBatch(spark, b1, 1L, "doc_id", "text",
      corpus, state, segTokens = 10)
    val before = cleanMap(corpus, state)
    // crash window: marker lost after the fp state already advanced — a
    // naive replay would anti-join batch 1 against its OWN segments and
    // empty the directory; the intent pins the pre-batch version
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state, "seg_batch_1.done"),
      false)
    val r = StreamSegmentDedup.applyBatch(spark, b1, 1L, "doc_id", "text",
      corpus, state, segTokens = 10)
    assert(!r.replaySkipped && r.kept == 1)
    assert(cleanMap(corpus, state) == before,
      "replay from the pinned version changed the cleaned corpus")
  }

  test("compaction: corpus identical across the fold; folded replay " +
      "no-ops; post-compaction batches still dedup against history") {
    val corpus = tmp("graft_ssd_c3")
    val state = tmp("graft_ssd_s3")
    StreamSegmentDedup.applyBatch(spark, b0, 0L, "doc_id", "text",
      corpus, state, segTokens = 10)
    val before = cleanMap(corpus, state)
    val c1 = StreamSegmentDedup.compact(spark, corpus, state)
    assert(!c1.skipped && c1.gen == 1 && c1.foldedNow == 1)
    assert(cleanMap(corpus, state) == before)
    assert(StreamSegmentDedup.applyBatch(spark, b0, 0L, "doc_id", "text",
      corpus, state, segTokens = 10).replaySkipped, "folded batch replayed")
    val r = StreamSegmentDedup.applyBatch(spark, b1, 1L, "doc_id", "text",
      corpus, state, segTokens = 10)
    assert(r.kept == 1, "post-compaction batch lost the folded history")
  }

  test("AvailableNow drains doc files; second drain lands only arrivals") {
    val src = tmp("graft_ssd_src")
    val corpus = tmp("graft_ssd_c4")
    val state = tmp("graft_ssd_s4")
    val ckpt = tmp("graft_ssd_ckpt")
    b0.write.mode("overwrite").parquet(src)
    def drain(): Unit = CommittedBatches.drain(spark, src, ckpt, None) {
      (b, id) => StreamSegmentDedup.applyBatch(b.sparkSession, b, id,
        "doc_id", "text", corpus, state, segTokens = 10)
    }
    drain()
    assert(cleanMap(corpus, state).keySet == Set(1L, 2L))
    b1.write.mode("append").parquet(src)
    drain()
    assert(cleanMap(corpus, state) ==
      Dedup.segmentDedup(whole, "doc_id", "text", 10)
        .as[(Long, String)].collect().toMap)
  }
}
