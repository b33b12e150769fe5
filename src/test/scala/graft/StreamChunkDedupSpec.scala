package graft

import org.apache.spark.sql.functions._
import graft.scale.Dedup
import graft.streaming.{CommittedBatches, StreamChunkDedup}

/** Streaming embed-once chunk-dedup map: merge-on-read == batch-at-once,
  * pre-merged compaction base, replay idempotency, AvailableNow drains. */
class StreamChunkDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  // doc 3 replays doc 2's content from a LATER batch — the rep must stay
  // on doc 2 and the count must still add across the batch boundary
  private val corpus = Seq(
    (1L, (1 to 20).map(i => s"t$i").mkString(" ")),
    (2L, "alpha beta gamma"),
    (11L, "alpha beta gamma"),
    (12L, (1 to 20).map(i => s"u$i").mkString(" "))
  ).toDF("doc_id", "text")

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.select("chunk_hash", "n_occ", "rep_doc_id", "rep_chunk_idx")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("merge-on-read over streamed batches == batch-at-once chunkDedupMap; " +
      "cross-batch duplicate keeps the earlier rep; replay no-ops") {
    val store = tmp("graft_scd_w")
    val state = tmp("graft_scd_s")
    val b0 = corpus.filter($"doc_id" < 10)
    val b1 = corpus.filter($"doc_id" >= 10)
    val r0 = StreamChunkDedup.applyBatch(spark, b0, 0L, "doc_id", "text",
      store, state, 12, 8)
    assert(!r0.replaySkipped && r0.received == 2 && r0.distinctChunks == 3)
    StreamChunkDedup.applyBatch(spark, b1, 1L, "doc_id", "text",
      store, state, 12, 8)
    val live = asMap(StreamChunkDedup.currentMap(spark, store, state))
    val whole = asMap(Dedup.chunkDedupMap(corpus, "doc_id", "text", 12, 8))
    assert(live == whole)
    val shared = live.values.filter(_._2 == 2L) // doc2 + doc11's chunk
    assert(shared.exists(v => v._1 == 2L && v._2 == 2L),
      s"cross-batch duplicate lost its earlier rep: $live")
    assert(StreamChunkDedup.applyBatch(spark, b1, 1L, "doc_id", "text",
      store, state, 12, 8).replaySkipped)
  }

  test("compaction pre-MERGES the base (one row per distinct chunk), " +
      "output identical across the fold, folded replay stays a no-op") {
    val store = tmp("graft_scd_w2")
    val state = tmp("graft_scd_s2")
    def live() = asMap(StreamChunkDedup.currentMap(spark, store, state))
    StreamChunkDedup.applyBatch(spark, corpus.filter($"doc_id" < 10), 0L,
      "doc_id", "text", store, state, 12, 8)
    StreamChunkDedup.applyBatch(spark, corpus.filter($"doc_id" >= 10), 1L,
      "doc_id", "text", store, state, 12, 8)
    val before = live()
    val c = StreamChunkDedup.compact(spark, store, state)
    assert(!c.skipped && c.gen == 1 && c.foldedNow == 2)
    assert(live() == before, "map changed across compaction")
    // the base is PRE-MERGED: duplicate chunks hold one row, counts intact
    val base = spark.read.parquet(s"$store/chunks/base=1")
    assert(base.count() == base.select("chunk_hash").distinct().count())
    assert(asMap(base) == before)
    assert(StreamChunkDedup.applyBatch(spark,
      corpus.filter($"doc_id" >= 10), 1L, "doc_id", "text",
      store, state, 12, 8).replaySkipped, "folded batch replayed")
    assert(StreamChunkDedup.compact(spark, store, state).skipped)
  }

  test("AvailableNow drains doc files; second drain lands only arrivals; " +
      "missing source dir is a warned no-op") {
    val src = tmp("graft_scd_src")
    val store = tmp("graft_scd_w3")
    val state = tmp("graft_scd_s3")
    val ckpt = tmp("graft_scd_ckpt")
    corpus.filter($"doc_id" < 10).write.mode("overwrite").parquet(src)
    def drain(src: String, store: String, state: String, ckpt: String): Unit =
      CommittedBatches.drain(spark, src, ckpt, None) { (b, id) =>
        StreamChunkDedup.applyBatch(b.sparkSession, b, id, "doc_id", "text",
          store, state, 12, 8)
      }
    drain(src, store, state, ckpt)
    assert(asMap(StreamChunkDedup.currentMap(spark, store, state))
      .values.forall(_._1 == 1L))
    corpus.filter($"doc_id" >= 10).write.mode("append").parquet(src)
    drain(src, store, state, ckpt)
    assert(asMap(StreamChunkDedup.currentMap(spark, store, state)) ==
      asMap(Dedup.chunkDedupMap(corpus, "doc_id", "text", 12, 8)))
    // absent source: the poll must no-op (and not create a store)
    val store2 = tmp("graft_scd_w4")
    drain(s"$src/__nope__", store2, tmp("graft_scd_s4"), tmp("graft_scd_ckpt2"))
    assert(!new java.io.File(s"$store2/chunks").exists)
  }
}
