package graft

import graft.streaming.{CommittedBatches, StreamDedup}

/** Streaming corpus dedup: per-batch exact + near-dup drops against
  * persisted state, idempotent replay, and the AvailableNow driver. */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val d1 = "the quick brown fox jumps over the lazy dog"
  private val d2 = "completely different words entirely unrelated text here"
  private val d1near = d1 + " tonight" // one extra token: 3-shingle J = 7/8
  private val d3 = "brand new material never seen in any earlier batch at all"

  test("batches dedup against history; replay is a no-op") {
    val corpus = tmp("graft_sd_corpus")
    val state = tmp("graft_sd_state")
    val b1 = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val r1 = StreamDedup.applyBatch(spark, b1, 0L, "doc_id", "text",
      corpus, state, jaccardThreshold = 0.5)
    assert(r1.received == 2 && r1.appended == 2 && !r1.replaySkipped)

    // 3 = exact dup of history, 4 = near dup of history, 5 = new,
    // 6 = exact dup of 5 within the batch
    val b2 = Seq((3L, d1), (4L, d1near), (5L, d3), (6L, d3))
      .toDF("doc_id", "text")
    val r2 = StreamDedup.applyBatch(spark, b2, 1L, "doc_id", "text",
      corpus, state, jaccardThreshold = 0.5)
    assert(r2.received == 4)
    assert(r2.exactDropped == 2) // 3 (vs history) and 6 (within batch)
    assert(r2.nearDropped == 1)  // 4 (vs history)
    assert(r2.appended == 1)     // 5

    val clean = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(1L, 2L, 5L))

    // at-least-once replay: the commit marker makes it a no-op
    val r3 = StreamDedup.applyBatch(spark, b2, 1L, "doc_id", "text",
      corpus, state, jaccardThreshold = 0.5)
    assert(r3.replaySkipped)
    assert(spark.read.parquet(corpus).count() == 3)

    // crash-window replay: marker lost AFTER the state already advanced —
    // the intent pins the pre-batch state versions, so the re-run
    // recomputes the identical survivors instead of emptying the batch dir
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state, "batch_1.done"), false)
    val r4 = StreamDedup.applyBatch(spark, b2, 1L, "doc_id", "text",
      corpus, state, jaccardThreshold = 0.5)
    assert(!r4.replaySkipped && r4.appended == 1)
    assert(spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 5L))
  }

  test("compaction: corpus identical across the fold, folded replay " +
      "stays a no-op, dedup-vs-history still works against the base") {
    val corpus = tmp("graft_sd_corpus_c")
    val state = tmp("graft_sd_state_c")
    def clean() = StreamDedup.currentCorpus(spark, corpus, state)
      .select("doc_id").as[Long].collect().toSet
    val b1 = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    StreamDedup.applyBatch(spark, b1, 0L, "doc_id", "text", corpus, state,
      jaccardThreshold = 0.5)
    val before = clean()
    val c1 = StreamDedup.compact(spark, corpus, state)
    assert(!c1.skipped && c1.gen == 1 && c1.foldedNow == 1)
    assert(clean() == before, "corpus changed across compaction")
    // folded batch replay answers from the manifest, not the gone marker
    assert(StreamDedup.applyBatch(spark, b1, 0L, "doc_id", "text",
      corpus, state, jaccardThreshold = 0.5).replaySkipped,
      "folded batch replayed")
    assert(StreamDedup.compact(spark, corpus, state).skipped)
    // a post-compaction batch still dedups against pre-compaction history
    // (3 = exact dup of folded history, 5 = new)
    val b2 = Seq((3L, d1), (5L, d3)).toDF("doc_id", "text")
    val r2 = StreamDedup.applyBatch(spark, b2, 1L, "doc_id", "text",
      corpus, state, jaccardThreshold = 0.5)
    assert(r2.exactDropped == 1 && r2.appended == 1)
    assert(clean() == Set(1L, 2L, 5L))
    // second fold: base + tail; retired inputs, dead intents swept
    val c2 = StreamDedup.compact(spark, corpus, state)
    assert(!c2.skipped && c2.gen == 2 && c2.foldedTotal == 2)
    assert(clean() == Set(1L, 2L, 5L))
    assert(!new java.io.File(s"$corpus/batch=0").exists
      && !new java.io.File(s"$corpus/batch=1").exists
      && !new java.io.File(s"$corpus/base=1").exists,
      "folded inputs not retired")
    assert(!new java.io.File(s"$state/batch_0.intent").exists
      && !new java.io.File(s"$state/batch_1.intent").exists,
      "dead intents not swept")
  }

  test("near-dup drops are insensitive to batch grouping (chain a~b~c)") {
    // a, b, c: 3-shingle J(a,b)=7/8, J(b,c)=8/10, J(a,c)=7/10 — at 0.75
    // only adjacent pairs match, so the dropped b's signature must block c
    val a = d1
    val b = d1 + " tonight"            // ~ a
    val c = d1 + " tonight and always" // ~ b, farther from a
    def run(batches: Seq[Seq[(Long, String)]]): Set[Long] = {
      val corpus = tmp("graft_sd_chain_c")
      val state = tmp("graft_sd_chain_s")
      batches.zipWithIndex.foreach { case (rows, i) =>
        StreamDedup.applyBatch(spark, rows.toDF("doc_id", "text"), i.toLong,
          "doc_id", "text", corpus, state, jaccardThreshold = 0.75)
      }
      spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    }
    val together = run(Seq(Seq((1L, a), (2L, b), (3L, c))))
    val split = run(Seq(Seq((1L, a)), Seq((2L, b)), Seq((3L, c))))
    assert(together == split)
    assert(together == Set(1L))
  }

  test("truncated intent file does not wedge the replay") {
    // a crash mid-intent-write leaves a truncated/empty intent; the replay
    // must treat it as absent (the intent precedes any mutation, so nothing
    // was mutated) instead of dying on parse forever
    val corpus = tmp("graft_sd_ci_corpus")
    val state = tmp("graft_sd_ci_state")
    val b1 = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    StreamDedup.applyBatch(spark, b1, 0L, "doc_id", "text",
      corpus, state, jaccardThreshold = 0.5)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash: each new batch's intent pre-exists but is empty /
    // garbage (each iteration uses a fresh batch id and fresh content so
    // the previous iteration's published state cannot mask the result)
    val fresh = Seq(
      "alpha beta gamma delta epsilon zeta", "one two three four five six",
      "red orange yellow green blue indigo", "north south east west up down")
    for (((garbage, text), i) <- Seq("", "3", "x,y", "1,2,3").zip(fresh).zipWithIndex) {
      val bid = i + 1L
      val ip = new org.apache.hadoop.fs.Path(state, s"batch_$bid.intent")
      val out = fs.create(ip, true)
      out.write(garbage.getBytes("UTF-8")); out.close()
      val b = Seq((10L + i, text)).toDF("doc_id", "text")
      val r = StreamDedup.applyBatch(spark, b, bid, "doc_id", "text",
        corpus, state, jaccardThreshold = 0.5)
      assert(!r.replaySkipped && r.appended == 1, s"garbage='$garbage'")
      // the rewritten intent was committed and the batch ran to the marker
      assert(fs.exists(new org.apache.hadoop.fs.Path(state, s"batch_$bid.done")))
    }
  }

  test("AvailableNow stream drains file batches through the dedup") {
    val src = tmp("graft_sd_src")
    val corpus = tmp("graft_sd_corpus2")
    val state = tmp("graft_sd_state2")
    val ckpt = tmp("graft_sd_ckpt")
    Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(src)
    Seq((3L, d1), (5L, d3)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    CommittedBatches.drain(spark, src, ckpt, None) { (b, id) =>
      StreamDedup.applyBatch(b.sparkSession, b, id, "doc_id", "text",
        corpus, state, jaccardThreshold = 0.5)
    }
    val clean = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    // 3 is an exact dup of 1 — dropped whether they share a micro-batch or
    // arrive in sequence (both groupings are valid stream executions)
    assert(clean == Set(1L, 2L, 5L))
  }
}
