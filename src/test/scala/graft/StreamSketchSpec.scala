package graft

import org.apache.spark.sql.functions._
import graft.scale.Sketches
import graft.streaming.{CommittedBatches, StreamSketch}

/** Streaming CMS maintenance: per-batch grids, commit-marker idempotency,
  * crash-window exclusion, read-time rollup == batch-at-once grid. */
class StreamSketchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val occ = (Seq.tabulate(120)(i => ("A", s"t${i % 9}")) ++
    Seq.tabulate(60)(i => ("B", s"t${i % 4}"))).zipWithIndex
    .map { case ((g, t), i) => (i.toLong, g, t) }

  test("two batches roll up to the batch-at-once grid; replay of a " +
      "committed batch is a no-op") {
    val grid = tmp("graft_scm_grid")
    val state = tmp("graft_scm_state")
    val df = occ.toDF("i", "g", "tok")
    val b0 = df.filter(col("i") < 100)
    val b1 = df.filter(col("i") >= 100)

    val r0 = StreamSketch.applyBatch(spark, b0, 0L, "g", "tok",
      grid, state, depth = 3, width = 32)
    assert(!r0.replaySkipped && r0.received == 100)
    val r1 = StreamSketch.applyBatch(spark, b1, 1L, "g", "tok",
      grid, state, depth = 3, width = 32)
    assert(!r1.replaySkipped && r1.received == 80)

    val live = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    val whole = Sketches.cms(df, "g", "tok", 3, 32)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    assert(live == whole)

    // at-least-once replay: marker short-circuits, grid unchanged
    val r2 = StreamSketch.applyBatch(spark, b1, 1L, "g", "tok",
      grid, state, depth = 3, width = 32)
    assert(r2.replaySkipped)
    val after = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    assert(after == whole)
  }

  test("a crashed batch (grid written, no marker) is invisible to " +
      "currentSketch and heals on replay") {
    val grid = tmp("graft_scm_grid2")
    val state = tmp("graft_scm_state2")
    val df = occ.toDF("i", "g", "tok")
    val b0 = df.filter(col("i") < 100)
    val b1 = df.filter(col("i") >= 100)
    StreamSketch.applyBatch(spark, b0, 0L, "g", "tok", grid, state, 3, 32)

    // simulate the crash window: batch 1's grid lands but no marker
    Sketches.cms(b1, "g", "tok", 3, 32)
      .write.mode("overwrite").parquet(s"$grid/cms/batch=1")
    val partial = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    val only0 = Sketches.cms(b0, "g", "tok", 3, 32)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    assert(partial == only0, "uncommitted grid leaked into the live sketch")

    // replay completes the batch; the rollup now equals the whole corpus
    val r = StreamSketch.applyBatch(spark, b1, 1L, "g", "tok",
      grid, state, 3, 32)
    assert(!r.replaySkipped)
    val healed = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    val whole = Sketches.cms(df, "g", "tok", 3, 32).select("grp", "row_j", "bucket", "cnt")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(healed == whole)
  }

  test("AvailableNow stream drains doc files into the grid; a second " +
      "drain folds only the new arrivals and the rollup tracks the union") {
    val src = tmp("graft_scm_src")
    val grid = tmp("graft_scm_grid4")
    val state = tmp("graft_scm_state4")
    val ckpt = tmp("graft_scm_ckpt")
    val df = occ.toDF("i", "g", "tok")
    def toks(b: org.apache.spark.sql.DataFrame) = b.select("g", "tok")
    df.filter(col("i") < 100).write.mode("overwrite").parquet(src)
    def drain(): Unit = CommittedBatches.drain(spark, src, ckpt, None) {
      (b, id) => StreamSketch.applyBatch(b.sparkSession, toks(b), id, "g",
        "tok", grid, state, depth = 3, width = 32)
    }
    drain()
    val after1 = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    assert(after1 == Sketches.cms(df.filter(col("i") < 100), "g", "tok", 3, 32)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet)
    // new files arrive; the resumed stream folds ONLY them
    df.filter(col("i") >= 100).write.mode("append").parquet(src)
    drain()
    val after2 = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet
    assert(after2 == Sketches.cms(df, "g", "tok", 3, 32)
      .select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect().toSet)
  }

  test("streaming HLL: batch states union to a within-10% estimate; an " +
      "uncommitted batch is invisible; replay is a no-op") {
    val grid = tmp("graft_shl_grid")
    val state = tmp("graft_shl_state")
    val df = (0L until 3000L).map(i => (s"g${i % 2}", i / 2)).toDF("g", "v")
    val b0 = df.filter(col("v") < 800)
    val b1 = df.filter(col("v") >= 800)
    StreamSketch.applyHllBatch(spark, b0, 0L, "g", "v", grid, state)

    // crash window: batch 1's grid lands, no marker → invisible
    b1.groupBy(col("g").as("grp"))
      .agg(hll_sketch_agg(col("v"), 12).as("sk"))
      .write.mode("overwrite").parquet(s"$grid/hll/batch=1")
    val partial = StreamSketch.currentDistinct(spark, grid, state)
      .as[(String, Long)].collect().toMap
    partial.foreach { case (_, est) =>
      assert(math.abs(est - 800L) <= 80L, s"partial estimate $est vs 800")
    }

    val r1 = StreamSketch.applyHllBatch(spark, b1, 1L, "g", "v", grid, state)
    assert(!r1.replaySkipped)
    val full = StreamSketch.currentDistinct(spark, grid, state)
      .as[(String, Long)].collect().toMap
    assert(full.keySet == Set("g0", "g1"))
    full.foreach { case (_, est) =>
      assert(math.abs(est - 1500L) <= 150L, s"estimate $est vs 1500")
    }
    val r2 = StreamSketch.applyHllBatch(spark, b1, 1L, "g", "v", grid, state)
    assert(r2.replaySkipped)
  }

  test("streaming AMS: batch vectors sum to the batch-at-once vector; " +
      "kind-scoped markers AND grids keep CMS/AMS/HLL batches independent " +
      "on ONE shared stateRoot + gridRoot") {
    val grid = tmp("graft_sam_grid") // ONE gridRoot for both kinds
    val state = tmp("graft_sam_state") // ONE stateRoot for both kinds
    val df = occ.toDF("i", "g", "tok")
    val b0 = df.filter(col("i") < 100)
    val b1 = df.filter(col("i") >= 100)
    // commit CMS batch 0 against the shared roots first: its marker must
    // NOT mask the AMS batch 0 that follows, and the AMS batch 0 grid
    // must NOT overwrite the committed CMS batch 0 grid of the same id
    StreamSketch.applyBatch(spark, b0, 0L, "g", "tok", grid, state, 3, 32)
    val a0 = StreamSketch.applyAmsBatch(spark, b0, 0L, "g", "tok",
      grid, state, r = 4)
    assert(!a0.replaySkipped, "CMS marker masked the AMS batch")
    val a1 = StreamSketch.applyAmsBatch(spark, b1, 1L, "g", "tok",
      grid, state, r = 4)
    assert(!a1.replaySkipped)
    val live = StreamSketch.currentAms(spark, grid, state)
      .as[(String, Int, Long)].collect().toSet
    val whole = Sketches.amsSketch(df, "g", "tok", 4)
      .as[(String, Int, Long)].collect().toSet
    assert(live == whole)
    assert(StreamSketch.applyAmsBatch(spark, b1, 1L, "g", "tok",
      grid, state, r = 4).replaySkipped)
    // the CMS grid survived the same-id AMS write on the shared gridRoot
    val cmsLive = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt")
      .as[(String, Int, Long, Long)].collect().toSet
    val cmsB0 = Sketches.cms(b0, "g", "tok", 3, 32)
      .select("grp", "row_j", "bucket", "cnt")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(cmsLive == cmsB0, "AMS batch grid clobbered the CMS batch grid")
  }

  test("streaming KMV: batch bottom-k grids roll up to the batch-at-once " +
      "sketch; a crashed batch is invisible; replay is a no-op") {
    val grid = tmp("graft_skv_grid")
    val state = tmp("graft_skv_state")
    val df = occ.toDF("i", "g", "tok")
    val b0 = df.filter(col("i") < 100)
    val b1 = df.filter(col("i") >= 100)
    val r0 = StreamSketch.applyKmvBatch(spark, b0, 0L, "g", "tok",
      grid, state, k = 5)
    assert(!r0.replaySkipped && r0.received == 100)
    // crash window: batch 1's grid lands without a marker → invisible
    Sketches.kmv(b1, "g", col("tok"), 5)
      .write.mode("overwrite").parquet(s"$grid/kmv/batch=1")
    val partial = StreamSketch.currentKmv(spark, grid, state, 5)
      .select("grp", "h", "rank").as[(String, Long, Int)].collect().toSet
    val only0 = Sketches.kmv(b0, "g", col("tok"), 5)
      .select("grp", "h", "rank").as[(String, Long, Int)].collect().toSet
    assert(partial == only0, "uncommitted KMV grid leaked into the rollup")
    // replay completes the batch; rollup == batch-at-once whole-corpus kmv
    val r1 = StreamSketch.applyKmvBatch(spark, b1, 1L, "g", "tok",
      grid, state, k = 5)
    assert(!r1.replaySkipped)
    val live = StreamSketch.currentKmv(spark, grid, state, 5)
      .select("grp", "h", "rank").as[(String, Long, Int)].collect().toSet
    val whole = Sketches.kmv(df, "g", col("tok"), 5)
      .select("grp", "h", "rank").as[(String, Long, Int)].collect().toSet
    assert(live == whole)
    assert(StreamSketch.applyKmvBatch(spark, b1, 1L, "g", "tok",
      grid, state, k = 5).replaySkipped)
  }

  test("streaming quality monitor: batch counters sum to the " +
      "batch-at-once aggregates; an uncommitted batch is invisible; " +
      "replay is a no-op") {
    val grid = tmp("graft_sql_grid")
    val state = tmp("graft_sql_state")
    val df = Seq(
      (0L, "A", "the quick fox"), (1L, "A", "a lazy dog sits"),
      (2L, "B", "of and in to"), (3L, "B", "words without stops here"),
      (4L, "A", "is the end"))
      .toDF("i", "g", "text")
    val b0 = df.filter(col("i") < 3)
    val b1 = df.filter(col("i") >= 3)
    val r0 = StreamSketch.applyQualityBatch(spark, b0, 0L, "g", "text",
      grid, state)
    assert(!r0.replaySkipped && r0.received == 3)
    // only batch 0 committed so far — the monitor reflects exactly it
    // (the shared commitGrid crash-window exclusion is pinned by the
    // CMS/HLL/KMV tests above)
    val partial = StreamSketch.currentQuality(spark, grid, state)
      .select("grp", "n_docs").as[(String, Long)].collect().toMap
    assert(partial == Map("A" -> 2L, "B" -> 1L))
    val r1 = StreamSketch.applyQualityBatch(spark, b1, 1L, "g", "text",
      grid, state)
    assert(!r1.replaySkipped)
    val live = StreamSketch.currentQuality(spark, grid, state)
      .select("grp", "n_docs", "n_tokens", "n_chars", "n_stopwords")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // batch-at-once: A = docs 0,1,4; B = docs 2,3
    val whole = Set(
      ("A", 3L, 10L, ("the quick fox".length + "a lazy dog sits".length +
        "is the end".length).toLong, 4L),
      ("B", 2L, 8L, ("of and in to".length +
        "words without stops here".length).toLong, 4L))
    assert(live == whole, live)
    assert(StreamSketch.applyQualityBatch(spark, b1, 1L, "g", "text",
      grid, state).replaySkipped)
  }

  test("streaming DoReMi controller: committed loss batches fold to the " +
      "batch-at-once weights under the pinned proxy LM; replay no-op") {
    import graft.scale.{Sampling, TextAnalysis}
    val grid = tmp("graft_sdm_grid")
    val state = tmp("graft_sdm_state")
    val dd = Seq(
      (1L, "aa bb aa bb aa bb aa bb", "easy"),
      (2L, "aa bb aa bb aa bb", "easy"),
      (3L, "cc dd ee ff gg hh ii jj", "hard"),
      (4L, "kk ll mm nn oo pp qq rr", "hard")
    ).toDF("doc_id", "text", "source")
    // ONE pinned proxy LM; both batches stream through it
    val stats = TextAnalysis.lmCrossEntropyStats(dd, "doc_id", "text",
      TextAnalysis.bigramLm(dd, "text"))
    def land(pred: org.apache.spark.sql.Column, id: Long) = {
      val b = stats.filter(pred)
      StreamSketch.applyDoremiBatch(spark,
        Sampling.doremiState(b, dd, "doc_id", "source"), b.count(), id,
        grid, state)
    }
    assert(!land($"doc_id" <= 2, 0L).replaySkipped)
    assert(!land($"doc_id" > 2, 1L).replaySkipped)
    assert(land($"doc_id" > 2, 1L).replaySkipped) // committed → no-op
    val live = StreamSketch.currentDoremiWeights(spark, grid, state)
      .orderBy("source").collect().map(_.toSeq).toSeq
    val whole = Sampling.doremiWeights(stats, dd, "doc_id", "source")
      .orderBy("source").collect().map(_.toSeq).toSeq
    assert(live == whole) // streamed fold == batch-at-once retrain
  }

  test("a store committed under the pre-kind-scope layout stays " +
      "readable: legacy batch=N grids fall back, new batches land " +
      "kind-scoped, and the rollup spans both") {
    val grid = tmp("graft_scm_legacy_g")
    val state = tmp("graft_scm_legacy_s")
    val df = occ.toDF("i", "g", "tok")
    val b0 = df.filter(col("i") < 100)
    val b1 = df.filter(col("i") >= 100)
    // simulate an old store: grid at the legacy $gridRoot/batch=0 path
    // with its (kind-scoped) commit marker already present — replay is
    // suppressed, so only the read-path fallback can reach the grid
    Sketches.cms(b0, "g", "tok", 3, 32)
      .write.mode("overwrite").parquet(s"$grid/batch=0")
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(state, "cms_batch_0.done"), true)
      .close()
    assert(StreamSketch.applyBatch(spark, b0, 0L, "g", "tok",
      grid, state, 3, 32).replaySkipped, "legacy marker did not suppress")
    // the legacy grid is read back
    val legacyOnly = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt")
      .as[(String, Int, Long, Long)].collect().toSet
    val b0Whole = Sketches.cms(b0, "g", "tok", 3, 32)
      .select("grp", "row_j", "bucket", "cnt")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(legacyOnly == b0Whole, "legacy-layout grid unreadable")
    // a new batch lands kind-scoped; the rollup spans both layouts
    StreamSketch.applyBatch(spark, b1, 1L, "g", "tok", grid, state, 3, 32)
    assert(new java.io.File(s"$grid/cms/batch=1").exists)
    val live = StreamSketch.currentSketch(spark, grid, state)
      .select("grp", "row_j", "bucket", "cnt")
      .as[(String, Int, Long, Long)].collect().toSet
    val whole = Sketches.cms(df, "g", "tok", 3, 32)
      .select("grp", "row_j", "bucket", "cnt")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(live == whole, "mixed-layout rollup wrong")
  }

  test("currentSketch with no committed batches fails loudly") {
    val grid = tmp("graft_scm_grid3")
    val state = tmp("graft_scm_state3")
    val ex = intercept[IllegalArgumentException] {
      StreamSketch.currentSketch(spark, grid, state)
    }
    assert(ex.getMessage.contains("no committed cms batch grids"))
  }
}
