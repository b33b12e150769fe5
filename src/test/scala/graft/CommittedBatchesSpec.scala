package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.StateStore
import graft.streaming._

/** Exactly-once of the committed-micro-batch layer, proven once: a crash
  * between every pair of protocol steps, and inside compaction, followed
  * by a replay, leaves every reader answering exactly as an uncrashed run.
  *
  * Crashes are injected two ways. A toy operator built on the layer throws
  * from its body after each step. The real operators crash by having the
  * artifacts of the later steps deleted from a copy of a fully-run store —
  * the marker, then the published state versions, then the `batch=<id>`
  * directories — which is the exact on-disk state a crash leaves, since
  * every step only adds the files the layer names. */
class CommittedBatchesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private lazy val fs = CommittedBatches.fsOf(spark, "/")

  private def copy(src: String, dst: String): Unit = {
    fs.mkdirs(new Path(dst))
    fs.listStatus(new Path(src)).foreach(st =>
      FileUtil.copy(fs, st.getPath, fs, new Path(dst, st.getPath.getName),
        false, spark.sparkContext.hadoopConfiguration))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---- the layer itself: crashes thrown from the body ----------------

  private val toyBatches = Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L))

  /** Each batch's rows are offset by the running total in a versioned
    * state root, so a replay that read the advanced state instead of the
    * pinned one would land different rows. Returns replaySkipped. */
  private def toyApply(root: String, id: Int,
      crashAfter: Option[String] = None): Boolean = {
    val stateRoot = s"$root/state"
    def step(name: String): Unit =
      if (crashAfter.contains(name))
        throw new IllegalStateException(s"injected crash after $name")
    CommittedBatches.commit(spark, stateRoot, "toy", id.toLong) {
      val Seq(pinned) = CommittedBatches.pinnedState(spark, stateRoot, "toy",
        id.toLong, Seq(s"$stateRoot/total"))
      step("intent")
      val total = pinned.map(_.head().getLong(0)).getOrElse(0L)
      CommittedBatches.writeBatch(toyBatches(id).toDF("v")
        .select(($"v" + total).as("v")), s"$root/store", id.toLong)
      step("batch directory")
      StateStore.saveVersion(spark,
        Seq(total + toyBatches(id).sum).toDF("total"), s"$stateRoot/total")
      step("state publish")
      false
    }.getOrElse(true)
  }

  private def toyRead(root: String) = rows(CommittedBatches.read(spark,
    s"$root/state", "toy", s"$root/store", "toy batches"))

  test("layer: a crash after the intent, the batch directory or the state " +
      "publish (before the marker) is invisible, and the replay lands " +
      "exactly the uncrashed answer") {
    val ref = tmp("graft_cb_ref")
    toyBatches.indices.foreach(toyApply(ref, _))
    val want = toyRead(ref)
    assert(want == Seq("[1]", "[2]", "[6]", "[10]", "[11]").sorted)
    for (crash <- Seq("intent", "batch directory", "state publish")) {
      val root = tmp("graft_cb_toy")
      toyApply(root, 0)
      val e = intercept[IllegalStateException](toyApply(root, 1, Some(crash)))
      assert(e.getMessage.contains(crash))
      assert(toyRead(root) == Seq("[1]", "[2]"),
        s"crash after $crash leaked into the reader")
      assert(!toyApply(root, 1), s"crash after $crash: replay skipped")
      assert(toyApply(root, 1), s"crash after $crash: second replay ran")
      toyApply(root, 2)
      assert(toyRead(root) == want, s"crash after $crash")
    }
  }

  test("layer: an empty store fails naming the store; compaction keeps " +
      "reads identical and makes folded replays no-ops") {
    val root = tmp("graft_cb_toy_c")
    val e = intercept[IllegalArgumentException](toyRead(root))
    assert(e.getMessage.contains("no committed toy batches"), e.getMessage)
    toyApply(root, 0); toyApply(root, 1)
    val before = toyRead(root)
    val c = CommittedBatches.compact(spark, s"$root/state", "toy",
      Seq(s"$root/store"), None)
    assert(!c.skipped && c.gen == 1 && c.foldedNow == 2)
    assert(toyRead(root) == before)
    assert(toyApply(root, 1), "folded batch replayed")
    assert(!new java.io.File(s"$root/state/toy_1.intent").exists,
      "folded intent not swept")
  }

  // ---- the operators: crashes as deleted later-step artifacts --------

  /** One operator under test. Batches are applied by id (0, 1, 2) into a
    * root holding `store` and `state`; `crashes` name, for batch 1, the
    * artifacts (relative to the root) a crash after each step would not
    * have written; `subStores`/`prefix` name its compacted layout. */
  private case class Op(name: String,
      apply: (String, Int) => Boolean,
      read: String => Seq[String],
      crashes: Seq[(String, Seq[String])],
      compact: Option[(String => Unit, Seq[String], String)])

  private val text = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "completely different words entirely unrelated text here now"),
    (11L, "the quick brown fox jumps over the lazy dog again and again"),
    (12L, "the quick brown fox jumps over the lazy dog again tonight"),
    (21L, "brand new material never seen in any earlier batch at all"),
    (22L, "completely different words entirely unrelated text here now"))
  private def docs(id: Int) =
    text.filter(_._1 / 10 == id).toDF("doc_id", "text")

  private def changes(id: Int) = Seq(
      (1L, 30L, 1L, "B"), (2L, 10L, 2L, "X"),
      (1L, 10L, 3L, "A"), (2L, 50L, 4L, "Y"),
      (1L, 40L, 5L, "C"), (1L, 20L, 6L, "B"))
    .slice(2 * id, 2 * id + 2).toDF("k", "tsec", "id", "attr")
    .select($"k", timestamp_seconds($"tsec").as("ts"), $"id", $"attr")

  private val ops = Seq(
    Op("StreamDedup",
      (r, id) => StreamDedup.applyBatch(spark, docs(id), id.toLong, "doc_id",
        "text", s"$r/store", s"$r/state", jaccardThreshold = 0.5)
        .replaySkipped,
      r => rows(StreamDedup.currentCorpus(spark, s"$r/store", s"$r/state")),
      Seq("the state publish (before the marker)" -> Seq("state/batch_1.done"),
        "the first of two state publishes" -> Seq("state/sig/v=2"),
        "the batch directory" -> Seq("state/fp/v=2"),
        "the intent" -> Seq("store/batch=1")),
      Some((r => StreamDedup.compact(spark, s"$r/store", s"$r/state"): Unit,
        Seq("store"), "batch"))),
    Op("StreamSegmentDedup",
      (r, id) => StreamSegmentDedup.applyBatch(spark, docs(id), id.toLong,
        "doc_id", "text", s"$r/store", s"$r/state", segTokens = 4)
        .replaySkipped,
      r => rows(StreamSegmentDedup.currentCorpus(spark, s"$r/store",
        s"$r/state")),
      Seq("the state publish (before the marker)" ->
          Seq("state/seg_batch_1.done"),
        "the batch directory" -> Seq("state/fp/v=2"),
        "the intent" -> Seq("store/batch=1")),
      Some((r => StreamSegmentDedup.compact(spark, s"$r/store", s"$r/state"): Unit,
        Seq("store"), "seg_batch"))),
    Op("StreamRepeats",
      (r, id) => StreamRepeats.applyBatch(spark, docs(id), id.toLong,
        "doc_id", "text", s"$r/store", s"$r/state", 4).replaySkipped,
      r => rows(StreamRepeats.currentRepeats(spark, s"$r/store", s"$r/state",
        2)),
      Seq("both sub-stores (before the marker)" -> Seq("state/rep_batch_1.done"),
        "the first sub-store" -> Seq("store/docs/batch=1"),
        "the replay skip" -> Seq("store/wins/batch=1")),
      Some((r => StreamRepeats.compact(spark, s"$r/store", s"$r/state"): Unit,
        Seq("store/wins", "store/docs"), "rep_batch"))),
    Op("StreamChunkDedup",
      (r, id) => StreamChunkDedup.applyBatch(spark, docs(id), id.toLong,
        "doc_id", "text", s"$r/store", s"$r/state", 4, 2).replaySkipped,
      r => rows(StreamChunkDedup.currentMap(spark, s"$r/store", s"$r/state")),
      Seq("the batch directory (before the marker)" ->
          Seq("state/chunk_batch_1.done"),
        "the replay skip" -> Seq("store/chunks/batch=1")),
      Some((r => StreamChunkDedup.compact(spark, s"$r/store", s"$r/state"): Unit,
        Seq("store/chunks"), "chunk_batch"))),
    Op("StreamSketch",
      (r, id) => StreamSketch.applyBatch(spark,
        docs(id).select($"doc_id" % 2 as "g",
          explode(split($"text", " ")).as("tok")),
        id.toLong, "g", "tok", s"$r/store", s"$r/state", 3, 16).replaySkipped,
      r => rows(StreamSketch.currentSketch(spark, s"$r/store", s"$r/state")),
      Seq("the batch directory (before the marker)" ->
          Seq("state/cms_batch_1.done"),
        "the replay skip" -> Seq("store/cms/batch=1")),
      None),
    Op("StreamScd2",
      (r, id) => StreamScd2.applyBatch(spark, changes(id), id.toLong, "k",
        "ts", "id", "attr", s"$r/store", s"$r/state").replaySkipped,
      r => rows(StreamScd2.currentDimension(spark, s"$r/store", s"$r/state")),
      Seq("the batch directory (before the marker)" ->
          Seq("state/scd2_batch_1.done"),
        "the replay skip" -> Seq("store/changes/batch=1")),
      Some((r => StreamScd2.compact(spark, s"$r/store", s"$r/state"): Unit,
        Seq("store/changes"), "scd2_batch"))))

  private def delete(root: String, rel: String): Unit =
    assert(fs.delete(new Path(s"$root/$rel"), true), s"$rel was not written")

  ops.foreach { op =>
    test(s"${op.name}: a crash after every protocol step, replayed, reads " +
        "exactly like an uncrashed run") {
      val ref = tmp(s"graft_cb_${op.name}_ref")
      assert(!op.apply(ref, 0) && !op.apply(ref, 1))
      val afterOne = tmp(s"graft_cb_${op.name}_s1")
      copy(ref, afterOne)
      val readOne = op.read(afterOne)
      assert(!op.apply(ref, 2))
      val want = op.read(ref)
      // the crashes are cumulative: each deletes one more later step
      op.crashes.indices.foreach { i =>
        val what = op.crashes(i)._1
        val root = tmp(s"graft_cb_${op.name}_x")
        copy(afterOne, root)
        op.crashes.take(i + 1).flatMap(_._2).foreach(delete(root, _))
        assert(!op.apply(root, 1), s"crash after $what: replay skipped")
        assert(op.apply(root, 1), s"crash after $what: second replay ran")
        assert(op.read(root) == readOne, s"crash after $what: batch 1")
        assert(!op.apply(root, 2))
        assert(op.read(root) == want, s"crash after $what")
      }
    }

    op.compact.foreach { case (compact, subStores, prefix) =>
      test(s"${op.name}: a crash inside compaction — after the base, after " +
          "the manifest, part-way through retiring — reads unchanged and " +
          "heals on the next compaction") {
        val pre = tmp(s"graft_cb_${op.name}_pre")
        op.apply(pre, 0); op.apply(pre, 1)
        val readOne = op.read(pre)
        val post = tmp(s"graft_cb_${op.name}_post")
        copy(pre, post)
        compact(post)
        assert(op.read(post) == readOne)
        val ref = tmp(s"graft_cb_${op.name}_cref")
        copy(post, ref)
        op.apply(ref, 2)
        val want = op.read(ref)
        val bases = subStores.map(s => s"$s/base=1")
        val crashes = Seq(
          "the base" -> (bases, Seq.empty[String]),
          "the manifest" -> (bases :+ s"state/${prefix}_compact_1.done",
            Seq.empty[String]),
          "retiring the first sub-store's inputs" ->
            (bases :+ s"state/${prefix}_compact_1.done",
              Seq(s"${subStores.head}/batch=0", s"${subStores.head}/batch=1")))
        crashes.foreach { case (what, (written, retired)) =>
          val root = tmp(s"graft_cb_${op.name}_cx")
          copy(pre, root)
          written.foreach { rel =>
            val dst = new Path(s"$root/$rel")
            FileUtil.copy(fs, new Path(s"$post/$rel"), fs, dst, false,
              spark.sparkContext.hadoopConfiguration)
          }
          retired.foreach(delete(root, _))
          assert(op.read(root) == readOne, s"crash after $what")
          assert(op.apply(root, 1), s"crash after $what: batch 1 replayed")
          assert(!op.apply(root, 2))
          assert(op.read(root) == want, s"crash after $what")
          compact(root)
          assert(op.read(root) == want, s"crash after $what: recompaction")
          val leftovers = (0 to 2).flatMap(id =>
            subStores.map(s => s"$s/batch=$id") ++
              Seq(s"state/${prefix}_$id.done", s"state/${prefix}_$id.intent"))
            .filter(rel => fs.exists(new Path(s"$root/$rel")))
          assert(leftovers.isEmpty,
            s"crash after $what: folded inputs not retired: $leftovers")
        }
      }
    }
  }
}
