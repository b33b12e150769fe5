package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamSync

/** §2.10: foreachBatch MERGE sync — snapshots arriving as stream files are
  * applied to the target with the same classify/upsert semantics as the
  * batch engine; idempotent under checkpoint replay. */
class StreamSyncSpec extends SparkSpec {
  import spark.implicits._

  test("versionCol: newest version wins in-batch and is excluded from the hash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vc").toString
    val target = s"$dir/t.parquet"
    val state = s"$dir/state.parquet"
    // one batch holding two snapshot versions of doc 1 → v=2 wins
    val b1 = Seq(("1", "old", 1L), ("1", "new", 2L), ("2", "b", 1L))
      .toDF("_id", "name", "version")
    val r1 = StreamSync.applyBatch(spark, b1, target, state, Some("version"))
    assert(r1.newDocs == 2)
    val rows = spark.read.parquet(target).orderBy("_id")
      .select("_id", "name").as[(String, String)].collect().toSeq
    assert(rows == Seq(("1", "new"), ("2", "b")))
    // same content, bumped export version → must be UNCHANGED, not updated
    // (the version column is not part of the content hash)
    val b2 = Seq(("1", "new", 3L), ("2", "b", 3L)).toDF("_id", "name", "version")
    val r2 = StreamSync.applyBatch(spark, b2, target, state, Some("version"))
    assert(r2.updated == 0 && r2.unchanged == 2 && r2.newDocs == 0)
  }

  test("an empty first micro-batch yields zero tallies, not a null " +
      "observed metric; the next batch applies normally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_se").toString
    val target = s"$dir/t.parquet"
    val state = s"$dir/state.parquet"
    val empty = Seq.empty[(String, String)].toDF("_id", "name")
    val r0 = StreamSync.applyBatch(spark, empty, target, state)
    assert(r0 == graft.sync.SyncResult(0L, 0L, 0L, 0L, 0L), r0)
    val r1 = StreamSync.applyBatch(spark,
      Seq(("1", "a"), ("2", "b")).toDF("_id", "name"), target, state)
    assert(r1.newDocs == 2 && r1.updated == 0 && r1.unchanged == 0, r1)
    assert(spark.read.parquet(target).count() == 2)
  }

  test("streamed snapshots merge into the target; state carries forward") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ss").toString
    val src = s"$dir/src"
    val target = s"$dir/target.parquet"
    val state = s"$dir/state.parquet"
    // batch 1: two docs
    Seq(("1", "a", 1L), ("2", "b", 2L)).toDF("_id", "name", "v")
      .coalesce(1).write.mode("append").parquet(src)
    StreamSync.runAvailableNow(spark, src, target, state, s"$dir/cp1")
    assert(spark.read.parquet(target).count() == 2)
    // batch 2: update doc 1, add doc 3 — SAME checkpoint, so only the new
    // file forms the next micro-batch
    Seq(("1", "A", 1L), ("3", "c", 3L)).toDF("_id", "name", "v")
      .coalesce(1).write.mode("append").parquet(src)
    StreamSync.runAvailableNow(spark, src, target, state, s"$dir/cp1")
    val after = spark.read.parquet(target).orderBy("_id")
      .as[(String, String, Long)].collect().toSeq
    // doc 2 survives (absence from a later snapshot file ≠ delete in-stream)
    assert(after == Seq(("1", "A", 1L), ("2", "b", 2L), ("3", "c", 3L)))
    // re-run with the same checkpoint: no new files → no-op, target unchanged
    StreamSync.runAvailableNow(spark, src, target, state, s"$dir/cp1")
    val again = spark.read.parquet(target).orderBy("_id")
      .as[(String, String, Long)].collect().toSeq
    assert(again == after)
    // disaster replay: fresh checkpoint re-reads ALL files in one batch —
    // per-batch id dedupe + idempotent MERGE keep the target correct
    StreamSync.runAvailableNow(spark, src, target, state, s"$dir/cp2")
    val replayed = spark.read.parquet(target).orderBy("_id")
      .as[(String, String, Long)].collect().toSet
    assert(replayed.map(_._1) == Set("1", "2", "3"))
  }

  test("runAvailableNow threads childrenFor through foreachBatch — child " +
      "tables maintained across real micro-batches") {
    import graft.sync.ChildSync
    val dir = java.nio.file.Files.createTempDirectory("graft_ssr").toString
    val src = s"$dir/src"
    val target = s"$dir/odocs.parquet"
    val state = s"$dir/sync_state_odocs.parquet"
    // snapshot rows with an array column (decomposes to one child table)
    Seq(("1", "a", Seq(10L, 11L)), ("2", "b", Seq(20L)))
      .toDF("_id", "name", "vals")
      .coalesce(1).write.mode("append").parquet(src)
    val mk: org.apache.spark.sql.DataFrame => Seq[ChildSync] =
      cur => ChildSync.forSchema(cur, "odocs", dir)
    StreamSync.runAvailableNow(spark, src, target, state, s"$dir/cp",
      childrenFor = Some(mk))
    val childPath = s"$dir/odocs_vals.parquet"
    assert(spark.read.parquet(childPath).count() == 3)
    // second file: doc 1's array shrinks (array-only edit), doc 3 arrives
    Seq(("1", "a", Seq(10L)), ("3", "c", Seq(30L, 31L, 32L)))
      .toDF("_id", "name", "vals")
      .coalesce(1).write.mode("append").parquet(src)
    StreamSync.runAvailableNow(spark, src, target, state, s"$dir/cp",
      childrenFor = Some(mk))
    val child = spark.read.parquet(childPath)
    assert(child.filter($"odocs__id" === "1").count() == 1) // edit landed
    assert(child.filter($"odocs__id" === "2").count() == 1) // survived
    assert(child.filter($"odocs__id" === "3").count() == 3)
    assert(spark.read.parquet(target).count() == 3)
  }

  test("enabling childrenFor mid-stream fails loud: a micro-batch cannot " +
      "bootstrap children for parents it never saw") {
    import graft.sync.ChildSync
    val dir = java.nio.file.Files.createTempDirectory("graft_scg").toString
    val target = s"$dir/odocs.parquet"
    val state = s"$dir/sync_state_odocs.parquet"
    // batch 1 WITHOUT childrenFor: target holds docs, no child tables
    StreamSync.applyBatch(spark,
      Seq(("1", "a", Seq(10L))).toDF("_id", "name", "vals"), target, state)
    // batch 2 enables childrenFor: the child table is missing but the
    // target already holds doc 1 (never re-sent) — bootstrap-from-batch
    // would silently drop doc 1's children forever
    val mk: org.apache.spark.sql.DataFrame => Seq[ChildSync] =
      cur => ChildSync.forSchema(cur, "odocs", dir)
    val e = intercept[IllegalArgumentException](StreamSync.applyBatch(spark,
      Seq(("2", "b", Seq(20L))).toDF("_id", "name", "vals"), target, state,
      childrenFor = Some(mk)))
    assert(e.getMessage.contains("snapshot sync"), e.getMessage)
    // the abort is CLEAN: the guard fires BEFORE the main-table write, so
    // the guarded batch's upserts never landed and the state never moved
    // (previously the target held doc 2 with the state unadvanced —
    // idempotent under replay, but a half-applied abort)
    assert(spark.read.parquet(target).select("_id").as[String]
      .collect().toSet == Set("1"), "guarded batch mutated the target")
    assert(spark.read.parquet(state).count() == 1,
      "guarded batch advanced the state")
    // a FIRST-ever batch (no target yet) bootstraps children fine
    val dir2 = java.nio.file.Files.createTempDirectory("graft_scg2").toString
    val mk2: org.apache.spark.sql.DataFrame => Seq[ChildSync] =
      cur => ChildSync.forSchema(cur, "odocs", dir2)
    val r = StreamSync.applyBatch(spark,
      Seq(("1", "a", Seq(10L, 11L))).toDF("_id", "name", "vals"),
      s"$dir2/odocs.parquet", s"$dir2/sync_state_odocs.parquet",
      childrenFor = Some(mk2))
    assert(r.newDocs == 1)
    assert(r.children.get("odocs_vals").contains(
      graft.sync.ChildCounts(2L, 0L)), r.children)
  }

  test("feed-mode streaming: deletes land, op tags validate, and the " +
      "result carries the feed tallies") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sfd").toString
    val (target, state) = (s"$dir/t", s"$dir/s")
    val nB = 4
    graft.sync.IncrementalSync.runPartitioned(spark,
      (1L to 20L).map(i => (i.toString, s"v$i")).toDF("_id", "payload"),
      target, state, nB)
    // upsert doc 3 + delete doc 7 in one feed batch
    val feed = Seq(("3", "CHANGED", "upsert"), ("7", "v7", "delete"))
      .toDF("_id", "payload", "_op")
    val r = StreamSync.applyFeedBatch(spark, feed, target, state, nB)
    assert(r.updated == 1 && r.deleted == 1 && r.newDocs == 0, r)
    val after = spark.read.parquet(target).select("_id", "payload")
      .as[(String, String)].collect().toMap
    assert(after("3") == "CHANGED" && !after.contains("7") &&
      after.size == 19)
    // unknown op tag fails loud
    val bad = Seq(("9", "x", "replace")).toDF("_id", "payload", "_op")
    intercept[IllegalArgumentException](
      StreamSync.applyFeedBatch(spark, bad, target, state, nB))
    // a NULL op tag must hit the SAME loud guard: `!isin(...)` is NULL
    // (not true) for null tags, so without the explicit isNull arm the
    // row passes the guard and is then excluded from both the upsert and
    // delete filters — silent row loss
    val nullTag = Seq(("9", "x", "upsert"), ("10", "y", null))
      .toDF("_id", "payload", "_op")
    val eNull = intercept[IllegalArgumentException](
      StreamSync.applyFeedBatch(spark, nullTag, target, state, nB))
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
    // and the guarded batch touched nothing (doc 9's upsert never landed)
    assert(spark.read.parquet(target).filter($"_id" === "9")
      .select("payload").as[String].head() == "v9")
    // a feed cannot bootstrap: missing target/state fails loud
    intercept[IllegalArgumentException](StreamSync.applyFeedBatch(spark,
      feed, s"$dir/nope_t", s"$dir/nope_s", nB))
  }

  test("feed-mode streaming: checkpoint replay is idempotent; a fresh-" +
      "checkpoint disaster replay that merges an upsert and a later " +
      "delete of the SAME id fails loud instead of guessing an order") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sfr").toString
    val (target, state) = (s"$dir/t", s"$dir/s")
    val nB = 4
    graft.sync.IncrementalSync.runPartitioned(spark,
      (1L to 12L).map(i => (i.toString, s"v$i")).toDF("_id", "payload"),
      target, state, nB)
    val feedDir = s"$dir/feed"
    // feed file 1: update doc 3; feed file 2: delete doc 3
    Seq(("3", "CHANGED", "upsert")).toDF("_id", "payload", "_op")
      .coalesce(1).write.mode("append").parquet(feedDir)
    graft.streaming.StreamSync.runFeedAvailableNow(spark, feedDir,
      target, state, s"$dir/cp", nB)
    Seq(("3", "CHANGED", "delete")).toDF("_id", "payload", "_op")
      .coalesce(1).write.mode("append").parquet(feedDir)
    graft.streaming.StreamSync.runFeedAvailableNow(spark, feedDir,
      target, state, s"$dir/cp", nB)
    assert(spark.read.parquet(target).filter($"_id" === "3").count() == 0)
    // same checkpoint, no new files: no-op
    graft.streaming.StreamSync.runFeedAvailableNow(spark, feedDir,
      target, state, s"$dir/cp", nB)
    assert(spark.read.parquet(target).count() == 11)
    // a FRESH checkpoint re-reads all feed files as ONE batch, merging
    // the upsert and the delete of doc 3 — order across original batches
    // is lost, so the two-sided-id guard must fail LOUDLY (a replayer
    // must re-partition the feed, not let the engine guess)
    val e = intercept[Exception](
      graft.streaming.StreamSync.runFeedAvailableNow(spark, feedDir,
        target, state, s"$dir/cp_fresh", nB))
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(e).contains("both upserts and deletes"), e)
    // the failed replay left the target untouched
    assert(spark.read.parquet(target).count() == 11)
  }

  test("feed-mode streaming with children: child churn lands through the " +
      "bucket-pruned path and the tallies ride the result") {
    import graft.sync.ChildSync
    val dir = java.nio.file.Files.createTempDirectory("graft_sfc").toString
    val (target, state) = (s"$dir/odocs.parquet", s"$dir/s")
    val nB = 4
    val docs = Seq(
      ("1", "a", Seq(10L, 11L)), ("2", "b", Seq(20L)), ("3", "c", Seq(30L)))
      .toDF("_id", "name", "vals")
    val mk: org.apache.spark.sql.DataFrame => Seq[ChildSync] =
      cur => ChildSync.forSchema(cur, "odocs", dir)
    // bootstrap main+children via a snapshot sync (feed cannot bootstrap);
    // full-doc hash canon so the array edit below classifies updated
    graft.sync.IncrementalSync.runPartitioned(spark,
      graft.sync.DocHash.fullDocHash(docs), target, state, nB,
      children = mk(docs))
    assert(spark.read.parquet(s"$dir/odocs_vals.parquet").count() == 4)
    // feed: doc 1's array shrinks (subtree edit), doc 3 deleted
    val feed = Seq(("1", "a", Seq(10L), "upsert"), ("3", "c", Seq(30L), "delete"))
      .toDF("_id", "name", "vals", "_op")
    val r = StreamSync.applyFeedBatch(spark,
      graft.sync.DocHash.fullDocHash(feed, exclude = Set("_op")),
      target, state, nB, childrenFor = Some(mk))
    assert(r.updated == 1 && r.deleted == 1, r)
    val child = spark.read.parquet(s"$dir/odocs_vals.parquet")
    assert(child.filter($"odocs__id" === "1").count() == 1)
    assert(child.filter($"odocs__id" === "3").count() == 0) // orphan cleanup
    assert(child.filter($"odocs__id" === "2").count() == 1) // untouched
    assert(r.children.get("odocs_vals").contains(
      graft.sync.ChildCounts(1L, 3L)), r.children)
  }

  test("decompose-aware streaming: child tables merge per batch; an " +
      "unchanged batch leaves them byte-untouched; array churn lands") {
    import graft.sync.ChildSync
    val out = java.nio.file.Files.createTempDirectory("graft_ssc").toString
    val target = s"$out/odocs.parquet"
    val state = s"$out/sync_state_odocs.parquet"
    val docs = Tables.orderDocsWhere(spark, sfDir, k => k % 100 === 0)
    val mk: org.apache.spark.sql.DataFrame => Seq[ChildSync] =
      cur => ChildSync.forSchema(cur, "odocs", out)
    val r0 = StreamSync.applyBatch(spark, docs, target, state,
      childrenFor = Some(mk))
    assert(r0.newDocs > 0)
    def liSnap(): Set[(String, Long, Long)] =
      new java.io.File(s"$out/odocs_lineitems.parquet").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val before = liSnap()
    assert(before.nonEmpty)
    // unchanged batch: no child rewrite at all (file-level no-op)
    val r1 = StreamSync.applyBatch(spark, docs, target, state,
      childrenFor = Some(mk))
    assert(r1.unchanged > 0 && r1.updated == 0 && r1.newDocs == 0)
    assert(liSnap() == before, "unchanged batch rewrote a child table")
    // array-only churn of one doc: visible (full-doc canon) and applied
    val minId = docs.agg(min($"_id".cast("long"))).head().getLong(0).toString
    val v2 = docs.filter($"_id" === minId)
      .withColumn("lineitems", slice($"lineitems", 1, 1))
    val r2 = StreamSync.applyBatch(spark, v2, target, state,
      childrenFor = Some(mk))
    assert(r2.updated == 1, r2)
    val li = spark.read.parquet(s"$out/odocs_lineitems.parquet")
    assert(li.filter($"odocs__id" === minId).count() == 1)
    // stream rule: absent docs were NOT deleted — their children survive
    assert(spark.read.parquet(target).count() == docs.count())
    assert(li.join(spark.read.parquet(target).select($"_id".as("odocs__id")),
      Seq("odocs__id"), "left_anti").count() == 0)
  }
}
