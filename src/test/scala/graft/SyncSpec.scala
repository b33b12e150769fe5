package graft

import org.apache.spark.sql.functions._
import graft.io.StateStore
import graft.sync.{DocHash, IncrementalSync}

/** Mirrors Tests/Sync.Tests.ps1 — the golden classification matrix
  * (FIXTURES.md §1.5) and the hash canon (§1.7). */
class SyncSpec extends SparkSpec {
  import spark.implicits._

  test("X1/Q6: doc hash is uppercase MD5 of sorted stringified flat JSON") {
    // independent reference computation via MessageDigest
    val json = """{"_id":"1","age":"30","name":"Jan"}"""
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest(json.getBytes("UTF-8"))
      .map("%02X".format(_)).mkString
    val got = Seq(("1", "Jan", 30L)).toDF("_id", "name", "age")
      .select(DocHash.docHash(Seq("_id", "name", "age")).as("h"))
      .head().getString(0)
    assert(got == expected)
  }

  test("X1: nulls stringify to empty string in the canon (Sync.ps1:373)") {
    val df = Seq(("1", Option.empty[String])).toDF("_id", "name")
    val json = df.select(DocHash.canonicalJson(Seq("_id", "name")).as("j"))
      .head().getString(0)
    assert(json == """{"_id":"1","name":""}""")
  }

  test("J1: golden classification matrix (Tests/Sync.Tests.ps1:76-130)") {
    // snapshot: 1 (changed), 2 (same), 4 (new); state: 1 OLDHASH, 2 <real>, 3 TODELETE
    val snapshot = Seq(("1", "Jan gewijzigd"), ("2", "Piet"), ("4", "Klaas"))
      .toDF("_id", "name")
      .withColumn("doc_hash", DocHash.docHash(Seq("_id", "name")))
    val hash2 = snapshot.filter($"_id" === "2").select("doc_hash").head().getString(0)
    val state = Seq(("1", "OLDHASH"), ("2", hash2), ("3", "TODELETE"))
      .toDF("_id", "hash")
    val cls = IncrementalSync.classify(snapshot, state)
    val m = cls.select("_id", "change_type").as[(String, String)].collect().toMap
    assert(m == Map("1" -> "updated", "2" -> "unchanged", "3" -> "deleted", "4" -> "new"))
    val r = IncrementalSync.metrics(cls)
    assert(r.newDocs == 1 && r.updated == 1 && r.deleted == 1 && r.unchanged == 1)
    assert(r.totalProcessed == 3)
  }

  test("J3: next state carries hashes for present ids, drops deleted") {
    val snapshot = Seq(("1", "a"), ("2", "b")).toDF("_id", "name")
      .withColumn("doc_hash", DocHash.docHash(Seq("_id", "name")))
    val state = Seq(("2", "STALE"), ("3", "GONE")).toDF("_id", "hash")
    val next = IncrementalSync.nextState(IncrementalSync.classify(snapshot, state))
    val ids = next.select("_id").as[String].collect().sorted
    assert(ids.toSeq == Seq("1", "2"))
    assert(next.filter($"hash" === "STALE").isEmpty) // stale hash refreshed
  }

  test("sync run end-to-end: diff∘apply = identity (idempotent MERGE)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sync").toString
    val target = s"$dir/t.parquet"
    val state = s"$dir/state.parquet"
    val v1 = Seq(("1", "a", 1L), ("2", "b", 2L), ("3", "c", 3L))
      .toDF("_id", "name", "v")
    v1.write.parquet(target)
    StateStore.save(spark, v1
      .withColumn("hash", DocHash.docHash(Seq("_id", "name", "v")))
      .select("_id", "hash"), state)
    // v2: update 1, delete 2, insert 4
    val v2 = Seq(("1", "A", 1L), ("3", "c", 3L), ("4", "d", 4L))
      .toDF("_id", "name", "v")
    val r = IncrementalSync.run(spark, v2, target, state)
    assert(r.newDocs == 1 && r.updated == 1 && r.deleted == 1 && r.unchanged == 1)
    val after = spark.read.parquet(target).orderBy("_id")
      .as[(String, String, Long)].collect().toSeq
    assert(after == Seq(("1", "A", 1L), ("3", "c", 3L), ("4", "d", 4L)))
    // idempotence: second run is all-unchanged, target identical
    val r2 = IncrementalSync.run(spark, v2, target, state)
    assert(r2.newDocs == 0 && r2.updated == 0 && r2.deleted == 0 && r2.unchanged == 3)
    val again = spark.read.parquet(target).orderBy("_id")
      .as[(String, String, Long)].collect().toSeq
    assert(again == after)
  }

  test("run with child tables hashes an unhashed source over the full " +
      "document: a nested-only edit classifies updated and lands in the " +
      "child table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nsync").toString
    val (target, state) = (s"$dir/tdocs.parquet", s"$dir/state.parquet")
    def docs(firstQty: Long) = Seq(
        ("1", "a", Seq(firstQty, 2L)), ("2", "b", Seq(3L)), ("3", "c", Seq(4L)))
      .toDF("_id", "name", "qtys")
      .select($"_id", $"name",
        transform($"qtys", q => struct(q.as("qty"))).as("items"))
    val v1 = docs(1L)
    v1.limit(0).write.parquet(target)
    def sync(v: org.apache.spark.sql.DataFrame) = IncrementalSync.run(spark,
      v, target, state,
      children = graft.sync.ChildSync.forSchema(v, "tdocs", dir))
    assert(sync(v1).newDocs == 3)
    // only doc 1's first array element changes; no flat field moves
    val r = sync(docs(9L))
    assert(r.updated == 1 && r.unchanged == 2, r)
    val items = spark.read.parquet(s"$dir/tdocs_items.parquet")
    assert(items.filter($"tdocs__id" === "1").select("qty").as[Long]
      .collect().sorted.toSeq == Seq(2L, 9L))
  }

  test("runPartitioned rewrites ONLY the buckets holding churned ids " +
      "(file names + mtimes untouched elsewhere); an emptied bucket's " +
      "directory is removed") {
    import graft.sync.IncrementalSync.runPartitioned
    val dir = java.nio.file.Files.createTempDirectory("graft_psync").toString
    val target = s"$dir/t"
    val state = s"$dir/s"
    val nB = 8
    def mkSrc(rows: Seq[(Long, String)]) = rows.toDF("_id", "payload")
    def bucketOf(id: Long): Int = Seq(id).toDF("_id")
      .select(pmod(hash($"_id".cast("string")), lit(nB))).head().getInt(0)
    def readBack() = spark.read.parquet(target)
      .select("_id", "payload").as[(Long, String)].collect().toSet
    // per-bucket file snapshot: (name, length, mtime) per partition dir
    def snap(): Map[String, Set[(String, Long, Long)]] = {
      val root = new java.io.File(target)
      root.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("__bucket=")).map { d =>
        d.getName -> d.listFiles().filterNot(_.getName.startsWith("."))
          .map(f => (f.getName, f.length(), f.lastModified())).toSet
      }.toMap
    }
    val base = (1L to 64L).map(i => (i, s"v$i"))
    val r1 = runPartitioned(spark, mkSrc(base), target, state, nB)
    assert(r1.newDocs == 64 && readBack() == base.toSet)
    val before = snap()
    assert(before.keySet == (0 until nB).map(b => s"__bucket=$b").toSet)
    // sync 2: update exactly one id — only its bucket may be rewritten
    val hot = 7L
    val v2 = base.map { case (i, v) => (i, if (i == hot) "CHANGED" else v) }
    val r2 = runPartitioned(spark, mkSrc(v2), target, state, nB)
    assert(r2.updated == 1 && r2.newDocs == 0 && r2.deleted == 0 &&
      r2.unchanged == 63)
    val after = snap()
    val hotDir = s"__bucket=${bucketOf(hot)}"
    for ((d, files) <- before if d != hotDir)
      assert(after(d) == files, s"untouched bucket rewritten: $d")
    assert(after(hotDir) != before(hotDir), "changed bucket not rewritten")
    assert(readBack() == v2.toSet)
    // sync 3: delete every id of one bucket — its directory disappears;
    // all other buckets again keep their exact files
    val victimB = bucketOf(1L)
    val v3 = v2.filterNot { case (i, _) => bucketOf(i) == victimB }
    assert(v3.size < v2.size) // the bucket was nonempty
    val r3 = runPartitioned(spark, mkSrc(v3), target, state, nB)
    assert(r3.deleted == (v2.size - v3.size) && r3.updated == 0)
    val gone = snap()
    assert(!gone.contains(s"__bucket=$victimB"), "emptied bucket dir kept")
    for ((d, files) <- after if d != s"__bucket=$victimB")
      assert(gone(d) == files, s"untouched bucket rewritten on delete: $d")
    assert(readBack() == v3.toSet)
    // idempotence through the scoped path
    val r4 = runPartitioned(spark, mkSrc(v3), target, state, nB)
    assert(r4.totalProcessed == 0 && r4.unchanged == v3.size)
    assert(snap() == gone && readBack() == v3.toSet)
  }

  test("decompose-aware sync (legacy mode): an array-only edit lands in " +
      "the child table, a delete leaves no orphans, children bootstrap " +
      "when missing") {
    import graft.workflow.{MigrationConfig, MigrationWorkflow}
    val out = java.nio.file.Files.createTempDirectory("graft_csync").toString
    val docs = Tables.orderDocsWhere(spark, sfDir, k => k % 100 === 0)
    val cfg = MigrationConfig("odocs", out)
    MigrationWorkflow.incrementalMigration(spark, docs, cfg) // full bootstrap
    MigrationWorkflow.incrementalMigration(spark, docs, cfg) // all-new
    val ids = docs.select($"_id".cast("long")).as[Long].collect().sorted
    val (minId, maxId) = (ids.head.toString, ids.last.toString)
    val liBefore = spark.read.parquet(s"$out/odocs_lineitems.parquet")
      .filter($"odocs__id" === minId).count()
    assert(liBefore >= 1)
    val v2 = docs.filter($"_id" =!= maxId)
      .withColumn("lineitems",
        when($"_id" === minId, slice($"lineitems", 1, 1))
          .otherwise($"lineitems"))
    val r = MigrationWorkflow.incrementalMigration(spark, v2, cfg)
      .toOption.get
    // the array-only edit is VISIBLE (full-doc canon) and applied
    assert(r.updated == 1 && r.deleted == 1)
    val li = spark.read.parquet(s"$out/odocs_lineitems.parquet")
    assert(li.filter($"odocs__id" === minId).count() == 1)
    assert(li.filter($"odocs__id" === maxId).count() == 0)
    val main = spark.read.parquet(s"$out/odocs.parquet")
    assert(li.join(main.select($"_id".as("odocs__id")),
      Seq("odocs__id"), "left_anti").count() == 0)
    // child table missing on disk → next sync bootstraps it in full
    val tagsPath = new java.io.File(s"$out/odocs_tags.parquet")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(tagsPath)
    assert(!tagsPath.exists())
    MigrationWorkflow.incrementalMigration(spark, v2, cfg) // all-unchanged
    assert(spark.read.parquet(s"$out/odocs_tags.parquet").count() ==
      2 * (ids.length - 1))
  }

  test("decompose-aware sync (bucketed mode): children share the parent's " +
      "changed-bucket pruning — untouched child buckets byte-identical") {
    import graft.workflow.{MigrationConfig, MigrationWorkflow}
    val out = java.nio.file.Files.createTempDirectory("graft_cbsync").toString
    val docs = Tables.orderDocsWhere(spark, sfDir, k => k % 100 === 0)
    val nB = 4
    val cfg = MigrationConfig("odocs", out, syncBuckets = Some(nB))
    MigrationWorkflow.incrementalMigration(spark, docs, cfg) // full bootstrap
    MigrationWorkflow.incrementalMigration(spark, docs, cfg) // adopt layout
    MigrationWorkflow.incrementalMigration(spark, docs, cfg) // steady
    def snap(table: String): Map[String, Set[(String, Long, Long)]] = {
      val root = new java.io.File(s"$out/$table.parquet")
      root.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("__bucket=")).map { d =>
        d.getName -> d.listFiles().filterNot(_.getName.startsWith("."))
          .map(f => (f.getName, f.length(), f.lastModified())).toSet
      }.toMap
    }
    val before = snap("odocs_lineitems")
    assert(before.nonEmpty, "child table was not adopted into buckets")
    assert(new java.io.File(s"$out/odocs_lineitems.parquet/_graft_buckets")
      .exists(), "child bucket count not stamped")
    val minId = docs.agg(min($"_id".cast("long"))).head().getLong(0).toString
    val hotBucket = Seq(minId).toDF("_id")
      .select(pmod(hash($"_id".cast("string")), lit(nB))).head().getInt(0)
    val v2 = docs.withColumn("lineitems",
      when($"_id" === minId, slice($"lineitems", 1, 1))
        .otherwise($"lineitems"))
    val r = MigrationWorkflow.incrementalMigration(spark, v2, cfg)
      .toOption.get
    assert(r.updated == 1, r)
    val after = snap("odocs_lineitems")
    for ((d, files) <- before if d != s"__bucket=$hotBucket")
      assert(after(d) == files, s"untouched child bucket rewritten: $d")
    assert(after(s"__bucket=$hotBucket") != before(s"__bucket=$hotBucket"),
      "churned child bucket not rewritten")
    val li = spark.read.parquet(s"$out/odocs_lineitems.parquet")
    assert(li.filter($"odocs__id" === minId).count() == 1)
    // a MISSING child heals on a no-change sync, adopting the bucketed
    // layout (same contract as the whole-table mode's applyChildren)
    val tagsDir = new java.io.File(s"$out/odocs_tags.parquet")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(tagsDir)
    assert(!tagsDir.exists())
    val r2 = MigrationWorkflow.incrementalMigration(spark, v2, cfg)
      .toOption.get
    assert(r2.totalProcessed == 0, r2)
    assert(tagsDir.listFiles().exists(_.getName.startsWith("__bucket=")),
      "healed child table did not adopt the bucketed layout")
    assert(spark.read.parquet(s"$out/odocs_tags.parquet").count() ==
      2 * docs.count())
  }

  test("runFromChangeFeed: matches snapshot-diff semantics, rewrites only " +
      "the feed's buckets, ignores unknown deletes, rejects two-sided ids") {
    import graft.sync.IncrementalSync.{runFromChangeFeed, runPartitioned}
    val dir = java.nio.file.Files.createTempDirectory("graft_feed").toString
    val (target, state) = (s"$dir/t", s"$dir/s")
    val nB = 8
    val base = (1L to 64L).map(i => (i, s"v$i"))
    runPartitioned(spark, base.toDF("_id", "payload"), target, state, nB)
    def snap(): Map[String, Set[(String, Long, Long)]] = {
      val root = new java.io.File(target)
      root.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("__bucket=")).map { d =>
        d.getName -> d.listFiles().filterNot(_.getName.startsWith("."))
          .map(f => (f.getName, f.length(), f.lastModified())).toSet
      }.toMap
    }
    def bucketOf(id: Long): Int = Seq(id).toDF("_id")
      .select(pmod(hash($"_id".cast("string")), lit(nB))).head().getInt(0)
    val before = snap()
    // feed: update 7, delete 12 — no snapshot of the other 62 ids exists
    val r = runFromChangeFeed(spark,
      upserts = Seq((7L, "CHANGED")).toDF("_id", "payload"),
      deletes = Seq(12L).toDF("_id"), target, state, nB)
    assert(r.updated == 1 && r.deleted == 1 && r.newDocs == 0, r)
    val expect = base.map { case (i, v) =>
      (i, if (i == 7L) "CHANGED" else v) }.filterNot(_._1 == 12L).toSet
    assert(spark.read.parquet(target).select("_id", "payload")
      .as[(Long, String)].collect().toSet == expect)
    val after = snap()
    val touched = Set(bucketOf(7L), bucketOf(12L)).map(b => s"__bucket=$b")
    for ((d, files) <- before if !touched(d))
      assert(after(d) == files, s"untouched bucket rewritten by feed: $d")
    // state stayed classify-correct: replaying the SAME feed as a
    // snapshot-upsert now reports unchanged (hash carried), and the next
    // full snapshot diff agrees nothing changed
    val r2 = runFromChangeFeed(spark,
      upserts = Seq((7L, "CHANGED")).toDF("_id", "payload"),
      deletes = Seq(12L).toDF("_id"), target, state, nB)
    assert(r2.unchanged == 1 && r2.updated == 0 && r2.deleted == 0, r2)
    val r3 = runPartitioned(spark,
      expect.toSeq.toDF("_id", "payload"), target, state, nB)
    assert(r3.totalProcessed == 0 && r3.unchanged == 63, r3)
    // unknown delete: idempotent no-op
    val r4 = runFromChangeFeed(spark,
      upserts = Seq.empty[(Long, String)].toDF("_id", "payload"),
      deletes = Seq(999L).toDF("_id"), target, state, nB)
    assert(r4.totalProcessed == 0, r4)
    // an id on both sides of one batch has no defined order — loud
    intercept[IllegalArgumentException](runFromChangeFeed(spark,
      upserts = Seq((7L, "x")).toDF("_id", "payload"),
      deletes = Seq(7L).toDF("_id"), target, state, nB))
    // a feed cannot BOOTSTRAP the main table either: a first-ever feed
    // sync would materialize a target/state holding only the feed's docs
    // and silently drop deletes of docs the empty state never saw
    val e = intercept[IllegalArgumentException](runFromChangeFeed(spark,
      upserts = Seq((1L, "x")).toDF("_id", "payload"),
      deletes = Seq.empty[Long].toDF("_id"),
      s"$dir/fresh_t", s"$dir/fresh_s", nB))
    assert(e.getMessage.contains("snapshot sync"), e.getMessage)
    // two upserts of one id in one batch have no defined order either —
    // applying both would duplicate the row in the id-keyed target
    val e2 = intercept[IllegalArgumentException](runFromChangeFeed(spark,
      upserts = Seq((8L, "x"), (8L, "y")).toDF("_id", "payload"),
      deletes = Seq.empty[Long].toDF("_id"), target, state, nB))
    assert(e2.getMessage.contains("more than once"), e2.getMessage)
  }

  test("fromSchema derives the same model layout as the profiled compile") {
    import graft.model.RelationalModel
    def shape(m: Seq[graft.model.TableSpec]) =
      m.map(t => (t.name, t.kind.toString, t.sourcePath, t.fkColumn,
        t.parentTable, t.columns.map(_.name))).sortBy(_._1)
    // third shape: array elements carrying NON-scalar fields (a struct and
    // a nested array) — round-13 advice item: compile must apply the same
    // scalar filter as fromSchema or the two layouts diverge and every
    // sync of the child takes the schema-drift full-rewrite path
    val tricky = spark.range(3).select(
      col("id").cast("string").as("_id"),
      array(struct(col("id").as("qty"),
        struct(col("id").as("inner_a"), (col("id") * 2).as("inner_b"))
          .as("meta"),
        array(col("id")).as("subarr"))).as("items"),
      lit("n").as("name"))
    for ((docs, coll) <- Seq(
        (Tables.orderDocsWhere(spark, sfDir, k => k % 100 === 0), "odocs"),
        // second document shape (nested nation + array-of-OBJECTS orders,
        // no primitive array): the genericity check
        (Tables.customerDocs(spark, sfDir), "cdocs"),
        (tricky, "tdocs"))) {
      val profiled = RelationalModel.compile(
        graft.profile.SchemaProfiler.collectProfile(docs), coll)
      val static = RelationalModel.fromSchema(docs.schema, coll)
      assert(shape(static) == shape(profiled), coll)
    }
  }

  test("decompose-aware sync generalizes to the customer-document shape " +
      "(array-of-objects churn lands; feed mode refuses to bootstrap " +
      "children)") {
    import graft.workflow.{MigrationConfig, MigrationWorkflow}
    val out = java.nio.file.Files.createTempDirectory("graft_ccsync").toString
    val docs = Tables.customerDocs(spark, sfDir)
      .filter($"_id".cast("long") % 10 === 0)
    val cfg = MigrationConfig("cdocs", out)
    MigrationWorkflow.incrementalMigration(spark, docs, cfg) // full bootstrap
    MigrationWorkflow.incrementalMigration(spark, docs, cfg) // all-new
    val minId = docs.agg(min($"_id".cast("long"))).head().getLong(0).toString
    val before = spark.read.parquet(s"$out/cdocs_orders.parquet")
      .filter($"cdocs__id" === minId).count()
    assert(before >= 1)
    val v2 = docs.withColumn("orders",
      when($"_id" === minId, slice($"orders", 1, 1)).otherwise($"orders"))
    val r = MigrationWorkflow.incrementalMigration(spark, v2, cfg)
      .toOption.get
    assert(r.updated == 1, r)
    assert(spark.read.parquet(s"$out/cdocs_orders.parquet")
      .filter($"cdocs__id" === minId).count() == 1)
    // feed mode: a missing child table is a loud error, never a silent
    // churn-only bootstrap
    val miss = graft.sync.ChildSync(s"$out/cdocs_nope.parquet", "cdocs__id",
      ids => v2.join(ids.select("_id"), Seq("_id"), "left_semi")
        .select($"_id".as("cdocs__id"), $"c_name"))
    val e = intercept[IllegalArgumentException](
      graft.sync.IncrementalSync.runFromChangeFeed(spark,
        upserts = v2.filter($"_id" === minId).select("_id", "c_name",
          "c_acctbal", "c_mktsegment"),
        deletes = v2.limit(0).select("_id"),
        s"$out/feed_t", s"$out/feed_s", 4, children = Seq(miss)))
    assert(e.getMessage.contains("cannot bootstrap children"), e)
  }

  test("runPartitioned crash recovery: a committed staging dir rolls " +
      "FORWARD on the next run; a manifest-less orphan is discarded; " +
      "a changed bucket count fails loudly") {
    import graft.sync.IncrementalSync.{runFromChangeFeed, runPartitioned}
    import org.apache.hadoop.fs.Path
    val nB = 4
    def mkSrc(rows: Seq[(Long, String)]) = rows.toDF("_id", "payload")
    def bucketOf(id: Long): Int = Seq(id).toDF("_id")
      .select(pmod(hash($"_id".cast("string")), lit(nB))).head().getInt(0)
    val base = (1L to 32L).map(i => (i, s"v$i"))
    // both changed-bucket entry points share the recovery and the pin; the
    // feed re-sends the unchanged corpus, the snapshot diffs it
    val entries: Seq[(String, (String, String, Int) =>
        graft.sync.SyncResult)] = Seq(
      "runPartitioned" -> ((t, s, n) =>
        runPartitioned(spark, mkSrc(base), t, s, n)),
      "runFromChangeFeed" -> ((t, s, n) =>
        runFromChangeFeed(spark, mkSrc(base), Seq.empty[Long].toDF("_id"),
          t, s, n)))
    entries.foreach { case (entry, sync) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_rsync").toString
      val target = s"$dir/t"
      val state = s"$dir/s"
      val fs = new Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a feed cannot bootstrap: both entries start from a snapshot sync
      runPartitioned(spark, mkSrc(base), target, state, nB)

      // simulate a crash AFTER the manifest commit but BEFORE the swap: the
      // staged bucket holds the ONLY copy of its new data (the old protocol
      // deleted staging on the next run — permanent silent loss)
      val b = bucketOf(7L)
      val staged = base.filter { case (i, _) => bucketOf(i) == b }
        .map { case (i, _) => (i, "RECOVERED") }
      val staging = s"$target.__stage__"
      staged.toDF("_id", "payload")
        .withColumn("__bucket", pmod(hash($"_id".cast("string")), lit(nB)))
        .write.partitionBy("__bucket").parquet(staging)
      val out = fs.create(new Path(staging, "__swap_manifest__"), true)
      out.write(s"changed:$b\nstaged:$b\n".getBytes("UTF-8")); out.close()
      // next run (no source churn) must roll the staged bucket forward
      val r = sync(target, state, nB)
      assert(!fs.exists(new Path(staging)), s"$entry: staging dir not cleaned up")
      val rows = spark.read.parquet(target).select("_id", "payload")
        .as[(Long, String)].collect().toMap
      staged.foreach { case (i, _) =>
        assert(rows(i) == "RECOVERED", s"$entry: staged row $i not rolled forward") }
      // NOTE the sync above saw the rolled-forward target but diffs against
      // STATE, so the recovered rows stay in place (r counts vs state)
      assert(r.totalProcessed == 0, s"$entry: $r")

      // manifest-less orphan (crash mid-stage-write): discarded, live intact
      val liveBefore = spark.read.parquet(target).select("_id", "payload")
        .as[(Long, String)].collect().toSet
      Seq((7L, "GARBAGE")).toDF("_id", "payload")
        .withColumn("__bucket", lit(b))
        .write.partitionBy("__bucket").parquet(staging)
      sync(target, state, nB)
      assert(!fs.exists(new Path(staging)), entry)
      assert(spark.read.parquet(target).select("_id", "payload")
        .as[(Long, String)].collect().toSet == liveBefore, entry)

      // bucket-count pin: a different count would silently split the keys;
      // the message names the layout, not the entry point
      val e = intercept[IllegalArgumentException](sync(target, state, nB + 1))
      assert(e.getMessage.contains(s"$target was laid out with $nB buckets " +
        s"but this run asked for ${nB + 1}"), s"$entry: ${e.getMessage}")
      assert(!e.getMessage.contains("runPartitioned"), e.getMessage)
    }
  }

  test("runPartitioned schema drift: snapshot-borne drift churns every doc " +
      "(hash covers the new column), so every bucket carries it") {
    import graft.sync.IncrementalSync.runPartitioned
    val dir = java.nio.file.Files.createTempDirectory("graft_dsync").toString
    val target = s"$dir/t"
    val state = s"$dir/s"
    val nB = 4
    val base = (1L to 32L).map(i => (i, s"v$i"))
    runPartitioned(spark, base.toDF("_id", "payload"), target, state, nB)
    // v2 adds a VALUED column on every doc: every hash changes, so the
    // churn set covers every bucket — the rewrite is full because the
    // CHURN is full (drift itself no longer escalates the rewrite; the
    // schema stamp + pinned read handle partial-churn drift, see the
    // feed-drift test below)
    val v2 = base.map { case (i, v) =>
      (i, if (i == 7L) "CHANGED" else v, s"extra$i") }
      .toDF("_id", "payload", "note")
    val r = runPartitioned(spark, v2, target, state, nB)
    assert(r.updated == 32, "adding a column changes every doc hash")
    // every bucket directory, read ALONE, carries the new column (full
    // churn rewrote them all)
    val root = new java.io.File(target)
    val bucketDirs = root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val cols = spark.read.parquet(d.toString).columns.toSet
      assert(cols.contains("note"), s"old-schema files left in ${d.getName}")
    }
    val got = spark.read.parquet(target).select("_id", "payload", "note")
      .as[(Long, String, String)].collect().toSet
    assert(got == v2.as[(Long, String, String)].collect().toSet)
  }

  test("feed-borne schema drift is CHURN-SCOPED: one drifting upsert " +
      "rewrites one bucket, the stamp + pinned read make the mixed-schema " +
      "layout correct, and crash recovery preserves it") {
    import graft.sync.IncrementalSync
    import graft.sync.IncrementalSync.{runFromChangeFeed, runPartitioned}
    val dir = java.nio.file.Files.createTempDirectory("graft_fdrift").toString
    val target = s"$dir/t"
    val state = s"$dir/s"
    val nB = 4
    val base = (1L to 32L).map(i => (i, s"v$i"))
    runPartitioned(spark, base.toDF("_id", "payload"), target, state, nB)
    def census(): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(target).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles().filter(_.isFile)
          .map(f => (f.getName, f.length(), f.lastModified())).toSet).toMap
    val before = census()
    // ONE upsert carrying a brand-new column
    val r = runFromChangeFeed(spark,
      Seq((7L, "CHANGED", "fresh")).toDF("_id", "payload", "note"),
      Seq.empty[Long].toDF("_id"), target, state, nB)
    assert(r.updated == 1 && r.newDocs == 0, r)
    val after = census()
    val rewritten = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(rewritten.size == 1,
      s"drift batch rewrote ${rewritten.size} buckets: $rewritten")
    // the mixed-schema layout reads back CORRECTLY through the pinned
    // reader: 32 rows, note set on doc 7, null everywhere else
    val ta = IncrementalSync.readTarget(spark, target).drop("__bucket")
    assert(ta.columns.contains("note"), ta.columns.toSeq)
    assert(ta.count() == 32)
    assert(ta.filter($"note" === "fresh").select("_id").as[Long]
      .collect().toSeq == Seq(7L))
    assert(ta.filter($"note".isNull).count() == 31)
    // a plain single-file-sampling read CAN miss the column — that is why
    // readTarget exists; the stamp is the contract (don't assert the
    // miss, it's sampling-order dependent)
    // second NON-drift feed batch over the mixed layout: still correct
    val r2 = runFromChangeFeed(spark,
      Seq((9L, "ALSO", null.asInstanceOf[String]))
        .toDF("_id", "payload", "note"),
      Seq.empty[Long].toDF("_id"), target, state, nB)
    assert(r2.updated == 1, r2)
    val ta2 = IncrementalSync.readTarget(spark, target).drop("__bucket")
    assert(ta2.filter($"payload" === "ALSO").count() == 1)
    assert(ta2.count() == 32)
    // crash-safety, the stamp-before-swap window: a crash AFTER the stamp
    // widened but BEFORE the swap leaves a stamp mentioning a column no
    // file carries — the lossless direction. Simulate it by hand-writing
    // the widened stamp: every read stays whole (the phantom column reads
    // as null), and re-running the interrupted feed batch converges.
    val widened = org.apache.spark.sql.types.StructType(
      IncrementalSync.readTarget(spark, target).drop("__bucket")
        .schema.fields :+
      org.apache.spark.sql.types.StructField("more",
        org.apache.spark.sql.types.StringType, nullable = true))
    // write through the Hadoop FileSystem (like the engine does): the
    // local fs is checksummed, and a bare java.nio write leaves a stale
    // .crc sidecar behind
    val hfsG = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outG = hfsG.create(
      new org.apache.hadoop.fs.Path(s"$target/_graft_schema"), true)
    try outG.write(widened.json.getBytes("UTF-8")) finally outG.close()
    val taCrash = IncrementalSync.readTarget(spark, target).drop("__bucket")
    assert(taCrash.columns.contains("more"))
    assert(taCrash.count() == 32 && taCrash.filter($"more".isNull)
      .count() == 32, "crash window lost rows or fabricated values")
    // the interrupted batch re-runs to completion over the crashed stamp
    val r3 = runFromChangeFeed(spark,
      Seq((11L, "X", "n2", "extra")).toDF("_id", "payload", "note", "more"),
      Seq.empty[Long].toDF("_id"), target, state, nB)
    assert(r3.updated == 1)
    val ta3 = IncrementalSync.readTarget(spark, target).drop("__bucket")
    assert(ta3.columns.toSet == Set("_id", "payload", "note", "more"))
    assert(ta3.filter($"more" === "extra").count() == 1)
    assert(ta3.filter($"more".isNull).count() == 31)
  }

  test("a fullMigration table carries its schema stamp; the first " +
      "bucketed sync adopts the stamped tables and reads them back " +
      "unchanged") {
    import graft.workflow.{MigrationConfig, MigrationWorkflow}
    val out = java.nio.file.Files.createTempDirectory("graft_stamp").toString
    val docs = Seq(
      ("1", "a", Seq(10L, 11L)), ("2", "b", Seq(20L)), ("3", "c", Seq.empty[Long]))
      .toDF("_id", "name", "vals")
    val cfg = MigrationConfig("odocs", out, syncBuckets = Some(4))
    val rep = MigrationWorkflow.fullMigration(spark, docs, cfg)
    assert(rep.status == "PASSED")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(to_json(struct(df.columns.sorted.map(col): _*)))
        .as[String].collect().toSet
    val tables = Seq("odocs", "odocs_vals")
    val before = tables.map { t =>
      val path = s"$out/$t.parquet"
      val stamp = IncrementalSync.storedSchema(fs, path)
      val plain = spark.read.parquet(path)
      assert(stamp.map(_.fieldNames.toSeq).contains(plain.columns.toSeq),
        s"$t stamp $stamp vs ${plain.schema}")
      assert(rows(IncrementalSync.readTarget(spark, path)) == rows(plain))
      t -> rows(plain)
    }.toMap
    // first bucketed sync: every doc is new to the empty state, so every
    // bucket is rewritten and the plain layout converts in place
    val r = MigrationWorkflow.incrementalMigration(spark, docs, cfg)
    assert(r.toOption.exists(_.newDocs == 3), r)
    tables.foreach { t =>
      val path = s"$out/$t.parquet"
      assert(new java.io.File(path).listFiles()
        .exists(_.getName.startsWith("__bucket=")), s"$t not adopted")
      assert(rows(IncrementalSync.readTarget(spark, path).drop("__bucket")) ==
        before(t), t)
    }
  }
}
