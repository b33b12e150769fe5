package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.{Sinks, StateStore}
import graft.sync.{DocHash, IncrementalSync}

/** §2.10: incremental sync as a Structured Streaming sink — a file-source
  * stream of document snapshots applied to the target via `foreachBatch`
  * MERGE. Each micro-batch classifies like the batch engine and applies
  * through the same main-table MERGE ([[IncrementalSync]], schema drift
  * included) and child merge, so semantics are identical and the
  * application stays idempotent; the checkpoint gives at-least-once
  * delivery which idempotent MERGE upgrades to effectively exactly-once.
  * The reference's poll loop (Invoke-ScheduledSync, Sync.ps1:774-809) is
  * the degenerate form of this with `Trigger.AvailableNow`. */
object StreamSync {

  /** Apply one micro-batch of source documents to the target (the
    * foreachBatch body; also directly callable for tests). A stream only
    * adds and replaces: absent-from-batch ≠ deleted, so nothing is
    * deleted and ids the batch does not carry keep their state hash. A
    * batch carrying a column the target lacks widens the target (null for
    * the documents it did not carry).
    *
    * `versionCol` orders same-id rows within a backlogged batch (newest
    * wins). Snapshot sources SHOULD carry one (an export timestamp or
    * sequence number); without it the tie-break falls back to the hash —
    * deterministic but with NO temporal meaning, so a backlogged batch can
    * apply an older version. Prefer feeding one snapshot per batch or
    * providing `versionCol`.
    *
    * `childrenFor` (decompose-aware streaming, the batch workflow's
    * ChildSync surface): given the DEDUPED current batch (newest version
    * per id), returns the child tables to merge in lockstep —
    * [[graft.sync.ChildSync.forSchema]] is the standard factory. When set,
    * the content hash covers the FULL document (arrays/nested included)
    * so subtree-only edits classify as updated; child rows are replaced
    * only for parents present in the batch. */
  def applyBatch(spark: SparkSession, batch: DataFrame, targetPath: String,
      statePath: String, versionCol: Option[String] = None,
      childrenFor: Option[DataFrame => Seq[graft.sync.ChildSync]] = None)
      : graft.sync.SyncResult = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, row_number, when}
    import IncrementalSync.{ChangeNew, ChangeUpdated, ChangeUnchanged,
      ChangeDeleted}
    val order = versionCol match {
      case Some(v) => Seq(col(v).desc, col("doc_hash").desc)
      case None => Seq(col("doc_hash").desc)
    }
    val w = Window.partitionBy("_id").orderBy(order: _*)
    // the version column orders rows but is NOT part of the content hash —
    // a fresh export stamp must not mark unchanged docs as updated
    val current = DocHash.forSync(batch, childrenFor.isDefined, versionCol.toSet)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val state = StateStore.load(spark, statePath)
    // cached: the dedup window + classify join feed the upsert write, the
    // child writes AND the state write — without it they replay per action
    val classified = IncrementalSync.classify(current, state).cache()
    try {
      // the per-type tallies RIDE the upsert write as observed metrics
      // instead of a separate count job per micro-batch; the deleted tally
      // is 0 by the stream rule
      val mObs = org.apache.spark.sql.Observation()
      // count, not sum: a sum over an empty batch is NULL, a count is 0
      def cnt(t: String) = count(when(col("change_type") === t, 1L))
      val observed = classified.observe(mObs,
        cnt(ChangeNew).as("n_new"), cnt(ChangeUpdated).as("n_upd"),
        cnt(ChangeUnchanged).as("n_unch"))
      val fs = new org.apache.hadoop.fs.Path(targetPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val targetExisted =
        Sinks.recover(fs, new org.apache.hadoop.fs.Path(targetPath))
      // children decompose from the CACHED classified frame (it carries
      // every column of the deduped current), so each child write reuses
      // the cached hash+window work instead of replaying it per action —
      // measured ~2x on the st_sync_children_update gate
      val present = classified.filter(col("change_type") =!= ChangeDeleted)
      val childSyncs = childrenFor.map(mk => mk(present.drop("change_type")))
      // a missing child table bootstraps from "all surviving parent ids",
      // which in a stream is only THIS batch's ids: once the target holds
      // documents from earlier batches that would silently miss every
      // parent never re-sent. Fail loud, BEFORE the main-table write, so
      // a guarded batch aborts with nothing mutated.
      childSyncs.foreach(_.foreach { ch =>
        val cfs = new org.apache.hadoop.fs.Path(ch.targetPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!targetExisted ||
            Sinks.recover(cfs, new org.apache.hadoop.fs.Path(ch.targetPath)),
          s"StreamSync: child table ${ch.targetPath} does not exist but " +
            s"the main target $targetPath already holds documents — a " +
            "micro-batch cannot bootstrap children for parents it never " +
            "saw; run a snapshot sync (or full migration) first")
      })
      Sinks.atomicOverwrite(spark, IncrementalSync.mergeTarget(
        if (targetExisted) Some(spark.read.parquet(targetPath)) else None,
        batch, observed, deletes = None), targetPath)
      def obsL(k: String) = Sinks.observed(mObs, k)
      val result = graft.sync.SyncResult(
        obsL("n_new"), obsL("n_upd"), 0L, obsL("n_unch"), 0L)
      // child tables merge AFTER the main write (FK direction: parent first)
      val childCounts = childSyncs.map { children =>
        IncrementalSync.applyChildren(spark, present, children,
          hasChanges = result.newDocs + result.updated > 0)
      }.getOrElse(Map.empty[String, graft.sync.ChildCounts])
      // carry previous hashes forward for ids not present in this batch
      // (classified also holds state-only rows)
      val next = IncrementalSync.nextState(classified)
        .unionByName(state.join(present.select("_id"), Seq("_id"), "left_anti"))
      StateStore.save(spark, next, statePath)
      result.copy(children = childCounts)
    } finally classified.unpersist()
  }

  /** CDC-shaped micro-batch (round-12 verdict item 5): the batch is a
    * CHANGE FEED, not a snapshot — each row is tagged by `opCol` as
    * `upsert` (a full current document) or `delete` (only `_id` is
    * meaningful) — and applies through
    * [[IncrementalSync.runFromChangeFeed]]'s bucket-pruned fast path. A
    * Mongo change-stream-shaped source therefore maps 1:1, and DELETES
    * LAND — the one semantic the snapshot-stream [[applyBatch]] cannot
    * express (its absent-from-batch ≠ deleted rule). All feed-mode guards
    * carry over: the target/state and every child table must already
    * exist (a feed cannot bootstrap a corpus), an id on both sides of one
    * batch fails loud, an unknown op tag fails loud. */
  def applyFeedBatch(spark: SparkSession, batch: DataFrame,
      targetPath: String, statePath: String, buckets: Int,
      opCol: String = "_op",
      childrenFor: Option[DataFrame => Seq[graft.sync.ChildSync]] = None)
      : graft.sync.SyncResult = {
    import org.apache.spark.sql.functions.col
    require(batch.columns.contains(opCol),
      s"applyFeedBatch: feed batch has no '$opCol' op column")
    // NULL must be caught explicitly: `!isin(...)` is NULL (not true) for a
    // null tag, so a null-tagged row would pass this guard and then be
    // excluded from BOTH the upsert and delete filters below — silent row
    // loss in a path whose contract is "an unknown op tag fails loud"
    require(batch.filter(col(opCol).isNull ||
        !col(opCol).isin("upsert", "delete")).limit(1).isEmpty,
      s"applyFeedBatch: '$opCol' carries a tag other than upsert/delete " +
        "(or a NULL tag)")
    // hashed here in the canon the snapshot paths use (the full document
    // when child tables sync), so feed and snapshot syncs agree on state
    val upserts = DocHash.forSync(batch.filter(col(opCol) === "upsert"),
      childrenFor.isDefined, Set(opCol)).drop(opCol)
    val deletes = batch.filter(col(opCol) === "delete").select("_id")
    val children = childrenFor.map(_(upserts)).getOrElse(Seq.empty)
    IncrementalSync.runFromChangeFeed(spark, upserts, deletes,
      targetPath, statePath, buckets, children = children)
  }
}
