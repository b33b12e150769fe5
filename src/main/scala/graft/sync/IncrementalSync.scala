package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Sinks, StateStore}

/** Per-child-table apply tallies — the reference reports per-table insert
  * counts (Data_Migration.ps1:163-186; MasterWorkflow.ps1:141-163), so a
  * child-heavy churn must be visible in sync reports, not just the
  * main-table classify counts. `inserted` = re-decomposed rows written for
  * new/updated parents; `deleted` = prior child rows dropped (changed
  * parents' old rows, including deleted parents' orphan cleanup). */
case class ChildCounts(inserted: Long, deleted: Long)

/** Per-run sync metrics (A9; reference tallies at Sync.ps1:44-55, 265-271).
  * `children` maps each synced child table name to its apply tallies. */
case class SyncResult(
    newDocs: Long, updated: Long, deleted: Long, unchanged: Long,
    errors: Long, children: Map[String, ChildCounts] = Map.empty) {
  def totalProcessed: Long = newDocs + updated + deleted
}

/** J1/J3: snapshot-diff incremental synchronization (Start-IncrementalSync,
  * private/Sync.ps1:1-294).
  *
  * The reference materializes the full source collection *and* the full
  * target id-set in driver memory, then probes hashtables row by row
  * (Sync.ps1:82, 106-168, 521-541) — O(collection) driver RSS, the central
  * scale anti-pattern this engine replaces. Here the diff is ONE distributed
  * full-outer join on `_id` between the current snapshot (with fresh H1
  * hashes) and the persisted state table; Catalyst/AQE picks broadcast vs
  * sort-merge, and at 100 TB both sides shuffle once on `_id` and stream —
  * nothing ever collects to the driver.
  */
/** One child table to keep in LOCKSTEP with the main-table sync (the
  * decompose-aware extension, round-11 verdict item 2): the reference's
  * sync is main-table-only (Sync.ps1:543-718) but this engine fixed quirk
  * Q3 and populates child tables at full migration — without this, every
  * sync left them silently stale (an updated document's array edit never
  * landed; a deleted document stranded orphaned child rows).
  *
  * `rows(parentIds)` re-decomposes the CURRENT documents restricted to the
  * given parent ids into this child's rows (a [[graft.decompose.Decomposer]]
  * extractor behind a semi-join); `fkColumn` is the parent-id column the
  * child is keyed on. The sync applies each child as delete-then-insert
  * scoped to the changed parent ids — the child-table form of MERGE, and in
  * the partitioned mode the child shares the parent's id-hash bucketing, so
  * the changed-bucket-only I/O contract carries over unchanged. */
case class ChildSync(targetPath: String, fkColumn: String,
    rows: DataFrame => DataFrame)

object ChildSync {
  /** The decompose-aware child set for a document frame, derived from its
    * STATIC schema (RelationalModel.fromSchema — no profiling scan): one
    * [[ChildSync]] per child table under `outDir`, each re-decomposing
    * only the requested parent ids (semi-join pushed below the extractor,
    * so child I/O is proportional to the churn). Shared by the batch
    * workflow (MigrationWorkflow.incrementalMigration) and the streaming
    * MERGE path (StreamSync) so the two sync surfaces stay
    * capability-equal. */
  def forSchema(docs: DataFrame, collection: String,
      outDir: String): Seq[ChildSync] =
    graft.model.RelationalModel.fromSchema(docs.schema, collection)
      .filter(_.kind != graft.model.TableKind.Main).map { spec =>
        ChildSync(s"$outDir/${spec.name}.parquet", spec.fkColumn.get,
          ids => graft.decompose.Decomposer.decompose(
            docs.join(ids.select("_id"), Seq("_id"), "left_semi"),
            Seq(spec))(spec.name))
      }
}

object IncrementalSync {
  val ChangeNew = "new"
  val ChangeUpdated = "updated"
  val ChangeDeleted = "deleted"
  val ChangeUnchanged = "unchanged"

  /** The report-facing name of a child table: its path's basename minus
    * the parquet extension (the name [[ChildSync.forSchema]] lays out). */
  private[graft] def childNameOf(path: String): String =
    new Path(path).getName.stripSuffix(".parquet")

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A key's bucket in the changed-bucket layout, from the STRING form of
    * the key: the state table stores `_id` as string, so hashing the cast
    * keeps the current, state, target and child rows of one key in one
    * bucket regardless of the source's id type. */
  private def bucketOf(c: Column, buckets: Int): Column =
    pmod(hash(c.cast("string")), lit(buckets))

  /** Classify `current` (must carry `_id` and `hashCol`) against `state`
    * (`_id`, `hash`): full-outer join + hash compare (Sync.ps1:113-168).
    * Returns current columns (null for deleted rows) + `change_type`.
    * Matrix pinned by the reference's golden test Tests/Sync.Tests.ps1:76-130:
    * miss → new; hit+differs → updated; hit+same → unchanged;
    * state-only → deleted. */
  def classify(current: DataFrame, state: DataFrame,
      hashCol: String = "doc_hash"): DataFrame = {
    val st = state.select(col("_id").as("state_id"), col("hash").as("state_hash"))
    current.join(st, current("_id") === st("state_id"), "full_outer")
      .withColumn("change_type",
        when(col("state_id").isNull, ChangeNew)
          .when(current("_id").isNull, ChangeDeleted)
          .when(col(hashCol) =!= col("state_hash"), ChangeUpdated)
          .otherwise(ChangeUnchanged))
      .withColumn("_id", coalesce(current("_id"), col("state_id")))
      .drop("state_id", "state_hash")
  }

  private def resultOf(counts: Map[String, Long]): SyncResult = SyncResult(
    counts.getOrElse(ChangeNew, 0L), counts.getOrElse(ChangeUpdated, 0L),
    counts.getOrElse(ChangeDeleted, 0L), counts.getOrElse(ChangeUnchanged, 0L),
    0L)

  /** A9: change-type tallies from a classified diff. */
  def metrics(classified: DataFrame): SyncResult =
    resultOf(graft.io.Label(classified.sparkSession.sparkContext,
        "sync:classify-metrics") {
      classified.groupBy("change_type").count().collect()
    }.map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** [[metrics]] AND the churned bucket set in ONE aggregation job: per
    * change type, the row count plus the collect_set of the type's
    * buckets (≤ `buckets` elements per group — driver-bounded); the
    * changed set is the union over the non-unchanged groups. */
  private def metricsAndChangedBuckets(classified: DataFrame, buckets: Int,
      label: String = "sync:classify-metrics"): (SyncResult, Seq[Int]) = {
    val rows = graft.io.Label(classified.sparkSession.sparkContext, label) {
      classified.groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          collect_set(bucketOf(col("_id"), buckets)).as("bks"))
        .collect()
    }
    val changed = rows.filter(_.getString(0) != ChangeUnchanged)
      .flatMap(_.getSeq[Int](2)).distinct.sorted.toSeq
    (resultOf(rows.map(r => r.getString(0) -> r.getLong(1)).toMap), changed)
  }

  /** J3: next sync state — fresh hashes for present docs (new/updated get the
    * new hash, unchanged carry the identical previous value — Sync.ps1:
    * 249-256), deleted ids dropped. */
  def nextState(classified: DataFrame, hashCol: String = "doc_hash"): DataFrame =
    classified.filter(col("change_type") =!= ChangeDeleted)
      .select(col("_id"), col(hashCol).as("hash"))

  private def deletedIds(classified: DataFrame): DataFrame =
    classified.filter(col("change_type") === ChangeDeleted).select("_id")

  /** A source already carrying `hashCol` is trusted verbatim — the caller
    * chose the canon. Otherwise [[DocHash.forSync]] picks it: the full
    * document when `childTables` sync (so array/nested edits are visible
    * to a decompose-aware sync with [[ChildSync]] children), else the
    * reference's flat-field canon. Switching canons against existing
    * state self-heals: every doc classifies `updated` exactly once, then
    * converges. */
  private def currentWithHash(source: DataFrame, hashCol: String,
      childTables: Boolean): DataFrame =
    if (source.columns.contains(hashCol)) source
    else DocHash.forSync(source, childTables, Set.empty, hashCol)

  /** The main-table MERGE every sync writer applies (the reference's
    * per-document insert/update/delete statements, Sync.ps1:543-718):
    * S16/U2/F7 drift first — source columns the prior target lacks join it
    * as nullable columns (Update-SQLSchema, Sync.ps1:90-99, 395-477), since
    * the upsert aligns to the target schema and would otherwise drop them
    * — then the new and updated rows of `classified` replace their keys
    * and `deletes` drop theirs. `prior` is None when the target holds no
    * data yet: the empty base then takes the source's own schema. The
    * sync's hash column never lands in the target. MERGE-shaped
    * application is idempotent, so a replayed sync is safe. */
  private[graft] def mergeTarget(prior: Option[DataFrame], source: DataFrame,
      classified: DataFrame, deletes: Option[DataFrame],
      hashCol: String = "doc_hash"): DataFrame = {
    val data = source.select(
      source.columns.filterNot(_ == hashCol).map(col).toSeq: _*)
    val base = prior match {
      case None => data.limit(0)
      case Some(t) if Sinks.missingColumns(data.schema, t.schema).nonEmpty =>
        Sinks.mergeSchemas(t, data.limit(0))
      case Some(t) => t
    }
    val upserted = Sinks.upsert(base, classified
      .filter(col("change_type").isin(ChangeNew, ChangeUpdated))
      .select(source.columns.map(col).toSeq: _*), "_id")
    deletes.fold(upserted)(Sinks.delete(upserted, _, "_id"))
  }

  /** One child table's merge, whatever its layout (only the prior read and
    * the write differ): every changed parent's prior rows (updated AND
    * deleted — orphan cleanup) go in one fk anti-join, and the
    * re-decomposed rows of new and updated parents are added — of every
    * surviving parent when the child holds no data yet (`prior` None, the
    * bootstrap that heals a pre-child-sync layout). S16 drift in either
    * direction re-aligns both sides onto the superset schema. `changes` is
    * the (`_id`, `change_type`) diff, deletes included. The tallies ride
    * the write job as observed metrics (zero extra jobs) — inserted counts
    * the re-decomposed rows, deleted = prior − kept rows, both observed on
    * the scan the merge performs — so read them after the write. */
  private def childMerge(ch: ChildSync, changes: DataFrame,
      prior: Option[DataFrame]): (DataFrame, () => ChildCounts) = {
    def ids(keep: Column) = changes.filter(keep).select("_id")
    def n(o: Observation) = Sinks.observed(o, "n")
    val insObs = Observation()
    val newRows = ch.rows(
      if (prior.isEmpty) ids(col("change_type") =!= ChangeDeleted)
      else ids(col("change_type").isin(ChangeNew, ChangeUpdated)))
      .observe(insObs, count(lit(1)).as("n"))
    prior match {
      case None => (newRows, () => ChildCounts(n(insObs), 0L))
      case Some(p) =>
        val priorObs = Observation()
        val keptObs = Observation()
        val kept = p.observe(priorObs, count(lit(1)).as("n"))
          .join(ids(col("change_type") =!= ChangeUnchanged)
            .withColumnRenamed("_id", ch.fkColumn), Seq(ch.fkColumn),
            "left_anti")
          .observe(keptObs, count(lit(1)).as("n"))
        val merged =
          if (Sinks.missingColumns(newRows.schema, kept.schema).nonEmpty ||
              Sinks.missingColumns(kept.schema, newRows.schema).nonEmpty)
            Sinks.mergeSchemas(kept, newRows)
          else kept.unionByName(newRows)
        (merged, () => ChildCounts(n(insObs), n(priorObs) - n(keptObs)))
    }
  }

  /** Apply one sync's change set to the child tables in the whole-table
    * form (the [[run]] mode and the streaming snapshot sync): each child
    * is rewritten by [[Sinks.atomicOverwrite]]; a missing one bootstraps.
    * Runs AFTER the main-table write, so a reader always sees main-table
    * changes no later than child changes (the FK direction that never
    * fabricates orphans: a child row's parent is already live). A
    * no-change sync leaves existing child tables byte-untouched. Child
    * tables never share files or state, so they apply concurrently. */
  private[graft] def applyChildren(spark: SparkSession,
      changes: DataFrame, children: Seq[ChildSync],
      hasChanges: Boolean = true): Map[String, ChildCounts] =
    graft.io.Concurrency.mapBounded(children) { ch =>
      val exists = Sinks.recover(fsOf(spark, ch.targetPath),
        new Path(ch.targetPath))
      childNameOf(ch.targetPath) -> (
        if (exists && !hasChanges) ChildCounts(0L, 0L)
        else {
          val (merged, counts) = childMerge(ch, changes,
            if (exists) Some(spark.read.parquet(ch.targetPath)) else None)
          Sinks.atomicOverwrite(spark, merged, ch.targetPath)
          counts()
        })
    }.toMap

  /** [[run]] against BUCKETED catalog tables — the 100 TB shape promised in
    * SCALE.md: `targetTable` and `stateTable` are parquet tables
    * bucketed+sorted on `_id` with the same bucket count, so the J1 diff
    * join and the MERGE application read the STORED sides without a shuffle
    * exchange; only the incoming snapshot is hashed into place. Per sync,
    * state and target stream their co-located buckets instead of being
    * re-shuffled.
    *
    * Publication is a VIEW FLIP: the new snapshot is written to a fresh
    * versioned physical table `name__vN`, then `name` is re-pointed with
    * one atomic `CREATE OR REPLACE VIEW` — a reader resolving `name` at
    * ANY point sees a valid relation (the old version until the flip, the
    * new one after), unlike DROP+RENAME whose two catalog ops expose a
    * missing-table window. The immediately-previous version is retained
    * until the NEXT sync (a reader mid-stream on it can finish); older
    * versions are dropped. Views inline at analysis, so the bucketed scan
    * — and its exchange-free join — survives the indirection. One-time
    * exception: on FIRST publish over a bootstrap TABLE of the same name,
    * the table must be dropped before the view can be created (a
    * reader-visible gap only on that initial conversion). A missing state
    * table means first sync (all new).
    *
    * This catalog-table mode is deliberately MAIN-TABLE-ONLY: [[ChildSync]]
    * children target path-addressed parquet layouts (the decompose-aware
    * surface lives on [[run]]/[[runPartitioned]]/[[runFromChangeFeed]]); a
    * catalog deployment that wants child tables runs the partitioned mode,
    * whose one-directory-per-table view is also what the workflow API
    * publishes.
    */
  def runBucketed(spark: SparkSession, source: DataFrame, targetTable: String,
      stateTable: String, buckets: Int,
      hashCol: String = "doc_hash"): SyncResult = {
    val current = currentWithHash(source, hashCol, childTables = false)
    val state =
      if (spark.catalog.tableExists(stateTable)) spark.table(stateTable)
      else StateStore.emptyState(spark)
    val classified = classify(current, state, hashCol).cache()
    try {
      val result = metrics(classified)
      replaceViaViewFlip(spark, targetTable, mergeTarget(
        Some(spark.table(targetTable)), source, classified,
        Some(deletedIds(classified)), hashCol), buckets)
      replaceViaViewFlip(spark, stateTable, nextState(classified, hashCol), buckets)
      result
    } finally classified.unpersist()
  }

  /** Write `df` as the next versioned bucketed table `table__vN` and
    * atomically re-point the `table` view at it (see [[runBucketed]] doc).
    * The merged plan may read `table` — the new version is fully written
    * before any catalog change. */
  private def replaceViaViewFlip(spark: SparkSession, table: String,
      df: DataFrame, buckets: Int): Unit = {
    import graft.io.Bucketing
    val vPat = (java.util.regex.Pattern.quote(table) + "__v(\\d+)").r
    val versions = spark.sql(s"SHOW TABLES LIKE '${table}__v*'")
      .collect().map(_.getString(1))
      .collect { case vPat(n) => n.toInt }.sorted
    val next = versions.lastOption.getOrElse(0) + 1
    val phys = s"${table}__v$next"
    val isView = spark.catalog.tableExists(table) &&
      spark.catalog.getTable(table).tableType == "VIEW"
    // the version IN-FLIGHT READERS are on: what the view resolves to NOW —
    // not next-1, which after a crashed run (version written, flip never
    // reached) is an unpublished orphan while readers are still on an
    // older version
    val live: Option[Int] =
      if (isView)
        vPat.findFirstMatchIn(spark.sql(s"SHOW CREATE TABLE $table")
          .collect().head.getString(0)).map(_.group(1).toInt)
      else None
    Bucketing.bucketedSave(df, phys, "_id", buckets)
    // one-time bootstrap conversion: a plain TABLE of this name cannot be
    // view-replaced; drop it first (the only reader-visible gap)
    if (spark.catalog.tableExists(table) && !isView)
      spark.sql(s"DROP TABLE $table")
    spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT * FROM $phys")
    // retain the just-live version for in-flight readers; reap everything
    // else, including crashed runs' never-published orphans
    versions.filterNot(v => live.contains(v))
      .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${table}__v$v"))
  }

  /** Changed-bucket-only sync — the 100 TB write path. The target is a
    * parquet table laid out as `__bucket=K` partition directories with
    * K = pmod(hash(cast(_id as string)), buckets) (a pure function of the
    * key, so a row's bucket never moves), and each sync rewrites ONLY the
    * buckets containing a new, updated, or deleted id: the merge's target
    * scan partition-prunes to the changed directories, the merged rows are
    * staged to a sibling directory partitioned the same way, and each
    * changed bucket is swapped in by one rename — unchanged buckets' files
    * are never read, never rewritten, never touched (SyncSpec asserts on
    * file names + mtimes). Per-sync read AND write cost is therefore
    * proportional to the churned key set, not the table size. A bucket
    * whose last row is deleted simply has no staged directory and its old
    * directory is removed. State shares the layout and the scoping: a
    * changed bucket's state directory carries every surviving id of that
    * bucket (carry-forward hashes included); unchanged buckets' state
    * directories are byte-identical by the carry-forward rule and stay in
    * place. First sync (absent target/state) bootstraps every bucket
    * through the same path. [[run]] remains the unbucketed legacy mode
    * (whole-table [[Sinks.atomicOverwrite]] swap); [[runBucketed]] is the
    * catalog-table view-flip form for exchange-free diff joins. */
  def runPartitioned(spark: SparkSession, source: DataFrame,
      targetPath: String, statePath: String, buckets: Int,
      hashCol: String = "doc_hash",
      children: Seq[ChildSync] = Seq.empty): SyncResult = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    prepareLayouts(spark, targetPath, statePath, buckets, children)
    val current = currentWithHash(source, hashCol, children.nonEmpty)
    val state = {
      val st = StateStore.load(spark, statePath)
      if (st.columns.contains("__bucket")) st.drop("__bucket") else st
    }
    val classified = classify(current, state, hashCol).cache()
    try {
      val (result, changed) = metricsAndChangedBuckets(classified, buckets)
      result.copy(children = applyBuckets(spark, targetPath, statePath,
        buckets, changed, classified, nextState(classified, hashCol),
        children)(prior => mergeTarget(prior, source, classified,
          Some(deletedIds(classified)), hashCol)))
    } finally classified.unpersist()
  }

  /** Change-feed-driven sync: when the caller ALREADY has a CDC feed —
    * `upserts` (full current rows of new/updated docs) and `deletes` (ids)
    * — the full-snapshot-vs-full-state diff join that [[runPartitioned]]
    * pays every sync is pure waste: at 100 TB with 0.1% churn that J1 join
    * dominates even though the write path is bucket-pruned. This variant
    * classifies the FEED against the bucket-pruned state (reads only the
    * feed ids' state buckets — cost ∝ churn on both the read and write
    * side), then applies through the same changed-bucket apply as
    * [[runPartitioned]]. The result is bit-equal to running the snapshot
    * diff over a snapshot that embodies the same churn (gate
    * `o3_sync_changefeed` proves it); snapshot-diff remains the default
    * and the oracle mode — a feed that under-reports churn cannot be
    * detected here by construction, which is exactly the caller's CDC
    * contract.
    *
    * A feed cannot bootstrap: the target, its state and every child table
    * must already exist. An id on BOTH sides of one feed batch has no
    * defined order — fail loud. An id deleted but unknown to state is
    * ignored (idempotent replay of a delete). An upsert row whose hash
    * equals its state hash counts `unchanged` and rewrites nothing. */
  def runFromChangeFeed(spark: SparkSession, upserts: DataFrame,
      deletes: DataFrame, targetPath: String, statePath: String,
      buckets: Int, hashCol: String = "doc_hash",
      children: Seq[ChildSync] = Seq.empty): SyncResult = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    prepareLayouts(spark, targetPath, statePath, buckets, children)
    // a feed never sees the full corpus: a missing child, target or state
    // would silently materialize holding only the churned docs (and
    // deletes of docs the empty state never saw would be dropped as
    // "unknown") — fail loud instead
    children.foreach { ch =>
      require(fsOf(spark, ch.targetPath).exists(new Path(ch.targetPath)),
        s"runFromChangeFeed: child table ${ch.targetPath} does not exist — " +
          "feed-driven sync cannot bootstrap children; run a snapshot " +
          "sync (or full migration) first")
    }
    val fs = fsOf(spark, targetPath)
    require(fs.exists(new Path(targetPath)) && fs.exists(new Path(statePath)),
      s"runFromChangeFeed: target ($targetPath) or sync state ($statePath) " +
        "does not exist — a change feed cannot bootstrap a corpus; run a " +
        "snapshot sync (or full migration) first")
    val current = currentWithHash(upserts, hashCol, children.nonEmpty)
    // ambiguity guard AND bucket footprint in ONE aggregation job (this
    // runs per micro-batch on the hot streaming path): an id on both sides
    // of one batch, or twice on the upsert side, has no defined order —
    // fail loud rather than guess — and the feed's bucket set (bounded
    // collect ≤ buckets values) prunes the STATE read, the step that
    // replaces the full-corpus diff join. Only the FAILURE path re-runs
    // the detailed per-id probe, to keep the exact diagnostic.
    val idTags = current.select(col("_id"),
        lit(1L).as("__up"), lit(0L).as("__del"))
      .unionByName(deletes.select(col("_id"),
        lit(0L).as("__up"), lit(1L).as("__del")))
    val probe = graft.io.Label(spark.sparkContext,
        "feed:ambiguity-guard") {
      idTags.groupBy("_id")
        .agg(sum("__up").as("__up"), sum("__del").as("__del"),
          first(bucketOf(col("_id"), buckets)).as("__b"))
        .agg(
          sum(when(col("__up") > 1 ||
            (col("__up") > 0 && col("__del") > 0), 1L).otherwise(0L))
            .as("ambig"),
          collect_set(col("__b")).as("bks"))
        .head()
    }
    if (!probe.isNullAt(0) && probe.getLong(0) > 0) {
      val r = idTags.groupBy("_id")
        .agg(sum("__up").as("__up"), sum("__del").as("__del"))
        .filter(col("__up") > 1 || (col("__up") > 0 && col("__del") > 0))
        .limit(1).collect().head
      val bothSides = r.getLong(1) > 0 && r.getLong(2) > 0
      val what =
        if (bothSides) "an _id appears in both upserts and deletes"
        else "an _id appears more than once in upserts"
      throw new IllegalArgumentException(
        s"requirement failed: runFromChangeFeed: $what — order within one " +
          "feed batch is undefined; keep the newest version per id (or " +
          "split the batch)")
    }
    val feedBuckets = probe.getSeq[Int](1).distinct.sorted
    if (feedBuckets.isEmpty) return SyncResult(0, 0, 0, 0, 0,
      children.map(ch => childNameOf(ch.targetPath) -> ChildCounts(0L, 0L))
        .toMap)
    val state0 = StateStore.load(spark, statePath)
    val state =
      if (state0.columns.contains("__bucket"))
        state0.filter(col("__bucket").isin(feedBuckets: _*)).drop("__bucket")
      else state0
    val st = state.select(col("_id").as("__sid"), col("hash").as("__shash"))
    val upC = current.join(st, current("_id") === col("__sid"), "left_outer")
      .withColumn("change_type",
        when(col("__sid").isNull, ChangeNew)
          .when(col(hashCol) =!= col("__shash"), ChangeUpdated)
          .otherwise(ChangeUnchanged))
      .drop("__sid", "__shash").cache()
    val delIds = deletes.select("_id")
      .join(state.select("_id"), Seq("_id"), "left_semi").cache()
    try {
      val changes = upC.select(col("_id"), col("change_type"))
        .unionByName(delIds.withColumn("change_type", lit(ChangeDeleted)))
      val (result, changed) = metricsAndChangedBuckets(changes, buckets,
        label = "feed:classify-metrics")
      // the changed buckets' prior state minus every feed id, plus every
      // upsert's fresh (id, hash) — unchanged feed docs re-enter with
      // their identical carried hash
      val next = state
        .join(current.select("_id").unionByName(deletes.select("_id")),
          Seq("_id"), "left_anti")
        .unionByName(upC.select(col("_id"), col(hashCol).as("hash")))
      result.copy(children = applyBuckets(spark, targetPath, statePath,
        buckets, changed, changes, next, children)(prior =>
          mergeTarget(prior, upserts, upC, Some(delIds), hashCol)))
    } finally { upC.unpersist(); delIds.unpersist(): Unit }
  }

  /** Entry work of both changed-bucket modes, before anything reads a
    * table. Crash recovery FIRST: a staging dir with a committed manifest
    * holds the ONLY copy of its buckets' data, so it rolls forward (see
    * [[recoverStaging]]). Then the bucket-count pin: `__bucket` is a pure
    * function of (id, count), so a different count would map ids to other
    * buckets — the pruned read misses their old rows while stale
    * directories keep serving them. */
  private def prepareLayouts(spark: SparkSession, targetPath: String,
      statePath: String, buckets: Int, children: Seq[ChildSync]): Unit = {
    val layouts = Seq(targetPath, statePath) ++ children.map(_.targetPath)
    layouts.foreach(p => recoverStaging(fsOf(spark, p), p))
    layouts.foreach(p => verifyBucketCount(fsOf(spark, p), p, buckets))
  }

  /** The changed-bucket apply of [[runPartitioned]] and
    * [[runFromChangeFeed]], once they have classified: the target's
    * changed buckets get `merge` (the mode's [[mergeTarget]]), the state's
    * changed buckets are rewritten from `nextState` (`_id`, `hash`;
    * unchanged ids sharing a changed bucket ride along with their carried
    * hash, so the rewrite is value-stable), then every child in lockstep
    * over the same buckets, after the main write (FK direction: parent
    * first). `changes` is the (`_id`, `change_type`) diff, deletes
    * included. With no changed bucket only a missing child table is
    * written: it bootstraps from every surviving id, which heals a
    * pre-child-sync layout. Returns the per-child tallies, (0, 0) for an
    * untouched child. */
  private def applyBuckets(spark: SparkSession, targetPath: String,
      statePath: String, buckets: Int, changed: Seq[Int],
      changes: DataFrame, nextState: DataFrame, children: Seq[ChildSync])(
      merge: Option[DataFrame] => DataFrame): Map[String, ChildCounts] = {
    if (changed.nonEmpty) {
      val (targetHadData, _) = rewriteBuckets(spark, targetPath, "_id",
        changed, buckets)(prior => (merge(prior), ()))
      // state schema never drifts (`_id`/`hash` strings) and carries no
      // schema stamp; a plain (legacy) state table converts in place, and
      // like the target it clusters its write when it is rewritten whole:
      // on conversion, or when the sync bootstraps (the target held nothing)
      val fs = fsOf(spark, statePath)
      val (stBucketed, stLegacy) = layoutOf(fs, statePath)
      val stConvert = !stBucketed && stLegacy.nonEmpty
      val next = nextState
        .select(col("_id").cast("string").as("_id"),
          col("hash").cast("string").as("hash"))
        .withColumn("__bucket", bucketOf(col("_id"), buckets))
      stageAndSwapBuckets(spark,
        if (stConvert) next else next.filter(col("__bucket").isin(changed: _*)),
        statePath, if (stConvert) 0 until buckets else changed, stLegacy,
        clusterWrite = stConvert || !targetHadData)
      stampBucketCount(fs, statePath, buckets)
    }
    graft.io.Concurrency.mapBounded(children) { ch =>
      val name = childNameOf(ch.targetPath)
      if (changed.isEmpty &&
          fsOf(spark, ch.targetPath).exists(new Path(ch.targetPath)))
        name -> ChildCounts(0L, 0L)
      else graft.io.Label(spark.sparkContext, s"sync:child $name") {
        // the child shares the PARENT-id bucketing (fk IS the parent id),
        // so the parent's changed buckets hold every affected child row
        val (_, counts) = rewriteBuckets(spark, ch.targetPath, ch.fkColumn,
          changed, buckets)(childMerge(ch, changes, _))
        name -> counts()
      }
    }.toMap
  }

  /** Rewrite the `changed` buckets of one bucketed layout keyed on `key`:
    * `merge` maps the layout's prior rows (None when it holds no data) to
    * the merged rows. A bucketed layout reads only its changed buckets
    * (partition-pruned). A plain parquet table (a fullMigration or [[run]]
    * bootstrap) is ADOPTED in place: the whole table rewrites into the
    * `__bucket=K` layout, its legacy data files retired through the swap
    * manifest (crash-safe — a reader after recovery never sees legacy and
    * bucketed rows together). S16 drift stays CHURN-SCOPED: the evolved
    * superset schema is stamped table-level (see [[stampSchema]]) and
    * every read goes through the schema-pinned [[readTarget]], so a
    * mixed-schema layout reads correctly and a drifting sync still
    * rewrites only its changed buckets — at 100 TB a one-row drift batch
    * must not rewrite the corpus. Returns whether the layout held data,
    * and what `merge` returned beside the rows. */
  private def rewriteBuckets[T](spark: SparkSession, path: String,
      key: String, changed: Seq[Int], buckets: Int)(
      merge: Option[DataFrame] => (DataFrame, T)): (Boolean, T) = {
    val fs = fsOf(spark, path)
    val (bucketed, legacy) = layoutOf(fs, path)
    val hasData = bucketed || legacy.nonEmpty
    val (merged, out) = merge(
      if (!hasData) None
      else if (!bucketed) Some(readTarget(spark, path))
      else Some(readTarget(spark, path)
        .filter(col("__bucket").isin(changed: _*)).drop("__bucket")))
    // stamp the (possibly evolved) superset schema BEFORE the swap — the
    // lossless crash direction, see [[stampSchema]] — but only onto an
    // EXISTING layout, and the bucket count only AFTER the write: metadata
    // must never conjure the layout directory ahead of the data (existence
    // checks and first-sync schema inference key off the directory)
    if (hasData) stampSchema(fs, path, merged.schema)
    stageAndSwapBuckets(spark,
      merged.withColumn("__bucket", bucketOf(col(key), buckets)), path,
      if (bucketed) changed else 0 until buckets, legacy,
      clusterWrite = !bucketed)
    stampBucketCount(fs, path, buckets)
    stampSchema(fs, path, merged.schema)
    (hasData, out)
  }

  private val StageSuffix = ".__stage__"
  private val ManifestName = "__swap_manifest__"
  private val BucketMetaName = "_graft_buckets"
  private val SchemaMetaName = "_graft_schema"

  /** The layout's stamped table-level schema (`_graft_schema`, the
    * StructType as JSON; underscore-hidden from partition discovery), if
    * this layout has been written by a schema-stamping sync. The stamp is
    * what lets a schema-drifting sync rewrite ONLY its churned buckets: a
    * plain parquet read of the resulting mixed-schema layout infers the
    * schema from a sampled file and can silently drop the evolved columns,
    * but a read pinned to the stamped superset schema fills them as null
    * for pre-drift files — exactly parquet's missing-column semantics. */
  private[graft] def storedSchema(fs: FileSystem,
      path: String): Option[org.apache.spark.sql.types.StructType] = {
    val meta = new Path(new Path(path), SchemaMetaName)
    if (!fs.exists(meta)) return None
    val in = fs.open(meta)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Some(org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Stamp the layout's table-level schema (see [[storedSchema]]). Stamped
    * BEFORE the bucket swap, deliberately: a crash between stamp and swap
    * leaves readers seeing the evolved columns as null until the manifest
    * roll-forward completes — the lossless direction — whereas stamping
    * after the swap would leave a window where rewritten files carry
    * columns the stamp hides from every stored-schema read. The stamp is
    * monotone (always the superset), so re-execution is idempotent. */
  private[graft] def stampSchema(fs: FileSystem, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val data = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == "__bucket"))
    val out = fs.create(new Path(new Path(path), SchemaMetaName), true)
    try out.write(data.json.getBytes("UTF-8")) finally out.close()
  }

  /** Read a sync-maintained table layout SCHEMA-SAFELY — the one reader
    * that is correct on every layout a sync can leave behind, including
    * the mixed-schema state after a churn-scoped schema-drift rewrite
    * (S16 via a change feed: the churned buckets carry the evolved
    * columns, untouched buckets still hold pre-drift files). With a
    * schema stamp the read is pinned to the stamped superset (pre-drift
    * files surface the new columns as null, file footers are never
    * sampled for inference); without one it falls back to a
    * footer-merging read so no column can be dropped by single-file
    * sampling. Use this — not a plain `spark.read.parquet` — for any
    * table maintained by [[runPartitioned]]/[[runFromChangeFeed]]. */
  def readTarget(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.recover(fs, new Path(path))
    storedSchema(fs, path) match {
      case Some(sch) =>
        val (bucketed, _) = layoutOf(fs, path)
        val full =
          if (bucketed) sch.add("__bucket",
            org.apache.spark.sql.types.IntegerType, nullable = true)
          else sch
        spark.read.schema(full).parquet(path)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(path)
    }
  }

  /** A layout's shape: does it hold `__bucket=K` partition directories,
    * and which root-level LEGACY data files (a plain parquet table from a
    * [[run]]/fullMigration bootstrap) does it carry. Hidden files
    * (`_SUCCESS`, metadata, dot-files) are neither. */
  private def layoutOf(fs: FileSystem, path: String): (Boolean, Seq[String]) = {
    val root = new Path(path)
    if (!fs.exists(root)) return (false, Seq.empty)
    val entries = fs.listStatus(root).toSeq
    val bucketed = entries.exists(
      _.getPath.getName.startsWith("__bucket="))
    val legacy = entries.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.getName)
    (bucketed, legacy)
  }

  /** Enforce a stable bucket count per layout: the count is pinned in a
    * `_graft_buckets` metadata file (underscore-hidden from partition
    * discovery) stamped by [[stampBucketCount]] when the layout is
    * written; re-running with a different count fails LOUDLY instead of
    * silently serving stale rows. A pre-metadata layout is grandfathered
    * after a shrink check against its existing `__bucket=K` directory
    * names (a grown count is not derivable from directories alone — the
    * stamp closes that hole from the first pinned run onward). */
  private def verifyBucketCount(fs: FileSystem, path: String,
      buckets: Int): Unit = {
    val root = new Path(path)
    val meta = new Path(root, BucketMetaName)
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val stored =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      require(stored == buckets,
        s"$path was laid out with $stored buckets but this " +
          s"run asked for $buckets — ids would map to different buckets " +
          "(missed rows + stale duplicates); pass the stored count or " +
          "rewrite the table")
    } else if (fs.exists(root)) {
      val dirs = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("__bucket="))
        .map(_.stripPrefix("__bucket=").toInt)
      require(dirs.forall(_ < buckets),
        s"$path holds __bucket=${dirs.max} but this run " +
          s"asked for only $buckets buckets — the layout was written " +
          "with a larger count")
    }
  }

  /** Stamp the layout's bucket count (see [[verifyBucketCount]]); called
    * only after a write, so the metadata never conjures an empty layout
    * directory. */
  private def stampBucketCount(fs: FileSystem, path: String,
      buckets: Int): Unit = {
    val out = fs.create(new Path(new Path(path), BucketMetaName), true)
    try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Write `df` (carrying `__bucket`) to `<path>.__stage__` partitioned by
    * bucket, then swap each directory in `changed` into place. The
    * protocol is crash-safe and rolls FORWARD:
    *   1. stage the parquet write — no live mutation yet;
    *   2. commit: write a manifest (the changed buckets + which of them
    *      staged data) via tmp-file + atomic rename;
    *   3. per changed bucket: rename the live dir aside
    *      (`.__old__bucket=K`, dot-hidden from partition discovery),
    *      rename the staged dir in, drop the aside copy; a changed bucket
    *      with NO staged rows (fully emptied by deletes) has its live dir
    *      removed;
    *   4. remove the staging dir.
    * A crash before 2 leaves the live layout untouched (the manifest-less
    * staging orphan is discarded next run); a crash after 2 is finished by
    * [[recoverStaging]] — at no point is a bucket's only copy somewhere
    * the next run deletes. Every step-3 action is idempotent under
    * re-execution. The staging write fully materializes before any target
    * mutation, so the merge plan may read `path`. */
  private def stageAndSwapBuckets(spark: SparkSession, df: DataFrame,
      path: String, changed: Seq[Int],
      legacy: Seq[String] = Seq.empty,
      clusterWrite: Boolean = false): Unit = {
    val fs = fsOf(spark, path)
    val staging = new Path(path + StageSuffix)
    // a leftover here is manifest-less (recoverStaging ran at entry and
    // consumed or discarded anything else): safe to clear
    if (fs.exists(staging)) fs.delete(staging, true)
    graft.io.Label(spark.sparkContext,
        s"sync:stage-write ${new Path(path).getName}") {
      // FULL-layout rewrites (bootstrap / legacy adoption — clusterWrite)
      // cluster by __bucket before the partitioned write (guide §6): the
      // corpus-sized write then runs with bucket-count parallelism and
      // emits ONE file per bucket — without it the upstream stage's
      // partition count decides both (post-AQE a corpus-sized merge can
      // coalesce to very few partitions, serializing the parquet encode
      // of every bucket on one task, measured 970 ms vs ~150 ms at sf0.1
      // bootstrap), and a bucket is by construction a file-sized unit, so
      // one reducer per bucket is the intended write granularity.
      // CHURN-scoped rewrites skip the exchange: they write a handful of
      // buckets' rows through whatever parallelism the merge already has,
      // and an extra per-write shuffle stage costs more than it saves
      // (measured +1-3 s per sync harness when applied unconditionally).
      val w = if (clusterWrite) df.repartition(col("__bucket")) else df
      w.write.mode("overwrite").partitionBy("__bucket")
        .parquet(staging.toString)
    }
    val staged = changed.filter(b =>
      fs.exists(new Path(staging, s"__bucket=$b")))
    require(legacy.forall(n => !n.contains("/") && !n.contains("\n")),
      s"legacy entries must be plain root-level file names: $legacy")
    val tmp = new Path(staging, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((s"changed:${changed.mkString(",")}\n" +
      s"staged:${staged.mkString(",")}\n" +
      s"legacy:${legacy.mkString(",")}\n").getBytes("UTF-8"))
    finally out.close()
    fs.rename(tmp, new Path(staging, ManifestName)): Unit
    swapStaged(fs, staging, path, changed, staged.toSet, legacy)
  }

  /** Finish a crashed [[stageAndSwapBuckets]]: a staging dir WITH a
    * manifest is past the commit point — its data may already be the only
    * copy of some buckets — so the swap re-executes to completion; without
    * a manifest the stage never committed and the live layout is intact —
    * discard the orphan. Must run before anything reads the table. */
  private[sync] def recoverStaging(fs: FileSystem, path: String): Unit = {
    val staging = new Path(path + StageSuffix)
    if (!fs.exists(staging)) return
    val manifest = new Path(staging, ManifestName)
    if (!fs.exists(manifest)) { fs.delete(staging, true); return }
    val in = fs.open(manifest)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    def field(prefix: String): Option[String] =
      lines.find(_.startsWith(prefix))
        .map(_.stripPrefix(prefix).trim).filter(_.nonEmpty)
    def ids(prefix: String): Seq[Int] =
      field(prefix).map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Nil)
    swapStaged(fs, staging, path, ids("changed:"), ids("staged:").toSet,
      field("legacy:").map(_.split(",").toSeq).getOrElse(Nil))
  }

  /** Step 3+4 of the swap protocol (see [[stageAndSwapBuckets]]);
    * idempotent, so [[recoverStaging]] can re-execute it wholesale. */
  private def swapStaged(fs: FileSystem, staging: Path, path: String,
      changed: Seq[Int], staged: Set[Int],
      legacy: Seq[String] = Seq.empty): Unit = {
    fs.mkdirs(new Path(path))
    // legacy plain-table files retire FIRST (inside the manifest's crash
    // scope): once the bucketed layout lands they would be read as
    // duplicate rows beside it
    legacy.foreach { n =>
      val f = new Path(path, n)
      if (fs.exists(f)) fs.delete(f, false)
    }
    changed.foreach { b =>
      val src = new Path(staging, s"__bucket=$b")
      val dst = new Path(path, s"__bucket=$b")
      val old = new Path(path, s".__old__bucket=$b")
      if (staged(b)) {
        if (fs.exists(src)) {
          if (fs.exists(dst)) {
            if (fs.exists(old)) fs.delete(old, true)
            fs.rename(dst, old): Unit
          }
          fs.rename(src, dst): Unit
        } // else: this bucket was already swapped by a previous attempt
      } else if (fs.exists(dst)) fs.delete(dst, true) // emptied by deletes
      if (fs.exists(old)) fs.delete(old, true)
    }
    fs.delete(staging, true)
  }

  /** Full sync run against a parquet-backed target table: classify, apply
    * ([[mergeTarget]] — S10/S12/S13/S16), persist state (S18).
    * MERGE-semantics application is idempotent, so retries are safe
    * (strictly stronger than the reference's row-at-a-time autocommit,
    * SURVEY §2.10). The whole-table swap is the unbucketed LEGACY mode —
    * [[runPartitioned]] is the changed-bucket-only default at scale. */
  def run(spark: SparkSession, source: DataFrame, targetPath: String,
      statePath: String, hashCol: String = "doc_hash",
      children: Seq[ChildSync] = Seq.empty): SyncResult = {
    val current = currentWithHash(source, hashCol, children.nonEmpty)
    val state = StateStore.load(spark, statePath)
    val classified = classify(current, state, hashCol).cache()
    try {
      val result = metrics(classified)
      Sinks.recover(fsOf(spark, targetPath), new Path(targetPath))
      Sinks.atomicOverwrite(spark, mergeTarget(
        Some(spark.read.parquet(targetPath)), source, classified,
        Some(deletedIds(classified)), hashCol), targetPath)
      val childCounts = applyChildren(spark, classified, children,
        hasChanges = result.totalProcessed > 0)
      StateStore.save(spark, nextState(classified, hashCol), statePath)
      result.copy(children = childCounts)
    } finally classified.unpersist()
  }
}
