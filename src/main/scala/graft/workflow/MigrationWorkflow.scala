package graft.workflow

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.decompose.Decomposer
import graft.io.Sinks
import graft.model.{RelationalModel, TableKind, TableSpec}
import graft.profile.{SchemaProfile, SchemaProfiler}
import graft.sync.IncrementalSync
import graft.types.Dialect
import graft.validate.Validator

/** Engine configuration (S19; reference config.json → Get-AppConfig,
  * private/Config.ps1:14-24 and README.md:47-68). */
case class MigrationConfig(
    collection: String,
    outDir: String,
    dialect: Dialect = Dialect.MySQL,
    sampleSize: Int = 100,          // Analyze_scheme.ps1:41
    validationSampleSize: Int = 10, // Migration_Validation.ps1:31
    fullProfile: Boolean = false,   // profile all docs instead of the sample
    // Some(n): incremental syncs run the changed-bucket-only path
    // (IncrementalSync.runPartitioned, n id-hash buckets) — per-sync I/O
    // proportional to the churned key set, the 100 TB default. The first
    // bucketed sync adopts a plain fullMigration table in place. None
    // keeps the legacy whole-table swap.
    syncBuckets: Option[Int] = None,
    // decompose-aware sync (round-11 verdict item 2): changed documents'
    // CHILD tables (nested objects, arrays) merge in lockstep with the
    // main table, and change detection hashes the FULL document so
    // subtree-only edits are visible (Q5-fixed canon). false restores
    // the reference's main-table-only sync + flat-field hash ABI.
    syncChildTables: Boolean = true)

/** O2/O5 result: per-phase outcome of one collection migration. */
case class MigrationReport(
    collection: String,
    profile: SchemaProfile,
    tables: Seq[TableSpec],
    rowCounts: Map[String, Long],
    status: String)

/** O1-O7: the public orchestration API (Invoke-MigrationWorkflow,
  * public/MasterWorkflow.ps1:1-184).
  *
  * Phases mirror the reference's FullMigration (MasterWorkflow.ps1:226-282):
  * [1/4] profile → [2/4] compile relational model + DDL artifact →
  * [3/4] decompose + write → [4/4] validate. Each phase is a lazy DataFrame
  * plan; actions happen only at writes and validation counts (SURVEY §3.1).
  */
object MigrationWorkflow {

  /** S5: collection discovery — enumerate parquet collections in a source
    * directory, filtering `system.*` (MasterWorkflow.ps1:186-221, filter
    * :205 / F6). */
  def discoverCollections(spark: SparkSession, sourceDir: String): Seq[String] = {
    val fs = new Path(sourceDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(sourceDir))) return Seq.empty
    fs.listStatus(new Path(sourceDir)).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .filterNot(_.startsWith("system.")) // F6
      .sorted
  }

  /** O2: full migration — profile, compile, decompose, write, validate
    * (Invoke-FullMigration, MasterWorkflow.ps1:226-282). */
  def fullMigration(spark: SparkSession, docs: DataFrame,
      cfg: MigrationConfig): MigrationReport = {
    // NOTE deliberately NOT persisted: each phase's action prunes the
    // document frame differently (the main-table write never builds the
    // array columns, the profile sample reads 100 docs, reconciliation only
    // counts), and Catalyst pushes that pruning into the source scans.
    // Caching would materialize every column once up front — measured
    // slower here and strictly worse at 100 TB.
    // [1/4] schema analysis (MasterWorkflow.ps1:248)
    val prof = graft.io.Label(spark.sparkContext, "migrate:profile") {
      if (cfg.fullProfile) SchemaProfiler.collectProfile(docs)
      else SchemaProfiler.profile(docs, cfg.sampleSize)
    }
    // [2/4] relational model + DDL artifact (:255-259)
    val model = RelationalModel.compile(prof, cfg.collection)
    writeDdlArtifact(spark, model, cfg)
    // [3/4] decompose + bulk write (:264) — fixes quirk Q3: child tables are
    // actually populated. The per-table writes are INDEPENDENT jobs over
    // differently-pruned projections of the same source, so they run
    // concurrently: Spark's scheduler interleaves their stages and fills
    // the cores a single sequential job would leave idle.
    // Each table is stamped with its schema (`_graft_schema`, the stamp
    // sync layouts carry), so IncrementalSync.readTarget — validation and
    // the first bucketed sync — reads it pinned instead of running a
    // footer-merging schema job.
    val tables = Decomposer.decompose(docs, model)
    val fs = new Path(cfg.outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.Concurrency.mapBounded(tables.toSeq) { case (name, df) =>
      graft.io.Label(spark.sparkContext, s"migrate:write $name") {
        val path = s"${cfg.outDir}/$name.parquet"
        df.write.mode("overwrite").parquet(path)
        IncrementalSync.stampSchema(fs, path, df.schema)
      }
    }: Unit
    // [4/4] validation (:272) — the per-table row counts as ONE union job
    // of count-pruned parquet scans (footer metadata; the countReport
    // shape) instead of one count action per table, and the V1
    // reconciliation reuses the just-counted main table: only the source
    // side needs its own count job (guide §1.2 — don't re-scan for a
    // number already in hand; semantics identical to countReconciliation).
    // The re-reads carry the schema their write used: a schema-less
    // parquet read starts a Spark job just to infer it from the footers.
    val counts = graft.io.Label(spark.sparkContext, "migrate:counts") {
      tables.toSeq.sortBy(_._1).map { case (name, df) =>
        spark.read.schema(df.schema).parquet(s"${cfg.outDir}/$name.parquet")
          .agg(count(lit(1)).as("row_count"))
          .select(lit(name).as("table_name"), col("row_count"))
      }.reduce(_ unionByName _).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val srcCnt = graft.io.Label(spark.sparkContext, "migrate:recon") {
      docs.count()
    }
    val status = if (srcCnt == counts(cfg.collection)) "PASSED" else "FAILED"
    MigrationReport(cfg.collection, prof, model, counts, status)
  }

  /** The per-table row-count report as ONE DataFrame plan — a union of
    * count-pruned parquet scans (each leg reads zero columns; counts come
    * from footer metadata) instead of a driver-side Map rendered to local
    * rows. This keeps the flagship entry's output exchange-auditable
    * (PlanSpec pins the shape) and distributed end-to-end. */
  def countReport(spark: SparkSession, outDir: String,
      tables: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "countReport needs at least one table")
    tables.map { name =>
      spark.read.parquet(s"$outDir/$name.parquet")
        .agg(count(lit(1)).as("row_count"))
        .select(lit(name).as("table_name"), col("row_count"))
    }.reduce(_ unionByName _).orderBy("table_name")
  }

  /** Export the generated DDL script (Export-SQLSchema,
    * Sql_Schema_Generator.ps1:460-494 / S17). */
  def writeDdlArtifact(spark: SparkSession, model: Seq[TableSpec],
      cfg: MigrationConfig): Unit = {
    val ddl = model.map(_.ddl(cfg.dialect)).mkString("\n\n") + "\n"
    val p = new Path(s"${cfg.outDir}/${cfg.collection}_schema_${cfg.dialect.name}.sql")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(ddl.getBytes("UTF-8")) finally out.close()
  }

  /** O3: incremental with full-migration fallback when the target table does
    * not exist yet (Invoke-IncrementalMigration, MasterWorkflow.ps1:284-333,
    * probe :302-312). */
  def incrementalMigration(spark: SparkSession, docs: DataFrame,
      cfg: MigrationConfig): Either[MigrationReport, graft.sync.SyncResult] = {
    val targetPath = s"${cfg.outDir}/${cfg.collection}.parquet"
    val fs = new Path(targetPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(targetPath)))
      Left(fullMigration(spark, docs, cfg)) // fallback (:314-318)
    else {
      // The reference's sync never re-analyzes the source — it reads the
      // target's column list (SHOW COLUMNS, Sync.ps1:411) and flat-projects
      // documents. For a schema'd DataFrame the flat column set is static
      // schema metadata (identical to the profiled main-table spec: every
      // scalar top-level field, sorted), so no per-sync profile pass runs —
      // and the CHILD tables' specs are equally static schema metadata
      // (RelationalModel.fromSchema), so decompose-aware sync keeps the
      // zero-profile property.
      import org.apache.spark.sql.types.{ArrayType, StructType}
      val flatCols = docs.schema.fields.toSeq.filter(f =>
        !f.dataType.isInstanceOf[StructType] &&
          !f.dataType.isInstanceOf[ArrayType]).map(_.name).sorted
      val children =
        if (!cfg.syncChildTables) Seq.empty
        else graft.sync.ChildSync.forSchema(docs, cfg.collection, cfg.outDir)
      // change detection must SEE subtree edits when child tables sync
      // (DocHash.forSync: the full-document canon then, the reference's
      // flat-only canon otherwise); IncrementalSync trusts a pre-hashed
      // source
      val flat = graft.sync.DocHash.forSync(docs, children.nonEmpty, Set.empty)
        .select((flatCols :+ "doc_hash").map(col): _*)
      val statePath = s"${cfg.outDir}/sync_state_${cfg.collection}.parquet"
      Right(cfg.syncBuckets match {
        // changed-bucket-only sync (SCALE.md's 100 TB write path): only
        // the buckets holding churned ids are read or rewritten; the
        // first bucketed sync converts the fullMigration bootstrap table
        // to the __bucket=K layout in place
        case Some(b) =>
          IncrementalSync.runPartitioned(spark, flat, targetPath,
            statePath, b, children = children)
        case None =>
          IncrementalSync.run(spark, flat, targetPath, statePath,
            children = children)
      })
    }
  }

  /** O4: validation-only pass (Invoke-ValidationOnly,
    * MasterWorkflow.ps1:335-366). Child tables present on disk are
    * cross-checked for referential integrity (Validator.fkIntegrity), so
    * a stale child table — the failure a main-only sync used to leave
    * silently — fails the status roll-up. Tables written by
    * [[fullMigration]] or a sync carry a schema stamp, so their reads
    * start no schema-inference job. */
  def validationOnly(spark: SparkSession, docs: DataFrame,
      cfg: MigrationConfig, compareFields: Seq[String]): DataFrame = {
    // schema-safe read (stored-schema pin / footer merge — a synced layout
    // can be mixed-schema after a churn-scoped drift); __bucket is a
    // storage detail, not document content: drop it from validation
    def readTable(p: String): DataFrame = {
      val df = graft.sync.IncrementalSync.readTarget(spark, p)
      if (df.columns.contains("__bucket")) df.drop("__bucket") else df
    }
    val target = readTable(s"${cfg.outDir}/${cfg.collection}.parquet")
    val fs = new Path(cfg.outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children = RelationalModel.fromSchema(docs.schema, cfg.collection)
      .filter(_.kind != TableKind.Main)
      .map(spec => (s"${cfg.outDir}/${spec.name}.parquet", spec))
      .filter { case (p, _) => fs.exists(new Path(p)) }
      .map { case (p, spec) => (readTable(p), spec.fkColumn.get) }
    Validator.statusReport(docs.select(target.columns.map(col).toSeq: _*),
      target, "_id", compareFields, cfg.validationSampleSize, children)
  }

  /** O4: schema-only pass (Invoke-SchemaOnly, MasterWorkflow.ps1:368-401). */
  def schemaOnly(spark: SparkSession, docs: DataFrame,
      cfg: MigrationConfig): Seq[TableSpec] = {
    val prof = SchemaProfiler.profile(docs, cfg.sampleSize)
    val model = RelationalModel.compile(prof, cfg.collection)
    writeDdlArtifact(spark, model, cfg)
    model
  }

  /** O1: multi-collection driver (Invoke-MigrationWorkflow,
    * MasterWorkflow.ps1:1-184): discovers collections when none are given,
    * dispatches per collection, aggregates a summary. `loadDocs` maps a
    * collection name to its document DataFrame.
    *
    * Collections migrate CONCURRENTLY on a bounded pool (the reference's
    * loop is sequential, MasterWorkflow.ps1:99; per-collection concurrency
    * is this engine's win, SURVEY §4.2) — safe because every artifact a
    * migration writes is keyed by its collection name (`<name>.parquet`,
    * `<name>_<child>.parquet`, `<name>_schema_<dialect>.sql`), so distinct
    * collections never share a path even in one shared `outDir`. Reports
    * return in input order. */
  def run(spark: SparkSession, sourceDir: String, collections: Seq[String],
      cfgFor: String => MigrationConfig,
      loadDocs: String => DataFrame): Seq[MigrationReport] = {
    val names =
      if (collections.nonEmpty) collections
      else discoverCollections(spark, sourceDir)
    require(names.distinct.size == names.size,
      s"duplicate collection names would race on their artifacts: $names")
    graft.io.Concurrency.mapBounded(names)(n =>
      fullMigration(spark, loadDocs(n), cfgFor(n)))
  }
}
