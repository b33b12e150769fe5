package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Keyed sinks and schema-alignment combinators (S10-S16).
  *
  * The reference's write path is one SQL statement per row on an autocommit
  * connection (`REPLACE INTO` / `UPDATE` / `DELETE`, Data_Migration.ps1:
  * 233-267; Sync.ps1:543-718). Here the same semantics are DataFrame
  * combinators — anti-join + union for upsert, left-anti for delete — that
  * execute as bulk partitioned writes. All joins are equi-joins on the key:
  * at 100 TB they shuffle both sides once on the key (or broadcast the small
  * delta side, which AQE decides from runtime stats).
  */
object Sinks {

  /** S11: align `df` to a target schema — missing columns become typed nulls
    * (`NULL` for absent fields, Sync.ps1:584-601), extra columns dropped. */
  def alignToSchema(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** S10: keyed upsert — `REPLACE INTO` semantics (delete-then-insert on the
    * key, Data_Migration.ps1:247): rows of `updates` win over rows of `base`
    * with the same key. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    base.join(updates.select(key), Seq(key), "left_anti")
      .unionByName(alignToSchema(updates, base.schema))

  /** S12: keyed field update — MERGE `WHEN MATCHED UPDATE` (Sync.ps1:621-688).
    * `updates` carries the key plus the columns to overwrite; unmatched base
    * rows pass through, matched rows take the new values. */
  def applyUpdates(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val updCols = updates.columns.filter(_ != key).toSeq
    val renamed = updates.select(col(key) +:
      updCols.map(c => col(c).as(s"__upd_$c")): _*)
    val joined = base.join(renamed, Seq(key), "left_outer")
    updCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(s"__upd_$c"), col(c)))
    }.select(base.columns.map(col).toSeq: _*)
  }

  /** S13: keyed delete — MERGE `WHEN MATCHED DELETE` (Sync.ps1:690-718) as a
    * left-anti join. */
  def delete(base: DataFrame, deletedKeys: DataFrame, key: String): DataFrame =
    base.join(deletedKeys.select(key), Seq(key), "left_anti")

  /** S16/U2/F7: schema evolution — union two frames onto their merged
    * (superset) schema, new columns null-filled for old rows (ALTER TABLE ADD
    * COLUMN ... NULL, Sync.ps1:452-469). */
  def mergeSchemas(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val merged = StructType(oldDf.schema.fields ++
      newDf.schema.fields.filterNot(f => oldDf.columns.contains(f.name)))
    alignToSchema(oldDf, merged).unionByName(alignToSchema(newDf, merged))
  }

  /** U2/F7: missing-column set difference (mongo fields ∉ SQL columns,
    * Sync.ps1:441-449) — plan-time metadata, driver-side by design. */
  def missingColumns(source: StructType, target: StructType): Seq[String] =
    source.fieldNames.toSeq.filterNot(target.fieldNames.toSet)

  /** An observed count metric (`df.observe(obs, count(lit(1)).as(name))`),
    * available once the action that carries it has finished; a count over
    * an empty frame is 0, never null. */
  private[graft] def observed(obs: Observation, name: String): Long =
    obs.get(name) match {
      case l: java.lang.Long => l.longValue
      case x => throw new IllegalStateException(
        s"unexpected observed count '$name': $x")
    }

  /** Atomic keyed overwrite for file-backed tables: write to a sibling temp
    * directory, then swap via rename — the file-based equivalent of the
    * reference's transactional REPLACE (SURVEY §7.4.4). Reading `path` while
    * writing its replacement is safe because the write lands in `path.tmp`.
    * A crash between the two renames leaves the old table whole at
    * `path.__old__`; [[recover]] puts it back, here at entry and in every
    * reader of the tables this writes, so no reader sees the table absent
    * and no later call deletes its only copy. */
  def atomicOverwrite(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".__tmp__")
    val dst = new Path(path)
    val bak = new Path(path + BackupSuffix)
    recover(fs, dst)
    Label(spark.sparkContext, s"write:${dst.getName}") {
      df.write.mode("overwrite").parquet(tmp.toString)
    }
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst)) fs.rename(dst, bak)
    fs.rename(tmp, dst)
    if (fs.exists(bak)) fs.delete(bak, true)
  }

  private val BackupSuffix = ".__old__"

  /** Finish an [[atomicOverwrite]] that crashed between its renames: when
    * `path` is absent and `path.__old__` exists, rename the latter back,
    * so the table reads as it was before the interrupted write. Returns
    * whether `path` exists afterwards. One `exists` call when it does.
    * Under the single-writer contract `path` is absent only between one
    * writer's own renames, so only a crash leaves it so. */
  private[graft] def recover(fs: FileSystem, path: Path): Boolean =
    fs.exists(path) || {
      val bak = new Path(path.toString + BackupSuffix)
      fs.exists(bak) && fs.rename(bak, path)
    }
}
