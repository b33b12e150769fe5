package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** H1: the document change-detection hash — the sync-state ABI.
  *
  * Reference canon (private/Sync.ps1:362-387, quirks Q5/Q6):
  * uppercase MD5 hex of the compact JSON of the document's *flat* fields,
  * sorted by field name (W2, :366), values stringified, nulls → "" (:373).
  *
  * Built entirely from codegen'd built-ins: `upper(md5(to_json(struct(...))))`
  * — no custom Expression, no UDF (SURVEY.md §2.13). Per-row, no shuffle.
  *
  * Q5 (the reference hashes flat fields only, so nested edits are invisible
  * to sync) is preserved when callers pass only flat columns — the default
  * for state compatibility; pass the full column set to fix it.
  */
object DocHash {
  /** Canonical compact-JSON document string (X2; Sync.ps1:379). */
  def canonicalJson(flatCols: Seq[String]): Column =
    to_json(struct(flatCols.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("")).as(c)): _*))

  /** The uppercase-hex MD5 hash (X1; Sync.ps1:382-386). A hash failure in the
    * reference silently degrades to a fresh GUID (quirk Q7) — here an
    * unhashable column type fails the plan at analysis time instead. */
  def docHash(flatCols: Seq[String]): Column =
    upper(md5(canonicalJson(flatCols)))

  /** The flat scalar columns of `df` — the reference's hash domain (Q5). */
  def flatColumns(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if !f.dataType.typeName.startsWith("array") &&
        !f.dataType.typeName.startsWith("struct") &&
        !f.dataType.typeName.startsWith("map") => f.name
    }.toSeq

  /** Convenience: append the hash column to `df` over its flat scalar
    * columns. `exclude` removes non-content columns (the previous hash,
    * export timestamps/sequence numbers) from the canon — a version column
    * hashed into the document would mark every doc updated on every
    * snapshot. */
  def withDocHash(df: DataFrame, hashCol: String = "doc_hash",
      exclude: Set[String] = Set.empty): DataFrame = {
    val flat = flatColumns(df).filterNot(c => c == hashCol || exclude(c))
    df.withColumn(hashCol, docHash(flat))
  }

  /** The sync canon rule, one place for every sync entry point: when
    * child tables sync, the FULL document ([[fullDocHash]]) so subtree-only
    * edits classify as updated; otherwise the reference's flat canon
    * ([[withDocHash]]). Every path that writes one sync state must hash the
    * same way, or the next sync re-reports every touched document as
    * updated and a repeated nested-only edit classifies unchanged.
    * `exclude` drops non-content columns (a version stamp, a feed's op
    * tag). */
  def forSync(df: DataFrame, childTables: Boolean,
      exclude: Set[String], hashCol: String = "doc_hash"): DataFrame =
    if (childTables) fullDocHash(df, hashCol, exclude)
    else withDocHash(df, hashCol, exclude)

  /** Q5-FIXED variant: hash the FULL document — nested objects and arrays
    * included via their compact-JSON serialization — so edits inside
    * subtrees are visible to sync. Not state-compatible with the reference's
    * flat-only canon; choose per deployment (`--hash-flat-only` semantics,
    * SURVEY §4.3 Q5). */
  def fullDocHash(df: DataFrame, hashCol: String = "doc_hash",
      exclude: Set[String] = Set.empty): DataFrame = {
    val cols = df.columns.filterNot(c => c == hashCol || exclude(c))
      .sorted.toSeq
    val canon = struct(cols.map { c =>
      val f = df.schema(c)
      val v = f.dataType.typeName match {
        case t if t.startsWith("struct") || t.startsWith("array") ||
          t.startsWith("map") => to_json(col(c))
        case _ => col(c).cast("string")
      }
      coalesce(v, lit("")).as(c)
    }: _*)
    df.withColumn(hashCol, upper(md5(to_json(canon))))
  }
}
