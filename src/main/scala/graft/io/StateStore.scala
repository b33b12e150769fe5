package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S18: sync-state persistence.
  *
  * The reference keeps `sync_state_{table}.json` = `{LastSyncTime,
  * DocumentHashes: {id → md5}}` as a single driver-loaded JSON file
  * (Sync.ps1:296-349). That id→hash map is O(collection) — at 100 TB it is a
  * *table*, so here state is a parquet table `(_id string, hash string)`
  * written through [[Sinks.atomicOverwrite]]; `LastSyncTime` (recorded but
  * never used for filtering in the reference — Sync.ps1:67) is file metadata.
  */
object StateStore {
  val schema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("hash", StringType)))

  /** Zero-row state frame with the canonical `(_id, hash)` schema (first
    * sync — nothing persisted yet). */
  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def load(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Sinks.recover(fs, new Path(path))) {
      // the state schema is CANONICAL ((_id, hash) strings — save() casts,
      // the partitioned sync writes the same), so pin it instead of paying
      // driver-side footer sampling + partition-schema inference on every
      // load — this runs once per sync/micro-batch on the hot path
      val bucketed = fs.listStatus(new Path(path))
        .exists(_.getPath.getName.startsWith("__bucket="))
      val sch = if (bucketed) schema.add("__bucket", IntegerType) else schema
      spark.read.schema(sch).parquet(path)
    } else emptyState(spark)
  }

  def save(spark: SparkSession, state: DataFrame, path: String): Unit =
    Sinks.atomicOverwrite(spark,
      state.select(col("_id").cast("string"), col("hash").cast("string")), path)

  // ---- Versioned state: immutable `v=N` snapshots under one root ---------
  // Every sync PUBLISHES a new version instead of overwriting: a reader
  // never observes a half-written version (the rename is the commit),
  // operators keep an audit trail, and a bad sync rolls back by deleting
  // versions — no backup restore. Single-writer contract (one scheduled
  // sync owns a root); retention bounds disk. Reader contract: a loaded
  // frame is lazy — either run its action before the writer publishes
  // `keep` more versions, or PIN the version first ([[pinVersion]] /
  // [[unpinVersion]]): retention never prunes a version at or above the
  // lowest live pin, so a slow reader survives any number of publishes.
  // Pins are the reader's liability — take them try/finally, because a
  // leaked pin holds versions until it is removed. The reference has no
  // equivalent — its JSON state is clobbered in place (Sync.ps1:331-349).

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VersionDir = "v=(\\d+)".r

  /** All committed version numbers under `root`, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val fs = fsOf(spark, root)
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case s if s.isDirectory => s.getPath.getName match {
        case VersionDir(n) => Some(n.toInt)
        case _ => None
      }
    }.flatten.sorted
  }

  /** Publish `state` as the next version; returns its number. The write
    * lands in a hidden temp dir and a RENAME commits it — readers see
    * either the previous latest or the complete new version, never a
    * partial write. Prunes to the `keep` newest versions afterwards.
    * Schema-agnostic: any state frame versions (sync hash maps, dedup
    * fingerprints, MinHash signatures); [[loadLatest]]'s empty fallback is
    * the sync schema, so other state kinds bootstrap on
    * `versions(...).isEmpty` instead. */
  def saveVersion(spark: SparkSession, state: DataFrame, root: String,
      keep: Int = 3): Int = {
    require(keep >= 1, "must keep at least the newest version")
    val fs = fsOf(spark, root)
    val next = versions(spark, root).lastOption.getOrElse(0) + 1
    val tmp = new Path(root, s".tmp_v$next")
    state.write.mode("overwrite").parquet(tmp.toString)
    val committed = new Path(root, s"v=$next")
    if (!fs.rename(tmp, committed))
      throw new java.io.IOException(s"state commit failed: $tmp -> $committed")
    // prune to the keep-window, but never past a reader's pin: a version
    // at or above the lowest live pin stays until the pin is released
    val floor = pinnedFloor(spark, root)
    versions(spark, root).dropRight(keep)
      .filter(v => floor.forall(v < _))
      .foreach(v => fs.delete(new Path(root, s"v=$v"), true))
    next
  }

  private val PinFile = "\\.pin_(.+)".r

  /** Register a reader pin on version `v`: retention ([[saveVersion]]'s
    * prune) will not delete `v` — or anything newer — until the pin is
    * released with [[unpinVersion]]. Returns the pin token. Take pins
    * try/finally; a leaked pin holds versions until removed. */
  def pinVersion(spark: SparkSession, root: String, v: Int): String = {
    require(versions(spark, root).contains(v), s"no such state version: $v")
    val fs = fsOf(spark, root)
    val token = java.util.UUID.randomUUID().toString
    // commit-by-rename (same protocol as saveVersion): the pin file only
    // becomes visible fully written, so a concurrent prune can never read
    // a half-written (empty) pin, dismiss it as garbled, and prune past it
    val tmp = new Path(root, s".tmp_pin_$token")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val pin = new Path(root, s".pin_$token")
    if (!fs.rename(tmp, pin))
      throw new java.io.IOException(s"pin commit failed: $tmp -> $pin")
    // close the check-then-pin race: a prune that sampled the pin set
    // before this commit may have deleted v in the window. Fail loudly
    // (releasing the useless pin) instead of handing back a pin on a
    // vanished version; pinning the NEWEST version never races (retention
    // keeps the newest `keep` versions regardless of pins).
    if (!versions(spark, root).contains(v)) {
      fs.delete(pin, false)
      throw new IllegalStateException(
        s"state version $v was pruned while pinning; re-read latest and retry")
    }
    token
  }

  /** Release a reader pin (idempotent). */
  def unpinVersion(spark: SparkSession, root: String, token: String): Unit = {
    fsOf(spark, root).delete(new Path(root, s".pin_$token"), false): Unit
  }

  /** Lowest version any live pin holds, if any. An unreadable/garbled pin
    * file is ignored (it cannot have been committed by pinVersion's
    * write+close) rather than wedging retention forever. */
  private def pinnedFloor(spark: SparkSession, root: String): Option[Int] = {
    val fs = fsOf(spark, root)
    val p = new Path(root)
    if (!fs.exists(p)) None
    else {
      val pins = fs.listStatus(p).toSeq.flatMap { s =>
        s.getPath.getName match {
          case PinFile(_) => readText(fs, s.getPath).trim.toIntOption
          case _ => None
        }
      }
      pins.minOption
    }
  }

  /** A small metadata file (pin, intent, manifest) as UTF-8 text. */
  private[graft] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** A specific committed version. */
  def loadVersion(spark: SparkSession, root: String, v: Int): DataFrame =
    spark.read.parquet(new Path(root, s"v=$v").toString)

  /** Newest committed version, or the empty state when none exists. */
  def loadLatest(spark: SparkSession, root: String): DataFrame =
    versions(spark, root).lastOption
      .map(loadVersion(spark, root, _)).getOrElse(emptyState(spark))

  /** Roll back by deleting every version NEWER than `toVersion` — the next
    * sync diffs against the restored state as if the bad runs never
    * happened (apply is idempotent MERGE, so re-syncing repairs the
    * target). */
  def rollback(spark: SparkSession, root: String, toVersion: Int): Unit = {
    val vs = versions(spark, root)
    require(vs.contains(toVersion), s"no such state version: $toVersion ($vs)")
    val fs = fsOf(spark, root)
    vs.filter(_ > toVersion)
      .foreach(v => fs.delete(new Path(root, s"v=$v"), true))
  }
}
