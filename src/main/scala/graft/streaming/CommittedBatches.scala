package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Observation,
  SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.io.{Sinks, StateStore}

/** The committed-micro-batch protocol — the one place it lives. Every
  * streaming operator ([[StreamDedup]], [[StreamSegmentDedup]],
  * [[StreamChunkDedup]], [[StreamRepeats]], [[StreamScd2]],
  * [[StreamIndex]], [[StreamSketch]]) is its batch body and its merge rule
  * on top of this layer. [[StreamSync]]'s MERGE is idempotent by itself:
  * its streams only drain through [[drain]].
  *
  * A store is named by a marker `prefix` under a `stateRoot` and holds one
  * or more sub-stores (parquet roots). Effectively-exactly-once under
  * foreachBatch's at-least-once delivery, in this order:
  *  1. replay skip ([[commit]]): a batch with a marker, or listed by the
  *     latest compaction manifest, is never re-run;
  *  2. intent ([[pinnedState]]): `<prefix>_<id>.intent` pins one state
  *     version per versioned root (`a,b` for two roots, `v` for one),
  *     committed by temp-write + rename before any mutation, so a replay
  *     after ANY crash recomputes from the same inputs; an unparseable
  *     intent implies nothing was mutated and is rewritten; a pinned
  *     version pruned before the replay fails loudly;
  *  3. the batch body overwrites its `batch=<id>` directories whole
  *     ([[writeBatch]], row count as an observed metric) and publishes
  *     any state;
  *  4. the marker `<prefix>_<id>.done` is written LAST.
  * Readers ([[read]]) list only committed batches, so a crash window is
  * invisible until the replay heals it.
  *
  * Compaction ([[compact]]) bounds read fan-in, crash-safe at every point:
  * the new `base=<gen>` directories are written first (an orphan base is
  * invisible — readers follow only the manifest); the manifest
  * `<prefix>_compact_<gen>.done`, carrying the cumulative folded-id set,
  * commits by temp-write + rename — the single commit point; only then are
  * folded batch directories, the old base, folded markers, their intents
  * and older manifests deleted. A crash in that last step leaves garbage
  * readers ignore and the next compaction retires. Single writer:
  * compaction runs between batches, never beside a landing batch. */
object CommittedBatches {

  case class CompactResult(gen: Int, foldedNow: Long, foldedTotal: Long,
      skipped: Boolean)

  private lazy val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.stream")

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(stateRoot: String, prefix: String, id: Long) =
    new Path(stateRoot, s"${prefix}_$id.done")

  private def intent(stateRoot: String, prefix: String, id: Long) =
    new Path(stateRoot, s"${prefix}_$id.intent")

  private def manifest(stateRoot: String, prefix: String, gen: Long) =
    new Path(stateRoot, s"${prefix}_compact_$gen.done")

  private def batchDir(subRoot: String, batchId: Long): String =
    s"$subRoot/batch=$batchId"

  private def baseDir(subRoot: String, gen: Long): String =
    s"$subRoot/base=$gen"

  /** Ids N of the `<name>N<suffix>` entries of `dir`, filtered by shape,
    * so `batch_*.done` never picks up `batch_compact_1.done`. */
  private def numbered(fs: FileSystem, dir: String, name: String,
      suffix: String): Seq[Long] = {
    val q = java.util.regex.Pattern.quote _
    val re = s"^${q(name)}(\\d+)${q(suffix)}$$".r
    fs.globStatus(new Path(dir, s"$name*$suffix")).toSeq
      .map(_.getPath.getName).collect { case re(n) => n.toLong }
  }

  /** Commit `text` at `dst`: temp-write, then rename over any leftover. */
  private def commitText(fs: FileSystem, tmp: Path, dst: Path,
      text: String): Unit = {
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"commit failed: $tmp -> $dst")
  }

  /** (latest manifest as (generation, folded ids), committed-but-unfolded
    * batch ids ascending). */
  private def view(fs: FileSystem, stateRoot: String,
      prefix: String): (Option[(Long, Set[Long])], Seq[Long]) = {
    val m = numbered(fs, stateRoot, s"${prefix}_compact_", ".done")
      .maxOption.map { g =>
        val ids = StateStore.readText(fs, manifest(stateRoot, prefix, g)).trim
        (g, if (ids.isEmpty) Set.empty[Long]
            else ids.split(",").map(_.toLong).toSet)
      }
    val folded = m.fold(Set.empty[Long])(_._2)
    (m, numbered(fs, stateRoot, s"${prefix}_", ".done")
      .filterNot(folded).sorted)
  }

  /** Batch already landed? From its marker OR the latest manifest —
    * compaction retires folded markers. */
  private def isCommitted(fs: FileSystem, stateRoot: String, prefix: String,
      batchId: Long): Boolean =
    fs.exists(marker(stateRoot, prefix, batchId)) ||
      view(fs, stateRoot, prefix)._1.exists(_._2.contains(batchId))

  /** Run micro-batch `batchId`'s body once: None for a replay of a
    * committed batch, else the body's result with the marker written
    * after the body returned. A body that throws leaves no marker. */
  def commit[R](spark: SparkSession, stateRoot: String, prefix: String,
      batchId: Long)(body: => R): Option[R] = {
    val fs = fsOf(spark, stateRoot)
    if (isCommitted(fs, stateRoot, prefix, batchId)) None
    else {
      val r = body
      fs.create(marker(stateRoot, prefix, batchId), true).close()
      Some(r)
    }
  }

  /** The state each versioned root held when batch `batchId` first ran,
    * pinned by its intent: one loaded version per root, None where the
    * root had no version yet (the caller bootstraps an empty state). */
  def pinnedState(spark: SparkSession, stateRoot: String, prefix: String,
      batchId: Long, roots: Seq[String]): Seq[Option[DataFrame]] = {
    val fs = fsOf(spark, stateRoot)
    val at = intent(stateRoot, prefix, batchId)
    val pinned = Option.when(fs.exists(at)) {
      StateStore.readText(fs, at).trim.split(",").toSeq.map(_.toIntOption)
    }.filter(vs => vs.size == roots.size && vs.forall(_.isDefined))
      .map(_.flatten)
    val versions = pinned.getOrElse {
      val now = roots.map(StateStore.versions(spark, _).lastOption.getOrElse(0))
      commitText(fs, new Path(stateRoot, s"${at.getName}.tmp"), at,
        now.mkString(","))
      now
    }
    roots.zip(versions).map { case (root, v) =>
      Option.when(v != 0) {
        require(StateStore.versions(spark, root).contains(v),
          s"pinned state version v=$v pruned from $root — raise keepVersions")
        StateStore.loadVersion(spark, root, v)
      }
    }
  }

  /** Overwrite sub-store `subRoot`'s `batch=<id>` directory whole with
    * `df` (a replay rewrites it, never appends); returns the row count,
    * observed on the write job. */
  def writeBatch(df: DataFrame, subRoot: String, batchId: Long): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(batchDir(subRoot, batchId))
    Sinks.observed(obs, "n")
  }

  /** Cache a batch frame the body runs more than once (foreachBatch
    * re-reads its source per action, and every action must agree). */
  def cachedFor[R](batch: DataFrame)(body: => R): R = {
    batch.cache()
    try body finally batch.unpersist()
  }

  /** The parquet paths a reader of sub-store `subRoot` unions: the
    * compaction base, if one is committed, plus every unfolded committed
    * batch. Fails naming the store (`what`) when nothing has committed —
    * an empty store would otherwise read as an empty answer. */
  def committedPaths(spark: SparkSession, stateRoot: String, prefix: String,
      subRoot: String, what: String): Seq[String] = {
    val (m, tail) = view(fsOf(spark, stateRoot), stateRoot, prefix)
    val paths = m.map(g => baseDir(subRoot, g._1)).toSeq ++
      tail.map(batchDir(subRoot, _))
    require(paths.nonEmpty,
      s"no committed $what under $subRoot (markers in $stateRoot)")
    paths
  }

  /** Sub-store `subRoot` over every committed batch. */
  def read(spark: SparkSession, stateRoot: String, prefix: String,
      subRoot: String, what: String): DataFrame =
    spark.read.parquet(committedPaths(spark, stateRoot, prefix, subRoot,
      what): _*)

  /** Fold every committed-but-unfolded batch (and the previous base) of
    * each sub-store into one new `base=<gen>`, commit the manifest, then
    * retire the folded inputs. No-op (skipped) when nothing is unfolded.
    * `fold` (applied to each sub-store's union) lets a mergeable store
    * pre-aggregate its base; it must be idempotent under re-fold, which
    * any associative merge is. Reads are identical before and after. */
  def compact(spark: SparkSession, stateRoot: String, prefix: String,
      subRoots: Seq[String],
      fold: Option[DataFrame => DataFrame]): CompactResult = {
    require(subRoots.nonEmpty, "compact: no sub-stores given")
    val fs = fsOf(spark, stateRoot)
    val (m, tail) = view(fs, stateRoot, prefix)
    val prevGen = m.map(_._1)
    val folded = m.fold(Set.empty[Long])(_._2) ++ tail
    if (tail.isEmpty)
      return CompactResult(prevGen.getOrElse(0L).toInt, 0, folded.size,
        skipped = true)
    val gen = prevGen.getOrElse(0L) + 1
    // 1. the new bases (overwrite heals an orphan of a crashed attempt)
    subRoots.foreach { root =>
      val unioned = spark.read.parquet(
        prevGen.map(baseDir(root, _)).toSeq ++ tail.map(batchDir(root, _)): _*)
      fold.fold(unioned)(_(unioned))
        .write.mode("overwrite").parquet(baseDir(root, gen))
    }
    // 2. the commit point
    commitText(fs, new Path(stateRoot, s"${prefix}_compact_$gen.tmp"),
      manifest(stateRoot, prefix, gen), folded.toSeq.sorted.mkString(","))
    // 3. retire everything folded by listing, not just this run's tail,
    //    so leftovers of a crash inside an earlier step 3 go too
    def retire(dir: String, name: String, suffix: String,
        dead: Long => Boolean): Unit =
      numbered(fs, dir, name, suffix).filter(dead).foreach(n =>
        fs.delete(new Path(dir, s"$name$n$suffix"), true))
    subRoots.foreach { root =>
      retire(root, "batch=", "", folded)
      retire(root, "base=", "", _ < gen)
    }
    retire(stateRoot, s"${prefix}_", ".done", folded)
    retire(stateRoot, s"${prefix}_", ".intent", folded)
    retire(stateRoot, s"${prefix}_compact_", ".done", _ < gen)
    CompactResult(gen.toInt, tail.size, folded.size, skipped = false)
  }

  /** Drain a parquet-directory stream through `body` (AvailableNow — the
    * scheduled-poll form); `body` gets each micro-batch and its id. Pass
    * `schema` for a deployed poll; without it the schema is inferred from
    * the directory's current files, and a poll that fires before the first
    * producer write is a warned no-op drain, never a crash. */
  def drain(spark: SparkSession, sourceDir: String, checkpoint: String,
      schema: Option[StructType])(body: (DataFrame, Long) => Unit): Unit =
    schemaFor(spark, sourceDir, schema).foreach { sch =>
      spark.readStream.schema(sch).parquet(sourceDir).writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch((b: DataFrame, id: Long) => body(b, id))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  /** The caller's schema, else eager inference; None (warned, naming
    * which state the directory is in — a typo'd path would otherwise
    * no-op forever unnoticed) when nothing can be inferred yet. */
  private def schemaFor(spark: SparkSession, sourceDir: String,
      explicit: Option[StructType]): Option[StructType] =
    explicit.orElse(
      try Some(spark.read.parquet(sourceDir).schema)
      catch {
        case _: AnalysisException =>
          val state =
            if (!fsOf(spark, sourceDir).exists(new Path(sourceDir)))
              "directory does not exist — check the configured path"
            else "directory exists but holds no readable parquet yet"
          log.warn(s"schema inference failed for stream source " +
            s"'$sourceDir' ($state); draining as a no-op this poll")
          None
      })
}
