package graft.io

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The engine's canonical SparkSession recipe — one place for the conf the
  * operators are designed around, instead of a drifting copy per entry
  * point.
  *
  * What it sets and why it matters at 100 TB:
  *  - AQE on, with partition coalescing and skew-join splitting: runtime
  *    re-planning sizes reducers from actual map output and splits hot
  *    keys, which no static `shuffle.partitions` guess survives at scale.
  *  - `spark.sql.optimizer.runtime.bloomFilter.enabled`: the optimizer's
  *    own runtime row-filter injection (the automatic counterpart of
  *    [[Bucketing.bloomPrunedSemiJoin]]).
  *  - `files.maxPartitionBytes` 128 MiB: scan tasks sized so a partition's
  *    working set fits executor memory with room for shuffle buffers.
  *  - UTC session timezone: timestamp canon (X7/F8) must not depend on
  *    cluster locale.
  *  - `legacy.parquet.nanosAsLong`: the events fixture carries
  *    TIMESTAMP(NANOS), which vanilla Spark rejects; `Tables.load`
  *    converts the long to a microsecond timestamp.
  *  - `parquet.inferTimestampNTZ.enabled=false`: fixtures written by
  *    writers that omit `isAdjustedToUTC` (pyarrow naive timestamps)
  *    otherwise surface as TIMESTAMP_NTZ, which watermarks,
  *    `unix_micros`, and interval joins reject. Reading them as the
  *    session-zone TIMESTAMP is value-identical under the UTC timezone
  *    pinned above, and keeps one timestamp type across the engine.
  *
  * Cluster sizing guidance (not set here — they are cluster-shape
  * decisions): `shuffle.partitions` ≈ 2-3× total executor cores (AQE
  * coalesces the excess), executor memory ≥ 4 GiB/core, and
  * `sql.adaptive.advisoryPartitionSizeInBytes` at its 64 MiB default.
  */
object EngineSession {

  /** Apply the engine conf to any builder (cluster deployments call this
    * on their own builder; masters/resources stay theirs). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // let AQE size the partitioning of CACHED plans too (off by default
      // only for partitioning-reuse compatibility): the sync/workflow
      // operators cache the document frame across phases, and without this
      // the cache pins the static shuffle.partitions count — every
      // downstream job then pays that task count regardless of data size,
      // at any scale (guide §2.2: let AQE coalesce; results unaffected)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.files.maxPartitionBytes", 128L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** A `local[cores]` session for the harness mains and tests (UI off —
    * these are headless runs). */
  def local(cores: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.ui.enabled", "false"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // Iterative operators release dead round-RDDs eagerly
    // (Bridge.unpersistRdds); a task-end update racing that release makes
    // DAGScheduler log a benign "Failed to update accumulator" ERROR with
    // a full stack trace — noise that pattern-matches to failure in
    // harness logs. Filter THAT MESSAGE only (real stage-failure ERRORs
    // keep flowing; they also reach callers as exceptions). Fallback if
    // the filter API is unavailable: leave the logger at ERROR and accept
    // the accumulator noise — FATAL-gating would also suppress genuine
    // stage-failure diagnostics, which is worse than the noise.
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val lc = ctx.getConfiguration
        .getLoggerConfig("org.apache.spark.scheduler.DAGScheduler")
      lc.addFilter(RegexFilter.createFilter(
        ".*Failed to update accumulator.*", null, false,
        Filter.Result.DENY, Filter.Result.NEUTRAL))
      ctx.updateLoggers()
    } catch { case NonFatal(_) =>
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        org.apache.logging.log4j.Level.ERROR)
      catch { case NonFatal(_) => () }
    }
    spark
  }
}
