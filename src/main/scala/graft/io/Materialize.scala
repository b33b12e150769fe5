package graft.io

import org.apache.spark.sql.{Column, DataFrame}

/** Lineage-cutting materialization for frames that are consumed by multiple
  * plan branches or produced by iterative loops (connected components,
  * k-means), where keeping the full logical lineage would grow the analyzed
  * plan multiplicatively per round.
  *
  * Mode selection:
  *  - RELIABLE checkpoint when `sparkContext.setCheckpointDir(...)` has been
  *    configured: blocks live on the checkpoint filesystem, so losing an
  *    executor (crash, or dynamic allocation reclaiming it) cannot strand
  *    the materialized frame — the right mode on a multi-executor cluster.
  *  - Executor-local checkpoint otherwise: no filesystem round-trip, blocks
  *    on executor storage. Appropriate for single-JVM/local runs where an
  *    executor loss kills the job anyway; its storage is reclaimed by the
  *    context cleaner once the frame is garbage-collected.
  *
  * Eagerness is gated by `spark.graft.eagerMaterialize` (default false),
  * but "lazy" only defers the FINAL stage. Building the checkpoint plans
  * the frame, and under adaptive execution planning runs every upstream
  * exchange and broadcast at the call: a frame with a shuffle beneath it
  * runs its map-stage jobs right here (a checkpoint over a fingerprint
  * aggregate ran 2 jobs at construction). Only a frame with no exchange
  * (a per-row projection of another materialized frame) costs nothing to
  * build. The final stage runs with the first action over the result;
  * loops that need it immediately follow the call with an action of their
  * own.
  */
object Materialize {
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val eager = spark.conf.getOption("spark.graft.eagerMaterialize")
      .exists(_.toBoolean)
    if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)
  }

  /** A frame computed ONCE, by the map side of a hash shuffle on `keys`
    * that runs at the call, whose every later action runs only the reduce
    * side over that shuffle's output: the reuse of [[apply]] with no row
    * in executor storage. For frames the caller reads after the operator
    * that built them has returned, where no point exists at which to
    * [[release]] a checkpoint: the shuffle files, like every shuffle's,
    * live until the ContextCleaner finds the frame unreachable, and a lost
    * one is recomputed from the lineage. */
  def shuffled(df: DataFrame, keys: Column*): DataFrame = {
    val out = df.repartition(keys: _*)
    org.apache.spark.sql.graftbridge.Bridge.overRdd(out,
      out.queryExecution.toRdd)
  }

  /** Drop a materialized frame's executor-local blocks once every consumer
    * has run its action. Iterative loops produce one dead frame per round;
    * without an explicit release their blocks survive until the GC-driven
    * ContextCleaner notices, and the accumulated storage competes with the
    * live working set. Releasing a frame something unmaterialized still
    * depends on is NOT safe (local checkpoints sever lineage — the blocks
    * are the only copy). */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.Bridge.unpersistRdds(df)
}
