package graft

import org.apache.spark.sql.functions._
import graft.scale.Temporal
import graft.streaming.{CommittedBatches, StreamScd2}

/** Streaming SCD2 maintenance: out-of-order batches converge to the
  * batch-at-once dimension, crash-window exclusion, replay idempotency,
  * compaction equality. */
class StreamScd2Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  // per-key change streams with deliberate cross-batch time interleaving
  private val changes = Seq(
    (1L, 10L, 1L, "A"), (1L, 20L, 2L, "B"), (1L, 30L, 3L, "B"),
    (1L, 40L, 4L, "C"),
    (2L, 10L, 5L, "X"), (2L, 50L, 6L, "Y")
  ).toDF("k", "tsec", "id", "attr")
    .select($"k", timestamp_seconds($"tsec").as("ts"), $"id", $"attr")

  private def dim(store: String, state: String) =
    StreamScd2.currentDimension(spark, store, state)
      .select($"key", $"version", $"attr",
        unix_seconds($"effective_from").as("from_s"),
        unix_seconds($"effective_to").as("to_s"), $"is_current")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().toSet

  private lazy val whole = Temporal.scd2(changes, "k", "ts", "id", "attr")
    .select($"k", $"version", $"attr",
      unix_seconds($"effective_from").as("from_s"),
      unix_seconds($"effective_to").as("to_s"), $"is_current")
    .as[(Long, Long, String, Long, Option[Long], Boolean)]
    .collect().toSet

  test("LATE batch (earlier timestamps arriving after later ones) " +
      "renumbers versions to exactly the batch-at-once dimension") {
    val store = tmp("graft_s2_w")
    val state = tmp("graft_s2_s")
    // batch 0 carries the LATER half of every key's history; batch 1 the
    // EARLIER half — worst-case arrival order
    val late = changes.filter($"id".isin(2L, 4L, 6L))
    val early = changes.filter(!$"id".isin(2L, 4L, 6L))
    val r0 = StreamScd2.applyBatch(spark, late, 0L, "k", "ts", "id",
      "attr", store, state)
    assert(!r0.replaySkipped && r0.received == 3)
    // after batch 0 alone, key 1 has versions over (B@20, C@40) only
    val partial = dim(store, state)
    assert(partial.filter(_._1 == 1L).map(_._3) == Set("B", "C"))
    val r1 = StreamScd2.applyBatch(spark, early, 1L, "k", "ts", "id",
      "attr", store, state)
    assert(!r1.replaySkipped)
    assert(dim(store, state) == whole)
    // key 1's duplicate B@30 collapsed across the batch boundary:
    // versions are A@10, B@20, C@40 — three, not four
    assert(whole.count(_._1 == 1L) == 3)
    // replay of a committed batch is a no-op and changes nothing
    assert(StreamScd2.applyBatch(spark, early, 1L, "k", "ts", "id",
      "attr", store, state).replaySkipped)
    assert(dim(store, state) == whole)
  }

  test("a crashed batch (store written, no marker) is invisible and " +
      "heals on replay; compaction preserves the dimension") {
    val store = tmp("graft_s2_w2")
    val state = tmp("graft_s2_s2")
    val b0 = changes.filter($"id" <= 3)
    val b1 = changes.filter($"id" > 3)
    StreamScd2.applyBatch(spark, b0, 0L, "k", "ts", "id", "attr",
      store, state)
    // crash window: batch 1's store lands without a marker
    b1.select($"k".as("key"), $"ts", $"id".as("tie"), $"attr")
      .write.mode("overwrite").parquet(s"$store/changes/batch=1")
    assert(dim(store, state).forall(_._1 == 1L) &&
      !dim(store, state).exists(r => r._1 == 2L && r._3 == "Y"),
      "uncommitted batch leaked into the dimension")
    val r = StreamScd2.applyBatch(spark, b1, 1L, "k", "ts", "id", "attr",
      store, state)
    assert(!r.replaySkipped)
    assert(dim(store, state) == whole)
    // compaction folds the batch dirs; the dimension is unchanged and a
    // folded batch's replay stays a no-op
    val c = StreamScd2.compact(spark, store, state)
    assert(c.foldedNow >= 2)
    assert(dim(store, state) == whole)
    assert(StreamScd2.applyBatch(spark, b1, 1L, "k", "ts", "id", "attr",
      store, state).replaySkipped)
  }

  test("a scheduled poll firing before the producer's first write is a " +
      "no-op drain, and an explicit schema drains once files appear") {
    val src = tmp("graft_s2_src")
    val store = tmp("graft_s2_w3")
    val state = tmp("graft_s2_s3")
    val cp = tmp("graft_s2_cp")
    // absent source dir: no-op, no crash, nothing committed
    def drain(dir: String, ckpt: String,
        schema: Option[org.apache.spark.sql.types.StructType]): Unit =
      CommittedBatches.drain(spark, dir, ckpt, schema) { (b, id) =>
        StreamScd2.applyBatch(b.sparkSession, b, id, "k", "ts", "id", "attr",
          store, state)
      }
    drain(s"$src/never_written", s"$cp/a", None)
    // existing-but-empty source dir: same
    drain(src, s"$cp/b", None)
    intercept[IllegalArgumentException](dim(store, state)) // still empty
    // the deployed shape: schema passed explicitly, files now present
    changes.write.mode("overwrite").parquet(s"$src/data")
    drain(s"$src/data", s"$cp/c", Some(changes.schema))
    assert(dim(store, state) == whole)
  }
}
