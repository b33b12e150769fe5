package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.StateStore
import graft.sync.{ChildSync, IncrementalSync}

/** Crash safety of `Sinks.atomicOverwrite`, the whole-table swap behind
  * `IncrementalSync.run`, its child tables and `StateStore.save`: a crash
  * after either of its two renames leaves every reader the whole old or the
  * whole new table, and the next sync lands exactly the uncrashed answer.
  *
  * A crash is reproduced as the on-disk state it leaves, as
  * CommittedBatchesSpec does for the streaming operators: the tables the
  * sync wrote before the cut hold their new version, the cut table is
  * caught between its renames, and the tables after it hold their old
  * version. The swap renames `path` to `path.__old__`, then the finished
  * `path.__tmp__` to `path`. */
class AtomicOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def copy(src: String, dst: String): Unit =
    FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration): Unit

  private def docs(rows: (String, String, Seq[Long])*): DataFrame =
    rows.toDF("_id", "name", "qtys").select($"_id", $"name",
      transform($"qtys", q => struct(q.as("qty"))).as("items"))

  private val v1 = docs(("1", "a", Seq(1L, 2L)), ("2", "b", Seq(3L)),
    ("3", "c", Seq(4L)))
  // a nested edit, a flat edit, a delete and an insert
  private val v2 = docs(("1", "a", Seq(9L, 2L)), ("3", "C", Seq(4L)),
    ("4", "d", Seq(5L, 6L)))

  private def sync(dir: String, v: DataFrame) = IncrementalSync.run(spark, v,
    s"$dir/tdocs.parquet", s"$dir/state.parquet",
    children = ChildSync.forSchema(v, "tdocs", dir))

  /** The tables `sync` writes, in the order it writes them. */
  private val tables = Seq("tdocs.parquet", "tdocs_items.parquet",
    "state.parquet")

  /** A table as its reader sees it. */
  private def read(dir: String, t: String): Seq[String] = {
    val df = if (t == "state.parquet") StateStore.load(spark, s"$dir/$t")
      else IncrementalSync.readTarget(spark, s"$dir/$t")
    df.collect().map(_.toString).sorted.toSeq
  }

  private lazy val (before, after) = {
    val b = tmp("graft_aow_before")
    v1.limit(0).write.parquet(s"$b/tdocs.parquet")
    sync(b, v1)
    val a = tmp("graft_aow_after")
    tables.foreach(t => copy(s"$b/$t", s"$a/$t"))
    sync(a, v2)
    (b, a)
  }

  /** A copy of `before` as a crash during `sync(v2)` leaves it: after the
    * first rename of `cut` (`intoPlace = false`) or after its second. */
  private def crashed(cut: String, intoPlace: Boolean): String = {
    val dir = tmp("graft_aow_crash")
    val (done, rest) = tables.span(_ != cut)
    done.foreach(t => copy(s"$after/$t", s"$dir/$t"))
    rest.tail.foreach(t => copy(s"$before/$t", s"$dir/$t"))
    copy(s"$before/$cut", s"$dir/$cut.__old__")
    copy(s"$after/$cut", s"$dir/$cut" + (if (intoPlace) "" else ".__tmp__"))
    dir
  }

  test("a crash after either rename of any table a sync overwrites: " +
      "readers see the whole old or the whole new table, and the next " +
      "sync lands the uncrashed answer") {
    val want = tables.map(read(after, _))
    assert(tables.map(read(before, _)).zip(want).forall { case (o, n) =>
      o != n }, "every table changes between the two versions")
    for (cut <- tables; intoPlace <- Seq(false, true)) {
      val what = s"$cut after its ${if (intoPlace) "second" else "first"} " +
        "rename"
      val seen = read(crashed(cut, intoPlace), cut)
      assert(seen == read(if (intoPlace) after else before, cut), what)
      // the sync alone, with no reader before it
      val dir = crashed(cut, intoPlace)
      sync(dir, v2)
      assert(tables.map(read(dir, _)) == want, s"$what: next sync differs")
      assert(!fs.exists(new Path(s"$dir/$cut.__old__")),
        s"$what: the old copy outlived the next sync")
    }
  }
}
