package phasebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sync.{ChildCounts, ChildSync, SyncResult}
import graft.workflow.{MigrationConfig, MigrationWorkflow}

/** One benchmark workload. A cycle makes the workload's timed calls through
  * [[Runner.call]] and checks each call's output outside the clock. */
trait Workload {
  /** The two end-to-end calls (`call1_s`, `call2_s`), each a group of
    * timed spans, with the names the workload's document gives them. */
  def calls: Seq[(String, Seq[String])]
  /** Untimed: the workload's seeded inputs. */
  def generate(spark: SparkSession): Unit
  /** Timed into `setup_s`: the program's one-time work after session
    * start. */
  def bootstrap(spark: SparkSession): Unit = ()
  /** Untimed per-cycle input (the sync churn batch and snapshot). */
  def prepare(spark: SparkSession, cycle: Int): Unit = ()
  def cycle(spark: SparkSession, cycle: Int, run: Runner): Unit
  /** Workload-specific layer ratios of one traced cycle. */
  def layer(t: CycleTrace): Map[String, Double] = Map.empty
  /** Untimed checks after the last cycle. */
  def finish(spark: SparkSession, run: Runner): Unit = ()
  /** Facts for the run record. */
  def record: Map[String, Any] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("migrate", "sync", "curate")
  /** The workloads `BENCHMARK.json` lists. `sync` is not among them: on the
    * engine as it is, its feed fails its checks (see README.md). */
  val Listed: Seq[String] = Seq("migrate", "curate")

  def apply(name: String, dir: String, seed: Long): Option[Workload] =
    name match {
      case "migrate" => Some(new Migrate(dir, seed))
      case "sync" => Some(new Sync(dir, seed))
      case "curate" => Some(new Curate(dir, seed))
      case _ => None
    }

  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  def remove(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Full migration of the order documents into a fresh directory, then the
  * validation-only pass over the result. */
final class Migrate(dir: String, seed: Long) extends Workload {
  val calls = Seq("migrate_s" -> Seq("migrate"), "validate_s" -> Seq("validate"))
  private val docsPath = s"$dir/docs.parquet"
  private var docsBytes = 1L
  private var lineitems = 0L
  private val compareFields =
    Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")

  def generate(spark: SparkSession): Unit = {
    val docs = Gen.orderDocs(seed)
    Gen.writeDocs(spark, docs, docsPath)
    docsBytes = Workload.dirBytes(spark, docsPath)
    val items = Gen.DocSchema.fieldIndex("lineitems")
    lineitems = docs.map(_.getSeq[Row](items).size.toLong).sum
  }

  def cycle(spark: SparkSession, c: Int, run: Runner): Unit = {
    val out = s"$dir/out"
    Workload.remove(spark, out)
    val cfg = MigrationConfig("odocs", out)
    run.call("migrate") {
      MigrationWorkflow.fullMigration(spark, spark.read.parquet(docsPath), cfg)
    }.foreach { rep =>
      val want = Map("odocs" -> Gen.Orders, "odocs_customer" -> Gen.Orders,
        "odocs_lineitems" -> lineitems, "odocs_tags" -> 2 * Gen.Orders)
      run.check(rep.status == "PASSED", s"fullMigration status ${rep.status}")
      run.check(rep.rowCounts == want, s"row counts ${rep.rowCounts} != $want")
    }
    run.call("validate") {
      MigrationWorkflow.validationOnly(spark, spark.read.parquet(docsPath),
        cfg, compareFields).select("status").collect()
    }.foreach { rows =>
      run.check(rows.map(_.getString(0)).toSeq == Seq("PASSED"),
        s"validationOnly status ${rows.mkString}")
    }
  }

  override def layer(t: CycleTrace): Map[String, Double] =
    Map("migrate.scan_passes" ->
      t.inputBytes.getOrElse("migrate", 0L).toDouble / docsBytes)

  override def record: Map[String, Any] = Map(
    "docs" -> Gen.Orders, "lineitems" -> lineitems, "docs_bytes" -> docsBytes)
}

/** Change-feed batches and snapshot reconciliations against a bucketed,
  * decompose-aware sync target. The source collection lives in the JVM
  * memory; each cycle's feed batch and snapshot are written before the
  * clock starts. */
final class Sync(dir: String, seed: Long) extends Workload {
  val calls = Seq("feed_apply_s" -> Seq("feed"),
    "snapshot_apply_s" -> Seq("snapshot"))
  private val Coll = "odocs"
  private val Buckets = 16
  /** Per 10000 documents: updates, deletes and inserts of one churn. */
  private val UpdRate = 80
  private val DelRate = 10
  private val InsRate = 10
  private val Children = Seq("odocs_customer", "odocs_lineitems", "odocs_tags")

  private val out = s"$dir/target"
  private var corpus = IndexedSeq.empty[Row]
  private val docsPath = s"$dir/docs.parquet"
  private var snapPath = docsPath
  private var feedPath = ""
  private var wantFeed: SyncResult = _
  private var wantSnap: SyncResult = _

  private def cfg = MigrationConfig(Coll, out, syncBuckets = Some(Buckets),
    syncChildTables = true)

  def generate(spark: SparkSession): Unit = {
    corpus = Gen.orderDocs(seed)
    Gen.writeDocs(spark, corpus, docsPath)
  }

  /** Full migration plus the first state sync, which moves the target to
    * the bucketed layout. */
  override def bootstrap(spark: SparkSession): Unit = {
    val docs = spark.read.parquet(docsPath)
    MigrationWorkflow.fullMigration(spark, docs, cfg)
    MigrationWorkflow.incrementalMigration(spark, docs, cfg)
  }

  private val Seq(iPrice, iCustomer, iItems, iTags) =
    Seq("o_totalprice", "customer", "lineitems", "tags")
      .map(Gen.DocSchema.fieldIndex)
  private val iQuantity = Gen.DocSchema("lineitems").dataType
    .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    .asInstanceOf[org.apache.spark.sql.types.StructType].fieldIndex("l_quantity")

  /** An update changes the first line item's quantity or the order total. */
  private def bump(d: Row, rng: scala.util.Random): Row = {
    val v = d.toSeq.toArray
    if (rng.nextBoolean()) {
      val items = d.getSeq[Row](iItems)
      val first = items.head.toSeq.toArray
      first(iQuantity) = items.head.getDouble(iQuantity) + 1.0
      v(iItems) = Row.fromSeq(first.toSeq) +: items.tail
    } else v(iPrice) = d.getDouble(iPrice) + 1.0
    Row.fromSeq(v.toSeq)
  }

  /** Child rows a document holds in each child table. */
  private def childRows(d: Row): Seq[Long] = Seq(
    if (d.isNullAt(iCustomer)) 0L else 1L, d.getSeq[Row](iItems).size.toLong,
    d.getSeq[String](iTags).size.toLong)

  /** One seeded churn of the corpus: about 0.8% of documents updated, 0.1%
    * deleted and 0.1% inserted (copies of original documents under fresh
    * ids). Returns the changed rows, tagged, and the result a sync of this
    * churn must report. */
  private def churn(event: Int, unchanged: Boolean)
      : (Seq[(Row, String)], SyncResult) = {
    val rng = new scala.util.Random(seed * 1000003L + event)
    val offset = (event + 1) * 10000000L
    val next = IndexedSeq.newBuilder[Row]
    val changes = Seq.newBuilder[(Row, String)]
    var (nIns, nUpd, nDel) = (0L, 0L, 0L)
    val ins = Array(0L, 0L, 0L)
    val del = Array(0L, 0L, 0L)
    def add(a: Array[Long], d: Row) =
      childRows(d).zipWithIndex.foreach { case (n, i) => a(i) += n }
    val inserts = Seq.newBuilder[Row]
    corpus.foreach { d =>
      val r = rng.nextInt(10000)
      if (r < UpdRate) {
        val u = bump(d, rng)
        next += u; changes += (u -> "upsert"); nUpd += 1; add(ins, u); add(del, d)
      } else if (r < UpdRate + DelRate) {
        changes += (d -> "delete"); nDel += 1; add(del, d)
      } else {
        next += d
        if (r < UpdRate + DelRate + InsRate && d.getString(0).toLong < Gen.Orders) {
          val v = d.toSeq.toArray
          v(0) = (d.getString(0).toLong + offset).toString
          val n = Row.fromSeq(v.toSeq)
          inserts += n; changes += (n -> "upsert"); nIns += 1; add(ins, n)
        }
      }
    }
    val before = corpus.size.toLong
    corpus = (next.result() ++ inserts.result()).sortBy(_.getString(0))
    (changes.result(), SyncResult(nIns, nUpd, nDel,
      if (unchanged) before - nUpd - nDel else 0L, 0L,
      Children.indices.map(i =>
        Children(i) -> ChildCounts(ins(i), del(i))).toMap))
  }

  /** Writes this cycle's change-feed batch, raw documents tagged by `_op`
    * as a change stream emits them, and the next snapshot, which holds
    * everything the feed applied plus a fresh churn the feed never
    * carried. */
  override def prepare(spark: SparkSession, c: Int): Unit = {
    val (feed, fr) = churn(2 * c, unchanged = false)
    wantFeed = fr
    feedPath = s"$dir/feed$c.parquet"
    val rows = feed.map { case (d, op) =>
      if (op == "upsert") Row.fromSeq(d.toSeq :+ op)
      else Row.fromSeq(d.getString(0) +: Seq.fill(d.size - 1)(null) :+ op)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        Gen.DocSchema.add("_op", "string"))
      .coalesce(1).write.mode("overwrite").parquet(feedPath)
    wantSnap = churn(2 * c + 1, unchanged = true)._2
    if (snapPath != docsPath) Workload.remove(spark, snapPath)
    snapPath = s"$dir/snap$c.parquet"
    Gen.writeDocs(spark, corpus, snapPath)
  }

  def cycle(spark: SparkSession, c: Int, run: Runner): Unit = {
    val target = s"$out/$Coll.parquet"
    val state = s"$out/sync_state_$Coll.parquet"
    run.call("feed") {
      graft.streaming.StreamSync.applyFeedBatch(spark,
        spark.read.parquet(feedPath), target, state, Buckets,
        childrenFor = Some(ups => ChildSync.forSchema(ups, Coll, out)))
    }.foreach(r => run.check(r == wantFeed, s"feed result $r != $wantFeed"))
    run.call("snapshot") {
      MigrationWorkflow.incrementalMigration(spark, spark.read.parquet(snapPath),
        cfg)
    }.foreach(r => run.check(r == Right(wantSnap),
      s"snapshot result $r != $wantSnap"))
    Workload.remove(spark, feedPath)
  }

  override def layer(t: CycleTrace): Map[String, Double] = Map(
    "feed.write_amp" -> t.rowsWritten.getOrElse("feed", 0L).toDouble /
      wantFeed.totalProcessed,
    "snapshot.write_amp" -> t.rowsWritten.getOrElse("snapshot", 0L).toDouble /
      wantSnap.totalProcessed)

  /** The main and child tables equal a fresh decomposition of the final
    * snapshot. */
  override def finish(spark: SparkSession, run: Runner): Unit = {
    val docs = spark.read.parquet(snapPath)
    val fresh = graft.decompose.Decomposer.decompose(docs,
      graft.model.RelationalModel.fromSchema(docs.schema, Coll))
    fresh.foreach { case (name, want) =>
      val got = graft.sync.IncrementalSync.readTarget(spark,
        s"$out/$name.parquet").select(want.columns.map(col): _*)
      val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
      run.check(diff == 0, s"table $name differs from the final snapshot " +
        s"in $diff rows")
    }
  }

  override def record: Map[String, Any] = Map("docs" -> Gen.Orders,
    "final_docs" -> corpus.size, "buckets" -> Buckets)
}

/** Curation over the known-duplicate corpus, then an IVF-PQ train and
  * probe over the embeddings. */
final class Curate(dir: String, seed: Long) extends Workload {
  val calls = Seq("curate_s" -> Seq("curate"),
    "ann_s" -> Seq("ann.train", "ann.probe"))
  private val Queries = 50
  private val K = 10
  /** The recall floor the IVF-PQ probe must meet on every seed. */
  val RecallFloor = 0.9
  private var docsPath = ""
  private var embPath = ""
  private var exact = Map.empty[Long, Seq[Long]]
  private var first: Option[(Seq[Long], Seq[Row], Map[Long, Seq[Long]])] = None
  private var recall = 0.0

  def generate(spark: SparkSession): Unit = {
    docsPath = Gen.documents(spark, seed, dir)
    val (p, vecs) = Gen.embeddings(spark, seed, dir)
    embPath = p
    exact = Gen.exactTopK(vecs, 0 until Queries, K)
  }

  def cycle(spark: SparkSession, c: Int, run: Runner): Unit = {
    import graft.scale.{CurationPipeline, Pq, Similarity}
    val cur = run.call("curate") {
      val d = spark.read.parquet(docsPath).select("doc_id", "text")
      val (kept, _) = CurationPipeline.curateTrace(
        d.unionByName(d.withColumn("doc_id", col("doc_id") + Gen.DocShift)),
        "doc_id", "text")
      (kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
        CurationPipeline.stats(kept).collect().toSeq)
    }
    cur.foreach { case (ids, _) =>
      run.check(ids.nonEmpty && ids.forall(_ < Gen.DocShift),
        "a shifted exact duplicate survived curation")
    }
    val e = spark.read.parquet(embPath)
    val cb = run.call("ann.train") {
      val cents = Similarity.centroids(e.select(col("label"), col("embedding")),
        "label", "embedding")
      val re = Pq.residualize(e.select(col("vec_id"), col("label").as("cell"),
        col("embedding")), cents, "cell", "embedding")
      val cb = Pq.codebook(re, "vec_id", "embedding", m = 8, k = 16, iters = 2)
        .cache()
      cb.count()
      (re, cb)
    }
    val top = cb.flatMap { case (re, book) =>
      try run.call("ann.probe") {
        val codes = Pq.encode(re, book, "vec_id", "embedding")
          .join(e.select(col("vec_id"), col("label").as("cell")), Seq("vec_id"))
        Pq.adcTopK(re.filter(col("vec_id") < Queries), codes, book, "vec_id",
            "embedding", k = K, cellCol = Some("cell"))
          .collect().toSeq
          .groupBy(_.getAs[Long]("query_id"))
          .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rnk"))
            .map(_.getAs[Long]("neighbor_id")) }
      } finally book.unpersist()
    }
    top.foreach { t =>
      recall = exact.map { case (q, ns) =>
        t.getOrElse(q, Seq.empty).toSet.intersect(ns.toSet).size.toDouble / K
      }.sum / Queries
      run.check(recall >= RecallFloor, s"recall@$K $recall < $RecallFloor")
    }
    for ((ids, stats) <- cur; t <- top) first match {
      case None => first = Some((ids, stats, t))
      case Some(f) => run.check(f == ((ids, stats, t)),
        "curation or top-k output differs from the first cycle")
    }
  }

  override def layer(t: CycleTrace): Map[String, Double] =
    Map("ann.recall_at_10" -> recall)

  override def record: Map[String, Any] = Map("documents" -> Gen.Documents,
    "vectors" -> Gen.Vectors, "recall_at_10" -> recall)
}
