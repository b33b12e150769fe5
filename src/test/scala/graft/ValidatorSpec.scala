package graft

import java.sql.Timestamp
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.validate.{Normalize, Validator}

/** Mirrors Tests/Data_Migration.Tests.ps1 (which actually tests validation):
  * normalization canon, row compare, count reconciliation, status machine
  * (FIXTURES.md §1.6). */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  test("F8: normalization canon — bool→1/0, datetime format, null→empty") {
    val df = Seq((true, Timestamp.valueOf("2024-01-01 12:30:00"),
      Option.empty[String], "  pad  ", 2.5))
      .toDF("b", "ts", "n", "s", "d")
    val row = df.select(
      Normalize.canon($"b", BooleanType),
      Normalize.canon($"ts", TimestampType),
      Normalize.canon($"n", StringType),
      Normalize.canon($"s", StringType),
      Normalize.canon($"d", DoubleType)).head()
    assert(row.getString(0) == "1")
    assert(row.getString(1) == "2024-01-01 12:30:00")
    assert(row.getString(2) == "")
    assert(row.getString(3) == "pad")
    assert(row.getString(4) == "2.5")
  }

  test("V2: matching rows produce zero differences") {
    val a = Seq(("1", "Jan", 30L)).toDF("_id", "name", "age")
    assert(Validator.rowCompare(a, a, "_id", Seq("name", "age")).isEmpty)
  }

  test("V2: field missing in target reported as difference") {
    val s = Seq(("1", "Jan", 30L)).toDF("_id", "name", "age")
    val t = Seq(("1", "Jan", Option.empty[java.lang.Long])).toDF("_id", "name", "age")
    val diffs = Validator.rowCompare(s, t, "_id", Seq("name", "age"))
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
    assert(diffs.toSeq == Seq(("age", "30", "")))
  }

  test("V2: target row entirely missing → every field differs") {
    val s = Seq(("1", "Jan")).toDF("_id", "name")
    val t = Seq(("2", "Piet")).toDF("_id", "name")
    val diffs = Validator.rowCompare(s, t, "_id", Seq("name"))
    assert(diffs.count() == 1)
  }

  test("V1: count reconciliation match and mismatch") {
    val five = (1 to 5).toDF("v")
    val ten = (1 to 10).toDF("v")
    val ok = Validator.countReconciliation(five, five).head()
    assert(ok.getAs[Boolean]("counts_match"))
    val bad = Validator.countReconciliation(ten, five).head()
    assert(!bad.getAs[Boolean]("counts_match"))
    assert(bad.getAs[Long]("diff") == 5)
  }

  test("V3: integrity suite detects null PKs, duplicates, empty table") {
    val df = Seq(Some(1L), Some(1L), Some(2L), None).toDF("k")
    val checks = Validator.integrity(df, "k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(checks == Map("null_pk" -> 1L, "duplicate_keys" -> 1L, "empty_table" -> 0L))
    val empty = Validator.integrity(Seq.empty[Long].toDF("k"), "k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(empty("empty_table") == 1L)
  }

  test("V4: status machine PASSED / PARTIAL / FAILED") {
    assert(Validator.status(true, 10, 0, 0) == "PASSED")
    assert(Validator.status(false, 8, 2, 0) == "PARTIAL")
    assert(Validator.status(false, 2, 8, 0) == "FAILED")
    assert(Validator.status(true, 10, 0, 3) == "PARTIAL") // issues but samples pass
  }

  test("V4: statusReport end-to-end PASSED on identical tables") {
    val df = (1 to 20).map(i => (i.toString, s"n$i")).toDF("_id", "name")
    val rep = Validator.statusReport(df, df, "_id", Seq("name")).head()
    assert(rep.getAs[String]("status") == "PASSED")
  }

  test("V3 FK suite: orphans, missing children, array_index gaps — each " +
      "caught by exactly one check; clean tables report all-zero") {
    val parent = Seq("1", "2", "3").toDF("_id")
    val clean = Seq(
      ("1", 0L, "a"), ("1", 1L, "b"), ("2", 0L, "c"))
      .toDF("fk", "array_index", "v")
    val expected = Seq("1", "2").toDF("_id") // 3 never had children
    def run(child: org.apache.spark.sql.DataFrame) =
      Validator.fkIntegrity(parent, child, "_id", "fk", Some(expected))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run(clean) == Map("orphaned_child_rows" -> 0L,
      "missing_children" -> 0L, "array_index_gaps" -> 0L))
    // ghost fk → orphan; drop id 2's rows → missing; shift id 1 → gap
    val bad = Seq(
      ("1", 1L, "a"), ("1", 2L, "b"), ("9", 0L, "ghost"))
      .toDF("fk", "array_index", "v")
    assert(run(bad) == Map("orphaned_child_rows" -> 1L,
      "missing_children" -> 1L, "array_index_gaps" -> 1L))
    // no array_index column (nested-object child) → gap check is 0
    val nested = Seq(("1", "x")).toDF("fk", "v")
    assert(run(nested)("array_index_gaps") == 0L)
    // no expectation frame → missing_children is 0 by construction
    val noExp = Validator.fkIntegrity(parent, bad, "_id", "fk")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(noExp("missing_children") == 0L)
    // duplicate-index-plus-gap ([0,0,2]): min=0 and max=n-1 both hold,
    // only the distinct-count term catches it (round-13 advice item)
    val dupGap = Seq(
      ("1", 0L, "a"), ("1", 0L, "b"), ("1", 2L, "c"))
      .toDF("fk", "array_index", "v")
    assert(run(dupGap)("array_index_gaps") == 1L, run(dupGap))
  }

  test("V4: statusReport fails on a stale child table (orphaned rows " +
      "count as integrity issues)") {
    val df = (1 to 20).map(i => (i.toString, s"n$i")).toDF("_id", "name")
    val staleChild = Seq(("99", 0L, "orphan")).toDF("fk", "array_index", "v")
    val rep = Validator.statusReport(df, df, "_id", Seq("name"),
      children = Seq((staleChild, "fk"))).head()
    assert(rep.getAs[Long]("integrity_issues") == 1L)
    assert(rep.getAs[String]("status") != "PASSED")
    // and a consistent child keeps the report PASSED
    val okChild = df.select($"_id".as("fk"), lit(0L).as("array_index"))
    val ok = Validator.statusReport(df, df, "_id", Seq("name"),
      children = Seq((okChild, "fk"))).head()
    assert(ok.getAs[String]("status") == "PASSED")
  }

  test("V4: source smaller than sampleSize reports no phantom passes") {
    // 3 rows, all mismatching, sampleSize 10 — must be FAILED, not PARTIAL
    val src = Seq(("1", "a"), ("2", "b"), ("3", "c")).toDF("_id", "name")
    val tgt = Seq(("1", "X"), ("2", "Y"), ("3", "Z")).toDF("_id", "name")
    val rep = Validator.statusReport(src, tgt, "_id", Seq("name"), 10).head()
    assert(rep.getAs[Long]("samples_failed") == 3)
    assert(rep.getAs[Long]("samples_passed") == 0)
    assert(rep.getAs[String]("status") == "FAILED")
  }

  /** The straightforward per-check formulation of V3/V4 — one anti-join or
    * aggregate per check, unioned and cross-joined — as the reference the
    * fused one-aggregate plan must reproduce. */
  private object PerCheck {
    def integrity(df: DataFrame, key: String): DataFrame = {
      val nullPk = df.filter(col(key).isNull)
        .agg(count(lit(1)).as("issue_count"))
        .select(lit("null_pk").as("check_name"), col("issue_count"))
      val dups = df.filter(col(key).isNotNull).groupBy(key).count()
        .filter(col("count") > 1)
        .agg(count(lit(1)).as("issue_count"))
        .select(lit("duplicate_keys").as("check_name"), col("issue_count"))
      val empty = df.agg(count(lit(1)).as("n"))
        .select(lit("empty_table").as("check_name"),
          when(col("n") === 0, 1L).otherwise(0L).as("issue_count"))
      nullPk.unionByName(dups).unionByName(empty)
    }

    def fkIntegrity(parent: DataFrame, child: DataFrame, key: String,
        fkCol: String, expected: Option[DataFrame]): DataFrame = {
      val orphans = child
        .join(parent.select(col(key).as(fkCol)), Seq(fkCol), "left_anti")
        .agg(count(lit(1)).as("issue_count"))
        .select(lit("orphaned_child_rows").as("check_name"), col("issue_count"))
      val missing = expected match {
        case Some(exp) => exp.select(col(exp.columns.head).as(fkCol))
          .join(child.select(fkCol), Seq(fkCol), "left_anti")
          .agg(count(lit(1)).as("issue_count"))
          .select(lit("missing_children").as("check_name"), col("issue_count"))
        case None => spark.range(1).select(
          lit("missing_children").as("check_name"), lit(0L).as("issue_count"))
      }
      val gaps =
        if (!child.columns.contains("array_index")) spark.range(1).select(
          lit("array_index_gaps").as("check_name"), lit(0L).as("issue_count"))
        else child.groupBy(col(fkCol))
          .agg(count(lit(1)).as("n"), min("array_index").as("mn"),
            max("array_index").as("mx"),
            countDistinct(col("array_index")).as("nd"))
          .filter(col("mn") =!= 0 || col("mx") =!= col("n") - 1 ||
            col("nd") =!= col("n"))
          .agg(count(lit(1)).as("issue_count"))
          .select(lit("array_index_gaps").as("check_name"), col("issue_count"))
      orphans.unionByName(missing).unionByName(gaps)
    }

    /** Sampled keys with any differing field: the sample left-outer-joined
      * to the target, one row per (sample row, target row) pair. */
    def mismatchedKeys(sample: DataFrame, target: DataFrame, key: String,
        fields: Seq[String]): DataFrame = {
      val tgt = target.select(col(key).as("__tkey") +:
        fields.map(f => col(f).as(s"__t_$f")): _*)
      val differs = fields.map { f =>
        Normalize.canon(sample(f), sample.schema(f).dataType) =!=
          Normalize.canon(col(s"__t_$f"), target.schema(f).dataType)
      }.reduce(_ || _)
      sample.join(tgt, sample(key) === tgt("__tkey"), "left_outer")
        .filter(differs).select(col(key)).distinct()
    }

    def statusReport(source: DataFrame, target: DataFrame, key: String,
        fields: Seq[String], sampleSize: Int,
        children: Seq[(DataFrame, String)]): DataFrame = {
      val counts = Validator.countReconciliation(source, target)
      val sample = source.orderBy(col(key).desc).limit(sampleSize)
      val failed = mismatchedKeys(sample, target, key, fields)
        .agg(count(lit(1)).as("samples_failed"))
      val total = sample.agg(count(lit(1)).as("samples_total"))
      val issues = children
        .foldLeft(integrity(target, key)) { case (acc, (child, fk)) =>
          acc.unionByName(fkIntegrity(target, child, key, fk, None))
        }
        .agg(sum(col("issue_count")).as("integrity_issues"))
      counts.crossJoin(failed).crossJoin(total).crossJoin(issues)
        .withColumn("samples_passed",
          col("samples_total") - col("samples_failed"))
        .drop("samples_total")
        .withColumn("status",
          when(col("counts_match") && col("samples_failed") === 0 &&
            col("integrity_issues") === 0, "PASSED")
            .when(col("samples_passed") > col("samples_failed"), "PARTIAL")
            .otherwise("FAILED"))
    }
  }

  private def checkMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Seeded inputs covering every shape the suite must classify: null and
    * duplicate parent keys, orphans and null fks, shifted, duplicated,
    * null and `[0,0,2]` indexes, a child without `array_index`, an empty
    * target, no children, string or long keys. */
  private def randomCase(seed: Int): (DataFrame, DataFrame,
      Seq[(DataFrame, String, Option[DataFrame])]) = {
    val rnd = new Random(seed)
    val longKey = seed % 2 == 1
    val keyType = if (longKey) LongType else StringType
    def key(i: Int): Any = if (longKey) i.toLong else s"k$i"
    def maybeNullKey(i: Int): Any = if (rnd.nextInt(15) == 0) null else key(i)
    val n = 12 + rnd.nextInt(12)
    val emptyTarget = seed % 7 == 3
    val parentIds =
      if (emptyTarget) Seq.empty[Int]
      else (0 until n).filter(_ => rnd.nextInt(6) != 0) ++
        Seq.fill(rnd.nextInt(3))(rnd.nextInt(n))
    val tgtSchema = StructType(Seq(StructField("_id", keyType),
      StructField("name", StringType), StructField("amt", LongType)))
    val target = spark.createDataFrame(spark.sparkContext.parallelize(
      parentIds.map(i => Row(maybeNullKey(i), s"n$i", i.toLong)), 2), tgtSchema)
    // source: unique non-null keys (the top-k sample must be
    // deterministic), some rows edited, some absent from the target
    val srcRows = (0 until n).filter(_ => rnd.nextInt(5) != 0).map { i =>
      val name = if (rnd.nextInt(5) == 0) s"edited$i" else s"n$i"
      val amt: Any = if (rnd.nextInt(8) == 0) null else i.toLong
      Row(key(i), name, amt)
    }
    val source = spark.createDataFrame(
      spark.sparkContext.parallelize(srcRows, 2), tgtSchema)
    val nChildren = if (seed % 5 == 2) 0 else 1 + rnd.nextInt(3)
    val children = (0 until nChildren).map { c =>
      val indexed = c != 1
      val rows = (0 until n + 3).flatMap { i =>
        val m = rnd.nextInt(4)
        val base = (0 until m).map(_.toLong)
        val idx: Seq[Any] = rnd.nextInt(8) match {
          case 0 => base.map(_ + 1)                         // shifted
          case 1 if m > 0 => base :+ 0L                     // duplicated
          case 2 => Seq(0L, 0L, 2L)                         // dup + gap
          case 3 if m > 0 => base.updated(0, null)          // null index
          case _ => base
        }
        val fk = if (rnd.nextInt(12) == 0) null else key(i)
        idx.map(ix => Row(fk, ix, s"v$c$i"))
      }
      val schema = StructType(Seq(StructField("fk", keyType),
        StructField("array_index", LongType), StructField("v", StringType)))
      val df0 = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        schema)
      val df = if (indexed) df0 else df0.drop("array_index")
      val expected =
        if (rnd.nextBoolean()) None
        else Some(spark.createDataFrame(spark.sparkContext.parallelize(
          (0 until n).filter(_ => rnd.nextInt(3) == 0)
            .map(i => Row(maybeNullKey(i))), 1),
          StructType(Seq(StructField("id", keyType)))))
      (df, "fk", expected)
    }
    (source, target, children)
  }

  test("V3/V4 randomized: the fused one-aggregate suite equals the " +
      "per-check formulation on every check") {
    (0 until 8).foreach { seed =>
      val (source, target, children) = randomCase(seed)
      assert(checkMap(Validator.integrity(target, "_id")) ==
        checkMap(PerCheck.integrity(target, "_id")), s"seed $seed integrity")
      children.foreach { case (child, fk, exp) =>
        assert(checkMap(Validator.fkIntegrity(target, child, "_id", fk, exp)) ==
          checkMap(PerCheck.fkIntegrity(target, child, "_id", fk, exp)),
          s"seed $seed fkIntegrity")
      }
      val sampleSize = if (seed % 3 == 0) 100 else 5
      val pairs = children.map { case (c, fk, _) => (c, fk) }
      val fields = Seq("name", "amt")
      val got = Validator.statusReport(source, target, "_id", fields,
        sampleSize, pairs)
      val want = PerCheck.statusReport(source, target, "_id", fields,
        sampleSize, pairs)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.collect().toSeq == want.collect().toSeq, s"seed $seed report")
    }
  }

  test("V3: null keys never match — a null parent key is a null_pk issue " +
      "and a null fk child row is an orphan even beside it") {
    val parent = Seq(Some("1"), None).toDF("_id")
    val child = Seq((Option("1"), 0L), (None, 0L)).toDF("fk", "array_index")
    val fk = checkMap(Validator.fkIntegrity(parent, child, "_id", "fk",
      Some(Seq(Option.empty[String]).toDF("id"))))
    assert(fk == Map("orphaned_child_rows" -> 1L, "missing_children" -> 1L,
      "array_index_gaps" -> 0L), fk)
    assert(checkMap(Validator.integrity(parent, "_id"))("null_pk") == 1L)
  }

  test("validationOnly runs a bounded number of Spark jobs") {
    import graft.workflow.{MigrationConfig, MigrationWorkflow}
    val dir = java.nio.file.Files.createTempDirectory("graft_vjobs").toString
    Tables.orderDocs(spark, sfDir).write.parquet(s"$dir/docs.parquet")
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    val cfg = MigrationConfig("odocs", s"$dir/out")
    MigrationWorkflow.fullMigration(spark, docs, cfg)
    val sc = spark.sparkContext
    val tag = "graft.validator.jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val status =
      try MigrationWorkflow.validationOnly(spark, docs, cfg,
        Seq("o_orderstatus", "o_totalprice")).select("status").head().getString(0)
      finally sc.setLocalProperty(tag, null)
    org.apache.spark.GraftTestBus.drain(sc)
    sc.removeSparkListener(listener)
    assert(status == "PASSED")
    // 4 jobs: the sample's broadcast, the keyed shuffle, the global fold
    // and the result; a check planned as its own join or aggregate adds
    // jobs and fails this bound
    assert(jobs.get() <= 6, s"validationOnly ran ${jobs.get()} Spark jobs")
  }
}
