package graft

import graft.io.EngineConfig
import graft.sync.SyncResult
import graft.validate.{ReportRenderer, Validator}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

/** S19/X3/O9 config source, S17 report sinks, S14/S15 catalog DDL, and the
  * driver-plan helpers (`DriverVectors`, `LocalFrame`). */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private val goodConfig =
    """{"MongoDB": {"ConnectionString": "mongodb://localhost:27017",
      |  "Database": "testdb", "Collection": "users"},
      | "MySQL": {"Server": "localhost", "Port": 3306, "Database": "target",
      |  "Username": "u", "Password": "p"},
      | "Migration": {"BatchSize": 500}}""".stripMargin

  test("S19: config parses with defaults and explicit values") {
    val cfg = EngineConfig.parse(goodConfig)
    assert(cfg.mongo.collection == "users")
    assert(cfg.mysql.exists(_.port == 3306))
    assert(cfg.batchSize == 500)
    val noBatch = EngineConfig.parse(goodConfig.replace(
      """ "Migration": {"BatchSize": 500}""", """ "Migration": {}"""))
    assert(noBatch.batchSize == 100) // reference default, Data_Migration.ps1:40
  }

  test("O9: missing required config sections are hard errors (Q10 fixed)") {
    intercept[IllegalArgumentException] {
      EngineConfig.parse("""{"MySQL": {"Server": "x", "Database": "d",
        "Username": "u", "Password": "p"}}""")
    }
    intercept[IllegalArgumentException] {
      EngineConfig.parse("""{"MongoDB": {"ConnectionString": "c",
        "Database": "d", "Collection": "x"}}""") // no sink at all
    }
  }

  test("S17: HTML validation report renders status and counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    val df = (1 to 20).map(i => (i.toString, s"n$i")).toDF("_id", "name")
    val status = Validator.statusReport(df, df, "_id", Seq("name"))
    ReportRenderer.htmlValidationReport(spark, s"$dir/v.html", "users", status)
    val html = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/v.html")), "UTF-8")
    assert(html.contains("PASSED") && html.contains("users"))
    // the reference report's section structure (Migration_Validation.ps1)
    assert(html.contains("""<div class="status passed">"""))
    assert(html.contains("<h2>Record Count Comparison</h2>"))
    assert(html.contains("<h2>Sample Validation</h2>"))
    assert(html.contains("Source Documents") && html.contains("Target Records"))
    // a clean run renders NO issues section and no detail table
    assert(!html.contains("Issues Found"))
    assert(!html.contains("Detailed Comparison Results"))
  }

  test("S17: failing validation renders issues and the detail table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rep3").toString
    val src = (1 to 20).map(i => (i.toString, s"n$i")).toDF("_id", "name")
    // target: two rows drifted, one duplicate key, one missing row
    val tgt = ((1 to 19).map(i =>
        (i.toString, if (i >= 18) s"CHANGED$i" else s"n$i")) :+ ("5", "n5"))
      .toDF("_id", "name")
    val status = Validator.statusReport(src, tgt, "_id", Seq("name"))
    val sample = src.orderBy(org.apache.spark.sql.functions.col("_id").desc)
      .limit(10)
    ReportRenderer.htmlValidationReport(spark, s"$dir/v.html", "users", status,
      integrity = Some(Validator.integrity(tgt, "_id")),
      details = Some(Validator.rowCompare(sample, tgt, "_id", Seq("name"))))
    val html = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/v.html")), "UTF-8")
    assert(html.contains("Issues Found"))
    assert(html.contains("duplicate _id values"))
    assert(html.contains("<h2>Detailed Comparison Results</h2>"))
    // drifted doc 19 (in the string-desc top-10 sample) appears as a
    // detail row with its field diff; 18 sorts below the sample window
    assert(html.contains("<td>19</td>") && html.contains("CHANGED19"))
    assert(html.contains("""<div class="status """)) // banner present
  }

  test("S17: sync + workflow reports render") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rep2").toString
    ReportRenderer.syncReport(spark, s"$dir/s.txt", "users",
      SyncResult(1, 2, 3, 4, 0))
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/s.txt")), "UTF-8")
    assert(txt.contains("updated:   2") && txt.contains("processed: 6"))
    ReportRenderer.workflowReport(spark, s"$dir/w.json",
      Seq(("users", "PASSED", Map("users" -> 10L))))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/w.json")), "UTF-8")
    assert(json.contains("\"status\": \"PASSED\""))
  }

  test("S14/S15: catalog DDL — create, describe, drop") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    spark.sql(s"CREATE TABLE graft_tmp USING parquet LOCATION '$dir/t.parquet'")
    try {
      assert(spark.catalog.tableExists("graft_tmp"))
      assert(spark.table("graft_tmp").count() == 1)
      // S9: column metadata via the catalog
      assert(spark.catalog.listColumns("graft_tmp").collect()
        .map(_.name).sorted.toSeq == Seq("k", "v"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tmp")
    assert(!spark.catalog.tableExists("graft_tmp"))
  }

  test("DriverVectors.quantize equals Spark's CAST(x AS DECIMAL(27,9)), " +
      "near rounding ties and far from them") {
    import graft.io.DriverVectors.{quantize, NoUnits}
    val r = new scala.util.Random(5)
    val spread = (-12 to 16).flatMap(e =>
      Seq.fill(200)(r.nextGaussian() * math.pow(10, e)))
    // doubles next to the half-way points (k + ½)·10⁻⁹, where half-up
    // rounding of the decimal form decides
    val ties = (1 to 2000).flatMap { _ =>
      val t = (math.abs(r.nextLong() % 1000000000000L) + 0.5) / 1e9
      Seq(t, math.nextUp(t), math.nextDown(t), -t)
    }
    val edges = Seq(0.0, -0.0, 5e-10, -5e-10, 1.5e-9, 2.5e-9, -2.5e-9, 1e6,
      999999.9999999995, 9.2e9, 9.3e9, -9.3e9, 1e17, Double.MinPositiveValue)
    val xs = spread ++ ties ++ edges
    val want = xs.toDF("x").select(col("x").cast("decimal(27,9)")).collect()
      .map(_.getDecimal(0).unscaledValue)
    for ((x, w) <- xs.zip(want)) {
      val got = quantize(x)
      if (w.bitLength < 64) assert(got == w.longValue, s"$x: $got != $w")
      else assert(got == NoUnits, s"$x: $got for unscaled $w")
    }
    assert(Seq(Double.NaN, Double.PositiveInfinity, 1e300).map(quantize)
      .forall(_ == NoUnits))
  }

  test("DriverVectors.collect: keys, vectors and extra integral columns in " +
      "one bounded read; units only when read") {
    import graft.io.DriverVectors.{collect, NoUnits}
    val df = Seq((3L, Seq(1.5, 2.5), 7, 70L), (1L, Seq(1e10, 0.0), 8, 80L))
      .toDF("id", "vec", "a", "b")
    val v = collect(df, "id", Some("vec"), 100, Seq("a", "b")).get
    assert(v.keys.toSeq == Seq(3L, 1L) && v.start.toSeq == Seq(0, 2, 4))
    assert(v.values.toSeq == Seq(1.5, 2.5, 1e10, 0.0))
    assert(v.extra.map(_.toSeq).toSeq == Seq(Seq(7L, 8L), Seq(70L, 80L)))
    // 1e10 has no long DECIMAL(27,9) form: only a reader of units sees it
    assert(v.units.toSeq == Seq(1500000000L, 2500000000L, NoUnits, 0L))
    // without a vector every row is empty; an extra costs one element
    val codes = collect(df, "id", None, 4, Seq("a")).get
    assert(codes.start.toSeq == Seq(0, 0, 0) && codes.extra(0).toSeq ==
      Seq(7L, 8L))
    assert(collect(df, "id", None, 4, Seq("a", "b")).isDefined)
    assert(collect(df, "id", None, 3, Seq("a", "b")).isEmpty)
    assert(collect(df, "id", Some("vec"), 6, Seq("a")).isDefined)
    assert(collect(df, "id", Some("vec"), 5, Seq("a")).isEmpty)
    // a null or non-integral extra, and a read that fails, are not mirrored
    assert(collect(df.withColumn("a", lit(null).cast("int")), "id",
      Some("vec"), 100, Seq("a")).isEmpty)
    assert(collect(df.withColumn("a", col("a").cast("double")), "id",
      Some("vec"), 100, Seq("a")).isEmpty)
    assert(collect(df.withColumn("vec", when(col("id") === 1L,
      raise_error(lit("boom"))).otherwise(col("vec"))), "id", Some("vec"),
      100).isEmpty)
  }

  test("DriverVectors.Sums: exact across long wrap-arounds") {
    val sums = new graft.io.DriverVectors.Sums(1)
    val us = Seq.fill(5)(Long.MaxValue / 2) ++ Seq(-7L, Long.MinValue / 3,
      123456789L) ++ Seq.fill(4)(Long.MaxValue - 1)
    us.foreach(sums.add(0, _))
    val exact = new java.math.BigDecimal(us.map(BigInt(_)).sum.bigInteger, 9)
    val want = graft.io.DriverVectors.round(
      org.apache.spark.sql.types.Decimal(exact).toDouble / us.size, 4)
    assert(sums.mean(0, us.size, 4) == want)
  }

  test("LocalFrame: rows and schema equal createDataFrame over the same " +
      "rows, nulls included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("b", ByteType), StructField("s", ShortType),
      StructField("i", IntegerType, nullable = false),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("t", StringType)))
    val rows = (0 until 50).map { i =>
      Row(if (i % 7 == 0) null else i.toByte, i.toShort, i, i * 1000000007L,
        if (i % 5 == 0) null else i / 3.0,
        if (i % 3 == 0) null else "x" * i)
    }
    val local = graft.io.LocalFrame(spark, schema, rows.size) { (i, row) =>
      val r = rows(i)
      if (!r.isNullAt(0)) graft.io.LocalFrame.setIntegral(row, 0, ByteType,
        r.getByte(0).toLong)
      graft.io.LocalFrame.setIntegral(row, 1, ShortType, r.getShort(1).toLong)
      row.setInt(2, r.getInt(2))
      row.setLong(3, r.getLong(3))
      if (!r.isNullAt(4)) row.setDouble(4, r.getDouble(4))
      if (!r.isNullAt(5)) row.update(5,
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(5)))
    }
    val ref = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    assert(local.schema == ref.schema)
    assert(local.collect().toSeq == ref.collect().toSeq)
    assert(local.filter(col("l") > 5000000000L).count() ==
      ref.filter(col("l") > 5000000000L).count())
  }
}
