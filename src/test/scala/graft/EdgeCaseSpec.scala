package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.decompose.Decomposer
import graft.io.{DocumentSource, JdbcSink, Sinks}
import graft.model.RelationalModel
import graft.profile.SchemaProfiler
import graft.sync.DocHash
import graft.types.Dialect

/** Edge cases and source/sink plumbing that the happy-path suites skip. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("profiler: empty collection profiles to zero docs, no paths counted") {
    val empty = Seq.empty[(String, String)].toDF("_id", "name")
    val p = SchemaProfiler.collectProfile(empty)
    assert(p.totalDocs == 0)
    assert(p.fields.forall(_.count == 0))
    assert(p.describe.contains("0 documents"))
  }

  test("mega-document nesting cap fails loud with the offending key, " +
      "and a generous cap reproduces the unguarded documents exactly") {
    // sf0.001 orders nest up to 7 lineitems — cap 3 must trip and NAME a key
    val e = intercept[Exception] {
      Tables.orderDocsWhere(spark, sfDir, _ => lit(true),
        maxNestedPerKey = Some(3)).collect()
    }
    assert(e.getMessage.contains("orderDocs: key ") &&
      e.getMessage.contains("child rows (cap 3)"), e.getMessage)
    // a cap nothing exceeds is a pure pass-through
    val guarded = Tables.orderDocsWhere(spark, sfDir, _ => lit(true),
      maxNestedPerKey = Some(10000))
      .select($"_id", coalesce(size($"lineitems"), lit(-1)).as("n"))
      .as[(String, Int)].collect().toSet
    val plain = Tables.orderDocs(spark, sfDir)
      .select($"_id", coalesce(size($"lineitems"), lit(-1)).as("n"))
      .as[(String, Int)].collect().toSet
    assert(guarded == plain)
    intercept[IllegalArgumentException](
      Tables.customerDocs(spark, sfDir, maxNestedPerKey = Some(0)))
  }

  test("decomposer: empty arrays produce no child rows but keep the table") {
    val docs = Seq(("1", Seq.empty[String]), ("2", Seq("x")))
      .toDF("_id", "tags")
    val model = RelationalModel.compile(SchemaProfiler.collectProfile(docs), "d")
    val t = Decomposer.decompose(docs, model)("d_tags")
    assert(t.count() == 1) // only doc 2's element
  }

  test("upsert/delete with empty deltas are identity") {
    val base = Seq((1L, "a")).toDF("k", "v")
    val empty = base.limit(0)
    assert(Sinks.upsert(base, empty, "k").count() == 1)
    assert(Sinks.delete(base, empty.select("k"), "k").count() == 1)
  }

  test("canonical JSON escapes embedded quotes/newlines (valid JSON out)") {
    val df = Seq(("1", "he said \"hi\"\nbye")).toDF("_id", "name")
    val canon = df.select(DocHash.canonicalJson(Seq("_id", "name")).as("j"))
    val parsed = canon.select(from_json(col("j"),
      StructType(Seq(StructField("_id", StringType), StructField("name", StringType)))).as("p"))
      .select("p.name").head().getString(0)
    assert(parsed == "he said \"hi\"\nbye") // round-trips ⇒ properly escaped
  }

  test("JSON-lines document source round-trips the profile") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val docs = Tables.orderDocs(spark, sfDir).limit(200)
    docs.write.mode("overwrite").json(s"$dir/docs")
    val back = DocumentSource.jsonLines(spark, s"$dir/docs")
    val pa = SchemaProfiler.collectProfile(back)
    // JSON widens types (ints may come back as longs) but the path set and
    // occurrence counts survive the round trip
    assert(pa.totalDocs == 200)
    assert(pa.has("customer.c_name") && pa.has("lineitems[].l_quantity"))
    assert(pa("tags").arrayElementTypes.getOrElse("string", 0L) == 400L)
  }

  test("mongo source fails fast without the connector") {
    val e = intercept[IllegalArgumentException] {
      DocumentSource.mongo(spark, "mongodb://x", "db", "c")
    }
    assert(e.getMessage.contains("mongo-spark-connector"))
  }

  test("JDBC option assembly per dialect") {
    assert(JdbcSink.jdbcUrl(Dialect.MySQL, "h", 3306, "d")
      .startsWith("jdbc:mysql://h:3306/d"))
    assert(JdbcSink.jdbcUrl(Dialect.SQLServer, "h", 1433, "d")
      .startsWith("jdbc:sqlserver://h:1433"))
    val p = JdbcSink.connectionProperties(Dialect.MySQL, "u", "pw")
    assert(p.getProperty("driver") == "com.mysql.cj.jdbc.Driver")
    assert(p.getProperty("batchsize") == "1000")
    val model = RelationalModel.compile(
      SchemaProfiler.collectProfile(Seq(("1", 2L)).toDF("_id", "n")), "t")
    assert(JdbcSink.columnTypeList(model.head, Dialect.MySQL) ==
      "_id VARCHAR(24), n INT")
    // probe against a dead endpoint is false, not an exception
    assert(!JdbcSink.probe(spark, "jdbc:mysql://127.0.0.1:1/none",
      JdbcSink.connectionProperties(Dialect.MySQL, "u", "pw")))
  }

  test("selection/QA operators on empty inputs: defined, empty or zero") {
    import org.apache.spark.sql.functions._
    val noDocs = Seq.empty[(Long, String, Boolean)].toDF("id", "text", "pos")
    // DSIR: an empty corpus trains a flat model; no rows scored
    assert(graft.scale.Sampling
      .importanceWeights(noDocs, "id", "text", $"pos").count() == 0)
    // NB: empty corpus → empty model, no scored rows
    assert(graft.scale.TextAnalysis
      .nbTrain(noDocs, "text", $"pos").count() == 0)
    assert(graft.scale.TextAnalysis
      .nbScore(noDocs, "id", "text", $"pos").count() == 0)
    // overlap matrix: no sources → no pairs
    val noSrc = Seq.empty[(Long, String, String)].toDF("id", "text", "src")
    assert(graft.scale.TextAnalysis
      .sourceOverlap(noSrc, "src", "text").count() == 0)
    // funnel on no events: every step present with count 0
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("event_id", "ts", "user_id", "event_type")
    val f = graft.streaming.EventStream.funnel(noEv, Seq("view", "click"))
      .as[(Long, String, Long)].collect().toSeq
    assert(f == Seq((1L, "view", 0L), (2L, "click", 0L)))
    // power iteration refuses an empty corpus loudly
    val noVec = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      graft.scale.Similarity.powerIterationTop(noVec, "embedding"))
  }

  test("round-4 operators on empty inputs: defined, empty or zero") {
    val noDocs = Seq.empty[(Long, String, String)].toDF("id", "text", "g")
    // temperature sampling: no groups → no rows, not a divide-by-zero
    assert(graft.scale.Sampling
      .temperatureSample(noDocs, "g", "id", 3000).count() == 0)
    // index build / merge / retrieval on nothing
    assert(graft.scale.TextAnalysis
      .postings(noDocs, "id", "text").count() == 0)
    val st = graft.scale.TextAnalysis.postingsState(noDocs, "id", "text")
    assert(graft.scale.TextAnalysis
      .postingsTop(graft.scale.TextAnalysis.postingsMerge(st, st), 10)
      .count() == 0)
    assert(graft.scale.TextAnalysis
      .bm25(noDocs, "id", "text", "anything").count() == 0)
    // calibration of an empty corpus: no bins rather than a crash
    val lab = Seq.empty[(Long, String, Boolean)].toDF("id", "text", "pos")
    assert(graft.scale.TextAnalysis
      .nbCalibration(lab, "id", "text", $"pos").count() == 0)
    // anomaly monitor: no events → no days
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(graft.streaming.EventStream.anomalousDays(noEv).count() == 0)
  }

  test("clone diff: a surface with no rows in any clone reads as zeros, " +
      "not a missing key; equal clones diff to zero") {
    import graft.queries.CoverageQueries.cloneDiffs
    val t = Seq(("1", "a"), ("2", "b")).toDF("_id", "v")
    val empty = t.limit(0)
    val d = cloneDiffs(Seq((t, "a", "t"), (t, "b", "t"),
      (empty, "a", "s"), (empty, "b", "s")), Seq("a", "b"))
    assert(d("t") == Map("d_b" -> 0L, "n_a" -> 2L, "n_b" -> 2L), d)
    assert(d("s") == Map("d_b" -> 0L, "n_a" -> 0L, "n_b" -> 0L), d)
    val moved = cloneDiffs(Seq((t, "a", "t"), (t.limit(1), "b", "t")),
      Seq("a", "b"))
    assert(moved("t")("d_b") == 1L, moved)
  }
}
