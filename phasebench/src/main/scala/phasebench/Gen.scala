package phasebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. Everything here runs before the clock starts: the same
  * seed always yields the same tables, documents and vectors. */
object Gen {

  /** Order-document corpus size (one document per order); README.md has
    * the sizing runs behind it. */
  val Orders = 50000L
  val Customers = Orders / 10

  /** `documents` rows; the curate input is these plus a shifted-id copy. */
  val Documents = 3000
  val DocShift = 1000000L

  val Vectors = 2000
  val Dims = 64
  val Cells = 10

  /** The order-document shape of `graft.Tables.orderDocs`: one document
    * per order with a nested `customer`, a `lineitems` array sorted by line
    * number and a `tags` array. */
  val DocSchema: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType),
    StructField("customer", StructType(Seq(
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))),
    StructField("lineitems", ArrayType(StructType(Seq(
      StructField("l_linenumber", IntegerType),
      StructField("l_partkey", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType))))),
    StructField("tags", ArrayType(StringType))))

  private def cents(rng: scala.util.Random, max: Int): Double =
    rng.nextInt(max) / 100.0

  /** `Orders` order documents, ordered by `_id`. Every order has 1 to 7
    * line items. */
  def orderDocs(seed: Long): IndexedSeq[Row] = {
    val rng = new scala.util.Random(seed)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val customers = (0L until Customers).map { c =>
      Row(f"Customer#$c%09d", cents(rng, 1100000) - 1000.0,
        segments(rng.nextInt(segments.size)))
    }
    val docs = (0L until Orders).map { o =>
      val status = Seq("F", "O", "P")(rng.nextInt(3))
      val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")(rng.nextInt(5))
      val cust = rng.nextInt(Customers.toInt).toLong
      val items = (1 to 1 + rng.nextInt(7)).map { ln =>
        Row(ln, rng.nextInt(20000).toLong, (1 + rng.nextInt(50)).toDouble,
          cents(rng, 10000000), Seq("A", "N", "R")(rng.nextInt(3)))
      }
      Row(o.toString, cust, status, cents(rng, 50000000),
        new java.sql.Timestamp((694224000L + rng.nextInt(2500) * 86400L) * 1000L),
        prio, customers(cust.toInt), items, Seq(status, prio))
    }
    docs.sortBy(_.getString(0))
  }

  def writeDocs(spark: SparkSession, docs: Seq[Row], path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(docs: _*), DocSchema)
      .write.mode("overwrite").parquet(path)

  private val Vocabulary = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "vector", "join", "customer", "the")

  /** `documents(doc_id, text, lang, source, n_chars)`. Most texts are
    * random word runs; some are too short for the quality gate, some repeat
    * an earlier text exactly, and some extend an earlier text by one word
    * (Jaccard >= 0.9 on 3-shingles, so the fuzzy stage must catch them). */
  def documents(spark: SparkSession, seed: Long, dir: String): String = {
    val rng = new scala.util.Random(seed)
    // earlier texts of at least 20 words: duplicate sources
    val long = scala.collection.mutable.ArrayBuffer.empty[String]
    def words(n: Int) = Seq.fill(n)(Vocabulary(rng.nextInt(Vocabulary.size)))
    val rows = (0 until Documents).map { i =>
      val r = rng.nextInt(100)
      val text =
        if (r < 8) words(3 + rng.nextInt(6)).mkString(" ")
        else if (r < 15 && long.nonEmpty) long(rng.nextInt(long.size))
        else if (r < 25 && long.nonEmpty)
          long(rng.nextInt(long.size)) + " " + words(1).head
        else words(20 + rng.nextInt(50)).mkString(" ")
      if (r >= 8) long += text
      (i.toLong, text, Seq("en", "de", "fr", "es", "zh")(rng.nextInt(5)),
        s"src${rng.nextInt(4)}", text.length.toLong)
    }
    val path = s"$dir/documents.parquet"
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source",
      "n_chars").coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** `embeddings(vec_id, embedding, label)`: `Cells` Gaussian clusters in
    * `Dims` dimensions, each made of tight sub-clusters of ten vectors, so
    * every vector has a well-separated exact top-10. Returns the vectors as
    * well, for the exact top-k. */
  def embeddings(spark: SparkSession, seed: Long, dir: String)
      : (String, IndexedSeq[Array[Float]]) = {
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    def gauss(sd: Double) = Array.fill(Dims)(rng.nextGaussian() * sd)
    val subs = Vectors / Cells / 10
    val centers = IndexedSeq.fill(Cells)(gauss(0.3))
    val offsets = IndexedSeq.fill(Cells, subs)(gauss(0.1))
    val vecs = (0 until Vectors).map { i =>
      val (cell, sub) = (i % Cells, (i / Cells) % subs)
      val noise = gauss(0.02)
      Array.tabulate(Dims)(d =>
        (centers(cell)(d) + offsets(cell)(sub)(d) + noise(d)).toFloat)
    }
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toSeq, i % Cells) }
    val path = s"$dir/embeddings.parquet"
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(path)
    (path, vecs)
  }

  /** Exact L2 top-k ids of `queries` over `vecs` (ties by id). */
  def exactTopK(vecs: IndexedSeq[Array[Float]], queries: Seq[Int],
      k: Int): Map[Long, Seq[Long]] =
    queries.map { q =>
      val qv = vecs(q)
      val d = vecs.indices.map { j =>
        var s = 0.0
        var x = 0
        while (x < qv.length) {
          val t = qv(x).toDouble - vecs(j)(x).toDouble
          s += t * t
          x += 1
        }
        (s, j.toLong)
      }
      q.toLong -> d.sorted.take(k).map(_._2)
    }.toMap
}
