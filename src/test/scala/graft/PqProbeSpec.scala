package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.io.DriverVectors.ElementCap
import graft.scale.Pq

/** The size-chosen IVF-PQ probe: below the cap `Pq.encode` and `Pq.adcTopK`
  * finish on the driver and answer with the Spark plan's schema, rows and
  * distances (so does `Pq.adcRerankTopK`, whose ADC stage they are); at
  * `cap = 0`, and for every input the driver does not mirror, the Spark
  * plan runs and fails or answers as it always did. */
class PqProbeSpec extends SparkSpec {
  import spark.implicits._

  /** A frame's rows and schema, and whether it is a driver-built local
    * frame. */
  private def answer(df: DataFrame): (Set[Row], String, Boolean) =
    (df.collect().toSet, df.schema.toString, df.isLocal)

  test("driver probe equals the Spark plan over seeded corpora: long, int " +
      "and string ids, m = 2, 4 and 8, with and without the cell") {
    val cases = Seq(
      // (seed, n, dims, cells, m, codebook k, dupFirst)
      (11L, 120, 8, 3, 2, 2, true),
      (12L, 200, 16, 4, 4, 4, false),
      (13L, 150, 16, 5, 8, 3, false),
      (14L, 90, 8, 2, 4, 6, true))
    for ((seed, n, dims, cells, m, kcb, dup) <- cases) {
      val base = seededCorpus(seed, n, dims, cells, dup)
      val cb = Pq.codebook(base, "vec_id", "embedding", m, kcb, iters = 2)
      for (idType <- Seq("long", "int", "string")) {
        val what = s"seed $seed m=$m $idType ids"
        val c = base.withColumn("vec_id", col("vec_id").cast(idType))
        // both plans of `f`: the same rows and schema, from a local frame
        // only below the cap
        def both(name: String, local: Boolean)(f: Long => DataFrame) = {
          val (onDriver, onSpark) = (f(ElementCap), f(0))
          val (dRows, dSchema, dLocal) = answer(onDriver)
          val (sRows, sSchema, sLocal) = answer(onSpark)
          assert(dLocal == local && !sLocal, s"$what $name: plans not as capped")
          assert(dSchema == sSchema, s"$what $name: $dSchema != $sSchema")
          assert(dRows == sRows, s"$what $name: rows differ")
          assert(dRows.nonEmpty, s"$what $name: no rows")
          onDriver
        }
        val codes = both("encode", local = true)(
          Pq.encodeCapped(c, cb, "vec_id", "embedding", _))
        val codesC = codes.join(c.select("vec_id", "cell"), Seq("vec_id"))
        val q = c.filter(col("vec_id").cast("long") < 6)
        for (k <- Seq(5, n); cell <- Seq(None, Some("cell"))) {
          val cs = if (cell.isEmpty) codes else codesC
          both(s"adcTopK k=$k cell=$cell", local = true)(
            Pq.adcTopKCapped(q, cs, cb, "vec_id", "embedding", k, cell, _))
          if (k == 5) both(s"adcRerankTopK cell=$cell", local = false)(
            Pq.adcRerankTopKCapped(q, c, cs, cb, "vec_id", "embedding", k,
              12, cell, _))
        }
      }
    }
  }

  // a 12-vector corpus (ids 1..12, cells id % 3, dims 8) and its m = 2
  // codebook; every variant below changes one thing about it
  private val r = new scala.util.Random(29)
  private val base = (1L to 12L).map(i =>
    (Option(i), Option(i % 3), Option(Seq.fill(8)(Option(r.nextGaussian())))))
  private type Vec = Option[Seq[Option[Double]]]
  private def corpus(rows: Seq[(Option[Long], Option[Long], Vec)]) =
    rows.toDF("vec_id", "cell", "embedding")
  private def vecOf(row: Int, f: Seq[Option[Double]] => Seq[Option[Double]]) =
    base.updated(row, base(row).copy(_3 = base(row)._3.map(f)))
  private lazy val fixture = corpus(base)
  private lazy val cb = Pq.codebook(fixture, "vec_id", "embedding", m = 2,
    k = 3, iters = 2)
  private lazy val codes = Pq.encode(fixture, cb, "vec_id", "embedding")
    .join(fixture.select("vec_id", "cell"), Seq("vec_id"))
  /** `cb` as a stored frame (so no memoized entries), changed by `f`. */
  private def storedCb(f: DataFrame => DataFrame) = f(
    cb.select("subspace", "label", "pos", "centroid").as[(Int, Long, Int,
      Double)].collect().toSeq.toDF("subspace", "label", "pos", "centroid"))

  /** Whether `f` at the real cap takes the Spark plan, and the outcome of
    * collecting it (rows or root failure) at the real cap and at 0; a
    * failure while building the frame is an outcome too, so the check
    * also pins when an error is raised. */
  private def routed(what: String)(f: Long => DataFrame): Unit = {
    def outcome(cap: Long) = Try(f(cap)).toEither.left.map(e =>
        s"built: ${rootFailure(e)}")
      .flatMap(df => Try(df.collect().toSet).toEither.left
        .map(e => s"collected: ${rootFailure(e)}").map(df.isLocal -> _))
    val (got, want) = (outcome(ElementCap), outcome(0))
    assert(got.map(_._2) == want.map(_._2), s"$what: $got != $want")
    assert(got.forall(!_._1), s"$what: ran on the driver")
  }

  test("encode: inputs the driver does not mirror take the Spark plan, and " +
      "fail or encode exactly as it does") {
    // the unchanged fixture is mirrored
    assert(Pq.encode(fixture, cb, "vec_id", "embedding").isLocal)
    val inputs = Seq(
      "null id" -> corpus(base.updated(4, base(4).copy(_1 = None))),
      "NULL vector" -> corpus(base.updated(4, base(4).copy(_3 = None))),
      "null element" -> corpus(vecOf(4, _.updated(2, None))),
      "NaN element" -> corpus(vecOf(4, _.updated(2, Some(Double.NaN)))),
      "infinite element" ->
        corpus(vecOf(4, _.updated(2, Some(Double.PositiveInfinity)))),
      "ragged vector" -> corpus(vecOf(4, _.take(6))))
    for ((what, df) <- inputs)
      routed(what)(Pq.encodeCapped(df, cb, "vec_id", "embedding", _))
    val books = Seq(
      "NaN centroid" -> storedCb(_.withColumn("centroid",
        when(col("label") === 2 && col("pos") === 1, lit(Double.NaN))
          .otherwise(col("centroid")))),
      "short centroid" -> storedCb(_.filter(
        !(col("subspace") === 1 && col("label") === 3 && col("pos") === 4))),
      // subspaces 0, 1 and 3 of four: subspace 2 scores against nothing
      "empty subspace" -> storedCb(_.filter(col("pos") <= 2)
        .union(storedCb(_.filter(col("pos") > 2 && col("subspace") === 1)
          .withColumn("subspace", lit(3)).withColumn("pos", col("pos") - 2)))))
    for ((what, book) <- books)
      routed(what)(Pq.encodeCapped(fixture, book, "vec_id", "embedding", _))
  }

  test("adcTopK: inputs the driver does not mirror take the Spark plan, and " +
      "fail or rank exactly as it does") {
    val q = fixture.filter(col("vec_id") <= 4)
    def adc(queries: DataFrame, cs: DataFrame, book: DataFrame = cb,
        cell: Option[String] = Some("cell")) = (cap: Long) =>
      Pq.adcTopKCapped(queries, cs, book, "vec_id", "embedding", 5, cell, cap)
    // the unchanged fixture is mirrored, with and without the cell
    for (cell <- Seq(None, Some("cell")))
      assert(adc(q, codes, cell = cell)(ElementCap).isLocal, s"cell $cell")
    def codeAt(id: Long, sub: Int) =
      col("vec_id") === id && col("subspace") === sub
    val big = (x: Double) => corpus(base.map(b =>
      b.copy(_3 = Some(Seq.fill(8)(Some(x)))))).filter(col("vec_id") <= 4)
    val zeros = storedCb(_.withColumn("centroid", lit(0.0)))
    val inputs = Seq(
      "duplicate query id" -> adc(q.union(q.filter(col("vec_id") === 1)), codes),
      "duplicate query id, no cell" ->
        adc(q.union(q.filter(col("vec_id") === 1)), codes, cell = None),
      "null query id" -> adc(corpus(base.updated(0, base(0).copy(_1 = None)))
        .limit(4), codes, cell = None),
      "null query cell" ->
        adc(corpus(base.updated(0, base(0).copy(_2 = None))).limit(4), codes),
      "ragged query vector" -> adc(corpus(vecOf(0, _.take(6))).limit(4), codes),
      "NaN query element" ->
        adc(corpus(vecOf(0, _.updated(1, Some(Double.NaN)))).limit(4), codes),
      "null neighbor id" -> adc(q, codes.withColumn("vec_id",
        when(col("vec_id") === 7, lit(null)).otherwise(col("vec_id")))),
      "null neighbor cell" -> adc(q, codes.withColumn("cell",
        when(col("vec_id") === 7, lit(null)).otherwise(col("cell")))),
      "neighbor in two cells" -> adc(q, codes.withColumn("cell",
        when(codeAt(7, 0), col("cell") + 1).otherwise(col("cell")))),
      "missing code row" -> adc(q, codes.filter(!codeAt(7, 1)), cell = None),
      "duplicate subspace row" -> adc(q, codes.withColumn("subspace",
        when(codeAt(7, 1), lit(0)).otherwise(col("subspace"))), cell = None),
      "code outside its subspace's labels" -> adc(q, codes.withColumn("code",
        when(codeAt(7, 1), lit(99L)).otherwise(col("code")))),
      "subspace outside 0..m-1" -> adc(q, codes.withColumn("subspace",
        when(codeAt(7, 1), lit(5)).otherwise(col("subspace")))),
      "duplicate neighbor id" -> adc(q, codes.union(codes
        .filter(col("vec_id") === 7)), cell = None),
      "NaN centroid" -> adc(q, codes, storedCb(_.withColumn("centroid",
        when(col("label") === 2, lit(Double.NaN)).otherwise(col("centroid"))))),
      // each lookup fits a long, their sum over the two subspaces does not
      "sum overflow" -> adc(big(35400.0), codes, zeros, None),
      "lookup outside the long range" -> adc(big(1e6), codes, zeros, None))
    for ((what, f) <- inputs) routed(what)(f)
  }
}
