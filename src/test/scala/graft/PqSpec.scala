package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.scale.Pq

/** Product quantization: codebook shape, encode determinism/layout
  * invariance, ADC ordering + corrupt-index guard, exact-L2 ground truth. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val cb =
    Pq.codebook(emb, "vec_id", "embedding", m = 4, k = 4, iters = 2)
  private lazy val codes = Pq.encode(emb, cb, "vec_id", "embedding")

  test("codebook: m×k×(D/m) rows, contiguous 1-based pos per entry") {
    val rows = cb.select("subspace", "label", "pos")
      .as[(Int, Long, Int)].collect()
    val dims = emb.select(max(size(col("embedding")))).head.getInt(0)
    assert(rows.length == 4 * 4 * (dims / 4))
    rows.groupBy(r => (r._1, r._2)).foreach { case ((s, l), g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to dims / 4),
        s"non-contiguous pos in subspace $s label $l")
    }
    assert(rows.map(_._1).distinct.sorted.toSeq == (0 until 4))
    assert(rows.map(_._2).distinct.sorted.toSeq == (1L to 4L))
  }

  /** The probe's two plans: the driver plan below the cap, the Spark plan
    * at `cap = 0`. */
  private val caps = Seq(graft.io.DriverVectors.ElementCap, 0L)

  test("encode: one code per (id, subspace), codes in 1..k, and the " +
      "assignment is invariant to the input's physical layout") {
    val n = emb.count()
    val c = codes.as[(Long, Int, Long)].collect()
    assert(c.length == n * 4)
    assert(c.map(r => (r._1, r._2)).distinct.length == c.length)
    assert(c.forall(r => r._3 >= 1 && r._3 <= 4))
    for (cap <- caps) {
      val reparted = Pq.encodeCapped(emb.repartition(7), cb, "vec_id",
        "embedding", cap).as[(Long, Int, Long)].collect()
      assert(c.toSet == reparted.toSet, s"cap $cap")
    }
  }

  test("adcTopK: k rows per query in (dist asc, id asc) order, " +
      "non-negative integer distances") {
    for (cap <- caps) {
      val top = Pq.adcTopKCapped(emb.filter(col("vec_id") < 3), codes, cb,
        "vec_id", "embedding", 5, None, cap)
        .as[(Long, Int, Long, Long)].collect()
      val byQ = top.groupBy(_._1)
      assert(byQ.keySet == Set(0L, 1L, 2L))
      byQ.foreach { case (_, g) =>
        val sorted = g.sortBy(_._2)
        assert(sorted.map(_._2).toSeq == (1 to 5))
        assert(sorted.forall(_._4 >= 0))
        // ordering: dist strictly governs, id breaks ties
        sorted.sliding(2).foreach { case Array(a, b) =>
          assert(a._4 < b._4 || (a._4 == b._4 && a._3 < b._3))
        }
      }
    }
  }

  test("adcTopK: a candidate missing a subspace row fails loudly") {
    val corrupt = codes.filter(!(col("vec_id") === 7 && col("subspace") === 2))
    for (cap <- caps) {
      // the driver does not mirror a corrupt code table: the Spark plan
      // raises when the action runs
      val top = Pq.adcTopKCapped(emb.filter(col("vec_id") < 2), corrupt, cb,
        "vec_id", "embedding", 5, None, cap)
      val ex = intercept[Exception](top.collect())
      assert(ex.getMessage.contains("adcTopK") ||
        ex.getCause != null && ex.getCause.getMessage.contains("adcTopK"))
    }
  }

  test("below the cap, encode → adcTopK on the fixture runs at most 4 jobs " +
      "and returns local frames; at cap = 0 both keep the Spark plan") {
    val e = emb // loaded outside the counted window
    for (cell <- Seq(None, Some("cell"))) {
      def probe(cap: Long) = {
        var top: DataFrame = null
        val jobs = jobsOf {
          val c = Pq.encodeCapped(e, cb, "vec_id", "embedding", cap)
          val cs = cell.fold(c)(_ =>
            c.join(e.select(col("vec_id"), col("label").as("cell")),
              Seq("vec_id")))
          top = Pq.adcTopKCapped(e.filter(col("vec_id") < 3)
              .withColumn("cell", col("label")), cs, cb, "vec_id",
            "embedding", 5, cell, cap)
          top.collect(): Unit
        }
        (top.isLocal, top.collect().toSet, jobs)
      }
      val (driverLocal, driverRows, driverJobs) = probe(caps.head)
      val (sparkLocal, sparkRows, sparkJobs) = probe(0)
      assert(driverLocal && !sparkLocal, s"cell $cell: plans not as capped")
      assert(driverRows == sparkRows, s"cell $cell: rows differ")
      assert(driverJobs <= 4, s"cell $cell: driver probe ran $driverJobs jobs")
      assert(sparkJobs > driverJobs, s"cell $cell: Spark probe ran $sparkJobs")
    }
  }

  test("ADC recall vs exact L2: every query finds at least one true " +
      "neighbor; ground truth ranks self first") {
    val q = emb.filter(col("vec_id") < 5)
    val bf = Pq.bruteForceL2TopK(q, emb, "vec_id", "embedding", 10)
    // self-distance is 0 and ids are unique in the fixture → rnk 1 = self
    assert(bf.filter(col("rnk") === 1)
      .filter(col("query_id") =!= col("neighbor_id")).count() == 0)
    val hits = bf.select("query_id", "neighbor_id").join(
        Pq.adcTopK(q, codes, cb, "vec_id", "embedding", 10)
          .select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(hits.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(hits.values.forall(_ >= 1))
  }

  test("IVFADC: neighbors come only from the query's cell, and within " +
      "the cell the ranking equals unrestricted ADC") {
    val withCell = emb.withColumn("cell", col("label"))
    val codesC = codes.join(
      emb.select(col("vec_id"), col("label").as("cell")), Seq("vec_id"))
    val q = withCell.filter(col("vec_id") < 3)
    for (cap <- caps) {
      val ivfpq = Pq.adcTopKCapped(q, codesC, cb, "vec_id", "embedding", 5,
        Some("cell"), cap)
      val qCells = q.select("vec_id", "cell").as[(Long, Long)].collect().toMap
      val nCells = codesC.select(col("vec_id"), col("cell"))
        .distinct().as[(Long, Long)].collect().toMap
      val got = ivfpq.select("query_id", "neighbor_id", "rnk", "dist_nano")
        .as[(Long, Long, Int, Long)].collect()
      assert(got.nonEmpty)
      got.foreach { case (qid, nid, _, _) =>
        assert(nCells(nid) == qCells(qid),
          s"neighbor $nid outside query $qid's cell")
      }
      // equivalence: unrestricted ADC over only the cell's codes
      qCells.foreach { case (qid, cell) =>
        val restricted = Pq.adcTopKCapped(
          withCell.filter(col("vec_id") === qid),
          codesC.filter(col("cell") === cell).drop("cell"), cb,
          "vec_id", "embedding", 5, None, cap)
          .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSet
        val mine = got.filter(_._1 == qid).map(r => (r._2, r._3)).toSet
        assert(mine == restricted, s"cap $cap query $qid: $mine != $restricted")
      }
    }
  }

  test("IVFADC+R: recall(rerank) >= recall(plain ADC), exact distances " +
      "order the output, and the candidate fetch is a bounded broadcast") {
    val q = emb.filter(col("vec_id") < 5)
    val bf = Pq.bruteForceL2TopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      bf.join(df.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    val plain = Pq.adcTopK(q, codes, cb, "vec_id", "embedding", 10)
    val rr = Pq.adcRerankTopK(q, emb, codes, cb, "vec_id", "embedding",
      k = 10, kPrime = 30)
    assert(recall(rr) >= recall(plain),
      s"rerank recall ${recall(rr)} < plain ADC recall ${recall(plain)}")
    // exact-distance ordering: d2_nano non-decreasing in rnk per query,
    // and the self-match (d2 = 0) ranks first for every query
    val rows = rr.as[(Long, Int, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (qid, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 10))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 < b._4 || (a._4 == b._4 && a._3 < b._3))
      }
      assert(sorted.head._3 == qid && sorted.head._4 == 0L,
        s"query $qid: self-match not rank 1")
    }
    // plan shape: the raw-vector fetch joins the corpus against a
    // BROADCAST candidate list (q·k' rows) — never a shuffled/sort-merge
    // corpus join and never a cartesian product
    val plan = rr.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("adcRerankTopK: a candidate missing its corpus vector fails " +
      "loudly instead of silently shrinking the top-k") {
    val holed = emb.filter(col("vec_id") =!= 1) // drop a vector, keep codes
    val ex = intercept[Exception] {
      Pq.adcRerankTopK(emb.filter(col("vec_id") < 3), holed, codes, cb,
        "vec_id", "embedding", k = 5, kPrime = 500).collect()
    }
    assert(ex.getMessage.contains("without a corpus vector") ||
      ex.getCause != null &&
        ex.getCause.getMessage.contains("without a corpus vector"))
  }

  test("adcRerankTopK: kPrime must cover k") {
    val ex = intercept[IllegalArgumentException] {
      Pq.adcRerankTopK(emb.limit(1), emb, codes, cb, "vec_id", "embedding",
        k = 10, kPrime = 5)
    }
    assert(ex.getMessage.contains("kPrime"))
  }

  test("quantization error: non-negative, covers every subspace, and " +
      "does not grow with more Lloyd's rounds") {
    def totalErr(iters: Int): (Long, Map[Int, Long]) = {
      val c = Pq.codebook(emb, "vec_id", "embedding", m = 4, k = 4, iters)
      val rows = Pq.quantizationError(emb, c, "vec_id", "embedding")
        .as[(Int, Long, Long)].collect()
      assert(rows.map(_._1).sorted.toSeq == (0 until 4))
      assert(rows.forall(r => r._2 == emb.count() && r._3 >= 0))
      (rows.map(_._3).sum, rows.map(r => r._1 -> r._3).toMap)
    }
    val (e1, _) = totalErr(1)
    val (e2, _) = totalErr(2)
    // Lloyd's SSE is non-increasing per round; centroid 4-decimal
    // quantization can perturb it only marginally — allow 1% slack
    assert(e2 <= e1 + e1 / 100, s"SSE grew: iters=1 $e1 -> iters=2 $e2")
  }

  test("OPQ-P: valid layout-invariant permutation; on the near-isotropic " +
      "fixture (no variance skew to balance) error and recall stay at " +
      "parity with plain PQ") {
    val perm = graft.scale.Opq.permutation(emb, "embedding", 4)
    val dims = emb.select(max(size(col("embedding")))).head.getInt(0)
    assert(perm.sorted == (1 to dims))
    assert(graft.scale.Opq.permutation(emb.repartition(7), "embedding", 4)
      == perm, "permutation not layout-invariant")
    val pe = emb.select(col("vec_id"),
      graft.scale.Opq.permute(col("embedding"), perm).as("embedding"))
    val ocb = Pq.codebook(pe, "vec_id", "embedding", m = 4, k = 4, iters = 2)
    def totalErr(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame): Long =
      Pq.quantizationError(df, c, "vec_id", "embedding")
        .agg(sum("err_nano_sum")).head.getLong(0)
    // the fixture's per-dim variances are near-uniform, so the
    // permutation has nothing to balance: OPQ must not HURT (parity
    // within 0.5% — Lloyd's local optima wobble), and the skewed-layout
    // test below carries the improvement claim
    val (plainErr, opqErr) = (totalErr(emb, cb), totalErr(pe, ocb))
    assert(opqErr <= plainErr + plainErr / 200,
      s"OPQ quantization error $opqErr not within 0.5% of plain $plainErr")
    // recall vs exact L2 ground truth — permutation preserves L2, so the
    // unpermuted brute force is the shared reference
    val q = emb.filter(col("vec_id") < 5)
    val bf = Pq.bruteForceL2TopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      bf.join(df.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    val rPlain = recall(Pq.adcTopK(q, codes, cb, "vec_id", "embedding", 10))
    val ocodes = Pq.encode(pe, ocb, "vec_id", "embedding")
    val rOpq = recall(Pq.adcTopK(pe.filter(col("vec_id") < 5), ocodes, ocb,
      "vec_id", "embedding", 10))
    assert(rOpq >= rPlain - 2,
      s"OPQ recall $rOpq not at parity with plain PQ recall $rPlain")
  }

  test("OPQ-P: on a variance-skewed (PCA-ordered) layout the serpentine " +
      "permutation balances subspace variance AND beats contiguous PQ on " +
      "quantization error and recall") {
    // independent-ish dims 1..8 (distinct multiplicative lattices, so no
    // cross-dim correlation to hide behind) with sharply decaying
    // variance — the contiguous split gives subspace 0 nearly all the
    // variance; this is the layout OPQ exists for (PCA-rotated or
    // block-structured encoders). Perfectly CORRELATED dims would be the
    // anti-case: contiguous pairs then lie on a rank-1 manifold that k
    // centroids quantize jointly for free.
    val mult = Seq(31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L)
    val skewed = (0L until 64L).map { i =>
      (i, (0 until 8).map(dd =>
        (((i * mult(dd) + 3 * dd) % 13).toFloat - 6f) * (1 << (7 - dd)) / 16f))
    }.toDF("vec_id", "embedding")
    val perm = graft.scale.Opq.permutation(skewed, "embedding", 4)
    // key mass per contiguous block of the PERMUTED layout
    val keys = graft.scale.Similarity.componentSums(skewed, "embedding")
      .select("pos", "n", "s_micro", "sq_micro").collect()
      .map(r => r.getLong(0).toInt ->
        (BigInt(r.getLong(1)) * r.getLong(3) -
          BigInt(r.getLong(2)) * r.getLong(2))).toMap
    def blockMass(ps: Seq[Int]): BigInt = ps.map(keys).sum
    val permuted = perm.grouped(2).map(blockMass).toSeq
    val contiguous = (1 to 8).grouped(2).map(g => blockMass(g)).toSeq
    assert(permuted.max < contiguous.max,
      s"serpentine did not reduce the max subspace variance: " +
        s"$permuted vs $contiguous")
    // end to end: train both PQ stacks, compare total quantization error
    // and recall vs the exact ground truth
    val pe = skewed.select(col("vec_id"),
      graft.scale.Opq.permute(col("embedding"), perm).as("embedding"))
    val pcb = Pq.codebook(skewed, "vec_id", "embedding", 4, 4, 2)
    val ocb = Pq.codebook(pe, "vec_id", "embedding", 4, 4, 2)
    def totalErr(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame): Long =
      Pq.quantizationError(df, c, "vec_id", "embedding")
        .agg(sum("err_nano_sum")).head.getLong(0)
    val (plainErr, opqErr) = (totalErr(skewed, pcb), totalErr(pe, ocb))
    assert(opqErr <= plainErr,
      s"OPQ error $opqErr > plain $plainErr on the skewed layout")
    val q = skewed.filter(col("vec_id") < 5)
    val bf = Pq.bruteForceL2TopK(q, skewed, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      bf.join(df.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    val rPlain = recall(Pq.adcTopK(q,
      Pq.encode(skewed, pcb, "vec_id", "embedding"), pcb,
      "vec_id", "embedding", 10))
    val rOpq = recall(Pq.adcTopK(pe.filter(col("vec_id") < 5),
      Pq.encode(pe, ocb, "vec_id", "embedding"), ocb,
      "vec_id", "embedding", 10))
    assert(rOpq >= rPlain,
      s"OPQ recall $rOpq < plain recall $rPlain on the skewed layout")
  }

  test("residual IVFADC (Jégou §IV): residuals subtract the exact cell " +
      "mean; on a cell-offset fixture residual encoding beats raw IVFADC " +
      "on quantization error and matches-or-beats it on recall") {
    // 4 cells with large per-dim mean offsets (inter-cell distance >> any
    // within-cell spread) + small lattice noise: raw PQ's k=4 centroids
    // get spent re-learning the 4 cell means, leaving the within-cell
    // structure unquantized — exactly the layout residual encoding (§IV
    // eq. 14) exists for
    val mult = Seq(31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L)
    val clustered = (0L until 64L).map { i =>
      val cell = i % 4
      (i, cell, (0 until 8).map { dd =>
        (cell * 200 + dd * 16).toFloat +
          (((i * mult(dd) + 3 * dd) % 13).toFloat - 6f) / 2f
      })
    }.toDF("vec_id", "cell", "embedding")
    val cents = graft.scale.Similarity.centroids(
      clustered.select(col("cell").as("label"), col("embedding")),
      "label", "embedding")
    val re = Pq.residualize(clustered, cents, "cell", "embedding")
    // the residual is exactly x − centroid(cell) (same doubles both ways)
    val cmap = cents.as[(Long, Int, Double)].collect()
      .groupBy(_._1).map { case (l, g) =>
        l -> g.sortBy(_._2).map(_._3) }
    val raw0 = clustered.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head
    val res0 = re.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Double]].head
    assert(res0 == raw0.zip(cmap(0L)).map { case (x, c) => x.toDouble - c })
    // unknown cell fails loudly instead of dropping the row
    val ex = intercept[Exception] {
      Pq.residualize(clustered.withColumn("cell", col("cell") + 100),
        cents, "cell", "embedding").collect()
    }
    assert(ex.getMessage.contains("no centroid") ||
      ex.getCause != null && ex.getCause.getMessage.contains("no centroid"))
    // end to end at identical m/k: raw-vector IVFADC vs residual IVFADC
    val cbRaw = Pq.codebook(clustered, "vec_id", "embedding", 4, 4, 2)
    val cbRes = Pq.codebook(re, "vec_id", "embedding", 4, 4, 2)
    def totalErr(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame): Long =
      Pq.quantizationError(df, c, "vec_id", "embedding")
        .agg(sum("err_nano_sum")).head.getLong(0)
    val (rawErr, resErr) = (totalErr(clustered, cbRaw), totalErr(re, cbRes))
    assert(resErr < rawErr,
      s"residual quantization error $resErr !< raw $rawErr")
    val cellOf = clustered.select("vec_id", "cell")
    val codesRaw = Pq.encode(clustered, cbRaw, "vec_id", "embedding")
      .join(cellOf, Seq("vec_id"))
    val codesRes = Pq.encode(re, cbRes, "vec_id", "embedding")
      .join(cellOf, Seq("vec_id"))
    val bf = Pq.bruteForceL2TopK(clustered.filter(col("vec_id") < 5),
        clustered, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      bf.join(df.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    val rRaw = recall(Pq.adcTopK(clustered.filter(col("vec_id") < 5),
      codesRaw, cbRaw, "vec_id", "embedding", 10, cellCol = Some("cell")))
    val rRes = recall(Pq.adcTopK(re.filter(col("vec_id") < 5),
      codesRes, cbRes, "vec_id", "embedding", 10, cellCol = Some("cell")))
    assert(rRes >= rRaw, s"residual recall $rRes < raw recall $rRaw")
  }

  test("subvectors: m must divide the dimension") {
    val ex = intercept[IllegalArgumentException] {
      Pq.subvectors(emb, "vec_id", "embedding", m = 7, dims = 64)
    }
    assert(ex.getMessage.contains("divide"))
  }

  test("adcRerankTopK: a query whose ENTIRE candidate set is missing " +
      "from the corpus fails loudly instead of vanishing from the output") {
    // cell-restrict query 0's candidates to its own IVF cell, then hole
    // out every corpus vector of that cell: zero fetched rows survive to
    // carry the per-row count guard, so only the coverage anti-join can
    // catch the vanished query
    val withCell = emb.withColumn("cell", col("label"))
    val codesC = codes.join(
      emb.select(col("vec_id"), col("label").as("cell")), Seq("vec_id"))
    val q = withCell.orderBy(col("vec_id").asc).limit(1)
    val qCell = q.select("cell").head.getAs[Number](0).longValue
    val holed = withCell.filter(col("cell") =!= qCell)
    val ex = intercept[Exception] {
      Pq.adcRerankTopK(q, holed, codesC, cb, "vec_id", "embedding",
        k = 2, kPrime = 3, cellCol = Some("cell")).collect()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => Option(c.getMessage).getOrElse(""))
          .getOrElse("")
    assert(msg(ex).contains("ANY candidate"), msg(ex))
  }

  test("subvectors/encode: a NULL vector fails loudly, never code 1") {
    val withNull = Seq(
      (1L, Some(Seq.fill(8)(1.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Pq.subvectors(withNull, "vec_id", "embedding", m = 2, dims = 8)
        .collect()
    }
    assert(ex.getMessage.contains("expected 8 dims") &&
      ex.getMessage.contains("null"))
    val uniform = withNull.filter(col("vec_id") === 1)
    val rcb = Pq.codebook(uniform, "vec_id", "embedding", m = 2, k = 1,
      iters = 1)
    val ex2 = intercept[Exception] {
      Pq.encode(withNull, rcb, "vec_id", "embedding").collect()
    }
    assert(ex2.getMessage.contains("expected 8 dims"))
  }

  test("subvectors/encode: a ragged vector fails loudly, never code 1") {
    val ragged = Seq(
      (1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(6)(1.0f))) // row 2 is short
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Pq.subvectors(ragged, "vec_id", "embedding", m = 2, dims = 8).count()
    }
    assert(ex.getMessage.contains("expected 8 dims"))
    val uniform = ragged.filter(col("vec_id") === 1)
    val rcb = Pq.codebook(uniform, "vec_id", "embedding", m = 2, k = 1,
      iters = 1)
    val ex2 = intercept[Exception] {
      Pq.encode(ragged, rcb, "vec_id", "embedding").count()
    }
    assert(ex2.getMessage.contains("expected 8 dims"))
  }

  /** The lazy-frame trainer and residualizer: every Lloyd round plans its
    * M-step over the previous round's frame (ragged check as a window,
    * codebook rows re-collected through a second groupBy), and the cell
    * centroid table stays a lazy aggregate under a broadcast join. Kept as
    * the reference the driver-held `Pq.codebook` / `Pq.residualize` must
    * reproduce bit for bit. */
  private object LazyPq {
    private def subCentroids(assigned: DataFrame, scale: Int): DataFrame = {
      val perDim = assigned
        .select(col("subspace"), col("label"),
          posexplode(col("subvec")).as(Seq("pos", "v")))
        .groupBy(col("subspace"), col("label"), (col("pos") + 1).as("pos"))
        .agg(
          round(
            sum(col("v").cast("double").cast("decimal(27,9)")).cast("double") /
              count(lit(1)), scale).as("centroid"),
          count(lit(1)).as("_n"))
      val w = Window.partitionBy("subspace", "label")
      perDim
        .withColumn("_nmax", max(col("_n")).over(w))
        .select(col("subspace"), col("label"), col("pos"),
          when(col("_n") =!= col("_nmax"), raise_error(concat(
            lit("ragged subvectors in subspace "), col("subspace").cast("string"),
            lit(" label "), col("label").cast("string"))))
            .otherwise(col("centroid")).as("centroid"))
    }

    private def codebookLiteral(cb: DataFrame): Column = {
      val rows = cb
        .groupBy("subspace", "label").agg(map_from_arrays(
          collect_list(col("pos")), collect_list(col("centroid"))).as("c"))
        .collect()
        .map { r =>
          val m = r.getMap[Int, Double](2)
          (r.getAs[Number]("subspace").intValue(),
            r.getAs[Number]("label").longValue(), (1 to m.size).map(m(_)))
        }
      map(rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (s, cl) =>
        Seq(lit(s), array(cl.sortBy(_._2).map { case (_, lbl, c) =>
          struct(lit(lbl).as("label"), array(c.map(lit): _*).as("c"))
        }: _*))
      }: _*)
    }

    private def assignSub(subv: DataFrame, cb: DataFrame): DataFrame =
      subv.withColumn("label", array_min(
        transform(element_at(codebookLiteral(cb), col("subspace")),
          cs => struct(
            graft.functions.VectorSqL2(col("subvec"), cs.getField("c")).as("d"),
            cs.getField("label").as("label")))).getField("label"))

    def codebook(df: DataFrame, idCol: String, vecCol: String, m: Int,
        k: Int, iters: Int, scale: Int = 4): DataFrame = {
      val dims = df.select(max(size(col(vecCol)))).head.getInt(0)
      val subv = Pq.subvectors(df, idCol, vecCol, m, dims)
      val w = Window.partitionBy("subspace").orderBy(col(idCol).asc)
      var cents = Pq.subvectors(df.orderBy(col(idCol).asc).limit(k),
          idCol, vecCol, m, dims)
        .withColumn("label", row_number().over(w).cast("long"))
        .select(col("subspace"), col("label"),
          posexplode(col("subvec")).as(Seq("pos", "v")))
        .select(col("subspace"), col("label"), (col("pos") + 1).as("pos"),
          round(col("v").cast("double"), scale).as("centroid"))
      for (_ <- 1 to iters)
        cents = subCentroids(
          assignSub(subv, cents).select("subspace", "label", "subvec"), scale)
      cents
    }

    def residualize(df: DataFrame, cents: DataFrame, cellCol: String,
        vecCol: String): DataFrame = {
      val carr = cents
        .groupBy(col("label").as(cellCol))
        .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
          .as("__cs"))
        .select(col(cellCol),
          transform(col("__cs"), _.getField("centroid")).as("__carr"))
      df.join(broadcast(carr), Seq(cellCol), "left")
        .withColumn(vecCol, zip_with(col(vecCol), col("__carr"),
          (a, b) => a.cast("double") - b))
        .drop("__carr")
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def cbBits(cb: DataFrame): Set[(Int, Long, Int, Long)] =
    cb.select("subspace", "label", "pos", "centroid")
      .as[(Int, Long, Int, Double)].collect()
      .map(r => (r._1, r._2, r._3, bits(r._4))).toSet

  /** Codebook rows with raw double bits, the frame's schema, and whether
    * it came from the driver plan (its one bounded collect is the only job;
    * the Spark plan runs a seeds job and a job per round after it). */
  private def trained(input: DataFrame, m: Int, k: Int, iters: Int,
      cap: Long): (Set[(Int, Long, Int, Long)], String, Boolean) = {
    var cb: DataFrame = null
    val jobs = jobsOf { cb = Pq.trainCodebook(input, "vec_id", "embedding",
      m, k, iters, 4, cap) }
    (cbBits(cb), cb.schema.toString, jobs == 1)
  }

  // both plans: the driver plan at cap ≥ input, the Spark plan at cap = 0
  test("driver-held codebook and eager residualize are bit-identical to " +
      "the lazy-frame trainer over seeded corpora (m, k, iters varied; a " +
      "cluster that empties drops its label)") {
    val cases = Seq(
      // (seed, n, dims, cells, m, k, iters, dupFirst)
      (1L, 200, 16, 4, 4, 4, 2, false),
      (2L, 150, 12, 3, 3, 5, 3, false),
      (3L, 120, 8, 2, 2, 8, 1, false),
      (4L, 300, 16, 5, 8, 3, 4, false),
      (5L, 100, 6, 3, 6, 2, 2, false),
      (6L, 80, 8, 4, 4, 6, 3, true),
      (7L, 90, 16, 3, 8, 4, 1, true),
      (8L, 60, 8, 2, 2, 3, 4, true))
    for ((seed, n, dims, cells, m, k, iters, dup) <- cases) {
      val what = s"seed $seed m=$m k=$k iters=$iters"
      val c = seededCorpus(seed, n, dims, cells, dup)
      val cents = graft.scale.Similarity.centroids(
        c.select(col("cell").as("label"), col("embedding")),
        "label", "embedding")
      val re = Pq.residualize(c, cents, "cell", "embedding")
      val reRef = LazyPq.residualize(c, cents, "cell", "embedding")
      def resBits(df: DataFrame) = df.select("vec_id", "embedding")
        .as[(Long, Seq[Double])].collect()
        .map(r => r._1 -> r._2.map(bits)).toMap
      assert(resBits(re) == resBits(reRef), s"$what: residuals differ")
      for (input <- Seq(c, re)) {
        val ref = LazyPq.codebook(input, "vec_id", "embedding", m, k, iters)
        val want = cbBits(ref)
        val elems = n.toLong * dims
        val (onDriver, driverSchema, driverPlan) =
          trained(input, m, k, iters, elems)
        val (onSpark, sparkSchema, sparkPlan) = trained(input, m, k, iters, 0)
        assert(driverPlan && !sparkPlan, s"$what: plans not as capped")
        assert(onDriver == want, s"$what: driver codebook rows differ")
        assert(onSpark == want, s"$what: Spark codebook rows differ")
        assert(driverSchema == ref.schema.toString &&
          sparkSchema == driverSchema, s"$what: $driverSchema != ${ref.schema}")
        // one element over the cap takes the Spark plan
        assert(!trained(input, m, k, iters, elems - 1)._3, s"$what: cap - 1")
        val cb = Pq.codebook(input, "vec_id", "embedding", m, k, iters)
        // consumers read the memoized entries for `cb` and collect `ref`
        assert(Pq.encode(input, cb, "vec_id", "embedding").collect().toSet ==
          Pq.encode(input, ref, "vec_id", "embedding").collect().toSet,
          s"$what: codes differ")
        assert(Pq.quantizationError(input, cb, "vec_id", "embedding")
          .collect().toSet == Pq.quantizationError(input, ref, "vec_id",
            "embedding").collect().toSet, s"$what: quantization error differs")
        if (dup && (input eq c)) {
          val labels = want.groupBy(_._1).values.map(_.map(_._2).size)
          assert(labels.forall(_ < k), s"$what: no label dropped out: $want")
        }
      }
    }
  }

  test("codebook: inputs the driver does not mirror take the Spark plan, " +
      "and fail or train exactly as it does") {
    val r = new scala.util.Random(17)
    def vec(d: Int) = Seq.fill(d)(r.nextGaussian())
    val base = (1L to 12L).map(i => (i, Option(vec(8).map(Option(_)))))
    def frame(rows: Seq[(Long, Option[Seq[Option[Double]]])]) =
      rows.toDF("vec_id", "embedding")
    val inputs = Seq(
      "ragged seed" -> frame(base.updated(1, (2L, Some(vec(6).map(Option(_)))))),
      "ragged non-seed" ->
        frame(base.updated(9, (10L, Some(vec(6).map(Option(_)))))),
      "NULL vector" -> frame(base.updated(9, (10L, None))),
      "null element" -> frame(base.updated(9,
        (10L, Some(vec(8).map(Option(_)).updated(3, None))))),
      "NaN element" -> frame(base.updated(9,
        (10L, Some(vec(8).updated(3, Double.NaN).map(Option(_)))))),
      "infinite element" -> frame(base.updated(9,
        (10L, Some(vec(8).updated(3, Double.PositiveInfinity)
          .map(Option(_)))))),
      // its DECIMAL(27,9) unscaled value is no long
      "element outside the long range" -> frame(base.updated(9,
        (10L, Some(vec(8).updated(3, 1e10).map(Option(_)))))),
      // ids 1, 2, 3, 3, 5, …: two rows tie for the third seed (k = 3)
      "tied k-th id" -> frame(base.updated(3, (3L, base(3)._2))),
      "m does not divide D" -> frame(base))
      .map { case (what, df) => (what, df, if (what.startsWith("m ")) 3 else 2) }
    val nullId = base.map { case (i, v) => (if (i == 5) None else Some(i), v) }
      .toDF("vec_id", "embedding")
    val stringId = frame(base).withColumn("vec_id", col("vec_id").cast("string"))
    for ((what, df, m) <- inputs ++ Seq(("null id", nullId, 2),
        ("string id", stringId, 2))) {
      def outcome(cap: Long) = {
        var got: Either[String, Set[(Int, Long, Int, Long)]] = null
        val jobs = jobsOf {
          got = scala.util.Try(Pq.trainCodebook(df, "vec_id", "embedding", m,
            k = 3, iters = 2, 4, cap)).toEither.left.map(rootFailure)
            .map(cbBits)
        }
        (got, jobs)
      }
      val (routed, jobs) = outcome(graft.io.DriverVectors.ElementCap)
      val (spark, _) = outcome(0)
      assert(routed == spark, s"$what: $routed != $spark")
      assert(jobs > 1, s"$what: ran on the driver")
    }
  }

  // the Spark plan (cap = 0): the driver plan is one job at any iters
  test("codebook runs one collected aggregate per Lloyd round") {
    // one job collects the seeds; a round on the fanned-out fixture is 3
    // jobs (the fan-out exchange, the aggregate's map stage, its result)
    def bound(iters: Int) = 3 * iters + 1
    val e = emb // loaded outside the counted window
    for (iters <- 1 to 3) {
      val n = jobsOf(Pq.trainCodebook(e, "vec_id", "embedding", 4, 4, iters,
        4, cap = 0))
      assert(n <= bound(iters), s"codebook(iters = $iters) ran $n jobs")
    }
    // the lazy-frame trainer, materialized as codebook now returns it,
    // re-plans each round's window and regroup and breaks the bound
    val lazyJobs = jobsOf(LazyPq.codebook(e, "vec_id", "embedding", 4, 4,
      3).collect(): Unit)
    assert(lazyJobs > bound(3), s"lazy trainer ran only $lazyJobs jobs")
  }

  test("below the cap, centroids → residualize → codebook on the fixture " +
      "runs exactly 2 jobs") {
    val e = emb // loaded outside the counted window
    val n = jobsOf {
      val cents = graft.scale.Similarity.centroids(
        e.select(col("label"), col("embedding")), "label", "embedding")
      val re = Pq.residualize(e.select(col("vec_id"), col("label").as("cell"),
        col("embedding")), cents, "cell", "embedding")
      Pq.codebook(re, "vec_id", "embedding", m = 8, k = 16, iters = 2): Unit
    }
    assert(n == 2, s"train ran $n jobs")
  }

  test("codebook guards checked on the driver name the subspace and label") {
    val ragged = intercept[IllegalArgumentException](Pq.entries(Seq(
      (0, 1L, 1, 0.5, 3L), (0, 1L, 2, 0.25, 2L), (1, 1L, 1, 0.5, 3L))))
    assert(ragged.getMessage.contains("ragged subvectors in subspace 0 " +
      "label 1"), ragged.getMessage)
    val gap = intercept[IllegalArgumentException](Pq.entries(Seq(
      (1, 2L, 1, 0.5, 1L), (1, 2L, 3, 0.25, 1L))))
    assert(gap.getMessage.contains("codebook dims for subspace 1 label 2 " +
      "are not contiguous"), gap.getMessage)
    // a stored codebook with a hole in one entry's pos run fails the same
    // way when a consumer collects it
    val holed = Seq((0, 1L, 1, 0.5), (0, 1L, 3, 0.5), (1, 1L, 1, 0.5),
        (1, 1L, 2, 0.5))
      .toDF("subspace", "label", "pos", "centroid")
    val ex = intercept[IllegalArgumentException](
      Pq.encode(emb, holed, "vec_id", "embedding"))
    assert(ex.getMessage.contains("subspace 0 label 1"), ex.getMessage)
  }

  test("codebook frame keeps the schema subspace INT, label BIGINT, pos " +
      "INT, centroid DOUBLE") {
    assert(cb.schema.map(f => f.name -> f.dataType.sql) == Seq(
      "subspace" -> "INT", "label" -> "BIGINT", "pos" -> "INT",
      "centroid" -> "DOUBLE"))
  }

  test("codebook: a ragged vector fails loudly, among the seeds or not") {
    val ragged = Seq(
      (1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(6)(1.0f)))
      .toDF("vec_id", "embedding")
    for (k <- Seq(1, 2)) {
      val ex = intercept[Exception](
        Pq.codebook(ragged, "vec_id", "embedding", m = 2, k = k, iters = 1))
      assert(ex.getMessage.contains("expected 8 dims, got 6 for 2"),
        s"k=$k: ${ex.getMessage}")
    }
  }

  test("residualize: a vector/centroid dims mismatch fails loudly") {
    val docs = Seq((1L, 0L, Seq(1.0f, 2.0f, 3.0f)), (2L, 1L, Seq(1.0f, 2.0f,
      3.0f))).toDF("vec_id", "cell", "embedding")
    // cell 1's centroid is one dim short
    val cents = Seq((0L, 1, 0.5), (0L, 2, 0.5), (0L, 3, 0.5), (1L, 1, 0.5),
      (1L, 2, 0.5)).toDF("label", "pos", "centroid")
    val ex = intercept[Exception](
      Pq.residualize(docs, cents, "cell", "embedding").collect())
    assert(ex.getMessage.contains("vector/centroid dims differ for cell 1"),
      ex.getMessage)
  }

  test("residualize: dense integral cells read one array literal, any " +
      "other cells a broadcast join, with the same residuals") {
    val docs = Seq((1L, 0L, Seq(1.0f, 2.0f)), (2L, 1L, Seq(3.0f, 4.0f)),
      (3L, 1L, Seq(5.0f, 6.0f))).toDF("vec_id", "cell", "embedding")
    def residuals(cells: DataFrame) = {
      val cents = graft.scale.Similarity.centroids(
        cells.select(col("cell").as("label"), col("embedding")),
        "label", "embedding")
      val re = Pq.residualize(cells, cents, "cell", "embedding")
      // the cell stays the first column, as the join on it puts it
      assert(re.columns.toSeq == Seq("cell", "vec_id", "embedding"))
      (re.queryExecution.executedPlan.toString.contains("Broadcast"),
        re.orderBy("vec_id").select("embedding").as[Seq[Double]].collect()
          .toSeq)
    }
    val want = Seq(Seq(0.0, 0.0), Seq(-1.0, -1.0), Seq(1.0, 1.0))
    assert(residuals(docs) == ((false, want)))
    // a label that went empty leaves a hole: still dense, and a row in the
    // hole has no centroid
    val holed = docs.withColumn("cell", col("cell") * 2 + 5)
    assert(residuals(holed) == ((false, want)))
    val cents = graft.scale.Similarity.centroids(
      holed.select(col("cell").as("label"), col("embedding")),
      "label", "embedding")
    val ex = intercept[Exception](Pq.residualize(
      holed.withColumn("cell", lit(6L)), cents, "cell", "embedding").collect())
    assert(ex.getMessage.contains("no centroid for cell 6"), ex.getMessage)
    // sparse and string labels take the broadcast join
    assert(residuals(docs.withColumn("cell", col("cell") * 1000)) ==
      ((true, want)))
    assert(residuals(docs.withColumn("cell", col("cell").cast("string"))) ==
      ((true, want)))
  }
}
