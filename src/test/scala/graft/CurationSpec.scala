package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.scale.{CurationPipeline, Dedup, TextAnalysis}

/** The size-chosen component plan and the curation pipeline built on it:
  * the driver union-find must label exactly as the distributed star loop
  * does, on both sides of the cap, and curation must keep, count and
  * explain the same documents under either plan. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: DataFrame): Seq[(Option[Long], Option[Long])] =
    df.as[(Option[Long], Option[Long])].collect().toSeq.sorted

  /** Driver plan (cap = pair rows, the largest cap that still collects),
    * one below it (distributed) and cap = 0 (distributed) agree on rows
    * and schema. */
  private def assertPlansAgree(pairs: DataFrame, what: String): Unit = {
    val n = pairs.count().toInt
    val (star, _) = Dedup.componentsWithStats(pairs, "id_a", "id_b", 50, 0)
    val (drv, drvRounds) = Dedup.componentsWithStats(pairs, "id_a", "id_b",
      50, n)
    assert(drvRounds == 0, s"$what: driver plan ran contraction rounds")
    assert(drv.schema == star.schema, s"$what: ${drv.schema} != ${star.schema}")
    val want = labels(star)
    assert(labels(drv) == want, s"$what: driver labels differ")
    if (n > 0) {
      val (above, _) = Dedup.componentsWithStats(pairs, "id_a", "id_b", 50,
        n - 1)
      assert(labels(above) == want, s"$what: cap n-1 labels differ")
    }
  }

  private def pairsOf(ps: Seq[(java.lang.Long, java.lang.Long)]): DataFrame =
    ps.toDF("id_a", "id_b")

  private def boxed(ps: Seq[(Long, Long)]) =
    ps.map { case (a, b) => (Long.box(a), Long.box(b)) }

  test("driver union-find labels exactly as the star loop: chain, forest, " +
      "duplicates, self-pairs, null ids, empty") {
    val chain = (1L until 256L).map(i => (i, i + 1)) // diameter 255
    assertPlansAgree(pairsOf(boxed(chain)), "chain")
    // stars whose center is not the minimum, plus a tree
    val forest = (11L to 20L).map(i => (21L, i)) ++
      Seq((30L, 31L), (30L, 32L), (32L, 33L), (33L, 34L))
    assertPlansAgree(pairsOf(boxed(forest)), "forest")
    assertPlansAgree(pairsOf(boxed(chain ++ chain.map(_.swap) ++ forest)),
      "duplicate and reversed pairs")
    assertPlansAgree(pairsOf(boxed(Seq((5L, 5L), (5L, 6L), (9L, 9L)))),
      "self-pairs")
    val withNulls = Seq[(java.lang.Long, java.lang.Long)]((1L, null),
      (null, 2L), (null, null), (2L, 3L), (7L, null))
    assertPlansAgree(pairsOf(withNulls), "null ids")
    assertPlansAgree(pairsOf(Seq.empty), "empty")
    // int and long ends keep the union-coerced id type on both plans
    assertPlansAgree(Seq((1, 2L), (2, 3L)).toDF("id_a", "id_b"), "int ends")
  }

  test("driver union-find labels exactly as the star loop over seeded " +
      "random graphs") {
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(seed)
      val nodes = 20 + r.nextInt(200)
      val edges = Seq.fill(r.nextInt(2 * nodes)) {
        (r.nextInt(nodes).toLong, r.nextInt(nodes).toLong)
      }
      assertPlansAgree(pairsOf(boxed(edges)), s"seed $seed")
    }
  }

  /** A corpus of near-dup chains: each document is a sliding window over
    * one long word sequence, so a document's verified neighbors are the
    * next few windows and the chain's components need many star rounds.
    * Exact copies and too-short documents exercise the other stages. */
  private def chainCorpus(seed: Long, chains: Int, len: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val vocab = Seq.tabulate(400)(i =>
      Iterator.continually(('a' + r.nextInt(26)).toChar).take(5 + i % 3)
        .mkString)
    val docs = (0 until chains).flatMap { c =>
      val words = Seq.fill(len + 20)(vocab(r.nextInt(vocab.size)))
      (0 until len).map { i =>
        (c * 1000L + i, words.slice(i, i + 20).mkString(" "))
      }
    }
    val extra = Seq((900000L, docs(3)._2), (900001L, docs(7)._2),
      (900002L, "too short"))
    (r.shuffle(docs) ++ extra).toDF("doc_id", "text")
  }

  private def stageSets(prov: DataFrame) =
    prov.as[(Long, String)].collect().groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._1).sorted.toSeq }

  test("curation keeps, counts and explains the same documents under the " +
      "driver and the distributed component plans") {
    val cfg = CurationPipeline.Config(jaccardThreshold = 0.8)
    for (seed <- Seq(3L, 4L)) {
      val docs = chainCorpus(seed, chains = 3, len = 60)
      val (kDrv, pDrv) = CurationPipeline.curateTraceCapped(docs, "doc_id",
        "text", cfg, Dedup.DriverPairCap)
      val (kStar, pStar) = CurationPipeline.curateTraceCapped(docs, "doc_id",
        "text", cfg, 0)
      def ids(k: DataFrame) = k.select("doc_id").as[Long].collect().sorted
      val kept = ids(kDrv)
      assert(kept.sameElements(ids(kStar)), s"seed $seed: kept ids differ")
      assert(CurationPipeline.stats(kDrv).collect().toSeq ==
        CurationPipeline.stats(kStar).collect().toSeq, s"seed $seed: stats")
      assert(pDrv.schema == pStar.schema)
      val st = stageSets(pDrv)
      assert(st == stageSets(pStar), s"seed $seed: provenance differs")
      // the chains collapse: most windows are near-dups, and the exact
      // copies and the short document land in their own stages
      assert(st("near_dup").size > 100, st.map(kv => kv._1 -> kv._2.size))
      assert(st("exact_dup") == Seq(900000L, 900001L))
      assert(st("quality_fail") == Seq(900002L))
      assert(st("kept") == kept.toSeq)
    }
  }

  test("provenance labels every input row, null ids included, as the " +
      "stage operators do") {
    val cfg = CurationPipeline.Config(jaccardThreshold = 0.8)
    val docs = chainCorpus(5L, chains = 2, len = 40)
      .unionByName(Seq[(java.lang.Long, String)]((null, "a null id row"),
        (null, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val (_, prov) = CurationPipeline.curateTrace(docs, "doc_id", "text", cfg)
    // the reference: the stage frames rebuilt from the public operators,
    // unmaterialized and under the default component plan
    val quality = TextAnalysis.qualityFeatures(docs, "text")
      .filter(col("n_tokens") >= cfg.minTokens &&
        col("alpha_ratio") >= cfg.minAlphaRatio)
      .select(col("doc_id"), col("text"))
    val exact = Dedup.exactSurvivors(quality.withColumn("predicted_lang",
      TextAnalysis.langId(col("text"))), "doc_id", "text")
    val dupIds = Dedup.connectedComponents(Dedup.minhashCandidates(exact,
        "doc_id", "text", k = 16, bands = 4,
        jaccardThreshold = cfg.jaccardThreshold, shingleN = cfg.shingleN))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val ref = docs.select(col("doc_id"))
      .join(quality.select(col("doc_id")).withColumn("__q", lit(true)),
        Seq("doc_id"), "left")
      .join(exact.select(col("doc_id")).withColumn("__e", lit(true)),
        Seq("doc_id"), "left")
      .join(dupIds.withColumn("__n", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__q").isNull, "quality_fail")
          .when(col("__e").isNull, "exact_dup")
          .when(col("__n").isNotNull, "near_dup")
          .otherwise("kept").as("stage"))
    def rows(df: DataFrame) = df.as[(Option[Long], String)].collect().toSeq
      .sortBy(r => (r._1.getOrElse(Long.MinValue), r._2))
    val got = rows(prov)
    assert(got == rows(ref))
    assert(got.count(_ == ((None, "quality_fail"))) == 2)
    assert(prov.schema == ref.schema)
  }

  test("curation over the fixture runs a bounded number of jobs") {
    val sc = spark.sparkContext
    val tag = "graft.curate.jobs"
    val d = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val docs = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
    // jobs per engine label (null outside the pipeline's own stages)
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null))
          jobs.merge(String.valueOf(
            e.properties.getProperty("spark.job.description")), 1,
            (a: Integer, b: Integer) => a + b): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val keptPlan = try {
      val (kept, _) = CurationPipeline.curateTrace(docs, "doc_id", "text")
      kept.select("doc_id").collect()
      CurationPipeline.stats(kept).collect()
      kept.queryExecution.executedPlan.toString
    } finally sc.setLocalProperty(tag, null)
    org.apache.spark.GraftTestBus.drain(sc)
    sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val byLabel = jobs.asScala.toMap.map { case (k, v) => k -> v.intValue }
    // the fixture's verified pair set is far below the cap: the component
    // stage is one count and one collect, no contraction round
    assert(byLabel.get("curate:components").contains(2), byLabel)
    // the driver labels filter `kept` as a literal set, so neither action
    // over it broadcasts them: one job for the ids, two for `stats` (the
    // aggregate's shuffle and the one-partition sort, no range sampling)
    assert(!keptPlan.contains("Broadcast"), keptPlan)
    assert(byLabel.get("null").contains(3), byLabel)
    assert(byLabel.values.sum <= 25, byLabel)
  }

  test("curation leaves no cached partition behind, while its results are " +
      "still reachable") {
    val sc = spark.sparkContext
    def cached = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      .map(_.id).toSet
    val before = cached
    val d = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val docs = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
    val (kept, prov) = CurationPipeline.curateTrace(docs, "doc_id", "text")
    val ids = kept.select("doc_id").collect()
    CurationPipeline.stats(kept).collect()
    prov.collect()
    // no GC has to run first: nothing the pipeline cached outlives the call
    assert((cached -- before).isEmpty, cached -- before)
    assert(kept.count() == ids.length && ids.nonEmpty)
  }
}
