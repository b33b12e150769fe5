package graft

import org.apache.spark.sql.functions._
import graft.scale.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** Properties of the LLM-pipeline operators: dedup families, similarity
  * search, text analysis, multimodal plumbing. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely unrelated text here"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized content, keeps min id") {
    val groups = Dedup.exact(corpus, "doc_id", "text")
    assert(groups.count() == 3)
    val dupGroup = groups.filter($"dup_cnt" === 2).head()
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
    assert(Dedup.exactSurvivors(corpus, "doc_id", "text").count() == 3)
  }

  test("minhash: identical docs → identical signatures; near-dups agree on most") {
    val sigs = corpus.select($"doc_id", Dedup.minhashSignature($"text", 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(4L))
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree12 > agree13)
  }

  test("minhash LSH candidates find the exact and near duplicates, verified by Jaccard") {
    val pairs = Dedup.minhashCandidates(corpus, "doc_id", "text",
      k = 16, bands = 4, jaccardThreshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    // candidates are verified: nothing below the Jaccard threshold leaks
    val all = Dedup.minhashCandidates(corpus, "doc_id", "text", 16, 4, 0.5)
      .select("jaccard").as[Double].collect()
    assert(all.forall(_ >= 0.5))
  }

  test("fuzzy decontamination drops near-copies of eval docs that exact " +
      "n-gram screening keeps; clean docs survive") {
    // eval doc: one benchmark prompt. corpus doc 11 is an exact copy,
    // doc 12 a light paraphrase (one token changed — shingle Jaccard
    // under 1 but over the 0.5 gate), doc 13 unrelated.
    val evalDocs = Seq((100L,
      "what is the capital city of france paris is the capital of france"))
      .toDF("eval_id", "text")
    val corpus = Seq(
      (11L, "what is the capital city of france paris is the capital of france"),
      (12L, "what is the capital city of france paris is the capital of spain"),
      (13L, "completely unrelated training document about fox behavior")
    ).toDF("doc_id", "text")
    val kept = Dedup.fuzzyDecontaminate(corpus, "doc_id", "text",
      evalDocs, "eval_id", "text", k = 16, bands = 4,
      jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(13L), s"kept $kept")
    // the matches frame reports both hits with their verified Jaccard
    val hits = Dedup.fuzzyContaminations(corpus, "doc_id", "text",
      evalDocs, "eval_id", "text", 16, 4, 0.5)
      .select($"id", $"eval_id", $"jaccard")
      .as[(Long, Long, Double)].collect()
    assert(hits.map(_._1).toSet == Set(11L, 12L))
    assert(hits.forall(h => h._2 == 100L && h._3 >= 0.5))
    assert(hits.find(_._1 == 11L).get._3 == 1.0)
    // exact unigram screening at n=3 grams would ALSO catch doc 12 here,
    // but at a strict full-fingerprint level doc 12 differs — the fuzzy
    // path's value is the verified sub-1.0 match: assert it is sub-1.0
    assert(hits.find(_._1 == 12L).get._3 < 1.0)
  }

  test("incremental exact dedup: state blocks history, replay is idempotent") {
    val state = Dedup.exactState(corpus.filter($"doc_id" <= 2), "doc_id", "text")
    val batch = corpus.filter($"doc_id" >= 3)
    val (surv, next) = Dedup.exactIncremental(state, batch, "doc_id", "text")
    // doc 4 duplicates doc 1 (in state) → blocked; doc 3 is new
    assert(surv.select("doc_id").as[Long].collect().toSeq == Seq(3L))
    assert(next.count() == 3) // 2 state fps + doc 3
    // replaying the same batch against the advanced state yields nothing new
    val (replay, next2) = Dedup.exactIncremental(next, batch, "doc_id", "text")
    assert(replay.isEmpty && next2.count() == 3)
  }

  test("incremental minhash equals the full run's batch-endpoint pairs") {
    val shifted = corpus.withColumn("doc_id", $"doc_id" + 100)
    val full = Dedup.minhashCandidates(
      corpus.unionByName(shifted), "doc_id", "text", 16, 4, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val state = Dedup.minhashState(corpus, "doc_id", "text", 16, 3)
    val (pairs, next) = Dedup.minhashIncremental(state, shifted,
      "doc_id", "text", 16, 4, 0.5)
    val inc = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exactly the full-run pairs that touch the batch — no more, no less
    assert(inc == full.filter { case (a, b) => a > 100 || b > 100 })
    assert(next.count() == 8) // 4 state + 4 batch signatures
  }

  test("incremental components equal batch components; singletons survive") {
    val oldPairs = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(oldPairs)
      // a pre-existing singleton cluster (id 9 labeled itself)
      .unionByName(Seq((9L, 9L)).toDF("id", "component"))
    // the batch bridges the two old clusters and adds a fresh one
    val newPairs = Seq((2L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val merged = Dedup.connectedComponentsIncremental(labels, newPairs)
      .as[(Long, Long)].collect().toMap
    val batch = Dedup.connectedComponents(
      oldPairs.unionByName(newPairs)).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 5L, 6L, 7L, 8L).forall(i => merged(i) == batch(i)))
    assert(merged(9L) == 9L) // singleton carried through untouched
  }

  test("simhash: hamming distance orders near-dups below unrelated docs") {
    val sh = corpus.select($"doc_id", Dedup.simhash($"text", 16).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) <= ham(sh(1L), sh(3L)))
  }

  test("curation pipeline: quality gate, exact dup, and near-dup all filter") {
    import graft.scale.CurationPipeline
    val long = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, long),
      (2L, long),            // exact dup of 1 → dropped
      (3L, "too short"),     // quality-gated (< 10 tokens)
      (4L, long + " extra")  // near-dup of 1 (shingle jaccard ≥ 0.9) → clustered out
    ).toDF("doc_id", "text")
    val out = CurationPipeline.curate(corpus, "doc_id", "text",
      CurationPipeline.Config(jaccardThreshold = 0.85))
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val st = CurationPipeline.stats(out).as[(String, Long)].collect().toSeq
    assert(st == Seq(("en", 1L)))
  }

  test("connected components: chains collapse to min-label clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components: a deep chain converges in O(log² n) rounds") {
    // diameter 255 — one-hop label propagation would need 255 rounds and
    // blow the round budget; star contraction must finish well inside it
    val chain = (1L until 256L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // cap = 0: the distributed loop, whose rounds this pins
    val (ccDf, rounds) = Dedup.componentsWithStats(chain, "id_a", "id_b",
      maxIter = 20, cap = 0)
    val cc = ccDf.as[(Long, Long)].collect().toMap
    assert(cc.size == 256 && cc.values.forall(_ == 1L))
    assert(rounds <= 10, s"diameter-255 chain took $rounds rounds")
  }

  test("connected components: forest-shaped input converges in ZERO rounds") {
    // the convergence check runs on the INPUT too: an already-star-forest
    // edge set (e.g. re-contracting a stored labeling with no new pairs)
    // must cost no contraction rounds at all — the incremental fast path
    val forest = Seq((1L, 2L), (1L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    // cap = 0: the distributed loop, whose rounds this pins
    val (ccDf, rounds) = Dedup.componentsWithStats(forest, "id_a", "id_b",
      maxIter = 50, cap = 0)
    assert(rounds == 0)
    assert(ccDf.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // near-forest (one extra pair merging two stars) converges in ≤ 2
    val merged = forest.unionByName(Seq((3L, 9L)).toDF("id_a", "id_b"))
    val (mDf, mRounds) = Dedup.componentsWithStats(merged, "id_a", "id_b",
      maxIter = 50, cap = 0)
    assert(mRounds <= 2, s"near-forest took $mRounds rounds")
    assert(mDf.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 9L -> 1L))
  }

  test("jaccard: exact bounds") {
    val df = Seq((Seq("a", "b"), Seq("b", "c")), (Seq("a"), Seq("a")))
      .toDF("x", "y")
    val j = df.select(Dedup.jaccard($"x", $"y").as("j")).as[Double].collect()
    assert(math.abs(j(0) - 1.0 / 3.0) < 1e-12 && j(1) == 1.0)
  }

  test("brute-force top-k: identical vector ranks first, k respected") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(0.9f, 0.1f, 0f)), (4L, Seq(0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
    val rows = top.select("rnk", "neighbor_id").as[(Int, Long)].collect().toSeq
    assert(rows == Seq((1, 1L), (2, 3L)))
  }

  test("hard negatives: no same-label neighbor ever, equals brute force " +
      "minus the query's own class; kNN probe separates a clean space") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f), 0), (1L, Seq(0.95f, 0.05f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f), 0),
      (3L, Seq(0.8f, 0.2f, 0f), 1), // closest impostor to class 0
      (4L, Seq(0f, 1f, 0f), 1), (5L, Seq(0f, 0.9f, 0.1f), 1),
      (6L, Seq(0f, 0f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val q = vecs.filter($"vec_id" === 0)
    val hn = Similarity.hardNegatives(q, vecs, "vec_id", "embedding",
      "label", 3).select("rnk", "neighbor_id", "neighbor_label")
      .as[(Int, Long, Int)].collect().toSeq.sortBy(_._1)
    // never the query's own class, ranks contiguous, hardest first
    assert(hn.forall(_._3 != 0))
    assert(hn.map(_._1) == Seq(1, 2, 3))
    assert(hn.head._2 == 3L) // the near-boundary impostor outranks far ones
    // equals brute-force top-k restricted to other labels
    val bfOther = Similarity.bruteForceTopK(q, vecs.filter($"label" =!= 0),
      "vec_id", "embedding", 3)
      .select("rnk", "neighbor_id").as[(Int, Long)].collect().toSeq.sorted
    assert(hn.map(t => (t._1, t._2)).sorted == bfOther)
    // cleanly clustered points agree; the planted boundary impostor
    // (vec 3, class 1 sitting inside class 0's cone) is flagged — exactly
    // the mislabeled/boundary case the probe exists to surface
    val agree = Similarity.knnLabelAgreement(
      vecs.filter($"vec_id" <= 5), vecs, "vec_id", "embedding", "label", 2)
      .select("query_id", "agree").as[(Long, Boolean)].collect().toMap
    assert(agree.size == 6)
    assert(agree.collect { case (k, v) if k != 3L => v }.forall(identity))
    assert(!agree(3L))
    // majority tie-break: 1 vote each → smallest label wins
    val one = Similarity.knnLabelAgreement(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", "label", 2)
      .select("knn_label").as[Int].collect()
    assert(one.toSeq == Seq(0)) // neighbors 1 (label 0) and 2 (label 0)
  }

  test("IVF top-k restricted to the query's cell equals brute force within the cell") {
    val vecs = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0.9f, 0.1f), 0), (2L, Seq(0.8f, 0.2f), 0),
      (3L, Seq(1f, 0f), 1), (4L, Seq(0f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val ivf = Similarity.ivfTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", "label", 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(ivf == Set(1L, 2L)) // cell 0 only; id 3 (identical, other cell) pruned
  }

  test("filtered ANN: all-cells probe equals brute force over the " +
      "filtered corpus; every neighbor passes the predicate") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val nCells = e.select("label").distinct().count().toInt
    val pred = col("vec_id") % 3 === 0
    val filt = Similarity.ivfFilteredTopK(q, e, "vec_id", "embedding",
        "label", pred, k = 5, nProbe = nCells)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val brute = Similarity.bruteForceTopK(q, e.filter(pred), "vec_id",
        "embedding", 5)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(filt == brute) // pre-filter + exhaustive probe = filtered truth
    assert(filt.nonEmpty && filt.forall(_._3 % 3 == 0))
  }

  test("filtered frontier: bfF baseline perfect, recall and candidate " +
      "cost monotone in nProbe, all bounded by the exhaustive row") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val fr = Similarity.filteredFrontier(q, e, "vec_id", "embedding",
        "label", col("vec_id") % 3 === 0, k = 5, nProbes = Seq(1, 2, 3))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val bf = fr.find(_._1 == "bfF").get
    assert(bf._3 == bf._4) // exhaustive baseline hits all of its truth
    val ivf = fr.filter(_._1 == "ivfF").sortBy(_._2)
    assert(ivf.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(ivf.map(_._3).toSeq == ivf.map(_._3).sorted.toSeq) // recall ↑
    assert(ivf.map(_._5).toSeq == ivf.map(_._5).sorted.toSeq) // cost ↑
    assert(ivf.forall(r => r._3 <= r._4 && r._5 <= bf._5))
  }

  test("frontier reports release their caches when the report collect " +
      "fails") {
    val e = Tables.load(spark, sfDir, "embeddings")
    // the failing check is evaluated only when the report runs
    val q = e.filter($"vec_id" < 3).withColumn("embedding",
      when(assert_true($"vec_id" < 0).isNull, $"embedding"))
    spark.catalog.clearCache()
    intercept[Exception](Similarity.filteredFrontier(q, e, "vec_id",
      "embedding", "label", col("vec_id") % 3 === 0, k = 5, nProbes = Seq(1)))
    assert(spark.sharedState.cacheManager.isEmpty,
      "filteredFrontier left its caches registered")
    intercept[Exception](Similarity.annFrontier(q, e, "vec_id", "embedding",
      "label", k = 10, nProbes = Seq(1), rpBudgets = Seq(15)))
    assert(spark.sharedState.cacheManager.isEmpty,
      "annFrontier left its caches registered")
  }

  test("RRF fusion: integer scores, absent-list rank = 0, known values; " +
      "duplicate list names rejected") {
    val sparse = Seq((1L, 1), (2L, 2)).toDF("id", "rnk")
    val dense = Seq((2L, 1), (3L, 2)).toDF("id", "rnk")
    val f = Similarity.rrfFuse(Seq("sparse" -> sparse, "dense" -> dense),
        "id", "rnk")
      .select("id", "sparse_rnk", "dense_rnk", "rrf_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // 1_000_000 div 61 = 16393, div 62 = 16129 — exact integer fusion
    assert(f == Seq((1L, 1L, 0L, 16393L), (2L, 2L, 1L, 16393L + 16129L),
      (3L, 0L, 2L, 16129L)))
    intercept[IllegalArgumentException] {
      Similarity.rrfFuse(Seq("a" -> sparse, "a" -> dense), "id", "rnk")
    }
  }

  test("DoReMi reweighting: at-or-below-mean domain keeps w_nano = 1e9 " +
      "exactly; harder-than-average domain is upweighted") {
    val dd = Seq(
      (1L, "aa bb aa bb aa bb aa bb", "easy"),
      (2L, "aa bb aa bb aa bb", "easy"),
      (3L, "cc dd ee ff gg hh ii jj", "hard"),
      (4L, "kk ll mm nn oo pp qq rr", "hard")
    ).toDF("doc_id", "text", "source")
    val stats = TextAnalysis.lmCrossEntropyStats(dd, "doc_id", "text",
      TextAnalysis.bigramLm(dd, "text"))
    val w = Sampling.doremiWeights(stats, dd, "doc_id", "source").collect()
    val easy = w.find(_.getString(0) == "easy").get
    val hard = w.find(_.getString(0) == "hard").get
    assert(easy.getAs[Long]("excess_micro") == 0L)
    assert(easy.getAs[Long]("w_nano") == 1000000000L) // exp(0) exactly
    assert(hard.getAs[Long]("excess_micro") > 0L)
    assert(hard.getAs[Long]("w_nano") > 1000000000L)
    assert(hard.getAs[Long]("weight_bp") > easy.getAs[Long]("weight_bp"))
    val bpSum = w.map(_.getAs[Long]("weight_bp")).sum
    assert(bpSum <= 10000L && bpSum > 9990L) // floor division undershoot only
  }

  test("incremental DoReMi: merged per-source state equals batch-at-once " +
      "retrain under a pinned proxy LM; batch-only source passes through") {
    val dd = Seq(
      (1L, "aa bb aa bb aa bb aa bb", "easy"),
      (2L, "aa bb aa bb aa bb", "easy"),
      (3L, "cc dd ee ff gg hh ii jj", "hard"),
      (4L, "kk ll mm nn oo pp qq rr", "hard"),
      (5L, "ss tt uu vv ww xx yy zz", "late") // only in the second batch
    ).toDF("doc_id", "text", "source")
    // PINNED proxy LM: trained once on the full corpus, batches stream
    // through it (re-training per batch would be retraining, not merging)
    val stats = TextAnalysis.lmCrossEntropyStats(dd, "doc_id", "text",
      TextAnalysis.bigramLm(dd, "text"))
    val merged = Sampling.doremiWeightsFromState(Sampling.doremiMerge(
      Sampling.doremiState(stats.filter($"doc_id" <= 2), dd, "doc_id",
        "source"),
      Sampling.doremiState(stats.filter($"doc_id" > 2), dd, "doc_id",
        "source")))
    val full = Sampling.doremiWeights(stats, dd, "doc_id", "source")
    val m = merged.orderBy("source").collect().map(_.toSeq).toSeq
    val f = full.orderBy("source").collect().map(_.toSeq).toSeq
    assert(m == f) // merge == retrain, bit-exactly
    assert(m.exists(_.head == "late"))
  }

  test("multi-probe IVF: probing every cell equals brute force; recall " +
      "vs brute force is monotone in nProbe") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val nCells = e.select("label").distinct().count().toInt
    val full = Similarity.ivfMultiProbeTopK(q, e, "vec_id", "embedding",
        "label", k = 5, nProbe = nCells)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(full == brute) // all cells probed = exhaustive scan
    val trueTop = brute.map(r => (r._1, r._3)).toSet
    def hits(nProbe: Int): Int =
      Similarity.ivfMultiProbeTopK(q, e, "vec_id", "embedding",
          "label", k = 5, nProbe = nProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().count(trueTop.contains)
    val h = (1 to nCells).map(hits)
    assert(h.sliding(2).forall { case Seq(a, b) => a <= b })
    assert(h.last == brute.size)
  }

  test("multi-probe IVF-SQ8: probing every cell equals the full SQ scan; " +
      "recall vs the full scan is monotone in nProbe") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val nCells = e.select("label").distinct().count().toInt
    val full = Similarity.ivfSqMultiProbeTopK(q, e, "vec_id", "embedding",
        "label", k = 5, nProbe = nCells)
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val scan = Similarity.sqTopK(q, e, "vec_id", "embedding", 5)
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(full == scan) // all cells probed = the exhaustive int8 scan
    val trueTop = scan.map(r => (r._1, r._3)).toSet
    def hits(nProbe: Int): Int =
      Similarity.ivfSqMultiProbeTopK(q, e, "vec_id", "embedding",
          "label", k = 5, nProbe = nProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().count(trueTop.contains)
    val h = (1 to nCells).map(hits)
    assert(h.sliding(2).forall { case Seq(a, b) => a <= b })
    assert(h.last == scan.size)
  }

  test("KMV overlap: exact Jaccard when k covers the union; statistics " +
      "bounded by k; estimates match the exact counts") {
    import graft.scale.Sketches
    // groups with a known overlap: A = v0..v19, B = v10..v29 → ∩=10, ∪=30
    val rows = ((0 until 20).map(i => ("A", s"v$i")) ++
      (10 until 30).map(i => ("B", s"v$i"))).toDF("g", "v")
    val skBig = Sketches.kmv(rows, "g", col("v"), k = 64)
    val ov = Sketches.kmvOverlap(skBig, 64)
      .as[(String, String, Long, Long, Long)].collect()
    assert(ov.length == 1)
    val (_, _, _, nKmin, nCommon) = ov.head
    assert(nKmin == 30 && nCommon == 10) // k ≥ |∪| ⇒ exact
    val est = Sketches.kmvEstimates(Sketches.kmvOverlap(skBig, 64), 64)
      .select("jaccard_est", "union_est").as[(Double, Double)].head()
    assert(math.abs(est._1 - 10.0 / 30.0) < 1e-9)
    assert(est._2 == 30.0) // union fit inside k ⇒ exact count, not estimator
    // small k: kept size capped at k, common ≤ kept, sketch per group ≤ k
    val skSmall = Sketches.kmv(rows, "g", col("v"), k = 8)
    assert(skSmall.groupBy("grp").count()
      .select("count").as[Long].collect().forall(_ <= 8))
    val ovS = Sketches.kmvOverlap(skSmall, 8)
      .as[(String, String, Long, Long, Long)].collect().head
    assert(ovS._4 <= 8 && ovS._5 <= ovS._4)
  }

  test("CMS: single-token group estimates exactly; multi-token estimates " +
      "are exact-or-over; grid bounded by depth x width") {
    import graft.scale.Sketches
    val occ = Seq.tabulate(200)(i => ("A", s"t${i % 7}")) ++
      Seq.tabulate(5)(_ => ("C", "only"))
    val df = occ.toDF("g", "tok")
    val sk = Sketches.cms(df, "g", "tok", depth = 4, width = 64)
    // grid size: per group at most depth×width cells, row_j ∈ [0, 4)
    val cells = sk.select("grp", "row_j", "bucket", "cnt").as[(String, Int, Long, Long)].collect()
    assert(cells.forall { case (_, j, b, c) =>
      j >= 0 && j < 4 && b >= 0 && b < 64 && c > 0 })
    assert(cells.count(_._1 == "C") == 4) // one token → one bucket per row
    val truth = occ.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val est = Sketches.cmsEstimate(sk, df, "g", "tok", 4, 64)
      .as[(String, String, Long)].collect()
    est.foreach { case (g, t, e) =>
      assert(e >= truth((g, t)), s"CMS under-counted ($g,$t)")
    }
    // a group with a single distinct token cannot collide → exact
    assert(est.collect { case ("C", "only", e) => e } sameElements Array(5L))
    // absent probe: estimate for a token never inserted in that group is
    // whatever collisions yield, but ≥ 0 and present in the output
    val ghost = Sketches.cmsEstimate(sk, Seq(("C", "ghost")).toDF("g", "tok"),
      "g", "tok", 4, 64).as[(String, String, Long)].collect()
    assert(ghost.length == 1 && ghost.head._3 >= 0L)
  }

  test("sketch/SQ fail-loud guards: a null token raises in CMS and AMS, " +
      "a null vector element raises in the SQ family") {
    import graft.scale.{Sketches, Similarity}
    val badTok = spark.sql(
      "SELECT 'A' AS g, 'x' AS tok UNION ALL SELECT 'A', CAST(NULL AS STRING)")
    val e1 = intercept[Exception] {
      Sketches.cms(badTok, "g", "tok", 2, 8).collect()
    }
    assert(e1.getMessage.contains("null token"))
    val e2 = intercept[Exception] {
      Sketches.amsSketch(badTok, "g", "tok", 2).collect()
    }
    assert(e2.getMessage.contains("null token"))
    val badVec = spark.sql(
      "SELECT 1 AS id, array(1.0D, 2.0D) AS v UNION ALL " +
        "SELECT 2, array(1.0D, CAST(NULL AS DOUBLE))")
    val e3 = intercept[Exception] {
      Similarity.sqTopK(badVec.filter(col("id") === 1), badVec,
        "id", "v", k = 1).collect()
    }
    assert(e3.getMessage.contains("null score"))
    val e4 = intercept[Exception] {
      Similarity.dotTopK(badVec.filter(col("id") === 1), badVec,
        "id", "v", k = 1).collect()
    }
    assert(e4.getMessage.contains("null score"))
    // probing a grid with different build parameters raises instead of
    // silently reading absent cells as count 0 (the never-under-count
    // guarantee would be violated without a sound)
    val okTok = Seq(("A", "x"), ("A", "y")).toDF("g", "tok")
    val sk = Sketches.cms(okTok, "g", "tok", depth = 2, width = 8)
    val e5 = intercept[Exception] {
      Sketches.cmsEstimate(sk, okTok, "g", "tok", depth = 4, width = 8)
        .collect()
    }
    assert(e5.getMessage.contains("cmsEstimate: sketch built with 2x8"))
    val e6 = intercept[Exception] {
      Sketches.cmsMerge(sk,
        Sketches.cms(okTok, "g", "tok", depth = 2, width = 16)).collect()
    }
    assert(e6.getMessage.contains("different depth/width"))
  }

  test("AMS F2: r counters per group; a single-token group estimates " +
      "its repetition mass c^2 exactly") {
    import graft.scale.Sketches
    val occ = Seq.tabulate(120)(i => ("A", s"t${i % 5}")) ++
      Seq.tabulate(7)(_ => ("C", "only"))
    val df = occ.toDF("g", "tok")
    val sk = Sketches.amsSketch(df, "g", "tok", r = 8)
    val rows = sk.as[(String, Int, Long)].collect()
    assert(rows.count(_._1 == "A") == 8 && rows.count(_._1 == "C") == 8)
    // |Z_i| never exceeds the group's occurrence count
    assert(rows.forall { case (g, _, z) =>
      math.abs(z) <= (if (g == "A") 120L else 7L) })
    // one distinct token: Z_i = ±c for every estimator, so mean(Z²) = c²
    val est = Sketches.amsF2Estimate(sk)
      .as[(String, Double)].collect().toMap
    assert(est("C") == 49.0)
    // A's true F2 = 5 tokens × 24² = 2880; the 8-estimator mean is a
    // deterministic fixed value — assert it stays within the coarse
    // guarantee band rather than pinning the hash-dependent constant
    assert(est("A") > 0.0 && est("A") <= 120.0 * 120.0)
  }

  test("CMS heavy hitters: ranked 1..n per group, estimates at-or-above " +
      "true counts, ties broken by token") {
    import graft.scale.Sketches
    val occ = Seq.tabulate(200)(i => ("A", s"t${i % 7}")) ++
      Seq.tabulate(60)(i => ("B", s"u${i % 3}"))
    val df = occ.toDF("g", "tok")
    val sk = Sketches.cms(df, "g", "tok", depth = 4, width = 64)
    val hh = Sketches.cmsHeavyHitters(sk, df, "g", "tok", 4, 64, n = 3)
      .select("grp", "rank", "tok", "est")
      .as[(String, Int, String, Long)].collect()
    val truth = occ.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(hh.count(_._1 == "A") == 3 && hh.count(_._1 == "B") == 3)
    hh.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 3))
      // ranked (est desc, tok asc)
      assert(sorted.sliding(2).forall { case Array(a, b) =>
        a._4 > b._4 || (a._4 == b._4 && a._3 < b._3) })
    }
    hh.foreach { case (g, _, t, e) =>
      assert(e >= truth((g, t)), s"HH under-counted ($g,$t)")
    }
  }

  test("IVF-SQ8: every neighbor shares the query's cell; k rows per " +
      "query in rank order") {
    import graft.scale.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val top = Similarity.ivfSqTopK(q, e, "vec_id", "embedding", "label",
      k = 5).as[(Long, Int, Long)].collect()
    val lab = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(top.groupBy(_._1).keySet == Set(0L, 1L, 2L))
    top.groupBy(_._1).foreach { case (_, g) =>
      assert(g.sortBy(_._2).map(_._2).toSeq == (1 to 5))
    }
    top.foreach { case (qid, _, nid) =>
      assert(lab(qid) == lab(nid), s"neighbor $nid left query $qid's cell")
    }
  }

  test("SQ8 asymmetric top-k: k rows per query in rank order, self " +
      "excluded; int8 ranking recalls most of the exact-dot ground truth") {
    import graft.scale.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val top = Similarity.sqTopK(q, e, "vec_id", "embedding", k = 5)
      .as[(Long, Int, Long)].collect()
    val byQ = top.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (qid, g) =>
      assert(g.sortBy(_._2).map(_._2).toSeq == (1 to 5))
      assert(!g.exists(_._3 == qid), s"self-match leaked for query $qid")
    }
    // 8-bit codes lose little: the int8 ranking should agree with the
    // exact inner-product ranking on most of the top-5 (deterministic on
    // the fixture; bound loose enough to survive regeneration)
    val exact = Similarity.dotTopK(q, e, "vec_id", "embedding", 5)
      .as[(Long, Int, Long)].collect().map(t => (t._1, t._3)).toSet
    val hits = top.map(t => (t._1, t._3)).count(exact.contains)
    assert(hits >= 9, s"SQ8 recall collapsed: $hits/15 vs exact dot")
  }

  test("SQ8 rerank: k rows per query; recall vs exact dot never below " +
      "the plain int8 ranking's") {
    import graft.scale.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    def hits(df: org.apache.spark.sql.DataFrame, exact: Set[(Long, Long)]) =
      df.as[(Long, Int, Long)].collect().map(t => (t._1, t._3))
        .count(exact.contains)
    val exact = Similarity.dotTopK(q, e, "vec_id", "embedding", 5)
      .as[(Long, Int, Long)].collect().map(t => (t._1, t._3)).toSet
    val rr = Similarity.sqRerankTopK(q, e, "vec_id", "embedding",
      k = 5, kPrime = 15)
    val rrRows = rr.as[(Long, Int, Long)].collect()
    rrRows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.sortBy(_._2).map(_._2).toSeq == (1 to 5))
    }
    val plain = Similarity.sqTopK(q, e, "vec_id", "embedding", 5)
    assert(hits(rr, exact) >= hits(plain, exact),
      "exact rerank must not lose recall vs the quantized ranking")
  }

  test("hamming top-k: self ranks first at distance 0, k rows per query " +
      "in the (hamming, id) integer order, layout-invariant") {
    import graft.scale.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val top = Similarity.hammingTopK(q, e, "vec_id", "embedding",
      bits = 48, k = 5).as[(Long, Int, Long, Long)].collect()
    val byQ = top.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (qid, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5))
      assert(sorted.head._3 == qid && sorted.head._4 == 0L,
        s"query $qid: self not rank 1 at hamming 0")
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 < b._4 || (a._4 == b._4 && a._3 < b._3))
      }
    }
    // signatures (and so rankings) are per-row — physical layout can't move them
    val reparted = Similarity.hammingTopK(q, e.repartition(7), "vec_id",
      "embedding", bits = 48, k = 5)
      .as[(Long, Int, Long, Long)].collect()
    assert(top.toSet == reparted.toSet)
    // a null vector must fail loudly, never rank first on a null signature
    val withNull = e.select(col("vec_id"),
      when(col("vec_id") === 7, lit(null)).otherwise(col("embedding"))
        .as("embedding"))
    val ex = intercept[Exception] {
      Similarity.hammingTopK(q, withNull, "vec_id", "embedding",
        bits = 48, k = 5).collect()
    }
    assert(ex.getMessage.contains("null signature") ||
      ex.getCause != null && ex.getCause.getMessage.contains("null signature"))
  }

  test("banded hamming: pigeonhole guarantee (every pair closer than " +
      "`bands` bits is found), agreement with the full scan inside the " +
      "radius, and no all-pairs join in the plan") {
    import graft.scale.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val full = Similarity.hammingTopK(q, e, "vec_id", "embedding",
        bits = 48, k = n).as[(Long, Int, Long, Long)].collect()
    val band = Similarity.hammingBandTopK(q, e, "vec_id", "embedding",
      bits = 48, bands = 4, k = n)
    val bandRows = band.as[(Long, Int, Long, Long)].collect()
    val bandPairs = bandRows.map(r => (r._1, r._3)).toSet
    // pigeonhole: hamming < bands ⇒ some 12-bit band equal ⇒ candidate
    val near = full.filter(_._4 < 4)
    assert(near.nonEmpty) // self-pairs at distance 0 at minimum
    near.foreach { r =>
      assert(bandPairs((r._1, r._3)),
        s"pair (${r._1}, ${r._3}) at hamming ${r._4} missed by banding")
    }
    // inside the guaranteed radius the two rankings see the same pairs
    assert(bandRows.filter(_._4 < 4).map(r => (r._1, r._3, r._4)).toSet ==
      near.map(r => (r._1, r._3, r._4)).toSet)
    // the band join is an equi-join on the (band, value) key — never an
    // all-pairs nested-loop/cartesian over the corpus
    val plan = band.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("hamming rerank: exact-cosine reorder of the hamming candidate " +
      "set — containment, self-first, k rows per query") {
    import graft.scale.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val candSet = Similarity.hammingTopK(q, e, "vec_id", "embedding",
        bits = 48, k = 30)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rr = Similarity.hammingRerankTopK(q, e, "vec_id", "embedding",
        bits = 48, k = 10, candidates = 30)
      .as[(Long, Int, Long, Double)].collect()
    val byQ = rr.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (qid, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 10))
      // every reranked row came from the hamming candidate stage
      assert(sorted.forall(r => candSet((r._1, r._3))))
      // self survives the prefilter (hamming 0) and wins rerank (cos 1)
      assert(sorted.head._3 == qid && sorted.head._4 == 1.0,
        s"query $qid: self not rank 1 under exact cosine")
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3))
      }
    }
  }

  test("embedding near-dups bucketed by label") {
    val vecs = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0),
      (3L, Seq(1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val nd = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", "label", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nd == Set((0L, 1L))) // (0,3) identical but cross-bucket
  }

  test("leakageSafeSplit: duplicate clusters share a split, singletons self-key") {
    val docs = Seq(
      (1L, "x"), (2L, "x"), (3L, "x"),  // one duplicate cluster
      (10L, "solo a"), (11L, "solo b")  // singletons
    ).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "component")
    val out = Sampling.leakageSafeSplit(docs, "doc_id", labels, 3000, 3000)
      .select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect().toSeq
    val byId = out.map { case (id, c, s) => id -> ((c, s)) }.toMap
    // the whole cluster carries component 1 and ONE split
    assert(Seq(1L, 2L, 3L).map(byId(_)._1).forall(_ == 1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct.size == 1)
    // singletons key on their own id
    assert(byId(10L)._1 == 10L && byId(11L)._1 == 11L)
    // and the cluster's split equals the plain holdout split of id 1
    val solo = Sampling.holdoutSplit(
      Seq(Tuple1(1L)).toDF("doc_id"), "doc_id", 3000, 3000)
      .select("split").as[String].head()
    assert(byId(1L)._2 == solo)
  }

  test("crossDocRepeats: shared windows flagged, short docs report zero") {
    val docs = Seq(
      (1L, "a b c d"),   // windows(2): "a b" "b c" "c d"
      (2L, "x y a b"),   // shares "a b" with doc 1
      (3L, "q")          // shorter than the window -> zero windows
    ).toDF("doc_id", "text")
    val out = Dedup.crossDocRepeats(docs, "doc_id", "text", 2, 2)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 1L), (2L, 3L, 1L), (3L, 0L, 0L)))
    // a window repeated WITHIN one doc only is not a cross-doc repeat
    val solo = Seq((1L, "a b a b"), (2L, "z z z")).toDF("doc_id", "text")
    val out2 = Dedup.crossDocRepeats(solo, "doc_id", "text", 2, 2)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out2 == Seq((1L, 3L, 0L), (2L, 2L, 0L)))
  }

  test("semDedup: min-id survivor within cluster, cross-cluster dups kept") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)),      // cluster 1 survivor
      (2L, Seq(1f, 0.1f)),    // cos(1,2) ≈ 0.995 -> dropped (same cluster)
      (3L, Seq(0.6f, 0.8f)),  // nearer (0,1) -> cluster 2; cos to 4 = 0.8, kept
      (4L, Seq(0f, 1f)),      // cluster 2 survivor
      (5L, Seq(1f, 0f))       // identical to 1, same cluster -> dropped
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (1L, 1, 1.0), (1L, 2, 0.0),
      (2L, 1, 0.0), (2L, 2, 1.0)).toDF("label", "pos", "centroid")
    val out = Dedup.semDedup(vecs, cents, "vec_id", "embedding", 0.99)
      .orderBy("vec_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 2L, true),
      (4L, 2L, true), (5L, 1L, false)))
  }

  test("srp bucket is deterministic and groups identical vectors") {
    val vecs = Seq((0L, Seq(1f, 2f, 3f)), (1L, Seq(1f, 2f, 3f)), (2L, Seq(-1f, -2f, -3f)))
      .toDF("vec_id", "embedding")
    val b = vecs.select($"vec_id", Similarity.srpBucket($"embedding", 8).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L) && b(0L) != b(2L))
  }

  test("char-ngram lang id: trained profiles classify held-out-style docs") {
    val corpus = Seq(
      (1L, "the cat sat on the mat with the hat", "en"),
      (2L, "the dog ran to the log in the fog", "en"),
      (3L, "le chat est sur le tapis avec le chapeau", "fr"),
      (4L, "le chien va au parc avec le bateau", "fr"),
      // docs 5/6 carry their language's character statistics
      (5L, "the rat and the bat sat on the hat", "en"),
      (6L, "le rat et le chat vont au tapis", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.charNgramLangId(corpus, "doc_id", "text", "lang")
      .as[(Long, String)].collect().toMap
    assert(out(5L) == "en" && out(6L) == "fr")
    assert(out(1L) == "en" && out(3L) == "fr")
    // texts shorter than n yield NO grams (sequence(1,0) is [1,0], not
    // empty — the guard must catch it): such docs are unclassifiable and
    // emit no row instead of training phantom grams
    val short = Seq((1L, "hi", "en"), (2L, "", "fr"),
      (3L, "the cat sat on the mat", "en")).toDF("doc_id", "text", "lang")
    val shortOut = TextAnalysis.charNgramLangId(short, "doc_id", "text", "lang")
      .as[(Long, String)].collect().toMap
    assert(shortOut == Map(3L -> "en"))
  }

  test("text analysis: tokens, quality features, lang id, fingerprint") {
    val df = Seq((1L, "the cat and the dog in a house")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityFeatures(df, "text").head()
    assert(q.getAs[Long]("n_tokens") == 8)
    assert(q.getAs[Long]("n_stopwords") == 5) // the, and, the, in, a
    assert(math.abs(q.getAs[Double]("stopword_ratio") - 5.0 / 8) < 1e-12)
    val lang = df.select(TextAnalysis.langId($"text")).head().getString(0)
    assert(lang == "en")
    val fp1 = Seq("A  B").toDF("t").select(TextAnalysis.fingerprint($"t")).head().getString(0)
    val fp2 = Seq("a b").toDF("t").select(TextAnalysis.fingerprint($"t")).head().getString(0)
    assert(fp1 == fp2) // case + whitespace normalized
  }

  test("tokens: empty and whitespace-only text yield EMPTY arrays") {
    val df = Seq("", "   ", "a b").toDF("t")
    val n = df.select(size(TextAnalysis.tokens($"t")).as("n")).as[Int].collect()
    assert(n.toSeq == Seq(0, 0, 2))
  }

  test("shingles: 3-gram count and degenerate short input") {
    val df = Seq("a b c d", "a b").toDF("t")
    val s = df.select(TextAnalysis.shingles($"t", 3).as("s")).as[Seq[String]].collect()
    assert(s(0).toSet == Set("a b c", "b c d"))
    assert(s(1).isEmpty)
  }

  test("hamming distance over simhash values") {
    val df = Seq((0L, 0L), (0L, 7L), (255L, 0L)).toDF("a", "b")
    val h = df.select(Dedup.hammingDistance($"a", $"b")).as[Int].collect().toSeq
    assert(h == Seq(0, 3, 8))
  }

  test("multimodal: frame sampling takes every stride-th byte") {
    val df = Seq((1L, "hello world!", "s")).toDF("doc_id", "text", "source")
    val mm = Multimodal.asMultimodal(df, "doc_id", "text", "source")
    val frames = Multimodal.frameSample(mm, 4)
      .select($"frame_bytes").as[Seq[Int]].head()
    assert(frames == Seq('h'.toInt, 'o'.toInt, 'r'.toInt)) // bytes 1, 5, 9
  }

  test("multimodal: resize picks nearest-neighbor bytes, tracks n_bytes") {
    val mm = Multimodal.asMultimodal(
      Seq((1L, "abcd", "s"), (2L, "ab", "s"), (3L, "", "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text", "source")
    val out = Multimodal.resizePayload(mm, 2)
      .select($"id", $"payload".cast("string"), $"meta.n_bytes")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ("ac", 2L)) // downsample: bytes 1 and 3
    assert(out(2L) == ("ab", 2L)) // same-size target is the identity
    assert(out(3L) == ("", 0L))   // empty payload passes through
  }

  test("multimodal: payload features and stub decode are deterministic") {
    val df = Seq((1L, "hello", "src")).toDF("doc_id", "text", "source")
    val mm = Multimodal.asMultimodal(df, "doc_id", "text", "source")
    val f = Multimodal.payloadFeatures(mm).head()
    assert(f.getAs[Long]("n_bytes") == 5)
    val d1 = Multimodal.decodePayloads(mm).select("width", "height")
      .as[(Int, Int)].head()
    val d2 = Multimodal.decodePayloads(mm).select("width", "height")
      .as[(Int, Int)].head()
    assert(d1 == d2 && d1._1 == 6) // len 5 % 640 + 1
  }

  test("multimodal: chunk fingerprints cover the payload, tail included") {
    val mm = Multimodal.asMultimodal(
      Seq((1L, "abcdefgh", "s"), (2L, "abcdefgX", "s"), (3L, "", "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text", "source")
    val fp = Multimodal.chunkFingerprints(mm, 4)
      .as[(Long, Long, String)].collect()
    // 8 bytes at chunk 4 → 2 chunks each for docs 1 and 2; none for empty
    assert(fp.count(_._1 == 1L) == 2 && fp.count(_._1 == 2L) == 2)
    assert(!fp.exists(_._1 == 3L))
    val h = fp.map(r => (r._1, r._2) -> r._3).toMap
    assert(h((1L, 0L)) == h((2L, 0L)))  // shared first chunk "abcd"
    assert(h((1L, 1L)) != h((2L, 1L)))  // differing tail chunk
    // a 6-byte payload gets a short tail chunk, hashed as-is
    val tail = Multimodal.chunkFingerprints(
      Multimodal.asMultimodal(Seq((9L, "abcdef", "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text", "source"), 4)
      .as[(Long, Long, String)].collect()
    assert(tail.length == 2)
  }

  test("CDC chunking: boundaries survive an insertion (chunk hashes " +
      "re-align downstream) where fixed windows share nothing; chunks " +
      "tile the payload exactly") {
    // pseudo-random payload — deterministic, enough byte entropy for the
    // 1/64 boundary rule to fire regularly (the fixture vocabulary works
    // too; this isolates the property from corpus choice)
    val rnd = new scala.util.Random(42)
    val payload = Array.fill(4096)(('a' + rnd.nextInt(26)).toChar).mkString
    val edited = payload.substring(0, 10) + "Z" + payload.substring(10)
    val mm = Multimodal.asMultimodal(
      Seq((1L, payload, "s"), (2L, edited, "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text", "source")
    val cdc = Multimodal.cdcChunks(mm, maskBits = 6)
      .select("id", "chunk_idx", "start_pos", "chunk_len", "chunk_hash")
      .as[(Long, Long, Long, Long, String)].collect()
    // chunks tile each payload exactly: sorted, contiguous, full cover
    for ((id, len) <- Seq(1L -> 4096L, 2L -> 4097L)) {
      val cs = cdc.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 1L)
      assert(cs.map(c => c._3 + c._4 - 1).last == len)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4, s"gap at $b")
        case _ =>
      }
    }
    // insertion robustness: most CDC chunk hashes survive the edit...
    val h1 = cdc.filter(_._1 == 1L).map(_._5).toSet
    val h2 = cdc.filter(_._1 == 2L).map(_._5).toSet
    val cdcShared = (h1 & h2).size
    assert(cdcShared * 10 >= h1.size * 7,
      s"CDC shared only $cdcShared of ${h1.size}")
    // ...while fixed 64-byte windows share NO chunk at-or-after the edit
    // (every window downstream shifts by one byte)
    val fixed = Multimodal.chunkFingerprints(mm, 64)
      .as[(Long, Long, String)].collect()
    val f1 = fixed.filter(_._1 == 1L).map(_._3).toSet
    val f2 = fixed.filter(_._1 == 2L).map(_._3).toSet
    assert((f1 & f2).isEmpty, "fixed chunks unexpectedly survived the edit")
    // empty payloads emit no rows
    assert(Multimodal.cdcChunks(Multimodal.asMultimodal(
      Seq((9L, "", "s")).toDF("doc_id", "text", "source"),
      "doc_id", "text", "source")).count() == 0)
    intercept[IllegalArgumentException](Multimodal.cdcChunks(mm, 0))
  }

  test("CDC chunking: segment-split == unsplit (the 15-byte overlap is " +
      "exact), and a cut count past maxChunks fails loud with the id") {
    val rnd = new scala.util.Random(7)
    val payload = Array.fill(2048)(('a' + rnd.nextInt(26)).toChar).mkString
    val mm = Multimodal.asMultimodal(
      Seq((1L, payload, "s"), (2L, "tinypayload", "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text", "source")
    def rows(seg: Int) =
      Multimodal.cdcChunks(mm, maskBits = 6, segBytes = seg)
        .select("id", "chunk_idx", "start_pos", "chunk_len", "chunk_hash")
        .as[(Long, Long, Long, Long, String)].collect().toSet
    val unsplit = rows(1 << 20) // one segment per payload (the old shape)
    assert(rows(16) == unsplit) // minimum legal segment (128 segments)
    assert(rows(100) == unsplit) // unaligned segment boundaries
    assert(rows(2048) == unsplit) // boundary exactly at payload end
    // fail-loud: a payload whose cut count exceeds maxChunks names itself
    // instead of OOMing an executor on the per-id cuts array
    val e = intercept[Exception] {
      Multimodal.cdcChunks(mm, maskBits = 6, maxChunks = 2).collect()
    }
    assert(e.getMessage.contains("cdcChunks: payload 1 produced"),
      e.getMessage)
    intercept[IllegalArgumentException](
      Multimodal.cdcChunks(mm, segBytes = 15))
    intercept[IllegalArgumentException](
      Multimodal.cdcChunks(mm, maxChunks = 0))
  }

  test("chunkDedupMap: duplicated corpora collapse to distinct chunks " +
      "with exact occurrence counts and min-(doc, idx) representatives") {
    import graft.scale.Dedup
    val df = Seq((1L, (1 to 20).map(i => s"t$i").mkString(" ")),
      (2L, "alpha beta gamma")).toDF("doc_id", "text")
    val dup = df.unionByName(df.withColumn("doc_id", $"doc_id" + 100))
    val m = Dedup.chunkDedupMap(dup, "doc_id", "text", 12, 8)
      .select("chunk_hash", "n_occ", "rep_doc_id", "rep_chunk_idx")
      .as[(String, Long, Long, Long)].collect()
    assert(m.length == 3) // doc1 → 2 chunks, doc2 → 1; copies collapse
    assert(m.forall(_._2 == 2L)) // every chunk occurs in base + copy
    assert(m.forall(_._3 <= 2L)) // rep is always the base occurrence
    // verbatim-shared content across DIFFERENT docs collapses too, and
    // the smallest (doc, idx) wins the representative slot
    val tri = dup.unionByName(
      Seq((0L, "alpha beta gamma")).toDF("doc_id", "text"))
    val m2 = Dedup.chunkDedupMap(tri, "doc_id", "text", 12, 8)
      .select("chunk_hash", "n_occ", "rep_doc_id", "rep_chunk_idx")
      .as[(String, Long, Long, Long)].collect()
    val shared = m2.filter(_._2 == 3L)
    assert(shared.length == 1 && shared.head._3 == 0L)
  }

  test("segmentDedupIncremental == batch-at-once segmentDedup restricted " +
      "to the batch; all-boilerplate batch doc drops; replay yields " +
      "nothing new") {
    import graft.scale.Dedup
    val mk = (id: Long, t: String) => (id, t)
    val head = Seq(
      mk(1L, (1 to 10).map(i => s"a$i").mkString(" ")),   // segment A
      mk(2L, (1 to 10).map(i => s"b$i").mkString(" "))    // segment B
    ).toDF("doc_id", "text")
    val batch = Seq(
      // doc 11 = segment A (seen in history) + fresh segment C
      mk(11L, ((1 to 10).map(i => s"a$i") ++
        (1 to 10).map(i => s"c$i")).mkString(" ")),
      mk(12L, (1 to 10).map(i => s"b$i").mkString(" ")),  // all-boilerplate
      mk(13L, (1 to 10).map(i => s"c$i").mkString(" "))   // dup of 11's C
    ).toDF("doc_id", "text")
    val state = Dedup.segmentState(head, "doc_id", "text", 10)
    val (cleaned, next) =
      Dedup.segmentDedupIncremental(state, batch, "doc_id", "text", 10)
    val got = cleaned.as[(Long, String)].collect().toMap
    val whole = Dedup.segmentDedup(head.unionByName(batch),
        "doc_id", "text", 10)
      .as[(Long, String)].collect().toMap
      .filter(_._1 >= 10L)
    assert(got == whole, s"got=$got whole=$whole")
    assert(!got.contains(12L), "all-boilerplate doc survived")
    assert(got(11L) == (1 to 10).map(i => s"c$i").mkString(" "))
    assert(!got.contains(13L), "within-batch later duplicate survived")
    // replaying the same batch against the ADVANCED state yields nothing
    val (replay, _) =
      Dedup.segmentDedupIncremental(next, batch, "doc_id", "text", 10)
    assert(replay.isEmpty)
  }

  test("chunkDedupIncremental: merge == retrain, idempotent on replayed " +
      "content, and the representative never moves forward") {
    import graft.scale.Dedup
    val head = Seq((1L, (1 to 20).map(i => s"t$i").mkString(" ")),
      (2L, "alpha beta gamma")).toDF("doc_id", "text")
    val batch = Seq((3L, "alpha beta gamma"), // replays doc 2's content
      (4L, (1 to 20).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("chunk_hash", "n_occ", "rep_doc_id", "rep_chunk_idx")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val state = Dedup.chunkDedupMap(head, "doc_id", "text", 12, 8)
    val merged = asMap(
      Dedup.chunkDedupIncremental(state, batch, "doc_id", "text", 12, 8))
    // merge == retrain: same map as chunking head ∪ batch at once
    val retrain = asMap(
      Dedup.chunkDedupMap(head.unionByName(batch), "doc_id", "text", 12, 8))
    assert(merged == retrain)
    // the replayed chunk counts both occurrences but keeps doc 2's rep
    val alpha = merged.values.filter(_._1 == 2L)
    assert(alpha.exists(_._2 == 2L), s"replayed chunk rep moved: $merged")
  }

  test("lshFrontier: candidates and verified yield grow monotonically " +
      "with bands (superset property), verified <= candidates") {
    import graft.scale.Dedup
    val dd = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val dup = dd.unionByName(dd.withColumn("doc_id", $"doc_id" + 10000))
    val f = Dedup.lshFrontier(dup, "doc_id", "text", k = 16,
        bandsAxis = Seq(2, 4, 8), jaccardThreshold = 0.9)
      .orderBy("bands")
      .as[(Long, Long, Long, Long)].collect()
    assert(f.map(_._1).toSeq == Seq(2L, 4L, 8L))
    assert(f.forall { case (b, r, _, _) => b * r == 16 })
    assert(f.forall { case (_, _, c, v) => v <= c })
    // at fixed k, more bands admit a SUPERSET of candidates, so both
    // columns are non-decreasing down the table; the dup'd corpus
    // guarantees a nonzero yield at every config (every doc has an
    // identical copy — identical signatures collide in every band)
    assert(f.sliding(2).forall { case Array(x, y) =>
      x._3 <= y._3 && x._4 <= y._4 })
    assert(f.head._4 >= dd.count(),
      "exact copies must verify at every config")
    intercept[IllegalArgumentException](Dedup.lshFrontier(
      dup, "doc_id", "text", k = 16, bandsAxis = Seq(3)))
  }

  test("annFrontier: exact baseline is perfect by construction, IVF " +
      "recall and cost grow monotonically with nProbe, RP cost equals " +
      "the candidate budget") {
    import graft.scale.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val f = Similarity.annFrontier(e.filter($"vec_id" < 5), e,
        "vec_id", "embedding", "label", k = 10,
        nProbes = Seq(1, 2), rpBudgets = Seq(15), hamBudgets = Seq(15))
      .select("method", "param", "n_hit", "k_total", "candidate_rows")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(f.size == 5)
    val (bh, bk, bc) = f(("bf", 0L))
    assert(bh == bk && bk == 50L) // 5 queries × top-10, all hits
    val (h1, k1, c1) = f(("ivf", 1L))
    val (h2, k2, c2) = f(("ivf", 2L))
    assert(k1 == bk && k2 == bk)
    assert(h1 <= h2 && h2 <= bh, "IVF recall must grow with nProbe")
    assert(c1 < c2 && c2 < bc, "IVF cost must grow with nProbe, below bf")
    val (rh, _, rc) = f(("rp", 15L))
    assert(rc == 5L * 15L && rh <= bh)
    // hamming: self always wins the distance-0 prefilter slot and is
    // dropped before rerank — cost is exactly nQ·(budget−1); the default
    // bits axis labels the method with its signature width
    val (hh, _, hc) = f(("ham48", 15L))
    assert(hc == 5L * 14L && hh <= bh)
    intercept[IllegalArgumentException](
      Similarity.annFrontier(e, e, "vec_id", "embedding", "label", 10,
        Seq(1), Seq(5))) // rp budget below k
  }

  test("multimodal: chunk-overlap pairs find near-dups, drop boilerplate") {
    // docs 1/2 share 3 of 4 chunks (75%), 1/3 share all 4 (100%);
    // threshold 80% keeps only (1,3)
    val base = "AAAABBBBCCCCDDDD"
    val mm = Multimodal.asMultimodal(Seq(
        (1L, base, "s"), (2L, "AAAABBBBCCCCXXXX", "s"), (3L, base, "s"))
      .toDF("doc_id", "text", "source"), "doc_id", "text", "source")
    val pairs = Multimodal.chunkDedupPairs(mm, 4, 8000, 50)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)))
    // at 70% the 75%-overlap pairs appear too (doc 2 vs both copies)
    val loose = Multimodal.chunkDedupPairs(mm, 4, 7000, 50)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(loose == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // boilerplate cap: AAAA/BBBB/CCCC appear in all 3 docs (df=3); with
    // maxDocFreq=2 they are dropped before pairing, so at a 20% threshold
    // only (1,3) — sharing the rare DDDD chunk — remains, while without
    // the cap the common chunks also pair (1,2) and (2,3)
    val uncapped = Multimodal.chunkDedupPairs(mm, 4, 2000, 50)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(uncapped == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val capped = Multimodal.chunkDedupPairs(mm, 4, 2000, 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 3L)))
    intercept[IllegalArgumentException](Multimodal.chunkDedupPairs(mm, 4, 0, 2))
  }

  test("rpTopK: with full candidate budget, equals brute-force top-k") {
    val e = spark.read.parquet(sf("embeddings"))
    val n = e.count().toInt
    val q = e.filter($"vec_id" < 3)
    val twoStage = Similarity.rpTopK(q, e, "vec_id", "embedding",
        k = 5, projDims = 8, candidates = n)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(twoStage == brute)
    // a tight candidate budget still returns k rows per query
    val tight = Similarity.rpTopK(q, e, "vec_id", "embedding",
        k = 5, projDims = 8, candidates = 5)
    assert(tight.groupBy("query_id").count()
      .select("count").as[Long].collect().forall(_ == 5))
  }

  test("connected components: long chains and star unions resolve to the min label") {
    // a 400-node path (worst case for label propagation: diameter 399) plus
    // two disjoint stars; star contraction must find all three components
    // within its O(log^2 n) round budget
    val chain = (1L until 400L).map(i => (i, i + 1))
    val starA = (501L to 520L).map(i => (500L, i))
    val starB = (601L to 610L).map(i => (611L, i)) // center is NOT the min
    val pairs = (chain ++ starA ++ starB).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 400L).forall(comp(_) == 1L))
    assert((500L to 520L).forall(comp(_) == 500L))
    assert((601L to 611L).forall(comp(_) == 601L))
    assert(comp.size == 400 + 21 + 11)
  }

  test("bpeTrain: classic merge sequence on the Sennrich-style corpus") {
    // words: low x5, lower x2, newest x6, widest x3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", 3)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    // (e,s) freq 9 beats (s,t) 9 lexicographically; then (es,t) 9; then
    // (l,o) 7 beats (o,w) 7
    assert(merges == Seq((1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "l", "o", 7L)))
    // greedy left-to-right application: "aaa" under (a,a) -> (aa, a)
    val runs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(runs, "text", 2)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(m2.head == ((1, "a", "a", 4L)))    // two adjacent positions per word
    assert(m2(1) == ((2, "aa", "a", 2L)))     // greedy left fold: aaa -> (aa, a)
  }

  test("bpeEncode: applies merges greedily, word-level, empty docs kept") {
    // corpus as in the Sennrich test; after 3 merges (e+s, es+t, l+o):
    //   low    -> [lo, w]           (l+o applied)
    //   newest -> [n, e, w, est]    (e+s then es+t)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, "low newest"), (2L, text), (3L, "   ")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(Seq((1L, text)).toDF("doc_id", "text"),
      "text", 3).orderBy("rank")
      .as[(Int, String, String, Long)].collect().toSeq
      .map { case (_, a, b, _) => (a, b) }
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // doc 1: "low newest" -> "lo w" + "n e w est" = 2 words, 6 symbols
    assert(enc(0)._1 == 1L && enc(0)._2 == 2L && enc(0)._3 == 6L)
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("lo w n e w est".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(enc(0)._4 == expectMd5)
    // doc 2: full corpus, 16 words
    assert(enc(1)._2 == 16L)
    // doc 3: whitespace-only -> zero tokens, md5 of empty string
    assert(enc(2)._2 == 0L && enc(2)._3 == 0L &&
      enc(2)._4 == "d41d8cd98f00b204e9800998ecf8427e")
    // greedy fold parity with training ("aaa" under (a,a) -> aa a)
    val runs = TextAnalysis.bpeEncode(
      Seq((1L, "aaa")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("a", "a")))
      .as[(Long, Long, Long, String)].head()
    val aaMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("aa a".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(runs._3 == 2L && runs._4 == aaMd5)
  }

  test("charSymbols: code points, not UTF-16 units (non-BMP safe)") {
    // U+1F600 is a surrogate pair in UTF-16; a code-unit split would break
    // it into two unpaired halves and diverge from DuckDB's code-point
    // substr() in the bpe_pair_freqs oracle. Pin the code-point contract.
    val syms = Seq("a😀b").toDF("w")
      .select(TextAnalysis.charSymbols(col("w")).as("s"))
      .head.getSeq[String](0)
    assert(syms == Seq("a", "😀", "b"))
    assert(syms(1).codePointAt(0) == 0x1F600)
    // and the pair statistic over an emoji word keeps the pair intact
    val pairs = TextAnalysis.pairCounts(
      Seq((Seq("a", "😀", "b"), 2L)).toDF("sym", "freq"),
      "sym", "freq")
      .orderBy("a").as[(String, String, Long)].collect().toSeq
    assert(pairs == Seq(("a", "😀", 2L), ("😀", "b", 2L)))
  }

  test("quality-aware survivor: the longest cluster member wins, not min-id") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),             // near-dup cluster {1, 2}
      (2L, base + " extra"),  // longer — must win despite the larger id
      (3L, "totally different unrelated content here")
    ).toDF("doc_id", "text")
    val labels = Dedup.connectedComponents(
      Dedup.minhashCandidates(docs, "doc_id", "text",
        k = 16, bands = 4, jaccardThreshold = 0.9))
    val withComp = docs
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .select(col("doc_id"), col("component"),
        length(col("text")).cast("long").as("n_chars"))
    val surv = Sampling.topPerGroup(withComp, "component", col("doc_id"), 1,
      Seq(col("n_chars").desc, col("doc_id").asc))
      .select("component", "doc_id").as[(Long, Long)].collect().toMap
    assert(surv == Map(1L -> 2L, 3L -> 3L), surv) // doc 2 survives cluster 1
  }

  test("cluster-size histogram counts singletons via the anti-join path") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra"),                    // cluster of 2
      (3L, "totally different unrelated content here")      // singleton
    ).toDF("doc_id", "text")
    val labels = Dedup.connectedComponents(
      Dedup.minhashCandidates(docs, "doc_id", "text",
        k = 16, bands = 4, jaccardThreshold = 0.9))
    val clustered = labels.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    val nSingle = docs.join(labels.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    val hist = clustered.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .unionByName(nSingle)
      .groupBy("cluster_size")
      .agg(sum(col("n_clusters")).as("n_clusters"))
      .as[(Long, Long)].collect().toMap
    assert(hist == Map(1L -> 1L, 2L -> 1L), hist)
  }

  test("component stats: exact mean/std per dimension, stuck dim reads 0") {
    val df = Seq(
      (1L, Seq(1.0f, 5.0f)),
      (2L, Seq(3.0f, 5.0f)),
      (3L, Seq(5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.componentStats(df, "embedding").orderBy("pos")
      .select($"pos", $"mean".cast("double"), $"std".cast("double"), $"n")
      .as[(Long, Double, Double, Long)].collect().toSeq
    // dim 1: mean 3, std sqrt(8/3); dim 2 is stuck at 5 → std 0
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out(0)._2 == 3.0 && math.abs(out(0)._3 - math.sqrt(8.0 / 3)) < 1e-6)
    assert(out(1)._2 == 5.0 && out(1)._3 == 0.0)
    assert(out.forall(_._4 == 3L))
  }

  test("power iteration finds the dominant axis, deterministic across runs") {
    // rows dominantly along (0.6, 0.8), plus one small off-axis row
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(6.0f, 8.0f)),
      (3L, Seq(3.0f, 4.0f)),
      (4L, Seq(0.4f, -0.3f))
    ).toDF("vec_id", "embedding")
    val v = Similarity.powerIterationTop(df, "embedding", iters = 3)
      .orderBy("pos").select($"loading".cast("double")).as[Double]
      .collect().toSeq
    assert(v.size == 2)
    assert(math.abs(v(0) - 0.6) < 0.01 && math.abs(v(1) - 0.8) < 0.01, v)
    // unit norm (up to the 6-decimal per-component rounding)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
    // deterministic re-run
    val v2 = Similarity.powerIterationTop(df, "embedding", iters = 3)
      .orderBy("pos").select($"loading".cast("double")).as[Double]
      .collect().toSeq
    assert(v == v2)
    // all-zero input collapses and must fail loudly
    val zeros = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      Similarity.powerIterationTop(zeros, "embedding"))
  }

  test("quantized-sum guards: magnitude raises, ragged nulls tolerated") {
    // an element beyond the 9e3 bound must raise LOUDLY, not wrap
    val big = Seq((1L, Seq(1.0f, 10000.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Similarity.componentSums(big, "embedding").collect())
    assert(e.getMessage != null && e.getMessage.contains("9e3"),
      s"unexpected error: ${e.getMessage}")
    // ragged vectors: the short row's missing tail pads with nulls, which
    // the sums skip (no crash, no misleading magnitude error)
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f)))
      .toDF("vec_id", "embedding")
    val cs = Similarity.componentSums(ragged, "embedding")
      .orderBy("pos").select($"pos", $"n", $"s_micro")
      .as[(Long, Long, Long)].collect().toSeq
    assert(cs == Seq((1L, 2L, 4000000L), (2L, 1L, 2000000L)), cs)
    val v = Similarity.powerIterationTop(ragged, "embedding", iters = 2)
      .orderBy("pos").collect()
    assert(v.length == 2) // ragged row contributes nothing, no crash
  }

  test("span rewrite: repeated window excised from all-but-first " +
      "occurrence; solo text untouched; a fully-shared doc drops") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val df = Seq(
      (1L, s"intro one two $shared tail one"),
      (2L, s"$shared different continuation here"),
      (3L, "totally unrelated solo text stays put"),
      (4L, s"pre $shared iota $shared post"),
      (5L, shared) // nothing but the repeated span -> drops entirely
    ).toDF("doc_id", "text")
    val out = Dedup.spanRewrite(df, "doc_id", "text", 8, 2)
      .as[(Long, String)].collect().toMap
    // global first occurrence is doc 1 (smallest (doc, pos)) — untouched
    assert(out(1L) == s"intro one two $shared tail one")
    assert(out(2L) == "different continuation here")
    assert(out(3L) == "totally unrelated solo text stays put")
    // both of doc 4's occurrences are non-first — both spans excised
    assert(out(4L) == "pre iota post")
    assert(!out.contains(5L), "fully-covered doc should drop")
  }

  test("span rewrite: overlapping flagged windows coalesce into one span") {
    // a 9-token shared passage flags TWO overlapping 8-token windows in
    // the second doc; the interval union must excise all 9 tokens, not
    // leave a 1-token sliver between the windows
    val shared9 = "alpha beta gamma delta epsilon zeta eta theta iota"
    val df = Seq(
      (1L, s"first start $shared9 stop one"),
      (2L, s"second snippet $shared9 closing two")
    ).toDF("doc_id", "text")
    val out = Dedup.spanRewrite(df, "doc_id", "text", 8, 2)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == s"first start $shared9 stop one")
    assert(out(2L) == "second snippet closing two", out(2L))
  }

  test("matryoshka two-stage: the exact full-dim rerank matches-or-beats " +
      "prefix-only search on recall, output ordered by exact (d2, id), " +
      "and the candidate fetch broadcasts") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val bf = graft.scale.Pq.bruteForceL2TopK(q, e, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      bf.join(df.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count()
    val two = Similarity.matryoshkaTopK(q, e, "vec_id", "embedding",
      prefixDims = 16, k = 10, candidates = 30)
    // prefix-only = the same operator with no rerank headroom (cand = k)
    val prefixOnly = Similarity.matryoshkaTopK(q, e, "vec_id", "embedding",
      prefixDims = 16, k = 10, candidates = 10)
    assert(recall(two) >= recall(prefixOnly),
      s"rerank recall ${recall(two)} < prefix-only ${recall(prefixOnly)}")
    val rows = two.as[(Long, Int, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (qid, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 10))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 < b._4 || (a._4 == b._4 && a._3 < b._3))
      }
      // self-match (d2 = 0) ranks first: queries come from the corpus
      assert(sorted.head._3 == qid && sorted.head._4 == 0L,
        s"query $qid: self-match not rank 1")
    }
    val plan = two.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    intercept[IllegalArgumentException](Similarity.matryoshkaTopK(
      q, e, "vec_id", "embedding", 16, k = 10, candidates = 5))
  }

  test("multi-length span rewrite: a short repeat below the long window " +
      "is caught by the short family, a long repeat excises whole, and " +
      "single-length behavior is the Seq(w) special case") {
    val short5 = "alpha beta gamma delta epsilon" // 5 tokens: < 8 window
    val long13 = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen"
    val df = Seq(
      (1L, s"intro $short5 and then $long13 tail"),
      (2L, s"second copy $short5 closing words"),
      (3L, s"third carries $long13 ending here")
    ).toDF("doc_id", "text")
    val out = Dedup.spanRewriteMulti(df, "doc_id", "text", Seq(5, 8, 13), 2)
      .as[(Long, String)].collect().toMap
    // doc 1 holds the first occurrence of both repeats — untouched
    assert(out(1L) == s"intro $short5 and then $long13 tail")
    // the 5-token family catches what an 8-token-only pass would miss
    assert(out(2L) == "second copy closing words", out(2L))
    // the 13-token repeat is excised in one piece (8-windows inside it
    // flag overlapping spans; the union covers all 13 tokens)
    assert(out(3L) == "third carries ending here", out(3L))
    // an 8-only single-length pass indeed misses the 5-token repeat
    val single = Dedup.spanRewrite(df, "doc_id", "text", 8, 2)
      .as[(Long, String)].collect().toMap
    assert(single(2L) == s"second copy $short5 closing words")
    // Seq(w) degenerates to the single-length operator exactly
    val viaMulti = Dedup.spanRewriteMulti(df, "doc_id", "text", Seq(8), 2)
      .as[(Long, String)].collect().toMap
    assert(viaMulti == single)
    intercept[IllegalArgumentException](
      Dedup.spanRewriteMulti(df, "doc_id", "text", Seq(8, 8), 2))
    intercept[IllegalArgumentException](
      Dedup.spanRewriteMulti(df, "doc_id", "text", Seq.empty, 2))
  }

  test("perceptual hash: a resize re-encode of a SIGNAL-shaped payload " +
      "pairs with its original at small Hamming distance, where exact " +
      "chunk dedup sees nothing; the pair join is banded, never a " +
      "cartesian") {
    // smooth synthetic byte signals (the image/audio shape the perceptual
    // hash assumes — block gradients are stable under resampling there;
    // on white-noise-like payloads, e.g. bag-of-words text bytes, dHash
    // distances are uninformative by design)
    val raw = (0 until 200).map { i =>
      val n = 300 + (i * 7) % 200
      val f = 1 + (i % 5)
      val ph = (i * 0.37) % 6.28
      (i.toLong, Array.tabulate(n)(j =>
        (128 + 100 * math.sin(2 * math.Pi * f * j / n + ph)).toByte))
    }.toDF("id", "payload")
    val mm = raw.select(col("id"), col("payload"),
      struct(lit("image").as("modality"), lit("synthetic").as("source"),
        octet_length(col("payload")).cast("long").as("n_bytes")).as("meta"))
    val re = Multimodal.resizePayload(mm, 128)
      .select((col("id") + 10000).as("id"), col("payload"), col("meta"))
    val pairs = Multimodal.phashNearDup(mm.unionByName(re), bits = 60,
      bands = 6, maxHamming = 5)
    val pairSet = pairs.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val ids = mm.select("id").as[Long].collect()
    val hit = ids.count(id => pairSet.contains((id, id + 10000)))
    assert(hit == ids.length,
      s"only $hit/${ids.length} originals paired with their re-encode")
    // exact chunk dedup cannot pair original with re-encode (byte-level
    // resample changes every chunk hash)
    val chunk = Multimodal.chunkDedupPairs(mm.unionByName(re), 64, 8000, 50)
      .filter(col("b") === col("a") + 10000).count()
    assert(chunk == 0L, "chunk dedup unexpectedly paired re-encodes")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }
}
