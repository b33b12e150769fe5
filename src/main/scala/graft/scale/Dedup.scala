package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is shuffle-bounded by a *bucketing* key
  * (fingerprint, LSH band hash, simhash prefix, cluster label) so candidate
  * generation is a hash-partitioned group-join — never an all-pairs cross
  * join, which is disqualifying at 100 TB.
  */
object Dedup {

  /** Exact dedup: group by content fingerprint, keep the smallest id
    * (hash-partitioned groupBy with map-side partial aggregation). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Survivors after exact dedup (one row per distinct fingerprint, the
    * minimal id wins — deterministic; `idCol` must be unique). Scratch
    * columns avoid the input's names, so a user column named `fp` survives
    * untouched.
    *
    * Keep-one is ONE hash aggregate + join-back, not a per-fp sort window:
    * an exact-duplicate document repeated millions of times (the corpus
    * this operator exists for) would funnel every occurrence through a
    * single sorted task under `row_number() OVER (PARTITION BY fp)`;
    * `min(id)` partial-aggregates map-side and the join-back is an
    * AQE-splittable keyed join. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fpC = Cols.fresh("fp", df.columns)
    val keepC = Cols.fresh("keep", df.columns)
    val withFp = df.withColumn(fpC, TextAnalysis.fingerprint(col(textCol)))
    val firsts = withFp.groupBy(fpC).agg(min(col(idCol)).as(keepC))
    withFp.join(firsts, Seq(fpC))
      .filter(col(idCol) === col(keepC))
      .drop(fpC, keepC)
  }

  /** Incremental exact dedup: survivors of a NEW batch against a persisted
    * fingerprint state `(fp, keep_id)` — the production shape where a
    * growing corpus dedups each arriving batch without re-scanning history.
    * A batch row survives iff its fingerprint is absent from the state
    * (left-anti join, shuffle bounded by the batch + a state partition
    * stream) AND it is the first occurrence within the batch (min-id
    * window). Returns (survivors, nextState); callers persist `nextState`
    * (state ∪ surviving fingerprints) for the next batch. Idempotent:
    * replaying a batch yields zero survivors and an unchanged state. */
  def exactIncremental(state: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val fpC = Cols.fresh("fp", batch.columns)
    val keepC = Cols.fresh("keep", batch.columns)
    val fresh = batch
      .withColumn(fpC, TextAnalysis.fingerprint(col(textCol)))
      .join(state.select(col("fp").as(fpC)), Seq(fpC), "left_anti")
    // within-batch keep-one via min(id) hash aggregate + join-back (the
    // [[exactSurvivors]] skew-safe shape): a hot duplicate arriving many
    // times in one batch never pins a single sorted task
    val firsts = fresh.groupBy(fpC).agg(min(col(idCol)).as(keepC))
    val kept = fresh.join(firsts, Seq(fpC))
      .filter(col(idCol) === col(keepC))
    val survivors = kept.drop(fpC, keepC)
    val nextState = state.unionByName(
      kept.select(col(fpC).as("fp"), col(idCol).cast("long").as("keep_id")))
    (survivors, nextState)
  }

  /** Fingerprint state of a corpus for [[exactIncremental]]'s first batch. */
  def exactState(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).cast("long").as("keep_id"))

  /** Cross-engine-stable 32-bit token hash: first 8 hex chars of MD5, parsed
    * as an integer. Same value is computable in any engine with md5() —
    * the property the DuckDB oracle relies on. */
  def tokenHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long")

  /** Cross-engine-stable 60-bit hash: first 15 hex chars of MD5 (the widest
    * prefix that fits a SIGNED 64-bit integer in every engine — 16 digits
    * would overflow BIGINT for values ≥ 2^63). The sketch-family hash: at
    * billions of distinct values per source the 2^32 [[tokenHash]] space
    * saturates (collisions bias Jaccard and cap union estimates near 2^32);
    * 2^60 keeps the collision probability negligible at 100 TB scale. */
  def tokenHash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  val MinhashPrime: Long = 2147483647L // 2^31-1, Mersenne

  /** MinHash signature (k permutations) over a PRE-HASHED element array
    * (`array<long>`, see [[hashedElems]]): sig_i = min over elements of
    * ((a_i·h + b_i) mod p) with a_i = 2i+1, b_i = 7919i+1 — the classic
    * affine permutation family (Broder '97). A native codegen expression
    * ([[graft.functions.VectorHashExpressions.MinhashSig]]): one primitive
    * pass with k running minimums, instead of k interpreted
    * `array_min∘transform` HOF passes. Per-row, no shuffle. */
  def minhashFromHashes(hashed: Column, k: Int): Column =
    graft.functions.VectorHashExpressions.minhashSig(hashed, k)

  /** Cross-engine-stable numeric hash of each element (= [[tokenHash]] per
    * element — materialize this into a column before [[minhashFromHashes]]).
    * Native codegen expression: one MD5 digest per element, no hex-string
    * materialization/re-parse and no interpreted HOF lambda. */
  def hashedElems(elems: Column): Column =
    graft.functions.VectorHashExpressions.hashTokens(elems)

  /** MinHash over an element-set column (convenience; hot paths should
    * materialize [[hashedElems]] first). */
  def minhashSignatureOver(elems: Column, k: Int): Column =
    minhashFromHashes(hashedElems(elems), k)

  /** MinHash over the distinct-unigram set of a text column. */
  def minhashSignature(text: Column, k: Int = 16): Column =
    minhashSignatureOver(array_distinct(TextAnalysis.tokens(lower(text))), k)

  /** Banded-LSH candidate pairs: split the signature into `bands` bands of
    * rows, bucket on (band index, band hash), self-join within buckets.
    * Shuffles on the band key — bucket sizes, not n², bound the join.
    * Candidates are verified with exact Jaccard before reporting.
    *
    * Sets are `shingleN`-word shingles, not unigrams: unigram sets over a
    * small vocabulary make every pair similar and degenerate LSH buckets to
    * O(n²); multi-word shingles keep random-pair Jaccard near zero, which is
    * what makes banded LSH scale (shingling per Broder '97 §4). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, jaccardThreshold: Double = 0.5,
      shingleN: Int = 3): DataFrame =
    minhashCandidatesFromState(
      minhashState(df, idCol, textCol, k, shingleN), k, bands, jaccardThreshold)

  /** All verified near-dup pairs within a persisted [[minhashState]] frame —
    * the signature chain is NOT recomputed. */
  def minhashCandidatesFromState(state: DataFrame, k: Int = 16,
      bands: Int = 4, jaccardThreshold: Double = 0.5): DataFrame =
    candidatesFrom(state.withColumn("is_new", lit(true)),
      k, bands, jaccardThreshold)

  /** The persistable per-document MinHash state `(id, shingle_set, sig)` —
    * the CPU-heavy tokenize→shingle→md5→minhash chain, run once and
    * materialized (it is consumed by multiple plan branches: banding and
    * both sides of the verification join). Incremental dedup writes this
    * frame out per batch and never recomputes it for old documents. */
  def minhashState(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleN: Int = 3): DataFrame =
    graft.io.Materialize(
      df.select(col(idCol).as("id"), col(textCol).as("text"))
        .withColumn("tk", TextAnalysis.tokens(lower(col("text"))))
        .withColumn("shingle_set",
          if (shingleN <= 1) array_distinct(col("tk"))
          else TextAnalysis.shinglesOf(col("tk"), shingleN))
        .withColumn("hashed", hashedElems(col("shingle_set")))
        .withColumn("sig", minhashFromHashes(col("hashed"), k))
        .select("id", "shingle_set", "sig"))

  /** Incremental fuzzy dedup: near-dup pairs introduced by a NEW batch
    * against an existing corpus, given the corpus' persisted
    * [[minhashState]] — only the batch's signatures are computed; old
    * documents contribute their stored state. Emitted pairs have at least
    * one batch-side endpoint (corpus-internal pairs were reported when
    * their own batches arrived). Returns (pairs, nextState) — callers
    * persist `nextState` for the next batch. This is the 100 TB shape:
    * per-batch cost scales with the batch's signatures plus the band-bucket
    * join against stored state, never with re-hashing the corpus. */
  def minhashIncremental(state: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, k: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.5, shingleN: Int = 3)
      : (DataFrame, DataFrame) =
    minhashIncrementalFromState(state,
      minhashState(batch, idCol, textCol, k, shingleN), k, bands,
      jaccardThreshold)

  /** [[minhashIncremental]] with the batch's [[minhashState]] precomputed —
    * callers that need a handle on the batch signature frame (to release
    * its blocks once the batch commits, or to persist it themselves) build
    * it explicitly and pass it here. */
  def minhashIncrementalFromState(state: DataFrame, batchSig: DataFrame,
      k: Int = 16, bands: Int = 4, jaccardThreshold: Double = 0.5)
      : (DataFrame, DataFrame) = {
    val all = state.withColumn("is_new", lit(false))
      .unionByName(batchSig.withColumn("is_new", lit(true)))
    (candidatesFrom(all, k, bands, jaccardThreshold),
      state.unionByName(batchSig))
  }

  /** Banded-LSH candidate pairs from a signature frame
    * `(id, shingle_set, sig, is_new)`: bucket each signature band, self-join
    * within buckets, drop pairs with no new endpoint, verify with exact
    * Jaccard. Bucket sizes, not n², bound the join. */
  /** Banded-LSH bucket keys from a [[minhashState]]-shaped frame: one row
    * per (id, band) with `band_hash` = md5 over the band's signature slice
    * — the exact banding [[candidatesFrom]] always used, extracted so
    * cross-corpus joins (fuzzy decontamination) share it bit-for-bit.
    * `carry` names extra columns to keep on the banded rows. */
  private def bandFrame(sig: DataFrame, k: Int, bands: Int,
      carry: Seq[String]): DataFrame = {
    val rows = k / bands
    sig.select((col("id") +: carry.map(col)) :+
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        md5(concat_ws("-", transform(
          slice(col("sig"), b * rows + 1, lit(rows)),
          x => x.cast("string")))))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  private def candidatesFrom(sig: DataFrame, k: Int, bands: Int,
      jaccardThreshold: Double): DataFrame = {
    val sets = sig.select(col("id"), col("shingle_set"))
    // bands carry only (id, band, hash, is_new): the heavy shingle arrays
    // do NOT ride through the candidate join
    val banded = bandFrame(sig, k, bands, Seq("is_new"))
    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"),
      col("is_new").as("new_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"),
      col("is_new").as("new_b"))
    // dedupe pairs BEFORE verification: a pair colliding in all bands is
    // scored once, not once per band
    val cand = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("new_a") || col("new_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("shingle_set").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shingle_set").as("set_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("set_a"), col("set_b")).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
  }

  /** LSH tuning frontier — the operational (bands, rows) table for the
    * MinHash stack (the [[Similarity.annFrontier]] pattern applied to
    * dedup): for each configured band count b (rows = k/b), the DISTINCT
    * candidate-pair count the banded bucket join produces and how many of
    * those verify at `jaccardThreshold`. candidate_pairs is the
    * verification-cost axis, verified_pairs the yield; precision is the
    * reader's one division, and recall reads RELATIVELY down the table
    * (at fixed k, more bands admit a superset of candidates). This is the
    * table that answers "which S-curve do I deploy" before committing a
    * corpus-wide dedup run.
    *
    * 100 TB shape: ONE signature pass shared by every configuration (the
    * [[minhashState]] frame is materialized); per config one banded
    * self-join (bucket sizes bound it, never n²) + one verify join over
    * candidates only, each reduced to two count aggregates. */
  def lshFrontier(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bandsAxis: Seq[Int] = Seq(2, 4, 8),
      jaccardThreshold: Double = 0.5, shingleN: Int = 3): DataFrame = {
    require(bandsAxis.nonEmpty && bandsAxis.forall(b => b >= 1 && k % b == 0),
      s"every band count must divide k=$k: $bandsAxis")
    val sig = minhashState(df, idCol, textCol, k, shingleN)
    val sets = sig.select(col("id"), col("shingle_set"))
    bandsAxis.map { b =>
      val banded = bandFrame(sig, k, b, Nil)
      val l = banded.select(col("band"), col("band_hash"),
        col("id").as("id_a"))
      val r = banded.select(col("band"), col("band_hash"),
        col("id").as("id_b"))
      // materialized: the candidate frame feeds both the cost count and
      // the verification join
      val cand = graft.io.Materialize(l.join(r, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct())
      val verified = cand
        .join(sets.select(col("id").as("id_a"),
          col("shingle_set").as("set_a")), "id_a")
        .join(sets.select(col("id").as("id_b"),
          col("shingle_set").as("set_b")), "id_b")
        .filter(jaccard(col("set_a"), col("set_b")) >= jaccardThreshold)
      cand.agg(count(lit(1)).as("candidate_pairs"))
        .crossJoin(verified.agg(count(lit(1)).as("verified_pairs")))
        .select(lit(b.toLong).as("bands"),
          lit((k / b).toLong).as("rows_per_band"),
          col("candidate_pairs"), col("verified_pairs"))
    }.reduce(_ unionByName _)
  }

  /** Fuzzy benchmark decontamination matches (GPT-3 appx-C lineage, the
    * NEAR-duplicate step exact n-gram screening misses — light paraphrase,
    * whitespace/punctuation drift, partial copies): every (corpus doc,
    * eval doc) pair whose shingle-set Jaccard clears `jaccardThreshold`,
    * found by joining the corpus' LSH band buckets against the EVAL SET's
    * (same [[bandFrame]] banding bit-for-bit).
    *
    * 100 TB shape: the eval side is benchmark-sized by contract, so its
    * banded keys and shingle sets ride as broadcasts — the corpus pays one
    * signature pass and a broadcast-join probe, never a corpus×corpus
    * band shuffle; verification touches only candidate rows. */
  def fuzzyContaminations(corpus: DataFrame, idCol: String, textCol: String,
      evalDocs: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 16, bands: Int = 4, jaccardThreshold: Double = 0.9,
      shingleN: Int = 3): DataFrame = {
    val c = minhashState(corpus, idCol, textCol, k, shingleN)
    val e = minhashState(evalDocs, evalIdCol, evalTextCol, k, shingleN)
    val cand = bandFrame(c, k, bands, Nil)
      .join(broadcast(bandFrame(e, k, bands, Nil)
        .withColumnRenamed("id", "eval_id")), Seq("band", "band_hash"))
      .select(col("id"), col("eval_id")).distinct()
    cand
      .join(c.select(col("id"), col("shingle_set").as("__set_c")), "id")
      .join(broadcast(e.select(col("id").as("eval_id"),
        col("shingle_set").as("__set_e"))), "eval_id")
      .select(col("id"), col("eval_id"),
        jaccard(col("__set_c"), col("__set_e")).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
  }

  /** The corpus with every [[fuzzyContaminations]] hit removed — the
    * decontaminated training set (anti-join on the bounded hit set). */
  def fuzzyDecontaminate(corpus: DataFrame, idCol: String, textCol: String,
      evalDocs: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 16, bands: Int = 4, jaccardThreshold: Double = 0.9,
      shingleN: Int = 3): DataFrame =
    corpus.join(
      fuzzyContaminations(corpus, idCol, textCol, evalDocs, evalIdCol,
        evalTextCol, k, bands, jaccardThreshold, shingleN)
        .select(col("id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** SimHash (Charikar '02) with `bits` bit positions votes from MD5 nibbles
    * of each token: bit_j = majority over tokens of (nibble_j >= 8).
    * Cross-engine-stable (MD5 hex). HOF formulation over a precomputed
    * `array<md5-hex>` column; [[simhash]] compiles the identical arithmetic
    * to a single codegen kernel — this form is kept as the executable
    * specification the kernel is property-tested against. */
  def simhashFromHashes(tokenHashes: Column, bits: Int = 16): Column = {
    require(bits <= 32, "simhash uses one hex nibble per bit (md5 = 32 nibbles)")
    val hexHi = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(_.asInstanceOf[Any])
    val n = size(tokenHashes).cast("long")
    val terms = (0 until bits).map { j =>
      val votes = size(filter(tokenHashes, h =>
        substring(h, j + 1, 1).isin(hexHi: _*))).cast("long") * 2 - n
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  /** Per-token MD5 array for [[simhashFromHashes]]. */
  def tokenMd5s(text: Column): Column =
    transform(TextAnalysis.tokens(lower(text)), t => md5(t))

  /** SimHash from raw text — a single codegen expression
    * ([[graft.functions.VectorHashExpressions.Simhash]]): one MD5 digest and
    * one nibble-vote loop per token, replacing the md5-hex array plus `bits`
    * interpreted filter passes of the HOF form (bit-identical by property
    * test). `coalesce` keeps the HOF form's null contract (null text → 0,
    * since its vote terms each default to 0). */
  def simhash(text: Column, bits: Int = 16): Column =
    coalesce(graft.functions.VectorHashExpressions.simhash(
      TextAnalysis.tokens(lower(text)), bits), lit(0L))

  /** Hamming distance between two simhash values (bit-count of XOR). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Duplicate-group clustering: connected components over a near-dup pair
    * list via alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14). Each round
    * rewires every edge toward the minimum of its endpoint's neighborhood —
    * two join+aggregate passes per round, data never leaves executors — and
    * the edge set converges to a star forest (component-min centers) in
    * O(log² n) rounds REGARDLESS of component diameter, where one-hop label
    * propagation needs O(diameter) rounds and dies on long near-dup chains.
    * The loop THROWS rather than return unconverged (wrong) labels when
    * `maxIter` rounds pass without a fixed point. Returns (id, component)
    * with component = min id of the cluster; singletons map to themselves.
    * The result is lineage-severed via [[graft.io.Materialize]] so callers
    * reuse the converged labels without replaying the loop. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 50): DataFrame =
    connectedComponentsWithStats(pairs, idA, idB, maxIter)._1

  /** [[connectedComponents]] plus the number of contraction rounds run —
    * the convergence-behavior handle the specs assert on. */
  def connectedComponentsWithStats(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 50): (DataFrame, Int) = {
    // Materialize the incoming pair list FIRST: both the edge set and the
    // node set derive from it, and `pairs` is typically the expensive end
    // of an LSH candidate chain — without this the chain runs once per
    // derivation.
    val p = graft.io.Materialize(pairs.select(col(idA), col(idB)))
    // canonical undirected edges u < v; nodes = every id that appeared
    val raw = p.select(least(col(idA), col(idB)).as("u"),
      greatest(col(idA), col(idB)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val nodes = p.select(col(idA).as("id"))
      .unionByName(p.select(col(idB).as("id"))).distinct()

    // one star pass: from a canonical edge set, compute per-node
    // m = min(neighborhood ∪ self) and rewire. Large-star moves strictly
    // LARGER neighbors to m; small-star moves smaller-or-equal neighbors
    // and the node itself to m. Both emit canonical (m ≤ other) edges.
    // Only the small-star (round-final) output is deduplicated: the
    // min-aggregate is duplicate-insensitive and rewire dup growth within
    // one round is bounded, so the mid-round distinct would buy nothing and
    // cost a shuffle per round.
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      if (large)
        sym.join(m, "u").filter(col("v") > col("u"))
          .select(col("m").as("u"), col("v"))
          .filter(col("u") =!= col("v"))
      else
        sym.join(m, "u").filter(col("v") < col("u"))
          .select(col("m").as("u"), col("v"))
          .unionByName(m.select(col("m").as("u"), col("u").as("v")))
          .filter(col("u") =!= col("v")).distinct()
    }

    // every round frame is checkpointed (Materialize), NOT cached: a cache
    // keeps the logical lineage, and since each star pass references its
    // input four ways (both union directions, the min-aggregate, the rewire
    // join) the analyzed plan would grow ~4× PER ROUND — exponential
    // analysis cost by round ~8. The checkpoint makes each round a leaf;
    // the convergence check right after materializes it (lazy checkpoint
    // costs nothing here), and reliable mode survives executor loss
    // mid-loop.
    //
    // Convergence: the edge set is a STAR FOREST iff every leaf appears in
    // exactly one edge (count == countDistinct(v); canonical edges already
    // point center→leaf with center < leaf) and no center is also a leaf.
    // That is checked DIRECTLY on each round's output — both star passes
    // fix a star forest (each leaf's neighborhood is its center, already
    // the min), so forest ⇒ fixed point, and star ops preserve components
    // with canonical centers = component minima, so the labels read off a
    // forest are final. Checking forest-ness instead of next==edges
    // equality saves one ENTIRE confirmation round (typical dup graphs
    // contract in 1-2 rounds, so that round was ~half the loop's cost).
    def isStarForest(e: DataFrame): Boolean = {
      val r = e.agg(count(lit(1)), countDistinct(col("v"))).head()
      r.getLong(0) == r.getLong(1) &&
        e.select("u")
          .join(e.select(col("v").as("u")), Seq("u"), "left_semi")
          .limit(1).isEmpty
    }
    var edges = graft.io.Materialize(raw)
    var iter = 0
    var converged = isStarForest(edges)
    while (iter < maxIter && !converged) {
      // the mid frame is consumed four ways by the small-star pass within
      // this round only — a plain cache computes it once without another
      // checkpoint write
      val mid = star(edges, large = true).cache()
      try {
        val next = graft.io.Materialize(star(mid, large = false))
        converged = isStarForest(next)
        // the old round's blocks are dead as of here (next is materialized,
        // the convergence check has run) — release them instead of letting
        // one round-frame per iteration pile up in executor storage
        graft.io.Materialize.release(edges)
        edges = next
      } finally mid.unpersist()
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
    // diagnostic only — through the logger (never stdout: Bench's JSON
    // line owns it; and not raw stderr, which harness logs capture —
    // visible at INFO, silent under the harness' WARN/ERROR levels)
    org.apache.logging.log4j.LogManager.getLogger("graft.cc")
      .info(s"star contraction: forest after $iter rounds")
    // converged edges are a star forest: (center=u, leaf=v) with u the
    // component min; centers label themselves via the left join fallback
    val labels = graft.io.Materialize(
      nodes.join(edges.select(col("v").as("id"), col("u").as("comp")),
          Seq("id"), "left")
        .groupBy("id").agg(min(coalesce(col("comp"), col("id"))).as("component")))
    // materialize the labels now (the loop has been running jobs all along)
    // so the frames they derive from can be released before returning —
    // otherwise the final round's edges and the input pair list sit in
    // executor storage for the caller's whole downstream plan
    labels.count()
    graft.io.Materialize.release(edges)
    graft.io.Materialize.release(p)
    (labels, iter)
  }

  /** Incremental connected components: fold a batch's new near-dup pairs
    * into an existing `(id, component)` labeling without replaying the
    * pair history. A labeling is equivalent to its star forest — one
    * `(id → component)` edge per node, self-edge for singletons — so the
    * contraction re-runs over (star edges ∪ new pairs): the old forest is
    * already depth-1, and round count is bounded by the NEW structure's
    * depth, not the corpus'. Old labels are component-minimum ids, so the
    * merged labeling equals the batch-at-once answer exactly (min over a
    * merged component = min over its constituent old labels and new ids).
    * Self-edges keep singleton nodes present through the node derivation
    * while the edge canonicalization drops them as edges. */
  def connectedComponentsIncremental(labels: DataFrame, newPairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 50): DataFrame =
    connectedComponents(
      labels.select(col("id").as(idA), col("component").as(idB))
        .unionByName(newPairs.select(col(idA), col(idB))),
      idA, idB, maxIter)

  /** Segment-level exact dedup across the corpus (the C4/RefinedWeb-style
    * boilerplate-removal step): documents split into fixed `segTokens`-token
    * segments, each distinct segment kept only at its FIRST corpus-wide
    * occurrence in (doc, position) order, and documents reassembled from
    * their surviving segments. No pairwise comparison at any scale, and the
    * keep-one stage is a `min(struct(doc, pos))` hash aggregate + join-back
    * rather than a per-fingerprint sort window: the hot fingerprint IS this
    * operator's raison d'être (a boilerplate segment shared by millions of
    * documents), and a `row_number() OVER (PARTITION BY fp)` would funnel
    * every occurrence of it through ONE sorted task — the aggregate
    * partial-aggregates map-side and the join-back splits under AQE (the
    * [[spanRewriteMulti]] shape). A document whose every segment was seen
    * before drops out entirely (fully-boilerplate document). */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    // materialized: the exploded segment frame feeds both the keep-one
    // aggregate and the join-back probe — without the cut each side would
    // re-tokenize and re-explode the corpus
    val segs = graft.io.Materialize(df.select(col(idCol).as("_doc"),
        TextAnalysis.tokens(lower(col(textCol))).as("_tk"))
      .select(col("_doc"),
        posexplode(TextAnalysis.chunkTokens(col("_tk"), segTokens, 0)))
      .withColumnRenamed("col", "seg")
      .withColumn("fp", TextAnalysis.fingerprint(col("seg"))))
    val firsts = segs.groupBy("fp")
      .agg(min(struct(col("_doc"), col("pos"))).as("__first"))
    segs.join(firsts, Seq("fp"))
      .filter(struct(col("_doc"), col("pos")) === col("__first"))
      .groupBy(col("_doc"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x.getField("seg")), " ").as(textCol))
      .withColumnRenamed("_doc", idCol)
  }

  /** Segment-fingerprint state of a corpus for
    * [[segmentDedupIncremental]]'s first batch: the distinct fingerprints
    * of every `segTokens`-token segment seen so far. */
  def segmentState(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    df.select(col(idCol).as("_doc"),
        TextAnalysis.tokens(lower(col(textCol))).as("_tk"))
      .select(posexplode(TextAnalysis.chunkTokens(col("_tk"), segTokens, 0)))
      .select(TextAnalysis.fingerprint(col("col")).as("fp"))
      .distinct()
  }

  /** Incremental [[segmentDedup]] — the C4-style boilerplate remover
    * maintained over a GROWING corpus: a new batch's documents reassemble
    * from the segments seen neither in the persisted fingerprint state nor
    * earlier within the batch ((doc, pos) order), without ever re-scanning
    * history. Returns (cleaned batch docs, nextState). Equals batch-at-once
    * [[segmentDedup]] over history ∪ batch restricted to the batch's ids
    * PROVIDED ids are monotone with arrival (the
    * [[graft.streaming.StreamDedup]] contract — history outranks the
    * batch). Same skew-safe keep-one as the batch form: min(struct) hash
    * aggregate + join-back, never a per-fingerprint sort window; the
    * anti-join is shuffle-bounded by the batch's segments plus a stream of
    * the state partitions. A batch doc whose every segment was seen before
    * drops out entirely. */
  def segmentDedupIncremental(state: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      segTokens: Int): (DataFrame, DataFrame) = {
    require(segTokens > 0, "segTokens must be positive")
    // materialized: the exploded segment frame feeds the anti-join, the
    // keep-one aggregate, the join-back probe, and the state advance
    val segs = graft.io.Materialize(batch.select(col(idCol).as("_doc"),
        TextAnalysis.tokens(lower(col(textCol))).as("_tk"))
      .select(col("_doc"),
        posexplode(TextAnalysis.chunkTokens(col("_tk"), segTokens, 0)))
      .withColumnRenamed("col", "seg")
      .withColumn("fp", TextAnalysis.fingerprint(col("seg"))))
    val fresh = segs.join(state.select("fp"), Seq("fp"), "left_anti")
    val firsts = fresh.groupBy("fp")
      .agg(min(struct(col("_doc"), col("pos"))).as("__first"))
    val cleaned = fresh.join(firsts, Seq("fp"))
      .filter(struct(col("_doc"), col("pos")) === col("__first"))
      .groupBy(col("_doc"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x.getField("seg")), " ").as(textCol))
      .withColumnRenamed("_doc", idCol)
    val nextState = state.select("fp").unionByName(firsts.select("fp"))
    (cleaned, nextState)
  }

  /** Embedding-cosine near-duplicate pairs, bucketed by a coarse key (e.g.
    * a cluster/IVF label) so the pair join is per-bucket, not global. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(bucketCol).as("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
      .withColumn("na", Similarity.norm(col("vec_a")))
    val b = df.select(col(bucketCol).as("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
      .withColumn("nb", Similarity.norm(col("vec_b")))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col("vec_a"), col("vec_b"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("bucket"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** Cross-document repeated-substring detection (the scalable analogue of
    * Lee et al. '21's exact-substring dedup, arXiv:2107.06499 — suffix
    * arrays don't distribute; fingerprinted sliding token windows do).
    * Every length-`windowTokens` token window (stride 1 — [[TextAnalysis
    * .ngramsAll]] with repeats) is MD5-fingerprinted; a window occurring
    * in ≥ `minDocs` DISTINCT documents is "repeated", and each document
    * reports its total and repeated window-position counts — the inputs
    * to a drop-or-trim policy.
    *
    * Scale shape: one token explode (factor = tokens/doc, same as every
    * n-gram operator here), a hash agg on the fixed-width fingerprint, and
    * a fingerprint semi-join back — all shuffle-bounded by the window key;
    * no pairwise document comparison anywhere. */
  /** Sliding-window MD5 fingerprints: (doc_id, pos, fp) with `pos` the
    * 0-based token index of the window start — the shared kernel of the
    * exact-substring family ([[crossDocRepeats]] detection,
    * [[spanRewrite]] removal, [[graft.streaming.StreamRepeats]]'
    * persisted per-batch store). One tokenize + one window explode
    * (factor = tokens/doc) + one MD5 per window; no shuffle. */
  def windowFingerprints(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("__tk"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.ngramsAll(col("__tk"), windowTokens))
          .as(Seq("pos", "win")))
      .select(col("doc_id"), col("pos"), md5(col("win")).as("fp"))
  }

  def crossDocRepeats(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minDocs: Int): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2 (1 would flag everything)")
    // materialized: three consumers below (repeat counting, per-doc totals,
    // the flagged semi-join's probe side) would otherwise each re-run the
    // corpus-wide tokenize + window explode + MD5
    val wins = graft.io.Materialize(
      windowFingerprints(df, idCol, textCol, windowTokens)
        .select("doc_id", "fp"))
    val repeated = wins.groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs).select("fp")
    val totals = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val flagged = wins.join(repeated, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_repeated"))
    df.select(col(idCol).as("doc_id"))
      .join(totals, Seq("doc_id"), "left_outer")
      .join(flagged, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
  }

  /** Exact-substring SPAN REWRITING — the removal half of Lee et al. '21
    * (arXiv:2107.06499 §4; [[crossDocRepeats]] is the detection half).
    * Every length-`windowTokens` sliding token window repeated in ≥
    * `minDocs` DISTINCT documents is excised from every occurrence EXCEPT
    * the corpus-wide first in (doc, pos) order (the deterministic
    * analogue of the paper's keep-one convention); a document's flagged —
    * possibly overlapping — token spans are merged by interval union
    * (gaps-and-islands running max; touching spans coalesce) and the
    * document is reassembled from its uncovered tokens. A fully-covered
    * document drops out, like [[segmentDedup]]'s all-boilerplate case.
    *
    * Scale shape: the window explode + MD5 hash-agg of crossDocRepeats,
    * one first-occurrence hash aggregate on the fingerprint (skew-safe:
    * partial min(struct) map-side, join-back), one gaps-and-islands
    * window per doc over the FLAGGED occurrences only (≪ token count),
    * and a doc-keyed anti join of tokens against the merged spans — no
    * pairwise doc comparison, no suffix array, no driver-side state. */
  def spanRewrite(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minDocs: Int): DataFrame =
    spanRewriteMulti(df, idCol, textCol, Seq(windowTokens), minDocs)

  /** Multi-length span rewriting — the MAXIMAL-span form of Lee '21
    * removal: a single window length w can only excise repeats of exactly
    * ≥ w tokens and fragments a long repeat into keep-one decisions at
    * one granularity; running the detection at SEVERAL lengths and
    * uniting the flagged intervals removes long verbatim boilerplate at
    * its own length while still catching short repeats. Each length
    * family keeps its own corpus-wide first occurrence (the
    * [[spanRewrite]] keep-one convention, per (length, fingerprint));
    * the interval union then coalesces everything flagged for a doc —
    * overlap across lengths is handled by the same gaps-and-islands
    * merge that already handles overlap within one length.
    *
    * Scale shape: per length, the window explode + MD5 hash-agg +
    * first-occurrence hash aggregate of [[spanRewrite]] (all
    * shuffle-keyed by the fingerprint, skew absorbed in the partial
    * aggregate); lengths is a small constant (cost = Σ_w one corpus
    * scan over the SHARED materialized token frame — never re-tokenized);
    * one gaps-and-islands window per doc over flagged occurrences only;
    * one doc-keyed anti join. No pairwise doc stage, no suffix array. */
  def spanRewriteMulti(df: DataFrame, idCol: String, textCol: String,
      windowLengths: Seq[Int], minDocs: Int): DataFrame = {
    require(windowLengths.nonEmpty, "need at least one window length")
    require(windowLengths.forall(_ >= 1), "window lengths must be >= 1")
    require(windowLengths.distinct.size == windowLengths.size,
      s"duplicate window lengths: $windowLengths")
    require(minDocs >= 2, "minDocs must be >= 2 (1 would flag everything)")
    // materialized: the token array feeds every length's window explode
    // and the final reassembly scan. The window construction is
    // [[windowFingerprints]] inlined over the already-materialized token
    // arrays (calling it would re-tokenize).
    val base = graft.io.Materialize(df
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("__tk")))
    // all-but-first occurrence of each repeated window, per length family
    val flagged = windowLengths.map { w =>
      val wins = graft.io.Materialize(base
        .select(col("doc_id"),
          posexplode(TextAnalysis.ngramsAll(col("__tk"), w))
            .as(Seq("pos", "win")))
        .select(col("doc_id"), col("pos"), md5(col("win")).as("fp")))
      // keep-one via ONE hash aggregate + join-back, not a per-fp sort
      // window: this operator exists precisely for corpora where some
      // windows repeat millions of times (boilerplate), and a
      // row_number() window partitioned by fp would funnel every
      // occurrence of the hottest fingerprint through a single sorted
      // task. min(struct(doc_id, pos)) is the same corpus-wide-first
      // convention but partial-aggregates map-side (absorbing the skew
      // exactly like crossDocRepeats' counts), and the join-back is an
      // AQE-splittable keyed join rather than an unsplittable window.
      val firsts = wins.groupBy("fp")
        .agg(count_distinct(col("doc_id")).as("nd"),
          min(struct(col("doc_id"), col("pos"))).as("__first"))
        .filter(col("nd") >= minDocs)
        .select("fp", "__first")
      wins.join(firsts, Seq("fp"))
        .filter(struct(col("doc_id"), col("pos")) =!= col("__first"))
        .select(col("doc_id"), col("pos").cast("long").as("s"),
          (col("pos") + w).cast("long").as("e"))
    }.reduce(_ unionByName _)
    // interval union per doc: a span starts a new island iff it begins
    // past the running max end of everything before it
    val wDoc = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val spans = flagged
      .withColumn("pm", max(col("e")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ng",
        when(col("pm").isNull || col("pm") < col("s"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("ng")).over(wDoc))
      .groupBy("doc_id", "grp").agg(min("s").as("s"), max("e").as("e"))
      .select(col("doc_id").as("sp_doc"), col("s"), col("e"))
    val tokens = base
      .select(col("doc_id"), posexplode(col("__tk")).as(Seq("idx", "tok")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("tok"))
    tokens.join(spans,
        tokens("doc_id") === spans("sp_doc") &&
          col("idx") >= col("s") && col("idx") < col("e"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("tok")))),
        x => x.getField("tok")), " ").as(textCol))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Chunk-level exact dedup map — "embed each distinct chunk once": the
    * [[TextAnalysis.chunkWindows]] sliding chunks reduced to one row per
    * DISTINCT chunk content with its occurrence count and canonical
    * representative (the min (doc_id, chunk_idx) occurrence — the
    * [[exact]]/[[spanRewriteMulti]] keep-one convention, as the same
    * skew-safe min(struct) hash aggregate: a boilerplate chunk shared by
    * millions of documents partial-aggregates map-side). The RAG-pipeline
    * step downstream of the chunker: shared chunks embed ONCE and fan
    * back out by `chunk_hash` — on boilerplate-heavy corpora this is the
    * difference between embedding the corpus and embedding its distinct
    * content. */
  def chunkDedupMap(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame =
    TextAnalysis.chunkWindows(df, idCol, textCol, chunkTokens, strideTokens)
      .select(col("doc_id"), col("chunk_idx"),
        md5(col("chunk_text")).as("chunk_hash"))
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("__rep"))
      .select(col("chunk_hash"), col("n_occ"),
        col("__rep").getField("doc_id").as("rep_doc_id"),
        col("__rep").getField("chunk_idx").as("rep_chunk_idx"))

  /** Incremental [[chunkDedupMap]]: merge a NEW batch's chunk map into the
    * persisted `(chunk_hash, n_occ, rep_doc_id, rep_chunk_idx)` state, so
    * the RAG embed-once map maintains itself per arriving batch without
    * ever re-chunking history (the [[exactIncremental]] treatment applied
    * to chunks). Counts add; the representative stays the corpus-wide min
    * (doc_id, chunk_idx) occurrence — merge == retrain (ScaleSpec
    * property), so replays and re-orderings of batches land on the same
    * map. ONE hash aggregate over state ∪ batch-map: shuffle bounded by
    * the batch's distinct chunks plus a stream of the state partitions,
    * and the hot boilerplate chunk partial-aggregates map-side exactly
    * like the batch operator. */
  def chunkDedupIncremental(state: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, chunkTokens: Int,
      strideTokens: Int): DataFrame =
    mergeChunkMaps(state.unionByName(
      chunkDedupMap(batch, idCol, textCol, chunkTokens, strideTokens)))

  /** Merge a union of [[chunkDedupMap]] partial maps into one: counts add,
    * the representative is the min (doc, idx) across all parts. The merge
    * is associative and commutative, so ANY grouping of a corpus into
    * partial maps folds to the batch-at-once map — the property both
    * [[chunkDedupIncremental]] and the streaming merge-on-read store
    * ([[graft.streaming.StreamChunkDedup]]) stand on. One hash aggregate;
    * a hot boilerplate chunk partial-aggregates map-side. */
  def mergeChunkMaps(maps: DataFrame): DataFrame =
    maps.groupBy("chunk_hash")
      .agg(sum(col("n_occ")).as("n_occ"),
        min(struct(col("rep_doc_id"), col("rep_chunk_idx"))).as("__rep"))
      .select(col("chunk_hash"), col("n_occ"),
        col("__rep").getField("rep_doc_id").as("rep_doc_id"),
        col("__rep").getField("rep_chunk_idx").as("rep_chunk_idx"))

  /** SemDeDup (Abbas et al. '23, arXiv:2303.09540): semantic deduplication
    * — k-means cluster the embedding space, then drop within-cluster
    * near-duplicates by cosine. A point is dropped iff some SAME-CLUSTER
    * point with a smaller id has cosine ≥ eps: a one-pass min-id-wins rule
    * (deterministic where the paper keeps a random representative; like
    * [[exactDedup]]'s min-id survivor convention). Returns every input id
    * with its cluster and a `kept` flag.
    *
    * Scale shape: `cents` is the k×dim frame [[Similarity.kmeansFit]]
    * returns — assignment broadcasts it as plan literals; the pairwise
    * cosine join is per-cluster via [[embeddingNearDups]], never global
    * all-pairs, so cost is Σ clusterSize² — the clustering IS the paper's
    * device for making semantic dedup tractable at corpus scale. */
  def semDedup(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, eps: Double): DataFrame = {
    // materialized: the assignment scan (per-row distance fold over all k
    // centroid literals) feeds both sides of the pair join AND the final
    // output join — without this it would run three times
    val assigned = graft.io.Materialize(
      Similarity.assignToNearest(df, cents, idCol, vecCol)
        .select(col(idCol), col(vecCol), col("assigned").as("cluster")))
    val dropped = embeddingNearDups(assigned, idCol, vecCol, "cluster", eps)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq(idCol), "left_outer")
      .select(col(idCol), col("cluster"), col("__dropped").isNull.as("kept"))
  }
}
