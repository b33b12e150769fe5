package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline — the engine's operators
  * chained the way a 100 TB corpus pass actually runs:
  *
  *  1. quality gate (token count / stopword / alpha heuristics),
  *  2. language identification,
  *  3. exact dedup (fingerprint survivors),
  *  4. fuzzy dedup (MinHash-LSH candidates → Jaccard verify → connected
  *     components → keep each cluster's representative),
  *  5. corpus stats.
  *
  * Everything up to the LSH band join is a single narrow scan, fanned out
  * to every core when the corpus is a few files ([[graft.io.FanOut]], a
  * no-op at scale); the whole pipeline shuffles on (fingerprint), (id)
  * for the exact survivors and their MinHash state that every later step
  * reads back, (band, band_hash), and, for a large verified pair set,
  * (component).
  * The component step picks its plan from the pair set's measured size
  * ([[Dedup.connectedComponents]]): a union-find on the driver up to
  * [[Dedup.DriverPairCap]] pairs, the distributed star-contraction loop
  * above it. Its stages run under the job labels `curate:exact`,
  * `curate:candidates` and `curate:components`. */
object CurationPipeline {

  case class Config(
      minTokens: Long = 10,
      minAlphaRatio: Double = 0.5,
      shingleN: Int = 3,
      jaccardThreshold: Double = 0.9)

  /** Rows of `docs` (idCol, textCol) surviving the full pipeline, with
    * `predicted_lang` attached. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    curateTrace(docs, idCol, textCol, cfg)._1

  /** [[curate]] plus per-document provenance: every input row labeled with
    * the stage that dropped it (`quality_fail` / `exact_dup` / `near_dup`)
    * or `kept` — the explainability record a production pipeline publishes
    * alongside its output (why did my document disappear?). Three marker
    * left-joins over the stage frames the pipeline already computes. */
  def curateTrace(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): (DataFrame, DataFrame) =
    curateTraceCapped(docs, idCol, textCol, cfg, Dedup.DriverPairCap)

  /** [[curateTrace]] with the component step's driver-plan cap as a
    * parameter (see [[Dedup.componentsWithStats]]). */
  private[graft] def curateTraceCapped(docs: DataFrame, idCol: String,
      textCol: String, cfg: Config, cap: Int): (DataFrame, DataFrame) = {
    val sc = docs.sparkSession.sparkContext
    // 1. quality gate — per-row expressions, no shuffle
    val quality = TextAnalysis.qualityFeatures(graft.io.FanOut(docs), textCol)
      .filter(col("n_tokens") >= cfg.minTokens &&
        col("alpha_ratio") >= cfg.minAlphaRatio)
      .select(col(idCol), col(textCol))
    // 2. language id — per-row
    val tagged = quality.withColumn("predicted_lang",
      TextAnalysis.langId(col(textCol)))
    // 3. exact dedup — one fingerprint shuffle — and the MinHash state
    // over its survivors, computed ONCE by the map side of one id shuffle
    // before anything reads them: the survivors feed the returned frames,
    // and the state the candidate join's three branches. Run lazily,
    // concurrent broadcast branches would each recompute the whole text
    // chain. Every later read goes back to that shuffle's output, not a
    // checkpoint: the caller reads `kept` and `provenance` after this
    // returns, and no point remains at which to release one.
    val (exact, state) = graft.io.Label(sc, "curate:exact") {
      val Seq(shC, sigC) = Seq("shingle_set", "sig")
        .map(s => Cols.fresh(s"__$s", tagged.columns))
      val both = graft.io.Materialize.shuffled(Dedup.withMinhash(
        Dedup.exactSurvivors(tagged, idCol, textCol), textCol, k = 16,
        cfg.shingleN, shC, sigC), col(idCol))
      (both.drop(shC, sigC), both.select(col(idCol).as("id"),
        col(shC).as("shingle_set"), col(sigC).as("sig")))
    }
    // 4. fuzzy dedup — banded LSH + verification + clustering; each cluster
    // keeps its minimal id (the component label)
    val pairs = graft.io.Label(sc, "curate:candidates") {
      graft.io.Materialize(Dedup.minhashCandidatesFromState(state, k = 16,
        bands = 4, jaccardThreshold = cfg.jaccardThreshold))
    }
    val labels = graft.io.Label(sc, "curate:components") {
      Dedup.componentsWithStats(pairs, "id_a", "id_b", 50, cap)._1
    }
    val dupIds = labels.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol)) // non-representatives drop
    // the labels no longer read the pair list
    graft.io.Materialize.release(pairs)
    // driver-plan labels are a local relation: filter by their ids as a
    // literal set, since an anti-join would broadcast the relation with one
    // more job on every action over `kept`
    val kept = if (labels.isLocal) exact.filter(col(idCol).isNull ||
        !col(idCol).isInCollection(dupIds.collect().map(_.get(0))))
      else exact.join(dupIds, Seq(idCol), "left_anti")
    // marker columns avoid the caller's names (the module-wide Cols.fresh
    // convention — a user idCol named "__q" must not become a join key)
    val Seq(qC, eC, nC) = Seq("q", "e", "n")
      .map(s => Cols.fresh(s"__$s", Seq(idCol)))
    val provenance = docs.select(col(idCol))
      .join(quality.select(col(idCol)).withColumn(qC, lit(true)),
        Seq(idCol), "left")
      .join(exact.select(col(idCol)).withColumn(eC, lit(true)),
        Seq(idCol), "left")
      .join(dupIds.withColumn(nC, lit(true)), Seq(idCol), "left")
      .select(col(idCol),
        when(col(qC).isNull, "quality_fail")
          .when(col(eC).isNull, "exact_dup")
          .when(col(nC).isNotNull, "near_dup")
          .otherwise("kept").as("stage"))
    (kept, provenance)
  }

  /** Per-language corpus stats after curation, in language order. The
    * aggregate is a few rows, so it sorts inside one partition: a global
    * `orderBy` would add a range-sampling job and a sort shuffle. */
  def stats(curated: DataFrame): DataFrame =
    curated.groupBy("predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .coalesce(1).sortWithinPartitions("predicted_lang")
}
