package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** End-to-end training-data curation: quality gate → exact dedup →
  * near-dup removal, as one composable pipeline. This is the product
  * shape of the engine — the reference ingests corpora for training
  * (`/root/reference/serialize.py` EP1); a modern LLM-data pipeline
  * additionally curates them before export.
  *
  * Keep rules are deterministic: exact groups keep the smallest id;
  * near-dup pairs (a < b) drop the larger id — the standard greedy rule
  * (not full transitive closure: a connected-components pass over the
  * pair graph is the exhaustive variant; greedy-drop-b is what large
  * pipelines run because it needs one anti-join, not an iterative fixpoint).
  *
  * Every stage is oracle-reproducible (quality scores, sha-group keeps,
  * LSH pair sets are all bit-deterministic), so the whole pipeline is
  * hash-checked cross-engine as q41.
  */
object Curate {

  final case class Curation(curated: DataFrame, stats: DataFrame)

  /** Oracle-tier funnel (md5 minhash): every stage is bit-deterministic
    * cross-engine, so the whole pipeline hash-checks as q41. */
  def run(docs: DataFrame, idCol: String, textCol: String,
          minQuality: Double = 0.6, theta: Double = 0.5): Curation =
    funnel(docs, idCol, textCol, minQuality, theta, Dedup.Md5Tier, None)

  /** Production-tier funnel: the SAME quality gate and exact dedup, but
    * near-dup candidates come from the xxhash64 sketch tier (fully
    * codegen'd hashing, no hex parsing; not oracle-comparable,
    * equivalence vs [[run]] spec-checked) and, when a history sketch
    * index is supplied, batch documents near-duplicating the HISTORICAL
    * corpus are dropped too. That last stage is the incremental-ingest
    * shape: the batch is sketched ONCE and that sketch serves both the
    * within-batch self-dedup and the vs-history band join — history is
    * never self-joined and never re-tokenized. `historySketch` must be an
    * [[Dedup.XxTier]] index ([[Dedup.ensureSketchIndex]] with
    * `tier = XxTier`): signatures of different hash families never
    * band-match. */
  def runFast(docs: DataFrame, idCol: String, textCol: String,
              minQuality: Double = 0.6, theta: Double = 0.5,
              historySketch: Option[DataFrame] = None): Curation =
    funnel(docs, idCol, textCol, minQuality, theta, Dedup.XxTier, historySketch)

  /** quality gate → exact dedup → ONE sketch pass → ONE fused near-dup
    * drop (within-batch + optional vs-history,
    * [[Dedup.batchDropPairs]]). Stats schema is the q41 oracle's 4
    * counters, plus `n_batch_dedup` when the history stage runs.
    *
    * Stage discipline (this funnel is overhead-bound on ingest-batch-
    * sized inputs, not data-bound): the flow counters come from ONE
    * union-aggregate over the cached stage frames instead of one
    * aggregate branch per counter, and the final counters are arithmetic
    * over the (tiny) drop-pair table — stats never re-evaluates the
    * anti-join. Measured 53 → ~30 stages on q60. */
  private def funnel(docs: DataFrame, idCol: String, textCol: String,
                     minQuality: Double, theta: Double, tier: String,
                     historySketch: Option[DataFrame]): Curation = {
    // one-pass fused quality gate (QualityCountsExpr): same bit-exact
    // score as qualityScore(text, tokens(text)), without the regex
    // token-array pass, the stripped-copy regex pass, or the interpreted
    // stopword filter per row
    val quality = docs
      .filter(TextAnalysis.qualityScoreOf(
        TextAnalysis.qualityCounts(col(textCol))) >= minQuality)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepIds = Dedup.exactDedup(quality, idCol, textCol).select(idCol)
    val exact = quality.join(keepIds, Seq(idCol), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drops = Dedup.batchDropPairs(Dedup.sketch(exact, idCol, textCol, tier = tier),
        historySketch, theta = theta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dropIds = drops.select(col("b").as(idCol)).distinct()
    val curated = exact.join(dropIds, Seq(idCol), "left_anti")
    val flow = docs.select(lit(1).as("s"))
      .union(quality.select(lit(2).as("s")))
      .union(exact.select(lit(3).as("s")))
      .agg(
        count(when(col("s") === 1, 1)).as("n_input"),
        count(when(col("s") === 2, 1)).as("n_quality"),
        count(when(col("s") === 3, 1)).as("n_exact"))
    val dropCounts = drops.agg(
      countDistinct(col("b")).as("d_all"),
      countDistinct(when(!col("vs_hist"), col("b"))).as("d_within"))
    val joined = flow.crossJoin(dropCounts)
    val stats = historySketch match {
      case None => joined.select(col("n_input"), col("n_quality"), col("n_exact"),
        (col("n_exact") - col("d_all")).as("n_final"))
      case Some(_) => joined.select(col("n_input"), col("n_quality"), col("n_exact"),
        (col("n_exact") - col("d_within")).as("n_batch_dedup"),
        (col("n_exact") - col("d_all")).as("n_final"))
    }
    Curation(curated, stats)
  }
}
