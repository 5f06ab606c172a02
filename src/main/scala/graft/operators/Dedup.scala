package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextAnalysis}

/** Deduplication operators for the LLM-data pipeline: exact (content-hash),
  * MinHash+LSH near-dup, SimHash near-dup, and exact n-gram Jaccard.
  *
  * Literature: MinHash resemblance sketches (Broder 1997); banded LSH
  * (Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch.3); SimHash
  * (Charikar, STOC 2002) and its web-scale dedup deployment (Manku et al.,
  * WWW 2007).
  *
  * Scale design (100 TB):
  *  - Exact dedup groups on a 256-bit content hash, never on the raw text —
  *    the shuffle carries 32 bytes + ids per row instead of whole documents.
  *  - MinHash signatures and SimHash fingerprints are pure per-row
  *    expressions (no shuffle, no UDF); the only shuffles are the
  *    band-bucket join (tiny keys) and the final candidate verification
  *    join. Candidate volume is controlled by (bands, rows-per-band), and
  *    the bucket cap bounds pathological buckets. Every MinHash pair set
  *    (within-corpus, batch-vs-history, cross-corpus) comes from one
  *    engine, [[lshPairs]].
  *  - SimHash pair generation is banded (pigeonhole): pairs within Hamming
  *    distance h are guaranteed to share one of h+1 bands, so no full n²
  *    self-join is ever materialized.
  */
object Dedup {

  /** Exact dedup: one row per distinct text, keeping the smallest id.
    * Returns (id, n_copies). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("content_hash")

  /** (id, shingles) with distinct word n-grams; rows with < n tokens drop.
    * The token array is STAGED as a column before the n-gram lambda:
    * Spark does no common-subexpression elimination inside higher-order-
    * function lambdas, so an inlined `tokens(text)` would re-run the
    * tokenizer regex per shingle element (measured ~5x slowdown). */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("id"), TextAnalysis.wordNgrams(col("toks"), n).as("shingles"))

  /** (id, shingles, sig): k-minhash signature per row (map-only).
    * Hashes each shingle ONCE (md5 is the dominant cost), then computes
    * all k mins in a single primitive pass via the custom Catalyst
    * expression [[graft.expressions.MinhashSigExpr]] — identical values
    * to the declarative [[graft.functions.Hashing.minhashSig]] (spec-
    * checked), ~100x faster than the interpreted nested lambdas. */
  def signatures(shingledDf: DataFrame, k: Int): DataFrame =
    shingledDf
      .withColumn("hs", graft.expressions.Sketches.md5PrefixArray(col("shingles"), 7))
      .withColumn("sig", graft.expressions.Sketches.minhashSig(col("hs"), k))
      .drop("hs")

  /** Hash tiers for the minhash sketch: `Md5Tier` is oracle-reproducible
    * (DuckDB recomputes the identical prefixes), `XxTier` is the
    * production family (codegen'd xxhash64, no hex parsing — same dup
    * sets on real data, spec-checked, not SQL-reproducible). Sketches
    * only band-join against sketches of the SAME tier. */
  val Md5Tier = "md5"
  val XxTier = "xx"

  /** (id, shingles, sig) at the requested hash tier — the one map-only
    * sketch pass everything downstream ([[lshPairs]], the persisted
    * index) composes over. */
  def sketch(docs: DataFrame, idCol: String, textCol: String,
             ngram: Int = 2, k: Int = 32, tier: String = Md5Tier): DataFrame = {
    val sh = shingled(docs, idCol, textCol, ngram)
    tier match {
      case Md5Tier => signatures(sh, k)
      case XxTier => sh
        .withColumn("hs", transform(col("shingles"), t => graft.functions.FastHashing.h28Fast(t)))
        .withColumn("sig", graft.expressions.Sketches.minhashSig(col("hs"), k))
        .drop("hs")
      case other => throw new IllegalArgumentException(
        s"unknown sketch tier '$other' (expected '$Md5Tier' or '$XxTier')")
    }
  }

  /** One row per (id, band): the band's signature slice as the join key
    * `bkey`, plus the `keep` columns. The one banding function — the LSH
    * pair engine ([[lshPairs]]) and both streaming paths
    * ([[graft.streaming.DocStreams]]) band through it. `keep` columns are
    * selected by reference, with no alias or cast, so a watermarked
    * event-time column keeps its watermark tag. */
  def bands(sigDf: DataFrame, b: Int, r: Int, keep: String*): DataFrame =
    sigDf
      .withColumn("band", explode(sequence(lit(0), lit(b - 1))))
      .select(Seq(col("id"), col("band"),
        array_join(transform(slice(col("sig"), col("band") * r + 1, lit(r)),
          x => x.cast("string")), ",").as("bkey")) ++ keep.map(col): _*)

  /** Default LSH bucket cap: one degenerate all-alike bucket of n docs
    * yields n²/2 candidate pairs — at 100 TB that is THE failure mode, so
    * the guard is on unless a caller explicitly passes `None`. */
  val DefaultMaxBucket: Option[Int] = Some(1000)

  /** Distinct candidate pairs (a < b) sharing at least one LSH bucket of
    * a band table — the candidate stage of [[lshPairs]] on its own, with
    * the same bucket cap. */
  def candidatePairs(bandsDf: DataFrame, maxBucket: Option[Int] = DefaultMaxBucket): DataFrame =
    candidates(bandsDf.withColumn("vs_hist", lit(false)), within = true, maxBucket)
      .select("a", "b")

  /** Distinct (a, b, vs_hist) candidates of a band table whose rows carry
    * `vs_hist` (true for history docs): `b` is a batch doc sharing a
    * bucket with `a`, and `a` is a history doc or, when `within`, a
    * smaller-id batch doc. `maxBucket`, when set, drops every bucket
    * holding more docs than the cap, history and batch docs counted
    * together — the guard against degenerate all-alike buckets exploding
    * the join. Dropped-bucket counts are surfaced as the observed metric
    * `lsh_bucket_cap` (`dropped_buckets`, `max_bucket`; Dataset.observe,
    * readable from a QueryExecutionListener at no extra job). */
  private def candidates(banded: DataFrame, within: Boolean,
                         maxBucket: Option[Int]): DataFrame = {
    val kept = maxBucket match {
      case Some(cap) =>
        val ok = banded.groupBy("band", "bkey").count()
          .observe("lsh_bucket_cap",
            sum(when(col("count") > cap, lit(1L)).otherwise(lit(0L)))
              .as("dropped_buckets"),
            max(col("count")).as("max_bucket"))
          .filter(col("count") <= cap).select("band", "bkey")
        banded.join(ok, Seq("band", "bkey"))
      case None => banded
    }
    val pairOk = if (within) col("vs_hist") || col("a") < col("b") else col("vs_hist")
    // capping the left side alone suppresses a bucket: the join is inner,
    // so a capped bucket's batch rows match nothing
    kept.select(col("band"), col("bkey"), col("id").as("a"), col("vs_hist"))
      .join(banded.filter(!col("vs_hist")).select(col("band"), col("bkey"), col("id").as("b")),
        Seq("band", "bkey"))
      .filter(pairOk)
      // one row per pair, keyed on (a, b) alone: `vs_hist` follows from `a`
      .groupBy("a", "b").agg(max(col("vs_hist")).as("vs_hist"))
  }

  /** Exact Jaccard over the shingle sets for given (a, b) pairs. */
  def verifyJaccard(pairs: DataFrame, shingledDf: DataFrame): DataFrame =
    verifyJaccardSources(pairs, shingledDf, shingledDf)

  /** [[verifyJaccard]] with separate shingle sources for the a and b
    * sides (cross-corpus pairs); extra columns on `pairs` ride along.
    *
    * Intersections are counted by sorted merge, not `array_intersect`:
    * each side's shingle array is sorted ONCE per doc row in the join
    * projection (O(S log S), amortized over every pair the doc appears
    * in), and each candidate pair pays one zero-allocation merge walk
    * ([[graft.expressions.SortedIntersectCountExpr]]) instead of a hash
    * set build + per-element string re-hash + a materialized
    * intersection array that `size` throws away. Candidate volume ≫ doc
    * count is exactly the LSH regime, so the per-pair cost is the one
    * that grows at scale. `n_inter` equals `size(array_intersect)` on
    * any sorted inputs (SetJoinSpec), sizes are sort-invariant, so `jac`
    * is bit-identical. */
  def verifyJaccardSources(pairs: DataFrame, aSrc: DataFrame, bSrc: DataFrame): DataFrame = {
    val ga = aSrc.select(col("id").as("a"), sort_array(col("shingles")).as("sa"))
    val gb = bSrc.select(col("id").as("b"), sort_array(col("shingles")).as("sb"))
    val extra = pairs.columns.filter(c => c != "a" && c != "b")
    pairs.join(ga, "a").join(gb, "b")
      .withColumn("n_inter",
        graft.expressions.Sketches.sortedIntersectCount(col("sa"), col("sb")))
      .withColumn("jac", col("n_inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double"))
      .select((Seq("a", "b") ++ extra :+ "jac").map(col): _*)
  }

  /** The one MinHash-LSH pair engine: [[nearDupsFromSketch]],
    * [[batchDropPairs]] and [[crossCorpusFromSketches]] are each one call
    * of it. The batch's bands join the bands of batch ∪ history, buckets
    * over `maxBucket` (history and batch docs counted together) are
    * dropped ([[candidates]]), and the surviving candidates are verified
    * by exact Jaccard. `within` keeps within-batch pairs (a < b) besides
    * the history × batch ones. Returns (a, b, vs_hist, jac) with jac >= θ,
    * `b` always a batch id and `vs_hist` true when `a` is a history doc.
    * Pair order is unspecified: most consumers aggregate or cluster the
    * pairs, and an interior global sort is a wasted range exchange there;
    * presentation queries sort at their root. `historySketch` must share
    * the batch sketch's hash tier — signatures of different families never
    * band-match, which silently finds nothing.
    *
    * Persistence: the batch sketch, and only it, is persisted
    * (MEMORY_AND_DISK); it feeds the band explode and the b side of the
    * verification, which would otherwise re-tokenize and re-hash the batch
    * per branch. It backs the returned LAZY frame, so it outlives the call:
    * a long-lived session clears it with `spark.catalog.clearCache()` (or
    * [[graft.Pin.releaseAll]]) between corpora, as Bench and Verify do.
    * The bands are recomputed from it per branch (a cheap projection). The
    * history sketch is not persisted: it is read once for its bands and
    * once for the shingles of actual candidates, which for the persisted
    * index ([[ensureSketchIndex]]) are two scans of an on-disk table. */
  private def lshPairs(batchSketch: DataFrame, historySketch: Option[DataFrame],
                       within: Boolean, b: Int, r: Int, theta: Double,
                       maxBucket: Option[Int]): DataFrame = {
    val batch = batchSketch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchBands = bands(batch, b, r).withColumn("vs_hist", lit(false))
    val banded = historySketch.fold(batchBands)(h =>
      bands(h, b, r).withColumn("vs_hist", lit(true)).unionByName(batchBands))
    val aSrc = historySketch match {
      case Some(h) if within =>
        batch.select("id", "shingles").unionByName(h.select("id", "shingles"))
      case Some(h) => h
      case None => batch
    }
    verifyJaccardSources(candidates(banded, within, maxBucket), aSrc, batch)
      .filter(col("jac") >= theta)
  }

  /** Full MinHash-LSH near-dup pipeline: pairs with shingle-Jaccard >= θ.
    * Defaults tuned for near-dup detection at θ≈0.5 with word bigrams:
    * k=32 hashes, 8 bands × 4 rows → recall ≈ 1-(1-θ^4)^8 (0.42 at θ=0.5,
    * ≈1.0 at θ=0.9); background pairs at jac≈0.05 are ~5e-5 likely to
    * become candidates. `tier` picks the sketch's hash family:
    * [[Md5Tier]] is oracle-comparable, [[XxTier]] the production family
    * (same duplicate sets on real data, spec-checked).
    *
    * Caching contract: the sketch stays persisted after the call, as
    * [[lshPairs]] states — it backs the returned LAZY frame. Long-lived
    * sessions issuing many dedup calls should `spark.catalog.clearCache()`
    * between corpora (as Bench does). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      ngram: Int = 2, k: Int = 32, b: Int = 8, r: Int = 4,
                      theta: Double = 0.5,
                      maxBucket: Option[Int] = DefaultMaxBucket,
                      tier: String = Md5Tier): DataFrame =
    nearDupsFromSketch(sketch(docs, idCol, textCol, ngram, k, tier), b, r, theta, maxBucket)

  /** Within-corpus near-dup pairs (a < b, jac) from a PRE-COMPUTED
    * (id, shingles, sig) sketch. Callers that already hold the sketch
    * (ingest funnels, persisted indexes) pay one sketch pass per batch
    * TOTAL, not one per dedup stage. */
  def nearDupsFromSketch(sk: DataFrame, b: Int = 8, r: Int = 4,
                         theta: Double = 0.5,
                         maxBucket: Option[Int] = DefaultMaxBucket): DataFrame =
    lshPairs(sk, None, within = true, b, r, theta, maxBucket).drop("vs_hist")

  /** ONE-PASS drop pairs for an ingest batch: batch docs near-duplicating
    * a smaller-id batch doc (the greedy within-batch rule) or ANY history
    * doc — one bucket-cap count, one band join and one verification serve
    * both dedup stages (the sequential form pays each of those twice;
    * measured ~2x stage count on ingest-batch inputs). Returns
    * (a, b, vs_hist, jac) with `b` always a batch id.
    *
    * Survivor-set identity with the sequential two-stage form: comparing
    * ALL batch docs (not just within-batch survivors) against history can
    * only re-drop docs the within-batch rule already dropped —
    * {within-drops} ∪ {vs-history drops of everyone} equals
    * {within-drops} ∪ {vs-history drops of survivors}. Spec-gated in
    * CurateSpec. */
  def batchDropPairs(batchSketch: DataFrame, historySketch: Option[DataFrame],
                     b: Int = 8, r: Int = 4, theta: Double = 0.5,
                     maxBucket: Option[Int] = DefaultMaxBucket): DataFrame =
    lshPairs(batchSketch, historySketch, within = true, b, r, theta, maxBucket)

  /** Incremental (cross-corpus) near-dup: which documents of a NEW batch
    * near-duplicate the HISTORICAL corpus. Returns (a: history id,
    * b: new id, jac) — never history×history or new×new pairs, which is
    * the point: at 100 TB the history self-join is the cost you must NOT
    * pay per ingest batch. Signatures are per-row functions, so computing
    * history's sketch here or reading it from the persisted index
    * ([[ensureSketchIndex]]) yields identical values.
    *
    * Assumes `idCol` is globally unique across both frames (true for any
    * keyed corpus; the declared query uses a doc_id split). */
  def crossCorpusNearDups(history: DataFrame, fresh: DataFrame,
                          idCol: String, textCol: String,
                          ngram: Int = 2, k: Int = 32, b: Int = 8, r: Int = 4,
                          theta: Double = 0.5,
                          maxBucket: Option[Int] = DefaultMaxBucket): DataFrame =
    crossCorpusNearDupsIndexed(
      signatures(shingled(history, idCol, textCol, ngram), k),
      fresh, idCol, textCol, ngram, k, b, r, theta, maxBucket)

  /** [[crossCorpusNearDups]] against a PRE-SKETCHED history — either the
    * persisted ingest-time index ([[ensureSketchIndex]]) or any
    * (id, shingles, sig) frame. Per-batch cost is O(batch sketch +
    * bucket collisions): the history side contributes only its band
    * projection and the shingle rows of actual candidates. */
  def crossCorpusNearDupsIndexed(historySketch: DataFrame, fresh: DataFrame,
                                 idCol: String, textCol: String,
                                 ngram: Int = 2, k: Int = 32, b: Int = 8, r: Int = 4,
                                 theta: Double = 0.5,
                                 maxBucket: Option[Int] = DefaultMaxBucket): DataFrame =
    crossCorpusFromSketches(historySketch,
      sketch(fresh, idCol, textCol, ngram, k, Md5Tier), b, r, theta, maxBucket)

  /** [[crossCorpusNearDupsIndexed]] with BOTH sides pre-sketched, of the
    * same hash tier. */
  def crossCorpusFromSketches(historySketch: DataFrame, freshSketch: DataFrame,
                              b: Int = 8, r: Int = 4,
                              theta: Double = 0.5,
                              maxBucket: Option[Int] = DefaultMaxBucket): DataFrame =
    lshPairs(freshSketch, Some(historySketch), within = false, b, r, theta, maxBucket)
      .drop("vs_hist")

  /** Ingest-time near-dup index for a corpus: the (id, shingles, sig)
    * sketch table, persisted once per (indexKey, ngram, k, tier) and
    * validated against a fingerprint of `sourcePath` — the dedup twin of
    * [[Ivf.ensureIndex]]. Every subsequent ingest batch dedups against it
    * via [[crossCorpusNearDupsIndexed]] without touching the corpus text.
    * Storage trade, stated: shingle arrays are corpus-sized; the
    * alternative is re-tokenizing the corpus per batch. */
  def ensureSketchIndex(spark: org.apache.spark.sql.SparkSession,
                        indexKey: String, sourcePath: String,
                        corpus: => DataFrame, idCol: String, textCol: String,
                        ngram: Int = 2, k: Int = 32,
                        tier: String = Md5Tier): DataFrame = {
    // tier is part of the derived key: an md5 index and an xx index of the
    // same corpus are DIFFERENT artifacts (their signatures never match
    // across families), so they must never share a directory
    val dir = graft.catalog.Tables.derivedDir("graft_dedup", s"$indexKey|n=$ngram|k=$k|t=$tier")
    graft.catalog.Tables.ensureDerived(dir, "sketch", sourcePath) {
      sketch(corpus, idCol, textCol, ngram, k, tier)
        .write.mode("overwrite").parquet(s"$dir/sketch")
    }
    spark.read.parquet(s"$dir/sketch")
  }

  /** 60-bit SimHash fingerprint per document over its word-bigram set —
    * MAP-ONLY: one custom-expression pass per row, no explode, no shuffle.
    * Values are identical to the declarative explode-and-re-aggregate
    * formulation (DedupSpec) and to the DuckDB oracle. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, ngram: Int = 2): DataFrame =
    shingled(docs, idCol, textCol, ngram)
      .select(col("id"),
        graft.expressions.Sketches.simhash60(
          graft.expressions.Sketches.md5PrefixArray(col("shingles"), 15))
          .as("simhash"))

  /** Production-tier SimHash: xxhash64 shingle hashes (codegen'd) into
    * the same [[graft.expressions.Simhash60Expr]]; not oracle-comparable
    * (different hash family), same near-dup behaviour. */
  def simhashFast(docs: DataFrame, idCol: String, textCol: String, ngram: Int = 2): DataFrame =
    shingled(docs, idCol, textCol, ngram)
      .select(col("id"),
        graft.expressions.Sketches.simhash60(
          transform(col("shingles"), s => graft.functions.FastHashing.h60Fast(s)))
          .as("simhash"))

  /** Duplicate CLUSTERS from near-dup pairs: connected components —
    * every doc in a component gets the component's smallest id as
    * `cluster`. Greedy drop-the-b misses transitive chains (a~b, b~c but
    * a≁c); this is the exhaustive rule.
    *
    * Hybrid execution: near-dup edge sets are orders of magnitude smaller
    * than the corpus, so below `driverThreshold` a driver-side union-find
    * beats any fixpoint whose per-round cost is fixed job overhead. Above
    * it, the distributed path runs LARGE-STAR/SMALL-STAR alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): each round contracts whole star subtrees toward the
    * component minimum, converging in O(log n) rounds REGARDLESS of
    * component diameter — a min-label propagation loop would need
    * diameter rounds, which is exactly what dies on chain-shaped
    * components. Equivalence with union-find is spec-gated on deep
    * chains (DedupSpec). */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  driverThreshold: Long = 1000000L): DataFrame = {
    // drop self-pairs BEFORE tiering: they carry no clustering
    // information, and filtering only in the distributed path would make
    // the two tiers disagree on which nodes appear in the label table.
    // Pinned: its row count picks the tier, then the driver tier collects
    // it or round 0 reads it, and either releases it
    val edges = graft.Pin(pairs.select(col("a"), col("b")).filter(col("a") =!= col("b")))
    if (edges.rows <= driverThreshold) {
      val es = edges.df.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.release()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
      }
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return rows.toDF("id", "cluster")
    }

    // -- distributed path: alternate large-star / small-star to fixpoint --
    // large-star(u): every neighbor v > u re-points to m = min(Γ(u) ∪ u).
    // small-star(u): on the large→small orientation, all of u's smaller
    // neighbors (and u itself) re-point to their minimum. At the fixpoint
    // every edge is (node → component minimum), i.e. the label table.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val canon = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = canon.groupBy("u").agg(min("v").as("m"))
      canon.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }
    // Each round is a Pin (union+distinct+except double the plan per
    // round otherwise), released once the next round has been compared
    // with it, so one round is left: the one the labels read.
    var e = graft.Pin(edges.df.select(col("a").as("u"), col("b").as("v")).distinct())
    edges.release()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = graft.Pin(smallStar(largeStar(e.df)))
      // fixpoint = identical edge set (both stars are deterministic maps).
      // Both rounds are distinct sets, so equal row counts plus next ⊆ e
      // prove equality; unequal counts prove change with no extra job
      converged = next.rows == e.rows && next.df.exceptAll(e.df).limit(1).count() == 0
      e.release()
      e = next
      i += 1
    }
    // wrong labels are worse than no labels: never return a half-
    // contracted edge set as if it were the label table
    if (!converged) {
      e.release()
      throw new IllegalStateException(
        s"dupClusters star-contraction did not converge in $maxIter rounds — raise maxIter")
    }
    // fixpoint edges are (non-root node → component min); roots map to
    // themselves
    e.df.select(col("u").as("id"), col("v").as("cluster"))
      .union(e.df.select(col("v").as("id"), col("v").as("cluster")).distinct())
      .distinct() // label order unspecified (see lshPairs)
  }

  /** Near-dup pairs by SimHash: Hamming(a,b) <= maxHam, found via banded
    * join. With `nBands` > maxHam, pigeonhole guarantees exact recall:
    * ≤ maxHam differing bits cannot touch all bands. 60-bit fp, 6 bands
    * of 10 bits → exact for maxHam <= 5. */
  def simhashPairs(fps: DataFrame, maxHam: Int = 5, nBands: Int = 6): DataFrame = {
    val width = 60 / nBands
    // materialize BEFORE banding: the band explode replicates rows, and
    // projection collapse would otherwise recompute the whole fingerprint
    // lineage once per (row, band) on BOTH join sides (measured 12x cost)
    val cached = fps.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = cached
      .withColumn("band", explode(sequence(lit(0), lit(nBands - 1))))
      .withColumn("bkey", expr(s"shiftright(simhash, band * $width) & ${(1L << width) - 1}"))
    val l = banded.select(col("band"), col("bkey"),
      col("id").as("a"), col("simhash").as("fa"))
    val r = banded.select(col("band"), col("bkey"),
      col("id").as("b"), col("simhash").as("fb"))
    l.join(r, Seq("band", "bkey")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("bit_count(fa ^ fb)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam) // pair order unspecified (see lshPairs)
  }

  // ---- content-defined chunk dedup (exact-substring, shift-invariant) ----

  /** Exact-substring dedup at content-defined chunk granularity — the
    * distributed stand-in for a suffix-array exact-substring pass
    * (RefinedWeb / Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better"): repeated token runs are removed from every
    * occurrence after the first, and the surviving chunks are stitched
    * back into the document.
    *
    * Chunk boundaries are CONTENT-DEFINED (the rsync/CDC trick): a token
    * opens a new chunk iff hash(token) % avgChunkTokens == 0. Because the
    * boundary depends only on token content, an identical token run
    * produces identical interior chunks wherever it appears — chunking is
    * shift-invariant, which fixed-width tiles are not. Expected chunk
    * length is avgChunkTokens.
    *
    * Keep-first semantics: an occurrence survives iff it is the first in
    * (doc_id, position) order over ALL occurrences of that chunk content,
    * within-document repeats included.
    *
    * Scale design (100 TB): the per-token shuffle carries (doc, pos,
    * token); the running boundary sum is a window PARTITIONED BY doc (work
    * bounded by document length, never corpus length); the global
    * keep-first pass is a row_number over chunk-content partitions — the
    * same keyed-shuffle shape as word count, with each partition a handful
    * of occurrences. No suffix array, no all-pairs, nothing super-linear.
    *
    * Returns (id, n_chunks, n_kept, clean_len, clean_md5) — every input
    * doc appears; a fully-deduplicated doc has n_kept = 0 and the md5 of
    * the empty string. */
  /** The content-defined chunk table of a corpus: (id, chunk_id, cpos,
    * chunk) — one row per chunk, cpos the first token position. Shared by
    * [[cdcDedup]] and the streaming twin
    * ([[graft.streaming.DocStreams]] chunk-index path). */
  def cdcChunkTable(docs: DataFrame, idCol: String, textCol: String,
                    avgChunkTokens: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val pos = toks.select(col("id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("bf",
        when(col("pos") > 0 &&
          pmod(Hashing.h28(concat(lit("cdc:"), col("tok"))),
            lit(avgChunkTokens)) === 0, 1).otherwise(0))
    val perDoc = Window.partitionBy("id").orderBy("pos")
    pos
      .withColumn("chunk_id", sum(col("bf")).over(perDoc))
      .groupBy(col("id"), col("chunk_id"))
      .agg(min(col("pos")).as("cpos"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok"))).as("chunk"))
  }

  def cdcDedup(docs: DataFrame, idCol: String, textCol: String,
               avgChunkTokens: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = cdcChunkTable(docs, idCol, textCol, avgChunkTokens)
    val firstOcc = Window.partitionBy("chunk").orderBy("id", "cpos")
    val kept = chunks
      .withColumn("rk", row_number().over(firstOcc))
      .withColumn("keep", col("rk") === 1)

    val perDocStats = kept.groupBy("id").agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("cpos"), col("chunk"))))),
        x => x("chunk"))).as("clean"))

    docs.select(col(idCol).as("id")).distinct()
      .join(perDocStats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        length(coalesce(col("clean"), lit(""))).cast("long").as("clean_len"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
  }
}
