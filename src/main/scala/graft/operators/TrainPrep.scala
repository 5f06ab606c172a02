package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextAnalysis}

/** Training-set preparation operators: the steps between "curated corpus"
  * and "token stream on a trainer" — deterministic global shuffle, sliding
  * token-window chunking, BM25 retrieval (data audit / hard-negative
  * mining), and mixture resampling to a target domain balance.
  *
  * All four are oracle-mirrorable (md5-derived hashes, integer or
  * fixed-order IEEE arithmetic) so the declared queries q66-q69 are
  * hash-gated, not rows-only. Scale notes per op; none uses a
  * single-partition window or a driver collect.
  */
object TrainPrep {

  /** Deterministic global shuffle: every row gets its position in the
    * md5-shuffled corpus order, plus a round-robin shard id.
    *
    * Training runs need a reproducible permutation of the corpus that is
    * independent of file layout (`doc_id` order is crawl order — highly
    * correlated with domain/time). Key = h60("shuf:" || id): stable under
    * re-ingest, uncorrelated with any data column.
    *
    * Scale shape: rows are narrowed to (id, hkey) BEFORE the sort, so the
    * range exchange moves 16-byte pairs, not documents (callers re-join
    * payloads by id afterwards — at 100 TB that join is id-bucketed and
    * exchange-free). Positions come from range-partition + local sort +
    * [[graft.ingest.Ingest.withScalableKey]] — one count job with no
    * shuffle plus a broadcast offset join — never a
    * one-partition `row_number()` window or an RDD detour.
    *
    * Cache contract: the result is built on an internal MEMORY_AND_DISK
    * cache of the narrowed (id, hkey) layout (see the comment inside —
    * it pins ONE set of range boundaries). Callers that keep the session
    * long-lived should `spark.catalog.clearCache()` between corpora, the
    * same contract as the [[Dedup]] shingle caches; [[writeShards]],
    * which fully materializes the result, releases it itself.
    */
  def shuffled(df: DataFrame, idCol: String, shards: Int = 8): DataFrame =
    shuffledWithCache(df, idCol, shards)._1

  /** [[shuffled]] plus the internal cache handle, for callers that fully
    * materialize the result and can release the (id, hkey) layout cache
    * afterwards. */
  private def shuffledWithCache(df: DataFrame, idCol: String,
                                shards: Int): (DataFrame, DataFrame) = {
    val keyed = df.select(
      col(idCol),
      Hashing.h60(concat(lit("shuf:"), col(idCol).cast("string"))).as("hkey"))
    // The global sort is expressed as explicit range partitioning + local
    // sort, NOT `orderBy`: the position pass below evaluates this frame
    // twice (per-partition counts, then the keyed pass), and an orderBy
    // is a sort the optimizer may drop or re-plan in either pass
    // (EliminateSorts drops one under an aggregate) — silently
    // decoupling the two passes' partitionings. The partition
    // COUNT is pinned for the same reason (AQE coalesces an unpinned
    // repartition per execution), and the frame is CACHED because range
    // boundaries are re-SAMPLED per execution with an rdd.id-derived
    // seed: above the exhaustive-sampling size (~10k rows) two separate
    // executions see different boundaries, which corrupts positions while
    // keeping every partition id present — invisible to the drift guard
    // (reproduced at 200k rows; spec-pinned below). The cache pins ONE
    // materialized layout for both passes, in Spark's columnar cached-
    // batch format — 16-byte (id, hkey) pairs, the same narrow-persist
    // budget as the dedup shingle table at 100 TB.
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = keyed.repartitionByRange(nPart, col("hkey"), col(idCol))
      .sortWithinPartitions(col("hkey"), col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Positions via the columnar two-pass key (counts + broadcast offset
    // join) — the whole pass stays inside Tungsten/whole-stage codegen
    // instead of the former rdd.zipWithIndex detour that deserialized
    // every row. Key is 1-based; the shuffle position is 0-based.
    val positioned = graft.ingest.Ingest.withScalableKey(sorted, "pos")
      .withColumn("pos", col("pos") - lit(1L))
    (positioned.withColumn("shard", pmod(col("pos"), lit(shards.toLong))), sorted)
  }

  /** Sliding token-window chunking: split each document into windows of
    * `chunk` tokens starting every `stride` tokens (overlap = chunk -
    * stride), the standard shape for embedding/retrieval corpora where a
    * context-window-sized unit is needed but sentence boundaries are not
    * trusted. Trailing windows are short, never empty.
    *
    * Pure per-row map + explode — no shuffle at any scale; chunk count per
    * doc is ceil(n_tok / stride), bounded by doc length.
    */
  def chunks(df: DataFrame, idCol: String, textCol: String,
             chunk: Int = 64, stride: Int = 48): DataFrame = {
    require(chunk >= stride && stride > 0, s"need chunk >= stride > 0, got ($chunk, $stride)")
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0L),
          expr(s"CAST((size(toks) - 1) DIV $stride AS BIGINT)"))).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * lit(stride.toLong)).as("start_tok"),
        least(lit(chunk.toLong),
          size(col("toks")).cast("long") - col("chunk_id") * lit(stride.toLong))
          .as("n_tok"),
        col("toks"))
      .withColumn("chunk_text",
        array_join(slice(col("toks"), (col("start_tok") + 1).cast("int"),
          col("n_tok").cast("int")), " "))
      .drop("toks")
  }

  /** BM25 document scores for a fixed bag of query terms (Robertson et
    * al.; k1 = 1.2, b = 0.75) — the audit/retrieval primitive over a
    * training corpus ("which documents dominate this probe query?") and
    * the lexical half of hard-negative mining.
    *
    * idf is the log-free Robertson rational, idf = (N - df + 0.5) /
    * (df + 0.5): like [[TfIdf]], we avoid `log` because libm
    * implementations differ in the last ulp across engines; every
    * operation here (+ - * /) is IEEE-correctly-rounded, so with the
    * identical expression tree the oracle reproduces scores BIT-exactly.
    * Term frequencies are computed per-row from the token array (`filter`
    * size — map-only, no explode/shuffle); the only exchange is the
    * single-row corpus-stats aggregate, broadcast back via crossJoin.
    * Score is a fixed-order sum over the term list (no float-agg
    * reordering).
    */
  /** The BM25 scoring expression over a frame carrying `dl`, `tf_<t>`,
    * `df_<t>`, `n_docs`, `sum_dl` columns — ONE definition of the IEEE
    * chain, shared by [[bm25]] (full-corpus scoring) and
    * [[graft.operators.InvertedIndex.searchBm25]] (index-served
    * candidates), so the two paths cannot drift. avgdl comes from exact
    * integer sums; constants are the same decimal literals the oracle SQL
    * parses (2.2 = k1+1 precomputed). */
  def bm25Score(terms: Seq[String]): org.apache.spark.sql.Column = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    def termScore(t: String) = {
      val tf = col(s"tf_$t").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df_$t").cast("double") + lit(0.5)) /
        (col(s"df_$t").cast("double") + lit(0.5))
      idf * ((tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    }
    terms.map(termScore).reduce(_ + _)
  }

  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = TextAnalysis.tokens(col(textCol))
    def tfCol(t: String) =
      size(filter(col("toks"), x => x === lit(t))).cast("long").as(s"tf_$t")
    val perDoc = df.select(col(idCol), toks.as("toks"))
      .select(col(idCol) +: size(col("toks")).cast("long").as("dl") +:
        terms.map(tfCol): _*)
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val joined = perDoc.crossJoin(broadcast(stats))
    val score = bm25Score(terms)
    joined
      .withColumn("score", score)
      .filter(col("score") > 0)
      .select(col(idCol) +: col("dl") +: terms.map(t => col(s"tf_$t")) :+
        col("score"): _*)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** Mixture resampling to a uniform token budget per domain: compute each
    * domain's token mass, set the target at total/n_domains, and keep each
    * document with probability min(1, target/domain_tokens) — decided by a
    * deterministic md5 draw, so the sample is reproducible and stable
    * under corpus growth (a doc's keep/drop never flips because OTHER
    * docs arrived, only because its domain's budget moved).
    *
    * Thresholds are integer ppm (parts-per-million): keep iff
    * h60("mix:" || id) % 1e6 < ppm, where ppm = min(1e6, (target * 1e6)
    * div domain_tokens) — integer arithmetic end-to-end, no float
    * compare. Overflow bound: target * 1e6 < 2^63 requires total tokens
    * < 9.2e12 * n_domains — holds at 100 TB (~2e13 tokens) for any
    * realistic domain count >= 3; documented rather than guarded because
    * the guard would need the same wide multiply.
    *
    * Scale shape: domain aggregate is tiny (|domains| rows) and broadcast
    * back; the keep decision is map-side. One narrow shuffle (the
    * aggregate), no windows.
    */
  def uniformMixture(df: DataFrame, idCol: String, domainCol: String,
                     textCol: String): DataFrame = {
    val perDoc = df.select(col(idCol), col(domainCol),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tok"))
    val dom = perDoc.groupBy(domainCol).agg(sum(col("n_tok")).as("dom_tok"))
    val tot = dom.agg(sum(col("dom_tok")).as("total_tok"),
      count(lit(1)).as("n_dom"))
    val thr = dom.crossJoin(broadcast(tot)).select(col(domainCol),
      least(lit(1000000L),
        expr("(total_tok DIV n_dom) * 1000000 DIV dom_tok")).as("keep_ppm"))
    perDoc.join(broadcast(thr), domainCol)
      .filter(pmod(Hashing.h60(concat(lit("mix:"), col(idCol).cast("string"))),
        lit(1000000L)) < col("keep_ppm"))
      .select(col(idCol), col(domainCol), col("n_tok"), col("keep_ppm"))
  }

  /** Temperature-balanced corpus resampling (T = 2, the multilingual-LM
    * "sampling with temperature" recipe): domain target shares are made
    * ∝ √(domain tokens) — low-resource domains are UP-sampled (bounded by
    * `maxRepeatPpm`, default 4×), high-resource ones down-sampled — and
    * the plan is MATERIALIZED: each document appears `copies` times,
    * where copies = r_ppm div 1e6 plus one Bernoulli extra decided by
    * h60("tmix:" || id) % 1e6 < r_ppm % 1e6. Everything is integer
    * arithmetic; the only float is √, made exact by a ±1 integer
    * correction of floor(sqrt(double)) — valid to 2^52, far past any
    * domain's token count — so the resampled corpus is bit-reproducible
    * cross-engine (q125).
    *
    * Scale shape: the plan is a |domains|-row broadcast; copy
    * materialization is a map-side explode (sequence(1, copies)) fused
    * into the scan — no shuffle beyond the domain aggregate, no driver
    * loop. Returns (id, domain, n_tok, n_in, r_ppm, copy). */
  def temperatureResample(df: DataFrame, idCol: String, domainCol: String,
                          textCol: String,
                          maxRepeatPpm: Long = 4000000L): DataFrame = {
    val perDoc = df.select(col(idCol), col(domainCol),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tok"))
    val dom = perDoc.groupBy(domainCol)
      .agg(sum(col("n_tok")).as("dom_tok"), count(lit(1)).as("n_in"))
    val domW = dom
      .withColumn("r0", expr("CAST(FLOOR(SQRT(CAST(dom_tok AS DOUBLE))) AS BIGINT)"))
      .withColumn("wgt",
        when((col("r0") + 1) * (col("r0") + 1) <= col("dom_tok"), col("r0") + 1)
          .when(col("r0") * col("r0") > col("dom_tok"), col("r0") - 1)
          .otherwise(col("r0")))
    val tot = domW.agg(sum(col("wgt")).as("sum_w"), sum(col("dom_tok")).as("total_tok"))
    // DECIMAL(38,0) for the share product: total_tok * wgt clears 2^63
    // already at ~4e12 total tokens (the operator's own 100 TB target is
    // well past), and a wrapped product silently zeroes whole domains.
    // FLOOR(decimal /) == integer DIV for these all-positive operands, so
    // the DuckDB twin's HUGEINT DIV chain computes identical values.
    val plan = domW.crossJoin(broadcast(tot)).select(col(domainCol), col("n_in"),
      least(lit(maxRepeatPpm),
        expr("CAST(FLOOR(FLOOR(CAST(total_tok AS DECIMAL(38,0)) * wgt / sum_w)" +
          " * 1000000 / dom_tok) AS BIGINT)")).as("r_ppm"))
    perDoc.join(broadcast(plan), domainCol)
      .withColumn("copies", expr("r_ppm DIV 1000000") +
        when(pmod(Hashing.h60(concat(lit("tmix:"), col(idCol).cast("string"))),
          lit(1000000L)) < expr("r_ppm % 1000000"), 1L).otherwise(0L))
      .withColumn("copy", explode(
        when(col("copies") >= 1, sequence(lit(1L), col("copies")))
          .otherwise(array().cast("array<bigint>"))))
      .select(col(idCol), col(domainCol), col("n_tok"), col("n_in"),
        col("r_ppm"), col("copy"))
  }

  /** Per-doc integrity digest used by the shard manifest: xxhash64 over
    * id and text, XOR-folded per shard (XOR is order-independent and
    * cannot overflow, so the checksum is stable under any read/write row
    * order and safe under ANSI arithmetic — a SUM of full-range 64-bit
    * hashes would overflow). */
  private def docDigest(idCol: String, textCol: String) =
    xxhash64(col(idCol).cast("string"), col(textCol))

  /** Export the corpus as size-bounded training shards plus an INTEGRITY
    * MANIFEST — the trainer hand-off artifact. Shards are contiguous
    * `docsPerShard`-document slices of the deterministic [[shuffled]]
    * order (equal-sized except the tail, reproducible across runs and
    * file layouts); data lands at `<dir>/data/shard=<k>/` (partition
    * pruning = a trainer reading shard k touches only shard k's files)
    * and the manifest at `<dir>/manifest` records each shard's doc
    * count, token count, position range and an order-independent content
    * checksum.
    *
    * At 100 TB the manifest is what makes the export OPERABLE: a resumed
    * or parallel trainer can prove a shard complete without re-reading
    * the corpus ([[verifyShards]] is the read-back half). The manifest
    * aggregate is |shards| rows — thousands at most — so its single-file
    * write is a driver-side metadata cost, not a data move. The shuffle
    * positions ride the narrowed (id, hkey) sort from [[shuffled]]; the
    * payload joins back by id afterwards (id-bucketed and exchange-free
    * under the bucketed warehouse layout).
    *
    * Returns the manifest DataFrame (shard, n_docs, n_tokens, pos_min,
    * pos_max, checksum). */
  def writeShards(df: DataFrame, idCol: String, textCol: String, dir: String,
                  docsPerShard: Long = 1000L): DataFrame = {
    require(docsPerShard > 0, s"docsPerShard must be positive, got $docsPerShard")
    // persist: the parquet export AND the manifest aggregate both consume
    // `assigned` — without the cache the full md5 sort + position join
    // pipeline runs TWICE (a second full-corpus sort at 100 TB)
    val (shuf, layoutCache) = shuffledWithCache(
      df.select(col(idCol), col(textCol)), idCol, shards = 8)
    val assigned = shuf
      .withColumn("shard", expr(s"pos DIV $docsPerShard"))
      .drop("hkey")
      .join(df.select(col(idCol), col(textCol)), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // clustered by shard: one file per shard instead of one per
      // (upstream task, shard) — the export contract is "a shard is a
      // unit a trainer maps", and confetti files break that economy
      assigned.repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(s"$dir/data")
      // |shards| rows: pin them so the returned frame and the json write
      // never re-derive from the (about to be unpersisted) plan
      val manifest = graft.Pin(assigned.withColumn("digest", docDigest(idCol, textCol))
        .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col(textCol))).cast("long")).as("n_tokens"),
        min(col("pos")).as("pos_min"),
        max(col("pos")).as("pos_max"),
        expr("bit_xor(digest)").as("checksum"))).df
      manifest.coalesce(1).write.mode("overwrite").json(s"$dir/manifest")
      manifest
    } finally {
      assigned.unpersist()
      // the manifest is pinned and the data written: the (id, hkey)
      // layout cache inside shuffled() has no further consumer
      layoutCache.unpersist()
    }
  }

  /** Read-back integrity check: recompute every shard's doc count and
    * content checksum from the written data and compare to the manifest.
    * Returns one row per shard with an `ok` flag — a shard with missing,
    * duplicated or altered rows (torn write, partial copy, bit rot)
    * fails closed. Full-outer joined so a shard present on only one side
    * (manifest without data, data without manifest) also surfaces. */
  def verifyShards(spark: org.apache.spark.sql.SparkSession, dir: String,
                   idCol: String, textCol: String): DataFrame = {
    // an empty export writes no parquet/json parts, so schema inference
    // on read-back fails — treat either side as zero shards (an
    // empty-vs-nonempty mismatch still fails via the full-outer join)
    def orEmpty(read: => DataFrame, cols: Seq[String]): DataFrame =
      try read catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.range(0).selectExpr(cols.map(c => s"id AS $c"): _*)
      }
    val actual = orEmpty(
      spark.read.parquet(s"$dir/data")
        .withColumn("digest", docDigest(idCol, textCol))
        .groupBy("shard").agg(
          count(lit(1)).as("a_docs"),
          expr("bit_xor(digest)").as("a_checksum")),
      Seq("shard", "a_docs", "a_checksum"))
    val expected = orEmpty(
      spark.read.json(s"$dir/manifest")
        .select(col("shard"), col("n_docs"), col("checksum")),
      Seq("shard", "n_docs", "checksum"))
    expected.join(actual, Seq("shard"), "full_outer")
      .withColumn("ok",
        col("n_docs") === col("a_docs") && col("checksum") === col("a_checksum"))
      .withColumn("ok", coalesce(col("ok"), lit(false)))
      .select("shard", "n_docs", "a_docs", "checksum", "a_checksum", "ok")
  }
}
