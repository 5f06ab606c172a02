package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.{FastHashing, TextAnalysis}

/** A near-duplicate detection between an arriving document and one already
  * held in its LSH bucket. `est_jac` is the MinHash signature-agreement
  * estimate of Jaccard similarity (unbiased; variance 1/k). */
case class NearDupHit(a: Long, b: Long, est_jac: Double)

/** One remembered document inside a bucket's state. */
case class BucketDoc(id: Long, sig: Seq[Long])

/** Per-(band, bucket) streaming state: the most recent documents hashed
  * into this LSH bucket, newest first, capped at `maxPerBucket`; plus the
  * running max event time ever seen (Long.MinValue in processing-time
  * mode), which anchors event-time eviction — it must survive batches so
  * a batch of only LATE rows cannot regress the eviction deadline.
  *
  * CHECKPOINT COMPATIBILITY RULE: this class is the persisted state schema
  * — `flatMapGroupsWithState` stores it through its case-class Encoder, so
  * its field layout is frozen into every checkpoint. Adding, removing, or
  * retyping a field makes old checkpoints undecodable (the restarted query
  * fails at state deserialization, it does not silently default). To evolve
  * the schema: either start a fresh checkpoint (reprocess / accept state
  * loss), or introduce the change as a NEW state class behind a new
  * operator and drain the old query. Never edit this class in place on a
  * live pipeline. Durability across stop/restart is spec-gated in
  * DocStreamsSpec ("resumes from the same checkpoint") under both the HDFS
  * and RocksDB state providers. */
case class BucketState(docs: List[BucketDoc], maxEvtMs: Long = Long.MinValue)

/** Streaming twin of [[graft.operators.Dedup.minhashNearDups]] at
  * [[graft.operators.Dedup.XxTier]]: detect near-duplicate documents ON
  * ARRIVAL instead of in a batch self-join (SURVEY §2.2 streaming + the
  * LLM-ops dedup family). An incoming document is sketched map-side
  * (tokens → word n-grams → xxhash64 → k-MinHash via the custom Catalyst
  * expression), banded into b LSH buckets, and compared only against the
  * documents its buckets have seen — the streaming replacement of the
  * batch band self-join.
  *
  * Scale design (continuous 100 TB-class ingest):
  *  - All sketching is per-row projection — the only shuffle is the
  *    groupByKey on (band, bucket), whose key cardinality LSH keeps high
  *    (small groups), so state lookups distribute evenly.
  *  - State per bucket is bounded two ways: `maxPerBucket` newest docs
  *    (FIFO eviction — a degenerate all-alike bucket cannot grow without
  *    bound) and a processing-time timeout that drops buckets idle for
  *    an hour (the hot working set stays, the long tail is evicted).
  *  - A pair sharing multiple bands can be emitted once per shared band;
  *    at-least-once emission is the streaming contract — run
  *    `.dropDuplicates("a","b")` downstream if exactly-once pairs matter.
  *  - The b-way band explode recomputes the signature per band row
  *    (projection collapse; no persist() in a streaming plan). Micro-
  *    batches amortize this; the alternative — a pre-shuffle
  *    materialization — would cost more than the recompute.
  *
  * Literature: MinHash (Broder 1997); banded LSH (Leskovec/Rajaraman/
  * Ullman ch.3). The reference has no dedup operator at all (SURVEY
  * §2.3) — this is a target-only capability, streaming twin included.
  */
object DocStreams {

  /** Emit [[NearDupHit]]s for documents whose estimated Jaccard against a
    * bucket-mate is >= `theta`. Works on a `readStream` frame; batch
    * frames flow through the same sketch/band stages via
    * [[graft.operators.Dedup]]. Pass `GroupStateTimeout.NoTimeout` in
    * tests (processing-time timeouts keep `processAllAvailable` from
    * idling).
    *
    * `eventTime = Some((tsCol, horizon))` switches bucket eviction from
    * wall-clock to the watermark: a bucket idle past the horizon in EVENT
    * time is dropped, which makes state size replay-deterministic
    * (reprocessing a backlog evicts at the same points regardless of how
    * fast the replay runs — processing-time eviction would not). */
  def nearDupHits(docs: DataFrame, idCol: String, textCol: String,
                  ngram: Int = 2, k: Int = 32, b: Int = 8, r: Int = 4,
                  theta: Double = 0.5, maxPerBucket: Int = 64,
                  timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout,
                  eventTime: Option[(String, String)] = None)
      : Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    require(b * r <= k, s"b*r (${b * r}) must be <= k ($k)")
    // the watermark tag lives in the event-time ATTRIBUTE's metadata, so
    // that attribute must flow through every projection down to the
    // stateful operator UNTOUCHED — an alias or cast strips the tag;
    // processing-time mode carries a null literal to keep one tuple shape
    val (watermarked, evtCol, evtName) = eventTime match {
      case Some((tsCol, horizon)) =>
        (docs.withWatermark(tsCol, horizon), col(tsCol), tsCol)
      case None => (docs, lit(null).cast("timestamp").as("evt"), "evt")
    }
    val sketched = watermarked
      .select(col(idCol).cast("long").as("id"), TextAnalysis.tokens(col(textCol)).as("toks"),
        evtCol)
      .filter(size(col("toks")) >= ngram)
      .select(col("id"), TextAnalysis.wordNgrams(col("toks"), ngram).as("shingles"),
        col(evtName))
      .withColumn("hs", transform(col("shingles"), t => FastHashing.h28Fast(t)))
      .withColumn("sig", graft.expressions.Sketches.minhashSig(col("hs"), k))
    val banded = graft.operators.Dedup.bands(sketched, b, r, "sig", evtName)
      .as[(Long, Int, String, Seq[Long], java.sql.Timestamp)]
    val effTimeout =
      if (eventTime.isDefined) GroupStateTimeout.EventTimeTimeout else timeout
    val horizonOpt = eventTime.map(_._2)
    val useProcTimeout = eventTime.isEmpty && timeout != GroupStateTimeout.NoTimeout
    banded
      .groupByKey { case (_, band, bkey, _, _) => (band, bkey) }
      .flatMapGroupsWithState(OutputMode.Update, effTimeout)(
        (_: (Int, String), rows: Iterator[(Long, Int, String, Seq[Long], java.sql.Timestamp)],
         state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.map(_.docs).getOrElse(Nil)
            val hits = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            // seed from persisted state: a batch of only LATE rows must
            // not regress the eviction deadline below the historical max
            var maxEvtMs = state.getOption.map(_.maxEvtMs).getOrElse(Long.MinValue)
            rows.foreach { case (id, _, _, sig, evt) =>
              if (evt != null && evt.getTime > maxEvtMs) maxEvtMs = evt.getTime
              if (!seen.exists(_.id == id)) { // re-delivery of a known doc is not a dup
                seen.foreach { d =>
                  val agree = d.sig.iterator.zip(sig.iterator).count { case (x, y) => x == y }
                  val est = agree.toDouble / sig.length
                  if (est >= theta)
                    hits += (if (id < d.id) NearDupHit(id, d.id, est)
                             else NearDupHit(d.id, id, est))
                }
                seen = (BucketDoc(id, sig.toList) :: seen).take(maxPerBucket)
              }
            }
            state.update(BucketState(seen, maxEvtMs))
            horizonOpt match {
              case Some(h) =>
                // evict when the watermark passes horizon beyond this
                // bucket's newest-ever EVENT time — not the current
                // watermark, which lags a batch behind (and is 0 on the
                // first batch, which would expire everything immediately)
                state.setTimeoutTimestamp(
                  math.max(maxEvtMs, state.getCurrentWatermarkMs()), h)
              case None => if (useProcTimeout) state.setTimeoutDuration("1 hour")
            }
            hits.iterator
          }
        })
  }

  /** Streaming arrivals checked against a PERSISTED corpus sketch index
    * ([[graft.operators.Dedup.ensureSketchIndex]]): the streaming twin of
    * [[graft.operators.Dedup.crossCorpusNearDupsIndexed]]. Each arriving
    * document is sketched map-side and stream-static-joined to the
    * history band table on (band, bucket); similarity is the MinHash
    * signature-agreement estimate, so the static side never ships
    * shingles into the stream. Complements [[nearDupHits]] (arrival vs
    * arrival): run both to catch dups against history AND within the
    * stream. State-free — the static side is the state, maintained at
    * ingest; Spark re-plans the static scan per micro-batch, so an index
    * swap is picked up without restarting the query.
    *
    * Returns (a: history id, b: stream id, est_jac). At-least-once per
    * shared band; `dropDuplicates("a","b")` downstream if needed. */
  def nearDupVsIndex(docs: DataFrame, historySketch: DataFrame,
                     idCol: String, textCol: String,
                     ngram: Int = 2, k: Int = 32, b: Int = 8, r: Int = 4,
                     theta: Double = 0.5,
                     tier: String = graft.operators.Dedup.Md5Tier): DataFrame = {
    require(b * r <= k, s"b*r (${b * r}) must be <= k ($k)")
    // `tier` must be the INDEX's hash family (ensureSketchIndex's tier) —
    // signatures of different families never band-match, which silently
    // finds nothing. Md5Tier is the oracle family; XxTier (codegen'd
    // xxhash64) is what a production stream runs.
    val stream = graft.operators.Dedup.bands(
        graft.operators.Dedup.sketch(
          docs.select(col(idCol).cast("long").as(idCol), col(textCol)),
          idCol, textCol, ngram, k, tier), b, r, "sig")
      .select(col("band"), col("bkey"), col("id").as("sid"), col("sig").as("ssig"))
    val hist = graft.operators.Dedup.bands(historySketch, b, r, "sig")
      .select(col("band"), col("bkey"), col("id").as("hid"), col("sig").as("hsig"))
    stream.join(hist, Seq("band", "bkey")) // stream-static inner join
      .withColumn("agree", aggregate(
        zip_with(col("ssig"), col("hsig"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v))
      .withColumn("est_jac", col("agree").cast("double") / lit(k.toDouble))
      .filter(col("est_jac") >= theta)
      .select(col("hid").as("a"), col("sid").as("b"), col("est_jac"))
  }

  // ---- incremental index maintenance ------------------------------------

  /** Append one micro-batch's sketch rows to a streamed index directory —
    * IDEMPOTENT per batchId: each batch overwrites its OWN
    * `batch=<id>` partition directory, so Structured Streaming's
    * crash-replay of a batch (foreachBatch is at-least-once) rewrites the
    * same files instead of appending duplicates. Exposed separately from
    * [[maintainIndex]] so the replay property is directly testable. */
  def appendBatchSketch(batch: DataFrame, batchId: Long, indexDir: String,
                        idCol: String, textCol: String,
                        ngram: Int = 2, k: Int = 32,
                        tier: String = graft.operators.Dedup.Md5Tier): Unit =
    graft.operators.Dedup.sketch(
        batch.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol, ngram, k, tier)
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")

  /** Keep the near-dup sketch index CURRENT from the document stream
    * itself: every micro-batch's sketches land in `indexDir` (see
    * [[appendBatchSketch]] for the exactly-once construction), so the
    * next batch — or a concurrent [[nearDupVsIndex]] query, which
    * re-plans its static side per micro-batch — dedups against an index
    * that includes everything already streamed. This closes the ingest
    * loop the batch path starts with [[graft.operators.Dedup.ensureSketchIndex]]:
    * bulk history is indexed once at ingest, the stream keeps it fresh,
    * and no component ever re-tokenizes the corpus.
    *
    * Scale: per-batch work is the map-only sketch pass + one parquet
    * write of batch size; nothing global. Restart duplicates nothing
    * (checkpoint + per-batch overwrite). Compact the accumulated
    * small batch files periodically with
    * [[graft.catalog.Tables]]' sink utilities if batches are tiny. */
  def maintainIndex(docs: DataFrame, indexDir: String, checkpointDir: String,
                    idCol: String, textCol: String,
                    ngram: Int = 2, k: Int = 32,
                    tier: String = graft.operators.Dedup.Md5Tier)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendBatchSketch(batch, batchId, indexDir, idCol, textCol, ngram, k, tier)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The streamed part of the index: every appended batch partition, or
    * None before the first batch lands. Union with the bulk index for the
    * complete history. */
  def streamedSketch(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      Some(spark.read.parquet(indexDir).select("id", "shingles", "sig"))
    else None
  }

  /** Continuous training-shard export: every micro-batch becomes a
    * standalone manifest-ed shard set at `<dir>/epoch=<id>` via
    * [[graft.operators.TrainPrep.writeShards]] — the streaming half of
    * the trainer hand-off (continuous pretraining-data refresh). The
    * exactly-once construction is the [[maintainIndex]] one: the epoch id
    * names the output directory and `writeShards` overwrites it, so a
    * replayed batch after a crash-between-sink-and-checkpoint rewrites
    * the SAME epoch deterministically (the shuffle permutation is
    * md5-keyed), duplicating nothing. Each epoch verifies independently
    * with [[graft.operators.TrainPrep.verifyShards]]; a trainer consumes
    * epochs in id order as they appear.
    *
    * Scale: per-batch cost is one batch-sized narrow sort + write —
    * nothing global, no cross-epoch state. Shard size inside an epoch is
    * governed by `docsPerShard` exactly as in the batch exporter. */
  def exportShards(docs: DataFrame, dir: String, checkpointDir: String,
                   idCol: String, textCol: String,
                   docsPerShard: Long = 1000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        graft.operators.TrainPrep.writeShards(
          batch.select(col(idCol), col(textCol)), idCol, textCol,
          s"$dir/epoch=$epochId", docsPerShard)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Continuous ingest into a versioned snapshot table: each micro-batch
    * becomes one [[graft.catalog.Snapshots.commitEpoch]] commit. Readers
    * resolve complete manifests only, so they never see a half-written
    * batch; a crash between sink write and checkpoint commit replays the
    * epoch, which the manifest-chain epoch stamp detects and skips —
    * exactly-once table state on top of an at-least-once stream, with no
    * side ledger. The table must exist ([[graft.catalog.Snapshots.init]],
    * possibly from an empty DataFrame) before the stream starts. */
  def sinkSnapshots(docs: DataFrame, tableDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        graft.catalog.Snapshots.commitEpoch(batch.sparkSession, tableDir,
          batch, epochId)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Continuous ingest with an ALWAYS-FRESH search index: each micro-batch
    * commits to the versioned corpus ([[graft.catalog.Snapshots.commitEpoch]],
    * replay-skipped) and then reconciles the pair index to the corpus'
    * current version ([[graft.operators.InvertedIndex.reconcile]], i.e.
    * [[graft.catalog.Materialized.reconcile]] with the pair transform: the
    * diff from whatever version the index last reflected, applied by
    * keyed idempotent mutation, marker advanced after). EVERY failure
    * mode converges: a replayed corpus epoch is skipped and reconcile
    * no-ops; a crash between corpus commit and reconcile is healed by the
    * next batch's reconcile; a crash inside reconcile re-applies the same
    * feed. Both tables must be initialized first (`Snapshots.init` +
    * `InvertedIndex.initPairsTableFor`). At 100 TB: per-batch cost is the
    * batch's documents (corpus commit) + their term pairs (index
    * mutation) — the index trails the stream by at most one batch. */
  def sinkIndexedCorpus(docs: DataFrame, corpusDir: String, indexDir: String,
                        checkpointDir: String, idCol: String, textCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        val s = batch.sparkSession
        graft.catalog.Snapshots.commitEpoch(s, corpusDir, batch, epochId)
        graft.operators.InvertedIndex.reconcile(s, corpusDir, indexDir, idCol, textCol)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  // ---- incremental exact-substring (CDC chunk) dedup ---------------------

  /** Clean one micro-batch against the accumulated chunk-hash history:
    * the streaming twin of [[graft.operators.Dedup.cdcDedup]]. A chunk is
    * dropped when its 60-bit content hash already exists in `historyHashes`
    * (a one-column `h` DataFrame, or None before the first batch) or when
    * an earlier (id, cpos) occurrence exists WITHIN the batch; survivors
    * are stitched back per document, exactly like the batch operator.
    *
    * The index carries 8-byte hashes, never chunk text — the history side
    * of the anti join ships nothing but keys. (60-bit hashes collide
    * around 2^30 distinct chunks; a production deployment at that scale
    * would widen to 128-bit, same construction.)
    *
    * Returns (id, n_chunks, n_kept, clean_len, clean_md5). */
  def cleanBatchVsChunkIndex(batch: DataFrame, historyHashes: Option[DataFrame],
                             idCol: String, textCol: String,
                             avgChunkTokens: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = graft.operators.Dedup
      .cdcChunkTable(batch, idCol, textCol, avgChunkTokens)
      .withColumn("h", graft.functions.Hashing.h60(col("chunk")))
    val withinFirst = Window.partitionBy("h").orderBy("id", "cpos")
    val marked0 = chunks.withColumn("rk", row_number().over(withinFirst))
    val marked = historyHashes match {
      case Some(hist) => marked0.join(hist.select(col("h")).distinct()
          .withColumn("in_hist", lit(true)), Seq("h"), "left")
      case None => marked0.withColumn("in_hist", lit(null).cast("boolean"))
    }
    val flagged = marked.withColumn("keep",
      col("rk") === 1 && col("in_hist").isNull)
    val stats = flagged.groupBy("id").agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("cpos"), col("chunk"))))),
        x => x("chunk"))).as("clean"))
    batch.select(col(idCol).as("id")).distinct()
      .join(stats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        length(coalesce(col("clean"), lit(""))).cast("long").as("clean_len"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
  }

  /** Append one micro-batch's distinct chunk hashes to the index —
    * idempotent per batchId (same per-batch-partition overwrite as
    * [[appendBatchSketch]]), so crash-replay rewrites rather than
    * duplicates. */
  def appendBatchChunkHashes(batch: DataFrame, batchId: Long, indexDir: String,
                             idCol: String, textCol: String,
                             avgChunkTokens: Int = 4): Unit =
    graft.operators.Dedup
      .cdcChunkTable(batch, idCol, textCol, avgChunkTokens)
      .select(graft.functions.Hashing.h60(col("chunk")).as("h"))
      .distinct()
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")

  /** The accumulated chunk-hash history, or None before the first batch.
    * `beforeBatch` restricts to strictly-earlier batch partitions — the
    * replay guard: a crash-replayed batch must NOT see the hashes its
    * first attempt already wrote, or every chunk would look historical
    * and the rewritten output would be empty instead of identical. */
  def chunkHashHistory(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String,
                       beforeBatch: Option[Long] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
      val all = spark.read.parquet(indexDir)
      val scoped = beforeBatch match {
        case Some(b) => all.filter(col("batch") < b)
        case None => all
      }
      Some(scoped.select("h"))
    } else None
  }

  /** Continuous exact-substring dedup: each micro-batch is cleaned
    * against everything streamed before it, the cleaned documents land at
    * `<outDir>/batch=<id>`, and the batch's own chunk hashes join the
    * index for the NEXT batch — so repeated content is removed from its
    * second occurrence onward across the whole stream's lifetime. Both
    * writes are per-batch-directory overwrites (idempotent under
    * foreachBatch's at-least-once replay). Per-batch cost: the batch's
    * own chunking + one anti join against an 8-byte-key history; nothing
    * global, no growing driver state. */
  def dedupStream(docs: DataFrame, outDir: String, indexDir: String,
                  checkpointDir: String, idCol: String, textCol: String,
                  avgChunkTokens: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val hist = chunkHashHistory(spark, indexDir, beforeBatch = Some(batchId))
        cleanBatchVsChunkIndex(batch, hist, idCol, textCol, avgChunkTokens)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        appendBatchChunkHashes(batch, batchId, indexDir, idCol, textCol,
          avgChunkTokens)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
