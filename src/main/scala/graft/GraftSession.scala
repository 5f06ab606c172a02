package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Spark-first replacement for the reference's hand-rolled worker topology
  * (`/root/reference/serialize.py:403-407, 622-634`): all pipelining,
  * parallel reads, batching and spill are delegated to Catalyst/Tungsten.
  *
  * Config choices are scale-oriented:
  *  - AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  *  - shuffle.partitions sized to the local core count here; on a real
  *    cluster this would be `2-3x totalCores` or left to AQE's
  *    `coalescePartitions` with a high initial value.
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  */
object GraftSession {

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      // engine extensions: graft_* SQL functions + the stats-gated
      // final-sort rewrite (SmallResultSortRule). withExtensions applies
      // to freshly-built sessions; spark-submit users get the same via
      // --conf spark.sql.extensions=graft.GraftExtensions
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime bloom-filter join pruning (pinned, not left to version
      // defaults): a selective dim predicate becomes a map-side
      // might_contain() on the fact BEFORE its shuffle — at 100 TB the
      // non-joining fact rows never enter the exchange. The 10 GB
      // application-side gate stays at default: only genuinely large scans
      // pay the filter-build. Plan-gated in PlanShapeSpec.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // AQE sort-merge → shuffled-hash rewrite (guide §3.1): when EVERY
      // post-shuffle partition of a join is under this threshold, hashing
      // the smaller side beats sorting both. Runtime-gated by measured
      // partition sizes. Note on scale: AQE coalesces post-shuffle
      // partitions toward the 64 MB advisory target regardless of total
      // shuffle size, so SHJ fires broadly even at 100 TB — the memory
      // guarantee is that each per-partition build map stays bounded by
      // the advisory partition size (≤ this 128 MiB cap), and skewed
      // partitions that do exceed it keep sort-merge (spill-graceful).
      // Small/mid shuffles skip both sorts. Off by
      // default only because it postdates AQE; measured here: full-surface
      // bench 229.5 → 207.1 s at equal calibration, with the set-join
      // verification and distinct exchanges the main beneficiaries.
      // Env-overridable for cluster tuning.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_THRESHOLD", "134217728"))
      // Shuffle/IO codec (guide §2.3): MEASURED BOTH WAYS, kept at lz4.
      // zstd on a 20× corpus shingle-gram shuffle (local[32], 8 reps per
      // codec, separate JVMs) cut shuffle bytes 32 → 14 MB (2.3×) at
      // wall parity — but spark.io.compression.codec also compresses
      // MEMORY_AND_DISK and pinned (graft.Pin) blocks and broadcasts, and the
      // checkpoint-chain set-joins collapsed under it (q173 3.0 → 27-54 s,
      // q218 4 → 44 s, same-session A/B via this env knob) while plain
      // aggregate queries were unaffected. On a real cluster the 2.3×
      // byte cut is worth re-testing with zstd scoped to the SHUFFLE
      // only (spark.shuffle.compress codec split is not a separate knob
      // here, so that means re-measuring this whole switch), which is
      // why the knob stays.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet — read as Long, convert in Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")

  /** Create (or reuse) a session with engine defaults. */
  def get(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark's RocksDB state store provider — the continuous-ingest state
    * backend. The default HDFS-backed store keeps every bucket's state on
    * the executor HEAP; at 100 TB-class streaming ingest (billions of LSH
    * buckets in [[graft.streaming.DocStreams]]) state must spill to local
    * disk and checkpoint incrementally, which is exactly what RocksDB +
    * changelog checkpointing provide. Read per-query at stream START, so
    * it can also be set on a live session via `spark.conf.set` before
    * `writeStream.start()`. */
  val RocksDBStateStore: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Builder preset for streaming jobs with RocksDB-backed state.
    * Changelog checkpointing writes per-batch deltas instead of full
    * RocksDB snapshots — the difference between O(changed keys) and
    * O(total state) per commit once state stops fitting in memory. */
  def withRocksDBState(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass", RocksDBStateStore)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
}
