package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.streaming.DocStreams
import org.apache.spark.sql.functions.col

class DocStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  private val nearDup = base.replace("warm", "cold") // one token differs -> jac ~ 0.9
  private val unrelated =
    "completely different subject matter about spark query engines and distributed shuffle planning"

  test("streaming near-dup: a doc arriving later pairs with its earlier twin") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.nearDupHits(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        timeout = GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("neardup").outputMode("update").start()
    mem.addData((1L, base), (3L, unrelated))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM neardup").count() == 0) // nothing similar yet
    mem.addData((2L, nearDup)) // cross-batch: must hit the state from batch 1
    q.processAllAvailable()
    val hits = spark.sql("SELECT a, b, est_jac FROM neardup")
      .as[(Long, Long, Double)].collect()
    q.stop()
    val pairs = hits.map(h => (h._1, h._2)).toSet
    assert(pairs == Set((1L, 2L))) // twin found, unrelated doc never paired
    assert(hits.forall(_._3 >= 0.5))
  }

  test("streaming near-dup: in-batch pair detected and re-delivery is not a dup") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.nearDupHits(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        timeout = GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("neardup2").outputMode("update").start()
    mem.addData((10L, base), (11L, nearDup)) // same micro-batch
    q.processAllAvailable()
    mem.addData((10L, base)) // at-least-once re-delivery of doc 10
    q.processAllAvailable()
    val pairs = spark.sql("SELECT a, b FROM neardup2")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(pairs == Set((10L, 11L))) // no self-pair from the re-delivery
  }

  test("event-time mode: buckets evict when the watermark passes the horizon") {
    implicit val sq = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = DocStreams.nearDupHits(
        mem.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text",
        eventTime = Some(("ts", "30 minutes")))
      .writeStream.format("memory").queryName("neardup_et").outputMode("update").start()
    mem.addData((1L, ts(0), base))
    q.processAllAvailable()
    mem.addData((2L, ts(5), nearDup)) // within horizon: pairs with doc 1
    q.processAllAvailable()
    // advance the watermark far past doc 1/2's buckets, firing their timeout
    mem.addData((99L, ts(600), unrelated))
    q.processAllAvailable()
    mem.addData((98L, ts(601), // extra batch so timeouts definitely fire;
      // distinct text from doc 99 so the two advancers don't pair
      "entirely separate words about benchmark harness oracle comparisons and parquet readers"))
    q.processAllAvailable()
    mem.addData((3L, ts(602), base)) // state evicted: must NOT pair with doc 1
    q.processAllAvailable()
    val pairs = spark.sql("SELECT a, b FROM neardup_et")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(pairs == Set((1L, 2L)))
  }

  test("near-dup state survives batches under the RocksDB state store") {
    // same cross-batch scenario as the first test, but with streaming
    // state held in RocksDB (the continuous-ingest backend — heap state
    // does not survive 100 TB-scale bucket cardinality). Provider class is
    // read at stream start, so setting it on the live session is enough.
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      GraftSession.RocksDBStateStore)
    try {
      val mem = MemoryStream[(Long, String)]
      val q = DocStreams.nearDupHits(
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
          timeout = GroupStateTimeout.NoTimeout)
        .writeStream.format("memory").queryName("neardup_rocks")
        .outputMode("update").start()
      mem.addData((1L, base), (3L, unrelated))
      q.processAllAvailable()
      mem.addData((2L, nearDup)) // must hit RocksDB state from batch 1
      q.processAllAvailable()
      val pairs = spark.sql("SELECT a, b FROM neardup_rocks")
        .as[(Long, Long)].collect().toSet
      q.stop()
      assert(pairs == Set((1L, 2L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  for (tier <- Seq(graft.operators.Dedup.Md5Tier, graft.operators.Dedup.XxTier)) {
    test(s"stream vs persisted index ($tier tier): arrivals pair with history, not each other") {
      implicit val sq = spark.sqlContext
      import graft.operators.Dedup
      val tmp = java.nio.file.Files.createTempDirectory(s"stream_idx_$tier").toString
      val history = Seq((0L, base), (1L, unrelated)).toDF("doc_id", "text")
      history.write.mode("overwrite").parquet(s"$tmp/hist.parquet")
      val idx = Dedup.ensureSketchIndex(spark,
        indexKey = s"$tmp/hist-stream", sourcePath = s"$tmp/hist.parquet",
        corpus = spark.read.parquet(s"$tmp/hist.parquet"),
        idCol = "doc_id", textCol = "text", tier = tier)
      val mem = MemoryStream[(Long, String)]
      val q = DocStreams.nearDupVsIndex(
          mem.toDF().toDF("doc_id", "text"), idx, "doc_id", "text", tier = tier)
        .writeStream.format("memory").queryName(s"vs_index_$tier")
        .outputMode("append").start()
      // 10 = near-dup of history doc 0; 11 = dup of 10 (stream-internal dup:
      // NOT this operator's job); 12 = novel content
      mem.addData((10L, nearDup), (11L, nearDup),
        (12L, "novel text about watermark semantics and state store providers"))
      q.processAllAvailable()
      val pairs = spark.sql(s"SELECT a, b FROM vs_index_$tier")
        .as[(Long, Long)].collect().toSet
      q.stop()
      assert(pairs.map(_._2) == Set(10L, 11L)) // both stream dups of doc 0 flagged
      assert(pairs.forall(_._1 == 0L)) // only against history; never 10<->11
    }
  }

  // ---- crash durability: stop a checkpointed query, restart from the ----
  // ---- same checkpoint, prove state carried over and nothing re-emits ----
  // The reference loses ALL state on restart (its batch generator assumes a
  // same-process LMDB handle, /root/reference/serialize.py:647-653); the
  // streaming dedup here must instead resume exactly. Memory sink refuses
  // checkpoint recovery outside Complete mode, so the hits are collected
  // through foreachBatch — the fault-tolerant sink shape a real pipeline
  // uses. Run under BOTH state providers: HDFS-backed (default) and RocksDB
  // (the continuous-ingest preset).
  for ((provider, tag) <- Seq(
      ("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider", "hdfs"),
      (GraftSession.RocksDBStateStore, "rocksdb"))) {
    test(s"near-dup resumes from the same checkpoint without re-emitting ($tag provider)") {
      implicit val sq = spark.sqlContext
      val ckpt = java.nio.file.Files.createTempDirectory(s"neardup_ckpt_$tag").toString
      val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      try {
        val mem = MemoryStream[(Long, String)]
        def start() = DocStreams.nearDupHits(
            mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
            timeout = GroupStateTimeout.NoTimeout)
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("update")
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.NearDupHit], _: Long) =>
            ds.collect().foreach(h => hits.add((h.a, h.b)))
          }
          .start()
        // run 1: docs 10/11 pair inside it, doc 13 is a lone unrelated doc
        val q1 = start()
        mem.addData((10L, base), (11L, nearDup), (13L, unrelated))
        q1.processAllAvailable()
        q1.stop() // simulated crash/deploy: JVM keeps running, query does not
        assert(hits.asScala.toSet == Set((10L, 11L)))
        hits.clear()
        // run 2: SAME checkpoint. Doc 12 must pair with BOTH run-1 docs —
        // only possible if bucket state was recovered from the checkpoint —
        // and (10,11) must not re-emit (offsets recovered too: batch 0 is
        // never reprocessed). Within-run band duplicates remain legal — the
        // operator's contract is at-least-once per shared band.
        val q2 = start()
        mem.addData((12L, base))
        q2.processAllAvailable()
        q2.stop()
        val run2 = hits.asScala.toSet
        assert(run2 == Set((10L, 12L), (11L, 12L)),
          s"state not recovered or batch re-emitted: $run2")
      } finally {
        prev match {
          case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  test("event-time eviction clock survives a checkpoint restart") {
    // the eviction deadline is maxEvtMs inside BucketState plus the
    // watermark from the commit log — BOTH live in the checkpoint. After a
    // restart: a doc within the horizon still pairs (state recovered), and
    // once the recovered watermark passes the horizon the bucket still
    // evicts (clock not reset by the restart).
    implicit val sq = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val ckpt = java.nio.file.Files.createTempDirectory("neardup_ckpt_et").toString
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    def start() = DocStreams.nearDupHits(
        mem.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text",
        eventTime = Some(("ts", "30 minutes")))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.NearDupHit], _: Long) =>
        ds.collect().foreach(h => hits.add((h.a, h.b)))
      }
      .start()
    val q1 = start()
    mem.addData((1L, ts(0), base))
    q1.processAllAvailable()
    q1.stop()
    // restart 1: within-horizon arrival pairs against recovered state
    val q2 = start()
    mem.addData((2L, ts(5), nearDup))
    q2.processAllAvailable()
    q2.stop()
    assert(hits.asScala.toSet == Set((1L, 2L)))
    hits.clear()
    // restart 2: advance the recovered watermark far past the horizon —
    // the timeout set BEFORE the restarts must still fire and evict
    val q3 = start()
    mem.addData((99L, ts(600), unrelated))
    q3.processAllAvailable()
    mem.addData((98L, ts(601),
      "entirely separate words about benchmark harness oracle comparisons and parquet readers"))
    q3.processAllAvailable()
    mem.addData((3L, ts(602), base)) // bucket evicted: must NOT pair with doc 1 or 2
    q3.processAllAvailable()
    q3.stop()
    // run 3 emits nothing: no (1,2) re-emission, no pairing against the
    // evicted bucket — state, offsets, and the eviction clock all recovered
    assert(hits.asScala.isEmpty, s"unexpected emissions after restart 2: ${hits.asScala.toList}")
  }

  test("bucket state is capped at maxPerBucket") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // cap of 1: with three identical docs only the newest is remembered,
    // so doc 3 pairs with doc 2 (still in state) but never doc 1 (evicted)
    val q = DocStreams.nearDupHits(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        maxPerBucket = 1, timeout = GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("neardup3").outputMode("update").start()
    mem.addData((1L, base))
    q.processAllAvailable()
    mem.addData((2L, base))
    q.processAllAvailable()
    mem.addData((3L, base))
    q.processAllAvailable()
    val pairs = spark.sql("SELECT a, b FROM neardup3")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(pairs == Set((1L, 2L), (2L, 3L)))
  }

  test("maintainIndex: stream keeps the sketch index fresh; batch replay never duplicates") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("streamidx").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("streamidx_ckpt").toString
    assert(DocStreams.streamedSketch(spark, dir).isEmpty) // before any batch
    val mem = MemoryStream[(Long, String)]
    def start() = DocStreams.maintainIndex(
      mem.toDF().toDF("doc_id", "text"), dir, ckpt, "doc_id", "text")
    val q1 = start()
    mem.addData((1L, base), (3L, unrelated))
    q1.processAllAvailable()
    mem.addData((2L, nearDup))
    q1.processAllAvailable()
    q1.stop()
    def ids = DocStreams.streamedSketch(spark, dir).get
      .select("id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L))
    // crash-replay: foreachBatch is at-least-once — re-running an already
    // committed batchId must REWRITE its partition, not append to it
    DocStreams.appendBatchSketch(
      Seq((2L, nearDup)).toDF("doc_id", "text"), batchId = 1L, dir, "doc_id", "text")
    assert(ids.sorted == Seq(1L, 2L, 3L), "replayed batch duplicated rows")
    // restart from the same checkpoint: new data lands under NEW batch ids
    val q2 = start()
    mem.addData((4L, base + " extra tail tokens"))
    q2.processAllAvailable()
    q2.stop()
    assert(ids.sorted == Seq(1L, 2L, 3L, 4L))
    // and the maintained index IS a valid nearDupVsIndex static side:
    // a fresh arrival pairs with its streamed-in twin
    val probe = DocStreams.nearDupVsIndex(
      Seq((9L, base.replace("lazy", "bored"))).toDF("doc_id", "text"),
      DocStreams.streamedSketch(spark, dir).get, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(probe.contains((1L, 9L)), s"streamed index not probe-able: $probe")
  }

  test("exportShards: each epoch is a verified shard set; replay rewrites, never duplicates") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("streamshards").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("streamshards_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.exportShards(
      mem.toDF().toDF("doc_id", "text"), dir, ckpt, "doc_id", "text", docsPerShard = 2)
    mem.addData((0L until 5L).map(i => (i, s"doc $i body")): _*)
    q.processAllAvailable()
    mem.addData((10L, "late doc"), (11L, "later doc"))
    q.processAllAvailable()
    q.stop()
    // each epoch verifies independently
    import graft.operators.TrainPrep
    for (epoch <- Seq(0L, 1L)) {
      val check = TrainPrep.verifyShards(spark, s"$dir/epoch=$epoch", "doc_id", "text")
      assert(check.count() > 0 && check.filter(!col("ok")).count() == 0,
        s"epoch $epoch fails verification")
    }
    assert(spark.read.parquet(s"$dir/epoch=0/data").count() == 5)
    assert(spark.read.parquet(s"$dir/epoch=1/data").count() == 2)
    // crash replay: re-running a committed epoch rewrites it bit-identically
    val before = TrainPrep.verifyShards(spark, s"$dir/epoch=1", "doc_id", "text")
      .select("shard", "checksum").as[(Long, Long)].collect().toSet
    TrainPrep.writeShards(Seq((10L, "late doc"), (11L, "later doc")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/epoch=1", docsPerShard = 2)
    val after = TrainPrep.verifyShards(spark, s"$dir/epoch=1", "doc_id", "text")
      .select("shard", "checksum").as[(Long, Long)].collect().toSet
    assert(before == after, "replayed epoch changed the export")
    assert(spark.read.parquet(s"$dir/epoch=1/data").count() == 2, "replay duplicated rows")
  }

  test("sinkSnapshots: each micro-batch is one snapshot version, replay-safe") {
    implicit val sq = spark.sqlContext
    import graft.catalog.Snapshots
    val table = java.nio.file.Files.createTempDirectory("snapsink").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("snapsink_ckpt").toString
    Snapshots.init(spark, table,
      spark.emptyDataset[(Long, String)].toDF("doc_id", "text"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.sinkSnapshots(
      mem.toDF().toDF("doc_id", "text"), table, ckpt)
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    // two epochs → two commits on top of init; versions are time-travelable
    assert(Snapshots.versions(spark, table) == Seq(1, 2, 3))
    assert(Snapshots.read(spark, table).count() == 3)
    assert(Snapshots.read(spark, table, Some(2)).count() == 2)
    // crash replay of the last epoch: no new version, no duplicate rows
    assert(Snapshots.commitEpoch(spark, table,
      Seq((3L, "c")).toDF("doc_id", "text"), epochId = 1L).isEmpty)
    assert(Snapshots.read(spark, table).count() == 3)
    // a restarted stream (same checkpoint) continues from the next epoch
    val q2 = graft.streaming.DocStreams.sinkSnapshots(
      mem.toDF().toDF("doc_id", "text"), table, ckpt)
    mem.addData((4L, "d"))
    q2.processAllAvailable()
    q2.stop()
    assert(Snapshots.read(spark, table).count() == 4)
  }

  test("sinkIndexedCorpus: the index trails the stream and heals after a missed reconcile") {
    implicit val sq = spark.sqlContext
    import graft.catalog.Snapshots
    import graft.operators.InvertedIndex
    val root = java.nio.file.Files.createTempDirectory("idxsink").toString
    val (corpus, index, ckpt) = (s"$root/corpus", s"$root/index", s"$root/ckpt")
    Snapshots.init(spark, corpus,
      spark.emptyDataset[(Long, String)].toDF("doc_id", "text"))
    InvertedIndex.initPairsTableFor(spark, index, corpus, "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.sinkIndexedCorpus(
      mem.toDF().toDF("doc_id", "text"), corpus, index, ckpt, "doc_id", "text")
    mem.addData((1L, "alpha beta"), (2L, "beta gamma"))
    q.processAllAvailable()
    mem.addData((3L, "gamma delta"))
    q.processAllAvailable()
    q.stop()
    val got = InvertedIndex.pairsPostings(spark, index)
      .collect().map(r => (r.getString(0), r.getSeq[Long](2))).toMap
    assert(got("beta") == Seq(1L, 2L) && got("gamma") == Seq(2L, 3L)
      && got("delta") == Seq(3L))
    // crash-sim: roll the marker back one corpus version (as if the last
    // reconcile never ran) — re-reconciling converges, no duplicates
    val reflected = graft.catalog.Materialized.reflects(index)
    java.nio.file.Files.write(java.nio.file.Paths.get(index, "_reflects"),
      (reflected - 1).toString.getBytes("UTF-8"))
    assert(InvertedIndex.reconcile(spark, corpus, index, "doc_id", "text").isDefined)
    val healed = InvertedIndex.pairsPostings(spark, index)
      .collect().map(r => (r.getString(0), r.getSeq[Long](2))).toMap
    assert(healed == got, s"re-reconcile diverged: $healed vs $got")
    assert(graft.catalog.Materialized.reflects(index) == reflected)
  }

  test("streaming cdc dedup: later batch loses the run it shares with history") {
    implicit val sq = spark.sqlContext
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val out = java.nio.file.Files.createTempDirectory("cdc-out").toString
    val idx = java.nio.file.Files.createTempDirectory("cdc-idx").toString
    val ckp = java.nio.file.Files.createTempDirectory("cdc-ckp").toString
    val mem = MemoryStream[(Long, String)]
    val q = DocStreams.dedupStream(mem.toDF().toDF("doc_id", "text"),
      out, idx, ckp, "doc_id", "text")
    mem.addData((1L, run + " ending words here"))
    q.processAllAvailable()
    mem.addData((2L, "prefix tokens first " + run + " other suffix"),
      (3L, "totally fresh content nobody streamed before now"))
    q.processAllAvailable()
    q.stop()

    val b0 = spark.read.parquet(s"$out/batch=0")
      .select("id", "n_chunks", "n_kept").as[(Long, Long, Long)].collect()
    assert(b0.head._2 == b0.head._3, "first arrival must keep everything")
    val b1 = spark.read.parquet(s"$out/batch=1")
      .select("id", "n_chunks", "n_kept").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toList
    assert(b1(0)._3 < b1(0)._2, "doc 2 must lose the chunks shared with doc 1")
    assert(b1(1)._2 == b1(1)._3, "fresh doc 3 must keep everything")

    // crash replay of batch 1: cleaning against STRICTLY EARLIER batches
    // reproduces the same output even though batch 1's hashes are indexed
    val replayed = DocStreams.cleanBatchVsChunkIndex(
      Seq((2L, "prefix tokens first " + run + " other suffix"),
        (3L, "totally fresh content nobody streamed before now"))
        .toDF("doc_id", "text"),
      DocStreams.chunkHashHistory(spark, idx, beforeBatch = Some(1L)),
      "doc_id", "text")
      .select("id", "n_chunks", "n_kept").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toList
    assert(replayed == b1, "replay must be bit-identical, not emptied by its own index")
  }
}
