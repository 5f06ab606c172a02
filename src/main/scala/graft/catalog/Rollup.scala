package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate table ("materialized rollup").
  *
  * The 100 TB incremental-ETL primitive: a derived aggregate (daily event
  * rollup, per-source counters, ...) kept current as batches arrive,
  * WITHOUT ever recomputing or rescanning history. The reference has no
  * notion of this — its whole pipeline is reingest-from-zip
  * (`/root/reference/server.py:54-88`); at scale, re-aggregating a 100 TB
  * fact table because one day of data arrived is the difference between a
  * 5-minute and a 10-hour refresh.
  *
  * Layout: `<path>/batch_id=<id>/` parquet partitions — each ingest batch
  * owns ONE partition holding that batch's per-group partial aggregates.
  * Why this shape:
  *
  *  - '''incremental''': maintaining the rollup aggregates ONLY the new
  *    batch (map-side, partial-combined); history is never read;
  *  - '''idempotent''': a batch re-run (crash retry, at-least-once
  *    upstream) dynamic-overwrites its OWN partition — double-counting is
  *    structurally impossible, the same contract as
  *    `DocStreams.maintainIndex`'s per-batch sketch appends;
  *  - '''mergeable''': the read path folds partials with the same
  *    algebraic aggregate (SUM of sums/counts) — exactly Spark's
  *    partial/final aggregate split, so the folded result equals a full
  *    recompute by construction (RollupSpec gates it);
  *  - '''bounded read cost''': partials are |groups| rows per batch, so
  *    even thousands of batches fold in milliseconds; [[compact]] squashes
  *    them into one base partition when the batch count grows.
  *
  * Only algebraic counters (sum/count — or min/max with [[read]]'s fold
  * swapped accordingly by the caller) belong in a rollup; holistic
  * aggregates (distinct counts, quantiles) need a sketch column (HLL /
  * the q33 family) — partials of those are mergeable too, but not by SUM.
  */
object Rollup {

  private val Ledger = "_graft_folded"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Batch ids already folded into the base partition by [[compact]].
    * Re-appending one of these would double-count (its rows are no longer
    * separable from the base), so [[appendBatch]] refuses them. */
  def foldedIds(spark: SparkSession, path: String): Set[String] = {
    val f = fs(spark, path)
    val p = new Path(path, Ledger)
    if (!f.exists(p)) Set.empty
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
      finally in.close()
    }
  }

  /** Batch ids currently materialized as partitions (excluding `_base`). */
  def presentIds(spark: SparkSession, path: String): Set[String] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id="))
      .filterNot(_ == "_base").toSet
  }

  /** Backfill plan: of `expected` batch ids (a calendar the caller
    * derives), the ones NEITHER materialized as a partition NOR folded
    * into the base by compact — i.e. genuinely missing, in expected
    * order. The scheduling primitive for gap repair after an outage. */
  def missingBatches(spark: SparkSession, path: String,
                     expected: Seq[String]): Seq[String] = {
    val have = presentIds(spark, path) ++ foldedIds(spark, path)
    expected.filterNot(have)
  }

  private def writeLedger(spark: SparkSession, dir: Path, ids: Set[String]): Unit = {
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new Path(dir, Ledger), true)
    try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Aggregate `batch` to per-group partials and commit them as this
    * batch's partition. `counters` are (name, aggregate-over-batch)
    * pairs whose outputs must be SUM-mergeable across batches.
    *
    * Dynamic partition overwrite replaces ONLY `batch_id=<batchId>` —
    * re-running a batch (retry after crash, corrected data) swaps its
    * partials in place and never touches other batches' partitions. */
  def appendBatch(spark: SparkSession, batch: DataFrame, path: String,
                  batchId: String, groupCols: Seq[String],
                  counters: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    require(batchId.nonEmpty && !batchId.startsWith("_"),
      s"batch id '$batchId' is reserved (underscore prefix is internal)")
    require(!foldedIds(spark, path).contains(batchId),
      s"batch '$batchId' was already folded into the base partition by compact(); " +
        "re-appending it would double-count — use a new batch id for corrected data")
    val partials = batch.groupBy(groupCols.map(col): _*)
      .agg(counters.head._2.as(counters.head._1),
        counters.tail.map { case (n, c) => c.as(n) }: _*)
    // Stage-then-rename, NOT a dynamic-partition overwrite of the shared
    // root: each batch writes its partials into a PRIVATE dot-prefixed
    // staging dir (its own committer, its own _SUCCESS — invisible to
    // readers via the Hadoop hidden-path filter) and renames it into place
    // as `batch_id=<id>`. Concurrent appendBatch writers to one rollup
    // (q139's weekly fan-out, two maintainRollup streams in one session)
    // therefore never share commit state: the dynamic-overwrite path made
    // every writer race on the root's _SUCCESS marker and committer
    // cleanup — intact on local FS, but Spark does not guarantee
    // concurrent jobs writing one output path, and on object-store
    // committers a commit race can silently drop a batch (concurrency
    // spec-gated in RollupSpec, replay included). The batch_id column
    // stays DIRECTORY-encoded exactly as partitionBy left it, so the read
    // path (partition discovery over batch_id=*) is unchanged.
    val f = fs(spark, path)
    val root = new Path(path)
    f.mkdirs(root)
    val tmp = new Path(root, s".batch-$batchId-${java.util.UUID.randomUUID()}")
    partials.write.parquet(tmp.toString)
    val dest = new Path(root, s"batch_id=$batchId")
    // idempotent re-run (crash retry, corrected data): the batch's own
    // partition is replaced in place — same contract the dynamic
    // overwrite provided, other batches' partitions never touched. The
    // delete+rename is retried: a REPLAY racing the original append of
    // the same id can land its rename between this writer's delete and
    // rename (both writers carry identical partials, so last-writer-wins
    // converges); only a persistent filesystem refusal throws.
    var attempts = 0
    var installed = false
    while (!installed && attempts < 3) {
      f.delete(dest, true)
      installed = f.rename(tmp, dest)
      attempts += 1
    }
    if (!installed) {
      f.delete(tmp, true)
      throw new java.io.IOException(
        s"rollup appendBatch: cannot install $tmp as $dest")
    }
  }

  /** The current rollup: all batch partials folded by SUM. Equal to
    * aggregating every batch's rows in one pass (RollupSpec proves it on
    * real data) — but reads |groups|·|batches| partial rows, not the
    * fact table. */
  def read(spark: SparkSession, path: String,
           groupCols: Seq[String], counterCols: Seq[String]): DataFrame =
    readAgg(spark, path, groupCols, counterCols.map(_ -> "sum"))

  /** [[read]] with an explicit fold per counter: "sum" for additive
    * counters, "min"/"max" for watermark-style ones (first/last event
    * time, smallest id seen). Any fold here must be what makes the
    * counter's partials mergeable — min-of-mins and max-of-maxes are.
    *
    * Distinct counts — the holistic aggregate a SUM rollup cannot carry —
    * ride as DataSketches HLL sketch columns: append with
    * `hll_sketch_agg(x)` as the batch counter, read with fold
    * "hll_estimate" (union the batch sketches, then estimate: BIGINT),
    * and compact with fold "hll_union" (union WITHOUT estimating, so the
    * base partition keeps a mergeable sketch, not a dead number). Sketch
    * unions are commutative/idempotent like min/max, so batch-overwrite
    * idempotence is preserved. An avg partial is NOT mergeable by avg;
    * store sum and count and divide on read. */
  def readAgg(spark: SparkSession, path: String, groupCols: Seq[String],
              folds: Seq[(String, String)]): DataFrame = {
    def fold(c: String, how: String) = how match {
      case "sum" => sum(col(c)).as(c)
      case "min" => min(col(c)).as(c)
      case "max" => max(col(c)).as(c)
      case "hll_union" => hll_union_agg(col(c)).as(c)
      case "hll_estimate" => hll_sketch_estimate(hll_union_agg(col(c))).as(c)
      // quantile counters ride as KLL sketch columns (append with
      // Kll.sketchAgg as the batch counter); union keeps the base
      // mergeable across compaction, kll_p50/p95/p99 estimate on read
      case "kll_union" => graft.expressions.Kll.unionAgg(col(c)).as(c)
      case "kll_p50" =>
        graft.expressions.Kll.quantile(graft.expressions.Kll.unionAgg(col(c)), 0.5).as(c)
      case "kll_p95" =>
        graft.expressions.Kll.quantile(graft.expressions.Kll.unionAgg(col(c)), 0.95).as(c)
      case "kll_p99" =>
        graft.expressions.Kll.quantile(graft.expressions.Kll.unionAgg(col(c)), 0.99).as(c)
      case other => throw new IllegalArgumentException(
        s"unknown fold '$other' for counter '$c' " +
          "(sum|min|max|hll_union|hll_estimate|kll_union|kll_p50|kll_p95|kll_p99)")
    }
    spark.read.parquet(path)
      .groupBy(groupCols.map(col): _*)
      .agg(fold(folds.head._1, folds.head._2),
        folds.tail.map { case (c, h) => fold(c, h) }: _*)
  }

  /** Fold every batch partition into one `batch_id=_base` partition and
    * record the folded ids in the ledger. Staged-then-swap: a crash
    * mid-swap leaves the data intact at
    * `<path>.compact.old` (recovery = rename it back, or just call
    * compact again — it probes for and restores a stranded `.old` first);
    * concurrent READERS during the swap can hit a transient
    * path-not-found and must retry.
    *
    * Streaming interaction (see [[graft.streaming.EventStreams.maintainRollup]]):
    * only compact while the maintaining stream's last epoch is
    * known-committed (query stopped cleanly, or checkpoint inspected).
    * If a stream dies between sink write and checkpoint commit and
    * compact folds that batch, the replayed epoch hits [[appendBatch]]'s
    * folded-id guard and fails loudly (never double-counts); recovery is
    * removing that id from the `_graft_folded` ledger after confirming
    * the folded base already includes the batch's rows. */
  def compact(spark: SparkSession, path: String,
              groupCols: Seq[String], counterCols: Seq[String]): Unit =
    compactAgg(spark, path, groupCols, counterCols.map(_ -> "sum"))

  /** [[compact]] with an explicit fold per counter — REQUIRED when the
    * rollup carries non-additive counters (min/max watermarks read via
    * [[readAgg]]): folding those with SUM would permanently corrupt the
    * base partition. Pass the same `folds` the readers use. */
  def compactAgg(spark: SparkSession, path: String,
                 groupCols: Seq[String], folds: Seq[(String, String)]): Unit = {
    val f = fs(spark, path)
    val live = new Path(path)
    val stranded = new Path(path + ".compact.old")
    if (!f.exists(live) && f.exists(stranded)) {
      // crashed between rename(live→old) and rename(tmp→live): restore
      if (!f.rename(stranded, live))
        throw new java.io.IOException(s"rollup compact: cannot restore stranded $stranded")
    }
    require(f.exists(live), s"no rollup at $path")
    val ids = f.listStatus(live).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=")).toSet
    val folded = readAgg(spark, path, groupCols, folds)
      .withColumn("batch_id", lit("_base"))
    val tmp = new Path(path + ".compact.tmp")
    val old = new Path(path + ".compact.old")
    f.delete(tmp, true); f.delete(old, true)
    folded.write.mode("overwrite").partitionBy("batch_id").parquet(tmp.toString)
    // ledger travels INSIDE the staged dir, so the swap installs data and
    // ledger atomically together — a crash can never publish the folded
    // base while forgetting which ids were folded into it
    writeLedger(spark, tmp, foldedIds(spark, path) ++ ids - "_base")
    if (!f.rename(live, old))
      throw new java.io.IOException(s"rollup compact: cannot stage $path aside")
    if (!f.rename(tmp, live)) {
      f.rename(old, live)
      throw new java.io.IOException(s"rollup compact: cannot move compacted rollup into $path")
    }
    f.delete(old, true)
  }
}
