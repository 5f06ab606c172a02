package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained inner equi-JOIN view over two append-only
  * inputs — the IVM primitive [[Materialized]] deliberately excludes
  * (its transform contract is per-row; a join is not).
  *
  * The delta rule for append-only A, B (classic incremental view
  * maintenance — Blakeley et al., SIGMOD 1986):
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
  *
  * so refreshing the view after a batch costs three delta-sided joins —
  * at 100 TB the difference between re-joining two full fact tables per
  * refresh (hours) and joining a batch against indexed history
  * (minutes). No retractions: append-only inputs never invalidate an
  * emitted row, which is exactly Structured Streaming's append-mode
  * stream-stream inner join materialized as a table
  * (`streaming/EventStreams` holds the watermarked streaming twin).
  *
  * Layout under `<path>/`:
  *   - `a/batch_id=<id>/`, `b/batch_id=<id>/` — the input histories,
  *     one partition per ingest batch (needed to join FUTURE deltas;
  *     a deployment whose sources are already snapshot tables points
  *     the joins at those instead of duplicating storage);
  *   - `view/batch_id=<id>/` — that batch's view delta.
  *
  * Crash safety / idempotence (the [[Rollup.appendBatch]] discipline):
  * every write is a dynamic overwrite of the batch's OWN partition, and
  * the history reads EXCLUDE the in-flight batch id — so a crashed
  * epoch replayed from scratch recomputes the identical delta (its own
  * half-written history partitions are filtered out of A_old/B_old) and
  * double-counting is structurally impossible.
  *
  * Scale notes:
  *   - The two delta-vs-history joins broadcast the DELTA side (a batch
  *     is small; history is huge) — history is scanned once, never
  *     shuffled. When a batch outgrows the broadcast budget Spark/AQE
  *     falls back to a shuffle join on its own.
  *   - History scans prune nothing by key here; a deployment with hot
  *     refreshes stores `a/`/`b/` key-bucketed ([[Tables.ensureBucketed]])
  *     so the delta join touches matching buckets only.
  *   - `read` is a union of view partitions — column-pruned and
  *     predicate-pushed like any parquet scan.
  */
object JoinView {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def histRead(spark: SparkSession, dir: String,
                       excludeBatch: String): Option[DataFrame] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) None
    else {
      val df = spark.read.option("basePath", dir).parquet(dir)
        .filter(col("batch_id") =!= excludeBatch).drop("batch_id")
      Some(df)
    }
  }

  private def writePart(df: DataFrame, dir: String, batchId: String): Unit =
    // one batch_id per write: cluster first so the delta lands as ONE
    // file, not one per upstream task (q139 staging-write pattern — every
    // later view read opens one footer per batch instead of dozens)
    Tables.clustered(df.withColumn("batch_id", lit(batchId)), "batch_id")
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("batch_id").parquet(dir)

  /** Fold batch (`da`, `db`) into the view at `path`, joining on the
    * shared `keys` columns. Non-key column names must be disjoint
    * between A and B (the view is their concatenation) — violations
    * fail fast. Either delta may be empty. Re-running a batch id
    * replays idempotently; a NEW batch must use a fresh id. */
  def appendBatch(spark: SparkSession, path: String, batchId: String,
                  da: DataFrame, db: DataFrame, keys: Seq[String]): Unit = {
    require(batchId.nonEmpty && !batchId.startsWith("_"),
      s"batch id '$batchId' is reserved")
    require(keys.nonEmpty, "join needs at least one key column")
    val aCols = da.columns.toSet -- keys
    val bCols = db.columns.toSet -- keys
    val clash = aCols & bCols
    require(clash.isEmpty,
      s"non-key columns must be disjoint between the two sides: $clash")

    val aDir = s"$path/a"; val bDir = s"$path/b"; val vDir = s"$path/view"
    val aOld = histRead(spark, aDir, batchId)
    val bOld = histRead(spark, bDir, batchId)

    // ΔA ⋈ B_old ∪ A_old ⋈ ΔB ∪ ΔA ⋈ ΔB — delta side broadcast-hinted:
    // history is scanned, never shuffled, and a too-large delta demotes
    // to a shuffle join without changing results.
    val parts = Seq(
      bOld.map(b => broadcast(da).join(b, keys)),
      aOld.map(a => a.join(broadcast(db), keys)),
      Some(broadcast(da).join(db, keys))).flatten
    val delta = parts.reduce(_ unionByName _)

    // view FIRST, histories after: a crash between the two leaves a
    // half-registered batch whose partitions the replay overwrites —
    // and the `excludeBatch` filter keeps the crashed run's own history
    // rows out of A_old/B_old, so the replayed delta is identical.
    writePart(delta, vDir, batchId)
    writePart(da, aDir, batchId)
    writePart(db, bDir, batchId)
  }

  /** The current view: all emitted join rows. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", s"$path/view").parquet(s"$path/view")
      .drop("batch_id")

  /** Full-recompute reference: join the complete histories. Equal to
    * [[read]] by the delta rule (JoinViewSpec gates it on randomized
    * batch schedules); exists for audits and backfills. */
  def recompute(spark: SparkSession, path: String, keys: Seq[String]): DataFrame = {
    val a = spark.read.option("basePath", s"$path/a").parquet(s"$path/a")
      .drop("batch_id")
    val b = spark.read.option("basePath", s"$path/b").parquet(s"$path/b")
      .drop("batch_id")
    a.join(b, keys)
  }
}
