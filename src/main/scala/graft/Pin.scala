package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One eagerly materialized intermediate, and the only code in the engine
  * that pins or releases one: `df` reads a local checkpoint, `rows` is the
  * count of the one job that materialized it, [[release]] drops its blocks.
  *
  * Why a local checkpoint, not `persist`: it cuts lineage. A frame that
  * several consumers read is otherwise planned once per consumer from its
  * own copy of the subtree, and an iteration's round i embeds round i-1
  * once per reference (k^i-fold). `persist()` caches data but keeps the
  * plan, and its canonicalized-plan lookup misses on these nested shapes.
  *
  * What it costs the caller:
  *  - It is eager: an operator that pins runs Spark jobs while its
  *    DataFrame is built (`Behavior.chi2Keywords`, `SetJoin`), not when
  *    the caller runs an action.
  *  - It is not reliable storage: the blocks have no lineage to recompute
  *    from, so a lost block (executor loss, or a release while a reader
  *    remains) fails the next read naming `Checkpoint block rdd_<id>_<p>`,
  *    and recovery is re-running the query (ROADMAP item 3).
  *  - It holds blocks until released. `Dataset.unpersist()` is a no-op on
  *    a local checkpoint; unreleased blocks wait for a driver GC to let
  *    `ContextCleaner` find the RDD, which on a large heap takes minutes.
  *    So a pin is released as soon as nothing its caller returns reads it;
  *    a pin the returned frame reads stays for the caller's session.
  */
final class Pin private (val df: DataFrame, val rows: Long, rdd: RDD[_]) {

  /** Unpersists the pinned blocks now; idempotent. */
  def release(): Unit = rdd.unpersist(blocking = false)
}

object Pin {

  /** Pins `df` with one job: `localCheckpoint(eager = false)`, then a
    * count on the captured RDD. A failed count releases what it cached. */
  def apply(df: DataFrame): Pin = {
    val pinned = df.localCheckpoint(eager = false)
    val rdd = pinned.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get
    try new Pin(pinned, rdd.count(), rdd)
    catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
  }

  /** Drops the SQL cache and every persistent RDD: the clean slate the
    * query runners (`Bench`, `Verify`, `PlanDump`, `Probe`) restore
    * between queries. Left to a driver GC on a 32g heap, earlier queries'
    * MEMORY_AND_DISK blocks squeeze the memory pool of later ones
    * (measured: q111 0.54 s alone vs 2.90 s mid-run behind the set-joins;
    * q173 reps growing 5.3 → 17.7 s within one run). Measurement hygiene,
    * not a result cache: nothing is reused across queries either way. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
