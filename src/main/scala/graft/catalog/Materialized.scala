package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized transforms — the one engine
  * that applies a change feed to a derived table and keeps its
  * `_reflects` marker. Its users supply only a transform: the search
  * index's pair table ([[graft.operators.InvertedIndex]], which
  * [[graft.streaming.DocStreams.sinkIndexedCorpus]] keeps current), the
  * IVF inverted file ([[graft.operators.Ivf.maintainCorpus]]) and the
  * maintained aggregates ([[reconcileAgg]]). Any deterministic per-row
  * (map-only, 1→N) derivation of a versioned corpus can follow corpus
  * mutations by keyed delete + upsert of just the CHANGED rows' derived
  * output, at cost ∝ churn, never a re-derivation of the corpus.
  *
  * Transform contract (the caller's obligations — all three are what
  * make incremental == from-scratch):
  *  1. per-row: `transform(A ∪ B) == transform(A) ∪ transform(B)` —
  *     no aggregation, no joins against the corpus itself;
  *  2. keyed: the output is uniquely keyed by `keyCols` across the whole
  *     corpus, and a source row's derived keys are recomputable from that
  *     row alone (that is what lets a deletion NAME its derived rows);
  *  3. partitioned: the output carries `partCol` (filesystem-plain
  *     values), the derived table's mutation-pruning key.
  *
  * Crash safety: the `_reflects` marker (which corpus version the derived
  * table mirrors) advances by atomic rename AFTER maintenance; a crash
  * between maintenance and marker re-applies the same feed next time and
  * converges by keyed idempotence. Corpus vacuum retention must keep the
  * reflected version until the next reconcile (diff needs both
  * manifests; it fails loudly, never silently skips).
  */
object Materialized {

  private def markerPath(dir: String) = java.nio.file.Paths.get(dir, "_reflects")

  /** The corpus version the derived table currently reflects. */
  def reflects(derivedDir: String): Int =
    new String(java.nio.file.Files.readAllBytes(markerPath(derivedDir)), "UTF-8").trim.toInt

  private def writeMarker(dir: String, v: Int): Unit = {
    val tmp = java.nio.file.Paths.get(dir, "._reflects.tmp")
    java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, markerPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Materialize `transform` of the corpus' CURRENT version (a per-row
    * transform, or a [[reconcileAgg]] aggregate) as a versioned table at
    * `derivedDir`, stamped with the corpus version it reflects. */
  def init(spark: SparkSession, corpusDir: String, derivedDir: String,
           partCol: String)(transform: DataFrame => DataFrame): Int = {
    val v = Snapshots.currentVersion(spark, corpusDir)
    val r = Snapshots.init(spark, derivedDir,
      transform(Snapshots.read(spark, corpusDir)), Some(partCol))
    writeMarker(derivedDir, v)
    r
  }

  /** Apply one change feed (a [[Snapshots.diff]] frame: source rows plus
    * `_change` = "delete" | "insert") to the derived table at
    * `derivedDir`: the deleted rows' derivations are keyed-deleted
    * (projected to `keyCols :+ partCol`), the inserted rows' derivations
    * upserted, so an update nets to its new derivation. Work ∝ the changed
    * rows, and re-applying the same feed converges (keyed delete of absent
    * rows and keyed upsert of present rows are no-ops in content). Returns
    * the committed version, or None when the feed derives nothing.
    *
    * The feed is persisted because both sides read it: the commit pins
    * each side once ([[Snapshots.applyKeyed]]), and without the persist
    * each pin would re-execute the diff's aggregate subtree. persist, not
    * a [[graft.Pin]]: building the frame stays lazy, the blocks survive
    * executor loss by recompute, and they are released here in
    * `finally`, never leaked to the caller. Both sides land as ONE
    * [[Snapshots.applyKeyed]] commit (one partition read, one pool write,
    * one manifest), where delete-then-upsert paid two read-modify-write
    * cycles; SnapshotsSpec gates the equivalence. */
  def applyFeed(spark: SparkSession, derivedDir: String, feed: DataFrame,
                partCol: String, keyCols: Seq[String])
               (transform: DataFrame => DataFrame): Option[Int] = {
    val cached = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(change: String) =
      transform(cached.filter(col("_change") === change).drop("_change"))
    try Snapshots.applyKeyed(spark, derivedDir,
      side("delete").select((keyCols :+ partCol).map(col): _*), side("insert"), keyCols)
    finally cached.unpersist(false)
  }

  /** Catch the derived table up to the corpus' current version:
    * [[applyFeed]] over the diff from the reflected version, marker
    * advanced after. Returns (from, to) or None when current. */
  def reconcile(spark: SparkSession, corpusDir: String, derivedDir: String,
                partCol: String, keyCols: Seq[String])
               (transform: DataFrame => DataFrame): Option[(Int, Int)] = {
    val cur = Snapshots.currentVersion(spark, corpusDir)
    val from = reflects(derivedDir)
    if (from >= cur) return None
    applyFeed(spark, derivedDir, Snapshots.diff(spark, corpusDir, from, cur),
      partCol, keyCols)(transform)
    writeMarker(derivedDir, cur)
    Some((from, cur))
  }

  /** Catch a maintained aggregate up to the corpus' current version
    * (incremental view maintenance for `GROUP BY` tables, initialized by
    * [[init]] with the aggregate as its transform).
    *
    * Contract: `aggregate` must be partition-local — its grouping
    * includes the corpus' partition column, carried through as `partCol`
    * on the output — so a corpus mutation can only change the aggregate
    * rows of the partitions it touched.
    *
    * Maintenance is a partition-scoped RECOMPUTE, not delta arithmetic:
    * the change feed only names which partitions were touched; their new
    * aggregate state is derived from the corpus alone and published with
    * one copy-on-write [[Snapshots.replacePartitions]] (untouched
    * partitions re-referenced by path, vanished ones dropped). The trade
    * is deliberate — cost ∝ touched partitions instead of ∝ churn, and in
    * exchange a crash-replayed reconcile CONVERGES (delta-adding is not
    * idempotent; restating touched partitions from the source is).
    *
    * The touched set comes from the MANIFESTS
    * ([[Snapshots.changedPartitions]] — metadata-only), not a data diff:
    * copy-on-write means a partition with row changes always rewrites
    * files, so the manifest set is a superset and restating a
    * touched-but-content-identical partition (corpus compaction) is a
    * no-op on values — one redundant derived commit, never divergence.
    * The data diff this replaces read every changed file and paid a
    * shuffle just to learn the partition list. */
  def reconcileAgg(spark: SparkSession, corpusDir: String, derivedDir: String,
                   partCol: String)(aggregate: DataFrame => DataFrame)
      : Option[(Int, Int)] = {
    val cur = Snapshots.currentVersion(spark, corpusDir)
    val from = reflects(derivedDir)
    if (from >= cur) return None
    val touched = Snapshots.changedPartitions(spark, corpusDir, from, cur)
    if (touched.nonEmpty) {
      val newAgg = aggregate(Snapshots.readPartitions(spark, corpusDir, touched))
      Snapshots.replacePartitions(spark, derivedDir, newAgg, dropValues = touched)
    }
    writeMarker(derivedDir, cur)
    Some((from, cur))
  }
}
