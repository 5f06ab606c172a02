package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbour search (the coarse
  * quantizer of Jegou et al., TPAMI 2011): partition the
  * corpus into k centroid buckets (KMeans), search only the `nProbe`
  * buckets nearest to each query.
  *
  * This is the second scale path for similarity search (SRP-LSH being the
  * first, [[Similarity.annTopK]]): at 100 TB the corpus is bucketed ONCE
  * at ingest (a write-side shuffle on `bucket`), and every query then
  * touches nProbe/k of the data. The KMeans fit is likewise an INGEST-time
  * cost: [[ensureIndex]] fits once per (corpus, k), persists the centroids
  * as a tiny parquet artifact, and query-time [[search]] consumes only the
  * centroid arrays (k × dims doubles — kilobytes, a plan-time literal), so
  * probe assignment is a map-only expression and the candidate join is
  * bucket-equi, never a cross join.
  *
  * Not oracle-checked (KMeans is not SQL-expressible); the spec asserts
  * recall against brute force on clustered data and determinism via a
  * fixed seed.
  */
object Ivf {

  /** The whole query-time index: one centroid per bucket, bucket = index. */
  type Centroids = Array[Array[Double]]

  /** Fit k centroids over the `v` column of a normed corpus
    * ([[Similarity.normed]] output). Deterministic for a fixed seed. */
  def fit(normedDf: DataFrame, k: Int, seed: Long = 42L, maxIter: Int = 20): KMeansModel = {
    // KMeans iterates over its input; materialize once instead of
    // recomputing the scan+norm chain per iteration.
    val feats = normedDf.withColumn("features", array_to_vector(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("bucket")
      .fit(feats)
    finally feats.unpersist()
  }

  def centroids(model: KMeansModel): Centroids = model.clusterCenters.map(_.toArray)

  private val indexMemo =
    scala.collection.concurrent.TrieMap.empty[String, Centroids]

  private def indexDir(corpusKey: String, k: Int, maxIter: Int, seed: Long): String =
    graft.catalog.Tables.derivedDir("graft_ivf", s"$corpusKey|k=$k|it=$maxIter|s=$seed")

  /** Ingest-time index build, idempotent per (corpusKey, k, maxIter, seed):
    * first call fits KMeans, persists the centroids AND the inverted file
    * itself — the assigned corpus, partitioned by bucket, so query-time
    * probes become partition-pruned scans; later calls (including across
    * JVMs) read the artifacts back. The collect here is k centroid rows —
    * kilobytes, the index itself — not data.
    *
    * Completeness is marked by `centroids/_SUCCESS` (the committer writes
    * it last, and centroids are the LAST artifact written), never by mere
    * directory existence — a crash mid-write leaves no _SUCCESS and the
    * index rebuilds. A fingerprint of the source parquet
    * (`<corpusKey>.parquet`) is stored alongside; a regenerated corpus at
    * the same path invalidates and rebuilds rather than silently serving
    * the stale index. */
  def ensureIndex(spark: SparkSession, corpusKey: String, normedDf: => DataFrame,
                  k: Int, maxIter: Int = 20, seed: Long = 42L): Centroids = {
    val src = s"$corpusKey.parquet"
    // the SOURCE FINGERPRINT is part of the memo key: if the corpus parquet
    // is regenerated while this JVM lives, the stale in-memory centroids
    // miss and the disk path below (also fingerprint-guarded) rebuilds —
    // without it the memo would happily serve centroids of data that no
    // longer exists (staleness spec-gated in IvfSpec)
    val memoKey =
      s"$corpusKey|k=$k|it=$maxIter|s=$seed|fp=${graft.catalog.Tables.sourceFingerprint(src).hashCode}"
    indexMemo.getOrElseUpdate(memoKey, {
      val dir = indexDir(corpusKey, k, maxIter, seed)
      graft.catalog.Tables.ensureDerived(dir, "centroids", src) {
        val cents = centroids(fit(normedDf, k, seed, maxIter))
        assignTo(normedDf, cents).write.mode("overwrite")
          .partitionBy("bucket").parquet(s"$dir/corpus")
        import spark.implicits._
        cents.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toIndexedSeq) }
          .toDF("bucket", "c")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
        cents
      }.getOrElse(spark.read.parquet(s"$dir/centroids")
        .orderBy("bucket").select("c")
        .collect().map(_.getSeq[Double](0).toArray))
    })
  }

  /** The persisted inverted file for an [[ensureIndex]]-built index:
    * (id, v, nrm, bucket) with `bucket` a partition column — a probe join
    * against it prunes untouched buckets at the storage layer (DPP). */
  def indexedCorpus(spark: SparkSession, corpusKey: String,
                    k: Int, maxIter: Int = 20, seed: Long = 42L): DataFrame =
    spark.read.parquet(indexDir(corpusKey, k, maxIter, seed) + "/corpus")

  /** Corpus with its IVF bucket id (ml-model path). At scale, write this
    * out partitioned or bucketed by `bucket` so search prunes at the
    * storage layer. */
  def assign(normedDf: DataFrame, model: KMeansModel): DataFrame =
    model.transform(normedDf.withColumn("features", array_to_vector(col("v"))))
      .drop("features")

  /** Corpus with its IVF bucket id, from the persisted index: nearest
    * centroid (ties → lowest bucket) as a map-only expression. */
  def assignTo(normedDf: DataFrame, cents: Centroids): DataFrame =
    normedDf.withColumn("bucket",
      element_at(array_sort(centroidDists(cents)), 1).getField("bucket"))

  // ---- incrementally-maintained inverted file (CDF-driven) --------------

  /** Materialize the inverted file as a VERSIONED snapshot table
    * partitioned by bucket — the maintainable twin of [[ensureIndex]]'s
    * static corpus artifact. Rows: (id, v, nrm, bucket). */
  def initCorpusTable(spark: SparkSession, tableDir: String,
                      normedDf: DataFrame, cents: Centroids): Int =
    graft.catalog.Snapshots.init(spark, tableDir, invertedRows(normedDf, cents),
      Some("bucket"))

  /** [[assignTo]] with `bucket` as a string: the table's partition column. */
  private def invertedRows(normedDf: DataFrame, cents: Centroids): DataFrame =
    assignTo(normedDf, cents).withColumn("bucket", col("bucket").cast("string"))

  /** Apply a [[graft.catalog.Snapshots.diff]] feed of the embeddings
    * table to the inverted file through
    * [[graft.catalog.Materialized.applyFeed]]: new vectors are assigned to
    * their nearest EXISTING centroid (map-only, plan-time centroid
    * literals) and upserted; removed vectors are keyed-deleted — both land
    * only in the buckets the changed vectors map to. Centroids stay FIXED
    * between refits (standard IVF practice: assignment drift under churn
    * is a recall, not correctness, concern — schedule a refit when drift
    * accumulates; q34's recall gate is the measure). Work ∝ changed
    * vectors; the 100 TB corpus is never re-clustered per mutation. */
  def maintainCorpus(spark: SparkSession, tableDir: String,
                     changes: DataFrame, cents: Centroids): Unit =
    graft.catalog.Materialized.applyFeed(spark, tableDir, changes, "bucket", Seq("id"))(
      df => invertedRows(df.select("id", "v", "nrm"), cents))

  /** Per-centroid nearness scores for `v`, as a map-only expression over
    * plan-time centroid literals. Uses |c|² − 2·v·c (the |v|² term is
    * constant per row, so the ORDER over centroids equals squared-L2
    * order) with the codegen'd [[graft.expressions.DotProductExpr]] —
    * interpreted per-element lambdas here were the q34 hot spot. */
  private def centroidDists(cents: Centroids) =
    array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val c2 = c.foldLeft(0.0)((acc, x) => acc + x * x)
      struct(
        (lit(c2) - lit(2.0) * graft.expressions.Sketches.dotProduct(
          col("v"), typedLit(c.toIndexedSeq))).as("dist"),
        lit(i).as("bucket"))
    }: _*)

  /** Top-k cosine neighbours per query, probing the nProbe nearest
    * centroid buckets. Query-time only: consumes the persisted centroids,
    * never refits. */
  def search(queries: DataFrame, corpus: DataFrame, cents: Centroids,
             k: Int, nProbe: Int): DataFrame =
    searchAssigned(queries, assignTo(corpus, cents), cents, k, nProbe)

  /** Search over a pre-assigned corpus (e.g. [[indexedCorpus]]): the
    * corpus side does no per-row centroid math at all, and when `bucket`
    * is a partition column the probe join prunes whole buckets off the
    * scan. */
  def searchAssigned(queries: DataFrame, bucketed: DataFrame, cents: Centroids,
                     k: Int, nProbe: Int): DataFrame = {
    val probes = queries
      .withColumn("_probes", slice(array_sort(centroidDists(cents)), 1, nProbe))
      .withColumn("_p", explode(col("_probes")))
      .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("_p.bucket").as("bucket"))
    val cand = bucketed.select(col("bucket"), col("id").as("neighbor_id"),
      col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    probes.join(cand, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosineExpr("qv", "cv", "qn", "cn"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  def search(queries: DataFrame, corpus: DataFrame, model: KMeansModel,
             k: Int, nProbe: Int): DataFrame =
    search(queries, corpus, centroids(model), k, nProbe)
}
