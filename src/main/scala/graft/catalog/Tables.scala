package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** Named-table catalog over Parquet directories.
  *
  * Spark-native successor of the reference's LMDB environment of named
  * sub-DBs (`/root/reference/serialize.py:449-471`): each logical stream
  * is a named columnar table; alignment across streams is an explicit
  * `key` column instead of physical co-location (SURVEY §1.4).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Physical-layout policy for the fact tables: bucket+sort keys for
    * co-located joins. lineitem⋈orders is the one fact-fact join in the
    * workload; bucketing both on orderkey with the same bucket count makes
    * it exchange-free. customer is bucketed on custkey for the (rare)
    * non-broadcast customer join. At 100 TB this layout is the storage
    * story: the big join moves nothing instead of shuffling both inputs
    * per query. */
  val bucketSpecs: Map[String, String] = Map(
    "lineitem" -> "l_orderkey",
    "orders"   -> "o_orderkey",
    "customer" -> "c_custkey")

  /** (dir, name) → registered bucketed catalog table. Populated by
    * [[ensureBucketed]]; consulted transparently by [[load]] so every
    * declared query benefits without changing its text. */
  private val bucketedFor =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** Sanitized dir + a short digest of the RAW dir string: sanitization
    * alone is not injective (`/data/sf0.1` and `/data/sf0_1` collide), and
    * a collision would silently serve one dir's rows for the other. Lower
    * case, as the catalog names the table's warehouse directory. */
  private def bucketTableName(dir: String, name: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    ("graft_bkt_" + dir.replaceAll("[^A-Za-z0-9]", "_").dropWhile(_ == '_') +
      "_" + digest + "_" + name).toLowerCase(java.util.Locale.ROOT)
  }

  /** Cheap content fingerprint of a source parquet path: sorted
    * (file, size, mtime) lines. Detects regenerated fixtures without
    * reading data; written as a sidecar next to derived layouts so a stale
    * copy is rebuilt instead of silently served. */
  def sourceFingerprint(path: String): String = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return "missing"
    val files =
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      else Seq(p)
    files.map(f => s"${p.relativize(f.toAbsolutePath.normalize)}:" +
        s"${java.nio.file.Files.size(f)}:" +
        s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
      .sorted.mkString("\n")
  }

  private val FpFile = "_graft_src_fingerprint"

  /** Warehouse directory for a derived artifact (index, sketch, layout):
    * sanitized key + digest of the RAW key, so distinct keys can never
    * collide after sanitization. */
  def derivedDir(prefix: String, rawKey: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rawKey.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"spark-warehouse/$prefix/" +
      rawKey.replaceAll("[^A-Za-z0-9]", "_").dropWhile(_ == '_') + "_" + digest
  }

  /** Fingerprint-guarded build of the derived artifact `<dir>/<artifact>`.
    * The artifact on disk is reused when it is complete (its `_SUCCESS`
    * exists; the committer writes it last, so `build` must write
    * `artifact` last) and current (the fingerprint sidecar matches
    * [[sourceFingerprint]] of `sourcePath`). Otherwise `dir` is cleared,
    * `build` runs and the fingerprint is stamped. Returns `build`'s
    * result, or None when the artifact was reused. */
  def ensureDerived[T](dir: String, artifact: String, sourcePath: String)(build: => T): Option[T] = {
    val fpPath = java.nio.file.Paths.get(dir, FpFile)
    val fresh =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, artifact, "_SUCCESS")) &&
        java.nio.file.Files.exists(fpPath) &&
        new String(java.nio.file.Files.readAllBytes(fpPath), "UTF-8") ==
          sourceFingerprint(sourcePath)
    if (fresh) None
    else {
      derivedClear(dir)
      val out = build
      java.nio.file.Files.write(fpPath, sourceFingerprint(sourcePath).getBytes("UTF-8"))
      Some(out)
    }
  }

  /** Clear a derived-artifact dir (before a rebuild). */
  def derivedClear(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** One-time bucketed ingest of the fact tables for `dir` (idempotent
    * ACROSS JVMs). The in-memory catalog forgets tables on restart but the
    * bucketed files survive in the warehouse; a complete layout (_SUCCESS
    * marker + matching source fingerprint) is RE-REGISTERED as an external
    * bucketed table — never rewritten. This is the 100 TB semantics: the
    * bucketed layout is the table's storage format, written once at ingest;
    * sessions re-attach to it. A partial layout (no _SUCCESS) or a STALE
    * one (source parquet regenerated since the copy — detected by the
    * fingerprint sidecar) is dropped and rebuilt.
    *
    * Repartitioning by the bucket key into exactly `buckets` partitions at
    * write time yields ONE file per bucket, which is what lets Spark trust
    * the per-bucket sort order and skip both the exchange AND the sort in
    * downstream sort-merge joins. */
  def ensureBucketed(spark: SparkSession, dir: String, buckets: Int = 32): Unit =
    bucketSpecs.foreach { case (name, key) =>
      val tbl = bucketTableName(dir, name)
      val loc = java.nio.file.Paths.get("spark-warehouse", tbl).toAbsolutePath
      val fp = sourceFingerprint(s"$dir/$name.parquet")
      val fpPath = loc.resolve(FpFile)
      def storedFp: Option[String] =
        if (java.nio.file.Files.exists(fpPath))
          Some(new String(java.nio.file.Files.readAllBytes(fpPath), "UTF-8"))
        else None
      val fresh = storedFp.contains(fp)
      if (spark.catalog.tableExists(tbl) && !fresh)
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
      if (!spark.catalog.tableExists(tbl)) {
        if (java.nio.file.Files.exists(loc.resolve("_SUCCESS")) && fresh) {
          val schema = spark.read.parquet(loc.toString).schema.toDDL
          spark.sql(
            s"""CREATE TABLE $tbl ($schema) USING parquet
               |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
               |LOCATION '$loc'""".stripMargin)
        } else {
          if (java.nio.file.Files.exists(loc)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
          }
          val df = loadPlain(spark, dir, name)
          saveBucketed(df.repartition(buckets, expr(key)), tbl, buckets, key)
          java.nio.file.Files.write(fpPath, fp.getBytes("UTF-8"))
        }
      }
      bucketedFor((dir, name)) = tbl
    }

  /** Forget bucketed registrations (queries fall back to raw parquet)
    * and cached source schemas (a test that regenerates a fixture dir
    * in-process must re-infer). */
  def clearBucketed(): Unit = { bucketedFor.clear(); schemaCache.clear() }

  /** Load one table — from the bucketed catalog layout when
    * [[ensureBucketed]] has been run for this dir, else from
    * `<dir>/<name>.parquet`. Filters/projections applied downstream are
    * pushed into either scan by Catalyst. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    bucketedFor.get((dir, name)) match {
      case Some(tbl) if spark.catalog.tableExists(tbl) => spark.table(tbl)
      case _ => loadPlain(spark, dir, name)
    }

  /** Raw parquet scan.
    *
    * `events.ts` is TIMESTAMP(NANOS) in the parquet footer, which Spark
    * rejects by default; we read it as a nanos Long
    * (`spark.sql.legacy.parquet.nanosAsLong`) and convert to a µs
    * timestamp with integer division (`div`, not `/`: ns-since-epoch
    * ≈ 1.7e18 exceeds a double's 2^53 mantissa, so float division would
    * corrupt low bits). */
  /** (dir, name) → inferred parquet schema. Schema inference is a Spark
    * JOB (a one-task footer read, "parquet at Tables.scala" in the stage
    * log) paid on EVERY load() call without it — a bench of 300 queries
    * re-infers the same seven immutable fixture schemas thousands of
    * times. Source tables never change within a session (derived
    * artifacts live elsewhere and carry their own schemas); regenerated
    * fixtures arrive with a new JVM. Cleared by [[clearBucketed]] for
    * tests that swap fixture dirs in-process, and keyed by the parquet
    * dir's mtime so a fixture regenerated in-process with a different
    * schema re-infers even if the caller forgets clearBucketed() (the
    * mtime probe is a local-FS metadata call, no Spark job). */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long), org.apache.spark.sql.types.StructType]

  def loadPlain(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val mtime = new java.io.File(s"$dir/$name.parquet").lastModified()
    val schema = schemaCache.getOrElseUpdate((dir, name, mtime),
      spark.read.parquet(s"$dir/$name.parquet").schema)
    val raw = spark.read.schema(schema).parquet(s"$dir/$name.parquet")
    if (name == "events") raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) footer, read as a nanos Long
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) footer — Spark infers
      // TIMESTAMP_NTZ; normalize to the session type (UTC session ⇒ same
      // instant DuckDB's naive read produces) so LTZ-only functions
      // (unix_micros, to_utc_timestamp) and streaming watermarks work
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    } else raw
  }

  /** Single-row-group fixture files cannot be split by the scan, so one
    * task runs the whole downstream map stage. For EXPRESSION-HEAVY
    * pipelines (sketching, regex, trigrams over documents) the round-robin
    * exchange pays for itself many times over; for scan→aggregate
    * relational queries it does NOT (partial aggregation already collapses
    * rows before any exchange — measured q01 0.35s→0.88s), so this is an
    * explicit opt-in for the callers that know their per-row cost, not a
    * blanket load-path rewrite. Self-disables on well-split input — a
    * production table has as many splits as the cluster has cores. */
  def widened(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    scanTaskEstimate(spark, df) match {
      case Some(est) if est * 4 < target => df.repartition(target)
      case _ => df
    }
  }

  /** Clusters `df` by `column` ahead of a `partitionBy(column)` write: one
    * shuffle keyed on the value, so the write lands ~one file per value
    * instead of one per (upstream task, value). The partition count is
    * fixed at the session's shuffle-partition count because AQE never
    * coalesces a repartition with an explicit count, while it folds a
    * small by-column repartition (a commit touching three values) into
    * one partition, and the whole write then runs as one task on one
    * core. Each value still hashes to exactly one partition, so there is
    * still one file per value; partitions no value hashes to write
    * nothing. */
  private[graft] def clustered(df: DataFrame, column: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(column))

  /** Scan task count estimated from the FILE LISTING — the same
    * size-plus-open-cost bin-packing arithmetic Spark's FilePartition
    * planner uses — so [[widened]] never forces the plan→RDD conversion
    * `df.rdd.getNumPartitions` would pay on every query. None when the
    * frame has no file-backed leaves (in-memory relations: no listing to
    * estimate from, and nothing to widen — their parallelism was chosen
    * by whoever built them). */
  private[graft] def scanTaskEstimate(spark: SparkSession, df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h }
    if (rels.isEmpty) None
    else {
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
      val fileCount = rels.map(_.location.inputFiles.length.toLong).sum
      val costedBytes = rels.map(_.location.sizeInBytes).sum + fileCount * openCost
      val bytesPerCore = costedBytes / math.max(spark.sparkContext.defaultParallelism, 1)
      val maxSplit = math.min(maxPart, math.max(openCost, bytesPerCore))
      Some(math.max(1L, (costedBytes + maxSplit - 1) / maxSplit))
    }
  }

  /** Interchange sinks (CSV with header / JSON lines). Parquet is the
    * engine-native format; these exist for export interoperability. */
  def saveCsv(df: DataFrame, dir: String, name: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(s"$dir/$name.csv")

  def saveJson(df: DataFrame, dir: String, name: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(s"$dir/$name.json")

  /** ORC sink/source — the other columnar interchange format (Hive
    * ecosystems standardize on it). Same pushdown/pruning properties as
    * parquet (PPD via min/max stripes, column projection); the engine
    * stays parquet-native internally, this is border I/O. */
  def saveOrc(df: DataFrame, dir: String, name: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(s"$dir/$name.orc")

  def loadOrc(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.orc(s"$dir/$name.orc")

  /** Register every table as a temp view (for the SQL surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Sink: bucketed managed table for co-located joins. Two tables
    * bucketed+sorted by the same key with the same bucket count join with
    * NO shuffle exchange on either side — at 100 TB this is the difference
    * between a join that moves nothing and one that moves both inputs.
    * (Bucketed writes require the session catalog, hence saveAsTable.) */
  def saveBucketed(df: DataFrame, tableName: String, buckets: Int,
                   key: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)

  /** Sink: persist a DataFrame as a named Parquet table (successor of the
    * reference's per-stream LMDB write, `/root/reference/serialize.py:
    * 342-387`). `partitionBy` gives partition pruning on read; pick
    * low-cardinality columns (date, source) — at 100 TB a high-cardinality
    * partition column means millions of tiny files. */
  def save(df: DataFrame, dir: String, name: String,
           partitionBy: Seq[String] = Nil, mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$dir/$name.parquet")
  }

  /** W2 successor: pre-flight sink capacity check. The reference reserves
    * its LMDB `map_size` before writing — `du -s` of the input directory
    * × 100 (`/root/reference/serialize.py:438-442`), because LMDB cannot
    * grow dynamically. Parquet needs no reservation, but the question the
    * reservation answered still matters at 100 TB: WILL THIS WRITE FIT
    * THE TARGET VOLUME? Answered before the job, not six hours into it.
    *
    * Estimation: a bounded prefix sample is encoded at the sink's REAL
    * codec (parquet + compression), measured on disk, and extrapolated
    * by row count. Small samples over-estimate bytes/row (footer and
    * dictionary overhead amortize with size), which errs in the SAFE
    * direction, and the explicit safety factor replaces the reference's
    * blunt ×100. `rowsHint` skips the count when the caller already
    * knows the cardinality (e.g. one row per scanned file). */
  final case class SinkEstimate(rows: Long, sampledRows: Long,
                                bytesPerRow: Double, estBytes: Long,
                                requiredBytes: Long, usableBytes: Long) {
    def fits: Boolean = requiredBytes <= usableBytes
  }

  def preflightSink(df: DataFrame, dir: String, sampleRows: Int = 1024,
                    safetyFactor: Double = 1.5, rowsHint: Option[Long] = None,
                    usableBytesOverride: Option[Long] = None): SinkEstimate = {
    require(sampleRows > 0, s"preflightSink: sampleRows must be positive, got $sampleRows")
    require(safetyFactor >= 1.0, s"preflightSink: safetyFactor must be >= 1, got $safetyFactor")
    val target = new java.io.File(dir)
    target.mkdirs()
    val rows = rowsHint.getOrElse(df.count())
    val n = math.min(rows, sampleRows.toLong)
    val bytesPerRow =
      if (n <= 0) 0.0
      else {
        val tmp = new java.io.File(target, s".preflight-${java.util.UUID.randomUUID()}")
        try {
          df.limit(n.toInt).write.mode("overwrite").parquet(tmp.getAbsolutePath)
          val sampleBytes = Option(tmp.listFiles()).toSeq.flatten
            .filter(f => f.isFile && f.getName.startsWith("part-"))
            .map(_.length()).sum
          sampleBytes.toDouble / n
        } finally deleteRecursively(tmp)
      }
    val est = math.ceil(bytesPerRow * rows).toLong
    val required = math.ceil(est * safetyFactor).toLong
    val usable = usableBytesOverride.getOrElse(target.getUsableSpace)
    SinkEstimate(rows, n, bytesPerRow, est, required, usable)
  }

  /** Loud pre-flight: refuse to start a sink that cannot fit. */
  def requireSinkFits(df: DataFrame, dir: String, sampleRows: Int = 1024,
                      safetyFactor: Double = 1.5, rowsHint: Option[Long] = None,
                      usableBytesOverride: Option[Long] = None): SinkEstimate = {
    val e = preflightSink(df, dir, sampleRows, safetyFactor, rowsHint, usableBytesOverride)
    if (!e.fits) throw new IllegalStateException(
      f"sink preflight: estimated ${e.estBytes}%,d bytes (×$safetyFactor%.1f safety = " +
        f"${e.requiredBytes}%,d) exceeds ${e.usableBytes}%,d usable at $dir " +
        f"(${e.rows}%,d rows at ${e.bytesPerRow}%.1f B/row from a ${e.sampledRows}%,d-row sample)")
    e
  }

  /** W2 pre-flight from the INPUT footprint — the reference's exact
    * measurement (`du -s` of the extracted data dir,
    * `serialize.py:438-440`): a filesystem-metadata walk, ZERO Spark
    * jobs, no extra scan of the source. For the binary-dominant
    * serialize sinks (image/audio payload columns) the parquet output is
    * bounded by input bytes × a small re-encoding factor, which the
    * explicit safety factor absorbs — where the reference multiplied by
    * a blunt 100. Use [[preflightSink]] instead when the frame is
    * derived (joins/aggregates) and no input directory bounds it; that
    * path pays a count + sample write for its precision.
    * `rows`/`sampledRows`/`bytesPerRow` are not applicable here and
    * report -1 / 0 / 0. */
  def preflightSinkFromInput(inputDir: String, sinkDir: String,
                             safetyFactor: Double = 1.5,
                             usableBytesOverride: Option[Long] = None): SinkEstimate = {
    require(safetyFactor >= 1.0,
      s"preflightSinkFromInput: safetyFactor must be >= 1, got $safetyFactor")
    val target = new java.io.File(sinkDir)
    target.mkdirs()
    val inputBytes = directoryBytes(new java.io.File(inputDir))
    val required = math.ceil(inputBytes * safetyFactor).toLong
    val usable = usableBytesOverride.getOrElse(target.getUsableSpace)
    SinkEstimate(rows = -1L, sampledRows = 0L, bytesPerRow = 0.0,
      estBytes = inputBytes, requiredBytes = required, usableBytes = usable)
  }

  /** Loud input-footprint pre-flight (serialize path). */
  def requireSinkFitsFromInput(inputDir: String, sinkDir: String,
                               safetyFactor: Double = 1.5,
                               usableBytesOverride: Option[Long] = None): SinkEstimate = {
    val e = preflightSinkFromInput(inputDir, sinkDir, safetyFactor, usableBytesOverride)
    if (!e.fits) throw new IllegalStateException(
      f"sink preflight: input footprint ${e.estBytes}%,d bytes at $inputDir " +
        f"(×$safetyFactor%.1f safety = ${e.requiredBytes}%,d) exceeds " +
        f"${e.usableBytes}%,d usable at $sinkDir")
    e
  }

  private def directoryBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(directoryBytes).sum

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }
}
