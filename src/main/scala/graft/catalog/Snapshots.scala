package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Manifest-based table snapshots: versioned reads, time travel, and
  * copy-on-write commits over an immutable file pool. No commit renames
  * or swaps a live directory (keyed upsert/delete and compaction
  * included), so readers never wait for a writer. The reference
  * pipeline rewrites whole LMDB
  * datasets per request (`/root/reference/serialize.py:434-492` — every
  * serialize is a fresh environment, no versioning, no readers-during-
  * write story); a 100 TB corpus needs the opposite: writers publish a
  * new immutable version, readers resolve a manifest and are never
  * affected by concurrent commits or crashes.
  *
  * Layout under the table root:
  * {{{
  *   _data/v00000001/<part>-<file>.parquet   immutable once referenced
  *   _manifests/v00000001.manifest           file list + partition values
  * }}}
  * A manifest is a text file: `#version` / `#partcol` / `#schema` header
  * lines, one `relpath\tpartitionValue` line per data file, and a final
  * `#end` marker. The `#end` line is the commit point: a manifest without
  * it (torn write, crashed committer) is invisible — readers fall back to
  * the previous version. Data files carry the FULL schema (the partition
  * column is a regular column in the file); partition values live in the
  * manifest, so partition-level pruning is a metadata operation that
  * never opens files — the Delta/Iceberg shape, not the hive-dir shape.
  *
  * Scale: a commit costs (new data written) + (one small manifest). A
  * [[replacePartitions]] touching 0.01% of a 100 TB table writes 0.01%
  * of the data and RE-REFERENCES every untouched file by path — no
  * copying, no renames of live data, no window where any path a reader
  * might hold is missing. Version history is bounded by [[vacuum]],
  * which deletes only files no retained manifest references.
  *
  * Concurrency: readers need no coordination (manifests and data files
  * are immutable). Writers are optimistic: two concurrent commits race
  * to create the same next manifest; the loser observes the winner's
  * manifest and throws `ConcurrentModificationException` — its orphaned
  * data files are swept by the next [[vacuum]]. [[vacuum]] must not run
  * concurrently with readers of the versions it drops (standard
  * retention semantics; document the retention window operationally).
  */
object Snapshots {

  private val DataDir = "_data"
  private val ManifestDir = "_manifests"

  /** Per-file footer statistics carried in the manifest: row count plus
    * min/max for every INT64 column (read once from the parquet footer at
    * commit time, never recomputed). `mins`/`maxs` are keyed by column
    * name; a column absent from the maps has no usable stats (null-only
    * chunks, or a pre-stats manifest) and is treated conservatively. */
  final case class FileStats(rows: Long, mins: Map[String, Long], maxs: Map[String, Long])

  final case class Entry(path: String, partValue: String, stats: Option[FileStats])

  final case class Manifest(version: Int, partCol: Option[String],
                            schemaDdl: String, entries: Seq[Entry],
                            epoch: Option[Long] = None) {
    def files: Seq[(String, String)] = entries.map(e => (e.path, e.partValue))
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vName(v: Int) = f"v$v%08d"
  private def manifestPath(dir: String, v: Int) =
    new Path(s"$dir/$ManifestDir/${vName(v)}.manifest")

  // ---- manifest IO ------------------------------------------------------

  private def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val fs = fsOf(spark, dir)
    val target = manifestPath(dir, m.version)
    if (fs.exists(target))
      throw new java.util.ConcurrentModificationException(
        s"snapshots: version ${m.version} already committed at $target")
    val tmp = new Path(s"$dir/$ManifestDir/.tmp-${vName(m.version)}-${java.util.UUID.randomUUID()}")
    val sb = new StringBuilder
    sb.append(s"#version ${m.version}\n")
    m.partCol.foreach(c => sb.append(s"#partcol $c\n"))
    m.epoch.foreach(e => sb.append(s"#epoch $e\n"))
    sb.append(s"#schema ${m.schemaDdl}\n")
    m.entries.foreach { e =>
      val st = e.stats.map { fs =>
        val cols = fs.mins.keys.toSeq.sorted
          .map(c => s"$c=${fs.mins(c)}..${fs.maxs(c)}").mkString(";")
        s"\t${fs.rows}\t$cols"
      }.getOrElse("")
      sb.append(s"${e.path}\t${e.partValue}$st\n")
    }
    sb.append("#end\n")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    // Create-exclusive commit point. The exists-check above is only a
    // fast path — two racers can both pass it, and POSIX rename(2)
    // OVERWRITES an existing target, so on a local filesystem both
    // renames would "succeed" and the first commit would be silently
    // lost. file:// gets a hard link (atomic, fails if target exists);
    // HDFS/object-store rename already refuses an existing destination.
    val committed =
      if ("file" == fs.getScheme) {
        val t = java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath)
        val s = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        try { java.nio.file.Files.createLink(t, s); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else fs.rename(tmp, target)
    fs.delete(tmp, false)
    if (!committed)
      throw new java.util.ConcurrentModificationException(
        s"snapshots: lost commit race for version ${m.version}")
  }

  /** Complete manifests are immutable — cache their parse so version
    * listings and epoch scans cost one metadata probe per call instead of
    * a full content read (a long-lived stream otherwise pays O(versions)
    * content reads per commit). The cache entry is validated against the
    * manifest file's (mtime, length): a table wiped and rebuilt at the
    * same path (derived artifacts do this) gets fresh parses, never a
    * stale file list. Vacuum also drops its deleted versions eagerly. */
  private val manifestCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), (Long, Long, Manifest)]

  private def readManifest(spark: SparkSession, dir: String, v: Int): Option[Manifest] = {
    val fs = fsOf(spark, dir)
    val p = manifestPath(dir, v)
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    manifestCache.get((dir, v)) match {
      case Some((mt, len, m))
        if mt == st.getModificationTime && len == st.getLen => return Some(m)
      case _ => ()
    }
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
    val lines = text.split("\n", -1)
    if (!lines.contains("#end")) return None // torn manifest: invisible
    var partCol: Option[String] = None
    var schema = ""
    var epoch: Option[Long] = None
    val entries = ArrayBuffer.empty[Entry]
    lines.takeWhile(_ != "#end").foreach {
      case l if l.startsWith("#version ") => ()
      case l if l.startsWith("#partcol ") => partCol = Some(l.drop(9))
      case l if l.startsWith("#epoch ")   => epoch = Some(l.drop(7).toLong)
      case l if l.startsWith("#schema ")  => schema = l.drop(8)
      case l if l.nonEmpty =>
        val f = l.split("\t", -1)
        val stats =
          if (f.length >= 4)
            Some(FileStats(f(2).toLong,
              mins = f(3).split(";").filter(_.nonEmpty).map { kv =>
                val Array(c, rng) = kv.split("=", 2)
                c -> rng.split("\\.\\.", 2)(0).toLong
              }.toMap,
              maxs = f(3).split(";").filter(_.nonEmpty).map { kv =>
                val Array(c, rng) = kv.split("=", 2)
                c -> rng.split("\\.\\.", 2)(1).toLong
              }.toMap))
          else None
        entries += Entry(f(0), f(1), stats)
      case _ => ()
    }
    val m = Manifest(v, partCol, schema, entries.toSeq, epoch)
    manifestCache.put((dir, v), (st.getModificationTime, st.getLen, m))
    Some(m)
  }

  /** All committed (complete) version numbers, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val fs = fsOf(spark, dir)
    val md = new Path(s"$dir/$ManifestDir")
    if (!fs.exists(md)) return Seq.empty
    fs.listStatus(md).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted
      .filter(v => readManifest(spark, dir, v).isDefined)
  }

  /** Newest committed version: one directory LIST, then manifests probed
    * DESCENDING until the first complete one — O(1) probes in the common
    * case instead of validating the whole chain (a commit-per-micro-batch
    * stream calls this several times per commit; validating every older
    * manifest made commit latency grow linearly with table age). */
  def currentVersion(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    val md = new Path(s"$dir/$ManifestDir")
    val names =
      if (!fs.exists(md)) Seq.empty[Int]
      else fs.listStatus(md).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toInt }
        .sorted(Ordering[Int].reverse)
    names.find(v => readManifest(spark, dir, v).isDefined).getOrElse(
      throw new IllegalArgumentException(s"requirement failed: snapshots: no committed version at $dir"))
  }

  /** The manifest of `version` (default: the current one). */
  private def manifest(spark: SparkSession, dir: String,
                       version: Option[Int] = None): Manifest = {
    val v = version.getOrElse(currentVersion(spark, dir))
    readManifest(spark, dir, v).getOrElse(
      throw new NoSuchElementException(s"snapshots: no committed version $v at $dir"))
  }

  /** Cluster a partitioned commit's rows by the partition column before
    * the hive-style tmp write ([[Tables.clustered]], which also says why
    * its partition count is fixed): without this, partitionBy fans out to
    * (input tasks × partition values) files — a 32-task batch touching 16
    * partitions writes 512 tiny files, each paying a footer-stats read at
    * commit and an open at query time. With it, one file per touched
    * partition. Callers that CRAFT their layout (compaction) bypass via
    * the raw path. */
  private def clustered(df: DataFrame, partCol: Option[String]): DataFrame =
    partCol.fold(df)(Tables.clustered(df, _))

  // ---- data-file pool ---------------------------------------------------

  /** Row count + INT64 min/max per column, read from one parquet footer
    * (a metadata read, not a data scan). A column whose chunks carry no
    * usable stats is omitted. */
  private def footerStats(spark: SparkSession, path: Path): FileStats = {
    import scala.jdk.CollectionConverters._
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, spark.sparkContext.hadoopConfiguration))
    try {
      val blocks = rd.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.Map.empty[String, Long]
      val maxs = scala.collection.mutable.Map.empty[String, Long]
      val bad = scala.collection.mutable.Set.empty[String]
      blocks.foreach(_.getColumns.asScala.foreach { cc =>
        if (cc.getPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 &&
            cc.getPath.size() == 1) {
          val name = cc.getPath.toDotString
          val st = cc.getStatistics
          if (st != null && st.hasNonNullValue) {
            val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
            val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
            mins(name) = mins.get(name).fold(lo)(math.min(_, lo))
            maxs(name) = maxs.get(name).fold(hi)(math.max(_, hi))
          } else bad += name // a statless chunk poisons the whole column
        }
      })
      bad.foreach { c => mins.remove(c); maxs.remove(c) }
      FileStats(rows, mins.toMap, maxs.toMap)
    } finally rd.close()
  }

  /** Write `df` into the pool under the next version's subdir and return
    * manifest entries (relpath, partitionValue, footer stats). Uses a
    * shadow `__part` column so the REAL partition column stays inside the
    * data files while the hive-style tmp layout tells us each file's
    * partition value. */
  private def poolWrite(spark: SparkSession, dir: String, df: DataFrame,
                        partCol: Option[String], v: Int): Seq[Entry] = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(s"$dir/$DataDir/.write-${vName(v)}-${java.util.UUID.randomUUID()}")
    partCol match {
      case Some(c) =>
        df.withColumn("__part", col(c).cast("string"))
          .write.partitionBy("__part").parquet(tmp.toString)
      case None =>
        df.write.parquet(tmp.toString)
    }
    val destRoot = new Path(s"$dir/$DataDir/${vName(v)}")
    fs.mkdirs(destRoot)
    val moved = ArrayBuffer.empty[(Path, String, String)] // dest, relpath, partValue
    def moveFiles(src: Path, partValue: String): Unit =
      fs.listStatus(src).foreach { st =>
        val n = st.getPath.getName
        if (n.endsWith(".parquet")) {
          val destName = (if (partValue.nonEmpty) s"$partValue-" else "") + n
          val dest = new Path(destRoot, destName)
          if (!fs.rename(st.getPath, dest))
            throw new java.io.IOException(s"snapshots: cannot move ${st.getPath} -> $dest")
          moved += ((dest, s"$DataDir/${vName(v)}/$destName", partValue))
        }
      }
    partCol match {
      case Some(c) =>
        fs.listStatus(tmp).filter(_.isDirectory).foreach { pd =>
          val value = pd.getPath.getName.stripPrefix("__part=")
          // the manifest stores RAW partition values; a value hive had to
          // escape ('%XX') or null ('__HIVE_DEFAULT_PARTITION__') would
          // diverge from the raw value callers prune/replace with —
          // upsert would then silently drop the partition's old rows.
          // '%' raw in a value is itself escaped to %25, so any '%' here
          // means escaping happened.
          if (value.contains("%") || value == "__HIVE_DEFAULT_PARTITION__")
            throw new IllegalArgumentException(
              s"snapshots: partition column $c has a non-filesystem-plain " +
                s"or null value (dir '$value'); partition values must be " +
                "non-null and need no hive path escaping")
          moveFiles(pd.getPath, value)
        }
      case None => moveFiles(tmp, "")
    }
    fs.delete(tmp, true)
    // footer stats through FanOut: hundreds of serial driver round-trips
    // at commit time otherwise dominate wide partitioned commits on remote
    // storage (each is one footer read, independent of the others)
    val stats = graft.FanOut.map(spark, moved.toSeq)(m => footerStats(spark, m._1))
    moved.toSeq.zip(stats).map { case (m, st) => Entry(m._2, m._3, Some(st)) }
  }

  // ---- commits ----------------------------------------------------------

  /** Create version 1 from `df`. `partCol`, when given, must be a column
    * of `df` with non-null filesystem-plain string-castable values; it
    * becomes the manifest-pruning key for [[replacePartitions]] /
    * [[readPartitions]]. */
  def init(spark: SparkSession, dir: String, df: DataFrame,
           partCol: Option[String] = None): Int = {
    require(versions(spark, dir).isEmpty, s"snapshots: $dir already initialized")
    // a table wiped and re-init'd at the same path (derived artifacts in
    // a loop) must not serve the previous table's cached manifests — the
    // (mtime, length) validation can collide when the rebuild lands in
    // the same millisecond with identical byte length
    manifestCache.keys.filter(_._1 == dir).foreach(manifestCache.remove)
    val entries = poolWrite(spark, dir, clustered(df, partCol), partCol, v = 1)
    writeManifest(spark, dir, Manifest(1, partCol, df.schema.toDDL, entries))
    1
  }

  /** The batch's column set must equal the table's: poolWrite imposes the
    * manifest schema at read time, so a misnamed column would silently
    * read back as all-NULL forever (upsert already checks; append and
    * commitEpoch feed streaming sinks and must too). appendEvolve is the
    * explicit widening path. */
  private def requireSameColumns(cur: Manifest, df: DataFrame, op: String): Unit = {
    val table = org.apache.spark.sql.types.StructType.fromDDL(cur.schemaDdl)
      .fieldNames.toSet
    require(df.columns.toSet == table,
      s"snapshots: $op batch columns ${df.columns.sorted.mkString(",")} != " +
        s"table columns ${table.toSeq.sorted.mkString(",")} (use appendEvolve to widen)")
  }

  /** Append-only commit: new files join the current file list. */
  def append(spark: SparkSession, dir: String, df: DataFrame): Int = {
    val cur = manifest(spark, dir)
    requireSameColumns(cur, df, "append")
    val v = cur.version + 1
    val entries = poolWrite(spark, dir, clustered(df, cur.partCol), cur.partCol, v)
    writeManifest(spark, dir,
      Manifest(v, cur.partCol, cur.schemaDdl, cur.entries ++ entries, cur.epoch))
    v
  }

  /** Append with schema widening: columns of `df` that the table lacks
    * are ADDED to the table schema (existing files read them as null);
    * columns of the table that `df` lacks are null-filled in the written
    * files. A same-name column with a different type is rejected — type
    * evolution needs an explicit rewrite, not a silent cast. Old files
    * are untouched: evolution is a manifest-schema change, the 100 TB
    * no-rewrite property. */
  def appendEvolve(spark: SparkSession, dir: String, df: DataFrame): Int = {
    import org.apache.spark.sql.types.StructType
    val cur = manifest(spark, dir)
    val old = StructType.fromDDL(cur.schemaDdl)
    val oldByName = old.fields.map(f => f.name -> f).toMap
    df.schema.fields.foreach { f =>
      oldByName.get(f.name).foreach { o =>
        require(o.dataType == f.dataType,
          s"snapshots: column ${f.name} type change ${o.dataType} -> ${f.dataType} rejected")
      }
    }
    val widened = StructType(old.fields ++
      df.schema.fields.filterNot(f => oldByName.contains(f.name)))
    val aligned = df.select(widened.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val v = cur.version + 1
    val entries = poolWrite(spark, dir, clustered(aligned, cur.partCol), cur.partCol, v)
    writeManifest(spark, dir,
      Manifest(v, cur.partCol, widened.toDDL, cur.entries ++ entries, cur.epoch))
    v
  }

  /** Exactly-once streaming sink: commit micro-batch `df` as one snapshot
    * version stamped with its epoch id. A replayed epoch (stream died
    * between sink write and checkpoint commit, then restarted) is
    * detected by the stamp on the CURRENT manifest and skipped — the
    * foreachBatch idempotence contract without a separate ledger, because
    * the manifest chain IS the ledger. Every commit path CARRIES the
    * high-water epoch forward into its new manifest (append/compact/
    * replace interleaves, and vacuum retiring old manifests, can
    * therefore never lose the stamp — a replayed epoch after
    * compact+vacuum still reads it off the current manifest). Returns
    * the committed version, or None for a skipped replay. Single-writer
    * per table (one stream); epochs must be monotone, which Structured
    * Streaming guarantees. */
  def commitEpoch(spark: SparkSession, dir: String, df: DataFrame,
                  epochId: Long): Option[Int] = {
    val cur = manifest(spark, dir)
    requireSameColumns(cur, df, "commitEpoch")
    if (cur.epoch.exists(_ >= epochId)) return None
    val v = cur.version + 1
    val entries = poolWrite(spark, dir, clustered(df, cur.partCol), cur.partCol, v)
    writeManifest(spark, dir,
      Manifest(v, cur.partCol, cur.schemaDdl, cur.entries ++ entries, Some(epochId)))
    Some(v)
  }

  /** Copy-on-write partition replacement: every partition value present
    * in `df` is replaced by `df`'s rows for it; every other partition's
    * files are re-referenced BY PATH (no read, no copy, no rename). A
    * partition value in `dropValues` is removed without replacement. */
  def replacePartitions(spark: SparkSession, dir: String, df: DataFrame,
                        dropValues: Seq[String] = Seq.empty): Int = {
    val cur = manifest(spark, dir)
    replacePartitionsRaw(spark, dir, clustered(df, cur.partCol), dropValues, Some(cur))
  }

  /** [[replacePartitions]] WITHOUT the per-partition clustering — for
    * callers that crafted the physical layout themselves
    * ([[compactPartitions]]'s range-partitioned sort must survive to the
    * files). `base`, when given, PINS the version the caller's read-
    * modify-write started from: the commit targets base.version + 1, so
    * a concurrent commit landing in between makes writeManifest throw
    * ConcurrentModificationException instead of silently building the
    * new version on top of files the caller never read (lost update). */
  private def replacePartitionsRaw(spark: SparkSession, dir: String, df: DataFrame,
                                   dropValues: Seq[String] = Seq.empty,
                                   base: Option[Manifest] = None): Int = {
    val cur = base.getOrElse(manifest(spark, dir))
    val partCol = cur.partCol.getOrElse(
      throw new IllegalArgumentException(s"snapshots: $dir is not partitioned"))
    val v = cur.version + 1
    val newEntries = poolWrite(spark, dir, df, Some(partCol), v)
    val replaced = newEntries.map(_.partValue).toSet ++ dropValues
    val kept = cur.entries.filterNot(e => replaced.contains(e.partValue))
    writeManifest(spark, dir,
      Manifest(v, cur.partCol, cur.schemaDdl, kept ++ newEntries, cur.epoch))
    v
  }

  /** Keyed upsert on a versioned table: rows of `updates` replace
    * same-key rows in their own partition, new keys insert, published as
    * one snapshot commit. The batch must carry the full table schema,
    * including the partition column (that is what keeps a 100 TB upsert
    * from scanning the table: only the NAMED partitions are read, via
    * manifest pruning); a key that moves partitions must be delete +
    * insert. Readers are never constrained: old versions remain readable,
    * and the pre-mutation state is one time-travel read away — the
    * natural audit log for GDPR-style erasure. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
             keyCols: Seq[String]): Int =
    requireNonEmpty(keyedCommit(spark, dir, None, Some(updates), keyCols))

  /** Keyed delete on a versioned table: rows matching `deleteKeys` are
    * removed; `deleteKeys` must carry the partition column. A partition
    * left empty disappears from the new manifest. */
  def delete(spark: SparkSession, dir: String, deleteKeys: DataFrame,
             keyCols: Seq[String]): Int =
    requireNonEmpty(keyedCommit(spark, dir, Some(deleteKeys), None, keyCols))

  /** Combined keyed delete + upsert published as ONE snapshot commit:
    * exactly `delete(deleteKeys)` followed by `upsert(updates)`, minus a
    * whole read-modify-write cycle — the touched partitions are read once,
    * both key sets are anti-joined in one pass, and one pool write + one
    * manifest replace the two of each the sequential calls pay. The CDC
    * consumer ([[Materialized.applyFeed]]) applies a
    * change feed's deletes and inserts together, so at any scale this
    * halves the commit cost of following a mutating table. Either batch
    * may be empty (an empty side degrades to plain upsert/delete); when
    * both are empty no commit is made and None is returned. */
  def applyKeyed(spark: SparkSession, dir: String, deleteKeys: DataFrame,
                 updates: DataFrame, keyCols: Seq[String]): Option[Int] =
    keyedCommit(spark, dir, Some(deleteKeys), Some(updates), keyCols)

  private def requireNonEmpty(committed: Option[Int]): Int =
    committed.getOrElse(throw new IllegalArgumentException(
      "requirement failed: snapshots: empty batch"))

  /** The one keyed read-modify-write behind [[upsert]], [[delete]] and
    * [[applyKeyed]]: read only the partitions either side names, drop
    * every row whose key is in either side (broadcast anti-join), add the
    * updates, and replace exactly those partitions. Every touched
    * partition is in `dropValues`, so one left empty (pure deletes) leaves
    * the manifest. The read is PINNED to the current version: a commit
    * landing in between makes the manifest write raise
    * ConcurrentModificationException instead of silently building on
    * files this commit never read. None when both sides are empty.
    *
    * Each side is evaluated once. The updates are checked against the
    * manifest schema before any job runs; then each side is pinned
    * ([[graft.Pin]], one job each; the delete side projected to its keys
    * and partition column), and the partition-value job, the anti-join
    * build and the pool write all read the pins. Unpinned, a side whose
    * lineage is a diff or a join re-ran once per consumer (the updates
    * three times). The pins' counts answer the empty check, and the pins
    * are released in `finally`, on success and on failure. A lost pin
    * block fails the commit naming `Checkpoint block rdd_`, before any
    * manifest is written. */
  private def keyedCommit(spark: SparkSession, dir: String,
                          deleteKeys: Option[DataFrame], updates: Option[DataFrame],
                          keyCols: Seq[String]): Option[Int] = {
    require(keyCols.nonEmpty, "snapshots: keyCols must be non-empty")
    val cur = manifest(spark, dir)
    val partCol = cur.partCol.getOrElse(
      throw new IllegalArgumentException(s"snapshots: $dir is not partitioned"))
    deleteKeys.foreach(d => require(d.columns.contains(partCol),
      s"snapshots: deleteKeys must carry $partCol"))
    val tableCols = org.apache.spark.sql.types.StructType.fromDDL(cur.schemaDdl).fieldNames.toSeq
    updates.foreach(u => require(tableCols.toSet == u.columns.toSet,
      s"snapshots: updates schema ${u.columns.sorted.mkString(",")} != " +
        s"table schema ${tableCols.sorted.mkString(",")}"))
    val pins = ArrayBuffer.empty[graft.Pin]
    def pinned(df: DataFrame): DataFrame = { val p = graft.Pin(df); pins += p; p.df }
    try {
      val dels = deleteKeys.map(d => pinned(d.select((keyCols :+ partCol).distinct.map(col): _*)))
      val ups = updates.map(u => pinned(u.select(tableCols.map(col): _*)))
      if (pins.forall(_.rows == 0)) None
      else {
        val sides = dels.toSeq ++ ups
        val values = sides.map(_.select(col(partCol).cast("string"))).reduce(_ unionAll _)
          .distinct().collect().map(_.getString(0)).toSeq
        require(!values.contains(null), s"snapshots: null $partCol in keyed batch")
        val sorted = values.sorted
        val base = readPartitions(spark, dir, sorted, Some(cur.version))
        val rmKeys = sides.map(_.select(keyCols.map(col): _*)).reduce(_ unionAll _)
        val keep = base.join(broadcast(rmKeys), keyCols, "left_anti")
        val merged = ups.fold(keep)(keep.unionByName(_))
        Some(replacePartitionsRaw(spark, dir, clustered(merged, cur.partCol),
          dropValues = sorted, base = Some(cur)))
      }
    } finally pins.foreach(_.release())
  }

  /** Small-file compaction as a normal snapshot commit (the OPTIMIZE
    * analogue): rewrite each of `values`' partitions into `filesPer`
    * files — sorted within files by `sortBy` when given, which tightens
    * the per-file min/max ranges [[readWhere]] prunes on — and publish as
    * a new version. Built ON [[replacePartitions]], so there is NO reader
    * constraint: a reader holding the old manifest keeps its immutable
    * files until [[vacuum]] retention. Data is byte-identical (same rows, new file
    * boundaries); time travel to the pre-compaction version still works. */
  def compactPartitions(spark: SparkSession, dir: String, values: Seq[String],
                        filesPer: Int = 1, sortBy: Option[String] = None): Int = {
    require(filesPer >= 1, "snapshots: filesPer must be >= 1")
    val cur = manifest(spark, dir)
    val part = readPartitions(spark, dir, values, Some(cur.version))
    // range-partition + sort when a layout column is given: files get
    // DISJOINT [min,max] ranges, the best case for stats pruning
    val laid = sortBy match {
      case Some(c) => part.repartitionByRange(filesPer, col(c)).sortWithinPartitions(col(c))
      case None    => part.repartition(filesPer)
    }
    replacePartitionsRaw(spark, dir, laid, base = Some(cur))
  }

  /** The OPTIMIZE scheduling policy: compact exactly those partitions
    * whose live file count exceeds `maxFiles` (streaming ingest and keyed
    * upserts accrete a file per commit per touched partition; this is the
    * maintenance loop that keeps read amplification flat without ever
    * rewriting cold partitions). Metadata-only decision — the manifest
    * already knows every partition's file count; no storage listing, no
    * data read for the untouched ones. Returns the compacted partition
    * values (empty = nothing exceeded the threshold, no commit made). */
  def maybeCompact(spark: SparkSession, dir: String, maxFiles: Int = 8,
                   filesPer: Int = 1, sortBy: Option[String] = None): Seq[String] = {
    require(maxFiles >= 1, "snapshots: maxFiles must be >= 1")
    val hot = entryList(spark, dir, currentVersion(spark, dir))
      .groupBy(_.partValue).collect { case (v, es) if es.size > maxFiles => v }
      .toSeq.sorted
    if (hot.nonEmpty) compactPartitions(spark, dir, hot, filesPer, sortBy)
    hot
  }

  // ---- reads ------------------------------------------------------------

  private def readFiles(spark: SparkSession, dir: String, m: Manifest,
                        entries: Seq[Entry]): DataFrame =
    if (entries.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
    else
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
        .parquet(entries.map(e => s"$dir/${e.path}"): _*)

  /** The table at `version` (default: current). */
  def read(spark: SparkSession, dir: String, version: Option[Int] = None): DataFrame = {
    val m = manifest(spark, dir, version)
    readFiles(spark, dir, m, m.entries)
  }

  /** Manifest-level partition pruning: only files whose partition value
    * is in `values` are opened. Metadata-only — no footer reads, no
    * directory listing of the pool. */
  def readPartitions(spark: SparkSession, dir: String, values: Seq[String],
                     version: Option[Int] = None): DataFrame = {
    val m = manifest(spark, dir, version)
    require(m.partCol.isDefined, s"snapshots: $dir is not partitioned")
    val want = values.toSet
    readFiles(spark, dir, m, m.entries.filter(e => want.contains(e.partValue)))
  }

  /** Paths (relative) a given version references — for tests/tools. */
  def fileList(spark: SparkSession, dir: String, version: Int): Seq[(String, String)] =
    readManifest(spark, dir, version).map(_.files).getOrElse(Seq.empty)

  /** Full manifest entries incl. stats — for tests/tools. */
  def entryList(spark: SparkSession, dir: String, version: Int): Seq[Entry] =
    readManifest(spark, dir, version).map(_.entries).getOrElse(Seq.empty)

  /** Exact row count from manifest stats alone — zero files opened. At
    * 100 TB, `SELECT count(*)` is a metadata lookup, not a scan. Requires
    * every entry to carry stats (always true for manifests this code
    * wrote; a hand-edited manifest without them falls back to an error
    * rather than a silent wrong count). */
  def rowCount(spark: SparkSession, dir: String, version: Option[Int] = None): Long = {
    val m = manifest(spark, dir, version)
    m.entries.map(_.stats.getOrElse(throw new IllegalStateException(
      s"snapshots: entry without stats in v${m.version} — cannot metadata-count")).rows).sum
  }

  /** Stats-pruned range read: only files whose footer [min,max] for
    * `column` intersects [lo,hi] are opened (a file without stats for the
    * column is conservatively included), and the exact predicate is
    * re-applied to the surviving rows — pruning can only skip work, never
    * change the answer. The manifest is the file-skipping index: at
    * 100 TB a selective range over a sorted/z-ordered layout opens a
    * handful of files without listing or footer-probing the table. */
  def readWhere(spark: SparkSession, dir: String, column: String,
                lo: Long, hi: Long, version: Option[Int] = None): DataFrame = {
    val m = manifest(spark, dir, version)
    val hit = m.entries.filter { e =>
      e.stats match {
        case Some(fs) => (fs.mins.get(column), fs.maxs.get(column)) match {
          case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
          case _ => true // no stats for the column: cannot rule the file out
        }
        case None => true
      }
    }
    readFiles(spark, dir, m, hit).filter(col(column).between(lo, hi))
  }

  /** Partition values whose FILE SET changed between two versions —
    * metadata-only (two manifest reads, no Spark job, no file opened).
    * Copy-on-write commits rewrite a partition's files whenever any of
    * its rows change, so this is a conservative SUPERSET of the
    * partitions with row-level changes: a content-neutral rewrite
    * (compaction) names its partition here even though [[diff]] would
    * cancel to empty. Callers that RESTATE touched partitions from the
    * source ([[Materialized.reconcileAgg]]) converge either way, and at
    * 100 TB learning the touched set from manifests costs O(metadata)
    * where a data diff pays (changed files read) + an aggregate shuffle
    * before the first useful byte of work. */
  def changedPartitions(spark: SparkSession, dir: String, fromV: Int, toV: Int): Seq[String] = {
    val m1 = manifest(spark, dir, Some(fromV))
    val m2 = manifest(spark, dir, Some(toV))
    val common = m1.entries.map(_.path).toSet intersect m2.entries.map(_.path).toSet
    (m1.entries ++ m2.entries).filterNot(e => common(e.path))
      .map(_.partValue).distinct.sorted
  }

  /** Change-data-feed between two versions: every row inserted or deleted
    * from `fromV` to `toV`, tagged `_change` ∈ {insert, delete} (an update
    * surfaces as delete + insert). Because commits are copy-on-write at
    * file granularity, files common to both manifests CANNOT contribute
    * changes and are never read — the diff costs (changed files only) +
    * one aggregate shuffle over those rows, work ∝ the touched fraction,
    * not the table. This is what lets a downstream consumer (index
    * maintainer, replica, audit) follow a 100 TB table by reading deltas
    * instead of re-scanning.
    *
    * Both directions come from that one aggregate: added rows count +1,
    * removed rows −1, grouped by every column of the newer schema (nulls
    * group as equal); a row whose net count n is non-zero is emitted |n|
    * times, as insert for n > 0 and delete for n < 0: the bag difference
    * `exceptAll` gives in each direction, from one shuffle instead of
    * one per direction. */
  def diff(spark: SparkSession, dir: String, fromV: Int, toV: Int): DataFrame = {
    val m1 = manifest(spark, dir, Some(fromV))
    val m2 = manifest(spark, dir, Some(toV))
    val common = m1.entries.map(_.path).toSet intersect m2.entries.map(_.path).toSet
    val removed0 = readFiles(spark, dir, m1, m1.entries.filterNot(e => common(e.path)))
    val added = readFiles(spark, dir, m2, m2.entries.filterNot(e => common(e.path)))
    // across an appendEvolve boundary the older side is narrower:
    // null-fill to the newer schema so the bag difference is well-typed
    val s2 = org.apache.spark.sql.types.StructType.fromDDL(m2.schemaDdl)
    val removed = removed0.select(s2.fields.map { f =>
      if (removed0.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val cols = s2.fieldNames.toSeq.map(col)
    added.withColumn("__n", lit(1L)).unionByName(removed.withColumn("__n", lit(-1L)))
      .groupBy(cols: _*).agg(sum("__n").as("__n"))
      .filter(col("__n") =!= 0)
      .select(cols :+ explode(array_repeat(
        when(col("__n") > 0, lit("insert")).otherwise(lit("delete")),
        abs(col("__n")).cast("int"))).as("_change"): _*)
  }

  // ---- retention --------------------------------------------------------

  /** Drop all but the newest `keepLast` versions and delete every pool
    * file no retained manifest references (including orphans from lost
    * commit races and torn writes). Returns deleted pool-relative paths.
    * Operational constraints: no reader may hold a dropped version, and
    * `inFlightGraceMs` must exceed the longest possible commit — an
    * IN-FLIGHT commit's files (a pool dir beyond the current version, a
    * `.write-` tmp dir, a `.tmp-`/torn manifest) are referenced by no
    * manifest YET, and sweeping them would corrupt the version their
    * writer is about to publish. Anything younger than the grace window
    * is presumed in flight and skipped; 0 restores sweep-everything (only
    * safe when no writer can be concurrent). */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
             inFlightGraceMs: Long = 20 * 60 * 1000L): Seq[String] = {
    require(keepLast >= 1, "snapshots: keepLast must be >= 1")
    val fs = fsOf(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"snapshots: no committed version at $dir")
    val curV = vs.last
    val cutoff = System.currentTimeMillis() - inFlightGraceMs
    def settled(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime <= cutoff
    // tagged versions are pinned: a tag is a promise the version stays
    // readable, so retention never drops it
    val pinned = tags(spark, dir).values.toSet
    val (drop0, keep0) = vs.splitAt(math.max(0, vs.length - keepLast))
    val drop = drop0.filterNot(pinned)
    val keep = keep0 ++ drop0.filter(pinned)
    // live branches still reference base files through their ../../
    // entries — those files stay, whatever main's retention says
    val branchRefs = branches(spark, dir).flatMap { b =>
      val bd = branchDir(dir, b)
      versions(spark, bd).flatMap(v =>
        readManifest(spark, bd, v).get.files.map(_._1)
          .filter(_.startsWith("../../")).map(_.stripPrefix("../../")))
    }.toSet
    val referenced =
      keep.flatMap(v => readManifest(spark, dir, v).get.files.map(_._1)).toSet ++ branchRefs
    // delete dropped manifests first: a crash mid-vacuum must not leave a
    // manifest whose files are gone
    drop.foreach { v =>
      fs.delete(manifestPath(dir, v), false)
      manifestCache.remove((dir, v))
    }
    // sweep torn manifests: .tmp- leftovers AND numbered manifests with no
    // #end (a crashed direct writer / lost commit race) — a torn numbered
    // manifest would otherwise pin its version number forever, wedging
    // every future commit that targets it
    val md = new Path(s"$dir/$ManifestDir")
    fs.listStatus(md).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".tmp-")) { if (settled(st)) fs.delete(st.getPath, false) }
      else if (n.startsWith("v") && n.endsWith(".manifest")) {
        val v = n.stripPrefix("v").stripSuffix(".manifest").toInt
        if (readManifest(spark, dir, v).isEmpty && settled(st))
          fs.delete(st.getPath, false)
      }
    }
    val deleted = ArrayBuffer.empty[String]
    val dataRoot = new Path(s"$dir/$DataDir")
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { vd =>
        val vdName = vd.getPath.getName
        if (vd.isDirectory && vdName.startsWith(".write-")) {
          if (settled(vd)) { // else: a pool write in progress
            fs.delete(vd.getPath, true) // torn pool write
            deleted += s"$DataDir/$vdName"
          }
        } else if (vd.isDirectory) {
          // a pool dir BEYOND the current version belongs to a commit
          // whose manifest isn't published yet — in flight unless stale
          val inFlightDir = vdName.startsWith("v") &&
            vdName.stripPrefix("v").forall(_.isDigit) &&
            vdName.stripPrefix("v").toInt > curV && !settled(vd)
          if (!inFlightDir) {
            // dirs at or below the current version are decided: their
            // manifest exists, so an unreferenced file there is a lost
            // racer's leftover, sweepable immediately
            fs.listStatus(vd.getPath).foreach { f =>
              val rel = s"$DataDir/$vdName/${f.getPath.getName}"
              if (!referenced.contains(rel)) {
                fs.delete(f.getPath, false)
                deleted += rel
              }
            }
            if (fs.listStatus(vd.getPath).isEmpty) fs.delete(vd.getPath, false)
          }
        }
      }
    }
    deleted.toSeq
  }

  // ---- refs: tags & branches -------------------------------------------

  private val RefDir = "_refs"
  private val BranchRoot = "_branches"
  private def branchDir(dir: String, name: String) = s"$dir/$BranchRoot/$name"
  private def refName(name: String): String = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"snapshots: ref name '$name' must be filesystem-plain")
    name
  }

  /** Pin `version` (default: current) under an immutable name. Tags are
    * promises: [[vacuum]] never drops a tagged version, and re-tagging an
    * existing name fails (delete + re-create is the explicit override). */
  def tag(spark: SparkSession, dir: String, name: String,
          version: Option[Int] = None): Int = {
    val fs = fsOf(spark, dir)
    val v = version.getOrElse(currentVersion(spark, dir))
    require(readManifest(spark, dir, v).isDefined, s"snapshots: no version $v to tag")
    val p = new Path(s"$dir/$RefDir/${refName(name)}.tag")
    if (fs.exists(p))
      throw new IllegalStateException(s"snapshots: tag '$name' already exists")
    val out = fs.create(p, false)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** All tags as name → version. */
  def tags(spark: SparkSession, dir: String): Map[String, Int] = {
    val fs = fsOf(spark, dir)
    val rd = new Path(s"$dir/$RefDir")
    if (!fs.exists(rd)) Map.empty
    else fs.listStatus(rd).toSeq
      .filter(_.getPath.getName.endsWith(".tag"))
      .map { st =>
        val in = fs.open(st.getPath)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
          finally in.close()
        st.getPath.getName.stripSuffix(".tag") -> v
      }.toMap
  }

  def dropTag(spark: SparkSession, dir: String, name: String): Unit =
    fsOf(spark, dir).delete(new Path(s"$dir/$RefDir/${refName(name)}.tag"), false)

  /** The table at a tagged version. */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame = {
    val v = tags(spark, dir).getOrElse(name,
      throw new NoSuchElementException(s"snapshots: no tag '$name' at $dir"))
    read(spark, dir, Some(v))
  }

  /** ZERO-COPY branch: a new manifest chain at `_branches/<name>` whose
    * v1 references the base version's files in place (entries prefixed
    * `../../`, resolved through the branch dir — no data moves). Commits
    * on the branch (use [[branch]]'s returned dir with the ordinary
    * append/upsert/delete/read API) pool their data under the branch and
    * never touch main; main's [[vacuum]] counts live branch references,
    * so base files can't be swept out from under a branch. */
  def createBranch(spark: SparkSession, dir: String, name: String,
                   fromVersion: Option[Int] = None): String = {
    val bd = branchDir(dir, refName(name))
    require(versions(spark, bd).isEmpty, s"snapshots: branch '$name' already exists")
    val v = fromVersion.getOrElse(currentVersion(spark, dir))
    val base = readManifest(spark, dir, v).getOrElse(
      throw new NoSuchElementException(s"snapshots: no version $v to branch from"))
    val entries = base.entries.map(e => e.copy(path = s"../../${e.path}"))
    writeManifest(spark, bd, Manifest(1, base.partCol, base.schemaDdl, entries))
    bd
  }

  /** The branch's table directory (pass to any Snapshots API). */
  def branch(dir: String, name: String): String = branchDir(dir, refName(name))

  /** Live branch names. */
  def branches(spark: SparkSession, dir: String): Seq[String] = {
    val fs = fsOf(spark, dir)
    val br = new Path(s"$dir/$BranchRoot")
    if (!fs.exists(br)) Seq.empty
    else fs.listStatus(br).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Fast-forward merge: adopt the branch head as main's next version.
    * Requires main to be UNCHANGED since the branch's base (same file
    * set) — a diverged main needs a semantic merge this layer does not
    * invent.
    *
    * Crash-safety ordering: branch-local data files are COPIED (not
    * renamed) into main's pool, THEN main's manifest is written, and only
    * then is the branch deleted. A crash at any point leaves both main
    * and the branch readable — before the manifest write, main is
    * unchanged and the branch still owns its files (the half-copied pool
    * files are referenced by no manifest, so vacuum sweeps them); after
    * it, main's new version owns its own copies and the surviving branch
    * is merely redundant. A rename would instead leave the branch
    * manifest pointing at moved-away files. */
  def mergeBranch(spark: SparkSession, dir: String, name: String): Int = {
    val fs = fsOf(spark, dir)
    val bd = branchDir(dir, refName(name))
    val bv = currentVersion(spark, bd)
    val head = readManifest(spark, bd, bv).get
    val base = readManifest(spark, bd, 1).get
    val mainV = currentVersion(spark, dir)
    val main = readManifest(spark, dir, mainV).get
    val baseRefs = base.files.map(_._1).map(_.stripPrefix("../../")).toSet
    require(main.files.map(_._1).toSet == baseRefs,
      s"snapshots: main advanced since branch '$name' was created — " +
        "fast-forward merge impossible; rebase or merge semantically")
    val v = mainV + 1
    val destRoot = new Path(s"$dir/$DataDir/${vName(v)}")
    fs.mkdirs(destRoot)
    val conf = spark.sparkContext.hadoopConfiguration
    val merged = head.entries.zipWithIndex.map { case (e, i) =>
      if (e.path.startsWith("../../")) e.copy(path = e.path.stripPrefix("../../"))
      else {
        val src = new Path(s"$bd/${e.path}")
        val destName = f"m$i%05d-${src.getName}"
        val dest = new Path(destRoot, destName)
        if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dest,
            /* deleteSource = */ false, /* overwrite = */ true, conf))
          throw new java.io.IOException(s"snapshots: cannot adopt $src into main pool")
        e.copy(path = s"$DataDir/${vName(v)}/$destName")
      }
    }
    writeManifest(spark, dir,
      Manifest(v, head.partCol, head.schemaDdl, merged, main.epoch))
    fs.delete(new Path(bd), true)
    if (fs.listStatus(new Path(s"$dir/$BranchRoot")).isEmpty)
      fs.delete(new Path(s"$dir/$BranchRoot"), false)
    v
  }

  /** Discard a branch and its local data (base files are untouched). */
  def dropBranch(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.delete(new Path(branchDir(dir, refName(name))), true)
  }
}
