package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Reference-parity ingestion: the readers, key assignment, and stream
  * splitting of the reference pipeline, re-expressed as lazy DataFrame
  * transforms (SURVEY §2.1 S3-S7, P1-P2, K1; §3 EP1).
  *
  * The reference's 3-stage queue topology (reader → datum worker → LMDB
  * writer, `/root/reference/serialize.py:403-407, 622-634`) collapses into
  * one declarative chain: `read → withKey → split streams → write.parquet`.
  * Catalyst pipelines the narrow ops; input-split parallelism replaces the
  * (broken) thread-per-stream readers.
  *
  * Intentional fixes over the reference (SURVEY §2.1 bug list): keys are
  * numeric and ordered numerically (not lexicographic strings); file lists
  * are explicitly sorted (not os.listdir order); the text reader works.
  *
  * Each binary-file source directory is listed ONCE, on the driver: the
  * three image readers load the directory itself, never a file glob. A
  * glob expands to one root path per file, and above Spark's
  * `parallelPartitionDiscovery.threshold` (32) roots every load re-stats
  * them in an N-task "Listing leaf files" job — N HEAD requests on object
  * storage, for files the glob has just listed (1.9 s of a 3.6 s
  * 400-image serialize at 4 cores).
  */
object Ingest {

  // ---- K1: key assignment ----------------------------------------------
  /** Dense 1-based key in the given order — exact reference parity
    * (`serialize.py:30-32, 51-55`). Global row_number ⇒ single-partition
    * window: correct at any scale but serializes one pass; use
    * [[withScalableKey]] for bulk ingest where density matters but a
    * global sort does not. */
  def withDenseKey(df: DataFrame, order: Seq[Column], keyName: String = "key"): DataFrame =
    df.withColumn(keyName, row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** Dense 1-based key without a global sort: a cheap count-per-partition
    * job yields cumulative offsets, broadcast-joined back on
    * `spark_partition_id()` and added to the intra-partition position
    * (the low 33 bits of `monotonically_increasing_id()`, which is
    * `pid << 33 | position` by construction). The zipWithIndex
    * construction without its detour through an RDD of deserialized Rows
    * (the former `df.rdd.zipWithIndex` exits columnar execution for every
    * row): the count pass only counts the internal rows of a column-free
    * projection, and the keyed pass stays in the DataFrame API, inside
    * Tungsten/whole-stage codegen.
    * Order = partition order (deterministic for sorted file scans).
    * This is the 100 TB path: two narrow passes, no data shuffle —
    * the count pass is one job with no shuffle (each task returns its
    * partition's row count), the offset join is a broadcast. */
  def withScalableKey(df: DataFrame, keyName: String = "key"): DataFrame =
    withScalableKeyCounted(df, keyName)._1

  /** [[withScalableKey]] plus the exact row count the offset pass already
    * computed — callers needing both (positional alignment checks) get
    * the count for zero extra jobs. */
  private[graft] def withScalableKeyCounted(df: DataFrame,
                                            keyName: String = "key"): (DataFrame, Long) = {
    val spark = df.sparkSession
    // one job, no exchange: an aggregate on spark_partition_id() plans as
    // a shuffle-map job, an adaptive re-plan and a result job. No column
    // is projected and no internal row is deserialized; the count is a
    // Long (Iterator.size counts in an Int).
    val counts = df.select().queryExecution.toRdd
      .mapPartitionsWithIndex { (p, rows) =>
        var n = 0L
        while (rows.hasNext) { rows.next(); n += 1 }
        Iterator(p -> n)
      }
      .collect()
    var acc = 0L
    val offsets = counts.map { case (p, n) => val o = acc; acc += n; Row(p, o) }
    // LocalRelation (not parallelize): the broadcast side is driver-local
    // literal data and should plan as a LocalTableScan, no RDD node
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offsets: _*),
      StructType(Seq(StructField("_pid", IntegerType, nullable = false),
        StructField("_off", LongType, nullable = false))))
    // LEFT join + loud assert: the two passes evaluate df independently,
    // and a partition id appearing only in the second pass (recomputed
    // nondeterministic source, AQE re-coalesce) would be silently DROPPED
    // by an inner join — wrong record count with no error
    val keyed = df.withColumn("_pid", spark_partition_id())
      .withColumn("_pos", monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(offDf), Seq("_pid"), "left")
      .filter(assert_true(col("_off").isNotNull,
        lit("withScalableKey: partition set changed between the count and key passes")).isNull)
      .withColumn(keyName, col("_off") + col("_pos") + lit(1L))
      .drop("_pid", "_pos", "_off")
    (keyed, acc)
  }

  // ---- S6/S7: tabular scans ---------------------------------------------
  /** CSV scan, header + inferred schema (`serialize.py:118-123`). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** JSON scan: list-of-dicts, or `{dataKey: [dicts...]}` when `dataKey`
    * is given (`serialize.py:124-141, 198-215`). The reference json.load()s
    * whole documents, so multiLine mode is the faithful reading. */
  def readJson(spark: SparkSession, path: String, dataKey: Option[String] = None): DataFrame = {
    val df = spark.read.option("multiLine", "true").json(path)
    dataKey.fold(df)(k => df.select(explode(col(k)).as("_rec")).select(col("_rec.*")))
  }

  /** A robust scan split into parsed rows and quarantined raw lines.
    * `good`/`bad` share ONE cached parse of the input (Spark refuses a
    * query whose required columns are only the internal corrupt-record
    * column, and the cache makes the split one parse pass, not two);
    * call [[QuarantinedScan.release]] after the sinks are written. */
  final case class QuarantinedScan(good: DataFrame, bad: DataFrame,
                                   private val parsed: DataFrame) {
    def release(): Unit = parsed.unpersist()
  }

  /** `read` with `schema` in PERMISSIVE mode, malformed lines landing in
    * one extra corrupt-record column, split by [[QuarantinedScan]]. */
  private def quarantine(spark: SparkSession, schema: StructType)
                        (read: DataFrameReader => DataFrame): QuarantinedScan = {
    val corrupt = "_graft_corrupt"
    val cached = read(spark.read.schema(schema.add(corrupt, StringType))
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", corrupt)).cache()
    QuarantinedScan(
      cached.filter(col(corrupt).isNull).drop(corrupt),
      cached.filter(col(corrupt).isNotNull).select(col(corrupt).as("raw")),
      cached)
  }

  /** Line-delimited JSON scan with malformed-record quarantine — the
    * robust bulk-ingest path. The reference json.load()s a whole document
    * and dies on the first bad byte (`serialize.py:124-141`); at 100 TB a
    * feed WILL contain torn lines and schema drift, and one bad record
    * must cost one quarantined row, not the job. `good` = rows parsed
    * against `schema`; `bad` = the raw text of every line that failed,
    * ready for a quarantine sink. */
  def readJsonlRobust(spark: SparkSession, path: String, schema: StructType): QuarantinedScan =
    quarantine(spark, schema)(_.json(path))

  /** CSV scan with malformed-record quarantine (robust variant of
    * [[readCsv]]; same contract as [[readJsonlRobust]]). `schema` is
    * explicit — at scale the schema is a contract, not an inference. */
  def readCsvRobust(spark: SparkSession, path: String, schema: StructType): QuarantinedScan =
    quarantine(spark, schema)(_.option("header", "true").csv(path))

  // ---- P1: label pop ------------------------------------------------------
  /** Split a keyed table into (inputs, labels) on the label column
    * (`serialize.py:146-154`). Both sides keep the key; alignment is by
    * construction, no runtime join. */
  def popLabel(df: DataFrame, labelCol: String, keyName: String = "key"): (DataFrame, DataFrame) =
    (df.drop(labelCol), df.select(col(keyName), col(labelCol)))

  // ---- P2: row → float32 vector -------------------------------------------
  /** All given columns cast to float32 and packed into one array column —
    * the reference's universal value coercion (`serialize.py:156-166, 304`).
    * Pure expression: stays in whole-stage codegen. */
  def toFeatureVector(df: DataFrame, cols: Seq[String], out: String = "features"): DataFrame =
    df.withColumn(out, array(cols.map(c => col(c).cast("float")): _*))

  // ---- binary-file sources (S3, S4, S5) ------------------------------------
  private val scheme = "^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?"

  /** The `binaryFile` rows of every file under `dir` whose name ends in
    * `ext`, `minDepth` or `minDepth + 1` levels below it: what a glob of
    * `minDepth` stars matched (the files at that depth, plus the direct
    * files of directories there). ONE root path, so one driver listing
    * (see the object doc). `recursiveFileLookup` also turns off partition
    * inference, which fails on a `k=v` directory. Names starting with `_`
    * or `.` are skipped at every level (Spark's hidden-path rule). Throws,
    * as an empty glob did, when no file qualifies. */
  private def binaryFiles(spark: SparkSession, dir: String, ext: String = "",
                          minDepth: Int = 1): DataFrame = {
    val root = new Path(dir)
    val rootDepth = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root).depth()
    val depths = Seq(minDepth, minDepth + 1).map(_ + rootDepth)
    val scan = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .option("pathGlobFilter", s"*$ext").load(dir)
    require(scan.inputFiles.exists(f => depths.contains(new Path(f).depth())),
      s"no file named *$ext at depth $minDepth under $dir")
    scan.filter((size(split(regexp_replace(col("path"), scheme, ""), "/")) - 1).isin(depths: _*))
  }

  // ---- S3: single-input image directory scan -------------------------------
  /** `dir/<label>/<img>` layout: binary scan + label from the parent dir
    * (`serialize.py:44-64`). Keys follow sorted (label, path) order. */
  def readImageDir(spark: SparkSession, dir: String): DataFrame = {
    val df = binaryFiles(spark, dir, minDepth = 2)
      .select(col("path"), element_at(split(col("path"), "/"), -2).as("slabel"), col("content"))
    withDenseKey(df, Seq(col("slabel"), col("path")))
      .select("key", "path", "slabel", "content")
  }

  /** S4: n-images-per-record: `dir/<stream>/<label>/<img>`; the i-th
    * (sorted) file of each label in each stream forms one record
    * (`serialize.py:66-113`, sorted zip at :91). One wide row per record:
    * a struct column per stream. */
  def readImageStreams(spark: SparkSession, dir: String): DataFrame = {
    val scan = binaryFiles(spark, dir, minDepth = 3)
      .select(
        element_at(split(col("path"), "/"), -3).as("stream"),
        element_at(split(col("path"), "/"), -2).as("slabel"),
        col("path"), col("content"))
    // position of the file within its (stream, label) bucket, sorted —
    // this is the record-forming zip; a narrow per-bucket window.
    val ranked = scan.withColumn("pos",
      row_number().over(Window.partitionBy("stream", "slabel").orderBy("path")))
    val wide = ranked.groupBy("slabel", "pos")
      .pivot("stream")
      .agg(first(struct(col("path"), col("content"))))
    // ragged streams: the reference's sorted zip truncates each label to
    // its SHORTEST stream (serialize.py:91) — the pivot instead keeps the
    // longer stream's tail rows with NULL structs for the missing side,
    // which would hand null images to the training consumer
    val streamCols = wide.columns.filterNot(Set("slabel", "pos"))
    val complete =
      if (streamCols.isEmpty) wide
      else wide.filter(streamCols.map(col(_).isNotNull).reduce(_ && _))
    withDenseKey(complete, Seq(col("slabel"), col("pos"))).drop("pos")
  }

  /** One S5 stream: the binding-table column holding the file stem, plus
    * the directory and extension that turn a stem into a path — the
    * reference's per-stream `directory`/`binding_field`/`extension` spec
    * (`serialize.py:570-580,596-605`). */
  final case class BindingStream(field: String, dir: String, ext: String)

  /** S5: binding-driven scan: a binding table column holds the file stem
    * per record per stream; path = `dir/<stem><ext>`
    * (`serialize.py:28-40, 504-567`). Returns the keyed binding rows
    * joined with each stream's binary content. */
  def readWithBinding(spark: SparkSession, binding: DataFrame, streamCols: Seq[String],
                      dir: String, ext: String): DataFrame =
    readWithBinding(spark, binding, streamCols.map(BindingStream(_, dir, ext)))

  /** S5 with per-stream directories/extensions — the full reference spec,
    * where each `input`/`output` entry names its own `directory` and
    * `extension` (`serialize.py:570-580`). */
  def readWithBinding(spark: SparkSession, binding: DataFrame,
                      streams: Seq[BindingStream]): DataFrame = {
    val keyed = withDenseKey(binding, streams.map(s => col(s.field)))
    streams.foldLeft(keyed) { (acc, s) =>
      val absDir = new java.io.File(s.dir).getAbsolutePath.stripSuffix("/")
      val c = s.field
      // binaryFile reports URIs (file:/…); strip the scheme so the join key
      // matches the filesystem path derived from the binding stem.
      val scan = binaryFiles(spark, s.dir, s.ext)
        .select(regexp_replace(col("path"), scheme, "").as(s"${c}_path"),
          col("content").as(s"${c}_content"))
      // LEFT join + loud failure on a dangling stem: the binding table is
      // the record-count contract (one record per binding row,
      // `serialize.py:31-37`) — an inner join would silently DROP rows
      // whose file is missing from the archive, and the dense keys above
      // would hide the loss downstream. The check is a FILTER (assert_true
      // under a predicate), not a projected column: projections get pruned
      // by aggregates like count(), predicates always evaluate.
      acc.withColumn(s"${c}_path", concat(lit(s"$absDir/"), col(c), lit(s.ext)))
        .join(scan, Seq(s"${c}_path"), "left")
        .filter(assert_true(col(s"${c}_content").isNotNull,
          concat(lit(s"readWithBinding: binding stem has no file: "),
            col(s"${c}_path"))).isNull)
    }
  }

  // ---- text corpus (S7 text branch + P4) -----------------------------------
  /** Text column selection: `options['text']` else first column
    * (`serialize.py:222-224`). */
  def selectTextColumn(df: DataFrame, textCol: Option[String]): Column =
    col(textCol.getOrElse(df.columns.head))

  /** P4: bag-of-words — corpus-wide vocabulary fit, then per-doc term
    * counts (`serialize.py:220-231`, sklearn CountVectorizer with token
    * pattern \b\w+\b). Fully distributed two-pass op — at web scale the
    * vocabulary is 10⁷-10⁸ terms, so it must stay a TABLE, never a
    * driver-collected literal:
    *
    *   pass 1  distinct tokens, range-sort-partitioned lexicographically
    *           (sklearn order), 0-based ids by the columnar two-pass key
    *           ([[withScalableKey]]) — no single-partition window, no
    *           collect; the sorted layout is pinned ([[graft.Pin]],
    *           a lineage cut), not a cache: range
    *           boundaries are re-sampled per execution (the q66 lesson),
    *           and a cache entry evicted while the returned frames are
    *           still live would silently recompute a DIFFERENT layout
    *           against the already-collected offsets — the pin
    *           makes every downstream action read the one materialized
    *           layout, fails LOUDLY if its blocks are lost, and holds no
    *           session-lifetime CacheManager pin;
    *   pass 2  explode → per-(key, term) counts → shuffle join against the
    *           vocab table for ids → sparse sorted (idx, cnt) list per row.
    *
    * Work is O(tokens), not O(|V|·rows); the reference's dense vectors are
    * reconstructible via [[denseBow]] (export/parity helper).
    *
    * Returns (vocab table `(id, term)`, df + `out`:
    * array<struct<idx: long, cnt: float>> sorted by idx; empty array for
    * token-less rows). */
  def bagOfWords(df: DataFrame, textCol: String, keyCol: String = "key",
                 out: String = "bow"): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val toks = graft.functions.TextAnalysis.tokens(lower(col(textCol)))
    // ONE tokenization pass: the per-(key, term) counts are pinned, then
    // BOTH the vocab (distinct terms) and the sparse rows derive from
    // them — without this the corpus-wide regexp tokenize (the
    // operator's dominant CPU cost) ran twice
    val counts = graft.Pin(df.select(col(keyCol), explode(toks).as("term"))
      .groupBy(keyCol, "term").count()).df
    // ids follow the global sort: explicit range partitioning + local
    // sort (NOT orderBy — a sort the optimizer may drop or re-plan in
    // either key pass), partition count pinned so AQE cannot
    // coalesce the two passes differently, layout pinned so
    // EVERY pass and every later caller action reads ONE boundary sample
    // (see the scaladoc for why a pin, not a cache)
    val nPart = spark.sessionState.conf.numShufflePartitions
    val sorted = graft.Pin(counts.select("term").distinct()
      .repartitionByRange(nPart, col("term"))
      .sortWithinPartitions("term")).df
    val vocab = withScalableKey(sorted, "id")
      .select(col("term"), (col("id") - 1L).as("id"))
    val sparse = counts.join(vocab, "term")
      .groupBy(keyCol)
      .agg(sort_array(collect_list(struct(
        col("id").as("idx"), col("count").cast("float").as("cnt")))).as(out))
    val empty = array().cast("array<struct<idx: bigint, cnt: float>>")
    (vocab, df.join(sparse, Seq(keyCol), "left")
      .withColumn(out, coalesce(col(out), empty)))
  }

  /** Dense reconstruction of a [[bagOfWords]] sparse row — the reference's
    * per-doc O(|V|) vector, for export/parity at small |V| only (a dense
    * web-scale vocab vector is exactly the layout bagOfWords avoids). */
  def denseBow(df: DataFrame, bowCol: String, vocabSize: Long,
               out: String = "bow_dense"): DataFrame = {
    // sequence(0, -1) is the DESCENDING [0, -1] in Spark — an empty vocab
    // must short-circuit, not produce a 2-wide "dense" vector
    require(vocabSize > 0, "denseBow needs a non-empty vocabulary")
    df.withColumn("_m", map_from_entries(col(bowCol)))
      .withColumn(out, transform(sequence(lit(0L), lit(vocabSize - 1)),
        i => coalesce(element_at(col("_m"), i), lit(0.0f))))
      .drop("_m")
  }
}
