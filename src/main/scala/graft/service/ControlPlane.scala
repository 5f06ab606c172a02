package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.Tables
import graft.ingest.{Archive, BatchExport, Ingest}

/** HTTP control plane — the thin service shim over the library API,
  * reproducing the reference's only user interface
  * (`/root/reference/server.py:42-88,176-205`): a single resource at
  * `/download` whose GET is a status poll and whose POST carries a JSON
  * `command` of `serialize` (fetch zip → extract → scan → sink) or
  * `deserialize` (open the sunk dataset and drive the batched export,
  * the engine's training hand-off, D1–D3).
  *
  * State machine (reference `serialized_flag`/`data` flags, `server.py:
  * 57-88`): Idle → Serializing → Serialized → Training → Trained, plus
  * Failed. Response strings match the reference's where a state exists
  * on both sides. Intentional fixes over the reference: a failed
  * download resets to Idle instead of wedging the flags (`server.py`
  * leaves `self.data` set, so a typo'd URL bricks the server until
  * restart), the download happens ONCE (the reference downloads every
  * archive twice — `urlretrieve` then a manual loop, `server.py:96-99`),
  * and training has its own observable status (the reference reports
  * "serialization complete" forever while training runs).
  *
  * Scale note: this is a CONTROL plane — the data plane stays entirely
  * in Spark jobs it launches. The servlet threads never hold rows; the
  * serialize job's output is the parquet sink ([[Tables.save]]), and
  * deserialize streams one batch at a time ([[BatchExport.epoch]]).
  * Jobs run on one background thread: the reference service is
  * single-dataset by construction (module-level LMDB_DIR), and we keep
  * that contract rather than invent a multi-tenant scheduler here. An S5
  * serialize fans its source passes out from that thread through
  * [[graft.FanOut]] (the reference's one reader thread per stream).
  */
final class ControlPlane(spark: SparkSession, workDir: String, port: Int = 0) {
  import ControlPlane._

  @volatile private var state: State = Idle
  /** Guards check-then-act state transitions: the handler pool is
    * multi-threaded (unlike the reference's single-threaded reactor, which
    * serializes `render_POST` for free), so two concurrent serialize
    * POSTs must not both observe Idle and both start jobs. */
  private val transition = new Object
  /** Atomically move `from` → `to`; false if the state changed meanwhile. */
  private def tryTransition(from: State => Boolean, to: State): Boolean =
    transition.synchronized {
      if (from(state)) { state = to; true } else false
    }
  /** Shapes reported by the last completed training hand-off. */
  @volatile private var lastShapes: Map[String, Seq[Int]] = Map.empty
  @volatile private var lastReport: Option[graft.ml.MimoTrainer.Report] = None
  private var server: HttpServer = _
  private var handlers: java.util.concurrent.ExecutorService = _

  private val zipPath = s"$workDir/datasets/dataset.zip"
  private val dataDir = s"$workDir/datasets/dataset"
  /** Parquet successor of the reference's `lmdb/datumdb` sink dir. */
  val sinkDir = s"$workDir/lmdb"
  private val sinkName = "datumdb"

  def currentState: State = state
  def shapes: Map[String, Seq[Int]] = lastShapes
  /** Loss curve of the last completed fit (M1). */
  def trainReport: Option[graft.ml.MimoTrainer.Report] = lastReport

  /** True when a previous serialize committed its parquet sink. A write
    * job that failed leaves the directory without `_SUCCESS`. */
  private def sinkExists: Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sinkDir/$sinkName.parquet", "_SUCCESS"))

  /** Start listening; returns the bound port (ephemeral when `port`=0). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    // restart recovery: a sink persisted by a previous process IS the
    // Serialized state — without this, the on-disk sink (which carries
    // the S5 stream roles in its own schema) could never be deserialized
    if (state == Idle && sinkExists) state = Serialized
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/download", (ex: HttpExchange) => handle(ex))
    handlers = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(handlers)
    server.start()
    server.getAddress.getPort
  }

  /** Stop listening and release the handler pool: its threads are
    * non-daemon, so a stopped instance must not leave them running. */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0); server = null
      handlers.shutdown()
      handlers.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      handlers = null
    }
  }

  private def respond(ex: HttpExchange, text: String, code: Int = 200): Unit = {
    val bytes = text.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** A positive-int request option: absent → default, present-and-valid
    * → value, anything else → None (the caller's invalid-command path). */
  private def posIntField(req: JValue, name: String, default: Int): Option[Int] =
    req \ name match {
      case JInt(n) if n >= 1 && n <= Int.MaxValue => Some(n.toInt)
      case JString(s) => s.toIntOption.filter(_ >= 1)
      case JNothing | JNull => Some(default)
      case _ => None
    }

  private def handle(ex: HttpExchange): Unit =
    try {
      ex.getRequestMethod match {
        case "GET"  => respond(ex, statusText)
        case "POST" => handlePost(ex)
        case _      => respond(ex, "Please provide a valid command.", 405)
      }
    } catch {
      case e: Exception => respond(ex, s"Error: ${e.getMessage}\n", 500)
    }

  private def statusText: String = state match {
    case Idle          => "Send a POST request to the same address to serialize the data.\n"
    case Serializing   => "Serializing the data. Try again later.\n"
    case Serialized    => "Data Serialization complete!.\n" // sic — server.py:188
    case Training      => "Training in progress.\n"
    case Trained       => "Training complete.\n"
    case Failed(why)   => s"Failed: $why\n"
  }

  private def handlePost(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val req = JsonMethods.parseOpt(body).getOrElse(JNothing)
    def str(field: String): Option[String] =
      req \ field match { case JString(s) => Some(s); case _ => None }
    str("command") match {
      case Some("serialize") =>
        state match {
          case Serializing => respond(ex, statusText)
          case Serialized | Training | Trained =>
            respond(ex, "Serialization already done. You can deserialize it now.")
          case _ => str("url") match {
            case None => respond(ex, "Please provide a valid command.")
            case Some(url)
              if tryTransition(s => s == Idle || s.isInstanceOf[Failed], Serializing) =>
              // Reference shape (server.py:64,150-153): respond when the
              // download lands; serialization continues in background.
              try Archive.fetch(url, zipPath)
              catch {
                case _: Exception =>
                  state = Idle // fixed: reference wedges here
                  respond(ex, "Error downloading dataset.")
                  return
              }
              val job = new Thread(() => runSerialize(req), "graft-serialize")
              job.setDaemon(true)
              job.start()
              respond(ex, "Dataset downloaded.")
            // lost the transition race to a concurrent POST: poll semantics
            case Some(_) => respond(ex, statusText)
          }
        }
      case Some("deserialize") =>
        // parse + validate BEFORE the state transition: a bad batch_size
        // or epochs after moving to Training would wedge the machine
        // there forever (the job thread that could transition out is
        // never created)
        val batchSize = posIntField(req, "batch_size", default = 32)
        val epochs = posIntField(req, "epochs", default = 1) // keras_mimo.py:14
        if (batchSize.isEmpty || epochs.isEmpty) respond(ex, "Please provide a valid command.")
        // a FAILED train may retry as long as the sink survives — the
        // serialized data is intact, re-downloading the archive to get
        // out of Failed would be pure waste
        else if (tryTransition(s => s == Serialized || s == Trained ||
            (s.isInstanceOf[Failed] && sinkExists), Training)) {
          val job = new Thread(() => runTrainingHandOff(batchSize.get, epochs.get), "graft-train")
          job.setDaemon(true)
          job.start()
          respond(ex, "Started training. Sit back.")
        } else state match {
          case Training => respond(ex, statusText)
          case _ => respond(ex, "Cannot deserialize before serialization.")
        }
      case _ => respond(ex, "Please provide a valid command.")
    }
  }

  /** The serialize job: extract the staged zip, scan it with the layout
    * the request selects — S5 binding-table when `image_binding` is
    * present (`serialize.py:504-567`), else S3 single-input dir vs S4
    * n-per-record streams (`server.py:131-146`) — and sink to parquet. */
  private def runSerialize(req: JValue): Unit =
    try {
      Archive.extractZip(zipPath, dataDir)
      req \ "image_binding" match {
        case spec: JObject =>
          val (scanned, ins, outs) = readBindingLayout(req, spec)
          // W2: the reference reserves LMDB map_size here (serialize.py:
          // 438-442, du×100); the parquet successor asks the same
          // question as a loud pre-flight instead of a reservation —
          // from the INPUT footprint, so no extra scan of the source
          preflightSinkOrRefuse(scanned)
          // the roles travel in the sink's own schema, committed with it
          Tables.save(withRoles(scanned, ins, outs), sinkDir, sinkName)
        case _ =>
          val nInputPerRecord = req \ "input" match {
            case JArray(specs) if specs.length > 1 => specs.length
            case JArray(List(one)) =>
              one \ "nInputPerRecord" match { case JInt(n) => n.toInt; case _ => 1 }
            case _ => 1
          }
          val scanned =
            if (nInputPerRecord > 1) Ingest.readImageStreams(spark, dataDir)
            else Ingest.readImageDir(spark, dataDir)
          preflightSinkOrRefuse(scanned) // W2 pre-flight (see above)
          Tables.save(scanned, sinkDir, sinkName)
      }
      state = Serialized
    } catch {
      case e: Exception => state = Failed(s"serialize: ${e.getMessage}")
    }

  /** W2 sink pre-flight at a safety factor of 1.5, with a precision
    * fallback. The input-footprint check is scan-free but OVER-states
    * compressible sinks (numeric/text streams compress several-fold in
    * parquet), so a volume with 1.0–1.5× the input's free space would
    * refuse a serialize that succeeds. So when the cheap input-footprint
    * check refuses, we re-judge with the sampled REAL-codec estimate
    * ([[Tables.requireSinkFits]]) before refusing — the count + sample
    * write is paid only in the borderline case. */
  private def preflightSinkOrRefuse(scanned: org.apache.spark.sql.DataFrame): Unit = {
    try { Tables.requireSinkFitsFromInput(dataDir, sinkDir, safetyFactor = 1.5); () }
    catch {
      case footprint: IllegalStateException =>
        try { Tables.requireSinkFits(scanned, sinkDir, safetyFactor = 1.5); () }
        catch {
          case _: IllegalStateException =>
            // both estimates refuse: report the footprint one — it names
            // the input dir, which is what the operator can act on
            throw footprint
        }
    }
  }

  import ControlPlane.SideStream

  /** S5: resolve the binding table (csv or json, optional `data_key` —
    * `serialize.py:504-567`) and every declared `input`/`output` stream:
    * image streams via `binding_field`/`directory`/`extension`
    * (`serialize.py:570-580`), numeric/text streams from their own files
    * (`serialize.py:583-612`); an unknown dataType is a hard error, the
    * reference's `sys.exit(-1)` (`serialize.py:592-594`). Returns the
    * scanned records plus the request's input/output content columns,
    * in declared order, so the training hand-off feeds the streams the
    * request declared, not the slabel convention of the dir layouts. */
  private def readBindingLayout(req: JValue, spec: JObject)
      : (org.apache.spark.sql.DataFrame, Seq[String], Seq[String]) = {
    val file = spec \ "file" match {
      case JString(f) => f
      case _ => throw new IllegalArgumentException("image_binding needs a 'file'")
    }
    val dataKey = spec \ "data_key" match { case JString(k) => Some(k); case _ => None }
    val bindingPath = s"$dataDir/$file"
    val readBinding = () =>
      if (file.endsWith(".csv")) Ingest.readCsv(spark, bindingPath)
      else Ingest.readJson(spark, bindingPath, dataKey)
    def streamsOf(field: String): Seq[Either[Ingest.BindingStream, SideStream]] =
      req \ field match {
        case JArray(specs) => specs.map {
          case s: JObject => s \ "dataType" match {
            case JString("image") =>
              val bf = s \ "binding_field" match {
                case JString(x) => x
                case _ => throw new IllegalArgumentException(
                  s"image stream in '$field' needs a 'binding_field'")
              }
              val dir = s \ "directory" match {
                case JString(d) => s"$dataDir/$d"
                case _          => dataDir
              }
              val ext = s \ "extension" match { case JString(e) => e; case _ => "" }
              Left(Ingest.BindingStream(bf, dir, ext))
            case JString(dt) if dt == "numeric" || dt == "text" =>
              val f = s \ "file" match {
                case JString(x) => x
                case _ => throw new IllegalArgumentException(
                  s"$dt stream in '$field' needs a 'file'")
              }
              val name = f.split('/').last.takeWhile(_ != '.')
                .map(c => if (c.isLetterOrDigit) c else '_')
              val textCol = s \ "text" match { case JString(t) => Some(t); case _ => None }
              Right(SideStream(name, f, numeric = dt == "numeric", textCol))
            case other =>
              // reference parity: invalid format is fatal (sys.exit(-1))
              throw new IllegalArgumentException(
                s"invalid dataType in '$field': $other")
          }
          case other => throw new IllegalArgumentException(
            s"malformed stream spec in '$field': $other")
        }
        case _ => Nil
      }
    val ins = streamsOf("input")
    val outs = streamsOf("output")
    if (!ins.exists(_.isLeft))
      throw new IllegalArgumentException("binding layout needs at least one image input")
    val sides = (ins ++ outs).collect { case Right(s) => s }
    val widened = if (sides.isEmpty) readBinding() else attachSideStreams(readBinding, sides)
    val images = (ins ++ outs).collect { case Left(b) => b }
    def contentNames(xs: Seq[Either[Ingest.BindingStream, SideStream]]) =
      xs.map { case Left(b) => s"${b.field}_content"; case Right(s) => s"${s.name}_content" }
    (Ingest.readWithBinding(spark, widened, images),
      contentNames(ins), contentNames(outs))
  }

  /** Join each side stream's rows to the binding POSITIONALLY (record i ↔
    * row i, the reference's queue pairing). Both sides get a scalable
    * row id in file order; a row-count mismatch between a side file and
    * the binding table fails loudly instead of silently dropping the
    * excess records. The binding and every side stream are read and
    * counted as the tasks of one [[graft.FanOut.map]] call, so the
    * serialize waits for the longest source, not for the sum of them. */
  private def attachSideStreams(readBinding: () => org.apache.spark.sql.DataFrame,
                                sides: Seq[SideStream]): org.apache.spark.sql.DataFrame = {
    val sources = readBinding +: sides.map(ss => () => readSide(ss))
    // the scalable-key pass already computes exact totals — no extra
    // count() scans for the row-parity check
    val keyed = graft.FanOut.map(spark, sources)(read => Ingest.withScalableKeyCounted(read(), "_row"))
    val (keyedBinding, nBinding) = keyed.head
    // checked in declared order, so the message names the first
    // mismatched stream whichever pass finished first
    sides.zip(keyed.tail).foreach { case (ss, (_, nSide)) =>
      if (nSide != nBinding)
        throw new IllegalArgumentException(
          s"side stream '${ss.file}' has $nSide rows but the binding table has $nBinding")
    }
    keyed.tail.foldLeft(keyedBinding) { case (acc, (keyedSide, _)) => acc.join(keyedSide, "_row") }
      .drop("_row")
  }

  /** One side stream's rows as its single `<name>_content` column. */
  private def readSide(ss: SideStream): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val path = s"$dataDir/${ss.file}"
    val cName = s"${ss.name}_content"
    if (ss.numeric) {
      // readNumeric: every csv row coerced to one float vector (P2)
      val df = Ingest.readCsv(spark, path)
      Ingest.toFeatureVector(df, df.columns.toSeq, cName).select(cName)
    } else if (ss.file.endsWith(".csv") || ss.file.endsWith(".json")) {
      val df = if (ss.file.endsWith(".csv")) Ingest.readCsv(spark, path)
               else Ingest.readJson(spark, path)
      df.select(Ingest.selectTextColumn(df, ss.textCol).cast("string").as(cName))
    } else spark.read.text(path).select(col("value").as(cName))
  }

  /** Tag each declared stream column with its role and declared position
    * (`graft.input` / `graft.output` → index) in its `StructField`
    * metadata. Parquet keeps field metadata, so the roles are committed
    * with the sink itself and survive a server restart between serialize
    * and deserialize. A column declared in both roles carries both tags. */
  private def withRoles(df: org.apache.spark.sql.DataFrame, ins: Seq[String],
                        outs: Seq[String]): org.apache.spark.sql.DataFrame =
    Seq(InputRole -> ins, OutputRole -> outs)
      .flatMap { case (role, cs) => cs.zipWithIndex.map { case (c, i) => (c, role, i) } }
      .groupBy(_._1).foldLeft(df) { case (acc, (c, tags)) =>
        val md = new org.apache.spark.sql.types.MetadataBuilder()
        tags.foreach { case (_, role, i) => md.putLong(role, i) }
        acc.withMetadata(c, md.build())
      }

  /** The columns tagged with `role`, in declared order. */
  private def tagged(df: org.apache.spark.sql.DataFrame, role: String): Seq[String] =
    df.schema.fields.toSeq.filter(_.metadata.contains(role))
      .sortBy(_.metadata.getLong(role)).map(_.name)

  /** The deserialize job: D1 open + stats, D2 shapes, D3 batch stream,
    * then the M1 fit — the reference trains its Keras MIMO model here
    * (`server.py:207-210` → `tests/keras_mimo.py:17-67`); ours is the
    * deterministic JVM twin ([[graft.ml.MimoTrainer]]): same topology
    * (flatten → concat → sigmoid Dense per output), same MSE/Adam loss,
    * driven by the same `steps_per_epoch = n_samples // batch_size`
    * generator contract. A layout short of `nBatches` batches fails the
    * epoch loudly ([[BatchExport.epoch]]). */
  private def runTrainingHandOff(batchSize: Int, epochs: Int): Unit =
    try {
      val df = spark.read.parquet(s"$sinkDir/$sinkName.parquet")
      // S5 datasets carry their request-declared stream roles in the
      // sink's schema; dir-layout datasets use the slabel convention.
      val (inputCols, outputCols) = tagged(df, InputRole) match {
        case Nil => (df.columns.filter(c => c != "key" && c != "slabel").toSeq, Seq("slabel"))
        case ins => (ins, tagged(df, OutputRole))
      }
      val export = BatchExport(df, "key", inputCols, outputCols, batchSize)
      try {
        lastReport = None // a stale curve must not describe this run
        lastShapes = export.shapes
        val trainer = new graft.ml.MimoTrainer(inputCols, outputCols, epochs)
        lastReport = Some(trainer.fit(export.batches(), export.nBatches))
        state = Trained
      } finally export.release() // drop the pinned epoch layout
    } catch {
      case e: Exception => state = Failed(s"train: ${e.getMessage}")
    }
}

object ControlPlane {
  /** `StructField` metadata keys that carry the S5 stream roles in the sink's schema. */
  private val InputRole = "graft.input"
  private val OutputRole = "graft.output"

  /** A non-image S5 stream: `numeric` (csv of per-record vectors, the
    * reference `readNumeric`) or `text`, read from its own `file` and
    * aligned with binding rows POSITIONALLY — the reference's queue
    * workers pair record i with row i (`serialize.py:583-612`). */
  private[service] final case class SideStream(name: String, file: String,
                                               numeric: Boolean, textCol: Option[String])

  sealed trait State
  case object Idle extends State
  case object Serializing extends State
  case object Serialized extends State
  case object Training extends State
  case object Trained extends State
  final case class Failed(why: String) extends State
}
