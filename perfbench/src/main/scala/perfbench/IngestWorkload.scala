package perfbench

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.SparkSession
import graft.service.ControlPlane

/** The reference's own pipeline through the control plane: a client
  * POSTs `serialize` for a zip served over loopback HTTP, polls until the
  * sink is written, POSTs `deserialize` and polls until training ends.
  * One operation is one such ingest→train cycle on a fresh control plane
  * and work directory. */
object IngestWorkload {

  /** Shape of the generated S5 dataset: `records` binding rows, each with
    * one `side`×`side` RGB PNG, a `features`-wide numeric input row and a
    * `labels`-wide numeric output row. */
  final case class Dataset(records: Int, side: Int, features: Int, labels: Int,
                           batchSize: Int, epochs: Int)

  final case class Cycle(index: Int, seconds: Double, fetchS: Double, serializeS: Double,
                         trainS: Double, serializeWindow: (Long, Long),
                         trainWindow: (Long, Long), leakedThreads: Int,
                         errors: Seq[String])

  final case class Result(cycles: Seq[Cycle], warmup: Seq[Cycle], warmupS: Double,
                          calibrationS: Seq[Double])

  /** The S5 zip: `bindings.csv` (column `img`, one stem per record),
    * `imgs/<stem>.png`, `feats.csv` and `labels.csv`, all drawn from
    * `seed`. */
  def makeZip(ds: Dataset, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def entry(name: String, bytes: Array[Byte]): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(bytes); z.closeEntry()
    }
    val stems = (0 until ds.records).map(i => f"r$i%05d")
    entry("bindings.csv", ("img\n" + stems.mkString("\n") + "\n").getBytes("UTF-8"))
    stems.foreach { s =>
      val img = new java.awt.image.BufferedImage(ds.side, ds.side,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until ds.side; y <- 0 until ds.side) img.setRGB(x, y, rnd.nextInt(1 << 24))
      val png = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", png)
      entry(s"imgs/$s.png", png.toByteArray)
    }
    def csv(width: Int, prefix: String): Array[Byte] =
      ((0 until width).map(j => s"$prefix$j").mkString(",") + "\n" +
        stems.map(_ => Seq.fill(width)(f"${rnd.nextDouble()}%.4f").mkString(","))
          .mkString("\n") + "\n").getBytes("UTF-8")
    entry("feats.csv", csv(ds.features, "f"))
    entry("labels.csv", csv(ds.labels, "y"))
    z.close()
    bos.toByteArray
  }

  def serializeRequest(url: String): String =
    s"""{"command":"serialize","url":"$url","image_binding":{"file":"bindings.csv"},
       |"input":[{"dataType":"image","directory":"imgs","binding_field":"img","extension":".png"},
       |{"dataType":"numeric","file":"feats.csv"}],
       |"output":[{"dataType":"numeric","file":"labels.csv"}]}""".stripMargin.replace("\n", "")

  private val client = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }).build()

  private def post(url: String, body: String): String =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def get(url: String): String =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Poll the status resource until it reads `want`; any `Failed` status
    * or a 120 s timeout is an error. */
  private def pollUntil(url: String, want: String): Option[String] = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    var status = get(url)
    while (!status.startsWith(want) && !status.startsWith("Failed") &&
           System.nanoTime() < deadline) {
      Thread.sleep(5)
      status = get(url)
    }
    if (status.startsWith(want)) None else Some(s"waiting for '$want': ${status.trim}")
  }

  private def nonDaemonThreads(): Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
  }

  /** Serve each of `files` at `http://127.0.0.1:<port>/<name>` for the
    * duration of `f`, which gets the base URL. */
  def withServer[T](files: Map[String, Array[Byte]])(f: String => T): T = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    files.foreach { case (name, bytes) =>
      srv.createContext(s"/$name", (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, bytes.length)
        try ex.getResponseBody.write(bytes) finally ex.close()
      })
    }
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}")
    finally srv.stop(0)
  }

  /** One ingest→train cycle on a fresh control plane in `work`, then the
    * untimed checks: sink rows, shapes, step count and final state. */
  def cycle(spark: SparkSession, ds: Dataset, zipUrl: String, work: String, index: Int,
            spans: Spans, parent: Int): Cycle = {
    val before = nonDaemonThreads()
    val cp = new ControlPlane(spark, work)
    val ep = s"http://127.0.0.1:${cp.start()}/download"
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    var fetchS, serializeS, trainS = 0.0
    var serWin, trainWin = (0L, 0L)
    val (_, span) = spans.time(s"cycle-$index", parent) { id =>
      try {
        val (_, ser) = spans.time("serialize", id) { sid =>
          val (reply, fetch) = spans.time("fetch", sid)(_ => post(ep, serializeRequest(zipUrl)))
          fetchS = fetch.seconds
          if (reply != "Dataset downloaded.") errors += s"serialize reply: $reply"
          else pollUntil(ep, "Data Serialization complete!.").foreach(errors += _)
        }
        serializeS = ser.seconds; serWin = (ser.startMs, ser.endMs)
        if (errors.isEmpty) {
          val (_, tr) = spans.time("train", id) { _ =>
            val reply = post(ep, s"""{"command":"deserialize","batch_size":${ds.batchSize},"epochs":${ds.epochs}}""")
            if (reply != "Started training. Sit back.") errors += s"deserialize reply: $reply"
            else pollUntil(ep, "Training complete.").foreach(errors += _)
          }
          trainS = tr.seconds; trainWin = (tr.startMs, tr.endMs)
        }
      } catch { case e: Exception => errors += e.toString }
    }
    cp.stop()
    if (errors.isEmpty)
      errors ++= (try checkCycle(spark, cp, ds) catch { case e: Exception => Seq(e.toString) })
    // ControlPlane.stop() leaves its handler pool running: count what a
    // stopped instance leaves behind instead of cleaning it up
    Thread.sleep(50)
    val leaked = (nonDaemonThreads() -- before).size
    Cycle(index, span.seconds, fetchS, serializeS, trainS, serWin, trainWin, leaked,
      errors.toSeq)
  }

  def checkCycle(spark: SparkSession, cp: ControlPlane, ds: Dataset): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    if (cp.currentState != ControlPlane.Trained) errs += s"final state ${cp.currentState}"
    val rows = spark.read.parquet(s"${cp.sinkDir}/datumdb.parquet").count()
    if (rows != ds.records) errs += s"sink rows $rows != ${ds.records}"
    val shapes = cp.shapes
    if (shapes.keySet != Set("img_content", "feats_content", "labels_content") ||
        shapes("feats_content") != Seq(ds.features) || shapes("labels_content") != Seq(ds.labels))
      errs += s"shapes $shapes"
    cp.trainReport match {
      case Some(r) =>
        val steps = ds.epochs.toLong * (ds.records / ds.batchSize)
        if (r.nSteps != steps) errs += s"nSteps ${r.nSteps} != $steps"
        if (r.inDim != ds.side * ds.side * 3 + ds.features) errs += s"inDim ${r.inDim}"
        if (r.outDims != Seq(ds.labels)) errs += s"outDims ${r.outDims}"
        if (r.epochLosses.size != ds.epochs || !r.epochLosses.forall(_.isFinite))
          errs += s"losses ${r.epochLosses}"
      case None => errs += "no training report"
    }
    errs.toSeq
  }

  /** One untimed cycle on the smaller `warmupDs`, which takes the cold
    * start (class loading, the first Spark jobs), and `warmupCycles`
    * untimed cycles on `ds`, then `cycles` timed cycles on `ds`, each
    * followed by a calibration probe. The full-size warm-up is there
    * because cycles keep getting faster for several cycles after the
    * first: after small warm-up cycles alone, the first full-size cycle
    * was up to a fifth slower than the third. */
  def run(spark: SparkSession, ds: Dataset, warmupDs: Dataset, seed: Long, workRoot: String,
          warmupCycles: Int, cycles: Int, spans: Spans): Result = {
    val zips = Map("dataset.zip" -> makeZip(ds, seed), "warmup.zip" -> makeZip(warmupDs, seed))
    withServer(zips) { base =>
      var n = 0
      def next(d: Dataset, zip: String, parent: Int): Cycle = {
        n += 1
        val work = s"$workRoot/cycle-$n"
        try cycle(spark, d, s"$base/$zip", work, n, spans, parent)
        finally graft.catalog.Tables.derivedClear(work)
      }
      val (warm, w) = spans.time("warmup") { id =>
        next(warmupDs, "warmup.zip", id) +:
          (1 to warmupCycles).map(_ => next(ds, "dataset.zip", id))
      }
      QueryWorkload.calibrate(spark) // untimed, as in QueryWorkload.run
      val cal = scala.collection.mutable.ArrayBuffer(QueryWorkload.calibrate(spark))
      val timed = (1 to cycles).map { _ =>
        val c = next(ds, "dataset.zip", 0)
        cal += QueryWorkload.calibrate(spark)
        c
      }
      Result(timed, warm, w.seconds, cal.toSeq)
    }
  }
}
