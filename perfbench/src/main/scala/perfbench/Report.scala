package perfbench

import org.apache.spark.sql.SparkSession

/** Turns a workload's raw records into the metrics of the result JSON. */
object Report {

  /** One operation's window, for attributing Spark jobs to it: jobs that
    * start inside `[startMs, endMs]` belong to it, and those that start
    * before `constructEndMs` ran while it was being built. */
  final case class Window(startMs: Long, constructEndMs: Long, endMs: Long, seconds: Double)

  private def jobsIn(jobs: Seq[JobRec], lo: Long, hi: Long): Seq[JobRec] =
    jobs.filter(j => j.start >= lo && j.start <= hi)

  private def busyS(jobs: Seq[JobRec], lo: Long, hi: Long): Double =
    Stats.unionLength(jobs.map(j => (j.start, j.end)), lo, hi) / 1000.0

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer metrics of a traced run over the timed operations. */
  def layers(ops: Seq[Window], constructS: Seq[Double], executeS: Seq[Double],
             l: JobListener): Map[String, Any] = {
    val jobs = l.jobs()
    val stages = l.stageTotals
    final case class PerOp(jobs: Seq[JobRec], ran: Seq[StageAgg], busyS: Double,
                           outsideS: Double, constructJobs: Int)
    val per = ops.map { w =>
      val js = jobsIn(jobs, w.startMs, w.endMs)
      val busy = busyS(js, w.startMs, w.endMs)
      PerOp(js, js.flatMap(_.stages).distinct.flatMap(stages.get), busy,
        math.max(0.0, w.seconds - busy), js.count(_.start < w.constructEndMs))
    }
    def perOp(f: StageAgg => Long) = mean(per.map(_.ran.map(f).sum.toDouble))
    val byLayer = jobs.map(_.layer).distinct.sorted.map { layer =>
      layer -> Stats.median(ops.map(w =>
        busyS(jobsIn(jobs, w.startMs, w.endMs).filter(_.layer == layer), w.startMs, w.endMs)))
    }.toMap
    Map(
      "op.construct_s" -> Stats.median(constructS),
      "op.construct_jobs" -> mean(per.map(_.constructJobs.toDouble)),
      "op.execute_s" -> Stats.median(executeS),
      "op.outside_jobs_s" -> Stats.median(per.map(_.outsideS)),
      "spark.job_s" -> Stats.median(per.map(_.busyS)),
      "spark.jobs" -> mean(per.map(_.jobs.size.toDouble)),
      "spark.stages" -> mean(per.map(_.ran.size.toDouble)),
      "spark.tasks" -> perOp(_.tasks),
      "spark.task_cpu_s" -> perOp(_.cpuNs) / 1e9,
      "spark.gc_s" -> perOp(_.gcMs) / 1e3,
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "spark.spill_bytes" -> perOp(_.spill),
      "spark.output_bytes" -> perOp(_.output),
      "layer_job_s" -> byLayer)
  }

  /** (end-to-end metrics, everything else) of a query workload. */
  def queries(r: QueryWorkload.Result, sample: Seq[String],
              listener: Option[JobListener]): (Map[String, Double], Map[String, Any]) = {
    val ok = r.ops.filter(_.error.isEmpty)
    // per query, the median over the timed passes; percentiles and the
    // rate are then taken over queries
    val lat = ok.groupBy(_.query).values.map(os => Stats.median(os.map(_.seconds))).toSeq
    val errors = ((r.warmOps ++ r.ops).flatMap(o => o.error.map(e => s"${o.query} pass ${o.pass}: $e")) ++
      r.checks.flatMap(c => c.error.map(e => s"${c.query} check: $e")))
    val metrics = if (lat.isEmpty) Map.empty[String, Double] else Map(
      "ops_per_s" -> lat.size / lat.sum,
      "op_p50_s" -> Stats.median(lat),
      "op_p90_s" -> Stats.percentile(lat, 90))
    val traced = listener.map { l =>
      layers(r.ops.map(o => Window(o.startMs, o.constructEndMs, o.endMs, o.seconds)),
        r.ops.map(_.constructS), r.ops.map(_.executeS), l)
    }.getOrElse(Map.empty)
    (metrics, Map(
      "sample" -> sample, "samples" -> lat.size,
      "timed_ops" -> r.ops.size, "passes" -> r.ops.map(_.pass).max,
      "attempted" -> (r.checks.size + r.warmOps.size + r.ops.size), "errors" -> errors,
      "checks" -> r.checks.map(c => Map("query" -> c.query, "rows" -> c.rows, "hash" -> c.hash)),
      "layers" -> (traced ++ Map(
        "catalog.leaked_rdds" -> r.ops.map(_.leakedRdds).sum,
        "warmup_pass_s" -> r.warmupPassS,
        "host.calibration_s" -> Stats.median(r.calibrationS),
        "service.leaked_threads" -> 0)),
      "calibration_s" -> r.calibrationS))
  }

  /** (end-to-end metrics, everything else) of `ingest_train`. */
  def ingest(spark: SparkSession, r: IngestWorkload.Result, ds: IngestWorkload.Dataset,
             listener: Option[JobListener]): (Map[String, Double], Map[String, Any]) = {
    val ok = r.cycles.filter(_.errors.isEmpty)
    val lat = ok.map(_.seconds)
    val errors = (r.warmup ++ r.cycles).flatMap(c => c.errors.map(e => s"cycle ${c.index}: $e"))
    val trainRows = ds.epochs.toLong * (ds.records / ds.batchSize) * ds.batchSize
    val metrics = if (lat.isEmpty) Map.empty[String, Double] else Map(
      "ops_per_s" -> lat.size / lat.sum,
      "op_p50_s" -> Stats.median(lat),
      "op_p90_s" -> Stats.percentile(lat, 90))
    val traced = listener.map { l =>
      val jobs = l.jobs()
      def split(c: IngestWorkload.Cycle) = {
        val (s0, s1) = c.serializeWindow
        val (t0, t1) = c.trainWindow
        val ser = jobsIn(jobs, s0, s1)
        val tr = jobsIn(jobs, t0, t1)
        Seq(
          "service.fetch_s" -> c.fetchS,
          "ingest.listing_s" -> busyS(ser.filter(_.description.startsWith("Listing leaf files")), s0, s1),
          "catalog.sink_write_s" -> busyS(ser.filter(_.file == "Tables.scala"), s0, s1),
          "ingest.serialize_outside_jobs_s" -> math.max(0.0, c.serializeS - busyS(ser, s0, s1)),
          "ingest.export_jobs_s" -> busyS(tr.filter(_.file == "BatchExport.scala"), t0, t1),
          "ml.train_outside_jobs_s" -> math.max(0.0, c.trainS - busyS(tr, t0, t1)))
      }
      val splits = ok.map(split)
      val detail = splits.headOption.map(_.map(_._1)).getOrElse(Nil).map { k =>
        k -> Stats.median(splits.map(_.toMap.apply(k)))
      }.toMap
      layers(ok.map(c => Window(c.serializeWindow._1,
          c.serializeWindow._1 + (c.fetchS * 1000).toLong, c.trainWindow._2, c.seconds)),
        ok.map(_.fetchS), ok.map(c => c.seconds - c.fetchS), l) ++
        Map("ingest_split" -> detail)
    }.getOrElse(Map.empty)
    (metrics, Map(
      "dataset" -> Map("records" -> ds.records, "image_side" -> ds.side,
        "features" -> ds.features, "labels" -> ds.labels,
        "batch_size" -> ds.batchSize, "epochs" -> ds.epochs),
      "samples" -> lat.size, "timed_ops" -> r.cycles.size,
      "attempted" -> (r.warmup.size + r.cycles.size), "errors" -> errors,
      "serialize_records_per_s" -> (if (ok.isEmpty) 0.0 else Stats.median(ok.map(ds.records / _.serializeS))),
      "train_rows_per_s" -> (if (ok.isEmpty) 0.0 else Stats.median(ok.map(trainRows / _.trainS))),
      "layers" -> (traced ++ Map(
        "catalog.leaked_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "warmup_pass_s" -> r.warmupS,
        "host.calibration_s" -> Stats.median(r.calibrationS),
        "service.leaked_threads" -> r.cycles.map(_.leakedThreads).sum)),
      "calibration_s" -> r.calibrationS))
  }

  /** Peak resident memory of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Spans as JSON lines, then (traced runs) each Spark job as a line
    * whose parent is the innermost span it started in. */
  def writeSpans(spans: Spans, jobs: Seq[JobRec], path: String): Unit = {
    val all = spans.all
    val spanLines = all.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)))
    val jobLines = jobs.map { j =>
      val parent = all.filter(s => s.startMs <= j.start && j.start <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)
      Json(Map("job" -> j.id, "parent" -> parent, "layer" -> j.layer, "file" -> j.file,
        "description" -> j.description.take(120), "start_ms" -> j.start, "end_ms" -> j.end))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (spanLines ++ jobLines).mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and options. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
