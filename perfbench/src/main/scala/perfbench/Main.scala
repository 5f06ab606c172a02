package perfbench

import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}

/** Benchmark JVM: one workload per process.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <tables dir> --work <dir> --out <result.json>
  * }}}
  *
  * Set-up (session start, plus `SparkEntry.prepare` for the query
  * workloads) is timed first; then the workload runs its untimed checks
  * and warm-up and its timed closed loop. The session is `local[N]` with
  * N = `availableProcessors()`, which follows the CPUs the process may
  * use, as `nproc` does. The result JSON holds the
  * end-to-end metrics, the per-layer metrics of a traced run, the
  * per-query result hashes for the caller to compare with the expected
  * file, and every error seen. The spans are written beside it.
  * `--workload prime` only ingests the tables (see [[prime]]). */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = new java.io.File(a("out"))
    val status = try {
      val result =
        if (workload == "prime") prime(a("data"))
        else run(workload, seed, seconds, traced, a("data"), a("work"))
      java.nio.file.Files.writeString(out.toPath, Json(result))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    // the control plane's handler pool is never shut down (see
    // service.leaked_threads), so the JVM would not exit on its own
    System.exit(status)
  }

  /** The workload's sample, in the order the seed draws. */
  def sampleFor(workload: String, seed: Long): Seq[String] = {
    val sample = workload match {
      case "olap_mix" => Pools.stratified(Pools.olap, 8)
      case "corpus_mix" => Pools.stratified(Pools.corpus, 5)
      case "table_maintenance" => Pools.maintenanceSample
      case other => throw new IllegalArgumentException(s"unknown query workload $other")
    }
    new scala.util.Random(seed).shuffle(sample)
  }

  /** Timed passes over the sample (query workloads) or timed cycles
    * (`ingest_train`) of a run: `--seconds` scales a fixed count (2
    * passes or 3 cycles at 10 s) instead of bounding a clock, so the
    * number of timed runs behind each figure never depends on the host's
    * speed. */
  def timedRounds(workload: String, seconds: Double): Int = {
    val per10s = if (workload == "ingest_train") 3 else 2
    math.max(1, math.round(per10s * seconds / 10).toInt)
  }

  val Ingest = IngestWorkload.Dataset(records = 400, side = 16, features = 8, labels = 2,
    batchSize = 32, epochs = 2)
  /** The first warm-up cycle's dataset: the cold start on less data. */
  val IngestWarmup = Ingest.copy(records = 64)

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Ingest the tables once (bucketed layout, IVF and dedup indexes in
    * the working directory's `spark-warehouse`); every later run's set-up
    * re-attaches to them, as a new session of a deployed engine does. */
  def prime(data: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    SparkEntry.prepare(session(), data)
    Map("prime_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, data: String,
          work: String): Map[String, Any] = {
    val spans = new Spans
    val isIngest = workload == "ingest_train"
    val (spark, setup) = spans.time("setup") { _ =>
      val s = session()
      if (isIngest) {
        val cp = new graft.service.ControlPlane(s, s"$work/setup")
        cp.start(); cp.stop()
      } else SparkEntry.prepare(s, data)
      s
    }
    val listener = if (traced) {
      val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val rounds = timedRounds(workload, seconds)
    val (metrics, body) =
      if (isIngest) Report.ingest(spark, IngestWorkload.run(spark, Ingest, IngestWarmup, seed,
        s"$work/cycles", warmupCycles = 3, cycles = rounds, spans), Ingest, listener)
      else {
        val sample = sampleFor(workload, seed)
        Report.queries(QueryWorkload.run(spark, data, sample, rounds, probeEvery = 4, spans),
          sample, listener)
      }
    Report.writeSpans(spans, listener.map(_.jobs()).getOrElse(Nil), s"$work/spans.jsonl")
    body ++ Map("workload" -> workload, "seed" -> seed,
      "nproc" -> cores, "master" -> s"local[$cores]",
      "metrics" -> (metrics ++ Map("setup_s" -> setup.seconds, "peak_rss_mb" -> Report.peakRssMb())))
  }
}
