package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One Spark job as the benchmark's listener saw it (wall-clock ms). */
final case class JobRec(id: Int, start: Long, end: Long, layer: String, file: String,
                        description: String, stages: Seq[Int])

/** Task totals of one stage. */
final class StageAgg {
  var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var output = 0L
}

/** The benchmark's own SparkListener, registered on the session only in
  * traced runs: each job's interval and call-site layer, and each stage's
  * task totals. Nothing inside the engine is instrumented.
  *
  * Adaptive execution submits a query's stage jobs from a Spark thread
  * pool, so their own call sites hold no user frame; such a job takes the
  * call site of the SQL execution it belongs to, which Spark records from
  * the thread that started the execution. */
final class JobListener extends SparkListener {
  private val starts = mutable.LinkedHashMap[Int, JobRec]()
  private val ends = mutable.Map[Int, Long]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val execSites = mutable.Map[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSites(x.executionId) = Stats.siteOf(x.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is always new, so it carries this job's call site
    val result = e.stageInfos.maxBy(_.stageId)
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val (layer, file) = Seq(Some(Stats.siteOf(result.details)),
        prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong)),
        prop("spark.sql.execution.root.id").flatMap(id => execSites.get(id.toLong)))
      .flatten.find(_._1 != "spark").getOrElse(("spark", ""))
    starts(e.jobId) = JobRec(e.jobId, e.time, -1L, layer, file,
      prop("spark.job.description").getOrElse(""), e.stageInfos.map(_.stageId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ends(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs started so far, with their end times. Events reach a listener
    * asynchronously, so this first waits (bounded) until every started
    * job has reported its end. */
  def jobs(): Seq[JobRec] = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(starts.keys.exists(!ends.contains(_))) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    synchronized {
      starts.values.map(j => j.copy(end = ends.getOrElse(j.id, j.start))).toSeq
    }
  }

  def stageTotals: Map[Int, StageAgg] = synchronized(stages.toMap)
}

/** A span: one timed step of the benchmark, with the span that caused it.
  * Times are wall-clock ms (the clock Spark stamps job events with);
  * `seconds` is the same interval measured with the monotonic clock. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
                      seconds: Double)

/** In-memory span log, written out once when the benchmark ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  def all: Seq[Span] = buf.toSeq

  /** Run `f` as a span named `name` under `parent` (0 = root). `f` gets
    * the new span's id, so the spans it opens can name it as parent. */
  def time[T](name: String, parent: Int = 0)(f: Int => T): (T, Span) = {
    val id = buf.size + 1
    buf += Span(id, parent, name, 0L, 0L, 0.0)
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def close(): Span = {
      val s = Span(id, parent, name, ms, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9)
      buf(id - 1) = s
      s
    }
    val out = try f(id) catch { case e: Throwable => close(); throw e }
    (out, close())
  }
}
