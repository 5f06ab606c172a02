package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The three query workloads: one client runs the sampled queries of a
  * pool through `SparkEntry.queries`, one at a time (closed loop). Each
  * operation is construction (the query function builds its DataFrame,
  * running whatever eager jobs it needs) then execution (a noop write,
  * which evaluates every output column, as `graft.Bench` does). */
object QueryWorkload {

  final case class Op(query: String, pass: Int, seconds: Double, constructS: Double,
                      executeS: Double, leakedRdds: Int, error: Option[String],
                      startMs: Long, constructEndMs: Long, endMs: Long)

  final case class Check(query: String, rows: Long, hash: String, error: Option[String])

  final case class Result(ops: Seq[Op], warmOps: Seq[Op], warmupPassS: Double,
                          calibrationS: Seq[Double], checks: Seq[Check])

  /** Fixed-cost host probe (the interleaved calibration of `graft.Bench`):
    * codegen'd arithmetic over a 50M range, no IO, no shuffle. A slow
    * probe marks a host stall; no metric is normalized by it. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Persistent RDDs the operation left behind are counted, then released,
    * so later operations neither pay for nor profit from them. */
  private def leakedThenReleased(spark: SparkSession): Int = {
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    spark.catalog.clearCache()
    left.foreach(_.unpersist(blocking = false))
    left.size
  }

  def runOnce(spark: SparkSession, dir: String, query: String, pass: Int,
              spans: Spans, parent: Int = 0): Op = {
    val fn = SparkEntry.queries(query)
    var constructS, executeS = 0.0
    var constructEnd = 0L
    val (error, span) = spans.time(query, parent) { id =>
      try {
        val (df, c) = spans.time("construct", id)(_ => fn(spark, dir))
        constructS = c.seconds; constructEnd = c.endMs
        val (_, x) = spans.time("execute", id) { _ =>
          df.write.format("noop").mode("overwrite").save()
        }
        executeS = x.seconds
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    Op(query, pass, span.seconds, constructS, executeS, leakedThenReleased(spark), error,
      span.startMs, constructEnd, span.endMs)
  }

  /** The untimed check of one query: its result's row count and
    * order-insensitive hash. */
  def check(spark: SparkSession, dir: String, query: String): Check =
    try {
      val (rows, hash) = Stats.resultHash(SparkEntry.queries(query)(spark, dir))
      leakedThenReleased(spark)
      Check(query, rows, hash, None)
    } catch { case e: Throwable => Check(query, -1, "", Some(e.toString)) }

  /** An untimed pass that checks every query of `sample` (each query's
    * cold first run), an untimed warm pass, then `passes` timed passes
    * over `sample`, with a calibration probe before them and after every
    * `probeEvery` operations. The warm pass is there because the JIT
    * keeps speeding the queries up for several runs after the first: with
    * the check pass alone, a query's timed runs often fell by a quarter to
    * a third from the first pass to the third. */
  def run(spark: SparkSession, dir: String, sample: Seq[String], passes: Int,
          probeEvery: Int, spans: Spans): Result = {
    val (checks, checkSpan) = spans.time("check")(_ => sample.map(check(spark, dir, _)))
    val (warmOps, _) = spans.time("warm")(id => sample.map(runOnce(spark, dir, _, 0, spans, id)))
    calibrate(spark) // untimed: compiles the probe's plan, so every recorded probe is warm
    val cal = scala.collection.mutable.ArrayBuffer(calibrate(spark))
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    for (pass <- 1 to passes; q <- sample) {
      ops += runOnce(spark, dir, q, pass, spans)
      if (ops.size % probeEvery == 0) cal += calibrate(spark)
    }
    Result(ops.toSeq, warmOps, checkSpan.seconds, cal.toSeq, checks)
  }
}
