package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import graft.operators.Advisor

class FanOutSpec extends SparkSpec {

  private def nonDaemonThreads(): Int = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && !t.isDaemon)
  }

  /** Polls `cond` for up to `ms` (a stopped worker may still be unwinding
    * for a moment after the call returned). */
  private def eventually(ms: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + ms
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(10)
    cond
  }

  test("a failing profile cancels its running siblings and rethrows its own cause") {
    // fails in its only task, after the slow sibling's job has started
    val failing = spark.range(0, 100, 1, 1)
      .filter(assert_true(col("id") < 0, lit("fanout-boom")).isNull).toDF()
    // two partitions keep two of the four local cores free for the
    // failing job; uncancelled, this runs for minutes
    val slow = spark.range(0L, 200000000000L, 1, 2).toDF()
    val threadsBefore = nonDaemonThreads()
    val e = intercept[Throwable](
      Advisor.keyCountsAll(Seq(failing -> col("id"), slow -> (col("id") % 7))))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(e.getMessage.contains("fanout-boom"), e.getMessage)
    assert(eventually(5000)(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty),
      "the slow sibling's job is still running")
    assert(eventually(5000)(nonDaemonThreads() == threadsBefore))
  }

  test("map returns results in input order, at most 16 at a time") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val xs = 0 until 40
    val out = FanOut.map(spark, xs) { i =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep((40 - i) % 7 * 5L) // later inputs tend to finish first
      running.decrementAndGet()
      i * 10
    }
    assert(out == xs.map(_ * 10))
    assert(peak.get <= 16)
    assert(FanOut.map(spark, Seq.empty[Int])(identity).isEmpty)
  }

  test("tasks share one per-call job tag that the caller never carries") {
    val sc = spark.sparkContext
    val before = sc.getJobTags()
    val tags = FanOut.map(spark, Seq(1, 2, 3))(_ => sc.getJobTags() -- before)
    assert(tags.distinct.size == 1 && tags.head.size == 1)
    assert(tags.head.head.startsWith("graft-fanout-"))
    assert(sc.getJobTags() == before)
    assert(FanOut.map(spark, Seq(1))(_ => sc.getJobTags() -- before) != tags)
  }

  test("a task's exception is rethrown as itself, not wrapped") {
    val boom = new java.io.IOException("footer read failed")
    val e = intercept[java.io.IOException](
      FanOut.map(spark, Seq(1, 2, 3))(i => if (i == 2) throw boom else i))
    assert(e eq boom)
  }

  test("both: a failing thunk next to a slow one leaves no pool thread behind") {
    spark.sparkContext
    val threadsBefore = nonDaemonThreads()
    val t0 = System.nanoTime()
    intercept[IllegalStateException](FanOut.both(spark)(
      throw new IllegalStateException("prefix build failed"),
      { Thread.sleep(60000); 1 }))
    assert((System.nanoTime() - t0) / 1e9 < 30, "the slow thunk was not interrupted")
    assert(eventually(5000)(nonDaemonThreads() == threadsBefore))
    assert(FanOut.both(spark)("a", 2) == ("a", 2))
  }

  test("no thread pool in main sources outside FanOut and the HTTP handler pool") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root))
    val allowed = Set("FanOut.scala", "service/ControlPlane.scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.filter { f =>
      val rel = root.relativize(f).toString.replace('\\', '/').stripPrefix("graft/")
      !allowed(rel) && new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .contains("Executors.new")
    }
    assert(offenders.isEmpty, s"run concurrent jobs through graft.FanOut: ${offenders.mkString(", ")}")
  }
}
