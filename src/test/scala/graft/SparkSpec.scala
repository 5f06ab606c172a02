package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One shared local session for all suites (JVM is forked once by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the start event of every Spark job that started
    * while it ran, on any thread. Listener delivery is asynchronous but
    * ordered: once a marker job started after `body` is seen, every
    * earlier job start is too. */
  def withJobStarts[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val marker = s"job-starts-marker-${java.util.UUID.randomUUID()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { starts.add(e); () }
    }
    def isMarker(e: SparkListenerJobStart) = jobProperty(e, "spark.job.description") == marker
    def seen = starts.asScala.toSeq
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.exists(isMarker) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.exists(isMarker), "the marker job's start was never delivered")
      (out, seen.takeWhile(!isMarker(_)))
    } finally sc.removeSparkListener(listener)
  }

  /** A local property of a started job, "" when unset. */
  def jobProperty(e: SparkListenerJobStart, key: String): String =
    Option(e.properties).map(_.getProperty(key, "")).getOrElse("")
}
