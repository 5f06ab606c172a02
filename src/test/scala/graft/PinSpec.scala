package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.{Advisor, Dedup, SetJoin}

class PinSpec extends SparkSpec {
  import spark.implicits._

  private def persistent: Map[Int, RDD[_]] = spark.sparkContext.getPersistentRDDs.toMap

  /** The pins `f` leaves behind at return, with the frame it returned. */
  private def pinsLeft(f: => DataFrame): (DataFrame, Map[Int, RDD[_]]) = {
    val before = persistent.keySet
    val df = f
    (df, persistent.filter { case (id, _) => !before(id) })
  }

  /** The RDDs of the pins `df`'s plan reads. */
  private def pinsRead(df: DataFrame): Map[Int, RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id -> lr.rdd }.toMap

  private def release(pins: Map[Int, RDD[_]]): Unit = pins.values.foreach(_.unpersist(blocking = true))

  test("a pin is materialized by one counted job, and release drops its blocks") {
    val before = persistent.keySet
    val p = Pin(spark.range(0, 100, 1, 4).toDF("x").filter(col("x") % 3 === 0))
    val left = persistent.keySet -- before
    assert(p.rows == 34 && left.size == 1 && left == pinsRead(p.df).keySet)
    assert(p.df.as[Long].collect().sorted.toSeq == (0L until 100L by 3))
    p.release()
    p.release() // idempotent
    assert((persistent.keySet -- before).isEmpty)
    // a failing materialization holds nothing
    val e = intercept[Exception](Pin(spark.range(10).toDF("x")
      .filter(assert_true(col("x") < 5, lit("x too big")).isNull)))
    assert(e.getMessage.contains("x too big"), e.getMessage)
    assert((persistent.keySet -- before).isEmpty)
  }

  test("local checkpoints and persistent-RDD sweeps appear in main sources only in Pin.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root))
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Pin.scala")
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        Seq("localCheckpoint", "LogicalRDD", "getPersistentRDDs").exists(src.contains)
      }.toSeq
    assert(offenders.isEmpty, s"pin and release through graft.Pin: ${offenders.mkString(", ")}")
  }

  test("dupClusters: the distributed tier leaves one pin at any round count, the driver tier none") {
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((0L until 64L).toVector)
    val longChain = (0 until 63).map(i => (ids(i), ids(i + 1))).toDF("a", "b")
    val oneEdge = Seq((5L, 9L)).toDF("a", "b")
    // the two inputs need different round counts: one edge converges
    // within 2 rounds, the 64-node chain does not (and a loop that gives
    // up releases every round it held)
    val (_, short) = pinsLeft(Dedup.dupClusters(oneEdge, maxIter = 2, driverThreshold = 0L))
    release(short)
    val before = persistent.keySet
    intercept[IllegalStateException](Dedup.dupClusters(longChain, maxIter = 2, driverThreshold = 0L))
    assert((persistent.keySet -- before).isEmpty, "a loop that did not converge must hold no pin")
    for ((name, pairs, min) <- Seq(("one edge", oneEdge, 5L), ("64-node chain", longChain, ids.min))) {
      val (labels, left) = pinsLeft(Dedup.dupClusters(pairs, driverThreshold = 0L))
      assert(left.size == 1 && left.keySet == pinsRead(labels).keySet,
        s"$name left ${left.size} pins")
      assert(labels.as[(Long, Long)].collect().forall(_._2 == min), name)
      release(left)
      val (driver, none) = pinsLeft(Dedup.dupClusters(pairs))
      assert(none.isEmpty, s"$name: the driver tier left ${none.size} pins")
      assert(driver.as[(Long, Long)].collect().forall(_._2 == min), name)
    }
  }

  test("set joins leave only the pins their result reads, in both verification tiers") {
    val el = Seq(
      1L -> Seq("the", "quick", "brown", "fox", "jumps"),
      2L -> Seq("the", "quick", "brown", "fox", "leaps"),
      3L -> Seq("the", "quick", "red", "dog", "runs"),
      4L -> Seq("the", "lazy", "cat", "sleeps", "now"))
      .toDF("id", "toks").select(col("id"), explode(col("toks")).as("tok"))
    // the parent pinned el, the token arrays, prefix and cand (plus the
    // candidate-A vocabulary in the exploded containment tier), and its
    // result never read prefix
    val joins: Seq[(String, () => DataFrame, Int)] = Seq(
      ("jaccard, array tier", () => SetJoin.jaccardJoin(el, 3, 5), 4),
      ("jaccard, exploded tier", () => SetJoin.jaccardJoin(el, 3, 5, broadcastMaxPairs = 0L), 4),
      ("containment, array tier", () => SetJoin.containmentJoin(el, 3, 5), 4),
      ("containment, exploded tier",
        () => SetJoin.containmentJoin(el, 3, 5, broadcastMaxPairs = 0L), 5))
    for ((name, join, parentPins) <- joins) {
      val (res, left) = pinsLeft(join())
      assert(left.nonEmpty && left.keySet == pinsRead(res).keySet,
        s"$name left pins ${left.keySet.toSeq.sorted}, its result reads ${pinsRead(res).keySet.toSeq.sorted}")
      assert(left.size < parentPins, s"$name left ${left.size} pins")
      assert(res.count() > 0, name)
      release(left)
    }
    // a join its candidate budget refuses holds nothing
    val before = persistent.keySet
    intercept[IllegalStateException](SetJoin.containmentJoin(el, 3, 5, maxCandidatePairs = 0L))
    assert((persistent.keySet -- before).isEmpty)
  }

  test("set join: a lost element-table block fails the result loudly and returns no rows") {
    val el = Seq(1L -> "x", 1L -> "y", 1L -> "z", 2L -> "x", 2L -> "y", 2L -> "z",
      3L -> "x", 3L -> "q").toDF("id", "tok")
    // the exploded tier verifies against the element table
    val (res, left) = pinsLeft(SetJoin.jaccardJoin(el, 1, 2, broadcastMaxPairs = 0L))
    val elPin = res.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD if lr.output.map(_.name) == Seq("id", "tok", "tokh") => lr.rdd
    }.get
    assert(left.contains(elPin.id))
    elPin.unpersist(blocking = true) // drop the blocks behind the join's back
    var rows: Option[Array[org.apache.spark.sql.Row]] = None
    val e = intercept[Exception] { rows = Some(res.collect()) }
    assert(rows.isEmpty)
    assert(e.getMessage.contains("Checkpoint block") && e.getMessage.contains(s"rdd_${elPin.id}_"),
      e.getMessage)
    release(left)
  }

  test("advisor: a lost key-profile block fails the FK score loudly and returns no rows") {
    val childKeys = Advisor.keyCounts(Seq(1L, 2L, 2L, 3L).toDF("c"), col("c"))
    val (res, left) = pinsLeft(Advisor.fkScoreShared("c->p", childKeys,
      Advisor.keyCounts(Seq(1L, 2L, 3L, 4L).toDF("p"), col("p"))))
    val lost = pinsRead(childKeys).values.head
    assert(pinsRead(res).keySet == Set(lost.id) ++ left.keySet && left.size == 1)
    lost.unpersist(blocking = true) // drop the blocks behind the score's back
    var rows: Option[Array[org.apache.spark.sql.Row]] = None
    val e = intercept[Exception] { rows = Some(res.collect()) }
    assert(rows.isEmpty)
    assert(e.getMessage.contains("Checkpoint block") && e.getMessage.contains(s"rdd_${lost.id}_"),
      e.getMessage)
    release(left)
  }
}
