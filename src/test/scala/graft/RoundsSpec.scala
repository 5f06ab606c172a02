package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators._

class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def pins: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDD holding the blocks of the pin `df` reads. */
  private def pinRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get

  /** Persistent RDDs `f` leaves behind at return; released afterwards so
    * later cases start clean. */
  private def pinsLeft(f: => DataFrame): Int = {
    val before = pins
    val df = f
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    df.collect() // the result still reads its pin
    left.values.foreach(_.unpersist(blocking = true))
    left.size
  }

  test("a lost round block fails loudly, naming the operator and round, and leaves no pin") {
    val before = pins
    var rows: Option[Array[org.apache.spark.sql.Row]] = None
    val e = intercept[RuntimeException] {
      rows = Some(Rounds.iterate("Toy", spark.range(10).toDF("x"), rounds = 3) { (prev, i) =>
        // drop the previous round's blocks behind the driver's back
        if (i == 2) pinRdd(prev).unpersist(blocking = true)
        prev.select((col("x") + 1).as("x"))
      }.collect())
    }
    assert(rows.isEmpty)
    assert(e.getMessage.contains("Toy") && e.getMessage.contains("round 2 of 3") &&
      e.getMessage.contains("Checkpoint block"), e.getMessage)
    assert(pins == before, "a failed loop must release every round it held")
  }

  test("each round reads the one before it; only the last round stays pinned") {
    val before = pins
    val out = Rounds.iterate("Toy", spark.range(4).toDF("x"), rounds = 5) { (prev, i) =>
      prev.select((col("x") * 2 + i).as("x"))
    }
    assert((pins -- before).size == 1)
    // x -> 2x + i for i = 1..5: 32x + 57
    assert(out.as[Long].collect().sorted.toSeq == (0L to 3L).map(x => 32 * x + 57))
    pinRdd(out).unpersist(blocking = true)
  }

  test("the graph operators leave at most one pin, the same at R and 2R rounds") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val weighted = edges.withColumn("w", col("a") + 1)
    val seeds = Seq(1L).toDF("u")
    val duels = Seq(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 2L), ("c", "a", 1L))
      .toDF("winner", "loser", "w")
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "Bfs.distances" -> (r => Bfs.distances(edges, seeds, r)),
      "Sssp.summary" -> (r => Sssp.summary(weighted, seeds, r)),
      "KCore.trajectory" -> (r => KCore.trajectory(edges, 2, r)),
      "PageRank.ranksDistributed" -> (r => PageRank.ranksDistributed(edges, "a", "b", r)),
      "Communities.labelsDistributed" -> (r => Communities.labelsDistributed(edges, "a", "b", r)),
      "Preference.ratingsDistributed" -> (r => Preference.ratingsDistributed(duels, r)))
    for ((name, op) <- ops) {
      val (atR, at2R) = (pinsLeft(op(2)), pinsLeft(op(4)))
      assert(atR <= 1 && atR == at2R, s"$name left $atR pins at 2 rounds, $at2R at 4")
    }
  }

  test("Preference's distributed plan does not grow with the iteration count") {
    val duels = Seq(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("d", "a", 2L)).toDF("winner", "loser", "w")
    def planLines(df: DataFrame) = df.queryExecution.analyzed.treeString.count(_ == '\n')
    val two = Preference.ratingsDistributed(duels, iters = 2)
    val eight = Preference.ratingsDistributed(duels, iters = 8)
    assert(planLines(eight) <= planLines(two))
    assert(eight.collect().toSeq == Preference.ratings(duels, iters = 8).collect().toSeq)
  }
}
