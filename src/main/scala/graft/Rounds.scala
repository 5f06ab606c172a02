package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The round driver of the iterative operators: `Bfs`, `Sssp`, `KCore`
  * and the distributed tiers of `PageRank`, `Communities` and `Preference`.
  *
  * Each round is pinned by one local checkpoint, which cuts its lineage.
  * Uncut, round i's plan embeds round i-1 once per reference (k-core and
  * Bradley-Terry read it three times) and re-expands k^i-fold; `persist()`
  * does not help, as the cache lookup by canonicalized plan misses on these
  * nested shapes. Round i-1's blocks are dropped as soon as round i has
  * materialized, not left for a driver GC, so at most two rounds are held.
  * A local checkpoint is not reliable storage: a lost block fails the next
  * read, naming the block, and recovery is a retry (ROADMAP item 3).
  */
object Rounds {

  /** Round `rounds`, still pinned, where round 0 is `init` and round i is
    * `step(round i-1, i)`. `inputs` are frames every round reads (an edge
    * list): cached for the loop, dropped when it ends. A failing round
    * releases every held round and rethrows naming `op` and the round. */
  def iterate(op: String, init: DataFrame, rounds: Int, inputs: DataFrame*)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    inputs.foreach(_.persist())
    val held = scala.collection.mutable.Queue.empty[RDD[_]]
    def pin(df: DataFrame): DataFrame = {
      val pinned = df.localCheckpoint(eager = false)
      held += checkpointRdd(pinned)
      held.last.count()
      pinned
    }
    var round = 0
    try {
      var cur = pin(init)
      while (round < rounds) {
        round += 1
        cur = pin(step(cur, round))
        held.dequeue().unpersist(blocking = false)
      }
      cur
    } catch {
      case e: Exception =>
        held.foreach(_.unpersist(blocking = false))
        throw new RuntimeException(s"$op: round $round of $rounds failed: ${e.getMessage}", e)
    } finally inputs.foreach(_.unpersist(blocking = false))
  }

  /** The RDD holding a local checkpoint's blocks. `Dataset.unpersist()` is
    * a no-op on a local checkpoint, so only this RDD's `unpersist()` frees them. */
  private[graft] def checkpointRdd(pinned: DataFrame): RDD[_] =
    pinned.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get
}
