package graft

import org.apache.spark.sql.DataFrame

/** The round driver of the iterative operators: `Bfs`, `Sssp`, `KCore`
  * and the distributed tiers of `PageRank`, `Communities` and `Preference`.
  *
  * Each round is one [[Pin]]: k-core and Bradley-Terry read the previous
  * round three times, so an uncut round re-expands k^i-fold. Round i-1 is
  * released as soon as round i has materialized, so at most two rounds
  * are held and the returned last round is the only pin left.
  */
object Rounds {

  /** Round `rounds`, still pinned, where round 0 is `init` and round i is
    * `step(round i-1, i)`. `inputs` are frames every round reads (an edge
    * list): cached for the loop, dropped when it ends. A failing round
    * releases every held round and rethrows naming `op` and the round. */
  def iterate(op: String, init: DataFrame, rounds: Int, inputs: DataFrame*)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    inputs.foreach(_.persist())
    val held = scala.collection.mutable.Queue.empty[Pin]
    var round = 0
    try {
      held += Pin(init)
      while (round < rounds) {
        round += 1
        held += Pin(step(held.last.df, round))
        held.dequeue().release()
      }
      held.last.df
    } catch {
      case e: Exception =>
        held.foreach(_.release())
        throw new RuntimeException(s"$op: round $round of $rounds failed: ${e.getMessage}", e)
    } finally inputs.foreach(_.unpersist(blocking = false))
  }
}
