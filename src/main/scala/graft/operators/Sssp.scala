package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Rounds

/** Single-source shortest paths over positive integer edge weights —
  * Bellman-Ford relaxation rounds, the WEIGHTED completion of the graph
  * suite (BFS gives hop counts; this gives cost-weighted reach:
  * influence with affinity weights, cheapest multi-hop routing,
  * weighted blast radius). Seventh graph-analytics member.
  *
  * Determinism: each round is a pure min-fold — dist_{r+1}(v) =
  * min(dist_r(v), min over edges (u,v) of dist_r(u) + w) — integer
  * arithmetic with no tie-breaks, so the whole distance table is
  * engine-independent at every round, converged or not (the q274 gate
  * pins the table after a FIXED round count; convergence is a property
  * of the graph, not of the contract).
  *
  * Scale design (100 TB): one edge⋈dist hash join + one per-node min
  * aggregation per round — O(R) edge-list shuffles, the [[Bfs]]/[[KCore]]
  * bound, on the [[graft.Rounds]] driver. No adjacency is ever
  * collected; negative weights are rejected (Bellman-Ford would need
  * |V|−1 rounds and a cycle check — out of contract).
  */
object Sssp {

  /** Distance table (u, dist) after `rounds` relaxations from `seeds`
    * (single-column `u`). `edges(a, b, w)` is undirected with POSITIVE
    * integer weights; unreached nodes are absent. */
  def distances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0)
    // Positive-weight validation rides INSIDE the first round's read of
    // the edges, not a separate scan of a 100 TB edge list. It surfaces
    // here because rounds are pinned eagerly; unwrap it to the documented
    // IllegalArgumentException. With no rounds the edges are never read.
    val validationMsg = "Sssp: edge weights must be positive integers"
    val checkedW = when(col("w").cast("long") > 0L, col("w").cast("long"))
      .otherwise(raise_error(lit(validationMsg)))
    val dir = edges.select(col("a").cast("long").as("s"),
        col("b").cast("long").as("d"), checkedW.as("w"))
      .union(edges.select(col("b").cast("long").as("s"),
        col("a").cast("long").as("d"), checkedW.as("w")))
    val init = seeds.select(col("u").cast("long").as("u")).distinct()
      .withColumn("dist", lit(0L))
    try Rounds.iterate("Sssp", init, rounds, dir) { (dist, _) =>
      val relaxed = dir.join(dist, dir("s") === dist("u"))
        .select(col("d").as("u"), (col("dist") + col("w")).as("dist"))
      dist.union(relaxed)
        .groupBy("u").agg(min(col("dist")).as("dist"))
    } catch {
      case e: RuntimeException if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(c => String.valueOf(c.getMessage).contains(validationMsg)) =>
        throw new IllegalArgumentException(validationMsg)
    }
  }

  /** One summary row pinning the whole distance table: reached count,
    * distance mass/extreme, and an xor fingerprint of (node, dist).
    * The fingerprint mixes MODULAR residues: a raw `u * 1000003` clears
    * 2^63 for hash-derived 64-bit node ids, where Spark (non-ANSI) wraps
    * but DuckDB raises — the two engines must compute the identical
    * overflow-free tree. */
  private[graft] val FpMod = 536870909L // prime < 2^29: product stays < 2^49
  private def fpExpr = s"bit_xor((u % $FpMod) * 1000003 + dist % $FpMod)"

  def summary(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    distances(edges, seeds, rounds).agg(
      count(lit(1)).as("n_reached"),
      coalesce(sum(col("dist")), lit(0L)).as("sum_dist"),
      coalesce(max(col("dist")), lit(0L)).as("max_dist"),
      coalesce(expr(fpExpr), lit(0L)).as("dist_xor"))

  /** The matching DuckDB SQL over caller-supplied `edges(a, b, w)` /
    * `seeds(u)` CTEs — the relaxation chain is GENERATED from the same
    * round count (the [[Bfs.oracleSql]] pattern), every CTE MATERIALIZED
    * so the doubly-referenced rounds never re-expand. */
  def oracleSql(edgesCte: String, seedsCte: String, rounds: Int): String = {
    val pre =
      s"""WITH eraw AS MATERIALIZED ($edgesCte),
         ed AS MATERIALIZED (SELECT a AS s, b AS d, w FROM eraw
           UNION ALL SELECT b, a, w FROM eraw),
         d0 AS MATERIALIZED (SELECT DISTINCT u, CAST(0 AS BIGINT) AS dist
           FROM ($seedsCte))"""
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT u, MIN(dist) AS dist FROM (
           SELECT u, dist FROM d${i - 1}
           UNION ALL
           SELECT ed.d AS u, p.dist + ed.w AS dist
           FROM ed JOIN d${i - 1} p ON ed.s = p.u) GROUP BY u)"""
    }.mkString(",\n", ",\n", "")
    s"""$pre$steps
       SELECT COUNT(*) AS n_reached,
         CAST(COALESCE(SUM(dist), 0) AS BIGINT) AS sum_dist,
         CAST(COALESCE(MAX(dist), 0) AS BIGINT) AS max_dist,
         CAST(COALESCE(bit_xor((u % $FpMod) * 1000003 + dist % $FpMod), 0)
           AS BIGINT) AS dist_xor
       FROM d$rounds"""
  }
}
