package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Rounds

/** Multi-source breadth-first search: exact hop distances from a seed
  * set over an undirected graph — the reachability/radius primitive
  * behind "how far does influence spread", contamination blast-radius
  * checks, and graph-feature generation. Sixth graph-analytics member
  * (components, PageRank, triangles, LPA, k-core).
  *
  * Determinism: BFS layers are pure set algebra — layer i is
  * neighbors(layer i-1) minus everything already reached — so the
  * per-layer node sets are engine-independent, no tie-breaks anywhere.
  * The q168 gate pins every layer (count + node xor per distance).
  *
  * Scale design (100 TB): each round is one edge⋈frontier hash join
  * (the frontier, not the graph, is the build side) + one anti join
  * against the reached set — O(R) edge-list shuffles, the same bound
  * as LPA/k-core, on [[graft.Rounds]]; no per-node adjacency lists are
  * ever collected.
  */
object Bfs {

  /** One row per hop distance 0..rounds: dist, n_nodes, xor_nodes.
    * `edges` is an undirected simple graph (a < b, deduplicated);
    * `seeds` is a single-column `u` node set. Exhausted layers report
    * (0, 0) rather than vanishing, so the row count itself is pinned. */
  def distances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0)
    // both directions once, up front: neighbor expansion becomes a
    // single equi join per round
    val dir = edges.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .union(edges.select(col("b").cast("long").as("u"), col("a").cast("long").as("v")))
    // the state is reached(u, d); round i's frontier is its d = i-1 slice
    val init = seeds.select(col("u").cast("long").as("u")).distinct()
      .withColumn("d", lit(0L))
    val reached = Rounds.iterate("Bfs", init, rounds, dir) { (r, i) =>
      val frontier = r.filter(col("d") === i - 1).select("u")
      dir.join(frontier, "u").select(col("v").as("u")).distinct()
        .join(r, Seq("u"), "left_anti")
        .withColumn("d", lit(i.toLong))
        .union(r)
    }
    reached.sparkSession.range(rounds + 1L).select(col("id").as("dist"))
      .join(reached, col("dist") === col("d"), "left")
      .groupBy("dist").agg(count(col("u")).as("n_nodes"),
        coalesce(expr("bit_xor(u)"), lit(0L)).as("xor_nodes"))
      .orderBy("dist")
  }

  /** The matching DuckDB SQL, generated from the same round count over
    * caller-supplied `edges(a, b)` / `seeds(u)` CTEs — the chain cannot
    * drift from [[distances]]. Every CTE is MATERIALIZED: each layer is
    * referenced by all later rounds, and an inlining engine would
    * otherwise re-expand the chain exponentially (the [[KCore.oracleSql]]
    * lesson). */
  def oracleSql(edgesCte: String, seedsCte: String, rounds: Int): String = {
    val pre =
      s"""WITH eraw AS MATERIALIZED ($edgesCte),
         ed AS MATERIALIZED (SELECT a AS s, b AS d FROM eraw
           UNION ALL SELECT b, a FROM eraw),
         f0 AS MATERIALIZED (SELECT DISTINCT u FROM ($seedsCte)),
         r0 AS MATERIALIZED (SELECT u FROM f0)"""
    val steps = (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (SELECT DISTINCT d AS u FROM ed
           JOIN f${i - 1} ON ed.s = f${i - 1}.u
           WHERE d NOT IN (SELECT u FROM r${i - 1})),
         r$i AS MATERIALIZED (SELECT u FROM r${i - 1}
           UNION ALL SELECT u FROM f$i)"""
    }.mkString(",\n", ",\n", "")
    val rows = (0 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS dist,
           (SELECT COUNT(*) FROM f$i) AS n_nodes,
           (SELECT CAST(COALESCE(bit_xor(u), 0) AS BIGINT) FROM f$i) AS xor_nodes"""
    }.mkString(" UNION ALL ")
    s"$pre$steps SELECT * FROM ($rows) ORDER BY dist"
  }
}
