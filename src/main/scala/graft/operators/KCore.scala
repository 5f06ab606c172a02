package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Rounds

/** k-core decomposition by iterative peeling (Seidman 1983): repeatedly
  * delete nodes of degree < k until none remain; the survivors form the
  * k-core, the standard cohesive-subgraph filter (spam/bot rings and
  * tight collaboration groups survive; tendrils do not).
  *
  * Determinism: peeling is pure integer degree arithmetic, and the
  * peeling ORDER does not matter (removing any degree-deficient node
  * never makes another node eligible to stay), so a fixed round count R
  * yields identical bits on any engine — and if the peel has CONVERGED
  * by round R, the result IS the exact k-core, independent of R. The
  * q157 gate pins the whole trajectory: per-round survivor counts, so
  * an engine that peels differently in ANY round trips the hash.
  *
  * Scale design (100 TB): each round is one degree count (map-side
  * combined) + two semi joins of the edge list against the (much
  * smaller) surviving-node set — O(R) edge-list shuffles, nothing
  * quadratic, the same bound as LPA ([[Communities]]). Convergence on
  * real graphs is fast (the degeneracy peel removes whole shells per
  * round); R is a snapshot bound, not an accuracy knob, and the
  * trajectory output makes an unconverged R visible (last two rounds
  * differ). The rounds run on [[graft.Rounds]].
  */
object KCore {

  /** Peeling trajectory of the UNDIRECTED simple graph `edges` (a < b,
    * deduplicated by the caller): one row per round with surviving
    * node/edge counts and an xor pin over surviving nodes. Columns:
    * round, n_nodes, n_edges, xor_nodes. */
  def trajectory(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    // the state is every edge with the last round it survived; round i
    // peels the survivors of round i-1, and dead edges ride along unshuffled
    val init = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), lit(0L).as("last"))
    val fin = Rounds.iterate("KCore", init, rounds) { (e, i) =>
      val alive = e.filter(col("last") === i - 1)
      val keep = alive.select(col("a").as("u")).union(alive.select(col("b").as("u")))
        .groupBy("u").agg(count(lit(1)).as("d")).filter(col("d") >= k)
      def ok(c: String) = keep.select(col("u").as(c), lit(true).as(c + "ok"))
      alive.join(ok("a"), Seq("a"), "left").join(ok("b"), Seq("b"), "left")
        .select(col("a"), col("b"),
          when(col("aok") && col("bok"), i.toLong).otherwise(i - 1L).as("last"))
        .union(e.filter(col("last") < i - 1))
    }
    // a node survives round r iff its max `last` is >= r; per-`last`
    // partials fold to per-round totals over the (rounds+1)-row domain
    val nodes = fin.select(col("a").as("u"), col("last"))
      .union(fin.select(col("b").as("u"), col("last")))
      .groupBy("u").agg(max(col("last")).as("last"))
      .groupBy("last").agg(count(lit(1)).as("n"), expr("bit_xor(u)").as("x"))
    val byLast = fin.groupBy("last").agg(count(lit(1)).as("m"))
      .join(nodes, Seq("last"), "left")
    fin.sparkSession.range(1, rounds + 1L).select(col("id").as("round"))
      .join(byLast, col("last") >= col("round"), "left")
      .groupBy("round")
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_nodes"),
        coalesce(sum(col("m")), lit(0L)).as("n_edges"),
        coalesce(expr("bit_xor(x)"), lit(0L)).as("xor_nodes"))
      .orderBy("round")
  }

  /** The matching DuckDB SQL, generated from the same constants: a chain
    * of `rounds` peels over an `edges(a, b)` CTE the caller supplies.
    * Pure integer counts — the chain cannot drift from [[trajectory]]. */
  def oracleSql(edgesCte: String, k: Int, rounds: Int): String = {
    // every CTE is MATERIALIZED: each e_i is referenced several times
    // downstream, and an inlining engine would otherwise re-expand the
    // whole chain exponentially
    val pre = s"WITH e0 AS MATERIALIZED ($edgesCte)"
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM (
           SELECT a AS u FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           GROUP BY u),
         k$i AS MATERIALIZED (SELECT u FROM d$i WHERE d >= $k),
         e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
           WHERE a IN (SELECT u FROM k$i) AND b IN (SELECT u FROM k$i))"""
    }.mkString(",\n", ",\n", "")
    val rows = (1 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
           (SELECT COUNT(*) FROM (SELECT DISTINCT u FROM
              (SELECT a AS u FROM e$i UNION ALL SELECT b FROM e$i))) AS n_nodes,
           (SELECT COUNT(*) FROM e$i) AS n_edges,
           (SELECT CAST(COALESCE(bit_xor(u), 0) AS BIGINT) FROM
              (SELECT DISTINCT u FROM
                (SELECT a AS u FROM e$i UNION ALL SELECT b FROM e$i))) AS xor_nodes"""
    }.mkString(" UNION ALL ")
    s"$pre$steps SELECT * FROM ($rows) ORDER BY round"
  }
}
