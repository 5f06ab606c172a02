package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et al.
  * 2007), made deterministic: every node starts labeled with its own id,
  * and each round adopts the most frequent label among its neighbors,
  * ties broken by the SMALLEST label. Both rules are pure integer
  * arithmetic over counts, so a fixed number of rounds yields identical
  * bits on any engine and any partitioning — the property the q132 gate
  * checks (the DuckDB oracle chain is generated from the same rules).
  *
  * The classic asynchronous LPA visits nodes in random order; this
  * synchronous variant trades its faster convergence for determinism
  * (oscillation between two label sets is possible on bipartite-ish
  * structure, which a fixed round count simply snapshots — fine for a
  * cross-engine gate, and in practice co-occurrence graphs settle).
  *
  * Scale design (100 TB): each round is one dst-keyed join (edges ⋈
  * labels), one (src, label) count, and one per-src arg-max — all plain
  * keyed shuffles of the EDGE list, K rounds = O(K) edge-list shuffles,
  * nothing quadratic. The per-src arg-max is a WindowGroupLimit-able
  * row_number over the (src, label) count rows — bounded by the number
  * of DISTINCT neighbor labels per node, not the neighbor count.
  * Parallel edges are legal and act as weights (each edge row
  * contributes one vote).
  */
object Communities {

  /** Labels after `iters` synchronous rounds over the UNDIRECTED graph
    * (each input edge votes in both directions). Returns (node, label),
    * both BIGINT. Nodes are inferred as src ∪ dst, so every node has at
    * least one neighbor and a round never leaves a label undefined. */
  def labels(edges: DataFrame, srcCol: String, dstCol: String,
             iters: Int = 4, driverMax: Int = 65536): DataFrame = {
    require(iters >= 1)
    // Driver tier for bounded node domains (the PageRank/Preference
    // pattern): when the directed edge multiset fits the budget, the K
    // synchronous rounds — vote counts, most-frequent label, min-label
    // tie-break, IDENTICAL rules — run as a driver loop instead of K
    // windowed shuffles. Spec-pinned bit-equal to the join tier.
    val gAgg = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    val head = gAgg.limit(driverMax + 1).collect()
    if (head.length <= driverMax) {
      val spark = edges.sparkSession
      val dirEdges = head.flatMap { r =>
        val (a, b, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
        Seq((a, b, n), (b, a, n))
      }
      // parallel directed duplicates merge; each (src,dst) votes with
      // multiplicity = its edge count, as the join tier's groupBy does
      val bySrc = dirEdges.groupBy(_._1).map { case (s, xs) =>
        s -> xs.groupBy(_._2).map { case (d, ys) => (d, ys.map(_._3).sum) }.toSeq
      }
      val nodes = bySrc.keys.toSeq.sorted
      var lab = nodes.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        lab = nodes.map { n =>
          val votes = bySrc(n).groupBy { case (d, _) => lab(d) }
            .map { case (l, ys) => (l, ys.map(_._2).sum) }
          // most votes, then smallest label — the byVotes window order
          n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }.toMap
      }
      val rows = nodes.map(n => org.apache.spark.sql.Row(n, lab(n)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .orderBy("node")
    }
    labelsDistributed(edges, srcCol, dstCol, iters)
  }

  /** The windowed-join tier of [[labels]] on the [[graft.Rounds]] driver,
    * for graphs whose edge matrix exceeds the driver budget. */
  def labelsDistributed(edges: DataFrame, srcCol: String, dstCol: String,
                        iters: Int = 4): DataFrame = {
    require(iters >= 1)
    val g = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = g.union(g.select(col("dst").as("src"), col("src").as("dst")))
    val byVotes = Window.partitionBy("node")
      .orderBy(col("c").desc, col("label").asc)
    val init = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    graft.Rounds.iterate("Communities", init, iters, e) { (labels, _) =>
      e.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byVotes))
        .filter(col("rn") === 1)
        .select("node", "label")
    }.orderBy("node")
  }

  /** The matching DuckDB SQL, generated from the same rules: a chain of
    * `iters` materialized rounds over an `edges(src, dst)` CTE the
    * caller supplies. Counts and min-label tie-breaks only — no floats
    * anywhere, so the chain cannot drift from [[labels]]. */
  def oracleSql(edgesCte: String, iters: Int = 4): String = {
    val pre =
      s"""WITH g AS ($edgesCte),
         e AS (SELECT src, dst FROM g UNION ALL SELECT dst, src FROM g),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)"""
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (SELECT node, label FROM (
           SELECT e.src AS node, l.label,
             ROW_NUMBER() OVER (PARTITION BY e.src
               ORDER BY COUNT(*) DESC, l.label ASC) AS rn
           FROM e JOIN l${i - 1} l ON l.node = e.dst
           GROUP BY e.src, l.label)
         WHERE rn = 1)"""
    }.mkString(",\n", ",\n", "")
    s"""$pre$rounds
       SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
       FROM l$iters ORDER BY node"""
  }
}
