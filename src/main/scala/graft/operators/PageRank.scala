package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** PageRank (Brin & Page 1998) in exact integer arithmetic.
  *
  * Ranks are carried as BIGINT micro-units (1.0 ≡ `unit`), every division
  * is a positive-operand floor division, and every sum is an integer sum —
  * so the result is bit-identical on any engine and any partitioning, with
  * no float-summation order hazard. The trade: each iteration floors away
  * < 1 unit per division (and dangling nodes leak their mass, the
  * standard simplification), so ranks are a deterministic fixed point of
  * THIS arithmetic rather than the real-valued one — exactly what a
  * cross-engine gate needs.
  *
  * Scale design (100 TB): the classic distributed formulation — each
  * iteration is one src-keyed join (edges ⋈ ranks) and one dst-keyed
  * aggregation, both plain keyed shuffles, on the [[graft.Rounds]]
  * driver. K iterations = 2K shuffles of the EDGE list, never anything
  * quadratic. Parallel edges are legal and act as weights
  * (each edge row contributes rank/outdeg once).
  */
object PageRank {

  /** Ranks after `iters` iterations with damping dampNum/dampDen.
    * Input: an edge DataFrame; nodes are inferred as src ∪ dst.
    * Returns (node, rank_units: BIGINT).
    *
    * Two execution tiers with IDENTICAL integer arithmetic (spec-pinned
    * bit-equal): the edge MULTISET first aggregates to a weighted
    * (src, dst, n) matrix — one map-side-combinable pass over however
    * many edges there are; when that matrix fits `driverMax` rows
    * (bounded node domains: event types, categories) the K-iteration
    * fixed point runs as a driver loop over kilobytes instead of 2K
    * scheduled shuffles. Parallel edges contribute n·(rank div od)
    * exactly as n separate edge rows would. Larger graphs take the
    * distributed keyed-join path below. */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iters: Int = 5, dampNum: Long = 85, dampDen: Long = 100,
            unit: Long = 1000000000000L, driverMax: Int = 65536): DataFrame =
    ranksFromMatrix(
      edges.groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
        .agg(count(lit(1)).as("n")),
      iters, dampNum, dampDen, unit, driverMax)

  /** [[ranks]] from a pre-aggregated weighted edge matrix `(src, dst, n)`
    * — the entry point for INCREMENTALLY MAINTAINED graphs: a
    * [[graft.catalog.Rollup]] keeping per-batch (src, dst) counts folds
    * to exactly this matrix, so ranks refresh from rollup partials
    * without ever re-scanning the event history (spec-gated equal to
    * batch ranks in PageRankSpec). */
  def ranksFromMatrix(matrix: DataFrame,
            iters: Int = 5, dampNum: Long = 85, dampDen: Long = 100,
            unit: Long = 1000000000000L, driverMax: Int = 65536): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum)
    val spark = matrix.sparkSession
    val eAgg = matrix.select(col("src"), col("dst"), col("n").cast("long").as("n"))
    val head = eAgg.limit(driverMax + 1).collect()
    if (head.length <= driverMax) {
      val w = head.map(r => (r.get(0), r.get(1), r.getLong(2)))
      val nodes = (w.map(_._1) ++ w.map(_._2)).distinct.sortBy(_.toString)
      val schema = StructType(Seq(eAgg.schema("src").copy(name = "node"),
        StructField("rank_units", LongType, nullable = false)))
      if (nodes.isEmpty)
        return spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      val od = w.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
      val inEdges = w.groupBy(_._2).withDefaultValue(Array.empty[(Any, Any, Long)])
      val n = nodes.length.toLong
      val base = (unit * (dampDen - dampNum) / dampDen) / n
      var rank = nodes.map(_ -> unit / n).toMap
      for (_ <- 1 to iters) {
        rank = nodes.map { d =>
          val s = inEdges(d).iterator.map { case (sN, _, cnt) =>
            cnt * (rank(sN) / od(sN))
          }.sum
          d -> (base + dampNum * s / dampDen)
        }.toMap
      }
      val rows = nodes.map(nd => Row(nd, rank(nd)))
      return spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .orderBy("node")
    }
    matrixDistributed(eAgg, iters, dampNum, dampDen, unit)
  }

  /** The keyed-join tier of [[ranks]]: K iterations of matrix ⋈ ranks +
    * dst-keyed aggregation, for graphs whose edge matrix exceeds the
    * driver budget. */
  def ranksDistributed(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 5, dampNum: Long = 85, dampDen: Long = 100,
                       unit: Long = 1000000000000L): DataFrame =
    matrixDistributed(
      edges.groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
        .agg(count(lit(1)).as("n")),
      iters, dampNum, dampDen, unit)

  private def matrixDistributed(matrix: DataFrame, iters: Int,
                                dampNum: Long, dampDen: Long,
                                unit: Long): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum)
    val e = matrix.select(col("src"), col("dst"), col("n").cast("long").as("n"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // weighted out-degree counts every parallel edge, as the raw edge
    // list would
    val outdeg = e.groupBy("src").agg(sum(col("n")).as("od"))

    // the two scalar constants of the recurrence, computed ONCE:
    // base = ((unit * (dampDen - dampNum)) div dampDen) div n
    val n = nodes.count()
    if (n == 0) // empty graph: empty ranks, not a divide-by-zero
      return nodes.select(col("node"), lit(0L).as("rank_units"))
    val base = (unit * (dampDen - dampNum) / dampDen) / n
    val init = unit / n

    // `div` (not `/`): Long `/` is DOUBLE division in Spark SQL, and a
    // near-integer quotient could round across the floor; `div` is the
    // exact integer operator, matching DuckDB's `//` on positive longs.
    // Parallel edges contribute n·(rank div od) — identical to n
    // separate edge rows each contributing rank div od.
    graft.Rounds.iterate("PageRank", nodes.withColumn("rank", lit(init)), iters, e, nodes) {
      (ranks, _) =>
        val contribs = e
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .join(outdeg, Seq("src"))
          .select(col("dst").as("node"), expr("n * (rank div od)").as("contrib"))
          .groupBy("node").agg(sum(col("contrib")).as("s"))
        nodes
          .join(contribs, Seq("node"), "left")
          .select(col("node"),
            expr(s"$base + ($dampNum * coalesce(s, 0L)) div $dampDen").as("rank"))
    }.select(col("node"), col("rank").cast("long").as("rank_units")).orderBy("node")
  }

  /** The matching DuckDB SQL, generated from the same constants so the
    * two engines cannot drift: a chain of K materialized iterations over
    * an `edges(src, dst)` CTE the caller supplies. Positive-operand `//`
    * in DuckDB floors exactly like the Long division above. */
  def oracleSql(edgesCte: String, iters: Int = 5, dampNum: Long = 85,
                dampDen: Long = 100, unit: Long = 1000000000000L): String = {
    val pre =
      s"""WITH e AS ($edgesCte),
         nodes AS (SELECT DISTINCT src AS node FROM e
                   UNION SELECT DISTINCT dst FROM e),
         outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         consts AS (SELECT CAST($unit // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS init,
                    CAST((($unit * ${dampDen - dampNum}) // $dampDen)
                         // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS base),
         r0 AS (SELECT node, (SELECT init FROM consts) AS rank FROM nodes)"""
    val iterations = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
           CAST((SELECT base FROM consts)
                + ($dampNum * COALESCE(c.s, 0)) // $dampDen AS BIGINT) AS rank
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS node, SUM(r.rank // od.od) AS s
           FROM e JOIN r${i - 1} r ON r.node = e.src
                  JOIN outdeg od ON od.src = e.src
           GROUP BY e.dst) c ON c.node = n.node)"""
    }.mkString(",\n", ",\n", "")
    s"""$pre$iterations
       SELECT node, CAST(rank AS BIGINT) AS rank_units
       FROM r$iters ORDER BY node"""
  }
}
