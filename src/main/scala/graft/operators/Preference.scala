package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bradley-Terry preference-strength estimation in exact integers.
  *
  * The RLHF data-pipeline primitive: given pairwise preference outcomes
  * ("A beat B", aggregated win counts), estimate a per-item strength so
  * items are rankable on one scale. Bradley-Terry (1952) models
  * P(i beats j) = p_i / (p_i + p_j); the standard minorize-maximize
  * update (Hunter 2004) is
  *
  *   p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j)
  *
  * with W_i = total wins of i and n_ij = games between i and j.
  *
  * Exactness (the [[PageRank]] pattern): strengths are BIGINT micro-units
  * (1.0 ≡ `unit`), every division is a positive-operand floor division
  * (`div` in Spark ≡ `//` in DuckDB), every sum is an integer sum — the
  * fixed point is a deterministic function of the arithmetic, bit-equal
  * on any engine and any partitioning. The inner terms carry `prec`
  * extra precision so the floors lose < 1/prec relative mass per step.
  * A zero-win item floors at 1 unit (GREATEST), so the next iteration's
  * p_i + p_j can never hit zero.
  *
  * Overflow budget: n_ij·unit·prec ≤ n_ij·10^11 — safe to ~9·10^7 games
  * per pair; W_i·unit·prec safe to ~9·10^7 wins per item.
  *
  * Scale shape: the duel matrix is |items|² at most — aggregated FIRST
  * (one map-side combinable groupBy over the raw comparisons), so the
  * iterations run over the item-pair domain, never the event log. K
  * iterations = K tiny keyed joins. Nothing quadratic in rows.
  */
object Preference {

  /** Strengths after `iters` MM updates over `duels(winner, loser, w)`
    * (pre-aggregated win counts). Output:
    * (item, wins, games, rating_units) ordered by item.
    *
    * Two execution tiers sharing the identical arithmetic (so they are
    * bit-interchangeable): when the aggregated win matrix fits
    * `driverMax` rows it is COLLECTED and the fixed point runs as a
    * driver loop — the [[graft.operators.Ivf]] precedent (the matrix is
    * ≤|items|² kilobytes, the model itself); a larger item domain falls
    * back to [[ratingsDistributed]]'s keyed-join iterations. The
    * distributed duel AGGREGATION that feeds either tier is where the
    * data volume lives, and it is one map-side-combinable groupBy. */
  def ratings(duels: DataFrame, iters: Int = 3,
              unit: Long = 1000000L, prec: Long = 100000L,
              driverMax: Int = 65536): DataFrame = {
    require(iters >= 1 && unit > 0 && prec > 0)
    val spark = duels.sparkSession
    val agg = duels.groupBy("winner", "loser")
      .agg(sum(col("w").cast("long")).as("w"))
    val head = agg.limit(driverMax + 1).collect()
    if (head.length > driverMax) return ratingsDistributed(duels, iters, unit, prec)

    val w = head.map(r => (r.get(0), r.get(1), r.getLong(2)))
    val items = (w.map(_._1) ++ w.map(_._2)).distinct.sortBy(_.toString)
    val wins = w.groupBy(_._1).map { case (i, xs) => i -> xs.map(_._3).sum }
    val sym = w.flatMap { case (i, j, n) => Seq((i, j, n), (j, i, n)) }
    val byItem: Map[Any, Seq[(Any, Long)]] = sym.groupBy(_._1)
      .map { case (i, xs) =>
        i -> xs.groupBy(_._2).map { case (j, ys) => (j, ys.map(_._3).sum) }.toSeq
      }.withDefaultValue(Seq.empty)

    var p = items.map(i => i -> unit).toMap
    for (_ <- 1 to iters) {
      p = items.map { i =>
        val s = byItem(i).map { case (j, nij) =>
          nij * unit * prec / (p(i) + p(j))
        }.sum
        i -> (if (s == 0L) p(i)
              else math.max(wins.getOrElse(i, 0L) * unit * prec / s, 1L))
      }.toMap
    }
    val itemField = agg.schema("winner").copy(name = "item")
    val schema = org.apache.spark.sql.types.StructType(Seq(itemField,
      org.apache.spark.sql.types.StructField("wins",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("games",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rating_units",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = items.map { i =>
      org.apache.spark.sql.Row(i, wins.getOrElse(i, 0L),
        byItem(i).map(_._2).sum, p(i))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy("item")
  }

  /** The keyed-join tier of [[ratings]] — identical floor-division
    * arithmetic, as K tiny shuffles over the item-pair domain on [[graft.Rounds]],
    * for item domains too large to collect (user-level ratings). */
  def ratingsDistributed(duels: DataFrame, iters: Int = 3,
                         unit: Long = 1000000L, prec: Long = 100000L): DataFrame = {
    require(iters >= 1 && unit > 0 && prec > 0)
    val d = duels.select(col("winner"), col("loser"), col("w").cast("long").as("w"))
    val items = d.select(col("winner").as("item"))
      .union(d.select(col("loser").as("item"))).distinct()
    val wins = d.groupBy(col("winner").as("item")).agg(sum("w").as("wins"))
    // symmetric games matrix: n_ij = wins(i over j) + wins(j over i)
    val games = d.select(col("winner").as("i"), col("loser").as("j"), col("w"))
      .union(d.select(col("loser").as("i"), col("winner").as("j"), col("w")))
      .groupBy("i", "j").agg(sum("w").as("nij"))
    val gamesTot = games.groupBy(col("i").as("item")).agg(sum("nij").as("games"))
    // each item's wins and games ride in the state, so the result reads
    // only the last round
    val init = items.join(wins, Seq("item"), "left").join(gamesTot, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"),
        coalesce(col("games"), lit(0L)).as("games"), lit(unit).as("p"))
    graft.Rounds.iterate("Preference", init, iters, games) { (r, _) =>
      val s = games
        .join(r.select(col("item").as("i"), col("p").as("pi")), Seq("i"))
        .join(r.select(col("item").as("j"), col("p").as("pj")), Seq("j"))
        .select(col("i").as("item"),
          expr(s"(nij * $unit * $prec) div (pi + pj)").as("term"))
        .groupBy("item").agg(sum("term").as("s"))
      r.join(s, Seq("item"), "left")
        .select(col("item"), col("wins"), col("games"),
          when(coalesce(col("s"), lit(0L)) === 0L, col("p"))
            .otherwise(greatest(
              expr(s"(wins * $unit * $prec) div s"), lit(1L)))
            .as("p"))
    }.withColumnRenamed("p", "rating_units").orderBy("item")
  }

  /** The matching DuckDB SQL, generated from the same constants (the
    * [[PageRank.oracleSql]] pattern): a chain of K materialized
    * iterations over a `duels(winner, loser, w)` CTE the caller
    * supplies. Positive-operand `//` floors exactly like `div`. */
  def oracleSql(duelsCte: String, iters: Int = 3,
                unit: Long = 1000000L, prec: Long = 100000L): String = {
    val up = unit * prec
    val pre =
      s"""WITH duels AS ($duelsCte),
         items AS (SELECT DISTINCT winner AS item FROM duels
                   UNION SELECT DISTINCT loser FROM duels),
         wins AS (SELECT winner AS item, SUM(w) AS wins FROM duels GROUP BY 1),
         games AS (SELECT i, j, SUM(w) AS nij FROM (
             SELECT winner AS i, loser AS j, w FROM duels
             UNION ALL SELECT loser AS i, winner AS j, w FROM duels)
           GROUP BY i, j),
         r0 AS (SELECT item, CAST($unit AS BIGINT) AS p FROM items)"""
    val iterations = (1 to iters).map { i =>
      s"""r$i AS (SELECT it.item,
           CAST(CASE WHEN COALESCE(s.s, 0) = 0 THEN r.p
                ELSE GREATEST((COALESCE(w.wins, 0) * $up) // s.s, 1)
           END AS BIGINT) AS p
         FROM items it
         JOIN r${i - 1} r ON r.item = it.item
         LEFT JOIN (SELECT g.i AS item,
               SUM((g.nij * $up) // (ri.p + rj.p)) AS s
             FROM games g
             JOIN r${i - 1} ri ON ri.item = g.i
             JOIN r${i - 1} rj ON rj.item = g.j
             GROUP BY g.i) s ON s.item = it.item
         LEFT JOIN wins w ON w.item = it.item)"""
    }.mkString(",\n", ",\n", "")
    s"""$pre$iterations
       SELECT it.item, CAST(COALESCE(w.wins, 0) AS BIGINT) AS wins,
         CAST(COALESCE(g.games, 0) AS BIGINT) AS games,
         CAST(r.p AS BIGINT) AS rating_units
       FROM items it
       LEFT JOIN wins w ON w.item = it.item
       LEFT JOIN (SELECT i AS item, SUM(nij) AS games FROM games GROUP BY i) g
         ON g.item = it.item
       JOIN r$iters r ON r.item = it.item
       ORDER BY it.item"""
  }
}
