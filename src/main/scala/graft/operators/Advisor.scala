package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-driven join-strategy advisor — the engine profiling its own
  * inputs to pick the physical plan a 100 TB deployment should run.
  *
  * For each join side it computes the three quantities every planner
  * decision needs: row count, distinct key count (build-side hash table
  * size), and the hottest key's frequency (the shuffle-skew driver that
  * q176's Gini summarizes corpus-wide). The verdict is a deterministic
  * integer rule-chain over those exact counts:
  *
  *   - smaller side fits the broadcast budget      → `broadcast_<side>`
  *   - hottest probe key exceeds `skewPct`% of its
  *     side (one reducer drowns)                   → `shuffle_salted`
  *   - otherwise                                   → `sort_merge`
  *
  * Everything is a pair of groupBy aggregates (map-side combinable) —
  * the profile costs one pass per side regardless of table width, and
  * at scale it runs on a sample partition or the table's statistics
  * instead; the rule chain itself is size-independent. Integer counts
  * and string verdicts only, so the output hashes bit-for-bit.
  */
object Advisor {

  /** One-row key profile: n_rows, n_keys, max_freq for `key` in `df`. */
  def keyProfile(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_freq"))

  /** Advise on `left ⋈ right`; returns one row with both profiles and
    * the strategy verdict. `joinName` labels the row. */
  def advise(joinName: String, left: DataFrame, lk: Column,
             right: DataFrame, rk: Column,
             broadcastRows: Long = 1000000L, skewPct: Long = 5L): DataFrame = {
    val lp = keyProfile(left, lk)
      .select(col("n_rows").as("l_rows"), col("n_keys").as("l_keys"),
        col("max_freq").as("l_max_freq"))
    val rp = keyProfile(right, rk)
      .select(col("n_rows").as("r_rows"), col("n_keys").as("r_keys"),
        col("max_freq").as("r_max_freq"))
    lp.crossJoin(rp)
      .select(lit(joinName).as("join_name"),
        col("l_rows"), col("l_keys"), col("l_max_freq"),
        col("r_rows"), col("r_keys"), col("r_max_freq"),
        when(least(col("l_rows"), col("r_rows")) <= broadcastRows,
            concat(lit("broadcast_"),
              when(col("l_rows") <= col("r_rows"), "left").otherwise("right")))
          .when(greatest(col("l_max_freq") * 100 - col("l_rows") * skewPct,
              col("r_max_freq") * 100 - col("r_rows") * skewPct) > 0,
            lit("shuffle_salted"))
          .otherwise(lit("sort_merge")).as("strategy"))
  }

  /** Exact equi-join output cardinality WITHOUT materializing the join:
    * |A ⋈ B| = Σ_k f_A(k)·f_B(k) over the two key histograms — the
    * planner's join-size statistic computed from two map-side-combinable
    * aggregates and a count-table join (shuffle carries one row per
    * DISTINCT key, never the fact rows). Also reports each side's rows
    * for the selectivity ratio. */
  def joinSize(joinName: String, left: DataFrame, lk: Column,
               right: DataFrame, rk: Column): DataFrame = {
    val fa = left.groupBy(lk.as("k")).agg(count(lit(1)).as("ca"))
    val fb = right.groupBy(rk.as("k")).agg(count(lit(1)).as("cb"))
    fa.join(fb, "k")
      .agg(sum(col("ca") * col("cb")).as("out_rows"))
      .crossJoin(fa.agg(sum(col("ca")).as("l_rows")))
      .crossJoin(fb.agg(sum(col("cb")).as("r_rows")))
      .select(lit(joinName).as("join_name"), col("l_rows"), col("r_rows"),
        coalesce(col("out_rows"), lit(0L)).as("out_rows"))
  }

  /** Oracle-SQL twin of [[joinSize]]. */
  def joinSizeSql(joinName: String, lt: String, lk: String,
                  rt: String, rk: String): String =
    s"""SELECT '$joinName' AS join_name,
        (SELECT COUNT(*) FROM $lt) AS l_rows,
        (SELECT COUNT(*) FROM $rt) AS r_rows,
        CAST(COALESCE((SELECT SUM(ca * cb) FROM
          (SELECT $lk AS k, COUNT(*) AS ca FROM $lt GROUP BY 1) fa
          JOIN (SELECT $rk AS k, COUNT(*) AS cb FROM $rt GROUP BY 1) fb
          USING (k)), 0) AS BIGINT) AS out_rows"""

  /** Foreign-key candidate score — join-key DISCOVERY, the metadata
    * pass a 100 TB lake runs before anyone writes a join: does
    * `child.childCol` plausibly reference `parent.parentCol`?
    *
    * Reports the two sides' distinct-key counts, the containment
    * |D_child ∩ D_parent| / |D_child| (an FK's is exactly 1), parent-side
    * uniqueness (a referenced key must be unique), and the combined
    * `is_fk` verdict. Scale: the shuffle carries one row per DISTINCT
    * key (semi join of the two distinct sets), never fact rows; at the
    * extreme the distinct sets come from the layer's sketches instead.
    * Integer counts + ONE IEEE division, so rows hash bit-for-bit. */
  def fkScore(pairName: String, child: DataFrame, childCol: Column,
              parent: DataFrame, parentCol: Column): DataFrame =
    fkScoreShared(pairName, keyCounts(child, childCol),
      keyCounts(parent, parentCol))

  /** One (table, column) key profile — `(k, cnt)` per distinct non-null
    * key — pinned ([[graft.Pin]]) so however many FK edges consume it as
    * child or parent, the base table is scanned ONCE. |distinct keys| rows
    * of two longs: small by construction (distinct keys ≪ rows). */
  def keyCounts(df: DataFrame, key: Column): DataFrame =
    graft.Pin(df.filter(key.isNotNull).groupBy(key.as("k"))
      .agg(count(lit(1)).as("cnt"))).df

  /** Materialize MANY key profiles CONCURRENTLY: one pin job per (table,
    * column) profile, all submitted at once, so the profile scans+shuffles
    * OVERLAP across executors instead of running serially. The A/B
    * history behind this shape: serial per-profile pins lost to a fused
    * lazy AQE-reuse plan (one driver job per profile, back to back), but
    * the fused plan in turn serialized the shared stages inside its
    * single job and never beat the naive formulation on wall clock —
    * concurrent submission keeps the scan-once property AND the overlap.
    * The jobs go through [[graft.FanOut]] (≤ a few dozen profiles in any
    * schema-discovery sweep; each job is a tiny two-long-column
    * aggregate), and each returned profile is a pin scanned — never
    * recomputed — by however many downstream edges consume it. */
  def keyCountsAll(profiles: Seq[(DataFrame, Column)]): Seq[DataFrame] =
    profiles.headOption.fold(Seq.empty[DataFrame]) { case (df0, _) =>
      graft.FanOut.map(df0.sparkSession, profiles) { case (df, key) => keyCounts(df, key) }
    }

  /** [[fkScore]] over pre-built [[keyCounts]] profiles: both sides'
    * distinct sets, the containment semi join, and parent uniqueness all
    * read the materialized profiles — no base-table access at all, so a
    * discovery sweep over E candidate edges costs one scan per distinct
    * (table, column), not per edge. */
  def fkScoreShared(pairName: String, childKeys: DataFrame,
                    parentKeys: DataFrame): DataFrame = {
    val dc = childKeys.select("k")
    val contained = dc.join(parentKeys, Seq("k"), "left_semi")
      .agg(count(lit(1)).as("n_contained"))
    dc.agg(count(lit(1)).as("n_child_keys"))
      .crossJoin(contained)
      .crossJoin(parentKeys.agg(count(lit(1)).as("n_parent_keys"),
        sum(col("cnt")).as("n_parent_rows")))
      .select(lit(pairName).as("pair"),
        col("n_child_keys"), col("n_contained"),
        col("n_parent_keys"), col("n_parent_rows"),
        (col("n_contained").cast("double")
          / col("n_child_keys").cast("double")).as("containment"),
        (col("n_contained") === col("n_child_keys")
          && col("n_parent_keys") === col("n_parent_rows")).as("is_fk"))
  }

  /** [[fkScoreShared]] for a whole discovery SWEEP in one plan: every
    * edge's child and parent profiles are tagged with the pair name and
    * unioned, so E edges pay ONE (pair, k) equi-join plus three grouped
    * aggregates — instead of a semi join and three crossJoin-assembled
    * scalar aggregates PER EDGE (4·E subplans in the final job). The
    * join is 1:1-per-key because profiles are distinct-keyed by
    * construction, so the inner join IS the semi join's containment
    * count; an edge whose intersection is empty survives via the outer
    * join + coalesce. Shuffle bytes match the per-edge formulation
    * (each profile crosses once per edge it appears in); what drops is
    * the job breadth — E·4 stages to ~4. Rows are identical to
    * per-edge [[fkScoreShared]] (spec-gated in AnalyticsSpec). */
  def fkScoreSharedAll(edges: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    require(edges.nonEmpty, "advisor: fkScoreSharedAll needs at least one edge")
    require(edges.map(_._1).distinct.size == edges.size,
      "advisor: duplicate pair names in fkScoreSharedAll")
    val children = edges.map { case (p, c, _) =>
      c.select(lit(p).as("pair"), col("k")) }.reduce(_ unionAll _)
    val parents = edges.map { case (p, _, par) =>
      par.select(lit(p).as("pair"), col("k"), col("cnt")) }.reduce(_ unionAll _)
    val childStats = children.groupBy("pair")
      .agg(count(lit(1)).as("n_child_keys"))
    val contained = children.join(parents.select("pair", "k"), Seq("pair", "k"))
      .groupBy("pair").agg(count(lit(1)).as("n_contained"))
    val parentStats = parents.groupBy("pair")
      .agg(count(lit(1)).as("n_parent_keys"), sum(col("cnt")).as("n_parent_rows"))
    childStats.join(contained, Seq("pair"), "left_outer")
      .join(parentStats, Seq("pair"))
      .select(col("pair"), col("n_child_keys"),
        coalesce(col("n_contained"), lit(0L)).as("n_contained"),
        col("n_parent_keys"), col("n_parent_rows"),
        (coalesce(col("n_contained"), lit(0L)).cast("double")
          / col("n_child_keys").cast("double")).as("containment"),
        (coalesce(col("n_contained"), lit(0L)) === col("n_child_keys")
          && col("n_parent_keys") === col("n_parent_rows")).as("is_fk"))
  }

  /** Oracle-SQL twin of [[fkScore]]. */
  def fkScoreSql(pairName: String, ct: String, ck: String,
                 pt: String, pk: String): String =
    s"""SELECT '$pairName' AS pair, n_child_keys, n_contained,
        n_parent_keys, n_parent_rows,
        CAST(n_contained AS DOUBLE) / CAST(n_child_keys AS DOUBLE) AS containment,
        (n_contained = n_child_keys AND n_parent_keys = n_parent_rows) AS is_fk
      FROM (SELECT COUNT(*) AS n_child_keys FROM
              (SELECT DISTINCT $ck FROM $ct WHERE $ck IS NOT NULL)),
           (SELECT COUNT(*) AS n_contained FROM
              (SELECT DISTINCT $ck AS k FROM $ct WHERE $ck IS NOT NULL) dc
              WHERE EXISTS (SELECT 1 FROM $pt WHERE $pk = dc.k)),
           (SELECT COUNT(DISTINCT $pk) AS n_parent_keys, COUNT(*) AS n_parent_rows
              FROM $pt WHERE $pk IS NOT NULL)"""

  /** Zone-map pruning forecast — the data-skipping planning pass a
    * lake table's layout is judged by (Parquet row-group stats, Delta
    * file stats, Iceberg manifests all implement this contract): per
    * zone (file/row-group surrogate) keep `min/max(value)`, then for a
    * `[lo, hi]` predicate classify every zone WITHOUT reading it:
    *
    *   - `zmax < lo` or `zmin > hi` → pruned (zone never opened)
    *   - `zmin >= lo` and `zmax <= hi` → full (no per-row filter needed)
    *   - otherwise → partial (opened and filtered)
    *
    * One row out: zone/row totals, the three class counts, rows skipped,
    * and the skip fraction. Scale: the zone map is |zones| rows built in
    * one map-side-combinable aggregate (at 100 TB it is read from file
    * metadata instead of scanned); classification is arithmetic over the
    * map, never the fact. Integer counts + ONE division, so rows hash
    * bit-for-bit. The q110/q143 layout queries WRITE clustered data;
    * this measures what a predicate SAVES on a given clustering. */
  def zonePrune(label: String, df: DataFrame, zone: Column, value: Column,
                lo: Column, hi: Column): DataFrame = {
    val zones = df.groupBy(zone.as("z"))
      .agg(count(lit(1)).as("n"), min(value).as("zmin"), max(value).as("zmax"))
    zones.agg(
        count(lit(1)).as("n_zones"),
        sum(col("n")).as("n_rows"),
        sum(when(col("zmax") < lo || col("zmin") > hi, 1L).otherwise(0L))
          .as("zones_pruned"),
        sum(when(col("zmin") >= lo && col("zmax") <= hi, 1L).otherwise(0L))
          .as("zones_full"),
        sum(when(col("zmax") < lo || col("zmin") > hi, col("n")).otherwise(0L))
          .as("rows_skipped"))
      .select(lit(label).as("band"), col("n_zones"), col("n_rows"),
        col("zones_pruned"), col("zones_full"),
        (col("n_zones") - col("zones_pruned") - col("zones_full")).as("zones_partial"),
        col("rows_skipped"),
        (col("rows_skipped").cast("double") / col("n_rows").cast("double"))
          .as("skip_fraction"))
  }

  /** Oracle-SQL twin of [[zonePrune]] — `zoneExpr`/`valueExpr`/`loExpr`/
    * `hiExpr` are SQL fragments over table `tbl`. */
  def zonePruneSql(label: String, tbl: String, zoneExpr: String,
                   valueExpr: String, loExpr: String, hiExpr: String): String =
    s"""SELECT '$label' AS band, COUNT(*) AS n_zones,
        CAST(SUM(n) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN zmax < $loExpr OR zmin > $hiExpr THEN 1 ELSE 0 END) AS BIGINT) AS zones_pruned,
        CAST(SUM(CASE WHEN zmin >= $loExpr AND zmax <= $hiExpr THEN 1 ELSE 0 END) AS BIGINT) AS zones_full,
        CAST(COUNT(*) - SUM(CASE WHEN zmax < $loExpr OR zmin > $hiExpr THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN zmin >= $loExpr AND zmax <= $hiExpr THEN 1 ELSE 0 END)
          AS BIGINT) AS zones_partial,
        CAST(SUM(CASE WHEN zmax < $loExpr OR zmin > $hiExpr THEN n ELSE 0 END) AS BIGINT) AS rows_skipped,
        CAST(SUM(CASE WHEN zmax < $loExpr OR zmin > $hiExpr THEN n ELSE 0 END) AS DOUBLE)
          / CAST(SUM(n) AS DOUBLE) AS skip_fraction
      FROM (SELECT $zoneExpr AS z, COUNT(*) AS n,
              MIN($valueExpr) AS zmin, MAX($valueExpr) AS zmax
            FROM $tbl GROUP BY 1)"""

  /** Oracle-SQL twin of [[advise]] over DuckDB tables (same literals,
    * same rule chain) — `lt`/`rt` are table names, `lk`/`rk` key columns. */
  def adviseSql(joinName: String, lt: String, lk: String,
                rt: String, rk: String,
                broadcastRows: Long = 1000000L, skewPct: Long = 5L): String =
    s"""SELECT '$joinName' AS join_name,
        CAST(l_rows AS BIGINT) AS l_rows, l_keys, l_max_freq,
        CAST(r_rows AS BIGINT) AS r_rows, r_keys, r_max_freq,
        CASE
          WHEN LEAST(l_rows, r_rows) <= $broadcastRows THEN
            'broadcast_' || (CASE WHEN l_rows <= r_rows THEN 'left' ELSE 'right' END)
          WHEN GREATEST(l_max_freq * 100 - l_rows * $skewPct,
                        r_max_freq * 100 - r_rows * $skewPct) > 0 THEN 'shuffle_salted'
          ELSE 'sort_merge'
        END AS strategy
      FROM (SELECT SUM(cnt) AS l_rows, COUNT(*) AS l_keys, MAX(cnt) AS l_max_freq
            FROM (SELECT $lk, COUNT(*) AS cnt FROM $lt GROUP BY 1)),
           (SELECT SUM(cnt) AS r_rows, COUNT(*) AS r_keys, MAX(cnt) AS r_max_freq
            FROM (SELECT $rk, COUNT(*) AS cnt FROM $rt GROUP BY 1))"""
}
