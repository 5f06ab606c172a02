package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-behavior analytics over a (user, event_type, ts) stream: ordered
  * conversion funnels, cohort retention matrices, and per-segment
  * chi-squared keyword extraction. The product-analytics layer every
  * corpus-curation dashboard grows once events flow next to documents.
  *
  * Scale design:
  *  - [[funnelFirsts]] folds the stage chain as per-stage conditional
  *    aggregations joined on `user_id`: each stage first FILTERS the raw
  *    stream down to its own event type (predicate pushed to the scan),
  *    then re-uses the user-keyed partitioning from the previous stage's
  *    groupBy, so AQE plans one logical user-shuffle for the whole chain
  *    rather than one per stage. No per-user event array is ever
  *    materialized — a power user with millions of events costs the same
  *    as anyone else.
  *  - [[cohortRetention]] is two user-keyed aggregations; the
  *    (user, day) projection is deduplicated BEFORE the join so the
  *    retention join carries at most one row per user-day.
  *  - [[chi2Keywords]] reduces to (segment, term) counts map-side, then
  *    derives marginals from the REDUCED table (never a second corpus
  *    scan). Totals join back as broadcasts. The per-segment top-k is a
  *    row_number window that plans as WindowGroupLimit, so each map task
  *    keeps k rows per segment before the exchange.
  *
  * Determinism: counts are exact integers; the chi-squared score is ONE
  * fixed-shape IEEE tree over exactly-representable integer operands
  * (every product of two raw counts stays below 2^53 until the final
  * deterministic roundings), so scores are bit-identical across engines —
  * the same contract as [[Stats]].
  */
object Behavior {

  /** Per-user first-reach timestamps through `stages`, strictly ordered:
    * a user reaches stage i+1 at the earliest event of that type strictly
    * AFTER their stage-i reach time. Returns one DataFrame per stage of
    * (user_id, ts_i) — stage i's frame contains exactly the users who
    * reached it. */
  def funnelFirsts(
      events: DataFrame,
      stages: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): Seq[DataFrame] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = events.select(col(userCol).as("user_id"), col(typeCol).as("et"),
      col(tsCol).as("ts"))
    val head = ev.filter(col("et") === stages.head)
      .groupBy("user_id").agg(min(col("ts")).as("ts_0"))
    stages.tail.zipWithIndex.scanLeft(head) { case (prev, (stage, i)) =>
      ev.filter(col("et") === stage)
        .join(prev.select(col("user_id"), col(s"ts_$i")), "user_id")
        .filter(col("ts") > col(s"ts_$i"))
        .groupBy("user_id").agg(min(col("ts")).as(s"ts_${i + 1}"))
    }
  }

  /** Funnel report: one row per stage with the number of users who
    * reached it (strictly-after semantics) plus deterministic extremal
    * user anchors. Columns: stage_ord, stage, n_users, first_user,
    * last_user. */
  def funnel(
      events: DataFrame,
      stages: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val reports = funnelFirsts(events, stages, userCol, typeCol, tsCol)
      .zip(stages).zipWithIndex.map { case ((df, stage), i) =>
        df.agg(
          count(lit(1)).as("n_users"),
          min(col("user_id")).as("first_user"),
          max(col("user_id")).as("last_user"))
          .select(lit(i + 1L).as("stage_ord"), lit(stage).as("stage"),
            col("n_users"), col("first_user"), col("last_user"))
      }
    reports.reduce(_.union(_)).orderBy("stage_ord")
  }

  /** Weekly cohort retention matrix. Cohort = the user's first active day,
    * bucketed into 7-day weeks counted from `origin`; offset = completed
    * 7-day periods between the first active day and the active day. All
    * integer day arithmetic — no week-truncation semantics to disagree
    * on. Columns: cohort_wk, week_offset, n_users. */
  def cohortRetention(events: DataFrame, origin: String,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val days = events
      .select(col(userCol).as("user_id"), to_date(col(tsCol)).as("d"))
      .distinct()
    val firsts = days.groupBy("user_id").agg(min(col("d")).as("d0"))
    days.join(firsts, "user_id")
      .select(col("user_id"),
        floor(datediff(col("d0"), lit(origin).cast("date")) / 7).cast("long")
          .as("cohort_wk"),
        floor(datediff(col("d"), col("d0")) / 7).cast("long")
          .as("week_offset"))
      .distinct()
      .groupBy("cohort_wk", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** Per-segment distinctive terms by chi-squared association. Input is a
    * (segment, term) occurrence stream (duplicates = occurrences); output
    * is the top `k` positively-associated terms per segment with df >=
    * `minDf`, ranked by the exact-IEEE chi-squared score. Columns:
    * segment, rk, term, n_in_segment, chi2.
    *
    * Note: building the returned DataFrame runs one Spark job, which pins
    * the segment×term count table the result reads; see [[graft.Pin]]
    * for what an eager, non-recomputable pin costs the caller. */
  def chi2Keywords(occurrences: DataFrame, k: Int, minDf: Long,
      segCol: String = "segment", termCol: String = "term"): DataFrame = {
    // pinned: st feeds term totals, segment totals, the grand total and
    // the scored join (measured unpinned: 4 × ~1.5 s 32-task stages at
    // sf0.1, one pinned). |segments × vocabulary| rows.
    val st = graft.Pin(occurrences
      .select(col(segCol).as("segment"), col(termCol).as("term"))
      .groupBy("segment", "term").agg(count(lit(1)).as("a"))).df
    val termTot = st.groupBy("term").agg(sum(col("a")).as("tt"))
    val segTot = st.groupBy("segment").agg(sum(col("a")).as("stot"))
    val total = st.agg(sum(col("a")).as("n"))

    val d = (c: Column) => c.cast("double")
    val joined = st
      .join(termTot.filter(col("tt") >= minDf), "term")
      .join(broadcast(segTot), "segment")
      .crossJoin(broadcast(total))
      // positive association only: observed > expected, as exact integers
      .filter(col("a") * col("n") > col("tt") * col("stot"))
    // chi2 = n * (a*d - b*c)^2 / (tt * (n-tt) * stot * (n-stot)), with
    // b = tt-a, c = stot-a, d = n-tt-stot+a computed as exact BIGINTs.
    // Operand products a*dd and b*cc are < 2^53 (raw counts), so the
    // difference is exact; every later rounding is a deterministic IEEE
    // op mirrored verbatim in the SQL twin.
    val bb = col("tt") - col("a")
    val cc = col("stot") - col("a")
    val dd = col("n") - col("tt") - col("stot") + col("a")
    val diff = d(col("a")) * d(dd) - d(bb) * d(cc)
    val chi2 = (d(col("n")) * (diff * diff)) /
      ((d(col("tt")) * (d(col("n")) - d(col("tt")))) *
       (d(col("stot")) * (d(col("n")) - d(col("stot")))))
    val w = Window.partitionBy("segment").orderBy(col("chi2").desc, col("term"))
    joined.withColumn("chi2", chi2)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("segment"), col("rk"), col("term"),
        col("a").as("n_in_segment"), col("chi2"))
      .orderBy("segment", "rk")
  }

  /** Event-type transition matrix over per-user event streams: for each
    * ordered pair of consecutive events of the same user ((ts, idCol)
    * total order), the transition count and row-normalized probability.
    * The window sorts each user's partition once; the pair table is
    * reduced before the tiny per-from-state normalization window runs.
    * Columns: et_from, et_to, n, p. */
  def markovTransitions(events: DataFrame,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .withColumn("et_to", lead(col(typeCol), 1).over(w))
      .filter(col("et_to").isNotNull)
      .groupBy(col(typeCol).as("et_from"), col("et_to"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("et_from")
    pairs
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(wf).cast("double"))
      .orderBy("et_from", "et_to")
  }

  /** Per-event-type inter-arrival statistics: the microsecond gap between
    * each event and the SAME user's previous event (any type), grouped by
    * the later event's type. Median is the exact lower median via
    * [[Robust.medians]] (count-first — the window runs over distinct gap
    * values, not events). Columns: event_type, n_gaps, min_gap_us,
    * med_gap_us, max_gap_us. */
  def interEventGaps(events: DataFrame,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val gaps = events
      .withColumn("gap_us",
        unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(col(typeCol).as("event_type"), col("gap_us"))
    val med = Robust.medians(gaps, "event_type", "gap_us")
      .select(col("event_type"), col("med").as("med_gap_us"),
        col("n").as("n_gaps"))
    gaps.groupBy("event_type")
      .agg(min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .join(broadcast(med), "event_type")
      .select(col("event_type"), col("n_gaps"), col("min_gap_us"),
        col("med_gap_us"), col("max_gap_us"))
      .orderBy("event_type")
  }

  /** The [[chi2Keywords]] score formula as DuckDB SQL over columns
    * (a, tt, stot, n) — the same IEEE tree, spelled once. */
  def sqlChi2: String = {
    val diff = "(CAST(a AS DOUBLE) * CAST(n - tt - stot + a AS DOUBLE) - " +
      "CAST(tt - a AS DOUBLE) * CAST(stot - a AS DOUBLE))"
    s"((CAST(n AS DOUBLE) * ($diff * $diff)) / " +
      "((CAST(tt AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(tt AS DOUBLE))) * " +
      "(CAST(stot AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(stot AS DOUBLE)))))"
  }
}
