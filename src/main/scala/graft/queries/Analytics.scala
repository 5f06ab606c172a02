package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.functions.TextAnalysis
import graft.operators.Advisor
import graft.queries.Relational.Q

/** Time-series analytics over the event stream — trend estimation,
  * autocorrelation, changepoint detection, exponential smoothing.
  *
  * The shared scale shape: every query first REDUCES the event fact to
  * per-day counts (one aggregate, map-side combinable), then runs its
  * analysis over the day spine — a series whose length is bounded by the
  * calendar span (× the event-type domain), not the data volume. At
  * 100 TB the fact scan dominates and everything downstream is
  * kilobytes; the unpartitioned/`event_type`-partitioned windows here
  * are all value-domain bounded (same argument as q73/q176).
  *
  * Cross-engine exactness: all series values are BIGINT counts; each
  * statistic keeps its sums/products in BIGINT (overflow headroom
  * documented per query) and applies ONE fixed IEEE expression tree at
  * the end — divisions and correctly-rounded sqrt only (the q147/q185
  * discipline), so results hash bit-for-bit against DuckDB.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-(event_type, day) counts over the gap-filled day spine (absent
    * days count 0) — the dense series the four analyses share. */
  private def dailySpine(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .crossJoin(ev.select("event_type").distinct())
    spine.join(daily, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), col("day"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("x"),
        coalesce(col("n"), lit(0L)).as("y"))
  }

  /** Benford first-digit probabilities log10(1+1/d), d = 1..9, as FIXED
    * decimal strings: both engines PARSE the identical string (correctly
    * rounded in each), because computing log10 at build time is not
    * portable — JVM Math.log10 and C libm differ in the last ulp. */
  private val BenfordProbs: Seq[String] = Seq(
    "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
    "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
    "0.05799194697768673", "0.05115252244738129", "0.04575749056067514")

  /** NDCG@10 rank discounts 1/log2(pos+1), pos = 1..10, as fixed decimal
    * strings (the [[BenfordProbs]] portability ruling: log2 at build time
    * differs between libms in the last ulp; a parsed string does not). */
  private val NdcgW: Seq[String] = Seq(
    "1.0", "0.6309297535714575", "0.5", "0.43067655807339306",
    "0.38685280723454163", "0.3562071871080222", "0.3333333333333333",
    "0.31546487678572877", "0.3010299956639812", "0.2890648263178879")

  /** Per-group OLS over a `(g, x, y)` integer series: six BIGINT power
    * sums (map-side combinable, ADDITIVE — a [[graft.catalog.Rollup]]
    * maintaining per-day counts feeds this directly, the streaming trend
    * monitor in AnalyticsSpec) then slope/intercept/r² as ONE fixed IEEE
    * tree over the exact operands. */
  def trendStats(series: DataFrame, g: String): DataFrame = {
    val sums = series.groupBy(g).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / dx
    sums.select(col(g), col("n"),
      slope.as("slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n").cast("double")).as("intercept"),
      (num * num / (dx * dy)).as("r2"))
  }

  /** Oracle CTE mirroring [[dailySpine]]: `sp(event_type, day, x, y)`. */
  private val spineSql: String =
    """ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
      daily AS (SELECT event_type, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
      days AS (SELECT CAST(gs AS DATE) AS day FROM (
        SELECT UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
          CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS gs
        FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev))),
      sp AS (SELECT et.event_type, days.day,
          CAST(DATEDIFF('day', DATE '1970-01-01', days.day) AS BIGINT) AS x,
          COALESCE(d.n, 0) AS y
        FROM (SELECT DISTINCT event_type FROM ev) et
        CROSS JOIN days
        LEFT JOIN daily d ON et.event_type = d.event_type AND days.day = d.day)"""

  val defs: Seq[(String, Q)] = Seq(

    // ---- exact-sums OLS trend ------------------------------------------
    // Per-event-type linear trend of daily volume: the five power sums
    // (n, Σx, Σy, Σxy, Σx², Σy²) fold in BIGINT (x = epoch day ~2e4,
    // y = daily count; n·Σx² ≈ 4e2·4e2·4e8 ≈ 6e16 — inside int64), then
    // slope/intercept/r² are ONE fixed IEEE tree over the exact
    // operands. This is the regr_slope/regr_r2 family computed portably:
    // both engines build identical integers and round identically.
    "q192_daily_trend" -> Q(
      (s, dir) => trendStats(dailySpine(s, dir), "event_type")
        .orderBy("event_type"),
      Some(s"""WITH $spineSql,
          sums AS (SELECT event_type, COUNT(*) AS n,
              SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
              SUM(x*x) AS sxx, SUM(y*y) AS syy
            FROM sp GROUP BY event_type)
        SELECT event_type, n,
          CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
          (CAST(sy AS DOUBLE)
             - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
          CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
            / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)) AS r2
        FROM sums ORDER BY event_type""")),

    // ---- autocorrelation function --------------------------------------
    // Lag-1/2/3 ACF of the global daily series: pair (y_t, y_{t-l}) via
    // window lag over the spine (one global series, length = calendar
    // span — the documented bounded unpartitioned window), then the
    // exact-sums Pearson r with correctly-rounded sqrt (q185 precedent).
    // The weekly seasonality planted in the generator shows up as the
    // lag-7-vs-lag-1 contrast downstream dashboards read.
    "q193_autocorr" -> Q(
      (s, dir) => {
        val gdaily = dailySpine(s, dir).groupBy("day")
          .agg(sum(col("y")).as("y"))
        val w = Window.orderBy("day")
        val lagged = gdaily.select(col("day") +: col("y") +:
          Seq(1, 2, 3, 7).map(l => lag(col("y"), l).over(w).as(s"y$l")): _*)
        val pairs = Seq(1, 2, 3, 7).map { l =>
          lagged.filter(col(s"y$l").isNotNull).agg(
            lit(l.toLong).as("lag"),
            count(lit(1)).as("n"),
            sum(col("y")).as("sa"), sum(col(s"y$l")).as("sb"),
            sum(col("y") * col(s"y$l")).as("sab"),
            sum(col("y") * col("y")).as("saa"),
            sum(col(s"y$l") * col(s"y$l")).as("sbb"))
        }.reduce(_ unionAll _)
        pairs.select(col("lag"), col("n"),
            ((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
              / (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
                 * sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
              .as("acf"))
          .orderBy("lag")
      },
      Some(s"""WITH $spineSql,
          gdaily AS (SELECT day, SUM(y) AS y FROM sp GROUP BY day),
          lagged AS (SELECT y,
              LAG(y, 1) OVER (ORDER BY day) AS y1,
              LAG(y, 2) OVER (ORDER BY day) AS y2,
              LAG(y, 3) OVER (ORDER BY day) AS y3,
              LAG(y, 7) OVER (ORDER BY day) AS y7
            FROM gdaily),
          pairs AS (
            SELECT CAST(1 AS BIGINT) AS lag, COUNT(*) AS n, SUM(y) AS sa,
                SUM(y1) AS sb, SUM(y*y1) AS sab, SUM(y*y) AS saa,
                SUM(y1*y1) AS sbb FROM lagged WHERE y1 IS NOT NULL
            UNION ALL SELECT 2, COUNT(*), SUM(y), SUM(y2), SUM(y*y2),
                SUM(y*y), SUM(y2*y2) FROM lagged WHERE y2 IS NOT NULL
            UNION ALL SELECT 3, COUNT(*), SUM(y), SUM(y3), SUM(y*y3),
                SUM(y*y), SUM(y3*y3) FROM lagged WHERE y3 IS NOT NULL
            UNION ALL SELECT 7, COUNT(*), SUM(y), SUM(y7), SUM(y*y7),
                SUM(y*y), SUM(y7*y7) FROM lagged WHERE y7 IS NOT NULL)
        SELECT lag, n,
          CAST(n*sab - sa*sb AS DOUBLE)
            / (SQRT(CAST(n*saa - sa*sa AS DOUBLE))
               * SQRT(CAST(n*sbb - sb*sb AS DOUBLE))) AS acf
        FROM pairs ORDER BY lag""")),

    // ---- CUSUM changepoint ---------------------------------------------
    // Per-event-type most-likely level-shift day: the running cumulative
    // deviation from the mean, kept INTEGER by cross-multiplying —
    // n·prefix_k − k·S (= n·Σ_{i≤k}(y_i − S/n)) — so the argmax is an
    // exact integer comparison with a deterministic earliest-day
    // tie-break. Magnitudes: n·prefix ≤ 4e2·2e5 = 8e7 — far inside
    // int64. Output keeps the integer numerator plus n; no division
    // ever happens.
    "q194_changepoint" -> Q(
      (s, dir) => {
        val sp = dailySpine(s, dir)
        val wRun = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val scored = sp
          .withColumn("k", count(lit(1)).over(wRun))
          .withColumn("prefix", sum(col("y")).over(wRun))
          .withColumn("nn", count(lit(1)).over(wAll))
          .withColumn("tot", sum(col("y")).over(wAll))
          .withColumn("cusum", col("nn") * col("prefix") - col("k") * col("tot"))
        val wPick = Window.partitionBy("event_type")
          .orderBy(abs(col("cusum")).desc, col("day"))
        scored.withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
            col("cusum").as("cusum_num"), col("nn").as("n_days"))
          .orderBy("event_type")
      },
      Some(s"""WITH $spineSql,
          scored AS (SELECT event_type, day,
              COUNT(*) OVER w AS nn, SUM(y) OVER w AS tot,
              COUNT(*) OVER wr AS k, SUM(y) OVER wr AS prefix
            FROM sp
            WINDOW w AS (PARTITION BY event_type),
              wr AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          cs AS (SELECT event_type, day, nn*prefix - k*tot AS cusum, nn
            FROM scored),
          pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY ABS(cusum) DESC, day) AS rn FROM cs)
        SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS cp_day,
          CAST(cusum AS BIGINT) AS cusum_num, nn AS n_days
        FROM pick WHERE rn = 1 ORDER BY event_type""")),

    // ---- dyadic EWMA ----------------------------------------------------
    // Exponentially-weighted daily volume with α = 1/2 over a 16-day
    // horizon: weight 2^(15−j) for lag j folds in BIGINT (≤ 2e5·2^15·16
    // ≈ 1e11), then ONE division by 2^16 — a power of two, so the
    // quotient is EXACT in binary floating point, not merely
    // deterministic. The general-α recurrence is inherently sequential
    // and rounding-order-dependent; the dyadic windowed form is the
    // scale-safe exact variant (16 lag columns over the bounded spine).
    "q195_ewma_volume" -> Q(
      (s, dir) => {
        val sp = dailySpine(s, dir)
        val w = Window.partitionBy("event_type").orderBy("day")
        val num = (0 until 16).map { j =>
          coalesce(lag(col("y"), j).over(w), lit(0L)) * lit(1L << (15 - j))
        }.reduce(_ + _)
        sp.withColumn("k", row_number().over(w))
          .withColumn("num", num)
          .filter(col("k") >= 16)
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"), col("y"),
            (col("num").cast("double") / lit(65536.0d)).as("ewma"))
          .orderBy("event_type", "day")
      },
      Some {
        val terms = (0 until 16).map { j =>
          s"COALESCE(LAG(y, $j) OVER w, 0) * ${1L << (15 - j)}"
        }.mkString(" + ")
        s"""WITH $spineSql,
          ew AS (SELECT event_type, day, y,
              ROW_NUMBER() OVER w AS k, $terms AS num
            FROM sp WINDOW w AS (PARTITION BY event_type ORDER BY day))
        SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day, y,
          CAST(num AS DOUBLE) / 65536.0 AS ewma
        FROM ew WHERE k >= 16 ORDER BY event_type, day"""
      }),

    // ---- cumulative distinct users --------------------------------------
    // Exact running COUNT(DISTINCT) — the growth-curve metric a naive
    // per-day distinct-over-expanding-window computes in O(n²). The
    // first-seen trick makes it linear: each user contributes to exactly
    // one day (min event day, one user-keyed aggregate), daily news sum
    // cumulatively over the bounded day spine. Daily actives ride the
    // same (day, user) reduction. All integers.
    "q196_cumulative_users" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val firsts = ev.groupBy("user_id").agg(min(col("day")).as("day"))
          .groupBy("day").agg(count(lit(1)).as("new_users"))
        val actives = ev.distinct()
          .groupBy("day").agg(count(lit(1)).as("active_users"))
        val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(firsts, Seq("day"), "left_outer")
          .join(actives, Seq("day"), "left_outer")
          .select(col("day"),
            coalesce(col("new_users"), lit(0L)).as("new_users"),
            coalesce(col("active_users"), lit(0L)).as("active_users"))
          .withColumn("cum_users", sum(col("new_users")).over(w))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("new_users"), col("active_users"), col("cum_users"))
          .orderBy("day")
      },
      Some("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
          firsts AS (SELECT day, COUNT(*) AS new_users FROM (
            SELECT user_id, MIN(day) AS day FROM ev GROUP BY user_id) GROUP BY day),
          actives AS (SELECT day, COUNT(*) AS active_users FROM (
            SELECT DISTINCT day, user_id FROM ev) GROUP BY day),
          spine AS (SELECT CAST(gs AS DATE) AS day FROM (
            SELECT UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
              CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS gs
            FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev)))
        SELECT STRFTIME(s.day, '%Y-%m-%d') AS day,
          COALESCE(f.new_users, 0) AS new_users,
          COALESCE(a.active_users, 0) AS active_users,
          CAST(SUM(COALESCE(f.new_users, 0)) OVER (ORDER BY s.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        FROM spine s LEFT JOIN firsts f ON s.day = f.day
        LEFT JOIN actives a ON s.day = a.day
        ORDER BY day""")),

    // ---- multi-hot vocabulary bitmask ------------------------------------
    // One-hot/multi-hot feature encoding packed into a single BIGINT:
    // the top-24 corpus terms (df order, deterministic tie-break) become
    // bit positions; each document's mask is bit_or(1<<idx) over its
    // distinct vocab terms. The vocab is a LIMITed 24-row table
    // (TakeOrderedAndProject — never a corpus-wide rank window) broadcast
    // into the token join; 24 bits keeps the shift inside signed-int64
    // range in both engines. Pure integer output.
    "q197_vocab_bitmask" -> Q(
      (s, dir) => {
        val docsT = Tables.widened(s, t(s, dir, "documents"))
        val toks = docsT.select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
        val wv = Window.orderBy(desc("cnt"), col("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("tok")).limit(24)
          .withColumn("idx", row_number().over(wv) - 1)
        val masks = toks.join(broadcast(vocab), "tok")
          .groupBy("doc_id")
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), idx))").as("m"))
        docsT.select("doc_id").join(masks, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("m"), lit(0L)).as("mask"),
            expr("CAST(bit_count(coalesce(m, CAST(0 AS BIGINT))) AS BIGINT)")
              .as("n_vocab_terms"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, UNNEST(list_distinct(
            regexp_extract_all(text, '\w+'))) AS tok FROM documents),
          vocab AS (SELECT tok,
              ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) - 1 AS idx
            FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
              ORDER BY cnt DESC, tok LIMIT 24)),
          masks AS (SELECT doc_id, BIT_OR(CAST(1 AS BIGINT) << idx) AS m
            FROM toks JOIN vocab USING (tok) GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(m.m, 0) AS mask,
          CAST(BIT_COUNT(COALESCE(m.m, CAST(0 AS BIGINT))) AS BIGINT) AS n_vocab_terms
        FROM documents d LEFT JOIN masks m ON d.doc_id = m.doc_id
        ORDER BY d.doc_id""")),

    // ---- per-dimension min-max feature scaling ---------------------------
    // The standard-scaler sibling of q109's quantization: per-dimension
    // [min, max] over the whole corpus (posexplode + one 64-row
    // aggregate), broadcast back, each value scaled by ONE fixed tree —
    // float→double widening is exact, (v−mn) and the division round
    // once each, identically in both engines. Output is row-level for a
    // deterministic id slice (the corpus-wide stats still come from ALL
    // rows), keeping the gate's result bounded at any scale.
    "q198_feature_scaling" -> Q(
      (s, dir) => {
        val ex = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        val stats = ex.groupBy("dim")
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        ex.filter(col("vec_id") < 40)
          .join(broadcast(stats), "dim")
          .select(col("vec_id"), col("dim").cast("long").as("dim"),
            ((col("v").cast("double") - col("mn").cast("double"))
              / (col("mx").cast("double") - col("mn").cast("double")))
              .as("scaled"))
          .orderBy("vec_id", "dim")
      },
      Some("""WITH ex AS (SELECT vec_id,
            generate_subscripts(embedding, 1) - 1 AS dim,
            UNNEST(embedding) AS v FROM embeddings),
          stats AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY dim)
        SELECT e.vec_id, CAST(e.dim AS BIGINT) AS dim,
          (CAST(e.v AS DOUBLE) - CAST(s.mn AS DOUBLE))
            / (CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE)) AS scaled
        FROM ex e JOIN stats s ON e.dim = s.dim
        WHERE e.vec_id < 40 ORDER BY e.vec_id, e.dim""")),

    // ---- equi-depth histogram (optimizer statistics) ---------------------
    // The statistics object a cost-based optimizer keeps per column:
    // 8 equi-depth buckets over order totals QUANTIZED TO DOLLARS — the
    // rounding bounds the distinct-value domain by the price range (a
    // generator constant), so the count-first cumulative window spans
    // the value domain, not the row count (the q52/q73 argument). Fence
    // k sits at integer position ((n−1)·k) div 8 + 1; bucket id is the
    // exact count of fences strictly below the value (broadcast join,
    // no per-row branching); per-bucket n/ndv/lo/hi are all integers.
    "q199_equidepth_hist" -> Q(
      (s, dir) => {
        val vals = t(s, dir, "orders")
          .select(floor(col("o_totalprice")).cast("long").as("d"))
        val vc = vals.groupBy("d").agg(count(lit(1)).as("cnt"))
        val wCum = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = vc.withColumn("cum", sum(col("cnt")).over(wCum))
          .crossJoin(broadcast(vc.agg(sum(col("cnt")).as("nn"))))
        // all 7 fences in ONE aggregate pass over the cum table (a
        // conditional min per fence), exploded back to rows for the join
        val fenceCols = (1 to 7).map { k =>
          min(when(col("cum") >= expr(s"((nn - 1) * $k) div 8") + 1, col("d")))
            .as(s"f$k")
        }
        val fenceRow = cum.agg(fenceCols.head, fenceCols.tail: _*)
        val fences = fenceRow.select(
          explode(array((1 to 7).map(k => col(s"f$k")): _*)).as("fence"))
        vc.crossJoin(broadcast(fences))
          .groupBy("d")
          .agg(sum(when(col("d") > col("fence"), 1L).otherwise(0L))
            .as("fences_below"),
            max(col("cnt")).as("cnt"))
          .groupBy(col("fences_below").as("bucket"))
          .agg(min(col("d")).as("lo"), max(col("d")).as("hi"),
            sum(col("cnt")).as("n"), count(lit(1)).as("ndv"))
          .orderBy("bucket")
      },
      Some("""WITH vals AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS d
            FROM orders),
          vc AS (SELECT d, COUNT(*) AS cnt FROM vals GROUP BY d),
          cum AS (SELECT d, cnt, SUM(cnt) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              (SELECT COUNT(*) FROM vals) AS nn
            FROM vc),
          fences AS (
            SELECT MIN(d) AS fence FROM cum WHERE cum >= (nn - 1) * 1 // 8 + 1
            UNION ALL SELECT MIN(d) FROM cum WHERE cum >= (nn - 1) * 2 // 8 + 1
            UNION ALL SELECT MIN(d) FROM cum WHERE cum >= (nn - 1) * 3 // 8 + 1
            UNION ALL SELECT MIN(d) FROM cum WHERE cum >= (nn - 1) * 4 // 8 + 1
            UNION ALL SELECT MIN(d) FROM cum WHERE cum >= (nn - 1) * 5 // 8 + 1
            UNION ALL SELECT MIN(d) FROM cum WHERE cum >= (nn - 1) * 6 // 8 + 1
            UNION ALL SELECT MIN(d) FROM cum WHERE cum >= (nn - 1) * 7 // 8 + 1),
          tagged AS (SELECT d,
              SUM(CASE WHEN d > fence THEN 1 ELSE 0 END) AS fences_below,
              MAX(cnt) AS cnt
            FROM vc CROSS JOIN fences GROUP BY d)
        SELECT CAST(fences_below AS BIGINT) AS bucket, MIN(d) AS lo, MAX(d) AS hi,
          CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS ndv
        FROM tagged GROUP BY bucket ORDER BY bucket""")),

    // ---- join-strategy advisor -------------------------------------------
    // The engine profiling its own inputs (operators.Advisor): row
    // count, distinct-key count, and hottest-key frequency per side,
    // folded through a deterministic integer rule-chain into the
    // physical-join verdict (broadcast / salted shuffle / sort-merge).
    // Thresholds are chosen so the three probed joins exercise
    // different rules; the verdicts legitimately differ across scale
    // factors — the oracle recomputes them from the same counts.
    "q200_join_advisor" -> Q(
      (s, dir) => {
        Advisor.advise("orders_customer",
            t(s, dir, "orders"), col("o_custkey"),
            t(s, dir, "customer"), col("c_custkey"),
            broadcastRows = 5000L)
          .unionAll(Advisor.advise("lineitem_orders",
            t(s, dir, "lineitem"), col("l_orderkey"),
            t(s, dir, "orders"), col("o_orderkey"),
            broadcastRows = 5000L))
          .unionAll(Advisor.advise("events_selfuser",
            t(s, dir, "events"), col("user_id"),
            t(s, dir, "events").filter(col("event_type") === "purchase"),
            col("user_id"), broadcastRows = 5000L, skewPct = 1L))
          .orderBy("join_name")
      },
      Some(Seq(
          Advisor.adviseSql("orders_customer", "orders", "o_custkey",
            "customer", "c_custkey", broadcastRows = 5000L),
          Advisor.adviseSql("lineitem_orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey", broadcastRows = 5000L),
          Advisor.adviseSql("events_selfuser", "events", "user_id",
            "(SELECT * FROM events WHERE event_type = 'purchase')", "user_id",
            broadcastRows = 5000L, skewPct = 1L))
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY join_name"))),

    // ---- rank-distribution window functions ------------------------------
    // percent_rank + cume_dist — the two relative-rank windows the
    // surface had not yet named. Both are pure functions of the value
    // multiset (rank−1)/(n−1) and cume/n — each ONE IEEE division of
    // exact integers, so row-level output hashes despite ties. (ntile is
    // deliberately absent: its tie placement is row-order-dependent,
    // the q174 ruling.)
    "q201_rank_distribution" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
        t(s, dir, "customer")
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("c_nationkey", "c_acctbal", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal,
          PERCENT_RANK() OVER w AS pr, CUME_DIST() OVER w AS cd
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
        ORDER BY c_nationkey, c_acctbal, c_custkey""")),

    // ---- bitmap-index intersection ---------------------------------------
    // The roaring-bitmap idea as plain SQL structures: per (day, word)
    // user-presence bitmaps (word = user div 32, bit = user mod 32 —
    // 32-bit words keep every shift inside signed int64 in both
    // engines), day-pair co-activity = Σ bit_count(a AND b) over a
    // word-keyed equi-join. The shuffle carries one BIGINT per 32 users
    // instead of one row per user — the classic OLAP distinct-
    // intersection accelerator. The oracle computes the DIRECT distinct
    // user intersection, so the gate proves the bitmap algebra exact.
    "q202_bitmap_intersect" -> Q(
      (s, dir) => {
        val du = t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        val bm = du
          .select(col("day"), expr("user_id div 32").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").as("b"))
          .groupBy("day", "w").agg(expr("bit_or(b)").as("bits"))
        val a = bm.select(col("day").as("d1"), col("w"), col("bits").as("b1"))
        val b = bm.select(col("day").as("d2"), col("w"), col("bits").as("b2"))
        a.join(b, Seq("w")).filter(col("d1") < col("d2"))
          .groupBy("d1", "d2")
          .agg(sum(expr("CAST(bit_count(b1 & b2) AS BIGINT)")).as("n_both"))
          .filter(col("n_both") > 0)
          .select(date_format(col("d1"), "yyyy-MM-dd").as("d1"),
            date_format(col("d2"), "yyyy-MM-dd").as("d2"), col("n_both"))
          .orderBy("d1", "d2")
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events)
        SELECT STRFTIME(a.day, '%Y-%m-%d') AS d1,
          STRFTIME(b.day, '%Y-%m-%d') AS d2,
          COUNT(*) AS n_both
        FROM du a JOIN du b ON a.user_id = b.user_id AND a.day < b.day
        GROUP BY 1, 2 ORDER BY d1, d2""")),

    // ---- Theil-Sen robust trend ------------------------------------------
    // The robust complement of q192's OLS: the median of all pairwise
    // slopes. Slopes become exact integers in micro-units/day —
    // (Δy·1e6) div Δx, truncation-toward-zero division agreeing between
    // Spark `div` and DuckDB `//` including negatives — and the median
    // is SELECTED count-first (operators.Robust), never interpolated.
    // The pair self-join runs on the day spine: |days|² per event type,
    // bounded by the calendar span squared, never by data volume.
    "q203_theil_sen" -> Q(
      (s, dir) => {
        val sp = dailySpine(s, dir)
        val ai = sp.select(col("event_type"), col("x").as("xi"), col("y").as("yi"))
        val aj = sp.select(col("event_type"), col("x").as("xj"), col("y").as("yj"))
        val slopes = ai.join(aj, "event_type").filter(col("xi") < col("xj"))
          .select(col("event_type"),
            expr("((yj - yi) * 1000000) div (xj - xi)").as("slope_u"))
        val med = graft.operators.Robust
          .quantileSelect(slopes, "event_type", "slope_u", Seq(50))
        med.select(col("event_type"), col("n").as("n_pairs"),
            col("q50").as("slope_micro"))
          .orderBy("event_type")
      },
      Some(s"""WITH $spineSql,
          pairs AS (SELECT a.event_type,
              ((b.y - a.y) * 1000000) // (b.x - a.x) AS slope_u
            FROM sp a JOIN sp b ON a.event_type = b.event_type AND a.x < b.x),
          r AS (SELECT event_type, slope_u,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope_u) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS nn
            FROM pairs)
        SELECT event_type, MAX(nn) AS n_pairs,
          MIN(CASE WHEN rn >= (nn - 1) * 50 // 100 + 1 THEN slope_u END)
            AS slope_micro
        FROM r GROUP BY event_type ORDER BY event_type""")),

    // ---- image perceptual-hash near-dup detection ------------------------
    // Image-level dedup, HASH-GATED end-to-end like q46/q105/q106: the
    // corpus is the md5-formula synthetic image family with planted
    // near-duplicates (every doc_id ≡ 1 mod 50 reuses its predecessor's
    // image with one channel of pixel (0,0) shifted by +3 mod 256), the
    // pipeline is real — decode → Multimodal.aHash (integer grayscale,
    // cross-multiplied mean threshold, 2×32-bit words) → 16-bit-band
    // LSH candidate join → Hamming ≤ 6 verify — and DuckDB recomputes
    // every hash bit DIRECTLY from the pixel formula. All integers, so
    // candidate generation, banding, and the XOR popcount verify are
    // proven identical. Scale: hashing is map-only; the band join
    // shuffles 16-byte hash rows (never pixels) bucketed by band value.
    "q204_image_phash_dups" -> Q(
      (s, dir) => {
        import s.implicits._
        val docsT = Tables.widened(s, t(s, dir, "documents"))
        val base = docsT.select(col("doc_id"),
          when(col("doc_id") % 50 === 1, col("doc_id") - 1)
            .otherwise(col("doc_id")).cast("string").as("img_id"))
        val decoded = graft.operators.Multimodal
          .syntheticDecoded(base.as[(Long, String)])
        val jittered = decoded.map { r =>
          if (r.key % 50 == 1) {
            val d = r.data.clone()
            d(0) = (((d(0) & 0xff) + 3) % 256).toByte
            r.copy(data = d)
          } else r
        }
        val h = graft.operators.Multimodal.aHash(jittered)
        val bands = h.select(col("key"), col("hi"), col("lo"),
          posexplode(array(
            expr("lo % 65536"), expr("(lo div 65536) % 65536"),
            expr("hi % 65536"), expr("(hi div 65536) % 65536")))
            .as(Seq("bk", "bv")))
        val a = bands.select(col("key").as("da"), col("hi").as("ahi"),
          col("lo").as("alo"), col("bk"), col("bv"))
        val b = bands.select(col("key").as("db"), col("hi").as("bhi"),
          col("lo").as("blo"), col("bk"), col("bv"))
        a.join(b, Seq("bk", "bv")).filter(col("da") < col("db"))
          .select("da", "db", "ahi", "alo", "bhi", "blo").distinct()
          .withColumn("hamming",
            expr("CAST(bit_count(ahi ^ bhi) + bit_count(alo ^ blo) AS BIGINT)"))
          .filter(col("hamming") <= 6)
          .select(col("da"), col("db"), col("hamming"))
          .orderBy("da", "db")
      },
      Some {
        import graft.functions.{Hashing => H}
        def pix(c: Int) = H.sqlH28(
          s"img || ':' || CAST(x AS VARCHAR) || ',' || CAST(y AS VARCHAR) || ',$c'") + " % 256"
        s"""WITH g AS (SELECT doc_id,
              CAST(CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END
                AS VARCHAR) AS img,
              doc_id % 50 = 1 AS pert
            FROM documents),
          cell AS (SELECT doc_id, img, pert, x, y FROM g
            CROSS JOIN range(8) rx(x) CROSS JOIN range(8) ry(y)),
          px AS (SELECT doc_id, y*8 + x AS p,
              ((${pix(0)} + CASE WHEN pert AND x = 0 AND y = 0 THEN 3 ELSE 0 END) % 256
               + ${pix(1)} + ${pix(2)}) // 3 AS gray
            FROM cell),
          sums AS (SELECT doc_id, SUM(gray) AS sg FROM px GROUP BY doc_id),
          bits AS (SELECT px.doc_id, p,
              CASE WHEN gray * 64 > sg THEN 1 ELSE 0 END AS b
            FROM px JOIN sums USING (doc_id)),
          words AS (SELECT doc_id,
              SUM(CASE WHEN p < 32 THEN b * (CAST(1 AS BIGINT) << (p % 32))
                ELSE 0 END) AS lo,
              SUM(CASE WHEN p >= 32 THEN b * (CAST(1 AS BIGINT) << (p % 32))
                ELSE 0 END) AS hi
            FROM bits GROUP BY doc_id),
          bands AS (SELECT doc_id, hi, lo,
              UNNEST([0, 1, 2, 3]) AS bk,
              UNNEST([lo % 65536, (lo // 65536) % 65536,
                      hi % 65536, (hi // 65536) % 65536]) AS bv
            FROM words),
          cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
              a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
            FROM bands a JOIN bands b
              ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT da, db,
          CAST(bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) AS BIGINT)
            AS hamming
        FROM cand
        WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 6
        ORDER BY da, db"""
      }),

    // ---- Spearman rank correlation ----------------------------------------
    // Per-nation monotone association between supplier balance and
    // realized supply revenue: ranks are row_number with a suppkey
    // tie-break (deterministic total order; revenue compared as exact
    // decimal), Σd² folds in BIGINT, ρ = 1 − 6Σd²/(n(n²−1)) is one IEEE
    // division. The rank windows are PARTITIONED by nation — the same
    // sharding q201's percent_rank rides; no global sort anywhere.
    "q205_spearman" -> Q(
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey").as("s_suppkey"))
          .agg(Det.moneySumExact(col("l_extendedprice")).as("rev"))
        val sup = t(s, dir, "supplier")
          .join(rev, Seq("s_suppkey"), "left_outer")
          .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
            coalesce(col("rev"), lit(0).cast(Det.Money)).as("rev"))
        val wx = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
        val wy = Window.partitionBy("s_nationkey").orderBy("rev", "s_suppkey")
        val ranked = sup
          .withColumn("rx", row_number().over(wx).cast("long"))
          .withColumn("ry", row_number().over(wy).cast("long"))
        ranked.groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("sd2"))
          .filter(col("n") >= 2)
          .select(col("s_nationkey"), col("n"),
            (lit(1.0) - lit(6.0) * col("sd2").cast("double")
              / (col("n") * (col("n") * col("n") - 1)).cast("double")).as("rho"))
          .orderBy("s_nationkey")
      },
      Some(s"""WITH rev AS (SELECT l_suppkey AS s_suppkey,
            SUM(${Det.sqlMoney("l_extendedprice")}) AS rev
          FROM lineitem GROUP BY 1),
        sup AS (SELECT s_nationkey, s.s_suppkey, s_acctbal,
            COALESCE(rev, CAST(0 AS DECIMAL(12,2))) AS rev
          FROM supplier s LEFT JOIN rev ON s.s_suppkey = rev.s_suppkey),
        ranked AS (SELECT s_nationkey,
            CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey
              ORDER BY s_acctbal, s_suppkey) AS BIGINT) AS rx,
            CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey
              ORDER BY rev, s_suppkey) AS BIGINT) AS ry
          FROM sup),
        agg AS (SELECT s_nationkey, COUNT(*) AS n,
            SUM((rx - ry) * (rx - ry)) AS sd2
          FROM ranked GROUP BY s_nationkey)
      SELECT s_nationkey, n,
        1.0 - 6.0 * CAST(sd2 AS DOUBLE) / CAST(n * (n*n - 1) AS DOUBLE) AS rho
      FROM agg WHERE n >= 2 ORDER BY s_nationkey""")),

    // ---- Mann-Whitney U test ----------------------------------------------
    // Two-sample location test (URGENT vs LOW order totals): midrank
    // handling kept INTEGER by doubling — a tied run of m values starting
    // after cumulative count c has 2·midrank = 2c + m + 1, so the group
    // rank sum folds as BIGINT and 2·U₁ = 2n₁n₂ + n₁(n₁+1) − 2R₁ is
    // exact. The z-score (no tie correction — documented) is one fixed
    // IEEE tree with a correctly-rounded sqrt. Values are dollar-
    // quantized so the count-first table spans the bounded price domain
    // (the q199 ruling).
    "q206_mannwhitney" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .select(floor(col("o_totalprice")).cast("long").as("d"),
            (col("o_orderpriority") === "1-URGENT").as("g1"))
        val vc = o.groupBy("d").agg(
          sum(when(col("g1"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("g1"), 1L).otherwise(0L)).as("c2"))
        val wCum = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, -1)
        val mid = vc.withColumn("cb",
            coalesce(sum(col("c1") + col("c2")).over(wCum), lit(0L)))
          .withColumn("mr2", lit(2L) * col("cb") + col("c1") + col("c2") + 1L)
        val sums = mid.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
          sum(col("c1") * col("mr2")).as("r1x2"))
        sums.select(col("n1"), col("n2"),
            (lit(2L) * col("n1") * col("n2") + col("n1") * (col("n1") + 1L)
              - col("r1x2")).as("u1x2"))
          .withColumn("z",
            (col("u1x2") - col("n1") * col("n2")).cast("double")
              / (lit(2.0) * sqrt((col("n1") * col("n2")
                * (col("n1") + col("n2") + 1L)).cast("double") / lit(12.0))))
          .orderBy("n1")
      },
      Some("""WITH o AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS d,
            o_orderpriority = '1-URGENT' AS g1
          FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        vc AS (SELECT d, SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS c1,
            SUM(CASE WHEN g1 THEN 0 ELSE 1 END) AS c2
          FROM o GROUP BY d),
        mid AS (SELECT d, c1, c2,
            COALESCE(SUM(c1 + c2) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM vc),
        sums AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2,
            SUM(c1 * (2*cb + c1 + c2 + 1)) AS r1x2
          FROM mid)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        CAST(2*n1*n2 + n1*(n1 + 1) - r1x2 AS BIGINT) AS u1x2,
        CAST(2*n1*n2 + n1*(n1 + 1) - r1x2 - n1*n2 AS DOUBLE)
          / (2.0 * SQRT(CAST(n1*n2*(n1 + n2 + 1) AS DOUBLE) / 12.0)) AS z
      FROM sums ORDER BY n1""")),

    // ---- Kolmogorov-Smirnov two-sample test ---------------------------------
    // D = max |F₁ − F₂| kept exact by cross-multiplying the empirical
    // CDFs: |cum₁·n₂ − cum₂·n₁| is BIGINT (≤ n₁·n₂ ≈ 4e9 at sf0.1), the
    // argmax is an integer comparison with an earliest-value tie-break,
    // and D itself is ONE division at the end. Same bounded dollar-
    // quantized value table as q206.
    "q207_ks_test" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .select(floor(col("o_totalprice")).cast("long").as("d"),
            (col("o_orderpriority") === "1-URGENT").as("g1"))
        val vc = o.groupBy("d").agg(
          sum(when(col("g1"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("g1"), 1L).otherwise(0L)).as("c2"))
        val wCum = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = vc
          .withColumn("cum1", sum(col("c1")).over(wCum))
          .withColumn("cum2", sum(col("c2")).over(wCum))
          .crossJoin(broadcast(vc.agg(sum(col("c1")).as("n1"),
            sum(col("c2")).as("n2"))))
          .withColumn("dnum", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
        val wPick = Window.orderBy(desc("dnum"), col("d"))
        cum.withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("d").as("at_value"), col("n1"), col("n2"), col("dnum"),
            (col("dnum").cast("double")
              / (col("n1") * col("n2")).cast("double")).as("ks_d"))
          .orderBy("at_value")
      },
      Some("""WITH o AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS d,
            o_orderpriority = '1-URGENT' AS g1
          FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        vc AS (SELECT d, SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS c1,
            SUM(CASE WHEN g1 THEN 0 ELSE 1 END) AS c2
          FROM o GROUP BY d),
        cum AS (SELECT d,
            SUM(c1) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cum1,
            SUM(c2) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cum2,
            (SELECT SUM(c1) FROM vc) AS n1, (SELECT SUM(c2) FROM vc) AS n2
          FROM vc),
        scored AS (SELECT d, n1, n2,
            ABS(cum1*n2 - cum2*n1) AS dnum,
            ROW_NUMBER() OVER (ORDER BY ABS(cum1*n2 - cum2*n1) DESC, d) AS rn
          FROM cum)
      SELECT d AS at_value, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        CAST(dnum AS BIGINT) AS dnum,
        CAST(dnum AS DOUBLE) / CAST(n1*n2 AS DOUBLE) AS ks_d
      FROM scored WHERE rn = 1 ORDER BY at_value""")),

    // ---- chi² independence + Cramér's V ------------------------------------
    // Association strength for a whole contingency table (market segment
    // × region), where q153 scores terms one at a time. Per-cell χ²
    // terms are one fixed tree over exact integers ((o·n − rs·cs)² /
    // (n·rs·cs)); the CROSS-CELL sum — normally order-nondeterministic
    // in IEEE — is made portable by folding a DETERMINISTICALLY SORTED
    // cell list left-to-right (Spark `aggregate` over
    // sort_array(collect_list), DuckDB `list_reduce` over an ORDER BY
    // aggregate list: both are left folds). The cell domain is
    // |segments|·|regions| = 25 — value-bounded.
    "q208_cramers_v" -> Q(
      (s, dir) => {
        val cells = t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_mktsegment").as("seg"), col("n_regionkey").as("reg"))
          .agg(count(lit(1)).as("o"))
        val withMarg = cells
          .withColumn("rs", sum(col("o")).over(Window.partitionBy("seg")))
          .withColumn("cs", sum(col("o")).over(Window.partitionBy("reg")))
          .crossJoin(broadcast(cells.agg(sum(col("o")).as("nn"),
            countDistinct(col("seg")).as("r"), countDistinct(col("reg")).as("c"))))
        val term = ((col("o") * col("nn") - col("rs") * col("cs"))
          * (col("o") * col("nn") - col("rs") * col("cs"))).cast("double")
          ./((col("nn") * col("rs") * col("cs")).cast("double"))
        withMarg.withColumn("term", term)
          .groupBy("nn", "r", "c")
          .agg(expr("aggregate(sort_array(collect_list(struct(seg, reg, term)))," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)").as("chi2"))
          .select(col("nn").as("n"), col("r"), col("c"), col("chi2"),
            sqrt(col("chi2") / (col("nn") * least(col("r") - 1, col("c") - 1))
              .cast("double")).as("cramers_v"))
          .orderBy("n")
      },
      Some("""WITH cells AS (SELECT c_mktsegment AS seg, n_regionkey AS reg,
            COUNT(*) AS o
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2),
        marg AS (SELECT seg, reg, o,
            SUM(o) OVER (PARTITION BY seg) AS rs,
            SUM(o) OVER (PARTITION BY reg) AS cs,
            (SELECT SUM(o) FROM cells) AS nn,
            (SELECT COUNT(DISTINCT seg) FROM cells) AS r,
            (SELECT COUNT(DISTINCT reg) FROM cells) AS c
          FROM cells),
        terms AS (SELECT nn, r, c, seg, reg,
            CAST((o*nn - rs*cs) * (o*nn - rs*cs) AS DOUBLE)
              / CAST(nn*rs*cs AS DOUBLE) AS term
          FROM marg),
        folded AS (SELECT nn, r, c,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(term ORDER BY seg, reg)), (acc, x) -> acc + x) AS chi2
          FROM terms GROUP BY nn, r, c)
      SELECT CAST(nn AS BIGINT) AS n, r, c, chi2,
        SQRT(chi2 / CAST(nn * LEAST(r - 1, c - 1) AS DOUBLE)) AS cramers_v
      FROM folded ORDER BY n""")),

    // ---- rolling correlation ----------------------------------------------
    // 14-day co-movement of two event streams (click vs purchase daily
    // volumes): the six power sums ride ONE rows-frame window each over
    // the bounded day spine, then the q193 Pearson tree per day. The
    // frame makes the sums exact integers regardless of scale; only the
    // final r is IEEE.
    "q209_rolling_corr" -> Q(
      (s, dir) => {
        val sp = dailySpine(s, dir)
        val two = sp.groupBy("day").agg(
          sum(when(col("event_type") === "click", col("y")).otherwise(0L)).as("ya"),
          sum(when(col("event_type") === "purchase", col("y")).otherwise(0L)).as("yb"))
        val w = Window.orderBy("day").rowsBetween(-13, 0)
        val k = Window.orderBy("day")
        val rolled = two
          .withColumn("idx", row_number().over(k))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sa", sum(col("ya")).over(w))
          .withColumn("sb", sum(col("yb")).over(w))
          .withColumn("sab", sum(col("ya") * col("yb")).over(w))
          .withColumn("saa", sum(col("ya") * col("ya")).over(w))
          .withColumn("sbb", sum(col("yb") * col("yb")).over(w))
          .filter(col("idx") >= 14)
        rolled.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("sa"), col("sb"),
            ((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
              / (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
                 * sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
              .as("corr14"))
          .orderBy("day")
      },
      Some(s"""WITH $spineSql,
          two AS (SELECT day,
              SUM(CASE WHEN event_type = 'click' THEN y ELSE 0 END) AS ya,
              SUM(CASE WHEN event_type = 'purchase' THEN y ELSE 0 END) AS yb
            FROM sp GROUP BY day),
          rolled AS (SELECT day, ya, yb,
              ROW_NUMBER() OVER (ORDER BY day) AS idx,
              COUNT(*) OVER w AS n,
              SUM(ya) OVER w AS sa, SUM(yb) OVER w AS sb,
              SUM(ya*yb) OVER w AS sab, SUM(ya*ya) OVER w AS saa,
              SUM(yb*yb) OVER w AS sbb
            FROM two
            WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        SELECT STRFTIME(day, '%Y-%m-%d') AS day,
          CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb,
          CAST(n*sab - sa*sb AS DOUBLE)
            / (SQRT(CAST(n*saa - sa*sa AS DOUBLE))
               * SQRT(CAST(n*sbb - sb*sb AS DOUBLE))) AS corr14
        FROM rolled WHERE idx >= 14 ORDER BY day""")),

    // ---- event path trigrams ----------------------------------------------
    // Sequence mining: the most common 3-step behavior paths. Each
    // user's total-ordered event stream ((ts, event_id) — the q154
    // ordering) yields per-row (e, next, next²) via two leads riding ONE
    // user-partitioned sort; global top-10 paths end in a
    // TakeOrderedAndProject (never a corpus-wide rank window, the q158
    // ruling), with a path-string tie-break for determinism.
    "q210_event_trigrams" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val paths = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("e2", lead(col("event_type"), 1).over(w))
          .withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        paths.groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("path")).limit(10)
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
            LEAD(event_type, 1) OVER w AS e2,
            LEAD(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        paths AS (SELECT event_type || '>' || e2 || '>' || e3 AS path
          FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
      SELECT path, COUNT(*) AS n FROM paths
      GROUP BY path ORDER BY n DESC, path LIMIT 10""")),

    // ---- Benford first-digit test -----------------------------------------
    // Fraud/anomaly screening for money columns: observed first-digit
    // counts vs Benford's log10(1+1/d). The expected shares are COMPILED
    // CONSTANTS spliced into both engines from the same Scala double
    // (shortest-repr round-trip, so both parse the identical bit
    // pattern) — no log() at query time (non-correctly-rounded libm, the
    // q147 ruling). First digit by string head of the integer part —
    // pure integer/string ops. χ² folds the 9 bounded digit terms in
    // sorted order (the q208 portable-fold pattern).
    "q211_benford" -> Q(
      (s, dir) => {
        val probCol = BenfordProbs.zipWithIndex.map { case (p, i) =>
          when(col("digit") === (i + 1), lit(p.toDouble))
        }.reduceRight(_ otherwise _)
        val digits = t(s, dir, "orders")
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("o"))
        val scored = digits
          .crossJoin(broadcast(digits.agg(sum(col("o")).as("nn"))))
          .withColumn("expected", col("nn").cast("double") * probCol)
          .withColumn("term",
            (col("o").cast("double") - col("expected"))
              * (col("o").cast("double") - col("expected")) / col("expected"))
        val chi2 = scored.groupBy("nn")
          .agg(expr("aggregate(sort_array(collect_list(struct(digit, term)))," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)").as("chi2"))
          .select(col("chi2"))
        scored.crossJoin(broadcast(chi2))
          .select(col("digit"), col("o"), col("expected"), col("term"), col("chi2"))
          .orderBy("digit")
      },
      Some {
        val probCase = BenfordProbs.zipWithIndex.map { case (p, i) =>
          s"WHEN digit = ${i + 1} THEN CAST($p AS DOUBLE)"
        }.mkString("CASE ", " ", " END")
        s"""WITH digits AS (SELECT
              CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                AS BIGINT) AS digit,
              COUNT(*) AS o
            FROM orders GROUP BY 1),
          scored AS (SELECT digit, o,
              CAST((SELECT SUM(o) FROM digits) AS DOUBLE) * ($probCase) AS expected
            FROM digits),
          terms AS (SELECT digit, o, expected,
              (CAST(o AS DOUBLE) - expected) * (CAST(o AS DOUBLE) - expected)
                / expected AS term
            FROM scored),
          folded AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(term ORDER BY digit)), (acc, x) -> acc + x) AS chi2
            FROM terms)
        SELECT digit, o, expected, term, chi2
        FROM terms CROSS JOIN folded ORDER BY digit"""
      }),

    // ---- weighted median ----------------------------------------------------
    // Order-statistic with weights: the quantity-weighted median line
    // price per return flag. Weights are integral quantities, the value
    // domain is cents — the count-first table carries (value, Σweight)
    // and the fence is the smallest value with 2·cumweight ≥ W, an exact
    // integer comparison (weighted lower median; never interpolated).
    "q212_weighted_median" -> Q(
      (s, dir) => {
        val vc = t(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            (Det.money(col("l_extendedprice")) * 100).cast("long").as("cents"),
            floor(col("l_quantity")).cast("long").as("qty"))
          .groupBy("flag", "cents").agg(sum(col("qty")).as("wt"))
        val wCum = Window.partitionBy("flag").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("flag")
        vc.withColumn("cum", sum(col("wt")).over(wCum))
          .withColumn("tot", sum(col("wt")).over(wAll))
          .groupBy("flag")
          .agg(max(col("tot")).as("total_weight"),
            min(when(col("cum") * 2 >= col("tot"), col("cents"))).as("median_cents"))
          .orderBy("flag")
      },
      Some(s"""WITH vc AS (SELECT l_returnflag AS flag,
            CAST(${Det.sqlMoney("l_extendedprice")} * 100 AS BIGINT) AS cents,
            SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS wt
          FROM lineitem GROUP BY 1, 2),
        cum AS (SELECT flag, cents, wt,
            SUM(wt) OVER (PARTITION BY flag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(wt) OVER (PARTITION BY flag) AS tot
          FROM vc)
      SELECT flag, CAST(MAX(tot) AS BIGINT) AS total_weight,
        MIN(CASE WHEN cum * 2 >= tot THEN cents END) AS median_cents
      FROM cum GROUP BY flag ORDER BY flag""")),

    // ---- conversion latency percentiles ------------------------------------
    // Time-to-convert distribution: per user, first view → first
    // purchase (two conditional mins in ONE user-keyed aggregate — no
    // self-join), latencies quantized to whole minutes so the
    // count-first quantile table spans the calendar-bounded minute
    // domain, and the p25/50/75/90 fences are SELECTED (Robust's
    // nearest-rank discipline). All integers.
    "q213_conversion_latency" -> Q(
      (s, dir) => {
        val firsts = t(s, dir, "events")
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "view", unix_micros(col("ts"))))
            .as("tv"),
            min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
              .as("tp"))
          .filter(col("tv").isNotNull && col("tp").isNotNull
            && col("tp") > col("tv"))
          .select(expr("(tp - tv) div 60000000").as("lat_min"))
        val med = graft.operators.Robust
          .quantileSelect(firsts.withColumn("g", lit(1)), "g", "lat_min",
            Seq(25, 50, 75, 90))
        med.select(col("n").as("n_converted"), col("q25"), col("q50"),
          col("q75"), col("q90"))
      },
      Some("""WITH firsts AS (SELECT user_id,
            MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
            MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
          FROM events GROUP BY user_id),
        lat AS (SELECT CAST((tp - tv) // 60000000 AS BIGINT) AS lat_min
          FROM firsts WHERE tv IS NOT NULL AND tp IS NOT NULL AND tp > tv),
        r AS (SELECT lat_min,
            ROW_NUMBER() OVER (ORDER BY lat_min) AS rn,
            COUNT(*) OVER () AS nn
          FROM lat)
      SELECT MAX(nn) AS n_converted,
        MIN(CASE WHEN rn >= (nn - 1) * 25 // 100 + 1 THEN lat_min END) AS q25,
        MIN(CASE WHEN rn >= (nn - 1) * 50 // 100 + 1 THEN lat_min END) AS q50,
        MIN(CASE WHEN rn >= (nn - 1) * 75 // 100 + 1 THEN lat_min END) AS q75,
        MIN(CASE WHEN rn >= (nn - 1) * 90 // 100 + 1 THEN lat_min END) AS q90
      FROM r""")),

    // ---- session bounce rate ------------------------------------------------
    // The q18 sessionization (30-min-gap islands on one user-ordered
    // pass) folded to the product metric: per day-of-session-start,
    // total sessions, single-event bounces, and the rate as one IEEE
    // division of exact counts.
    "q214_bounce_rate" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = 30L * 60 * 1000000
        val sess = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("newSess",
            when(col("us") - lag(col("us"), 1).over(w) > gapUs, 1L)
              .when(lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("sid", sum(col("newSess")).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val perSess = sess.groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_events"), min(col("ts")).as("t0"))
        perSess.groupBy(date_format(to_date(col("t0")), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("bounces"))
          .withColumn("bounce_rate",
            col("bounces").cast("double") / col("sessions").cast("double"))
          .orderBy("day")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us
          FROM events),
        marked AS (SELECT *,
            CASE WHEN LAG(us) OVER w IS NULL THEN 1
                 WHEN us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS newSess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (SELECT *,
            SUM(newSess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM marked),
        per AS (SELECT user_id, sid, COUNT(*) AS n_events, MIN(ts) AS t0
          FROM sess GROUP BY 1, 2)
      SELECT STRFTIME(CAST(t0 AS DATE), '%Y-%m-%d') AS day,
        COUNT(*) AS sessions,
        CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
        CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
      FROM per GROUP BY 1 ORDER BY day""")),

    // ---- NDCG ranking quality ---------------------------------------------
    // The IR-evaluation metric for the retrieval stack (q68/q120), run
    // on a self-contained ranking: per nation, the top-10 customers by
    // balance (WindowGroupLimit — the rank cap sits below the exchange),
    // relevance = "placed ≥ 5 orders" (exact count). The log2 discounts
    // are parsed-string constants per position; DCG and the ideal DCG
    // fold ≤10 terms in EXPLICIT position order (the q208 portable
    // fold), and NDCG is one division — null when the list has no
    // relevant member, identically in both engines.
    "q215_ndcg" -> Q(
      (s, dir) => {
        val wRank = Window.partitionBy("c_nationkey")
          .orderBy(desc("c_acctbal"), col("c_custkey"))
        val cnt = t(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        val top = t(s, dir, "customer")
          .withColumn("pos", row_number().over(wRank))
          .filter(col("pos") <= 10)
          .join(cnt, col("c_custkey") === col("o_custkey"), "left_outer")
          .withColumn("rel",
            when(coalesce(col("n_orders"), lit(0L)) >= 5, 1L).otherwise(0L))
        val wIdeal = Window.partitionBy("c_nationkey")
          .orderBy(desc("rel"), col("pos"))
        val scored = top
          .withColumn("ipos", row_number().over(wIdeal))
          .withColumn("w", NdcgW.zipWithIndex.map { case (v, i) =>
            when(col("pos") === (i + 1), lit(v.toDouble))
          }.reduceRight(_ otherwise _))
          .withColumn("iw", NdcgW.zipWithIndex.map { case (v, i) =>
            when(col("ipos") === (i + 1), lit(v.toDouble))
          }.reduceRight(_ otherwise _))
        scored.groupBy("c_nationkey")
          .agg(sum(col("rel")).as("n_rel"),
            expr("aggregate(sort_array(collect_list(struct(pos, rel, w)))," +
              " CAST(0 AS DOUBLE), (acc, x) -> acc + x.rel * x.w)").as("dcg"),
            expr("aggregate(sort_array(collect_list(struct(ipos, rel, iw)))," +
              " CAST(0 AS DOUBLE), (acc, x) -> acc + x.rel * x.iw)").as("idcg"))
          .select(col("c_nationkey"), col("n_rel"), col("dcg"), col("idcg"),
            when(col("idcg") > 0, col("dcg") / col("idcg")).as("ndcg"))
          .orderBy("c_nationkey")
      },
      Some {
        def wcase(c: String) = NdcgW.zipWithIndex.map { case (v, i) =>
          s"WHEN $c = ${i + 1} THEN CAST($v AS DOUBLE)"
        }.mkString("CASE ", " ", " END")
        s"""WITH cnt AS (SELECT o_custkey, COUNT(*) AS n_orders
              FROM orders GROUP BY 1),
          top AS (SELECT c_nationkey, c_custkey, pos FROM (
              SELECT c_nationkey, c_custkey,
                ROW_NUMBER() OVER (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey) AS pos
              FROM customer) WHERE pos <= 10),
          rels AS (SELECT c_nationkey, pos,
              CASE WHEN COALESCE(n_orders, 0) >= 5 THEN 1 ELSE 0 END AS rel
            FROM top LEFT JOIN cnt ON c_custkey = o_custkey),
          ideal AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
              ORDER BY rel DESC, pos) AS ipos FROM rels),
          folded AS (SELECT c_nationkey, SUM(rel) AS n_rel,
              list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list(rel * (${wcase("pos")}) ORDER BY pos)),
                (acc, x) -> acc + x) AS dcg,
              list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list(rel * (${wcase("ipos")}) ORDER BY ipos)),
                (acc, x) -> acc + x) AS idcg
            FROM ideal GROUP BY c_nationkey)
        SELECT c_nationkey, CAST(n_rel AS BIGINT) AS n_rel, dcg, idcg,
          CASE WHEN idcg > 0 THEN dcg / idcg END AS ndcg
        FROM folded ORDER BY c_nationkey"""
      }),

    // ---- quantile normalization -------------------------------------------
    // The bioinformatics/feature-prep transform that forces every
    // feature dimension onto a shared distribution: rank each value
    // within its dimension (deterministic (v, vec_id) order; the window
    // is PARTITIONED by the 64 dims — documented parallelism bound, the
    // q198 sibling), average the 64 per-rank values into the reference
    // profile with the ORDERED fold (sum of 64 doubles is otherwise
    // order-nondeterministic), divide by the rank's dim count, and map
    // every cell to its rank's profile value. Output is the bounded
    // vec_id slice; the profile is computed from the WHOLE corpus.
    "q216_quantile_norm" -> Q(
      (s, dir) => {
        val ex = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"),
            col("v").cast("double").as("v"))
        val wr = Window.partitionBy("dim").orderBy("v", "vec_id")
        val ranked = ex.withColumn("rk", row_number().over(wr))
        val prof = ranked.groupBy("rk")
          .agg((expr("aggregate(sort_array(collect_list(struct(dim, v)))," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x.v)")
            / count(lit(1)).cast("double")).as("pv"))
        ranked.filter(col("vec_id") < 30)
          .join(prof, "rk")
          .select(col("vec_id"), col("dim"), col("v"), col("pv").as("qnorm"))
          .orderBy("vec_id", "dim")
      },
      Some("""WITH ex AS (SELECT vec_id,
            CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
            CAST(UNNEST(embedding) AS DOUBLE) AS v
          FROM embeddings),
        ranked AS (SELECT vec_id, dim, v,
            ROW_NUMBER() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rk
          FROM ex),
        prof AS (SELECT rk,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(v ORDER BY dim)), (acc, x) -> acc + x)
              / CAST(COUNT(*) AS DOUBLE) AS pv
          FROM ranked GROUP BY rk)
      SELECT vec_id, dim, v, pv AS qnorm
      FROM ranked JOIN prof USING (rk)
      WHERE vec_id < 30 ORDER BY vec_id, dim""")),

    // ---- batch perceptron (integer-exact distributed training) -------------
    // A linear classifier TRAINED inside the engine, bit-reproducibly:
    // features are the q109 int8-quantized embeddings, labels y = ±1
    // from the fixture's label column, and each round of the batch
    // (pocket-style) perceptron — margin yᵢ(w·xᵢ), misclassified set,
    // w ← w + Σ yᵢxᵢ — is PURE INTEGER arithmetic, so three rounds of
    // distributed gradient training hash-match DuckDB replaying the
    // same rounds as a generated MATERIALIZED CTE chain (the
    // q118/q157/q168 iterative-oracle pattern). Per round: one
    // dim-keyed join against the broadcast 64-long weight table and two
    // map-side-combinable aggregates; the weights collected to the
    // driver are the model itself (the Ivf-centroid ruling). Dot
    // magnitudes: |w| ≤ n·127 ≈ 8e7 at sf0.1, dot ≤ 64·127·|w| ≈ 6e11
    // — inside int64.
    "q217_perceptron" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = graft.operators.Similarity.quantizeInt8(emb, "vec_id", "embedding")
          .join(emb.select(col("vec_id").as("id"),
            when(col("label") % 2 === 0, 1L).otherwise(-1L).as("y")), "id")
        val ex = q.select(col("id"), col("y"),
            posexplode(col("qvec")).as(Seq("dim", "x")))
          .select(col("id"), col("y"), col("dim").cast("long").as("dim"),
            col("x"))
        ex.persist()
        val nDims = ex.agg(max(col("dim"))).head().getLong(0).toInt + 1
        var w = Array.fill(nDims)(0L)
        val snaps = scala.collection.mutable.ArrayBuffer[Array[Long]]()
        for (_ <- 1 to 3) {
          val spark = ex.sparkSession
          import spark.implicits._
          val wdf = w.zipWithIndex.toSeq.map { case (v, d) => (d.toLong, v) }
            .toDF("dim", "wv")
          val dots = ex.join(broadcast(wdf), "dim")
            .groupBy("id", "y").agg(sum(col("x") * col("wv")).as("dot"))
          val updates = ex
            .join(dots.filter(col("y") * col("dot") <= 0).select("id"), "id")
            .groupBy("dim").agg(sum(col("y") * col("x")).as("u"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          w = w.zipWithIndex.map { case (v, d) =>
            v + updates.getOrElse(d.toLong, 0L)
          }
          snaps += w.clone()
        }
        ex.unpersist()
        val spark2 = s
        import spark2.implicits._
        (0 until nDims).map { d =>
          (d.toLong, snaps(0)(d), snaps(1)(d), snaps(2)(d))
        }.toDF("dim", "w1", "w2", "w3").orderBy("dim")
      },
      Some("""WITH q AS MATERIALIZED (SELECT vec_id AS id,
            CASE WHEN label % 2 = 0 THEN 1 ELSE -1 END AS y,
            list_transform(
              CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                   ELSE list_transform(v, x -> floor(x / amax * 127.0 + 0.5)) END,
              x -> CAST(x AS BIGINT)) AS qv
          FROM (SELECT vec_id, label,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
              CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings)),
        ex AS MATERIALIZED (SELECT id, y,
            CAST(generate_subscripts(qv, 1) - 1 AS BIGINT) AS dim,
            UNNEST(qv) AS x
          FROM q),
        w1 AS MATERIALIZED (SELECT dim, SUM(y * x) AS w FROM ex GROUP BY dim),
        d2 AS MATERIALIZED (SELECT e.id, e.y, SUM(e.x * w1.w) AS dot
          FROM ex e JOIN w1 ON e.dim = w1.dim GROUP BY e.id, e.y),
        u2 AS MATERIALIZED (SELECT dim, SUM(e.y * e.x) AS u
          FROM ex e JOIN d2 ON e.id = d2.id
          WHERE d2.y * d2.dot <= 0 GROUP BY dim),
        w2 AS MATERIALIZED (SELECT w1.dim, w1.w + COALESCE(u2.u, 0) AS w
          FROM w1 LEFT JOIN u2 ON w1.dim = u2.dim),
        d3 AS MATERIALIZED (SELECT e.id, e.y, SUM(e.x * w2.w) AS dot
          FROM ex e JOIN w2 ON e.dim = w2.dim GROUP BY e.id, e.y),
        u3 AS MATERIALIZED (SELECT dim, SUM(e.y * e.x) AS u
          FROM ex e JOIN d3 ON e.id = d3.id
          WHERE d3.y * d3.dot <= 0 GROUP BY dim),
        w3 AS MATERIALIZED (SELECT w2.dim, w2.w + COALESCE(u3.u, 0) AS w
          FROM w2 LEFT JOIN u3 ON w2.dim = u3.dim)
      SELECT w1.dim, CAST(w1.w AS BIGINT) AS w1,
        CAST(w2.w AS BIGINT) AS w2, CAST(w3.w AS BIGINT) AS w3
      FROM w1 JOIN w2 ON w1.dim = w2.dim JOIN w3 ON w1.dim = w3.dim
      ORDER BY w1.dim""")),

    // ---- containment join (asymmetric near-dup) ----------------------------
    // |A∩B|/|A| ≥ 0.8 over word-3-gram sets: the quote/inclusion
    // detector that symmetric Jaccard (q173) misses when B is much
    // larger than A. `SetJoin.containmentJoin` — probe-side-only prefix
    // under the global df order, exact integer ceil bound, string-level
    // verify behind a broadcast candidate prune. The oracle runs the
    // full all-pairs token join, so the hash proves exact recall of the
    // one-sided prefix filter.
    "q218_containment_join" -> Q(
      (s, dir) => {
        val el = Tables.widened(s, t(s, dir, "documents"))
          .select(col("doc_id").as("id"),
            explode(TextAnalysis.wordNgrams(TextAnalysis.tokens(col("text")), 3))
              .as("tok"))
        graft.operators.SetJoin.containmentJoin(el, tNum = 4, tDen = 5)
          .orderBy("a", "b")
      },
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks
            FROM documents),
          g AS (SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in range(1, len(toks) - 1)]) AS grams
            FROM w WHERE len(toks) >= 3),
          el AS (SELECT doc_id, unnest(grams) AS tok FROM g),
          sz AS (SELECT doc_id, COUNT(*) AS n FROM el GROUP BY 1),
          p AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
            FROM el a JOIN el b ON a.tok = b.tok AND a.doc_id <> b.doc_id
            GROUP BY 1, 2)
        SELECT a, b, inter, sa.n AS sz_a, sb.n AS sz_b
        FROM p JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        WHERE 5 * inter >= 4 * sa.n
        ORDER BY a, b""")),

    // ---- join-cardinality estimation ---------------------------------------
    // The other half of q200's advisor: EXACT join output size from the
    // two key histograms (Σ f_A(k)·f_B(k)) without running the join —
    // the statistic a cost-based planner needs to order a join tree.
    // The count-table join shuffles one row per distinct key; the
    // self-join probe (events × purchases on user) is exactly the case
    // where the estimate explodes quadratically and the planner must
    // know BEFORE execution.
    "q219_join_size" -> Q(
      (s, dir) => {
        Advisor.joinSize("orders_customer",
            t(s, dir, "orders"), col("o_custkey"),
            t(s, dir, "customer"), col("c_custkey"))
          .unionAll(Advisor.joinSize("lineitem_orders",
            t(s, dir, "lineitem"), col("l_orderkey"),
            t(s, dir, "orders"), col("o_orderkey")))
          .unionAll(Advisor.joinSize("events_selfuser",
            t(s, dir, "events"), col("user_id"),
            t(s, dir, "events").filter(col("event_type") === "purchase"),
            col("user_id")))
          .orderBy("join_name")
      },
      Some(Seq(
          Advisor.joinSizeSql("orders_customer", "orders", "o_custkey",
            "customer", "c_custkey"),
          Advisor.joinSizeSql("lineitem_orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          Advisor.joinSizeSql("events_selfuser", "events", "user_id",
            "(SELECT * FROM events WHERE event_type = 'purchase')", "user_id"))
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY join_name"))),

    // ---- Pareto (80/20) coverage -------------------------------------------
    // "How many users produce 80% of the events?" — kept EXACT and
    // value-domain bounded: per-user counts collapse to (count-class,
    // users, volume) rows, the descending cumulative runs over DISTINCT
    // count values (the q176 Gini companion), the 80% fence is integer
    // ceil arithmetic, and the crossing class contributes ceil((V −
    // before)/cnt) additional users — no per-user scan order anywhere.
    "q221_pareto_coverage" -> Q(
      (s, dir) => {
        val per = t(s, dir, "events").groupBy("user_id")
          .agg(count(lit(1)).as("cnt"))
        val cls = per.groupBy("cnt").agg(count(lit(1)).as("m"))
          .withColumn("vol", col("cnt") * col("m"))
        val wCum = Window.orderBy(desc("cnt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = cls
          .withColumn("cumu", sum(col("m")).over(wCum))
          .withColumn("cumv", sum(col("vol")).over(wCum))
          .crossJoin(broadcast(cls.agg(sum(col("m")).as("tu"),
            sum(col("vol")).as("tv"))))
          .withColumn("target", expr("(4 * tv + 4) div 5"))
        val crossing = cum.filter(col("cumv") >= col("target"))
          .orderBy(desc("cnt")).limit(1)
        crossing.select(col("tu").as("total_users"), col("tv").as("total_events"),
            (col("cumu") - col("m")
              + expr("(target - (cumv - vol) + cnt - 1) div cnt"))
              .as("users_for_80pct"),
            col("cnt").as("crossing_class"))
      },
      Some("""WITH per AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
          cls AS (SELECT cnt, COUNT(*) AS m, cnt * COUNT(*) AS vol
            FROM per GROUP BY cnt),
          cum AS (SELECT cnt, m, vol,
              SUM(m) OVER w AS cumu, SUM(vol) OVER w AS cumv,
              (SELECT SUM(m) FROM cls) AS tu, (SELECT SUM(vol) FROM cls) AS tv
            FROM cls WINDOW w AS (ORDER BY cnt DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          f AS (SELECT *, (4 * tv + 4) // 5 AS target FROM cum),
          x AS (SELECT * FROM f WHERE cumv >= target ORDER BY cnt DESC LIMIT 1)
        SELECT CAST(tu AS BIGINT) AS total_users,
          CAST(tv AS BIGINT) AS total_events,
          CAST(cumu - m + (target - (cumv - vol) + cnt - 1) // cnt AS BIGINT)
            AS users_for_80pct,
          cnt AS crossing_class
        FROM x""")),

    // ---- event-type correlation matrix -------------------------------------
    // All-pairs daily-volume correlations (the q209 rolling pair,
    // generalized): the spine self-join on day over the |types|² ≤ 25
    // bounded pair domain, exact power sums per pair, one Pearson tree
    // each. The dashboard's co-movement matrix.
    "q222_corr_matrix" -> Q(
      (s, dir) => {
        val sp = dailySpine(s, dir)
        val a = sp.select(col("day"), col("event_type").as("ta"), col("y").as("ya"))
        val b = sp.select(col("day"), col("event_type").as("tb"), col("y").as("yb"))
        val sums = a.join(b, "day").filter(col("ta") < col("tb"))
          .groupBy("ta", "tb")
          .agg(count(lit(1)).as("n"),
            sum(col("ya")).as("sa"), sum(col("yb")).as("sb"),
            sum(col("ya") * col("yb")).as("sab"),
            sum(col("ya") * col("ya")).as("saa"),
            sum(col("yb") * col("yb")).as("sbb"))
        sums.select(col("ta"), col("tb"), col("n"),
            ((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
              / (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
                 * sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
              .as("r"))
          .orderBy("ta", "tb")
      },
      Some(s"""WITH $spineSql,
          p AS (SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n,
              SUM(a.y) AS sa, SUM(b.y) AS sb, SUM(a.y * b.y) AS sab,
              SUM(a.y * a.y) AS saa, SUM(b.y * b.y) AS sbb
            FROM sp a JOIN sp b ON a.day = b.day AND a.event_type < b.event_type
            GROUP BY 1, 2)
        SELECT ta, tb, n,
          CAST(n*sab - sa*sb AS DOUBLE)
            / (SQRT(CAST(n*saa - sa*sa AS DOUBLE))
               * SQRT(CAST(n*sbb - sb*sb AS DOUBLE))) AS r
        FROM p ORDER BY ta, tb""")),

    // ---- forecasting lag-feature table --------------------------------------
    // The feature-engineering export a training pipeline feeds a
    // forecaster: per (event_type, day) — target, lag-1, lag-7, 7-day
    // rolling sum, and day-of-week as PORTABLE integer arithmetic
    // ((epochday + 4) % 7; engine DOW functions disagree on numbering).
    // One ordered pass over the bounded spine; all integers.
    "q223_lag_features" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("event_type").orderBy("day")
        val w7 = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-6, 0)
        dailySpine(s, dir)
          .withColumn("idx", row_number().over(w))
          .withColumn("lag1", lag(col("y"), 1).over(w))
          .withColumn("lag7", lag(col("y"), 7).over(w))
          .withColumn("roll7", sum(col("y")).over(w7))
          .filter(col("idx") >= 8)
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            expr("(x + 4) % 7").as("dow"),
            col("y"), col("lag1"), col("lag7"), col("roll7"))
          .orderBy("event_type", "day")
      },
      Some(s"""WITH $spineSql,
          f AS (SELECT event_type, day, x, y,
              ROW_NUMBER() OVER w AS idx,
              LAG(y, 1) OVER w AS lag1, LAG(y, 7) OVER w AS lag7,
              SUM(y) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll7
            FROM sp WINDOW w AS (PARTITION BY event_type ORDER BY day))
        SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
          (x + 4) % 7 AS dow, y, lag1, lag7,
          CAST(roll7 AS BIGINT) AS roll7
        FROM f WHERE idx >= 8 ORDER BY event_type, day""")),

    // ---- top-k with OTHER rollup --------------------------------------------
    // The reporting staple: each region's top-3 nations by revenue plus
    // one OTHER row folding the tail — rank over the 25-row nation
    // aggregate (value-domain bounded), exact decimal re-fold (the
    // two-level aggregate stays exact because decimal addition is
    // associative), one presentation sort.
    "q224_topk_others" -> Q(
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(Det.moneySumExact(col("l_extendedprice")).as("rev"))
        val wr = Window.partitionBy("r_name").orderBy(desc("rev"), col("n_name"))
        rev.withColumn("rk", row_number().over(wr))
          .withColumn("bucket", when(col("rk") <= 3, col("n_name"))
            .otherwise(lit("OTHER")))
          .groupBy("r_name", "bucket")
          .agg(count(lit(1)).cast("long").as("n_nations"),
            Det.refoldMoney(col("rev")).as("revenue"))
          .orderBy(col("r_name"), desc("revenue"), col("bucket"))
      },
      Some(s"""WITH rev AS (SELECT r_name, n_name,
            SUM(${Det.sqlMoney("l_extendedprice")}) AS rev
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY r_name
            ORDER BY rev DESC, n_name) AS rk FROM rev),
        b AS (SELECT r_name,
            CASE WHEN rk <= 3 THEN n_name ELSE 'OTHER' END AS bucket, rev
          FROM rk)
      SELECT r_name, bucket, COUNT(*) AS n_nations,
        CAST(SUM(rev) AS DOUBLE) AS revenue
      FROM b GROUP BY 1, 2 ORDER BY r_name, revenue DESC, bucket""")),

    // ---- trailing-window distinct users -------------------------------------
    // Rolling 7-day active users, EXACT and linear: a sliding
    // COUNT(DISTINCT) cannot ride a window frame, so each (user, day)
    // presence is exploded to the ≤7 window-ends it serves (map-side ×7,
    // no per-window rescan), deduped, and counted — the standard
    // "contribute-to-windows" rewrite that keeps distinct-counting
    // shuffle-bounded at any scale. Window ends outside the observed
    // span are trimmed so both engines agree on the report range.
    "q225_trailing_distinct" -> Q(
      (s, dir) => {
        val du = t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        val bounds = du.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        val contrib = du
          .select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 6))).as("w"))
          .distinct()
        contrib.crossJoin(broadcast(bounds))
          .filter(col("w") >= col("d0") && col("w") <= col("d1"))
          .groupBy("w")
          .agg(count(lit(1)).as("active_7d"))
          .select(date_format(col("w"), "yyyy-MM-dd").as("day"), col("active_7d"))
          .orderBy("day")
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events),
          bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM du),
          contrib AS (SELECT DISTINCT user_id, CAST(gs AS DATE) AS w
            FROM du, UNNEST(generate_series(CAST(day AS TIMESTAMP),
              CAST(day + 6 AS TIMESTAMP), INTERVAL 1 DAY)) t(gs))
        SELECT STRFTIME(w, '%Y-%m-%d') AS day, COUNT(*) AS active_7d
        FROM contrib, bounds WHERE w >= d0 AND w <= d1
        GROUP BY w ORDER BY day""")),

    // ---- revenue bridge (new / churn / expansion) ---------------------------
    // The SaaS waterfall: month-over-month per-customer revenue deltas
    // classified as new / churned / expansion / contraction / flat, with
    // EXACT decimal movement sums. Month index is integer Y*12+M (no
    // cross-engine month arithmetic); consecutive months meet in one
    // full outer join keyed (customer, month) — per-pair independent,
    // shuffle on the compound key, never a month loop.
    "q226_revenue_bridge" -> Q(
      (s, dir) => {
        val rev = t(s, dir, "orders")
          .select(col("o_custkey").as("cust"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast("long").as("midx"),
            Det.money(col("o_totalprice")).as("r"))
          .groupBy("cust", "midx").agg(sum(col("r")).as("rev"))
        val prev = rev.select(col("cust"), (col("midx") + 1).as("m"),
          col("rev").as("prev_rev"))
        val cur = rev.select(col("cust"), col("midx").as("m"),
          col("rev").as("cur_rev"))
        val joined = cur.join(prev, Seq("cust", "m"), "full_outer")
        val classed = joined.withColumn("class",
          when(col("prev_rev").isNull, "new")
            .when(col("cur_rev").isNull, "churned")
            .when(col("cur_rev") > col("prev_rev"), "expansion")
            .when(col("cur_rev") < col("prev_rev"), "contraction")
            .otherwise("flat"))
        // trim the synthetic edge months (before first / after last real month)
        val span = rev.agg(min(col("midx")).as("m0"), max(col("midx")).as("m1"))
        classed.crossJoin(broadcast(span))
          .filter(col("m") > col("m0") && col("m") <= col("m1"))
          .groupBy("m", "class")
          .agg(count(lit(1)).as("n_customers"),
            Det.sumD(coalesce(col("cur_rev"), lit(0).cast(Det.Money))
              - coalesce(col("prev_rev"), lit(0).cast(Det.Money))).as("delta"))
          .orderBy("m", "class")
      },
      Some(s"""WITH rev AS (SELECT o_custkey AS cust,
            CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS midx,
            SUM(${Det.sqlMoney("o_totalprice")}) AS rev
          FROM orders GROUP BY 1, 2),
        joined AS (SELECT COALESCE(c.cust, p.cust) AS cust,
            COALESCE(c.m, p.m) AS m, c.cur_rev, p.prev_rev
          FROM (SELECT cust, midx AS m, rev AS cur_rev FROM rev) c
          FULL OUTER JOIN (SELECT cust, midx + 1 AS m, rev AS prev_rev FROM rev) p
            ON c.cust = p.cust AND c.m = p.m),
        classed AS (SELECT m,
            CASE WHEN prev_rev IS NULL THEN 'new'
                 WHEN cur_rev IS NULL THEN 'churned'
                 WHEN cur_rev > prev_rev THEN 'expansion'
                 WHEN cur_rev < prev_rev THEN 'contraction'
                 ELSE 'flat' END AS class,
            COALESCE(cur_rev, CAST(0 AS DECIMAL(12,2)))
              - COALESCE(prev_rev, CAST(0 AS DECIMAL(12,2))) AS delta
          FROM joined),
        span AS (SELECT MIN(midx) AS m0, MAX(midx) AS m1 FROM rev)
      SELECT m, class, COUNT(*) AS n_customers,
        CAST(SUM(delta) AS DOUBLE) AS delta
      FROM classed, span WHERE m > m0 AND m <= m1
      GROUP BY 1, 2 ORDER BY m, class""")),

    // ---- cohort LTV curves --------------------------------------------------
    // Cumulative revenue per acquisition cohort: customers keyed by
    // first-order month, every order charged to (cohort, months-since),
    // cell sums exact DECIMAL, the cumulative ride a cohort-partitioned
    // window over the months² bounded grid, and LTV-per-customer is one
    // division by the fixed cohort size. Month arithmetic is integer
    // Y·12+M throughout (the q226 ruling).
    "q228_cohort_ltv" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_custkey").as("cust"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast("long").as("midx"),
            Det.money(col("o_totalprice")).as("r"))
        val coh = o.groupBy("cust").agg(min(col("midx")).as("cohort"))
        val cells = o.join(coh, "cust")
          .groupBy(col("cohort"), (col("midx") - col("cohort")).as("k"))
          .agg(sum(col("r")).as("rev"))
        val sizes = coh.groupBy("cohort").agg(count(lit(1)).as("n_cust"))
        val wCum = Window.partitionBy("cohort").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells.withColumn("cum_rev", sum(col("rev")).over(wCum))
          .join(broadcast(sizes), "cohort")
          .select(col("cohort"), col("k"), col("n_cust"),
            col("cum_rev").cast("double").as("cum_rev"),
            (col("cum_rev").cast("double") / col("n_cust").cast("double"))
              .as("ltv_per_cust"))
          .orderBy("cohort", "k")
      },
      Some(s"""WITH o AS (SELECT o_custkey AS cust,
            CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS midx,
            ${Det.sqlMoney("o_totalprice")} AS r
          FROM orders),
        coh AS (SELECT cust, MIN(midx) AS cohort FROM o GROUP BY cust),
        cells AS (SELECT cohort, midx - cohort AS k, SUM(r) AS rev
          FROM o JOIN coh USING (cust) GROUP BY 1, 2),
        sizes AS (SELECT cohort, COUNT(*) AS n_cust FROM coh GROUP BY cohort),
        cum AS (SELECT cohort, k, SUM(rev) OVER (PARTITION BY cohort ORDER BY k
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
          FROM cells)
      SELECT cohort, k, n_cust,
        CAST(cum_rev AS DOUBLE) AS cum_rev,
        CAST(cum_rev AS DOUBLE) / CAST(n_cust AS DOUBLE) AS ltv_per_cust
      FROM cum JOIN sizes USING (cohort)
      ORDER BY cohort, k""")),

    // ---- as-of join with tolerance -------------------------------------------
    // pandas merge_asof's `tolerance` semantic: each event enriched with
    // the user's most recent order, but a match OLDER THAN 30 DAYS is
    // nulled — stale context is worse than none. Built as q49's
    // single-shuffle as-of (the matched time travels in the carry
    // struct) plus one integer date-distance predicate; DuckDB's native
    // ASOF JOIN has no tolerance, so the oracle post-filters the same
    // way — the semantics are pinned by construction on both sides.
    "q229_asof_tolerance" -> Q(
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val od = t(s, dir, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
        graft.operators.AsOfJoin.asOf(
            e, "user_id", "ts", od, "o_custkey", "o_orderdate",
            Seq("o_orderkey", "o_orderdate"))
          .select(col("event_id"),
            when(datediff(to_date(col("ts")), to_date(col("o_orderdate"))) <= 30,
              col("o_orderkey")).as("recent_order"))
          .orderBy("event_id")
      },
      Some("""WITH od AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
                FROM orders GROUP BY o_custkey, o_orderdate)
        SELECT e.event_id,
          CASE WHEN DATEDIFF('day', CAST(od.o_orderdate AS DATE), CAST(e.ts AS DATE)) <= 30
            THEN od.o_orderkey END AS recent_order
        FROM events e ASOF LEFT JOIN od
          ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
        ORDER BY event_id""")),

    // ---- top-decile membership ------------------------------------------------
    // Per-nation p90 balance fence SELECTED count-first (never
    // interpolated, never a per-row rank window over the fact), then the
    // members at-or-above their nation's fence censused with exact
    // decimal sums — the "top spenders" report that composes the
    // quantile and aggregation machinery.
    "q230_top_decile" -> Q(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val fence = graft.operators.Robust
          .quantileSelect(cust, "c_nationkey", "c_acctbal", Seq(90))
          .select(col("c_nationkey"), col("q90"))
        cust.join(broadcast(fence), "c_nationkey")
          .filter(col("c_acctbal") >= col("q90"))
          .groupBy("c_nationkey")
          .agg(max(col("q90")).as("fence"), count(lit(1)).as("n_top"),
            Det.moneySum(col("c_acctbal")).as("top_balance"))
          .orderBy("c_nationkey")
      },
      Some(s"""WITH r AS (SELECT c_nationkey, c_acctbal,
            ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS rn,
            COUNT(*) OVER (PARTITION BY c_nationkey) AS nn
          FROM customer),
        fence AS (SELECT c_nationkey,
            MIN(CASE WHEN rn >= (nn - 1) * 90 // 100 + 1 THEN c_acctbal END) AS q90
          FROM r GROUP BY c_nationkey)
      SELECT c.c_nationkey, MAX(f.q90) AS fence, COUNT(*) AS n_top,
        ${Det.sqlMoneySum("c.c_acctbal")} AS top_balance
      FROM customer c JOIN fence f ON c.c_nationkey = f.c_nationkey
      WHERE c.c_acctbal >= f.q90
      GROUP BY c.c_nationkey ORDER BY c.c_nationkey""")),

    // ---- schema-evolution union (BY NAME) -----------------------------------
    // Appending a column without rewriting history: a legacy extract
    // (key, total) and a current extract (key, total, priority) union BY
    // NAME with null back-fill — Spark `unionByName(allowMissingColumns)`
    // vs DuckDB `UNION ALL BY NAME` — then one census per (priority,
    // era) proving both engines agree on the padded rows. The
    // Snapshots.appendEvolve storage twin of the same idea is spec-gated;
    // this is the query-level surface.
    "q232_union_by_name" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cutoff = to_timestamp(lit("1996-01-01 00:00:00"))
        val legacy = o.filter(col("o_orderdate") < cutoff)
          .select(col("o_orderkey"), Det.money(col("o_totalprice")).as("total"))
        val current = o.filter(col("o_orderdate") >= cutoff)
          .select(col("o_orderkey"), Det.money(col("o_totalprice")).as("total"),
            col("o_orderpriority").as("priority"))
        legacy.unionByName(current, allowMissingColumns = true)
          .groupBy(coalesce(col("priority"), lit("(legacy)")).as("priority"))
          .agg(count(lit(1)).as("n"), Det.sumD(col("total")).as("total"))
          .orderBy("priority")
      },
      Some(s"""WITH u AS (
          SELECT o_orderkey, ${Det.sqlMoney("o_totalprice")} AS total
            FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
          UNION ALL BY NAME
          SELECT o_orderkey, ${Det.sqlMoney("o_totalprice")} AS total,
              o_orderpriority AS priority
            FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
        SELECT COALESCE(priority, '(legacy)') AS priority,
          COUNT(*) AS n, ${Det.sqlSumD("total")} AS total
        FROM u GROUP BY 1 ORDER BY priority""")),

    // ---- forecast backtest (exact residual analysis) ------------------------
    // Model evaluation without a single inexact intermediate: the q192
    // OLS fit is kept RATIONAL — pred_i·den = a_num + slope_num·x_i with
    // den = nΣx²−(Σx)², a_num = ΣyΣx²−ΣxΣxy — so every residual is the
    // exact integer y_i·den − a_num − slope_num·x_i. Products run in
    // DECIMAL(38,0) from (18,0) operands (Spark) / HUGEINT (DuckDB) —
    // the q147 wide-integer discipline — because y·den leaves int64
    // range as daily volume scales. Output: per type the worst-predicted
    // day (exact argmax, earliest-day tie-break) and scaled MAE as ONE
    // final division.
    "q233_forecast_backtest" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        def d18(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 0))
        val sums = dailySpine(s, dir).groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        val withFit = sums
          .withColumn("den", d18(col("n")) * d18(col("sxx")) - d18(col("sx")) * d18(col("sx")))
          .withColumn("a_num", d18(col("sy")) * d18(col("sxx")) - d18(col("sx")) * d18(col("sxy")))
          .withColumn("b_num", d18(col("n")) * d18(col("sxy")) - d18(col("sx")) * d18(col("sy")))
        val resid = dailySpine(s, dir)
          .join(broadcast(withFit), "event_type")
          .withColumn("rnum",
            d18(col("y")) * col("den") - col("a_num") - col("b_num") * d18(col("x")))
          .withColumn("anum", abs(col("rnum")))
        val wPick = Window.partitionBy("event_type")
          .orderBy(desc("anum"), col("day"))
        val worst = resid.withColumn("rk", row_number().over(wPick))
          .filter(col("rk") === 1)
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("worst_day"),
            col("anum").cast("double").as("worst_resid_num"))
        val mae = resid.groupBy("event_type")
          .agg(sum(col("anum")).as("sum_abs"), max(col("n")).as("n"),
            max(col("den")).as("den"))
          .select(col("event_type"), col("n"),
            (col("sum_abs").cast("double")
              / (col("n").cast("double") * col("den").cast("double"))).as("mae"))
        mae.join(worst, "event_type").orderBy("event_type")
      },
      Some(s"""WITH $spineSql,
        sums AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x*y) AS sxy, SUM(x*x) AS sxx
          FROM sp GROUP BY event_type),
        fit AS (SELECT event_type, n,
            CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
            CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS a_num,
            CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS b_num
          FROM sums),
        resid AS (SELECT sp.event_type, sp.day,
            ABS(CAST(sp.y AS HUGEINT) * f.den - f.a_num - f.b_num * sp.x) AS anum,
            f.n, f.den
          FROM sp JOIN fit f ON sp.event_type = f.event_type),
        worst AS (SELECT event_type,
            STRFTIME(day, '%Y-%m-%d') AS worst_day,
            CAST(anum AS DOUBLE) AS worst_resid_num
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY anum DESC, day) AS rk FROM resid)
          WHERE rk = 1),
        mae AS (SELECT event_type, MAX(n) AS n,
            CAST(SUM(anum) AS DOUBLE)
              / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(den) AS DOUBLE)) AS mae
          FROM resid GROUP BY event_type)
      SELECT m.event_type, m.n, m.mae, w.worst_day, w.worst_resid_num
      FROM mae m JOIN worst w ON m.event_type = w.event_type
      ORDER BY m.event_type""")),

    // ---- distributed exact prefix sums ---------------------------------------
    // SUM OVER (ORDER BY …) is the one window Spark can only plan on a
    // single partition — Prefix.prefixSum is the two-phase scan that
    // computes the identical per-row running value B-way parallel
    // (range-bucket → local window → B-row offset fold → broadcast
    // add). Pure BIGINT, so the hash gate proves the distributed scan
    // IS the declarative window. The primitive under q235's sampler,
    // CDF positions, and byte-offset shard layout.
    "q234_prefix_sums" -> Q(
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        graft.operators.Prefix.prefixSum(d, "doc_id", "n_chars", "cum")
          .select(col("doc_id"), col("n_chars"), col("cum"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars,
          CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        FROM documents ORDER BY doc_id""")),

    // ---- PPS systematic sampling ---------------------------------------------
    // Probability-proportional-to-size sampling with NO randomness to
    // make portable: fixed-step systematic selection over the exact
    // size-weighted cumulative axis (the Hartley–Rao design). A row is
    // drawn once per step boundary its weight interval covers —
    // multiplicity = cum div step − (cum − w) div step — so heavy docs
    // can be drawn multiple times and the expected draw count is
    // exactly proportional to weight. All BIGINT: both engines
    // truncate non-negative division identically. Scale: one
    // prefixSum + a broadcast scalar; selection is a map-side filter.
    "q235_pps_sample" -> Q(
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        val cum = graft.operators.Prefix.prefixSum(d, "doc_id", "n_chars", "cum")
        val tot = cum.agg(max(col("cum")).as("w_total"))
        cum.crossJoin(broadcast(tot))
          .withColumn("step", expr("greatest(w_total div 40, 1)"))
          .withColumn("multiplicity",
            expr("cum div step - (cum - n_chars) div step"))
          .filter(col("multiplicity") > 0)
          .select(col("doc_id"), col("n_chars"), col("multiplicity"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id, n_chars,
            SUM(n_chars) OVER (ORDER BY doc_id) AS cum FROM documents),
        t AS (SELECT GREATEST(MAX(cum) // 40, 1) AS step FROM c)
        SELECT doc_id, n_chars,
          CAST(cum // step - (cum - n_chars) // step AS BIGINT) AS multiplicity
        FROM c, t WHERE cum // step > (cum - n_chars) // step
        ORDER BY doc_id""")),

    // ---- Count-Min sketch point frequencies -----------------------------------
    // The bounded-state frequency counter joining HLL (q139, distinct) /
    // KLL (q160, quantiles) / Misra-Gries (q71, heavy hitters): per-key
    // counts from 4×64 BIGINT cells whatever the key cardinality,
    // batch-mergeable by (j,b) SUM. Width 64 < |users| forces real
    // collisions, and the md5 hash tier lets DuckDB rebuild every cell —
    // so the OVERESTIMATES themselves are hash-gated, not just the happy
    // path. est ≥ exact structurally (min over counters each ⊇ the key's
    // own mass).
    "q236_countmin_freq" -> Q(
      (s, dir) => {
        import graft.operators.CountMin
        val ev = t(s, dir, "events").select(col("user_id"))
        val cm = CountMin.cells(ev, "user_id", depth = 4, width = 64)
        val probes = ev.filter(col("user_id") < 20).distinct()
        val est = CountMin.estimates(cm, probes, "user_id", depth = 4, width = 64)
        val exact = ev.filter(col("user_id") < 20)
          .groupBy("user_id").agg(count(lit(1)).as("exact"))
        exact.join(est, "user_id")
          .select(col("user_id"), col("exact"), col("est"),
            (col("est") - col("exact")).as("overestimate"))
          .orderBy("user_id")
      },
      Some(s"""WITH d AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS d(j)),
        cells AS (SELECT j, ${graft.operators.CountMin.sqlBucket("j", "user_id", 64)} AS b,
            COUNT(*) AS c
          FROM events CROSS JOIN d GROUP BY 1, 2),
        probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
        pj AS (SELECT user_id, j,
            ${graft.operators.CountMin.sqlBucket("j", "user_id", 64)} AS b
          FROM probes CROSS JOIN d),
        est AS (SELECT user_id, MIN(COALESCE(c, 0)) AS est
          FROM pj LEFT JOIN cells USING (j, b) GROUP BY 1),
        exact AS (SELECT user_id, COUNT(*) AS exact
          FROM events WHERE user_id < 20 GROUP BY 1)
      SELECT e.user_id, e.exact, est.est, est.est - e.exact AS overestimate
      FROM exact e JOIN est USING (user_id) ORDER BY user_id""")),

    // ---- foreign-key discovery ------------------------------------------------
    // Schema discovery over the lake: which column pairs are FK→PK
    // edges? Advisor.fkScore computes distinct-set containment +
    // parent-key uniqueness per candidate — the Aurum-style metadata
    // pass that feeds q200's strategy advisor with join GRAPH knowledge.
    // Seven candidates: five true TPC-H edges plus two decoys (reversed
    // direction / coincidental small-domain overlap) proving the score
    // discriminates, not just confirms. Shuffles carry distinct keys
    // only; verdicts are pure integer comparisons.
    "q237_fk_discovery" -> Q(
      (s, dir) => {
        import graft.operators.Advisor.{keyCountsAll, fkScoreSharedAll}
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
        val su = t(s, dir, "supplier"); val p = t(s, dir, "part")
        // One key profile per distinct (table, column), materialized
        // CONCURRENTLY up front (9 overlapping tiny jobs), then SHARED
        // by the 7 edges' 17 side-aggregates — each base table is
        // scanned once per profiled column and the edge verdicts read
        // only the tiny checkpointed (k, cnt) tables (zero file scans
        // in the final job; plan-gated below). Two prior shapes were
        // A/B-rejected: serial per-profile checkpoints (jobs back to
        // back) and a fused lazy plan with AQE stage reuse (scans
        // shared but stages serialized inside one job — r7's wall-time
        // regression).
        val profiles = keyCountsAll(Seq(
          li -> col("l_orderkey"), li -> col("l_partkey"),
          o -> col("o_orderkey"), o -> col("o_custkey"),
          c -> col("c_custkey"), c -> col("c_nationkey"),
          n -> col("n_nationkey"), su -> col("s_nationkey"),
          p -> col("p_partkey")))
        val Seq(liOrder, liPart, oOrder, oCust, cCust, cNation,
          nNation, sNation, pPart) = profiles: @unchecked
        // all 7 edge verdicts in ONE tagged join + three grouped
        // aggregates (fkScoreSharedAll) instead of a semi join + three
        // crossJoin scalar aggregates per edge — same rows, ~4 stages
        // instead of ~28 subplans in the final job
        fkScoreSharedAll(Seq(
          ("li.orderkey->o", liOrder, oOrder),
          ("li.partkey->p", liPart, pPart),
          ("o.custkey->c", oCust, cCust),
          ("c.nationkey->n", cNation, nNation),
          ("s.nationkey->n", sNation, nNation),
          ("o.orderkey->c", oOrder, cCust),
          ("n.nationkey->c", nNation, cCust)
        )).orderBy("pair")
      },
      Some(Seq(
        graft.operators.Advisor.fkScoreSql("li.orderkey->o", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        graft.operators.Advisor.fkScoreSql("li.partkey->p", "lineitem", "l_partkey", "part", "p_partkey"),
        graft.operators.Advisor.fkScoreSql("o.custkey->c", "orders", "o_custkey", "customer", "c_custkey"),
        graft.operators.Advisor.fkScoreSql("c.nationkey->n", "customer", "c_nationkey", "nation", "n_nationkey"),
        graft.operators.Advisor.fkScoreSql("s.nationkey->n", "supplier", "s_nationkey", "nation", "n_nationkey"),
        graft.operators.Advisor.fkScoreSql("o.orderkey->c", "orders", "o_orderkey", "customer", "c_custkey"),
        graft.operators.Advisor.fkScoreSql("n.nationkey->c", "nation", "n_nationkey", "customer", "c_custkey")
      ).map(q => s"($q)").mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY pair")))
  ) ++ defs2

  /** Batch 2 of the closing pass — regression, layout forecasting,
    * feature-store snapshot, boilerplate accounting. (`def`, not `val`:
    * referenced from `defs`'s initializer above, so a val would still
    * be null during object init.) */
  private def defs2: Seq[(String, Q)] = Seq(

    // ---- multivariate OLS via normal equations --------------------------------
    // Closed-form least squares price ~ quantity + discount per return
    // flag — the regression every feature pipeline fits without a
    // solver: nine BIGINT power sums (map-side combinable; at 100 TB
    // the only full-data pass) then Cramer's rule on the 3x3 normal
    // matrix as ONE fixed IEEE tree per group. Integer encodings make
    // the sums exact (price in cents, discount in percent points,
    // integral quantity); the double products/divisions afterward are
    // correctly-rounded IEEE ops both engines execute identically.
    // Magnitudes: max |sum| ~ 1e14 at sf0.1 (documented headroom to
    // int64 9.2e18; a 1000x deployment moves the sums to DECIMAL(38,0)).
    "q238_ols_normal_eq" -> Q(
      (s, dir) => {
        val sums = t(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_quantity").cast("long").as("x1"),
            (Det.rate(col("l_discount")) * 100).cast("long").as("x2"),
            (Det.money(col("l_extendedprice")) * 100).cast("long").as("y"))
          .groupBy("flag").agg(
            count(lit(1)).as("n"),
            sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
            sum(col("y")).as("sy"),
            sum(col("x1") * col("x1")).as("sx11"),
            sum(col("x1") * col("x2")).as("sx12"),
            sum(col("x2") * col("x2")).as("sx22"),
            sum(col("x1") * col("y")).as("sx1y"),
            sum(col("x2") * col("y")).as("sx2y"))
        def d(c: String) = col(c).cast("double")
        val det = d("n") * (d("sx11") * d("sx22") - d("sx12") * d("sx12")) -
          d("sx1") * (d("sx1") * d("sx22") - d("sx12") * d("sx2")) +
          d("sx2") * (d("sx1") * d("sx12") - d("sx11") * d("sx2"))
        val det0 = d("sy") * (d("sx11") * d("sx22") - d("sx12") * d("sx12")) -
          d("sx1") * (d("sx1y") * d("sx22") - d("sx12") * d("sx2y")) +
          d("sx2") * (d("sx1y") * d("sx12") - d("sx11") * d("sx2y"))
        val det1 = d("n") * (d("sx1y") * d("sx22") - d("sx12") * d("sx2y")) -
          d("sy") * (d("sx1") * d("sx22") - d("sx12") * d("sx2")) +
          d("sx2") * (d("sx1") * d("sx2y") - d("sx1y") * d("sx2"))
        val det2 = d("n") * (d("sx11") * d("sx2y") - d("sx1y") * d("sx12")) -
          d("sx1") * (d("sx1") * d("sx2y") - d("sx1y") * d("sx2")) +
          d("sy") * (d("sx1") * d("sx12") - d("sx11") * d("sx2"))
        sums.select(col("flag"), col("n"),
            (det0 / det).as("intercept_cents"),
            (det1 / det).as("qty_coef_cents"),
            (det2 / det).as("disc_coef_cents"))
          .orderBy("flag")
      },
      Some(s"""WITH enc AS (SELECT l_returnflag AS flag,
            CAST(l_quantity AS BIGINT) AS x1,
            CAST(${Det.sqlRate("l_discount")} * 100 AS BIGINT) AS x2,
            CAST(${Det.sqlMoney("l_extendedprice")} * 100 AS BIGINT) AS y
          FROM lineitem),
        s AS (SELECT flag, COUNT(*) AS n,
            CAST(SUM(x1) AS DOUBLE) AS sx1, CAST(SUM(x2) AS DOUBLE) AS sx2,
            CAST(SUM(y) AS DOUBLE) AS sy,
            CAST(SUM(x1 * x1) AS DOUBLE) AS sx11,
            CAST(SUM(x1 * x2) AS DOUBLE) AS sx12,
            CAST(SUM(x2 * x2) AS DOUBLE) AS sx22,
            CAST(SUM(x1 * y) AS DOUBLE) AS sx1y,
            CAST(SUM(x2 * y) AS DOUBLE) AS sx2y
          FROM enc GROUP BY 1)
        SELECT flag, n,
          (sy * (sx11 * sx22 - sx12 * sx12) -
           sx1 * (sx1y * sx22 - sx12 * sx2y) +
           sx2 * (sx1y * sx12 - sx11 * sx2y)) /
          (CAST(n AS DOUBLE) * (sx11 * sx22 - sx12 * sx12) -
           sx1 * (sx1 * sx22 - sx12 * sx2) +
           sx2 * (sx1 * sx12 - sx11 * sx2)) AS intercept_cents,
          (CAST(n AS DOUBLE) * (sx1y * sx22 - sx12 * sx2y) -
           sy * (sx1 * sx22 - sx12 * sx2) +
           sx2 * (sx1 * sx2y - sx1y * sx2)) /
          (CAST(n AS DOUBLE) * (sx11 * sx22 - sx12 * sx12) -
           sx1 * (sx1 * sx22 - sx12 * sx2) +
           sx2 * (sx1 * sx12 - sx11 * sx2)) AS qty_coef_cents,
          (CAST(n AS DOUBLE) * (sx11 * sx2y - sx1y * sx12) -
           sx1 * (sx1 * sx2y - sx1y * sx2) +
           sy * (sx1 * sx12 - sx11 * sx2)) /
          (CAST(n AS DOUBLE) * (sx11 * sx22 - sx12 * sx12) -
           sx1 * (sx1 * sx22 - sx12 * sx2) +
           sx2 * (sx1 * sx12 - sx11 * sx2)) AS disc_coef_cents
        FROM s ORDER BY flag""")),

    // ---- zone-map pruning forecast --------------------------------------------
    // What a [lo, hi] predicate SAVES on a given physical clustering,
    // from zone min/max stats alone (Advisor.zonePrune — the Parquet
    // row-group / Iceberg manifest skipping contract). Zones are 4096-
    // orderkey chunks, i.e. ingest order: pruning is near-total for
    // predicates on the clustered key and near-zero for the
    // uncorrelated shipdate — the measured argument for q110/q143's
    // z-order layouts. The fact is touched once (one map-side
    // aggregate); classification runs over |zones| rows.
    "q239_zonemap_prune" -> Q(
      (s, dir) => {
        import graft.operators.Advisor.zonePrune
        val li = t(s, dir, "lineitem")
        val zone = expr("l_orderkey div 4096")
        Seq(
          zonePrune("orderkey_narrow", li, zone, col("l_orderkey"),
            lit(1000L), lit(5000L)),
          zonePrune("orderkey_all", li, zone, col("l_orderkey"),
            lit(0L), lit(1000000000L)),
          zonePrune("shipdate_month", li, zone, col("l_shipdate"),
            to_timestamp(lit("1995-06-01 00:00:00")),
            to_timestamp(lit("1995-06-30 23:59:59"))),
          zonePrune("shipdate_year", li, zone, col("l_shipdate"),
            to_timestamp(lit("1995-01-01 00:00:00")),
            to_timestamp(lit("1995-12-31 23:59:59")))
        ).reduce(_ unionAll _).orderBy("band")
      },
      Some(Seq(
        Advisor.zonePruneSql("orderkey_narrow", "lineitem",
          "l_orderkey // 4096", "l_orderkey", "1000", "5000"),
        Advisor.zonePruneSql("orderkey_all", "lineitem",
          "l_orderkey // 4096", "l_orderkey", "0", "1000000000"),
        Advisor.zonePruneSql("shipdate_month", "lineitem",
          "l_orderkey // 4096", "l_shipdate",
          "TIMESTAMP '1995-06-01 00:00:00'", "TIMESTAMP '1995-06-30 23:59:59'"),
        Advisor.zonePruneSql("shipdate_year", "lineitem",
          "l_orderkey // 4096", "l_shipdate",
          "TIMESTAMP '1995-01-01 00:00:00'", "TIMESTAMP '1995-12-31 23:59:59'")
      ).map(q => s"($q)").mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY band"))),

    // ---- feature-store latest snapshot ----------------------------------------
    // The online-store materialization: one row per user, one column
    // per event type holding the LATEST observed value (ts desc,
    // event_id desc tiebreak — total order, so the pick is
    // deterministic). q97 keeps the single latest event; this keeps
    // the latest PER FEATURE and pivots to the wide training row via
    // conditional aggregation over the fixed type domain (never a
    // dynamic pivot's extra pass). Values are carried, not computed —
    // bit-exact by construction. Output is |users| rows: bounded by
    // the entity domain, not event volume.
    "q240_feature_snapshot" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        val latest = t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val types = Seq("click", "error", "purchase", "signup", "view")
        latest.groupBy("user_id")
          .agg(max(when(col("event_type") === types.head, col("value")))
              .as(s"latest_${types.head}"),
            types.tail.map(tp =>
              max(when(col("event_type") === tp, col("value"))).as(s"latest_$tp")): _*)
          .orderBy("user_id")
      },
      Some("""WITH r AS (SELECT user_id, event_type, value,
            ROW_NUMBER() OVER (PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        SELECT user_id,
          MAX(CASE WHEN event_type = 'click' THEN value END) AS latest_click,
          MAX(CASE WHEN event_type = 'error' THEN value END) AS latest_error,
          MAX(CASE WHEN event_type = 'purchase' THEN value END) AS latest_purchase,
          MAX(CASE WHEN event_type = 'signup' THEN value END) AS latest_signup,
          MAX(CASE WHEN event_type = 'view' THEN value END) AS latest_view
        FROM r WHERE rn = 1 GROUP BY user_id ORDER BY user_id""")),

    // ---- boilerplate n-gram accounting ----------------------------------------
    // The C4/RefinedWeb template-removal pass re-expressed over word
    // trigrams: within each source, a trigram repeated across >= 2
    // documents is template text; the per-source report counts the
    // boilerplate vocabulary and the exact token positions it covers
    // (overlapping occurrences union'd via DISTINCT (doc, pos), never
    // double-counted). Scale: gram traffic is |positions| rows of
    // small strings; the covered-position explode is 3x the MATCHED
    // occurrences only. One division for the fraction.
    "q241_boilerplate_grams" -> Q(
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            graft.functions.TextAnalysis.tokens(col("text")).as("toks"))
        // pinned (graft.Pin): the positional gram table feeds boiler,
        // covered and gstats, and boiler feeds two; unpinned, the tokenize
        // + posexplode pass ran three times. |positions| rows of small strings.
        val grams = graft.Pin(toks.filter(size(col("toks")) >= 3)
          .select(col("doc_id"), col("source"),
            posexplode(expr(
              "transform(sequence(1, size(toks) - 2), " +
                "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")))
          .withColumnRenamed("col", "gram")).df
        val boiler = graft.Pin(grams.groupBy("source", "gram")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 2)).df
        val covered = grams.join(boiler.select("source", "gram"), Seq("source", "gram"))
          .select(col("source"), col("doc_id"),
            explode(sequence(col("pos"), col("pos") + 2)).as("j"))
          .distinct()
          .groupBy("source").agg(count(lit(1)).as("covered_tokens"))
        val tot = toks.groupBy("source").agg(
          count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("total_tokens"))
        val gstats = grams.groupBy("source")
          .agg(countDistinct(col("gram")).as("n_grams"))
        val bstats = boiler.groupBy("source")
          .agg(count(lit(1)).as("n_boiler_grams"))
        tot.join(gstats, Seq("source"), "left_outer")
          .join(bstats, Seq("source"), "left_outer")
          .join(covered, Seq("source"), "left_outer")
          .select(col("source"), col("n_docs"), col("total_tokens"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_boiler_grams"), lit(0L)).as("n_boiler_grams"),
            coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
            (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
              col("total_tokens").cast("double")).as("boiler_frac"))
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT doc_id, source,
            regexp_extract_all(text, '\w+') AS toks FROM documents),
        g AS (SELECT doc_id, source,
            unnest([{'pos': i - 1,
                     'gram': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]}
                    for i in range(1, len(toks) - 1)]) AS u
          FROM w WHERE len(toks) >= 3),
        gg AS (SELECT doc_id, source, u.pos AS pos, u.gram AS gram FROM g),
        b AS (SELECT source, gram FROM gg GROUP BY 1, 2
              HAVING COUNT(DISTINCT doc_id) >= 2),
        cov AS (SELECT source, COUNT(*) AS covered_tokens FROM
                 (SELECT DISTINCT gg.source, gg.doc_id, gg.pos + k.k AS j
                  FROM gg JOIN b USING (source, gram)
                  CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k)
                GROUP BY 1),
        tot AS (SELECT source, COUNT(*) AS n_docs, SUM(len(toks)) AS total_tokens
                FROM w GROUP BY 1),
        gs AS (SELECT source, COUNT(DISTINCT gram) AS n_grams FROM gg GROUP BY 1),
        bs AS (SELECT source, COUNT(*) AS n_boiler_grams FROM b GROUP BY 1)
        SELECT source, n_docs, CAST(total_tokens AS BIGINT) AS total_tokens,
          COALESCE(n_grams, 0) AS n_grams,
          COALESCE(n_boiler_grams, 0) AS n_boiler_grams,
          COALESCE(covered_tokens, 0) AS covered_tokens,
          CAST(COALESCE(covered_tokens, 0) AS DOUBLE)
            / CAST(total_tokens AS DOUBLE) AS boiler_frac
        FROM tot LEFT JOIN gs USING (source) LEFT JOIN bs USING (source)
          LEFT JOIN cov USING (source)
        ORDER BY source""")),

    // ---- SCD2 fold of a change stream -----------------------------------------
    // catalog.Scd2 on the oracle surface: treat each user's event
    // stream as attribute changes (attr = event_type), fold to type-2
    // intervals — no-op suppression collapses re-delivered values,
    // valid_to comes from the next surviving change, last version
    // stays open. One deterministic change per (user, ts) (smallest
    // event_id) satisfies the operator's unique-(key, ts) contract.
    // DuckDB replays the identical lag-filter + lead pipeline, so the
    // operator's WHOLE semantics hash-gate, not just its spec cases.
    // ---- STL-lite seasonal decomposition ---------------------------------
    // trend/seasonal/residual over the daily click series, kept EXACT by
    // working in 7ths: trend×7 = the centered 7-day window sum (integer),
    // detrended×7 = 7y − sum7 (integer), seasonal×7 = per-day-of-week
    // mean of detrended×7 (one division), residual×7 = detrended×7 −
    // seasonal×7 (one subtraction of deterministic doubles). The only
    // float steps are one division per dow cell and one subtraction per
    // day — no float accumulation anywhere. Windows ride the bounded
    // day spine; dow is the portable integer (epoch_day + 4) mod 7.
    "q276_stl_lite" -> Q(
      (s, dir) => {
        val daily = dailySpine(s, dir).filter(col("event_type") === "click")
        val w7 = Window.orderBy("x").rowsBetween(-3, 3)
        val wn = Window.orderBy("x").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val t7 = daily
          .withColumn("k", count(lit(1)).over(w7))
          .withColumn("sum7", sum(col("y")).over(w7))
          .filter(col("k") === 7L) // edges lack a full window
          .withColumn("det7", col("y") * 7L - col("sum7"))
          .withColumn("dow", pmod(col("x") + 4L, lit(7L)))
        val seas = t7.groupBy("dow")
          .agg(sum(col("det7")).as("sd"), count(lit(1)).as("nd"))
          .withColumn("seasonal7",
            col("sd").cast("double") / col("nd").cast("double"))
          .select("dow", "seasonal7")
        t7.join(broadcast(seas), Seq("dow"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("y"), (col("sum7").cast("double") / 7d).as("trend"),
            col("det7"), col("seasonal7"),
            (col("det7").cast("double") - col("seasonal7")).as("residual7"))
          .orderBy("day")
      },
      Some(s"""WITH $spineSql,
        d AS (SELECT day, x, y FROM sp WHERE event_type = 'click'),
        t AS (SELECT day, x, y,
            COUNT(*) OVER w AS k, SUM(y) OVER w AS sum7
          FROM d WINDOW w AS (ORDER BY x ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        f AS (SELECT day, x, y, sum7, y * 7 - sum7 AS det7,
            (x + 4) % 7 AS dow FROM t WHERE k = 7),
        seas AS (SELECT dow,
            CAST(SUM(det7) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS seasonal7
          FROM f GROUP BY dow)
        SELECT STRFTIME(f.day, '%Y-%m-%d') AS day, f.y,
          CAST(f.sum7 AS DOUBLE) / 7 AS trend,
          CAST(f.det7 AS BIGINT) AS det7, seas.seasonal7,
          CAST(f.det7 AS DOUBLE) - seas.seasonal7 AS residual7
        FROM f JOIN seas ON f.dow = seas.dow ORDER BY day""")),

    // ---- overdispersion check (Poisson dispersion index) -----------------
    // Are daily counts Poisson-like or bursty? Dispersion index = sample
    // variance / mean per event type over the gap-filled day spine — two
    // exact integer sums, a fixed IEEE tree, and the OVERDISPERSED
    // verdict as an exact integer cross-multiplication
    // (n·Σy² − (Σy)² > (n−1)·Σy ⟺ s² > ȳ), no float threshold.
    "q277_dispersion" -> Q(
      (s, dir) => {
        dailySpine(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("event_type"), col("n"), col("sy"), col("syy"),
            ((col("n") * col("syy") - col("sy") * col("sy")).cast("double")
              / (col("n") * (col("n") - 1L)).cast("double")).as("variance"),
            (col("sy").cast("double") / col("n").cast("double")).as("mean"),
            ((col("n") * col("syy") - col("sy") * col("sy")).cast("double")
              / ((col("n") - 1L) * col("sy")).cast("double")).as("dispersion"),
            (col("n") * col("syy") - col("sy") * col("sy")
              > (col("n") - 1L) * col("sy")).as("overdispersed"))
          .orderBy("event_type")
      },
      Some(s"""WITH $spineSql,
        a AS (SELECT event_type, COUNT(*) AS n, SUM(y) AS sy,
            SUM(y * y) AS syy FROM sp GROUP BY event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n, CAST(sy AS BIGINT) AS sy,
          CAST(syy AS BIGINT) AS syy,
          CAST(n * syy - sy * sy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
            AS variance,
          CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          CAST(n * syy - sy * sy AS DOUBLE) / CAST((n - 1) * sy AS DOUBLE)
            AS dispersion,
          n * syy - sy * sy > (n - 1) * sy AS overdispersed
        FROM a ORDER BY event_type""")),

    // ---- DAU/WAU/MAU stickiness -----------------------------------------
    // The product-analytics headline: distinct actives on the anchor day
    // (stream max), in its trailing 7 and 28 days, and the stickiness
    // ratios DAU/WAU, DAU/MAU. One (user, day) dedup reduction, three
    // conditional distinct counts against the broadcast anchor, two
    // single divisions. Exact at any scale — the windows are fixed
    // trailing spans, not sliding per-day (q225 handles that shape).
    "q279_stickiness" -> Q(
      (s, dir) => {
        val ud = t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val anchor = ud.agg(max(col("day")).as("anchor"))
        ud.crossJoin(broadcast(anchor))
          .agg(
            countDistinct(when(col("day") === col("anchor"), col("user_id")))
              .as("dau"),
            countDistinct(when(datediff(col("anchor"), col("day")) < 7,
              col("user_id"))).as("wau"),
            countDistinct(when(datediff(col("anchor"), col("day")) < 28,
              col("user_id"))).as("mau"))
          .select(col("dau"), col("wau"), col("mau"),
            (col("dau").cast("double") / col("wau").cast("double")).as("dau_wau"),
            (col("dau").cast("double") / col("mau").cast("double")).as("dau_mau"))
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
        a AS (SELECT MAX(day) AS anchor FROM ud)
        SELECT
          CAST(COUNT(DISTINCT CASE WHEN day = anchor THEN user_id END) AS BIGINT)
            AS dau,
          CAST(COUNT(DISTINCT CASE WHEN DATEDIFF('day', day, anchor) < 7
            THEN user_id END) AS BIGINT) AS wau,
          CAST(COUNT(DISTINCT CASE WHEN DATEDIFF('day', day, anchor) < 28
            THEN user_id END) AS BIGINT) AS mau,
          CAST(COUNT(DISTINCT CASE WHEN day = anchor THEN user_id END) AS DOUBLE)
            / CAST(COUNT(DISTINCT CASE WHEN DATEDIFF('day', day, anchor) < 7
              THEN user_id END) AS DOUBLE) AS dau_wau,
          CAST(COUNT(DISTINCT CASE WHEN day = anchor THEN user_id END) AS DOUBLE)
            / CAST(COUNT(DISTINCT CASE WHEN DATEDIFF('day', day, anchor) < 28
              THEN user_id END) AS DOUBLE) AS dau_mau
        FROM ud CROSS JOIN a""")),

    // ---- new vs returning actives per day --------------------------------
    // The acquisition-vs-retention daily split: each user's FIRST day
    // (one keyed aggregate — the q196 first-seen trick) classifies every
    // active (user, day) as new or returning; per day: actives, new,
    // returning, returning share. Linear — no expanding windows, no
    // per-day distinct over history.
    "q280_new_vs_returning" -> Q(
      (s, dir) => {
        val ud = t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val first = ud.groupBy("user_id").agg(min(col("day")).as("first_day"))
        ud.join(first, Seq("user_id"))
          .groupBy("day")
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
              .as("n_new"))
          .withColumn("n_returning", col("n_active") - col("n_new"))
          .withColumn("returning_share",
            col("n_returning").cast("double") / col("n_active").cast("double"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n_active"), col("n_new"), col("n_returning"),
            col("returning_share"))
          .orderBy("day")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM events),
        f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id)
        SELECT STRFTIME(ud.day, '%Y-%m-%d') AS day,
          COUNT(*) AS n_active,
          CAST(SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
            AS n_new,
          CAST(COUNT(*) - SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS n_returning,
          CAST(COUNT(*) - SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS returning_share
        FROM ud JOIN f ON ud.user_id = f.user_id
        GROUP BY ud.day ORDER BY day""")),

    // ---- maximum drawdown ------------------------------------------------
    // The risk metric over the daily purchase-revenue series: drawdown_t
    // = running-peak − value_t (exact cents), and the maximum drawdown
    // with its EARLIEST day (exact integer argmax tie-break). Two
    // windows over the calendar-bounded day spine; revenue is the exact
    // cents sum per day, so every drawdown is a BIGINT.
    "q281_max_drawdown" -> Q(
      (s, dir) => {
        val daily = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum((Det.money(col("value")) * 100).cast("long")).as("cents"))
        val wRun = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val dd = daily
          .withColumn("peak", max(col("cents")).over(wRun))
          .withColumn("drawdown", col("peak") - col("cents"))
        val worst = dd.orderBy(col("drawdown").desc, col("day")).limit(1)
          .select(date_format(col("day"), "yyyy-MM-dd").as("worst_day"),
            col("drawdown").as("max_drawdown"))
        dd.agg(count(lit(1)).as("n_days"),
            max(col("peak")).as("peak_cents"),
            sum(col("drawdown")).as("total_drawdown_cents"))
          .crossJoin(broadcast(worst))
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
            CAST(SUM(${Det.sqlMoney("value")} * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        dd AS (SELECT day, cents,
            MAX(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS peak
          FROM daily),
        d2 AS (SELECT day, peak, peak - cents AS drawdown FROM dd),
        worst AS (SELECT STRFTIME(day, '%Y-%m-%d') AS worst_day,
            drawdown AS max_drawdown
          FROM d2 ORDER BY drawdown DESC, day LIMIT 1)
        SELECT COUNT(*) AS n_days, CAST(MAX(peak) AS BIGINT) AS peak_cents,
          CAST(SUM(drawdown) AS BIGINT) AS total_drawdown_cents,
          worst_day, CAST(max_drawdown AS BIGINT) AS max_drawdown
        FROM d2 CROSS JOIN worst
        GROUP BY worst_day, max_drawdown""")),

    // ---- floor-at-zero running balance -----------------------------------
    // The inventory/credit recurrence s_t = max(0, s_{t-1} + δ_t) looks
    // sequential, but has the closed form s_t = P_t − min(0, min_{j≤t}
    // P_j) over prefix sums P — two running windows replace the
    // row-at-a-time scan (the drained mass min(0, ·) is exactly what the
    // floor absorbed). Deltas: purchases add cents, errors drain a fixed
    // 500-cent penalty; all BIGINT, windows over the day spine.
    "q282_capped_balance" -> Q(
      (s, dir) => {
        val daily = t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "error"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase",
            (Det.money(col("value")) * 100).cast("long"))
            .otherwise(lit(-500L))).as("delta"))
        val wRun = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("prefix", sum(col("delta")).over(wRun))
          .withColumn("floor_drain",
            least(min(col("prefix")).over(wRun), lit(0L)))
          .withColumn("balance", col("prefix") - col("floor_drain"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("delta"), col("prefix"), col("balance"))
          .orderBy("day")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
            CAST(SUM(CASE WHEN event_type = 'purchase'
              THEN ${Det.sqlMoney("value")} * 100 ELSE -500 END) AS BIGINT) AS delta
          FROM events WHERE event_type IN ('purchase', 'error') GROUP BY 1),
        p AS (SELECT day, delta,
            SUM(delta) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS prefix
          FROM daily)
        SELECT STRFTIME(day, '%Y-%m-%d') AS day, delta,
          CAST(prefix AS BIGINT) AS prefix,
          CAST(prefix - LEAST(MIN(prefix) OVER (ORDER BY day ROWS BETWEEN
            UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS balance
        FROM p ORDER BY day""")),

    // ---- absorbing-Markov conversion probability -------------------------
    // Beyond q154's raw transition rates: the probability of REACHING
    // 'purchase' within 4 steps from each state, under the empirical
    // chain with purchase absorbing — the funnel question transition
    // counts alone don't answer. Exact-integer fixed point in micro-units
    // (the q118/q248 pattern): reach_i(s) = unit for the absorbing
    // state, else (Σ_t n_st·reach_{i-1}(t)) div n_s — positive-operand
    // floor division, zero for dead-end states. The transition matrix is
    // |types|² (one lag pass, map-combinable), so the iterations run
    // driver-side over kilobytes; the DuckDB chain is GENERATED from the
    // same constants.
    "q284_absorption" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = t(s, dir, "events")
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
          .agg(count(lit(1)).as("n"))
        val cells = tr.collect().map(r =>
          (r.getString(0), r.getString(1), r.getLong(2)))
        val states = (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted
        val outTot = cells.groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._3).sum }
        val bySrc = cells.groupBy(_._1).withDefaultValue(Array.empty)
        val unit = 1000000L
        var reach = states.map(st =>
          st -> (if (st == "purchase") unit else 0L)).toMap
        for (_ <- 1 to 4) {
          reach = states.map { st =>
            st -> (if (st == "purchase") unit
            else outTot.get(st) match {
              case Some(ns) =>
                bySrc(st).map { case (_, d, n) => n * reach(d) }.sum / ns
              case None => 0L
            })
          }.toMap
        }
        val spark = s
        import spark.implicits._
        states.map(st => (st, outTot.getOrElse(st, 0L), reach(st))).toSeq
          .toDF("state", "n_out", "reach_units").orderBy("state")
      },
      Some {
        val pre =
          """WITH tr AS (SELECT src, dst, COUNT(*) AS n FROM (
               SELECT event_type AS src,
                 LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS dst
               FROM events) WHERE dst IS NOT NULL GROUP BY src, dst),
             tot AS (SELECT src, SUM(n) AS n_s FROM tr GROUP BY src),
             st AS (SELECT DISTINCT src AS state FROM tr
                    UNION SELECT DISTINCT dst FROM tr),
             r0 AS (SELECT state,
                 CAST(CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END
                   AS BIGINT) AS reach FROM st)"""
        val rounds = (1 to 4).map { i =>
          s"""r$i AS (SELECT st.state,
               CAST(CASE WHEN st.state = 'purchase' THEN 1000000
                 WHEN t.n_s IS NULL THEN 0
                 ELSE COALESCE(c.s, 0) // t.n_s END AS BIGINT) AS reach
             FROM st LEFT JOIN tot t ON t.src = st.state
             LEFT JOIN (SELECT tr.src, SUM(tr.n * r.reach) AS s
               FROM tr JOIN r${i - 1} r ON r.state = tr.dst
               GROUP BY tr.src) c ON c.src = st.state)"""
        }.mkString(",\n", ",\n", "")
        s"""$pre$rounds
           SELECT st.state, CAST(COALESCE(t.n_s, 0) AS BIGINT) AS n_out,
             r.reach AS reach_units
           FROM st LEFT JOIN tot t ON t.src = st.state
           JOIN r4 r ON r.state = st.state
           ORDER BY st.state"""
      }),

    // ---- adstock-response regression -------------------------------------
    // The marketing-mix seed: does (geometrically decayed) click pressure
    // predict purchases? Adstock with λ=1/2 over 16 lags is the q195
    // dyadic construct — an EXACT INTEGER x (Σ lag_j·2^(15−j)) — so the
    // regression of daily purchases on adstocked clicks runs entirely on
    // BIGINT power sums (Σx ≤ 2^16·Σclicks stays far under 2^63) with
    // the q192 one-tree slope/intercept/r² ending. Two series from one
    // day-spine reduction; no float accumulates anywhere.
    "q287_adstock_regression" -> Q(
      (s, dir) => {
        val sp = dailySpine(s, dir)
        val two = sp.groupBy("day").agg(
          sum(when(col("event_type") === "click", col("y")).otherwise(0L)).as("clk"),
          sum(when(col("event_type") === "purchase", col("y")).otherwise(0L)).as("pur"))
        val w = Window.orderBy("day")
        val adstock = (0 until 16).map { j =>
          coalesce(lag(col("clk"), j).over(w), lit(0L)) * lit(1L << (15 - j))
        }.reduce(_ + _)
        val series = two
          .withColumn("k", row_number().over(w))
          .withColumn("adraw", adstock)
          // rescale by 2^6 (floor): keeps the n·Σx² power sum orders of
          // magnitude under 2^63 at any realistic daily volume while
          // preserving 10 bits of decay precision
          .withColumn("x", expr("adraw div 64"))
          .filter(col("k") >= 16)
          .select(lit("adstock_purchases").as("g"), col("x"), col("pur").as("y"))
        trendStats(series, "g")
      },
      Some {
        val terms = (0 until 16).map { j =>
          s"COALESCE(LAG(clk, $j) OVER (ORDER BY day), 0) * ${1L << (15 - j)}"
        }.mkString(" + ")
        s"""WITH $spineSql,
          two AS (SELECT day,
              SUM(CASE WHEN event_type = 'click' THEN y ELSE 0 END) AS clk,
              SUM(CASE WHEN event_type = 'purchase' THEN y ELSE 0 END) AS pur
            FROM sp GROUP BY day),
          ad AS (SELECT day, pur,
              ROW_NUMBER() OVER (ORDER BY day) AS k,
              ($terms) // 64 AS x
            FROM two),
          f AS (SELECT 'adstock_purchases' AS g, x, pur AS y FROM ad WHERE k >= 16),
          s AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
              SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM f GROUP BY g)
          SELECT g, CAST(n AS BIGINT) AS n,
            CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
            (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
              / CAST(n AS DOUBLE) AS intercept,
            CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
              / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
          FROM s"""
      }),

    // ---- ntile quartile census (the last uncovered window function) ------
    // Equal-count bucket assignment per nation: ntile(4) over the
    // deterministic (balance, custkey) total order — ANSI semantics
    // (earlier buckets absorb remainders) identical in both engines —
    // censused to (nation, quartile) row counts and exact balance
    // extremes (min/max copy elements, no arithmetic). Windows are
    // nation-partitioned; the census is one bounded-domain groupBy.
    "q288_ntile_quartiles" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, dir, "customer")
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .groupBy("c_nationkey", "quartile")
          .agg(count(lit(1)).as("n"),
            min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
          .orderBy("c_nationkey", "quartile")
      },
      Some("""SELECT c_nationkey, CAST(quartile AS BIGINT) AS quartile,
          COUNT(*) AS n, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
        FROM (SELECT c_nationkey, c_acctbal,
            NTILE(4) OVER (PARTITION BY c_nationkey
              ORDER BY c_acctbal, c_custkey) AS quartile
          FROM customer)
        GROUP BY c_nationkey, quartile ORDER BY c_nationkey, quartile""")),

    // ---- trend + seasonal 7-day forecast ---------------------------------
    // The forecast q233's seasonal-naive baseline exists to be beaten:
    // OLS trend over the daily click series (exact BIGINT power sums,
    // q192's tree) plus a day-of-week deviation (per-dow mean minus
    // overall mean — exact sums, fixed tree), extrapolated 7 days past
    // the stream's end. Every ŷ is one deterministic IEEE expression
    // over exact operands; the horizon spine is GENERATED (7 rows).
    "q291_forecast_7d" -> Q(
      (s, dir) => {
        val d = dailySpine(s, dir).filter(col("event_type") === "click")
        val stats = d.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          max(col("x")).as("xmax"))
        val dow = d.withColumn("dw", pmod(col("x") + 4L, lit(7L)))
          .groupBy("dw").agg(sum(col("y")).as("sdw"), count(lit(1)).as("ndw"))
        val horizon = stats.select(explode(sequence(lit(1L), lit(7L))).as("h"),
            col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("xmax"))
          .withColumn("x", col("xmax") + col("h"))
          .withColumn("dw", pmod(col("x") + 4L, lit(7L)))
        val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        val dx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        // Det.nz: a degenerate spine (single day -> dx=0) must yield NULL
        // like DuckDB's /0, not Spark's Inf
        val slope = num / Det.nz(dx)
        horizon.join(broadcast(dow), Seq("dw"))
          .select(col("h"), col("x"), col("dw"),
            (slope * col("x").cast("double")
              + (col("sy").cast("double") - slope * col("sx").cast("double"))
                / Det.nz(col("n").cast("double"))
              + (col("sdw").cast("double") / Det.nz(col("ndw").cast("double"))
                - col("sy").cast("double") / Det.nz(col("n").cast("double"))))
              .as("yhat"))
          .orderBy("h")
      },
      Some(s"""WITH $spineSql,
        d AS (SELECT x, y FROM sp WHERE event_type = 'click'),
        st AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * y) AS sxy, SUM(x * x) AS sxx, MAX(x) AS xmax FROM d),
        dw AS (SELECT (x + 4) % 7 AS dw, SUM(y) AS sdw, COUNT(*) AS ndw
          FROM d GROUP BY 1),
        hz AS (SELECT h, xmax + h AS x, (xmax + h + 4) % 7 AS dw,
            n, sx, sy, sxy, sxx
          FROM st CROSS JOIN (SELECT UNNEST(range(1, 8)) AS h))
        SELECT CAST(hz.h AS BIGINT) AS h, CAST(hz.x AS BIGINT) AS x,
          CAST(hz.dw AS BIGINT) AS dw,
          (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
            * CAST(hz.x AS DOUBLE)
          + (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE)
          + (CAST(sdw AS DOUBLE) / CAST(ndw AS DOUBLE)
            - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS yhat
        FROM hz JOIN dw ON hz.dw = dw.dw ORDER BY h""")),

    // ---- forecast model backtest (model vs naive) ------------------------
    // Does q291's trend+seasonal model actually beat q233's
    // seasonal-naive on held-out data? Train on all but the final 7
    // observed days, score both on those 7: the naive residuals
    // |y_{t−7} − y_t| are exact integers; the model residuals fold a
    // sorted 7-element list (the q208 discipline). One row: both MAEs
    // and the verdict — the honest model-selection gate, hash-matched.
    "q292_forecast_backtest2" -> Q(
      (s, dir) => {
        val d = dailySpine(s, dir).filter(col("event_type") === "click")
        val cut = d.agg((max(col("x")) - 7L).as("xcut"))
        val dc = d.crossJoin(broadcast(cut))
        val train = dc.filter(col("x") <= col("xcut"))
        val stats = train.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        val dow = train.withColumn("dw", pmod(col("x") + 4L, lit(7L)))
          .groupBy("dw").agg(sum(col("y")).as("sdw"), count(lit(1)).as("ndw"))
        val lagW = Window.orderBy("x")
        val test = dc
          .withColumn("ylag7", lag(col("y"), 7).over(lagW))
          .filter(col("x") > col("xcut"))
          .withColumn("dw", pmod(col("x") + 4L, lit(7L)))
          .join(broadcast(dow), Seq("dw"))
          .crossJoin(broadcast(stats))
        val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        val dx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        val slope = num / Det.nz(dx) // constant/degenerate train set -> NULL
        val yhat = slope * col("x").cast("double") +
          ((col("sy").cast("double") - slope * col("sx").cast("double")) /
            Det.nz(col("n").cast("double"))) +
          (col("sdw").cast("double") / Det.nz(col("ndw").cast("double")) -
            col("sy").cast("double") / Det.nz(col("n").cast("double")))
        val scored = test.select(col("x"),
          abs(col("ylag7") - col("y")).as("naive_err"),
          abs(yhat - col("y").cast("double")).as("model_err"))
        scored.agg(count(lit(1)).as("n_test"),
            sum(col("naive_err")).as("naive_abs_sum"),
            expr("aggregate(sort_array(collect_list(struct(x, model_err)))," +
              " CAST(0 AS DOUBLE), (acc, e) -> acc + e.model_err)")
              .as("model_abs_sum"))
          .select(col("n_test"), col("naive_abs_sum"), col("model_abs_sum"),
            (col("naive_abs_sum").cast("double") / Det.nz(col("n_test").cast("double")))
              .as("mae_naive"),
            (col("model_abs_sum") / Det.nz(col("n_test").cast("double"))).as("mae_model"),
            (col("model_abs_sum")
              < col("naive_abs_sum").cast("double")).as("model_wins"))
      },
      Some(s"""WITH $spineSql,
        d AS (SELECT x, y FROM sp WHERE event_type = 'click'),
        c AS (SELECT MAX(x) - 7 AS xcut FROM d),
        tr AS (SELECT x, y FROM d CROSS JOIN c WHERE x <= xcut),
        st AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM tr),
        dw AS (SELECT (x + 4) % 7 AS dw, SUM(y) AS sdw, COUNT(*) AS ndw
          FROM tr GROUP BY 1),
        lagd AS (SELECT x, y, LAG(y, 7) OVER (ORDER BY x) AS ylag7 FROM d),
        te AS (SELECT lagd.x, lagd.y, lagd.ylag7, (lagd.x + 4) % 7 AS dwv
          FROM lagd CROSS JOIN c WHERE lagd.x > xcut),
        scored AS (SELECT te.x,
            ABS(te.ylag7 - te.y) AS naive_err,
            ABS((CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(te.x AS DOUBLE)
              + (CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE)
              + (CAST(sdw AS DOUBLE) / CAST(ndw AS DOUBLE)
                - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
              - CAST(te.y AS DOUBLE)) AS model_err
          FROM te JOIN dw ON te.dwv = dw.dw CROSS JOIN st),
        f AS (SELECT COUNT(*) AS n_test,
            SUM(naive_err) AS naive_abs_sum,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              [e.model_err for e in list(struct_pack(x := x,
                model_err := model_err) ORDER BY x)]),
              (acc, e) -> acc + e) AS model_abs_sum
          FROM scored)
        SELECT CAST(n_test AS BIGINT) AS n_test,
          CAST(naive_abs_sum AS BIGINT) AS naive_abs_sum, model_abs_sum,
          CAST(naive_abs_sum AS DOUBLE) / CAST(n_test AS DOUBLE) AS mae_naive,
          model_abs_sum / CAST(n_test AS DOUBLE) AS mae_model,
          model_abs_sum < CAST(naive_abs_sum AS DOUBLE) AS model_wins
        FROM f""")),

    // ---- largest-remainder quota allocation ------------------------------
    // Apportionment (Hare quota / largest remainder): allocate 100
    // sampling slots across event types proportionally to volume,
    // integer-exactly — base = floor(100·n_i/N), the leftover slots go
    // to the largest remainders (100·n_i mod N, type tie-break). The
    // budget/quota primitive behind proportional samplers and capacity
    // splits; everything BIGINT, Σ allocated = 100 by construction.
    "q293_quota_allocation" -> Q(
      (s, dir) => {
        val counts = t(s, dir, "events")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        val c = counts.crossJoin(broadcast(
          counts.agg(sum(col("n")).as("nn"))))
          .withColumn("base", expr("(100 * n) div nn"))
          .withColumn("rem", expr("(100 * n) % nn"))
        val leftovers = c.agg((lit(100L) - sum(col("base"))).as("k"))
        val w = Window.orderBy(col("rem").desc, col("event_type"))
        c.crossJoin(broadcast(leftovers))
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("extra", when(col("rk") <= col("k"), 1L).otherwise(0L))
          .select(col("event_type"), col("n"), col("base"), col("rem"),
            (col("base") + col("extra")).as("allocated"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        t AS (SELECT SUM(n) AS nn FROM c),
        b AS (SELECT event_type, n, (100 * n) // nn AS base, (100 * n) % nn AS rem
          FROM c CROSS JOIN t),
        k AS (SELECT 100 - SUM(base) AS k FROM b),
        r AS (SELECT b.*, k.k,
            ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rk
          FROM b CROSS JOIN k)
        SELECT event_type, n, CAST(base AS BIGINT) AS base,
          CAST(rem AS BIGINT) AS rem,
          CAST(base + CASE WHEN rk <= k THEN 1 ELSE 0 END AS BIGINT) AS allocated
        FROM r ORDER BY event_type""")),

    // ---- empirical-Bayes shrunk rates ------------------------------------
    // Small-sample rate repair: each nation's heavy-buyer rate shrunk
    // toward the Laplace prior, (x+1)/(n+2) — the estimator that stops a
    // 1-for-1 nation from ranking above a 90-for-100 one. Raw and shrunk
    // rates are single divisions over exact counts; the rank flip
    // between them (exact integer cross-multiplication per pair would be
    // n² — instead both ranks come from deterministic orderings) is the
    // output: nations whose raw and shrunk ranks differ.
    "q294_shrunk_rates" -> Q(
      (s, dir) => {
        val byNation = t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
          .groupBy("c_custkey", "c_nationkey")
          .agg(count(lit(1)).as("n_ord"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_ord") >= 12L, 1L).otherwise(0L)).as("x"))
        val wRaw = Window.orderBy(
          (col("x") * 1000000L).cast("double") / col("n").cast("double") * -1d,
          col("c_nationkey"))
        val wShr = Window.orderBy(
          ((col("x") + 1L) * 1000000L).cast("double")
            / (col("n") + 2L).cast("double") * -1d,
          col("c_nationkey"))
        byNation
          .withColumn("raw_rate", col("x").cast("double") / col("n").cast("double"))
          .withColumn("shrunk_rate",
            (col("x") + 1L).cast("double") / (col("n") + 2L).cast("double"))
          .withColumn("raw_rank", row_number().over(wRaw).cast("long"))
          .withColumn("shrunk_rank", row_number().over(wShr).cast("long"))
          .withColumn("rank_moved", col("raw_rank") =!= col("shrunk_rank"))
          .orderBy("c_nationkey")
      },
      Some("""WITH pc AS (SELECT c_custkey, c_nationkey, COUNT(*) AS n_ord
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey, c_nationkey),
        bn AS (SELECT c_nationkey, COUNT(*) AS n,
            SUM(CASE WHEN n_ord >= 12 THEN 1 ELSE 0 END) AS x
          FROM pc GROUP BY c_nationkey)
        SELECT c_nationkey, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
          CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
          CAST(x + 1 AS DOUBLE) / CAST(n + 2 AS DOUBLE) AS shrunk_rate,
          CAST(ROW_NUMBER() OVER (ORDER BY
            CAST(x * 1000000 AS DOUBLE) / CAST(n AS DOUBLE) * -1, c_nationkey)
            AS BIGINT) AS raw_rank,
          CAST(ROW_NUMBER() OVER (ORDER BY
            CAST((x + 1) * 1000000 AS DOUBLE) / CAST(n + 2 AS DOUBLE) * -1,
            c_nationkey) AS BIGINT) AS shrunk_rank,
          ROW_NUMBER() OVER (ORDER BY
            CAST(x * 1000000 AS DOUBLE) / CAST(n AS DOUBLE) * -1, c_nationkey)
          <> ROW_NUMBER() OVER (ORDER BY
            CAST((x + 1) * 1000000 AS DOUBLE) / CAST(n + 2 AS DOUBLE) * -1,
            c_nationkey) AS rank_moved
        FROM bn ORDER BY c_nationkey""")),

    // ---- Kendall's tau over the bounded nation domain --------------------
    // The third correlation member (Pearson q140, Spearman q205):
    // concordance between per-nation customer wealth (exact cent sums)
    // and order volume. Kendall needs all pairs — quadratic in general,
    // EXACT and cheap over the 25-nation value domain (≤300 pairs from a
    // self-join of the 25-row aggregate). Comparisons are exact integer
    // sign products; tau-a = (C − D)/(n(n−1)/2) is one division.
    "q299_kendall_tau" -> Q(
      (s, dir) => {
        // wealth from customer rows, volume from the order join —
        // separate aggregates, so the join never multi-counts balances
        val wealth = t(s, dir, "customer").groupBy("c_nationkey")
          .agg(sum((Det.money(col("c_acctbal")) * 100).cast("long")).as("wealth"))
        val orders = t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_ord"))
        val m = wealth.join(orders, Seq("c_nationkey"))
          .select(col("c_nationkey").as("k"), col("wealth"), col("n_ord"))
        val pairs = m.as("a").join(m.as("b"), col("a.k") < col("b.k"))
          .select(
            signum((col("a.wealth") - col("b.wealth")).cast("double")).as("sw"),
            signum((col("a.n_ord") - col("b.n_ord")).cast("double")).as("so"))
        pairs.agg(count(lit(1)).as("n_pairs"),
            sum(when(col("sw") * col("so") > 0d, 1L).otherwise(0L)).as("concordant"),
            sum(when(col("sw") * col("so") < 0d, 1L).otherwise(0L)).as("discordant"))
          .withColumn("tau_a",
            (col("concordant") - col("discordant")).cast("double")
              / col("n_pairs").cast("double"))
      },
      Some(s"""WITH w AS (SELECT c_nationkey AS k,
            CAST(SUM(${Det.sqlMoney("c_acctbal")} * 100) AS BIGINT) AS wealth
          FROM customer GROUP BY 1),
        o AS (SELECT c_nationkey AS k, COUNT(*) AS n_ord
          FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1),
        m AS (SELECT w.k, wealth, n_ord FROM w JOIN o ON w.k = o.k),
        p AS (SELECT SIGN(a.wealth - b.wealth) AS sw,
            SIGN(CAST(a.n_ord AS BIGINT) - CAST(b.n_ord AS BIGINT)) AS so
          FROM m a JOIN m b ON a.k < b.k)
        SELECT COUNT(*) AS n_pairs,
          CAST(SUM(CASE WHEN sw * so > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS concordant,
          CAST(SUM(CASE WHEN sw * so < 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS discordant,
          CAST(SUM(CASE WHEN sw * so > 0 THEN 1 ELSE 0 END)
            - SUM(CASE WHEN sw * so < 0 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS tau_a
        FROM p""")),

    // ---- ten-table integration summary -----------------------------------
    // Every fixture table in ONE query — the cross-schema smoke that
    // proves all keys, joins, and exact-aggregation disciplines hold
    // simultaneously: the star schema rolled to one row (regions,
    // nations, customers, suppliers, parts, orders, lineitems with an
    // exact revenue), the events stream, the document corpus, the
    // embedding table. All counts BIGINT, revenue exact decimal→double,
    // dims broadcast — one row an operator can diff across releases.
    "q300_integration_summary" -> Q(
      (s, dir) => {
        def cnt(name: String, as: String) =
          t(s, dir, name).agg(count(lit(1)).as(as))
        val li = t(s, dir, "lineitem").agg(
          count(lit(1)).as("n_lineitems"),
          Det.sumD(Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
            .as("revenue"))
        val emb = t(s, dir, "embeddings").agg(
          count(lit(1)).as("n_vectors"),
          max(size(col("embedding"))).cast("long").as("dim"))
        val docs = t(s, dir, "documents").agg(
          count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        cnt("region", "n_regions")
          .crossJoin(broadcast(cnt("nation", "n_nations")))
          .crossJoin(broadcast(cnt("customer", "n_customers")))
          .crossJoin(broadcast(cnt("supplier", "n_suppliers")))
          .crossJoin(broadcast(cnt("part", "n_parts")))
          .crossJoin(broadcast(cnt("orders", "n_orders")))
          .crossJoin(broadcast(li))
          .crossJoin(broadcast(cnt("events", "n_events")))
          .crossJoin(broadcast(docs))
          .crossJoin(broadcast(emb))
      },
      Some(s"""SELECT
          (SELECT COUNT(*) FROM region) AS n_regions,
          (SELECT COUNT(*) FROM nation) AS n_nations,
          (SELECT COUNT(*) FROM customer) AS n_customers,
          (SELECT COUNT(*) FROM supplier) AS n_suppliers,
          (SELECT COUNT(*) FROM part) AS n_parts,
          (SELECT COUNT(*) FROM orders) AS n_orders,
          (SELECT COUNT(*) FROM lineitem) AS n_lineitems,
          (SELECT ${Det.sqlSumD(s"${Det.sqlMoney("l_extendedprice")} * ${Det.sqlOneMinus("l_discount")}")}
            FROM lineitem) AS revenue,
          (SELECT COUNT(*) FROM events) AS n_events,
          (SELECT COUNT(*) FROM documents) AS n_docs,
          (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS n_chars,
          (SELECT COUNT(*) FROM embeddings) AS n_vectors,
          (SELECT CAST(MAX(len(embedding)) AS BIGINT) FROM embeddings) AS dim""")),

    "q242_scd2_fold" -> Q(
      (s, dir) => {
        import s.implicits._
        val dedupW = Window.partitionBy("user_id", "ts").orderBy("event_id")
        val changes = t(s, dir, "events")
          .withColumn("rn", row_number().over(dedupW)).filter(col("rn") === 1)
          .select(col("user_id").as("k"), col("event_type").as("attr"), col("ts"))
        val emptyDim = Seq.empty[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
          .toDF("k", "attr", "valid_from", "valid_to")
        graft.catalog.Scd2.applyChanges(emptyDim, changes, Seq("k"), Seq("attr"))
          .select(col("k"), col("attr"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"))
      },
      Some("""WITH d AS (SELECT user_id AS k, event_type AS attr, ts,
            ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
          FROM events),
        c AS (SELECT k, attr, ts FROM d WHERE rn = 1),
        f AS (SELECT k, attr, ts,
            LAG(attr) OVER (PARTITION BY k ORDER BY ts) AS prev FROM c),
        kept AS (SELECT k, attr, ts FROM f WHERE prev IS NULL OR prev <> attr),
        out AS (SELECT k, attr, ts AS vf,
            LEAD(ts) OVER (PARTITION BY k ORDER BY ts) AS vt FROM kept)
        SELECT k, attr,
          STRFTIME(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
          STRFTIME(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to
        FROM out""")),

    // ---- sequence pattern matching (MATCH_RECOGNIZE-lite) ---------------------
    // SQL-2016 row-pattern matching re-expressed portably: each user's
    // event history becomes an ordered initial-letter string (total
    // (ts, event_id) order → deterministic), and patterns are plain
    // regexes counted over it — direct view→purchase funnels, view
    // runs, signup-before-purchase. Both engines run greedy
    // non-overlapping literal-regex extraction, so counts agree
    // exactly. Scale: per-user strings are entity-bounded (q154's
    // argument); the heavy part is one groupBy over the fact.
    "q243_seq_patterns" -> Q(
      (s, dir) => {
        val chr = when(col("event_type") === "click", "c")
          .when(col("event_type") === "error", "e")
          .when(col("event_type") === "purchase", "p")
          .when(col("event_type") === "signup", "s")
          .otherwise("v")
        t(s, dir, "events")
          .select(col("user_id"),
            struct(col("ts"), col("event_id"), chr.as("ch")).as("ev"))
          .groupBy("user_id")
          .agg(sort_array(collect_list(col("ev"))).as("evs"))
          .select(col("user_id"),
            concat_ws("", expr("transform(evs, e -> e.ch)")).as("seq"))
          .select(col("user_id"), length(col("seq")).cast("long").as("n_events"),
            size(regexp_extract_all(col("seq"), lit("vp"), lit(0)))
              .cast("long").as("n_view_purchase"),
            size(regexp_extract_all(col("seq"), lit("vvv"), lit(0)))
              .cast("long").as("n_view_runs"),
            (size(regexp_extract_all(col("seq"), lit("s[cev]*p"), lit(0))) > 0)
              .as("signup_then_purchase"))
          .orderBy("user_id")
      },
      Some("""WITH s AS (SELECT user_id,
            STRING_AGG(CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'v' END, ''
              ORDER BY ts, event_id) AS seq
          FROM events GROUP BY user_id)
        SELECT user_id, CAST(LENGTH(seq) AS BIGINT) AS n_events,
          CAST(LEN(regexp_extract_all(seq, 'vp')) AS BIGINT) AS n_view_purchase,
          CAST(LEN(regexp_extract_all(seq, 'vvv')) AS BIGINT) AS n_view_runs,
          LEN(regexp_extract_all(seq, 's[cev]*p')) > 0 AS signup_then_purchase
        FROM s ORDER BY user_id""")),

    // ---- incremental join delta rule on real data -----------------------------
    // The JoinView algebra hash-gated at table scale: split orders at
    // a date into OLD ∪ DELTA, and verify on orders ⋈ lineitem that
    //   |full| = |old⋈li_old| + |Δo⋈li_old| + |o_old⋈Δli| + |Δo⋈Δli|
    // — the exact identity an incremental refresh banks on. The
    // lineitem side splits by its order's arrival epoch (a semi-join
    // tag), so the four terms partition the join EXACTLY; the output
    // row carries all five counts plus the reconciliation verdict.
    "q244_join_delta_rule" -> Q(
      (s, dir) => {
        val split = to_timestamp(lit("1997-01-01 00:00:00"))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), (col("o_orderdate") < split).as("o_old"))
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), (col("l_shipdate") < split).as("l_old"))
        val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        j.agg(
            count(lit(1)).as("full_rows"),
            sum(when(col("o_old") && col("l_old"), 1L).otherwise(0L)).as("old_old"),
            sum(when(!col("o_old") && col("l_old"), 1L).otherwise(0L)).as("da_b_old"),
            sum(when(col("o_old") && !col("l_old"), 1L).otherwise(0L)).as("a_old_db"),
            sum(when(!col("o_old") && !col("l_old"), 1L).otherwise(0L)).as("da_db"))
          .select(lit("orders_x_lineitem").as("view"),
            col("full_rows"), col("old_old"), col("da_b_old"),
            col("a_old_db"), col("da_db"),
            (col("old_old") + col("da_b_old") + col("a_old_db") + col("da_db")
              === col("full_rows")).as("reconciles"))
      },
      Some("""SELECT 'orders_x_lineitem' AS view,
          COUNT(*) AS full_rows,
          CAST(SUM(CASE WHEN o_old AND l_old THEN 1 ELSE 0 END) AS BIGINT) AS old_old,
          CAST(SUM(CASE WHEN NOT o_old AND l_old THEN 1 ELSE 0 END) AS BIGINT) AS da_b_old,
          CAST(SUM(CASE WHEN o_old AND NOT l_old THEN 1 ELSE 0 END) AS BIGINT) AS a_old_db,
          CAST(SUM(CASE WHEN NOT o_old AND NOT l_old THEN 1 ELSE 0 END) AS BIGINT) AS da_db,
          (SUM(CASE WHEN o_old AND l_old THEN 1 ELSE 0 END) +
           SUM(CASE WHEN NOT o_old AND l_old THEN 1 ELSE 0 END) +
           SUM(CASE WHEN o_old AND NOT l_old THEN 1 ELSE 0 END) +
           SUM(CASE WHEN NOT o_old AND NOT l_old THEN 1 ELSE 0 END))
            = COUNT(*) AS reconciles
        FROM (SELECT l_orderkey,
                l_shipdate < TIMESTAMP '1997-01-01 00:00:00' AS l_old
              FROM lineitem) li
          JOIN (SELECT o_orderkey,
                o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AS o_old
              FROM orders) o ON l_orderkey = o_orderkey"""))
  )
}
