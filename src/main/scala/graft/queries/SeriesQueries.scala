package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Num

/** Time-series robustness operators over `events` (round-6 continuation):
  * the order-statistics / gap-repair / sequence-model steps between raw
  * event streams and features that the market and feature packs don't
  * cover —
  *
  *   - trailing-window rolling MEDIAN (the robust twin of rolling_ma —
  *     order statistics where the mean is skew-fragile),
  *   - MAD-based robust z-score (median absolute deviation outlier
  *     flagging, Iglewicz–Hoaglin modified z; survives the heavy tails
  *     that break normalize_zscore's mean/std),
  *   - calendar gap-fill with forward carry (daily scaffold + last-
  *     observation-carried-forward — the repair step before any
  *     fixed-frequency model consumes an irregular stream),
  *   - first-order Markov transition matrix of event types (the
  *     sequence-model summary behind session analysis and next-event
  *     prediction).
  *
  * Scale notes: every operator shuffles ONCE keyed by `user_id` (or
  * `event_type` for the 5-row stats side of MAD, which broadcasts back).
  * The rolling median's frame is bounded (10 rows), so the per-row sort
  * is O(w log w) with w=10 — constant — and never a group-wide collect.
  * The gap-fill scaffold is generated per key from that key's own span
  * (sequence + explode, map-side after the daily aggregate), so scaffold
  * size is O(keys × days), never a global calendar cross join. The
  * transition matrix output is |types|² rows — tiny at any corpus scale.
  *
  * Float parity (see [[graft.ops.Num]]): medians are picked/averaged from
  * sorted lists with IDENTICAL index arithmetic in both engines (no
  * engine-native quantile interpolation in the window path); MAD reuses
  * the percentile↔quantile_cont parity proven by percentile_value; the
  * one transcendental-free division chain in `rz` is single-shot IEEE,
  * quantized r6 BEFORE the outlier comparison so the boolean can't split
  * engines on a 1-ulp wiggle.
  */
object SeriesQueries extends QueryPack {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Median of a sorted array column, 1-based element_at, explicit
    * midpoint average for even sizes — the same arithmetic the oracle
    * spells out, so parity is by construction. */
  private def medianOfSorted(a: Column): Column = {
    val n = size(a)
    // Column `/` is double division; the quotients here are exact whole
    // doubles (n±parity adjusted), so the int casts are value-preserving.
    when(n % 2 === 1, element_at(a, ((n + 1) / 2).cast("int")))
      .otherwise((element_at(a, (n / 2).cast("int")) +
        element_at(a, (n / 2 + 1).cast("int"))) / 2.0)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- trailing 10-event rolling median per user: collect the bounded
    //    frame, sort it, pick/interpolate the middle. The frame is ROWS
    //    BETWEEN 9 PRECEDING AND CURRENT ROW over the (ts, event_id)
    //    total order — deterministic, bounded memory, one shuffle. ---------
    "rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          sort_array(collect_list(col("value")).over(w)).as("a"))
        .select(col("event_id"), col("user_id"), col("value"),
          medianOfSorted(col("a")).as("med"))
    }),

    // -- MAD robust z-score per event_type: med = exact median, mad =
    //    median of |x - med|, rz = 0.6745·(x - med)/mad (Iglewicz-
    //    Hoaglin), outlier at |rz| > 3.5. Two 5-row stats reductions,
    //    each joined back broadcast; the mad=0 degenerate group maps to
    //    rz=0 on both sides. ----------------------------------------------
    "robust_zscore_mad" -> ((s, dir) => {
      val ev = events(s, dir)
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("med")).as("med"),
          expr("percentile(abs(value - med), 0.5)").as("mad"))
      val rz = Num.r6(
        lit(0.6745) * (col("value") - col("med")) / col("mad"))
      ev.join(broadcast(mad), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("mad") === 0.0, lit(0.0)).otherwise(rz).as("rz"))
        .withColumn("is_outlier", abs(col("rz")) > 3.5)
    }),

    // -- calendar gap-fill + forward carry: per user, the last value of
    //    each active day (max_by over the (ts, event_id) total order),
    //    scaffolded to EVERY day in that user's [first, last] span, gaps
    //    carried forward with last(ignoreNulls) over the day order. The
    //    scaffold explodes from each key's own 1-row span — O(keys×days)
    //    rows, no global calendar join. -----------------------------------
    "gap_fill_forward" -> ((s, dir) => {
      // daily feeds both the scaffold bounds and the fill join; left
      // lazy, the events-wide aggregate re-executed for each (2 events
      // passes measured, r13 gate). Checkpoint the (user, day) frame —
      // bounded by users × days, the standard scaffold staging — so one
      // pass is structural.
      val daily = graft.ops.SessionOps.truncate(
        events(s, dir)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("close")))
      val scaffold = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      scaffold.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("close"), ignoreNulls = true).over(w).as("value_filled"),
          col("close").isNull.as("is_gap"))
    }),

    // -- lag-1 autocorrelation per event_type: the persistence/seasonality
    //    probe on a metric stream (white noise ≈ 0, trending/seasonal
    //    series drift positive). The lag pairs come from one window over
    //    the (ts, event_id) total order; the Pearson moments then
    //    accumulate as DECIMAL(18,2) products (exact at any order — the
    //    stats_corr_exact recipe, including its VARCHAR-routed
    //    square-moment oracle casts), so the final doubles are
    //    bit-identical cross-engine. One shuffle for the lag, one 5-row
    //    aggregate. ------------------------------------------------------
    "stats_autocorr" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val d2 = DecimalType(18, 2)
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val lagged = events(s, dir)
        .select(col("event_type"), col("value"),
          lag(col("value"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
      lagged.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(d2)).cast("double").as("sx"),
          sum(col("prev").cast(d2)).cast("double").as("sy"),
          sum(col("value").cast(d2) * col("prev").cast(d2)).cast("double").as("sxy"),
          sum(col("value").cast(d2) * col("value").cast(d2)).cast("double").as("sxx"),
          sum(col("prev").cast(d2) * col("prev").cast(d2)).cast("double").as("syy"))
        .select(col("event_type"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("autocorr_lag1"))
    }),

    // -- day-of-week seasonality index per event_type: mean(value) on each
    //    weekday relative to the group's overall mean — the calendar-
    //    effect probe (flat ≈ 1.0 everywhere; weekend lifts/dips show as
    //    departures). dow derives from MODULAR DATE ARITHMETIC anchored
    //    at 2024-01-01 (a Monday): Spark's dayofweek() is 1=Sunday..7 but
    //    DuckDB's is 0=Sunday..6, so the portable form is the datediff
    //    residue, exact integers in both engines. Means are decimal-exact
    //    (Num.davg shape); the index is one IEEE division. --------------
    "stats_seasonality_dow" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val d2 = DecimalType(27, 2)
      val dow = pmod(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")), lit(7))
        .cast("long")
      val byDow = events(s, dir)
        .groupBy(col("event_type"), dow.as("dow"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(d2)).cast("double").as("sv"))
      val overall = events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_all"),
          sum(col("value").cast(d2)).cast("double").as("sv_all"))
      byDow.join(broadcast(overall), "event_type")
        .select(col("event_type"), col("dow"), col("n"),
          ((col("sv") / col("n")) / (col("sv_all") / col("n_all"))).as("dow_index"))
    }),

    // -- first-order Markov transitions: lag(event_type) over each user's
    //    event-time order, then (prev → cur) counts and row-normalized
    //    probabilities. One shuffle by user for the lag; the matrix is
    //    |types|² rows so the normalizing window is trivial. p is a
    //    single long/long IEEE division — deterministic unrounded. --------
    "markov_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wp = Window.partitionBy("prev_type")
      events(s, dir)
        .select(col("user_id"), col("event_type").as("cur_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("cur_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("p",
          col("cnt").cast("double") / sum(col("cnt")).over(wp).cast("double"))
    }),

    // -- M4 visual downsampling: per-bucket first/last/min/max points ------
    // The M4 aggregation (Jugel et al., VLDB 2014): a width-w time bucket
    // is represented by exactly the four points a pixel-perfect line
    // rendering needs — first, last, value-min, value-max. Unlike LTTB
    // (whose selected point feeds the next bucket — inherently
    // sequential), M4 is a pure keyed aggregate: one shuffle on
    // (series, bucket), min/max over lexicographic structs picks each
    // role's point WITH a deterministic (ts, id) tiebreak, and the 4
    // roles explode map-side after the agg. A 100 TB series table
    // downsamples in one pass to 4 points per (key, bucket) — the shape
    // dashboards actually query. ------------------------------------------
    "series_downsample_m4" -> ((s, dir) => {
      val e = events(s, dir).select(
        col("event_type"),
        col("ts").cast("long").as("ts_int"),
        col("event_id"), col("value"))
        .withColumn("bucket", floor(col("ts_int") / 86400).cast("long"))
      val g = e.groupBy(col("event_type"), col("bucket"))
        .agg(
          min(struct(col("ts_int"), col("event_id"), col("value"))).as("f"),
          max(struct(col("ts_int"), col("event_id"), col("value"))).as("l"),
          min(struct(col("value"), col("ts_int"), col("event_id"))).as("vmin"),
          max(struct(col("value"), col("ts_int"), col("event_id"))).as("vmax"))
      g.select(col("event_type"), col("bucket"),
        explode(array(
          struct(lit("first").as("role"), col("f.ts_int").as("ts_int"),
            col("f.value").as("value")),
          struct(lit("last").as("role"), col("l.ts_int").as("ts_int"),
            col("l.value").as("value")),
          struct(lit("vmin").as("role"), col("vmin.ts_int").as("ts_int"),
            col("vmin.value").as("value")),
          struct(lit("vmax").as("role"), col("vmax.ts_int").as("ts_int"),
            col("vmax.value").as("value")))).as("p"))
        .select(col("event_type"), col("bucket"),
          col("p.role"), col("p.ts_int"), col("p.value"))
    })
  )

  /** DuckDB twin of [[medianOfSorted]] over a list alias `a`. */
  private def medianSql(a: String): String =
    s"""CASE WHEN len($a) % 2 = 1 THEN $a[(len($a) + 1) // 2]
       |     ELSE ($a[len($a) // 2] + $a[len($a) // 2 + 1]) / 2.0 END""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "rolling_median" ->
      s"""WITH w AS (
         |  SELECT event_id, user_id, value,
         |         list_sort(list(value) OVER (
         |           PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS a
         |  FROM events)
         |SELECT event_id, user_id, value, ${medianSql("a")} AS med
         |FROM w""".stripMargin,

    "robust_zscore_mad" ->
      s"""WITH med AS (
         |  SELECT event_type, quantile_cont(value, 0.5) AS med
         |  FROM events GROUP BY event_type
         |), mad AS (
         |  SELECT e.event_type, max(med) AS med,
         |         quantile_cont(abs(value - med), 0.5) AS mad
         |  FROM events e JOIN med USING (event_type)
         |  GROUP BY e.event_type
         |)
         |SELECT event_id, e.event_type, value,
         |       CASE WHEN mad = 0.0 THEN 0.0
         |            ELSE ${Num.R6_SQL("0.6745 * (value - med) / mad")} END AS rz,
         |       abs(CASE WHEN mad = 0.0 THEN 0.0
         |            ELSE ${Num.R6_SQL("0.6745 * (value - med) / mad")} END) > 3.5 AS is_outlier
         |FROM events e JOIN mad USING (event_type)""".stripMargin,

    "gap_fill_forward" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         list(value ORDER BY ts, event_id)[-1] AS close
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)
        |), scaffold AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY user_id)
        |)
        |SELECT s.user_id, s.day,
        |       last_value(d.close IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |       d.close IS NULL AS is_gap
        |FROM scaffold s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day""".stripMargin,

    "stats_autocorr" ->
      """WITH lagged AS (
        |  SELECT event_type, value,
        |         lag(value, 1) OVER (
        |           PARTITION BY event_type ORDER BY ts, event_id) AS prev
        |  FROM events
        |), m AS (
        |  SELECT event_type,
        |         count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(prev AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(prev AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
        |         CAST(CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |         CAST(CAST(sum(CAST(prev AS DECIMAL(18,2)) * CAST(prev AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM lagged WHERE prev IS NOT NULL
        |  GROUP BY event_type
        |)
        |SELECT event_type, n,
        |       (n * sxy - sx * sy) /
        |         (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS autocorr_lag1
        |FROM m""".stripMargin,

    "stats_seasonality_dow" ->
      """WITH byd AS (
        |  SELECT event_type,
        |         CAST(((datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7) + 7) % 7 AS BIGINT) AS dow,
        |         count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sv
        |  FROM events GROUP BY 1, 2
        |), o AS (
        |  SELECT event_type, count(*) AS n_all,
        |         CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sv_all
        |  FROM events GROUP BY event_type
        |)
        |SELECT b.event_type, b.dow, b.n,
        |       (sv / n) / (sv_all / n_all) AS dow_index
        |FROM byd b JOIN o USING (event_type)""".stripMargin,

    "markov_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS cur_type,
        |         lag(event_type, 1) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), pairs AS (
        |  SELECT prev_type, cur_type, count(*) AS cnt
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, cur_type
        |)
        |SELECT prev_type, cur_type, cnt,
        |       CAST(cnt AS DOUBLE) /
        |       CAST(sum(cnt) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM pairs""".stripMargin,

    // Role tiebreaks mirror the Spark structs' lexicographic order:
    // first/vmin break ties ascending, last/vmax descending on every
    // later field.
    "series_downsample_m4" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ts_int,
        |         event_id, value,
        |         CAST(floor(extract(epoch FROM ts)) AS BIGINT) // 86400 AS bucket
        |  FROM events
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |                       ORDER BY ts_int, event_id, value) AS rf,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |                       ORDER BY ts_int DESC, event_id DESC, value DESC) AS rl,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |                       ORDER BY value, ts_int, event_id) AS rmin,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |                       ORDER BY value DESC, ts_int DESC, event_id DESC) AS rmax
        |  FROM e
        |)
        |SELECT event_type, bucket, 'first' AS role, ts_int, value FROM r WHERE rf = 1
        |UNION ALL
        |SELECT event_type, bucket, 'last'  AS role, ts_int, value FROM r WHERE rl = 1
        |UNION ALL
        |SELECT event_type, bucket, 'vmin'  AS role, ts_int, value FROM r WHERE rmin = 1
        |UNION ALL
        |SELECT event_type, bucket, 'vmax'  AS role, ts_int, value FROM r WHERE rmax = 1""".stripMargin
  )
}
