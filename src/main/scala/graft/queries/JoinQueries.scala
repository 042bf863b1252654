package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Tables

/** Join / aggregation natives and composite scans: the as-of range join
  * (SURVEY §2.3 J2's irregular-series formulation), the CSV history scan
  * (S3), event-time windowed aggregation (T5's upgrade path), and the
  * "absent in reference, provided by Spark natives" surface SURVEY §2.3/2.4
  * inventories: broadcast join, shuffle (sort-merge) join, semi/anti joins,
  * rollup/cube/grouping-sets, distinct counts, and TPC-H-q1-style pricing.
  *
  * Scale notes: only TRUE dims — frames whose cardinality is bounded
  * independent of SF (nation, region, scalar/bounded-group aggregates) —
  * carry explicit broadcast() hints; every SF-proportional side
  * (supplier, part, customer, per-key aggregates) joins hint-free so AQE
  * broadcasts it while it fits and key-shuffles it when it doesn't (a
  * forced hint never degrades — it ODs the driver at 100 TB; PlanAudit's
  * broadcast-bound check enforces the distinction registry-wide). Fact
  * aggregations are decimal-accumulated partial aggs (map-side combine
  * before the shuffle); the as-of join is a bounded range join + per-key
  * top-1 — no unbounded state, no cross product.
  */
object JoinQueries extends QueryPack {

  /** Exact revenue: Σ price·(1-discount), decimal-accumulated (see Num).
    * DECIMAL(9,2)·DECIMAL(3,2) → DECIMAL(13,4): exact in both engines. */
  private def revenue: org.apache.spark.sql.Column =
    sum(col("l_extendedprice").cast(DecimalType(9, 2)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(3, 2))).cast("double")

  private val REV_SQL =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(1 - l_discount AS DECIMAL(3,2))) AS DOUBLE)"

  /** Shared oracle for the skewed-join pair (salting and AQE splitting
    * are execution strategies; the relational answer is one). */
  private lazy val SKEW_JOIN_SQL: String =
    s"""WITH dim AS (
       |  SELECT o_orderkey % 100 AS k, min(o_orderpriority) AS label
       |  FROM orders GROUP BY 1
       |)
       |SELECT k, label, count(*) AS n, $REV_SQL AS revenue
       |FROM (SELECT *, CASE WHEN l_orderkey % 100 < 90 THEN 0
       |                     ELSE l_orderkey % 100 END AS k
       |      FROM lineitem) f
       |JOIN dim USING (k)
       |GROUP BY k, label""".stripMargin

  /** CSV round-trip staging dir, suffixed with the scale-factor directory
    * name so a later Bench run at another SF can't clobber the files the
    * sf0.01 correctness oracle reads (the oracle SQL is a static string and
    * pins the sf0.01 path — the driver contract's correctness SF). */
  private val CSV_DIR = "/tmp/graft_scan_history"
  private def csvDir(dir: String): String = s"$CSV_DIR/${dir.split('/').last}"

  /** Partitioned-store staging dir (same SF-suffix rationale as CSV_DIR). */
  private val PARTS_DIR = "/tmp/graft_store_parts"
  private def partsDir(dir: String): String = s"$PARTS_DIR/${dir.split('/').last}"

  /** The unsalted skewed join behind join_skew_aqe: 90%-hot key, merge
    * hint so the shuffle join (and its skew) actually happens. Shared
    * with SkewJoinSpec, which executes it under lowered AQE thresholds
    * and asserts the runtime skew split appears in the final plan. */
  private[graft] def skewJoinPlan(s: SparkSession, dir: String): DataFrame = {
    // repartition: AQE splits a skewed REDUCE partition along its MAP
    // outputs — the one-file testdata scan is a single map task, whose
    // one chunk is unsplittable no matter the thresholds. A real fact
    // table is thousands of files; the parallelism-gated round-robin
    // spread restores the multi-mapper shuffle AQE needs at fixture
    // scale and is a TRUE no-op on a multi-split input (the same
    // one-file compensation as jaccardPairs / ivfPqIndex).
    val fact = graft.ops.SessionOps.spreadTo(Tables.lineitem(s, dir), 8)
      .withColumn("k",
        when(col("l_orderkey") % 100 < 90, lit(0L))
          .otherwise(col("l_orderkey") % 100))
    // dim materialized: OptimizeSkewedJoin only matches a join whose
    // children are bare sorted shuffle stages — an aggregate between the
    // dim's shuffle and the join defeats the pattern. A production dim
    // is a materialized table anyway; the checkpoint models that.
    val dim = Tables.orders(s, dir)
      .groupBy((col("o_orderkey") % 100).as("k"))
      .agg(min(col("o_orderpriority")).as("label"))
      .localCheckpoint()
    fact.hint("merge")
      .join(dim.hint("merge"), Seq("k"))
      .groupBy(col("k"), col("label"))
      .agg(count(lit(1)).as("n"), revenue.as("revenue"))
  }

  /** True when the staged copy under `marker` is missing or older than the
    * events source (testdata regenerated in place). */
  private def staleStage(marker: java.io.File, dir: String): Boolean = {
    val eventsSrc = new java.io.File(s"$dir/events.parquet")
    val eventsMtime = Option(eventsSrc.listFiles())
      .map(_.map(_.lastModified()).foldLeft(eventsSrc.lastModified())(math.max))
      .getOrElse(eventsSrc.lastModified())
    !marker.exists() || marker.lastModified() < eventsMtime
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- J2: as-of lookback join on an irregular series --------------------
    // Daily-noon grid per key; latest event within a 6 h tolerance window.
    // Bounded range join + per-key top-1 — the at-scale as-of shape.
    "asof_lookback_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val grid = ev.select(
        col("user_id"),
        (to_date(col("ts")).cast("timestamp") + expr("INTERVAL 12 HOURS")).as("g_ts"))
        .distinct()
      val joined = grid.alias("g").join(
        ev.alias("e"),
        col("g.user_id") === col("e.user_id") &&
          col("e.ts") >= col("g_ts") - expr("INTERVAL 6 HOURS") &&
          col("e.ts") <= col("g_ts"),
        "left")
      // Per-key top-1 as an ARGMAX partial aggregate, not a sort window:
      // max_by combines map-side, so the O(candidates-per-grid-point)
      // range-join fanout collapses before the shuffle instead of being
      // shuffled whole and sorted per key — the shape that survives a
      // dense key. Ordering struct = (ts, event_id): lexicographic max ≡
      // ORDER BY ts DESC, event_id DESC limit 1. Null handling invariant:
      // struct(e.ts, e.event_id) is NEVER null (even with both fields
      // null), so max_by does not skip anything — a no-match grid point
      // is correct only because its group contains exactly ONE null-padded
      // row, whose value struct has null fields → coalesce applies the
      // 0.0 default. A change that mixes null and non-null rows in one
      // group would need real null-key skipping instead.
      joined
        .groupBy(col("g.user_id").as("user_id"), col("g_ts"))
        .agg(max_by(
          struct(col("e.value").as("value"), col("e.event_id").as("event_id")),
          struct(col("e.ts"), col("e.event_id"))).as("top"))
        .select(
          col("user_id"), col("g_ts"),
          coalesce(col("top.value"), lit(0.0)).as("asof_value"),
          col("top.event_id").as("asof_event"))
    }),

    // -- J2 via the custom physical operator (graft.plans.AsOfJoinExec):
    //    same semantics as asof_lookback_join, but one co-partitioned
    //    streaming merge instead of range-join-then-rank ------------------
    "asof_join_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .withColumn("r_us", unix_micros(col("ts")))
      val grid = ev
        .select(
          col("user_id").as("g_user"),
          (to_date(col("ts")).cast("timestamp") + expr("INTERVAL 12 HOURS")).as("g_ts"))
        .distinct()
        .withColumn("g_us", unix_micros(col("g_ts")))
      graft.plans.AsOfJoin(
        grid, ev, "g_user", "user_id", "g_us", "r_us",
        tolerance = 6L * 3600L * 1000000L,
        // exact-ts ties pick max event_id, matching the oracle's
        // ORDER BY ts DESC, event_id DESC — not partition arrival order
        rightTieBreak = Some("event_id"))
        .select(
          col("g_user").as("user_id"), col("g_ts"),
          coalesce(col("value"), lit(0.0)).as("asof_value"),
          col("event_id").as("asof_event"))
    }),

    // -- native as-of join, FORWARD direction ------------------------------
    // The "next event after" semantics (label attachment, reaction-time
    // measurement): for each grid point, the EARLIEST event in
    // [t, t + 6h]. Same one-shuffle-per-side bounded-window merge as the
    // backward native; only the horizon, eviction bound and window end
    // differ (plans/AsOfJoin.scala AsOfForward).
    "asof_join_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .withColumn("r_us", unix_micros(col("ts")))
      val grid = ev
        .select(
          col("user_id").as("g_user"),
          (to_date(col("ts")).cast("timestamp") + expr("INTERVAL 12 HOURS")).as("g_ts"))
        .distinct()
        .withColumn("g_us", unix_micros(col("g_ts")))
      graft.plans.AsOfJoin(
        grid, ev, "g_user", "user_id", "g_us", "r_us",
        tolerance = 6L * 3600L * 1000000L,
        direction = graft.plans.AsOfForward,
        // exact-ts ties pick min event_id, matching the oracle's
        // ORDER BY ts ASC, event_id ASC — data-independent determinism
        rightTieBreak = Some("event_id"))
        .select(
          col("g_user").as("user_id"), col("g_ts"),
          coalesce(col("value"), lit(0.0)).as("next_value"),
          col("event_id").as("next_event"))
    }),

    // -- S3: CSV history scan with header rename + coercion + dropna -------
    // Writes a deterministic CSV (with dirty Close cells) then reads it
    // back the way the reference reads data/history/*.csv
    // (main.py:96-110): header, numeric coercion, drop null OHLC rows.
    "scan_history_csv" -> ((s, dir) => {
      val bars = graft.ops.MarketOps.dailyBars(Tables.events(s, dir))
        .withColumn("Close",
          when(col("volume") % 7 === 0, lit(null)).otherwise(col("close")))
        .select(
          col("date"), col("ticker"), col("open").as("Open"),
          col("high").as("High"), col("low").as("Low"), col("Close"),
          col("volume").as("Volume"))
      // Stage once per SF: the CSV content is a deterministic function of
      // the events table, so an existing _SUCCESS marker means the files
      // are already exactly what this write would produce — UNLESS the
      // events source was regenerated in place, so the marker is also
      // invalidated when any events parquet file is newer than it. The
      // operator under test is the SCAN (S3 reads data/history/*.csv it
      // didn't write); re-staging on every invocation just re-times the
      // writer.
      if (staleStage(new java.io.File(csvDir(dir), "_SUCCESS"), dir)) {
        bars.coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(csvDir(dir))
      }
      s.read.option("header", "true").csv(csvDir(dir))
        .select(
          to_date(col("date")).as("date"),
          col("ticker").cast("long").as("ticker"),
          col("Open").try_cast("double").as("Open"),
          col("High").try_cast("double").as("High"),
          col("Low").try_cast("double").as("Low"),
          col("Close").try_cast("double").as("Close"),
          col("Volume").try_cast("long").as("Volume"))
        .na.drop(Seq("Open", "High", "Low", "Close"))
    }),

    // -- runtime Bloom-filter join: Catalyst's InjectRuntimeFilter builds a
    //    Bloom filter from the SELECTIVE dim side and pushes might_contain
    //    onto the fact scan — rows that cannot join are dropped BEFORE the
    //    shuffle, the standard semi-join reduction that cuts a 100 TB
    //    fact-side shuffle down to the matching fraction. The application-
    //    side threshold (default 10 GB — cluster-sized) is lowered only
    //    while this plan materializes so the demonstration works at test
    //    SF; BloomRuntimeFilterSpec asserts might_contain in the plan.
    //    Exact results regardless of the filter's false positives — the
    //    join itself stays exact; the Bloom filter only prunes. ------------
    "join_bloom_runtime" -> ((s, dir) => {
      // Injection requires a probably-shuffle join: at test SF the dim fits
      // the broadcast threshold (at 100 TB it would not), so broadcast is
      // disabled alongside the scan-size floor for this plan only.
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prevs = keys.map { case (k, _) => k -> s.conf.get(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val dim = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        Tables.lineitem(s, dir).hint("merge")
          .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("n"), revenue.as("revenue"))
          .localCheckpoint()
      } finally prevs.foreach { case (k, v) => s.conf.set(k, v) }
    }),

    // -- §4 "partition pruning by key" as a first-class layout decision ----
    // The store is written partitionBy(event_type) — the engine-side
    // answer to the reference's one-CSV-per-ticker layout (consumer.py:95,
    // main.py:89). The scan then proves BOTH prunings: event_type = 'click'
    // resolves at the DIRECTORY level (partition pruning: 4/5 of the store
    // is never listed, the 100 TB win) and value > 50 pushes into the
    // parquet row-group scan. StoreLayoutSpec asserts the plan shows
    // PartitionFilters + PushedFilters.
    "scan_partitioned_store" -> ((s, dir) => {
      val store = partsDir(dir)
      if (staleStage(new java.io.File(store, "_SUCCESS"), dir)) {
        graft.ops.DerivedStore.writePartitioned(
          Tables.events(s, dir)
            .select(col("event_id"), col("ts"), col("user_id"),
              col("value"), col("event_type")),
          store, Seq("event_type"), overwrite = true)
      }
      s.read.parquet(store)
        .filter(col("event_type") === "click" && col("value") > 50.0)
        .select("event_id", "user_id", "value", "event_type")
    }),

    // -- Z-ORDER layout key: 2-D data skipping as a sort key ---------------
    // scan_partitioned_store prunes on ONE column (the partition key); a
    // store laid out by zkey instead bounds BOTH user_id and event-hour
    // per file, so footer stats prune box predicates on EITHER dimension
    // (ZorderSpec measures the pruning vs both single-dim sorts). Dims
    // are rank-scaled to 16 bits off one broadcast min/max aggregate —
    // raw ids interleave uselessly when their bit widths differ (the
    // narrow dim's bits all sit below the wide dim's, degenerating to a
    // single-dim sort). Integer magnitudes stay < 2^26, so the double
    // division is exact cross-engine. -------------------------------------
    "zorder_layout" -> ((s, dir) => {
      val base = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("hr"))
      val b = base.agg(
        min("user_id").as("u0"), max("user_id").as("u1"),
        min("hr").as("h0"), max("hr").as("h1"))
      base.crossJoin(broadcast(b))
        .withColumn("ux", floor((col("user_id") - col("u0")) * 65535 /
          greatest(col("u1") - col("u0"), lit(1L))).cast("long"))
        .withColumn("hx", floor((col("hr") - col("h0")) * 65535 /
          greatest(col("h1") - col("h0"), lit(1L))).cast("long"))
        .select(col("event_id"), col("ux"), col("hx"),
          graft.ops.LayoutOps.zorder2(col("ux"), col("hx")).as("zkey"))
    }),

    // -- T5 upgrade: event-time tumbling-window aggregation ----------------
    "event_time_window_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day"), col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          graft.ops.Num.dsum(col("value")).as("sum_value"))
        .select(
          col("window.start").as("ws"), col("user_id"),
          col("n"), col("sum_value"))),

    // -- native: broadcast hash join (dim side broadcast) ------------------
    "join_broadcast" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), revenue.as("revenue"))),

    // -- native: shuffle sort-merge join on the fact-fact key --------------
    "join_shuffle" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .hint("merge")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), revenue.as("revenue"))),

    // -- native: shuffled hash join (no sort, build side hashed) -----------
    // The third physical equi-join: when both sides are too big to
    // broadcast but one side's PER-PARTITION build fits memory, hashing
    // beats sort-merge (no sort of either side). The hint pins it so the
    // plan is the demonstrated shape.
    "join_shuffled_hash" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), revenue.as("revenue"))),

    // -- native: theta join (equi prefix + inequality residual) ------------
    // Same-region nation pairs: the equi key (region) drives the hash
    // join and the inequality rides as a residual condition — the shape
    // that keeps a theta join from degenerating into a cross product.
    "join_theta" -> ((s, dir) => {
      val n1 = Tables.nation(s, dir).select(
        col("n_nationkey").as("a_key"), col("n_name").as("a_name"),
        col("n_regionkey").as("a_region"))
      val n2 = Tables.nation(s, dir).select(
        col("n_nationkey").as("b_key"), col("n_name").as("b_name"),
        col("n_regionkey").as("b_region"))
      n1.join(broadcast(n2),
        col("a_region") === col("b_region") && col("a_key") < col("b_key"))
        .select("a_name", "b_name", "a_region")
    }),

    // -- native: left-semi (EXISTS) ----------------------------------------
    "join_semi" -> ((s, dir) => {
      val withOrders = Tables.customer(s, dir).join(
        Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      withOrders.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    }),

    // -- native: left-anti (NOT EXISTS) ------------------------------------
    "join_anti" -> ((s, dir) => {
      val noOrders = Tables.customer(s, dir).join(
        Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      noOrders.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    }),

    // -- native: FULL OUTER reconciliation ---------------------------------
    // The replica/feed reconciliation shape: compare per-customer order
    // counts against per-user event counts keyed on the shared id space,
    // classifying each key as both / orders_only / events_only — the
    // audit every two-system migration runs. Full outer is the one join
    // type AQE cannot broadcast (both sides must keep unmatched rows),
    // so it pins the sort-merge path: both PRE-AGGREGATED sides shuffle
    // once on the key — aggregate-before-join keeps the exchange at
    // per-key cardinality, never raw fact rows. ---------------------------
    "join_full_outer" -> ((s, dir) => {
      // orders restricted to custkey >= 100 so all three presence classes
      // are populated on the testdata id ranges (events users are 0..149)
      val o = Tables.orders(s, dir)
        .filter(col("o_custkey") >= 100)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_orders"))
      val ev = Tables.events(s, dir)
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("n_events"))
      o.join(ev, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          when(col("n_orders").isNotNull && col("n_events").isNotNull, "both")
            .when(col("n_orders").isNotNull, "orders_only")
            .otherwise("events_only").as("presence"))
    }),

    // -- native: rollup over the region/nation hierarchy -------------------
    "agg_rollup" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      c.rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), graft.ops.Num.dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // -- native: cube ------------------------------------------------------
    "agg_cube" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("user_bucket", col("user_id") % 5)
        .cube(col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("n"), graft.ops.Num.dsum(col("value")).as("sum_value"))),

    // -- native: explicit grouping sets ------------------------------------
    "agg_grouping_sets" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("graft_events_gs")
      s.sql(
        """SELECT event_type, user_id % 5 AS user_bucket, count(*) AS n
          |FROM graft_events_gs
          |GROUP BY GROUPING SETS ((event_type), (user_id % 5), ())""".stripMargin)
    }),

    // -- native: exact distinct count --------------------------------------
    "distinct_count" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))),

    // -- native: HLL++ approximate distinct count --------------------------
    // The 100 TB form of distinct_count: a bounded-memory mergeable sketch
    // instead of a per-group hash set, so the shuffle carries ~KB sketches
    // rather than the distinct keys themselves. Sketch estimates are
    // engine-specific, so the oracle-checked output is the PROPERTY, not
    // the estimate: each engine emits the exact count plus a boolean
    // asserting its own sketch landed within 5% of its own exact count.
    // Both engines produce identical rows iff both sketches meet the
    // bound — exactly the guarantee worth checking. (The ScalaTest spec
    // additionally bounds the estimate at the configured 2% target rsd.)
    "approx_distinct_hll" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"),
          (abs(approx_count_distinct(col("user_id"), rsd = 0.02) -
            countDistinct(col("user_id"))).cast("double") <=
            lit(0.05) * countDistinct(col("user_id"))).as("est_within_rsd"))),

    // -- native: exact interpolated percentiles ----------------------------
    // Exact `percentile` is the oracle-checkable form (bit-identical linear
    // interpolation in both engines); at 100 TB the same query swaps in
    // `approx_percentile` (KLL-style mergeable sketch) — same plan shape,
    // bounded state.
    "percentile_value" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"))),

    // -- native: the 100 TB percentile swap-in, oracle-checked as a
    //    PROPERTY (same trick as approx_distinct_hll): sketch estimates
    //    are engine-specific, so each engine emits the exact percentile
    //    plus a boolean asserting its own mergeable sketch (Spark
    //    approx_percentile / DuckDB approx_quantile) landed within 5% of
    //    its own exact value. Rows hash-match iff both sketches meet the
    //    bound — the guarantee a user of the swap-in actually relies on. --
    "percentile_approx_sketch" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50_exact"),
          (abs(expr("approx_percentile(value, 0.5, 1000)") -
            expr("percentile(value, 0.5)")) <=
            lit(0.05) * abs(expr("percentile(value, 0.5)"))).as("p50_within_5pct"),
          expr("percentile(value, 0.99)").as("p99_exact"),
          (abs(expr("approx_percentile(value, 0.99, 1000)") -
            expr("percentile(value, 0.99)")) <=
            lit(0.05) * abs(expr("percentile(value, 0.99)"))).as("p99_within_5pct"))),

    // -- native: correlation / covariance from decimal-exact moments -------
    // Spark's corr()/covar_pop() accumulate doubles, so their bits depend
    // on partition order — unusable under the hash-compare gate. The same
    // statistics from EXACT moments are order-insensitive: Σx, Σy, Σxy,
    // Σx², Σy² accumulate in DECIMAL (2 dp inputs → 4 dp products, exact),
    // and the closed forms are then element-wise IEEE double arithmetic —
    // bit-identical across engines PROVIDED the one decimal→double cast is
    // correctly rounded on both. Spark's is (BigDecimal.doubleValue);
    // DuckDB's native cast is not once the unscaled value passes 2^53
    // (measured at sf0.001 — see the oracle's VARCHAR-route note), so the
    // oracle casts product moments through VARCHAR. Same single
    // partial-agg shuffle as the built-ins; mergeable moments are exactly
    // what a 100 TB corr needs.
    "stats_corr_exact" -> ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x.cast(d2)).cast("double").as("sx"),
          sum(y.cast(d2)).cast("double").as("sy"),
          sum((x.cast(d2) * y.cast(d2))).cast("double").as("sxy"),
          sum((x.cast(d2) * x.cast(d2))).cast("double").as("sxx"),
          sum((y.cast(d2) * y.cast(d2))).cast("double").as("syy"))
        .select(
          col("l_returnflag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("n"))).as("covar_pop_qty_price"))
    }),

    // -- Welch's t-test: the A/B experimentation primitive -----------------
    // Per metric (event_type), compare the deterministic A/B cohorts
    // (user_id parity — the engine's hash-assignment convention) with the
    // unequal-variance t statistic and Welch–Satterthwaite df. ONE pass,
    // one keyed agg: six conditional DECIMAL moments (2 dp inputs → 4 dp
    // squares, exact and order-free), then closed-form element-wise IEEE
    // arithmetic — no quantization needed (sqrt is IEEE-exact), same
    // parity argument as stats_corr_exact, including its VARCHAR-routed
    // square-moment casts in the oracle (the DuckDB decimal→double hole). Mergeable moments are what a
    // 100 TB experiment readout needs: no per-cohort collect, no second
    // scan, partial aggregation all the way down. -------------------------
    "stats_welch_ttest" -> ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val v = col("value").cast(d2)
      val isA = col("user_id") % 2 === 0
      def csum(cond: Column, x: Column) =
        sum(when(cond, x).otherwise(lit(BigDecimal(0)).cast(DecimalType(36, 4)))).cast("double")
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          sum(when(isA, 1L).otherwise(0L)).as("n_a"),
          sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
          csum(isA, v).as("sa"), csum(!isA, v).as("sb"),
          csum(isA, v * v).as("saa"), csum(!isA, v * v).as("sbb"))
        .select(
          col("event_type"), col("n_a"), col("n_b"),
          (col("sa") / col("n_a")).as("mean_a"),
          (col("sb") / col("n_b")).as("mean_b"),
          ((col("saa") - col("sa") * col("sa") / col("n_a")) / (col("n_a") - 1))
            .as("var_a"),
          ((col("sbb") - col("sb") * col("sb") / col("n_b")) / (col("n_b") - 1))
            .as("var_b"))
        .withColumn("se2",
          col("var_a") / col("n_a") + col("var_b") / col("n_b"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          col("mean_a"), col("mean_b"),
          ((col("mean_a") - col("mean_b")) / sqrt(col("se2"))).as("t_stat"),
          ((col("se2") * col("se2")) /
            ((col("var_a") / col("n_a")) * (col("var_a") / col("n_a")) / (col("n_a") - 1) +
              (col("var_b") / col("n_b")) * (col("var_b") / col("n_b")) / (col("n_b") - 1)))
            .as("df"))
    }),

    // -- chi-square independence: cohort × outcome --------------------------
    // Does outcome mix (event_type) depend on the A/B assignment? The
    // categorical counterpart of stats_welch_ttest: one keyed count
    // aggregate builds the contingency table, the expected counts come
    // from broadcast row/column marginals (cells = cohorts × outcomes —
    // bounded by category cardinality, never corpus size), and the
    // statistic folds the per-cell (O−E)²/E terms r6-quantized through a
    // DECIMAL sum so the cross-cell addition is order-free. df from the
    // same cell frame via distinct counts. -------------------------------
    "stats_chi2_independence" -> ((s, dir) => {
      import graft.ops.Num
      // cells is bounded by category cardinality (cohorts × outcomes) but
      // its SUBTREE is an events-wide aggregate referenced four times
      // (marginals + total + the cell frame itself) — r12 measured the
      // broadcast builds missing exchange reuse, re-scanning events 4×
      // (the r12 "cache is a no-op" A/B read unpopulated metrics; see
      // DupSubtreeGateSpec). Checkpointing the tiny frame makes one pass
      // structural rather than an optimizer bet.
      val cells = graft.ops.SessionOps.truncate(
        Tables.events(s, dir)
          .groupBy((col("user_id") % 2 === 0).as("is_a"), col("event_type"))
          .agg(count(lit(1)).as("o")))
      val rowT = cells.groupBy("is_a").agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy("event_type").agg(sum(col("o")).as("ct"))
      val nTot = cells.agg(sum(col("o")).as("n"))
      cells
        .join(broadcast(rowT), "is_a")
        .join(broadcast(colT), "event_type")
        .join(broadcast(nTot))
        .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
        .withColumn("term",
          Num.r6((col("o") - col("e")) * (col("o") - col("e")) / col("e")))
        .agg(
          Num.dsum6(col("term")).as("chi2"),
          ((count_distinct(col("is_a")) - 1) *
            (count_distinct(col("event_type")) - 1)).as("df"))
    }),

    // -- Kolmogorov–Smirnov two-sample test per metric ---------------------
    // Distribution-level A/B readout (Welch compares means; KS catches
    // shape changes means miss): per event_type, D = max |F_A − F_B|
    // over the pooled support. Counts collapse per distinct value FIRST
    // (one keyed agg with map-side combine — the shuffle carries
    // |distinct values|, not rows), then the CDF sweep is a per-metric
    // cumulative window. The within-metric sweep is single-reducer by
    // nature (a CDF is a global order statistic); metrics are few and
    // the swept frame is the distinct-value table, which is the standard
    // scale posture for KS. All-integer cumulatives; the |F_A − F_B|
    // terms are element-wise IEEE on exactly-representable counts, and
    // max needs no order fixing. Nulls are excluded explicitly: the
    // engines disagree on null sort position. -----------------------------
    "stats_ks_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val isA = col("user_id") % 2 === 0
      val pts = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"), col("value"))
        .agg(
          sum(when(isA, 1L).otherwise(0L)).as("da"),
          sum(when(!isA, 1L).otherwise(0L)).as("db"))
      val cum = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = Window.partitionBy("event_type")
      pts
        .withColumn("ca", sum(col("da")).over(cum))
        .withColumn("cb", sum(col("db")).over(cum))
        .withColumn("na", sum(col("da")).over(tot))
        .withColumn("nb", sum(col("db")).over(tot))
        .groupBy(col("event_type"))
        .agg(
          max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(abs(col("ca").cast("double") / col("na") -
            col("cb").cast("double") / col("nb"))).as("ks_d"))
    }),

    // -- §2.10 UDAF superset: typed custom aggregate (VWAP) ----------------
    // weight = props.k + 1 (k ∈ 0..100 from the JSON payload)
    "agg_vwap_custom" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("w",
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long") + 1)
        .groupBy(col("user_id"))
        .agg(graft.ops.VwapAggregator.vwapColumn(col("value"), col("w")).as("vwap"))),

    // -- native: TPC-H q1-style pricing summary (decimal-exact) ------------
    "tpch_q1_pricing" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2024-11-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          graft.ops.Num.dsum(col("l_quantity")).as("sum_qty"),
          graft.ops.Num.dsum(col("l_extendedprice")).as("sum_base_price"),
          revenue.as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (graft.ops.Num.dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))),

    // -- native: TPC-H q6-style forecast-revenue scan ----------------------
    // The pure scan-filter-aggregate archetype: every predicate pushes to
    // the parquet reader (date range prunes row groups via min/max stats;
    // discount/quantity filter on the two read columns), and the single
    // global aggregate is a two-stage partial+final over a DECIMAL(18,2)²
    // product — exact at any accumulation order, so the one output double
    // is cross-engine bit-identical. At 100 TB this query is I/O-bound by
    // construction: 4 columns read, zero shuffle beyond the 1-row final. --
    "tpch_q6_forecast" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(18, 2))).cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))),

    // -- native: TPC-H q14-style promo-revenue ratio -----------------------
    // The conditional-aggregate-over-join archetype: one month of lineitem
    // (predicate at the scan) joins the part dim, then a single
    // aggregate produces both the promo-filtered and total decimal-exact
    // revenues — the ratio is one IEEE division of two exact doubles, so
    // no quantization is needed. part is NOT broadcast-forced: it scales
    // with SF (20 M rows at TPC-H SF100), so the hint stays off and AQE
    // broadcasts it while it fits, downgrading to a key shuffle when it
    // doesn't — a forced hint would OD the driver at 100 TB. -------------
    "tpch_q14_promo" -> ((s, dir) => {
      val promoRev = sum(when(col("p_type") === "PROMO",
        col("l_extendedprice").cast(DecimalType(9, 2)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(3, 2)))).cast("double")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .agg(promoRev.as("promo_rev"), revenue.as("total_rev"))
        .select(col("promo_rev"), col("total_rev"),
          (lit(100.0) * col("promo_rev") / col("total_rev")).as("promo_pct"))
    }),

    // -- native: TPC-H q18-style large-order customers ---------------------
    // The aggregate-then-semi-join archetype (the HAVING-subquery family):
    // sum lineitem quantity per order FIRST (map-side partial combine
    // collapses each order's lines before the shuffle), keep the rare
    // orders above the threshold, and only then touch the orders/customer
    // dims. The selective agg result is order-proportional (it merely
    // FILTERS the per-order sums), so it carries no broadcast hint — AQE
    // sees its true post-filter size at runtime and broadcasts it while
    // small; the fact table shuffles once (keyed l_orderkey) either
    // way. Quantity sums are DECIMAL-accumulated (order-free,
    // Num.dsum) and the top-100 is TakeOrderedAndProject with a full
    // tiebreak. The wrong plan — join first, aggregate after — would
    // shuffle orders×lineitem; the explicit agg-first shape is what q18
    // exists to exercise. ------------------------------------------------
    "tpch_q18_large_orders" -> ((s, dir) => {
      val bigOrders = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(graft.ops.Num.dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300.0)
      Tables.orders(s, dir)
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // -- native: TPC-H q10-style returned-item revenue ---------------------
    // The fact-to-fact-to-dim archetype with a top-k over a grouped join:
    // both filters (returnflag on lineitem, the quarter window on orders)
    // push to their scans BEFORE the join, so the l_orderkey shuffle moves
    // only the ~25% returned lines of one quarter. customer is NOT
    // broadcast-forced: it scales with SF (15 M rows at TPC-H SF100), so
    // the plan must stay a key-shuffled join that AQE may downgrade to
    // broadcast at small SFs — forcing broadcast here would be a plan that
    // dies at 100 TB. Top-20 is TakeOrderedAndProject with c_custkey
    // tiebreak. ----------------------------------------------------------
    "tpch_q10_returns" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),

    // -- native: TPC-H q19-style disjunctive bracket predicates ------------
    // Three (brand, size, quantity) brackets OR-ed together — the planner
    // test is what survives pushdown: the disjunction references both
    // sides, but its single-table envelopes (p_size BETWEEN 1 AND 15 on
    // part, l_quantity BETWEEN 1 AND 30 on lineitem) are planted as
    // explicit pre-join filters, the CNF residue Spark itself cannot
    // extract from an OR-of-ANDs — so both scans prune before the join
    // and the exact bracket predicate evaluates on the survivors. The
    // three-brand part slice is small RELATIVE to part but still scales
    // with SF (~12% of the catalog), so no broadcast hint — AQE
    // broadcasts the runtime-sized slice while it fits. -----------------
    "tpch_q19_brackets" -> ((s, dir) => {
      val bracket =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      Tables.lineitem(s, dir)
        .filter(col("l_quantity").between(1, 30))
        .join(Tables.part(s, dir)
          .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
            col("p_size").between(1, 15)),
          col("l_partkey") === col("p_partkey"))
        .filter(bracket)
        .agg(count(lit(1)).as("n"), revenue.as("revenue"))
    }),

    // -- native: TPC-H q22-style scalar-subquery + anti-join ---------------
    // Customers with above-average balance and NO urgent orders: the
    // average is a 1-row aggregate broadcast into the filter (a scalar
    // that both engines derive from the same DECIMAL-exact sum, so the
    // threshold comparison is bit-deterministic); the "no urgent orders"
    // test is a LEFT ANTI join against the filtered orders projection —
    // the anti side carries only o_custkey, so at scale it is a
    // one-column shuffle, not an orders scan into a NOT IN. -------------
    "tpch_q22_untapped" -> ((s, dir) => {
      val avgBal = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 0.0)
        .agg(graft.ops.Num.davg(col("c_acctbal")).as("avg_bal"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      Tables.customer(s, dir)
        .join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          graft.ops.Num.dsum(col("c_acctbal")).as("total_bal"))
    }),

    // -- native: TPC-H q4-style EXISTS → semi-join group count -------------
    // "Orders of one quarter with at least one late-shipped line, counted
    // by priority" (adapted: the testdata lineitem carries no commit/
    // receipt dates, so late = l_shipdate AFTER the order date — the same
    // correlated-EXISTS archetype on the columns that exist). The planner
    // shape under test: the EXISTS compiles to ONE left-semi join keyed on
    // orderkey whose probe side carries two columns — never a count/
    // distinct materialization of the subquery, and the quarter filter
    // prunes the orders scan BEFORE the join. The non-equi part of the
    // correlation (l_shipdate > o_orderdate) rides the semi-join as a
    // residual condition on the equi key, not a range-join explosion. ----
    "tpch_q4_priority" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))),

    // -- native: TPC-H q12-style conditional aggregation over a join -------
    // Per line status, how many lines of one ship-year belong to
    // critical-priority orders vs the rest (adapted from q12's shipmode to
    // the columns that exist). The archetype: a fact-fact equi-join where
    // the aggregate pivots on a CASE over the OTHER side's attribute —
    // both counts come out of ONE pass over the joined rows (no
    // per-priority re-scan), the ship-year filter prunes the lineitem
    // scan, and the join carries only (orderkey, linestatus) against
    // (orderkey, priority). -----------------------------------------------
    "tpch_q12_latemix" -> ((s, dir) => {
      val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!crit, 1L).otherwise(0L)).as("low_line_count"))
    }),

    // -- native: TPC-H q13-style outer-join count distribution -------------
    // The customers-per-order-count histogram INCLUDING the zero bucket —
    // the archetype an inner join silently gets wrong (customers with no
    // qualifying orders vanish instead of landing in c_count = 0). LEFT
    // OUTER keyed on custkey, count(o_custkey) so NULL probe misses count
    // as zero, then a second (tiny) aggregation keyed by the count value.
    // At scale: the first agg shuffles by custkey — same key as the join,
    // so AQE plans them in one exchange — and the histogram agg moves
    // |distinct counts| rows. The priority exclusion stands in for q13's
    // o_comment NOT LIKE (no comment column in the testdata). -------------
    "tpch_q13_custdist" -> ((s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    // -- native: TPC-H q17-style correlated scalar AVG ---------------------
    // "Revenue lost to small orders": lines of one brand's small parts
    // whose quantity is under 20% of that PART's average quantity — the
    // correlated-scalar-subquery archetype (`l_quantity < 0.2 * (SELECT
    // avg ... WHERE l2.l_partkey = p_partkey)`). The decorrelation IS the
    // query's point: the per-part average is ONE groupBy over the lines
    // of qualifying parts — computed once, joined back by partkey — never
    // a per-row subquery re-scan. Both sides of the comparison are exact
    // (decimal-accumulated avg → double; 0.2·avg is one IEEE multiply) so
    // the threshold test is bit-deterministic cross-engine. At 100 TB:
    // the filtered part list and the |qualifying parts|-row avg table
    // both GROW with SF, so neither carries a broadcast hint — AQE
    // broadcasts them into the fact passes while they fit (the bench
    // shape) and falls back to partkey-shuffled joins when they don't;
    // the aggregate stays map-side partial either way.
    // (Deliberately the agg + join-back decorrelation flavor — zero fact
    // shuffle, two scans; q21 shows the windowed one-pass flavor, which
    // trades one fact shuffle for one scan. Both are right shapes; which
    // wins at 100 TB depends on scan cost vs shuffle cost.)
    // (Adapted: p_size <= 10 stands in for q17's p_container, which the
    // testdata part table doesn't carry.) ---------------------------------
    "tpch_q17_smallqty" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#23" && col("p_size") <= 10)
        .select(col("p_partkey"))
      def lines = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(parts, col("l_partkey") === col("p_partkey"))
      val partAvg = lines
        .groupBy(col("l_partkey").as("a_partkey"))
        .agg(graft.ops.Num.davg(col("l_quantity")).as("avg_qty"))
      lines
        .join(partAvg, col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(
          (graft.ops.Num.dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_small"))
    }),

    // -- native: TPC-H q21-style EXISTS + NOT EXISTS chain -----------------
    // "Suppliers who kept orders waiting": late lines (q4's adaptation:
    // shipped after the order date) of finished orders where ANOTHER
    // supplier has a line in the same order (EXISTS) but NO other
    // supplier's line is late (NOT EXISTS) — the double-correlated-
    // subquery archetype. The scale rewrite: both subqueries collapse
    // into per-order window stats — n_supp = distinct suppliers in the
    // order, n_late_supp = distinct suppliers with a late line — and a
    // late line qualifies iff n_supp >= 2 && n_late_supp == 1 (the only
    // late supplier, with company present). The window form computes
    // both on the SAME orderkey shuffle the fact already pays, in one
    // pass — where the textbook semi/anti plan self-joins lineitem
    // twice — the decorrelation that makes q21 runnable at 100 TB.
    // supplier scales with SF, so its name lookup is hint-free (AQE
    // size-decides); the top-100 is
    // TakeOrderedAndProject with the s_name tiebreak. ---------------------
    "tpch_q21_waiting" -> ((s, dir) => {
      val lo = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", col("l_shipdate") > col("o_orderdate"))
      // Both per-order distinct-supplier counts ride ONE unbounded window
      // over the orderkey partition (Spark evaluates an unbounded window
      // aggregate once per partition, not per row) — a single fact pass
      // and a single orderkey shuffle, where a groupBy + join-back shape
      // would scan the joined fact twice and shuffle it a second time
      // for the join. collect_set drops nulls, so the conditional
      // distinct count is the same `when` idiom as the aggregate form.
      val w = Window.partitionBy(col("l_orderkey"))
      lo.withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
        .withColumn("n_late_supp",
          size(collect_set(when(col("late"), col("l_suppkey"))).over(w)))
        .filter(col("late"))
        .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
        // supplier scales with SF — no hint; AQE sizes the name lookup.
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // -- native: TPC-H q2-style correlated MIN + dim chain -----------------
    // "The cheapest source for each part in one region": the testdata has
    // no partsupp, so the offer price is the observed unit price
    // l_extendedprice / l_quantity of each shipment — the correlated-MIN
    // archetype is unchanged (`cost = (SELECT min(...) WHERE l2.l_partkey
    // = p_partkey)`). Decorrelated the same way as q17: per-part min over
    // the region-restricted offers computed ONCE, joined back on
    // (partkey, cost == min). Only the true dims (nation, region) carry
    // broadcast hints; the one-region supplier list, the filtered part
    // list, and the per-partkey min table all grow with SF, so those
    // joins are left to AQE — broadcast while they fit, key-shuffled
    // when they don't. Unit price is one IEEE divide of raw doubles and min/
    // equality over identical sets — bit-deterministic cross-engine with
    // no quantization. Top-100 rides the full (acctbal desc, nation,
    // supplier, part) tiebreak, which is total over distinct rows. ------
    "tpch_q2_mincost" -> ((s, dir) => {
      val eur = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val parts = Tables.part(s, dir)
        .filter(col("p_size") <= 15 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_name"))
      // The correlated min-cost subquery as a WINDOW over the offers
      // join instead of a rebuilt copy: the r12 shape constructed
      // `offers` twice (agg side + probe side) and the optimizer's
      // exchange-reuse bet missed, re-executing the whole two-join chain
      // (2 passes over lineitem/part/supplier/nation measured, r13
      // gate). The window's per-part min is the same order-free double
      // min, so kept rows are identical; one extra p_partkey exchange
      // over the FILTERED offers rows replaces re-scanning and re-joining
      // everything — the cheaper side at any scale where q2's filters
      // are selective (their point in TPC-H).
      val offers = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(eur, col("l_suppkey") === col("s_suppkey"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
      offers
        .withColumn("min_cost", min(col("unit_cost")).over(w))
        .filter(col("unit_cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("min_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // -- native: TPC-H q7-style nation-pair volume -------------------------
    // Shipping volume between two nations, by direction and year — the
    // self-aliased-dimension archetype (nation joins the query TWICE, as
    // the supplier's and the customer's country) with a disjunctive pair
    // predicate across the two aliases. The scale move: the nation filter
    // is pushed INTO each dim before the fact joins — supplier and
    // customer are pre-restricted to the two nations (both scale with
    // SF, so BOTH keep hint-free joins like q10 and AQE size-decides;
    // only the 25-row nation lookups are hint-broadcast), so the fact
    // rows that survive to the
    // pair test are already both-sided candidates and the OR evaluates on
    // a tiny residue — never a 25×25 nation cross product on the full
    // fact. Year extraction is one deterministic integer both engines
    // agree on; revenue is the decimal-exact sum. ------------------------
    "tpch_q7_volume" -> ((s, dir) => {
      def natside(prefix: String) = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_3", "NATION_7"))
        .select(col("n_nationkey").as(s"${prefix}_nk"),
          col("n_name").as(s"${prefix}_nation"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(natside("supp")), col("s_nationkey") === col("supp_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(natside("cust")), col("c_nationkey") === col("cust_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(
          (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(revenue.as("revenue"))
    }),

    // -- native: TPC-H q15-style top supplier (max-of-aggregate) -----------
    // The aggregate-over-aggregate scalar-subquery archetype (q15's view +
    // `WHERE total = (SELECT max(total) FROM view)`): per-supplier quarter
    // revenue is ONE decimal-exact groupBy; the max is a 1-row reduction
    // of that |suppliers|-sized table broadcast back into the equality
    // filter — never recomputed per probe row. `rev` is CACHED because it
    // has two consumers (the scalar max and the probe side) and the
    // physical planner does NOT reuse the exchange across them
    // (r11-measured: 0 ReusedExchangeExec, the quarter-pruned scan +
    // suppkey shuffle ran twice; caching cut warm time 0.57->0.44 s at
    // sf0.1). cache() over localCheckpoint deliberately: the cached
    // segment keeps its lineage, so the scan width/pushdown audits still
    // see the lineitem scan (PlanAudit descends into cached plans) —
    // localCheckpoint measured marginally faster but blinds them. The
    // cached table is dimension-sized (|suppliers| rows), safe to pin at
    // any SF. All ties
    // return (no LIMIT), so the result is deterministic without a
    // tiebreak; the revenue double comes from the same exact decimal in
    // both engines, so the max-equality test is bit-safe. At 100 TB the
    // quarter filter prunes the fact scan and the per-supplier table is
    // dimension-sized. ---------------------------------------------------
    "tpch_q15_topsupp" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(revenue.as("total_revenue"))
        .cache()
      val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev
        .join(broadcast(maxRev))
        .filter(col("total_revenue") === col("max_rev"))
        // supplier scales with SF — hint-free; AQE sizes the name lookup.
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),

    // -- native: TPC-H q8-style market share -------------------------------
    // One supplier-nation's share of a region's import revenue, by order
    // year — the conditional-ratio-over-a-deep-join archetype: the share
    // numerator is a CASE over the SUPPLIER side's nation while the row
    // population is defined by the CUSTOMER side's region, so both dim
    // chains must survive into one aggregate. Scale shape: the part
    // slice and the region-restricted customer list prune the fact
    // before the wide join; supplier⋈nation rides hint-free as the
    // marker column (SF-proportional — AQE broadcasts it while it
    // fits); numerator and denominator come out of ONE pass (two
    // decimal-exact sums), and the share is a single IEEE divide. ------
    "tpch_q8_marketshare" -> ((s, dir) => {
      val suppNat = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val asiaCust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("cn_nk"), col("n_regionkey"))),
          col("c_nationkey") === col("cn_nk"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val amt = col("l_extendedprice").cast(DecimalType(9, 2)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(3, 2))
      Tables.lineitem(s, dir)
        // part slice and supplier⋈nation both scale with SF — hint-free.
        .join(Tables.part(s, dir)
          .filter(col("p_type") === "STANDARD").select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", amt)).cast("double").as("nation_rev"),
          sum(amt).cast("double").as("total_rev"))
        .select(col("o_year"), col("nation_rev"), col("total_rev"),
          (coalesce(col("nation_rev"), lit(0.0)) / col("total_rev")).as("mkt_share"))
    }),

    // -- native: TPC-H q9-style product-type profit ------------------------
    // Profit by supplier nation and order year over a part-name slice —
    // the derived-measure-over-the-widest-join archetype (q9 joins six
    // tables and aggregates an expression mixing three of them). The
    // testdata has no partsupp, so supply cost is adapted to half the
    // part's retail price — the measure keeps q9's exact shape:
    // revenue(lineitem) − cost(part)·quantity(lineitem), every term
    // decimal-cast so the per-row amount and the sum are exact in both
    // engines, with ONE double conversion at the end. Scale shape: the
    // name-slice prunes the fact first and supplier⋈nation rides the
    // same hint-free pattern (both are SF-proportional; AQE
    // size-decides), and only the orders join (for the year) shuffles
    // the fact — grouped output is |nations|×|years|. --------------------
    "tpch_q9_profit" -> ((s, dir) => {
      val amount =
        col("l_extendedprice").cast(DecimalType(9, 2)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(3, 2)) -
          col("p_retailprice").cast(DecimalType(9, 2)) *
            col("l_quantity").cast(DecimalType(4, 0)) *
            lit(0.5).cast(DecimalType(2, 1))
      val suppNat = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("sn_nk"), col("n_name"))),
          col("s_nationkey") === col("sn_nk"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.lineitem(s, dir)
        // part slice and supplier⋈nation both scale with SF — hint-free.
        .join(Tables.part(s, dir)
          .filter(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
    }),

    // -- native: TPC-H q11-style group-vs-global-fraction ------------------
    // Parts whose shipped value exceeds a fixed fraction of ALL shipped
    // value — the HAVING-against-a-scalar-subquery archetype (q11's
    // important-stock filter; adapted from partsupp, which the testdata
    // lacks, to lineitem shipped value). Scale shape: BOTH sums come out
    // of one fact scan family (the per-part groupBy and the 1-row global
    // reduce), the global total broadcasts back into the HAVING as a
    // scalar, and the threshold multiply is one IEEE op on the
    // decimal-exact total — never a per-group re-aggregation. The
    // fraction is 1.2 / |parts| — q11's own convention (its spec scales
    // the fraction by 1/SF) expressed intrinsically, so the query keeps
    // ~the same selectivity (parts above 1.2× the mean share) at every
    // scale instead of emptying as the catalog grows. --------------------
    "tpch_q11_important" -> ((s, dir) => {
      // r16 (guide §1.2 — one pass, not two): the global threshold
      // re-aggregates the per-part DECIMAL sums instead of re-scanning
      // lineitem (profiled: two concurrent full fact scans, ~0.5 s
      // each). Decimal addition is exact and associative, so
      // sum(per-group decimal sums) == the old whole-column dsum to the
      // bit, and its double cast — the threshold — is unchanged;
      // count(l_partkey) over the grouped rows == countDistinct over the
      // raw rows (groupBy dedups, count skips the null group). The two
      // consumers share the groupBy exchange via reuse, so the fact is
      // scanned and partially aggregated ONCE.
      val perPartDec = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(27, 2))).as("pv_dec"))
      // nullif on the divisor: a degraded input with every part key
      // nulled must yield a null threshold (empty result), not an ANSI
      // DIVIDE_BY_ZERO — the q20 null-fuzz lesson applied at authoring
      // time.
      val total = perPartDec
        .agg((sum(col("pv_dec")).cast("double") * lit(1.2) /
          nullif(count(col("l_partkey")), lit(0))).as("threshold"))
      perPartDec
        .select(col("l_partkey"), col("pv_dec").cast("double").as("part_value"))
        .join(broadcast(total))
        .filter(col("part_value") > col("threshold"))
        .select(col("l_partkey"), col("part_value"))
    }),

    // -- native: TPC-H q16-style distinct-count with exclusion -------------
    // How many DISTINCT suppliers ship each (brand, type, size) slice,
    // excluding a denylist — the count-distinct-over-join-minus-anti
    // archetype. The denylist (q16's complaint suppliers; adapted to
    // negative account balance, the column that exists) is a LEFT ANTI
    // join whose right side carries only the key — the same one-column
    // anti shape as q22. The distinct count keys the shuffle on the
    // group attrs; the part slice joins hint-free (SF-proportional) and
    // its negated brand predicate still pushes to the part scan. --------
    "tpch_q16_suppcnt" -> ((s, dir) => {
      val excl = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0.0)
        .select(col("s_suppkey"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"))
        // the part slice scales with SF — hint-free; AQE size-decides.
        .join(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#45" && col("p_size") <= 20)
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .join(excl, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // -- native: TPC-H q20-style nested semi-join with correlated agg ------
    // Suppliers who shipped, of some part in one name-slice and one
    // year, more than 2× that part's average per-supplier volume —
    // q20's excess-stock chain (supplier IN (... WHERE qty > correlated
    // agg)) with the availqty term adapted to shipped quantity. The
    // correlated aggregate decorrelates exactly like q17: the per-part
    // average builds ONCE from the same sliced fact pass and joins back
    // hint-free (it scales with the part slice — AQE broadcasts it
    // while it fits); qualifying (supplier, part) rows then collapse to a
    // supplier list that SEMI-joins the supplier dim — the dim is never
    // widened, mirroring q20's IN-chain. The 2× threshold is one IEEE
    // multiply by a power of two on exact inputs — bit-safe. -------------
    "tpch_q20_excess" -> ((s, dir) => {
      // null supplier keys can never qualify (the closing semi-join is an
      // equi-match) — drop them AT the slice, so the per-part average
      // divides by the count of real suppliers and a part whose only
      // lines carry null keys simply vanishes instead of feeding the
      // ANSI divide a zero count (null-fuzz-sweep-proven).
      def sliced = Tables.lineitem(s, dir)
        .filter(col("l_suppkey").isNotNull &&
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        // part slice and per-part avg both scale with SF — hint-free.
        .join(Tables.part(s, dir)
          .filter(col("p_name").like("%red%")).select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(graft.ops.Num.dsum(col("l_quantity")).as("supp_qty"))
      val perPartAvg = sliced
        .groupBy(col("l_partkey").as("a_partkey"))
        .agg((graft.ops.Num.dsum(col("supp_qty")) /
          count(col("l_suppkey"))).as("avg_qty"))
      val qualifying = sliced
        .join(perPartAvg, col("l_partkey") === col("a_partkey"))
        .filter(col("supp_qty") > lit(2.0) * col("avg_qty"))
        .select(col("l_suppkey"))
      Tables.supplier(s, dir)
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    }),

    // -- native: TPC-H q3-style 3-way join + top-k -------------------------
    // Filters applied BEFORE the joins so they push to the parquet scans;
    // the segment-filtered customer list scales with SF, so it joins
    // hint-free (AQE broadcasts it while it fits); orderBy+limit plans as
    // TakeOrderedAndProject (no global sort materialization). Tiebreak on
    // (o_orderdate, l_orderkey) makes the top-10 deterministic.
    "tpch_q3_shipping" -> ((s, dir) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > cutoff)
        .join(Tables.orders(s, dir).filter(col("o_orderdate") < cutoff),
          col("l_orderkey") === col("o_orderkey"))
        .join(building, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // -- skew-join salting: the static answer to a hot key -----------------
    // A synthetic 90%-hot key (l_orderkey%100 < 90 → 0) makes an unsalted
    // shuffle join put 90% of the fact in ONE task. Salting shards the hot
    // key's rows across 8 deterministic salts and replicates the dim row
    // ×8 via explode, so the join key (k, salt) spreads the hot key over 8
    // tasks. AQE's skew-join split is the runtime alternative; salting is
    // the plan-level shape that works even where AQE can't (e.g. a
    // skewed aggregation or a stateful streaming join). The merge hint
    // forces the shuffle join — broadcast would hide the skew entirely.
    "join_skew_salted" -> ((s, dir) => {
      val SALTS = 8
      val fact = Tables.lineitem(s, dir)
        .withColumn("k",
          when(col("l_orderkey") % 100 < 90, lit(0L))
            .otherwise(col("l_orderkey") % 100))
        .withColumn("salt", pmod(col("l_orderkey") + col("l_linenumber"), lit(SALTS)))
      val dim = Tables.orders(s, dir)
        .groupBy((col("o_orderkey") % 100).as("k"))
        .agg(min(col("o_orderpriority")).as("label"))
        .withColumn("salt", explode(array((0 until SALTS).map(lit(_)): _*)))
      fact.hint("merge")
        .join(dim, Seq("k", "salt"))
        .groupBy(col("k"), col("label"))
        .agg(count(lit(1)).as("n"), revenue.as("revenue"))
    }),

    // -- the RUNTIME answer to the same skew: AQE's OptimizeSkewedJoin -----
    // Identical query and result as join_skew_salted, but the hot
    // partition is split by AQE at runtime from observed map-output sizes
    // instead of being pre-sharded in the plan. Thresholds are lowered
    // for the bench SFs (the 256 MB default is cluster-scale; conf
    // save/restore scoped to this plan only, the join_bloom_runtime
    // pattern) and the skew split is plan-asserted in SkewJoinSpec.
    // Salting vs AQE is a real trade: AQE needs no key surgery but only
    // covers shuffle JOINS — a skewed aggregation or stateful streaming
    // join still needs the salted shape. ----------------------------------
    "join_skew_aqe" -> ((s, dir) => {
      val keys = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        // the SMJ feeds a same-keyed aggregate, so the skew split costs a
        // re-shuffle of the (k-sized) aggregate input; force accepts that
        // trade — splitting the one hot partition dominates at scale
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prevs = keys.map { case (k, _) => k -> s.conf.get(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      try skewJoinPlan(s, dir).localCheckpoint()
      finally prevs.foreach { case (k, v) => s.conf.set(k, v) }
    }),

    // -- native: TPC-H q5-style 6-way star join ----------------------------
    // Only the region→nation chain is hint-broadcast (25/5 rows at any
    // SF); lineitem⨝orders is the one genuine shuffle; supplier and
    // customer both scale with SF so both are left to AQE, which
    // broadcasts them at bench scale and shuffles them at cluster
    // scale. The c_nationkey = s_nationkey "local supplier" predicate rides
    // the customer join, not a separate join.
    "tpch_q5_local_supplier" -> ((s, dir) => {
      val asiaNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(revenue.as("revenue"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "asof_lookback_join" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 12 HOUR AS g_ts
        |  FROM events
        |)
        |SELECT user_id, g_ts, asof_value, asof_event FROM (
        |  SELECT g.user_id, g.g_ts,
        |         coalesce(e.value, 0.0) AS asof_value,
        |         e.event_id AS asof_event,
        |         row_number() OVER (PARTITION BY g.user_id, g.g_ts
        |                            ORDER BY e.ts DESC NULLS LAST, e.event_id DESC NULLS LAST) AS rn
        |  FROM grid g LEFT JOIN events e
        |    ON g.user_id = e.user_id
        |   AND e.ts >= g.g_ts - INTERVAL 6 HOUR AND e.ts <= g.g_ts
        |) WHERE rn = 1""".stripMargin,

    "asof_join_native" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 12 HOUR AS g_ts
        |  FROM events
        |)
        |SELECT user_id, g_ts, asof_value, asof_event FROM (
        |  SELECT g.user_id, g.g_ts,
        |         coalesce(e.value, 0.0) AS asof_value,
        |         e.event_id AS asof_event,
        |         row_number() OVER (PARTITION BY g.user_id, g.g_ts
        |                            ORDER BY e.ts DESC NULLS LAST, e.event_id DESC NULLS LAST) AS rn
        |  FROM grid g LEFT JOIN events e
        |    ON g.user_id = e.user_id
        |   AND e.ts >= g.g_ts - INTERVAL 6 HOUR AND e.ts <= g.g_ts
        |) WHERE rn = 1""".stripMargin,

    "asof_join_forward" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 12 HOUR AS g_ts
        |  FROM events
        |)
        |SELECT user_id, g_ts, next_value, next_event FROM (
        |  SELECT g.user_id, g.g_ts,
        |         coalesce(e.value, 0.0) AS next_value,
        |         e.event_id AS next_event,
        |         row_number() OVER (PARTITION BY g.user_id, g.g_ts
        |                            ORDER BY e.ts ASC NULLS LAST, e.event_id ASC NULLS LAST) AS rn
        |  FROM grid g LEFT JOIN events e
        |    ON g.user_id = e.user_id
        |   AND e.ts >= g.g_ts AND e.ts <= g.g_ts + INTERVAL 6 HOUR
        |) WHERE rn = 1""".stripMargin,

    "scan_history_csv" ->
      s"""SELECT CAST(date AS DATE) AS date, ticker, Open, High, Low,
         |       TRY_CAST(Close AS DOUBLE) AS Close, Volume
         |FROM read_csv('$CSV_DIR/sf0.01/*.csv', header = true,
         |              columns = {'date': 'VARCHAR', 'ticker': 'BIGINT',
         |                         'Open': 'DOUBLE', 'High': 'DOUBLE', 'Low': 'DOUBLE',
         |                         'Close': 'VARCHAR', 'Volume': 'BIGINT'})
         |WHERE Open IS NOT NULL AND High IS NOT NULL AND Low IS NOT NULL
         |  AND TRY_CAST(Close AS DOUBLE) IS NOT NULL""".stripMargin,

    "event_time_window_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, user_id, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "join_broadcast" ->
      s"""SELECT p_brand, count(*) AS n, $REV_SQL AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,

    "join_bloom_runtime" ->
      s"""SELECT count(*) AS n, $REV_SQL AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "join_shuffle" ->
      s"""SELECT o_orderpriority, count(*) AS n, $REV_SQL AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin,

    "join_shuffled_hash" ->
      s"""SELECT o_orderstatus, count(*) AS n, $REV_SQL AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus""".stripMargin,

    "join_theta" ->
      """SELECT a.n_name AS a_name, b.n_name AS b_name, a.n_regionkey AS a_region
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""".stripMargin,

    "join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "join_full_outer" ->
      """WITH o AS (
        |  SELECT o_custkey AS k, count(*) AS n_orders
        |  FROM orders WHERE o_custkey >= 100 GROUP BY o_custkey
        |), ev AS (
        |  SELECT user_id AS k, count(*) AS n_events
        |  FROM events GROUP BY user_id
        |)
        |SELECT coalesce(o.k, ev.k) AS k,
        |       coalesce(o.n_orders, 0) AS n_orders,
        |       coalesce(ev.n_events, 0) AS n_events,
        |       CASE WHEN o.k IS NOT NULL AND ev.k IS NOT NULL THEN 'both'
        |            WHEN o.k IS NOT NULL THEN 'orders_only'
        |            ELSE 'events_only' END AS presence
        |FROM o FULL OUTER JOIN ev ON o.k = ev.k""".stripMargin,

    "agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(27,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "agg_cube" ->
      """SELECT event_type, user_id % 5 AS user_bucket, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, user_id % 5)""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT event_type, user_id % 5 AS user_bucket, count(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id % 5), ())""".stripMargin,

    "distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // approx_distinct_hll: the estimates themselves are engine-specific,
    // so each engine checks its own sketch against its own exact count —
    // the rows (exact count + in-bound boolean) hash-match iff both
    // engines' sketches meet the 5% bound.
    "approx_distinct_hll" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(*) AS n,
        |       CAST(abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) AS DOUBLE)
        |         <= 0.05 * count(DISTINCT user_id) AS est_within_rsd
        |FROM events GROUP BY event_type""".stripMargin,

    "percentile_value" ->
      """SELECT event_type,
        |       quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.9) AS p90,
        |       quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY event_type""".stripMargin,

    "scan_partitioned_store" ->
      """SELECT event_id, user_id, value, event_type
        |FROM events WHERE event_type = 'click' AND value > 50.0""".stripMargin,

    "zorder_layout" ->
      s"""WITH base AS (
         |  SELECT event_id, user_id,
         |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
         |  FROM events
         |), b AS (
         |  SELECT min(user_id) AS u0, max(user_id) AS u1,
         |         min(hr) AS h0, max(hr) AS h1
         |  FROM base
         |), scaled AS (
         |  SELECT event_id,
         |         CAST(floor((user_id - u0) * 65535 / greatest(u1 - u0, 1)) AS BIGINT) AS ux,
         |         CAST(floor((hr - h0) * 65535 / greatest(h1 - h0, 1)) AS BIGINT) AS hx
         |  FROM base, b
         |)
         |SELECT event_id, ux, hx,
         |       ${graft.ops.LayoutOps.zorder2Sql("ux", "hx")} AS zkey
         |FROM scaled""".stripMargin,

    // The product-moment sums route DECIMAL -> VARCHAR -> DOUBLE: DuckDB's
    // native DECIMAL->DOUBLE cast is TWO-step rounded (int128 to double,
    // then the scale divide), off by 1 ulp once the unscaled value passes
    // 2^53 — measured at sf0.001, where syy's 14193573937671737/2000 cast
    // to ...835.869 instead of the correctly-rounded ...835.868 Spark's
    // BigDecimal.doubleValue() produces, flipping corr's last bit. The
    // string route is correctly rounded (strtod), restoring bit parity at
    // every SF. Scale-2 plain sums stay on the native cast (their unscaled
    // values sit far below 2^53 at any tested SF).
    "stats_corr_exact" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |         count(*) AS n,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
        |         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       (n * sxy - sx * sy) /
        |         (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
        |       (n * sxy - sx * sy) / (n * n) AS covar_pop_qty_price
        |FROM m""".stripMargin,

    "stats_welch_ttest" ->
      """WITH m AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sa,
        |         CAST(sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sb,
        |         CAST(CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(36,4)) END) AS VARCHAR) AS DOUBLE) AS saa,
        |         CAST(CAST(sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(36,4)) END) AS VARCHAR) AS DOUBLE) AS sbb
        |  FROM events GROUP BY event_type
        |), v AS (
        |  SELECT event_type, n_a, n_b,
        |         sa / n_a AS mean_a, sb / n_b AS mean_b,
        |         (saa - sa * sa / n_a) / (n_a - 1) AS var_a,
        |         (sbb - sb * sb / n_b) / (n_b - 1) AS var_b
        |  FROM m
        |), s AS (
        |  SELECT *, var_a / n_a + var_b / n_b AS se2 FROM v
        |)
        |SELECT event_type, n_a, n_b, mean_a, mean_b,
        |       (mean_a - mean_b) / sqrt(se2) AS t_stat,
        |       (se2 * se2) /
        |         ((var_a / n_a) * (var_a / n_a) / (n_a - 1) +
        |          (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS df
        |FROM s""".stripMargin,

    "stats_chi2_independence" ->
      s"""WITH cells AS (
         |  SELECT user_id % 2 = 0 AS is_a, event_type, count(*) AS o
         |  FROM events GROUP BY 1, 2
         |), rt AS (SELECT is_a, sum(o) AS rt FROM cells GROUP BY is_a),
         |ct AS (SELECT event_type, sum(o) AS ct FROM cells GROUP BY event_type),
         |nt AS (SELECT sum(o) AS n FROM cells),
         |terms AS (
         |  SELECT c.is_a, c.event_type,
         |         ${graft.ops.Num.R6_SQL(
                     "(c.o - CAST(rt.rt AS DOUBLE) * ct.ct / nt.n) * (c.o - CAST(rt.rt AS DOUBLE) * ct.ct / nt.n) / (CAST(rt.rt AS DOUBLE) * ct.ct / nt.n)")} AS term
         |  FROM cells c JOIN rt USING (is_a) JOIN ct USING (event_type), nt
         |)
         |SELECT ${graft.ops.Num.DSUM6_SQL("term")} AS chi2,
         |       (count(DISTINCT is_a) - 1) * (count(DISTINCT event_type) - 1) AS df
         |FROM terms""".stripMargin,

    "stats_ks_test" ->
      """WITH pts AS (
        |  SELECT event_type, value,
        |         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS da,
        |         sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS db
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type, value
        |), c AS (
        |  SELECT event_type,
        |         sum(da) OVER (PARTITION BY event_type ORDER BY value
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |         sum(db) OVER (PARTITION BY event_type ORDER BY value
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |         sum(da) OVER (PARTITION BY event_type) AS na,
        |         sum(db) OVER (PARTITION BY event_type) AS nb
        |  FROM pts
        |)
        |SELECT event_type,
        |       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |       max(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)) AS ks_d
        |FROM c GROUP BY event_type""".stripMargin,

    "percentile_approx_sketch" ->
      """SELECT event_type,
        |       quantile_cont(value, 0.5) AS p50_exact,
        |       abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
        |         <= 0.05 * abs(quantile_cont(value, 0.5)) AS p50_within_5pct,
        |       quantile_cont(value, 0.99) AS p99_exact,
        |       abs(approx_quantile(value, 0.99) - quantile_cont(value, 0.99))
        |         <= 0.05 * abs(quantile_cont(value, 0.99)) AS p99_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,

    "agg_vwap_custom" ->
      """SELECT user_id,
        |       CASE WHEN sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) + 1) = 0 THEN 0.0
        |            ELSE CAST(sum(CAST(value AS DECIMAL(27,2)) * (CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) + 1)) AS DOUBLE)
        |                 / sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) + 1) END AS vwap
        |FROM events GROUP BY user_id""".stripMargin,

    "tpch_q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
         |       CAST(sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_base_price,
         |       $REV_SQL AS sum_disc_price,
         |       count(*) AS count_order,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) / count(*) AS avg_qty
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "tpch_q6_forecast" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "tpch_q14_promo" ->
      s"""SELECT
         |  CAST(sum(CASE WHEN p_type = 'PROMO'
         |       THEN CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(1 - l_discount AS DECIMAL(3,2))
         |       END) AS DOUBLE) AS promo_rev,
         |  $REV_SQL AS total_rev,
         |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
         |       THEN CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(1 - l_discount AS DECIMAL(3,2))
         |       END) AS DOUBLE) / $REV_SQL AS promo_pct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,

    "tpch_q18_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, ${graft.ops.Num.DSUM_SQL("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING ${graft.ops.Num.DSUM_SQL("l_quantity")} > 300.0
         |)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         |FROM orders
         |JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 100""".stripMargin,

    "tpch_q10_returns" ->
      s"""SELECT c_custkey, c_name, c_acctbal, $REV_SQL AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY c_custkey, c_name, c_acctbal
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,

    "tpch_q19_brackets" ->
      s"""SELECT count(*) AS n, $REV_SQL AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q22_untapped" ->
      s"""WITH avg_bal AS (
         |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(27,2))) AS DOUBLE) / count(c_acctbal) AS avg_bal
         |  FROM customer WHERE c_acctbal > 0.0
         |)
         |SELECT c_nationkey, count(*) AS n_cust,
         |       ${graft.ops.Num.DSUM_SQL("c_acctbal")} AS total_bal
         |FROM customer, avg_bal
         |WHERE c_acctbal > avg_bal
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderpriority = '1-URGENT')
         |GROUP BY c_nationkey""".stripMargin,

    "tpch_q4_priority" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |  AND EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey
         |                AND l_shipdate > o_orderdate)
         |GROUP BY o_orderpriority""".stripMargin,

    "tpch_q12_latemix" ->
      s"""SELECT l_linestatus,
         |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_linestatus""".stripMargin,

    "tpch_q13_custdist" ->
      s"""SELECT c_count, count(*) AS custdist
         |FROM (
         |  SELECT c_custkey, count(o_custkey) AS c_count
         |  FROM customer
         |  LEFT OUTER JOIN (SELECT o_custkey FROM orders
         |                   WHERE o_orderpriority <> '1-URGENT') o
         |    ON c_custkey = o_custkey
         |  GROUP BY c_custkey
         |)
         |GROUP BY c_count""".stripMargin,

    "tpch_q17_smallqty" ->
      s"""SELECT ${graft.ops.Num.DSUM_SQL("l_extendedprice")} / 7.0 AS avg_yearly,
         |       count(*) AS n_small
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#23' AND p_size <= 10
         |  AND l_quantity < 0.2 * (
         |    SELECT ${graft.ops.Num.DSUM_SQL("l2.l_quantity")} / count(l2.l_quantity)
         |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "tpch_q21_waiting" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate > o_orderdate
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "tpch_q2_mincost" ->
      """WITH eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       l_extendedprice / l_quantity AS min_cost
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN eur ON l_suppkey = s_suppkey
        |WHERE p_size <= 15 AND p_type = 'STANDARD'
        |  AND l_extendedprice / l_quantity = (
        |    SELECT min(l2.l_extendedprice / l2.l_quantity)
        |    FROM lineitem l2 JOIN eur e2 ON l2.l_suppkey = e2.s_suppkey
        |    WHERE l2.l_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "tpch_q7_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       year(l_shipdate) AS l_year, $REV_SQL AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin,

    "tpch_q15_topsupp" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, $REV_SQL AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey
         |)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,

    "tpch_q8_marketshare" ->
      """SELECT year(o_orderdate) AS o_year,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN amt END) AS DOUBLE) AS nation_rev,
        |       CAST(sum(amt) AS DOUBLE) AS total_rev,
        |       coalesce(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN amt END) AS DOUBLE), 0.0)
        |         / CAST(sum(amt) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT o_orderdate, n1.n_name AS supp_nation,
        |         CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(1 - l_discount AS DECIMAL(3,2)) AS amt
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |)
        |GROUP BY year(o_orderdate)""".stripMargin,

    "tpch_q9_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(1 - l_discount AS DECIMAL(3,2))
        |              - CAST(p_retailprice AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(4,0))
        |                * CAST(0.5 AS DECIMAL(2,1))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,

    "tpch_q11_important" ->
      s"""WITH pp AS (
         |  SELECT l_partkey, ${graft.ops.Num.DSUM_SQL("l_extendedprice")} AS part_value
         |  FROM lineitem GROUP BY l_partkey
         |),
         |th AS (
         |  SELECT ${graft.ops.Num.DSUM_SQL("l_extendedprice")} * 1.2
         |           / nullif(count(DISTINCT l_partkey), 0) AS threshold
         |  FROM lineitem
         |)
         |SELECT l_partkey, part_value
         |FROM pp, th
         |WHERE part_value > threshold""".stripMargin,

    "tpch_q16_suppcnt" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_size <= 20
        |  AND NOT EXISTS (SELECT 1 FROM supplier
        |                  WHERE s_suppkey = l_suppkey
        |                    AND s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "tpch_q20_excess" ->
      s"""WITH sliced AS (
         |  SELECT l_partkey, l_suppkey, ${graft.ops.Num.DSUM_SQL("l_quantity")} AS supp_qty
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_name LIKE '%red%' AND l_suppkey IS NOT NULL
         |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY l_partkey, l_suppkey
         |),
         |avg_q AS (
         |  SELECT l_partkey, ${graft.ops.Num.DSUM_SQL("supp_qty")} / count(l_suppkey) AS avg_qty
         |  FROM sliced GROUP BY l_partkey
         |)
         |SELECT s_suppkey, s_name, s_acctbal
         |FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM sliced JOIN avg_q USING (l_partkey)
         |  WHERE supp_qty > 2.0 * avg_qty)""".stripMargin,

    "tpch_q3_shipping" ->
      s"""SELECT l_orderkey, o_orderdate, $REV_SQL AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, o_orderdate, l_orderkey
         |LIMIT 10""".stripMargin,

    "join_skew_salted" -> SKEW_JOIN_SQL,

    // same result as join_skew_salted: salting/AQE change the execution,
    // not the answer
    "join_skew_aqe" -> SKEW_JOIN_SQL,

    "tpch_q5_local_supplier" ->
      s"""SELECT n_name, $REV_SQL AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name""".stripMargin
  )
}
