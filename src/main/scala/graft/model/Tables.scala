package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * These tables stand in for the reference's inputs (see FIXTURES.md §3):
  * `events` replaces the Kafka topics / OHLCV bar stream (key = `user_id`,
  * event time = `ts`, price = `value`); `documents` / `embeddings` back the
  * document-pipeline superset operators; the TPC-H-ish tables back the
  * generic relational surface.
  *
  * All loads are plain parquet scans so Catalyst's filter pushdown and
  * column pruning reach the file readers — at 100 TB this is what turns a
  * full-table scan into a row-group-pruned, column-projected read.
  */
object Tables {
  /** Event-time columns per table, by whatever physical encoding the
    * producer chose. The engine cannot assume one: the same logical column
    * has arrived as INT64 TIMESTAMP(NANOS), as `timestamp[us]` with no UTC
    * flag (Spark: TIMESTAMP_NTZ), and could arrive UTC-adjusted
    * (TimestampType). [[normalizeTs]] maps all three onto the one
    * engine-canonical type, `TimestampType` — wall-clock-identical under
    * the pinned UTC session zone — so every downstream `cast(ts as long)` /
    * `unix_micros(ts)` sees a single schema regardless of the file's
    * physical layout. SchemaPortabilitySpec locks this contract. */
  private val tsCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** One analyzed scan plan per (session, dir, table): `spark.read.parquet`
    * builds a fresh file index and re-reads footers for schema inference on
    * every call, which a 95-query batch pays 95 times over. Reusing the
    * resolved `DataFrame` shares the listed `FileIndex` inside its
    * `LogicalRelation` across all downstream plans. */
  private val scanCache = new graft.ops.SessionOps.PerSession[(String, String), DataFrame]

  private def cached(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    scanCache(spark).getOrElseUpdate((dir, key), build)

  /** Maximum |value| over a bounded SAMPLE of a numeric column (the first
    * 1024 non-null values), None when the column holds no non-null rows.
    * The limit keeps the probe a single-row-group touch at ANY table size
    * — a whole-column MAX would be a full (column-pruned) scan at load
    * time, since Spark cannot answer max(abs(cast(..))) from parquet
    * footer statistics. 1024 values is sentinel-robust in practice: a
    * ts=0 placeholder in row one cannot drag the unit down unless every
    * sampled row is a sentinel, and the unit bands are 1000× apart.
    * Executed once per (session, dir, table) thanks to the scan cache. */
  private def maxAbs(df: DataFrame, c: String): Option[Double] = {
    import org.apache.spark.sql.functions.{abs, col, max}
    val row = df.select(col(c)).filter(col(c).isNotNull).limit(1024)
      .agg(max(abs(col(c).cast("double")))).collect()
    if (row.isEmpty || row.head.isNullAt(0)) None else Some(row.head.getDouble(0))
  }

  /** Epoch unit of a raw numeric time column, decided by the maximum
    * magnitude over a bounded sample ([[maxAbs]]) — the driver has
    * already shipped three different physical encodings across rounds,
    * so the loader assumes none. The
    * decades 1973–2260 (and mirrored pre-1967) separate the four units by
    * clean factor-1000 bands:
    *
    *   max|v| ≥ 1e17 → nanoseconds   (1e17 ns ≈ 1973-03)
    *   max|v| ≥ 1e14 → microseconds  (1e14 µs ≈ 1973-03)
    *   max|v| ≥ 1e11 → milliseconds  (1e11 ms ≈ 1973-03)
    *   else          → seconds
    *
    * The max (not an arbitrary first row) makes the probe robust to
    * sentinel values: a ts=0 or near-epoch placeholder in row one of a
    * nanos column sits BELOW its unit's band and cannot drag the whole
    * column into a smaller unit — only every row being small could, at
    * which point the smaller unit is the right read. An empty table
    * defaults to nanos — the longest-lived observed encoding — and
    * produces no rows either way. Batch-only by construction: the only
    * caller is [[load]] (the streaming twins normalize inline with casts
    * and never pass a raw numeric column here). */
  private def epochUnit(df: DataFrame, c: String): String =
    maxAbs(df, c) match {
      case None => "ns"
      case Some(v) =>
        if (v >= 1e17) "ns" else if (v >= 1e14) "us" else if (v >= 1e11) "ms" else "s"
    }

  /** Normalize one event-time column to the canonical `TimestampType`.
    *
    *  - `LongType`: a raw INT64 epoch at whatever unit [[epochUnit]]
    *    detects. Nanos (the r1-r6 TIMESTAMP(NANOS) encoding read via
    *    `nanosAsLong`) truncate ns → µs, the same truncation DuckDB
    *    applies, keeping the oracle bit-aligned; micros/millis/seconds
    *    convert exactly.
    *  - `IntegerType`: epoch seconds (fits int32 until 2038) or epoch
    *    days, split at 1e8 (~1973 in seconds; no plausible day count).
    *  - `DecimalType`: decimal-encoded epoch at a detected unit;
    *    converted with exact decimal multiplies and truncating casts
    *    (sub-microsecond fractions drop, matching the ns → µs rule).
    *  - `TimestampNTZType`: `timestamp[us]` without the UTC flag. Normally
    *    already read as LTZ via `inferTimestampNTZ.enabled=false` below;
    *    this branch covers sources loaded without that conf. The cast is
    *    wall-clock-preserving under the UTC session zone.
    *  - `TimestampType`: already canonical (covers INT96 legacy and
    *    annotated TIMESTAMP_MILLIS/MICROS parquet, which Spark reads as
    *    LTZ directly).
    *  - `DateType` (date32): a day-granular producer (the TPC-H date
    *    columns are midnight-aligned anyway); midnight-UTC cast under the
    *    pinned session zone matches DuckDB's DATE → TIMESTAMP promotion.
    *
    * Anything else is a contract violation worth failing loudly on, not a
    * silently-miscast column. SchemaPortabilitySpec locks every branch. */
  private[graft] def normalizeTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case LongType =>
        // The canonical column becomes DERIVED, so plain time-range
        // predicates on it no longer reach the parquet reader.
        // NanosRangePushdown (installed with graft, see [[load]]) augments
        // such filters with the equivalent raw-long bounds so row-group
        // pruning survives the normalization — see ADVICE r8 / the rule's
        // scaladoc.
        epochUnit(df, c) match {
          case "ns" => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
          case "us" => df.withColumn(c, expr(s"timestamp_micros($c)"))
          case "ms" => df.withColumn(c, expr(s"timestamp_millis($c)"))
          case _    => df.withColumn(c, expr(s"timestamp_seconds($c)"))
        }
      case IntegerType =>
        // epoch seconds (1e8 s ≈ 1973; fits int32 until 2038) vs epoch
        // DAYS in a plain unannotated int32 (no plausible day count
        // reaches 1e8 — that would be the year 275760). Max-magnitude
        // probe for the same sentinel robustness as epochUnit.
        val v = maxAbs(df, c).getOrElse(1e8)
        if (v >= 1e8)
          df.withColumn(c, expr(s"timestamp_seconds(cast($c as bigint))"))
        else
          df.withColumn(c,
            expr(s"cast(date_add(date '1970-01-01', $c) as timestamp)"))
      case _: DecimalType =>
        epochUnit(df, c) match {
          // decimal nanos: exact long cast (epoch ns < 2^63), then the
          // same truncating ÷1000 as the long path
          case "ns" => df.withColumn(c,
            expr(s"timestamp_micros(cast($c as bigint) div 1000)"))
          case "us" => df.withColumn(c, expr(s"timestamp_micros(cast($c as bigint))"))
          // exact decimal multiply to micros, truncating cast to long
          // (decimal → integral casts drop the fraction)
          case "ms" => df.withColumn(c,
            expr(s"timestamp_micros(cast($c * 1000 as bigint))"))
          case _ => df.withColumn(c,
            expr(s"timestamp_micros(cast($c * 1000000 as bigint))"))
        }
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case TimestampType => df
      case DateType => df.withColumn(c, col(c).cast(TimestampType))
      case other => throw new IllegalStateException(
        s"unsupported physical encoding for time column '$c': $other")
    }
  }

  /** The table `name` under `dir`, its time columns normalized, on a
    * session with graft installed ([[graft.plans.GraftExtensions.install]],
    * once per session and table: the install runs inside the cached
    * build). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cached(spark, dir, name) {
      graft.plans.GraftExtensions.install(spark)
      // Read-time schema portability, set before analysis so inference sees
      // them: nanos-encoded timestamps arrive as raw longs (no Spark ns
      // type), and µs-no-UTC-flag timestamps arrive directly as LTZ
      // TimestampType rather than NTZ — which keeps `ts BETWEEN …`
      // predicates pushing to the parquet scan with no cast wrapper on the
      // column (PlanAudit asserts the pushdown).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      tsCols.getOrElse(name, Nil).foldLeft(raw)(normalizeTs)
    }

  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
}
