package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Projection / filter / predicate operators (SURVEY §2.2).
  *
  * Reference behaviors (cites into /root/reference/):
  *  - metadata flatten+coerce      src/processing/consumer.py:50-84
  *  - timestamp coalesce           src/processing/consumer.py:79-80
  *  - time-window + ticker filter  src/app/rag_engine.py:201-210
  *  - latest-metric lookup         src/app/main.py:172-182
  *  - retention delete             src/processing/consumer.py:115-130
  *  - dropna on coerced numerics   src/app/main.py:106-110
  *
  * All pure Catalyst expressions — they push down to the parquet scan
  * (PushedFilters) and stay inside whole-stage codegen.
  */
object FilterOps {

  /** Null/empty/uncastable → 0.0 double coercion (consumer.py:69-77).
    * try_cast, not cast: Spark 4 runs ANSI mode by default, where a plain
    * cast THROWS on malformed strings instead of yielding null. */
  def coerceDouble(c: Column): Column =
    coalesce(c.try_cast("double"), lit(0.0))

  /** String field with default (consumer.py:54-60). */
  def coerceString(c: Column, default: String): Column =
    coalesce(c.cast("string"), lit(default))

  /** Title truncated to 150 chars (consumer.py:58). */
  def truncDoc(c: Column): Column = substring(c, 1, 150)

  /** `timestamp := publish_time` when timestamp is 0 and publish_time > 0
    * (consumer.py:79-80). */
  def coalesceTimestamp(ts: Column, publishTime: Column): Column =
    when(ts === 0 && publishTime > 0, publishTime).otherwise(ts)

  /** Conjunctive time-range predicate (rag_engine.py:201-207). */
  def timeWindow(df: DataFrame, tsCol: Column, start: String, end: String): DataFrame =
    df.filter(tsCol.between(lit(start).cast("timestamp"), lit(end).cast("timestamp")))

  /** Time-range filter over the events table. `ts` is the loader-canonical
    * `TimestampType` column straight off the scan (Tables.normalizeTs), so
    * the BETWEEN predicate reaches the parquet reader as PushedFilters and
    * prunes row groups — the difference between a pruned read and a full
    * scan at 100 TB. PlanAudit asserts the pushdown. */
  def timeWindowPushdown(df: DataFrame, start: String, end: String): DataFrame =
    timeWindow(df, col("ts"), start, end)

  /** Optional equality predicate AND-ed on (rag_engine.py:208-210). */
  def tickerEq(df: DataFrame, key: Column, value: Long): DataFrame =
    df.filter(key === value)

  /** Latest matching row for one (key, type) — the sidebar's k=1 metadata
    * lookup (main.py:172-182). Ordering made total with the row id.
    * `orderBy.limit(1)` plans as TakeOrderedAndProject: per-partition top-1
    * then a driver merge — no single-partition window at scale. */
  def latestMetric(df: DataFrame, key: Column, typeCol: Column,
                   keyVal: Long, typeVal: String,
                   tsCol: Column, idCol: Column): DataFrame =
    df.filter(key === keyVal && typeCol === typeVal)
      .orderBy(tsCol.desc, idCol.desc).limit(1)

  /** Retention: delete rows of one type older than the cutoff, keep all
    * others (consumer.py:115-130). The cutoff is relative to the table's
    * max event time (the testdata's "now"), computed distributedly and
    * broadcast — no driver-side collect. Comparison happens in floored
    * epoch seconds, the cross-engine-stable domain.
    *
    * The cutoff is a self-join, so `df` is evaluated TWICE (once for the
    * max, once for the rows it filters). Pass a scan or a materialized
    * frame: over a derived plan both evaluations run it in full. */
  def retentionDelete(df: DataFrame, typeCol: Column, typeVal: String,
                      tsCol: Column, retainDays: Int): DataFrame = {
    val cutoff = df.agg(retentionCutoff(max(tsCol), retainDays).as("cutoff_sec"))
    df.join(broadcast(cutoff))
      .filter(retained(typeCol, typeVal, tsCol, col("cutoff_sec")))
      .drop("cutoff_sec")
  }

  /** Retention's cutoff in floored epoch seconds: `retainDays` before the
    * max event time `maxTs`; null when there is none. */
  def retentionCutoff(maxTs: Column, retainDays: Int): Column =
    maxTs.cast("long") - lit(retainDays * 86400L)

  /** Retention's keep predicate, in SQL three-valued logic: a row of type
    * `typeVal` older than `cutoffSec` is deleted, and so is any row the
    * predicate makes null (a null `type` older than the cutoff, or a
    * `typeVal` row with a null event time or cutoff). */
  def retained(typeCol: Column, typeVal: String, tsCol: Column, cutoffSec: Column): Column =
    !(typeCol === typeVal && tsCol.cast("long") < cutoffSec)
}
