package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, FilterOps}
import graft.plans.UpsertMerge

/** The upsert composed from DataFrame operators: the reference that
  * [[graft.plans.UpsertMerge]] (`StreamOps.upsertBatch`) must equal row for
  * row. A window keeps the latest row per `id` over store ∪ batch in the
  * pinned order ([[UpsertMerge.latestFirst]]), then the retention self-join
  * deletes `retainType` rows older than `retainDays` before the merged
  * max `publish_time`. It shuffles and sorts the whole store. */
object UpsertReference {
  def upsert(store: DataFrame, batch: DataFrame, retainType: String, retainDays: Int): DataFrame = {
    val union = store.unionByName(batch, allowMissingColumns = true)
    val merged = DedupOps.latestWins(union, col("id"), UpsertMerge.latestFirst(union.schema))
    FilterOps.retentionDelete(merged, col("type"), retainType,
      col("publish_time").cast("timestamp"), retainDays)
  }
}
