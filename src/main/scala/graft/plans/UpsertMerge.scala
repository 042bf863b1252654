package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, Predicate, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LocalRelation, LogicalPlan, Project, Sort, Statistics, Union}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, HashPartitioning, Partitioning, StatefulOpClusteredDistribution, UnspecifiedDistribution}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.ops.FilterOps

/** One micro-batch upserted into the store (consumer.py:176-181 and
  * 115-130): the latest row per `id` over store ∪ batch, then the
  * retention delete of `retainType` rows older than `retainDays` before
  * the merged max event time.
  *
  * `store` and `batch` are the two sides of `store.unionByName(batch,
  * allowMissingColumns = true)`, so they carry the same columns in the same
  * order, and `output` is that union's output: the store side's attributes
  * with the merged nullability. `key` is the output's `id`; `order` is
  * [[UpsertMerge.latestFirst]]; `eventTs` is `publish_time` as a
  * timestamp. `cutoff` computes the cutoff seconds from the max event time
  * `maxTs`, and `retained` is the keep predicate over `output :+
  * cutoffSec`. `maxTs` and `cutoffSec` exist only inside this node.
  *
  * The store must hold at most one row per id, as every upsert's output
  * does: a store row is only compared with the batch's row of its own id. */
case class UpsertMerge(
    store: LogicalPlan, batch: LogicalPlan, output: Seq[Attribute],
    key: Attribute, order: Seq[SortOrder], eventTs: Expression,
    maxTs: Attribute, cutoff: Expression, cutoffSec: Attribute, retained: Expression)
  extends BinaryNode {
  override def left: LogicalPlan = store
  override def right: LogicalPlan = batch
  override def producedAttributes: AttributeSet = AttributeSet(Seq(maxTs, cutoffSec))
  // Every input column reaches the output by position, so column pruning
  // must keep them all.
  override def references: AttributeSet = AttributeSet(store.output ++ batch.output)
  // A union's size, not the product the default estimate takes for a
  // binary node.
  override def stats: Statistics =
    Statistics(sizeInBytes = store.stats.sizeInBytes + batch.stats.sizeInBytes)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UpsertMerge =
    copy(store = newLeft, batch = newRight)
}

object UpsertMerge {
  private val Key = "id"
  private val EventTime = "publish_time"
  private val Type = "type"

  /** The pinned latest-wins order over a frame of `schema`: `publish_time`
    * DESC NULLS LAST, then every orderable column in schema order, ASC
    * NULLS FIRST. The first row of an id under it wins. Two rows it ties
    * are equal on every orderable column, so any split of the same
    * messages into batches keeps the same rows while retention deletes
    * nothing. */
  def latestFirst(schema: org.apache.spark.sql.types.StructType): Seq[Column] =
    col(EventTime).desc_nulls_last +: schema.fields.toSeq.collect {
      case f if f.name != EventTime && RowOrdering.isOrderable(f.dataType) =>
        col("`" + f.name.replace("`", "``") + "`").asc_nulls_first
    }

  /** The upsert of `batch` into `store` as one [[UpsertMerge]] node, with
    * graft installed on the session ([[GraftExtensions.install]]). Pure
    * plan construction: it starts no job. */
  def apply(store: DataFrame, batch: DataFrame, retainType: String, retainDays: Int): DataFrame = {
    val spark = store.sparkSession
    GraftExtensions.install(spark)
    val union = store.unionByName(batch, allowMissingColumns = true)
    val (s, b, output) = ColumnBridge.logicalPlan(union) match {
      case u @ Union(Seq(s, b), _, _) => (s, b, u.output)
      case p => throw new IllegalStateException(s"expected a two-way Union, got:\n$p")
    }
    // Resolve the expressions over data-free relations carrying the
    // attributes they read, so they bind to the node's columns. The
    // internal attributes are read as attributes, never by name.
    val maxTs = AttributeReference("max_ts", TimestampType)()
    val cutoffSec = AttributeReference("cutoff_sec", LongType)()
    val ts = col(EventTime).cast("timestamp")
    val rows = ColumnBridge.ofRows(spark, LocalRelation(output :+ maxTs :+ cutoffSec))
    val resolved = rows.select(col(Key), ts,
      FilterOps.retentionCutoff(ColumnBridge.column(maxTs), retainDays),
      FilterOps.retained(col(Type), retainType, ts, ColumnBridge.column(cutoffSec)))
    val Seq(key: Attribute, eventTs, cutoff, retained) =
      ColumnBridge.logicalPlan(resolved) match {
        case Project(list, _) => list.map {
          case a: Alias => a.child
          case e => e
        }
        case p => throw new IllegalStateException(s"expected a Project, got:\n$p")
      }
    val order = ColumnBridge.logicalPlan(ColumnBridge.ofRows(spark, LocalRelation(output))
        .orderBy(latestFirst(union.schema): _*)) match {
      case s: Sort => s.order
      case p => throw new IllegalStateException(s"expected a Sort, got:\n$p")
    }
    ColumnBridge.ofRows(spark,
      UpsertMerge(s, b, output, key, order, eventTs, maxTs, cutoff, cutoffSec, retained))
  }
}

/** Executes an [[UpsertMerge]] in two jobs and without moving a store row
  * once the store is partitioned.
  *
  * The store child is required hash-partitioned by `id` into
  * `numPartitions` partitions ([[StatefulOpClusteredDistribution]]: the
  * exact hash, so the driver can compute a row's partition), so
  * EnsureRequirements shuffles it only when it is not; this node's output
  * keeps that partitioning. `doExecute` runs job 1 over the batch's and the
  * store's partitions together ([[UpsertScan]]): it returns the batch's
  * rows and each partition's max event time. On the driver it keeps the
  * first row per id under `order`, buckets those rows by the store
  * partition their id hashes to, and evaluates the cutoff over the max of
  * the maxima. The RDD it returns ([[UpsertMergeRDD]]) is narrow over the
  * store: each partition drops the store rows its bucket replaces, appends
  * the bucket's rows that replace or add an id, and keeps only the rows
  * `retained` holds true for. The job that materializes it is job 2.
  *
  * Job 1 hands `runJob` an instance of a named class, not a lambda, as
  * [[RagSearchExec]] does. */
case class UpsertMergeExec(
    store: SparkPlan, batch: SparkPlan, output: Seq[Attribute],
    key: Attribute, order: Seq[SortOrder], eventTs: Expression,
    maxTs: Attribute, cutoff: Expression, cutoffSec: Attribute, retained: Expression,
    numPartitions: Int)
  extends BinaryExecNode {
  override def left: SparkPlan = store
  override def right: SparkPlan = batch
  override def producedAttributes: AttributeSet = AttributeSet(Seq(maxTs, cutoffSec))
  override def references: AttributeSet = AttributeSet(store.output ++ batch.output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numBatchRows" -> SQLMetrics.createMetric(sparkContext, "batch rows"),
    "numBatchIds" -> SQLMetrics.createMetric(sparkContext, "ids kept from the batch"),
    "numReplaced" -> SQLMetrics.createMetric(sparkContext, "store rows replaced"),
    "numRetentionDeleted" -> SQLMetrics.createMetric(sparkContext, "rows deleted by retention"),
    "cutoffSec" -> SQLMetrics.createMetric(sparkContext, "retention cutoff (epoch s)"))

  private def storeKey: Attribute = store.output(output.indexWhere(_.exprId == key.exprId))

  override def requiredChildDistribution: Seq[Distribution] =
    StatefulOpClusteredDistribution(Seq(storeKey), numPartitions) :: UnspecifiedDistribution :: Nil

  override def outputPartitioning: Partitioning = store.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val storeRdd = store.execute()
    val batchRdd = batch.execute()
    require(storeRdd.getNumPartitions == numPartitions,
      s"UpsertMerge: the store has ${storeRdd.getNumPartitions} partitions, not $numPartitions")
    val nBatch = batchRdd.getNumPartitions
    val scanned = sparkContext.runJob(new UnionRDD(sparkContext, Seq(batchRdd, storeRdd)),
      new UpsertScan(nBatch, BindReferences.bindReference(eventTs, output)))
    val batchRows = scanned.take(nBatch).flatMap(_.rows)
    val maxTsValue = scanned.flatMap(_.maxTs).maxOption
    val cutoffValue = BindReferences.bindReference(cutoff, Seq(maxTs))
      .eval(InternalRow(maxTsValue.map(Long.box).orNull))

    // The first row per id under `order`, as an UnsafeRow, in its bucket.
    val keyOf = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(Seq(key), output))
    val ord = new InterpretedOrdering(order, output)
    val latest = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
    batchRows.foreach { r =>
      val k = keyOf(r).copy()
      latest.get(k) match {
        case Some(w) if ord.compare(w, r) <= 0 => ()
        case _ => latest(k) = r
      }
    }
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(output, output))
    val partitionOf = BindReferences.bindReference(
      HashPartitioning(Seq(key), numPartitions).partitionIdExpression, output)
    val buckets = Array.fill(numPartitions)(mutable.ArrayBuffer.empty[InternalRow])
    latest.valuesIterator.foreach { r =>
      buckets(partitionOf.eval(r).asInstanceOf[Int]) += toUnsafe(r).copy()
    }

    longMetric("numBatchRows").add(batchRows.length.toLong)
    longMetric("numBatchIds").add(latest.size.toLong)
    Option(cutoffValue).foreach(c => longMetric("cutoffSec").set(c.asInstanceOf[Long]))
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("numBatchRows"), longMetric("numBatchIds"), longMetric("cutoffSec")))
    new UpsertMergeRDD(storeRdd, buckets.map(_.toArray), new UpsertMergeTask(
      BindReferences.bindReference(key, output),
      order.map(BindReferences.bindReference(_, output)),
      BindReferences.bindReference(retained, output :+ cutoffSec), cutoffValue,
      longMetric("numReplaced"), longMetric("numRetentionDeleted")))
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): UpsertMergeExec =
    copy(store = newLeft, batch = newRight)
}

/** One partition's result in [[UpsertMergeExec]]'s job 1: its rows when it
  * is a batch partition, and its max event time (micros) if any. */
final case class UpsertScanned(rows: Array[InternalRow], maxTs: Option[Long])

/** [[UpsertMergeExec]]'s job-1 task over the union of the batch's
  * `nBatch` partitions and the store's: the max of `eventTs` (bound over
  * the node's output) for every partition, and a copy of every row for a
  * batch partition. */
final class UpsertScan(nBatch: Int, eventTs: Expression)
  extends ((TaskContext, Iterator[InternalRow]) => UpsertScanned) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): UpsertScanned = {
    val ts = UnsafeProjection.create(Seq(eventTs))
    val kept = mutable.ArrayBuffer.empty[InternalRow]
    val isBatch = ctx.partitionId() < nBatch
    var max = Long.MinValue
    var seen = false
    rows.foreach { r =>
      val t = ts(r)
      if (!t.isNullAt(0)) { max = math.max(max, t.getLong(0)); seen = true }
      if (isBatch) kept += r.copy()
    }
    UpsertScanned(kept.toArray, if (seen) Some(max) else None)
  }
}

/** [[UpsertMergeExec]]'s per-partition merge: the store partition's rows
  * minus those a bucket row replaces, then the bucket rows that replace or
  * add an id, each kept only when `retained` holds true for it joined
  * with `cutoff`. A store row stays when it comes first under `order` or
  * ties its bucket row. `key` and `order` are bound over the node's
  * output, `retained` over the output and the cutoff. */
final class UpsertMergeTask(
    key: Expression, order: Seq[SortOrder], retained: Expression, cutoff: Any,
    replaced: SQLMetric, deleted: SQLMetric) extends Serializable {
  def apply(bucket: Array[InternalRow], rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val keep = Predicate.create(retained)
    keep.initialize(0)
    val cutoffRow = InternalRow(cutoff)
    val joined = new JoinedRow
    def kept(r: InternalRow): Boolean =
      keep.eval(joined(r, cutoffRow)) || { deleted.add(1L); false }
    if (bucket.isEmpty) rows.filter(kept)
    else {
      val keyOf = UnsafeProjection.create(Seq(key))
      val ord = new InterpretedOrdering(order)
      val pending = new java.util.HashMap[UnsafeRow, InternalRow](bucket.length * 2)
      bucket.foreach(r => pending.put(keyOf(r).copy(), r))
      rows.filter { r =>
        val w = if (pending.isEmpty) null else pending.get(keyOf(r))
        if (w == null) kept(r)
        else if (ord.compare(r, w) <= 0) { pending.remove(keyOf(r)); kept(r) }
        else { replaced.add(1L); false }
      } ++ pending.values().iterator().asScala.filter(kept)
    }
  }
}

/** A store partition and the bucket of batch rows that hash to it. */
final class UpsertMergePartition(val parent: Partition, val bucket: Array[InternalRow])
  extends Partition {
  override def index: Int = parent.index
}

/** The store, one-to-one, each partition merged with its own bucket by
  * `merge`. The buckets travel in the partitions, so a task ships only its
  * own. */
final class UpsertMergeRDD(
    store: RDD[InternalRow], @transient private val buckets: Array[Array[InternalRow]],
    merge: UpsertMergeTask)
  extends RDD[InternalRow](store) {
  override protected def getPartitions: Array[Partition] =
    firstParent[InternalRow].partitions.map(p => new UpsertMergePartition(p, buckets(p.index)))

  override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[UpsertMergePartition]
    merge(p.bucket, firstParent[InternalRow].iterator(p.parent, ctx))
  }
}

/** Planner strategy for [[UpsertMerge]]: the store is partitioned into the
  * session's `spark.sql.shuffle.partitions`. */
object UpsertMergeStrategy extends Strategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UpsertMerge =>
      UpsertMergeExec(planLater(u.store), planLater(u.batch), u.output, u.key, u.order,
        u.eventTs, u.maxTs, u.cutoff, u.cutoffSec, u.retained,
        SQLConf.get.numShufflePartitions) :: Nil
    case _ => Nil
  }
}
