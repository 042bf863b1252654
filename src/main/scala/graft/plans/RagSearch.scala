package graft.plans

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, BindReferences, Descending, Expression, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, NullsLast, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{BinaryExecNode, LocalTableScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.expressions.CosineSimilarity.cosineSim

/** One RAG request as one operator (SURVEY §3.3): k-NN over the filtered
  * store, (ticker, ts) keep-first, intent rescore, top-N.
  *
  * `store` yields (vec_id, embedding, ticker, ts) with the spec's window
  * and ticker predicates already applied as Filters, so pruning and
  * pushdown happen beneath this node; `query` yields the one-row `q_emb`
  * frame. `dist` is `1 - cosine_sim(embedding, q_emb)` over the two
  * children's columns, `score` is [[RagPlans.score]] over (ts, dist), and
  * `output` is (vec_id, ticker, ts, dist, score): the first three are
  * store attributes, the last two are produced here. */
case class RagSearch(
    store: LogicalPlan, query: LogicalPlan, spec: QuerySpec,
    dist: Expression, score: Expression, output: Seq[Attribute])
  extends BinaryNode {
  override def left: LogicalPlan = store
  override def right: LogicalPlan = query
  override def producedAttributes: AttributeSet = AttributeSet(output.drop(3))
  override def maxRows: Option[Long] = Some(spec.topN.toLong)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RagSearch =
    copy(store = newLeft, query = newRight)
}

object RagSearch {
  /** Builds the node over `store` (columns [[RagPlans.StoreColumns]],
    * filters applied) and a `q_emb` query frame, and installs the planner
    * strategy on the session (idempotent, like [[AsOfJoin]]). Pure plan
    * construction: it analyzes, it starts no job. */
  def apply(spec: QuerySpec, store: DataFrame, queryVec: DataFrame): DataFrame = {
    val spark = store.sparkSession
    if (!spark.experimental.extraStrategies.contains(RagSearchStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RagSearchStrategy
    val s = ColumnBridge.logicalPlan(store.select(RagPlans.StoreColumns.map(col): _*))
    val q = ColumnBridge.logicalPlan(queryVec.select("q_emb"))
    val Seq(vecId, _, ticker, ts) = s.output
    // Resolve the row expressions over a data-free relation carrying the
    // children's attributes, so they bind to the children's columns.
    val rows = ColumnBridge.ofRows(spark, LocalRelation(s.output ++ q.output))
    val withDist = rows.select(col("vec_id"), col("ticker"), col("ts"),
      (lit(1.0) - cosineSim(col("embedding"), col("q_emb"))).as("dist"))
    val (dist, distAttr) = aliased(withDist)
    val (score, scoreAttr) = aliased(
      withDist.select(RagPlans.score(spec)(col("dist"), col("ts")).as("score")))
    ColumnBridge.ofRows(spark,
      RagSearch(s, q, spec, dist, score, Seq(vecId, ticker, ts, distAttr, scoreAttr)))
  }

  /** The last projected expression of `df` and the attribute it yields. */
  private def aliased(df: DataFrame): (Expression, Attribute) =
    ColumnBridge.logicalPlan(df) match {
      case Project(_ :+ (a: Alias), _) => (a.child, a.toAttribute)
      case p => throw new IllegalStateException(s"expected an aliased Project, got:\n$p")
    }
}

/** Executes a [[RagSearch]] without an exchange: it collects the query
  * row (no job over a `LocalRelation`), runs ONE job over the store in
  * which each partition keeps its top-k by (dist NULLS LAST, vec_id), and
  * merges the ≤ k·partitions candidates on the driver. Keep-first,
  * rescore and top-N then run on the driver over ≤ k rows, with
  * interpreted projections and orderings, so a request generates no code
  * beyond its children's. `executeCollect` returns the rows; `doExecute`
  * serves the same rows as a one-partition RDD for `count()`, writes and
  * use as a subplan.
  *
  * Both jobs hand `SparkContext.runJob` an instance of a named class
  * ([[RagQueryRows]], [[RagTopK]]), never a lambda, `mapPartitions` or
  * `RDD.collect`. On every job Spark's ClosureCleaner reads and parses,
  * with ASM, the class that defined each Scala lambda it is given; for
  * `RDD.collect` and `runJob`'s own lambdas that is `RDD` and
  * `SparkContext`, two very large class files. An object that is not a
  * closure keeps only the serializability check. */
case class RagSearchExec(
    store: SparkPlan, query: SparkPlan, spec: QuerySpec,
    dist: Expression, score: Expression, output: Seq[Attribute])
  extends BinaryExecNode {
  override def left: SparkPlan = store
  override def right: SparkPlan = query
  override def producedAttributes: AttributeSet = AttributeSet(output.drop(3))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numRowsScored" -> SQLMetrics.createMetric(sparkContext, "rows scored"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "candidates merged on driver"),
    "numQueryRows" -> SQLMetrics.createMetric(sparkContext, "query rows"))

  /** (vec_id, ticker, ts, dist): the rows the k-NN job returns. */
  private def candidateAttrs: Seq[Attribute] = output.take(4)

  override def executeCollect(): Array[InternalRow] = executeQuery(search())

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(search().toSeq, 1)

  private def search(): Array[InternalRow] = {
    val qRows = query match {
      case local: LocalTableScanExec => local.executeCollect()
      case _ => sparkContext.runJob(query.execute(), new RagQueryRows).flatten
    }
    longMetric("numQueryRows").add(qRows.length.toLong)
    val result =
      if (qRows.isEmpty) Array.empty[InternalRow]
      else {
        require(qRows.length == 1,
          s"RagSearch: the query frame must hold one row, got ${qRows.length}")
        tail(knn(qRows.head.copy()))
      }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("numQueryRows"), longMetric("numCandidates")))
    result
  }

  /** The global top-k candidates, best first. */
  private def knn(q: InternalRow): Array[InternalRow] = {
    val ord = new InterpretedOrdering(Seq(
      SortOrder(output(3), Ascending, NullsLast, Seq.empty),
      SortOrder(output.head, Ascending)), candidateAttrs)
    val project = BindReferences.bindReferences(
      candidateAttrs.take(3) :+ dist, store.output ++ query.output)
    val perPartition = sparkContext.runJob(store.execute(),
      new RagTopK(q, project, ord, spec.k, longMetric("numRowsScored"))).flatten
    longMetric("numCandidates").add(perPartition.length.toLong)
    perPartition.sorted(ord).take(spec.k)
  }

  /** Keep the first row per (ticker, ts) in k-NN order, score, top-N. */
  private def tail(knn: Array[InternalRow]): Array[InternalRow] = {
    val Seq(_, ticker, ts, _) = candidateAttrs
    val seen = mutable.HashSet.empty[(Any, Any)]
    val kept = knn.filter(r => seen.add((r.get(1, ticker.dataType), r.get(2, ts.dataType))))
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(candidateAttrs :+ score, candidateAttrs))
    val ord = new InterpretedOrdering(Seq(
      SortOrder(output(4), Descending), SortOrder(output.head, Ascending)), output)
    kept.map(r => proj(r).copy(): InternalRow).sorted(ord).take(spec.topN)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RagSearchExec =
    copy(store = newLeft, query = newRight)
}

/** [[RagSearchExec]]'s query-row task: a copy of every row of one
  * partition of the query frame. */
final class RagQueryRows
  extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
    rows.map(_.copy()).toArray
}

/** [[RagSearchExec]]'s k-NN task: the partition's best `k` rows under
  * `ord`, each the (vec_id, ticker, ts, dist) row `project` (bound over
  * store ++ query columns) makes of a store row joined with `q`. Adds
  * the rows it scored to `scored`. */
final class RagTopK(
    q: InternalRow, project: Seq[Expression], ord: Ordering[InternalRow], k: Int,
    scored: SQLMetric)
  extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
    val proj = InterpretedUnsafeProjection.createProjection(project)
    val joined = new JoinedRow
    // max-heap on the ordering: its head is the worst row kept
    val heap = new java.util.PriorityQueue[InternalRow](k, ord.reverse)
    var n = 0L
    rows.foreach { r =>
      n += 1
      val c = proj(joined(r, q))
      if (heap.size < k) heap.add(c.copy())
      else if (ord.compare(c, heap.peek) < 0) { heap.poll(); heap.add(c.copy()) }
    }
    scored.add(n)
    heap.toArray(new Array[InternalRow](0))
  }
}

/** Planner strategy for [[RagSearch]]. */
object RagSearchStrategy extends Strategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: RagSearch =>
      RagSearchExec(planLater(r.store), planLater(r.query), r.spec,
        r.dist, r.score, r.output) :: Nil
    case _ => Nil
  }
}
