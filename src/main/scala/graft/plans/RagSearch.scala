package graft.plans

import java.lang.ref.WeakReference

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Descending, Expression, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, Literal, NullsLast, SortOrder, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{BinaryExecNode, FileSourceScanExec, LocalTableScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.expressions.CosineSimilarity
import graft.ops.SessionOps

/** One RAG request as one operator (SURVEY §3.3): k-NN over the store's
  * in-window rows, (ticker, ts) keep-first, intent rescore, top-N.
  *
  * `store` yields (vec_id, embedding, ticker, ts) with the spec's ticker
  * predicate, if any, applied as a Filter, so partition pruning happens
  * beneath this node; `query` yields the one-row `q_emb` frame. The
  * spec's window is tested by this node, not by the store: `store`'s plan
  * is the same for every window, `now`, intent, k and top-N. `dist` is
  * `1 - cosine_sim(embedding, q_emb)` over the two children's columns,
  * `score` is [[RagPlans.score]] over (dist, ts), and `output` is
  * (vec_id, ticker, ts, dist, score): the first three are store
  * attributes, the last two are produced here. `source` identifies the
  * store frame for the prepared scan: it is taken from the analyzed store,
  * whose leaves are the store frame's own (the optimizer copies them). */
case class RagSearch(
    store: LogicalPlan, query: LogicalPlan, spec: QuerySpec,
    dist: Expression, score: Expression, output: Seq[Attribute])(
    val source: PreparedScans.Source)
  extends BinaryNode {
  override def left: LogicalPlan = store
  override def right: LogicalPlan = query
  override def producedAttributes: AttributeSet = AttributeSet(output.drop(3))
  override def maxRows: Option[Long] = Some(spec.topN.toLong)
  override protected def otherCopyArgs: Seq[AnyRef] = source :: Nil
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RagSearch =
    copy(store = newLeft, query = newRight)(source)
}

object RagSearch {
  /** Builds the node over `store` (columns [[RagPlans.StoreColumns]], the
    * ticker filter applied) and a `q_emb` query frame, with graft
    * installed on the session ([[GraftExtensions.install]]).
    * `dist` and `score` are built over the children's attributes
    * directly. Pure plan construction: it starts no job. */
  def apply(spec: QuerySpec, store: DataFrame, queryVec: DataFrame): DataFrame = {
    val spark = store.sparkSession
    GraftExtensions.install(spark)
    val s = ColumnBridge.logicalPlan(store.select(RagPlans.StoreColumns.map(col): _*))
    val q = ColumnBridge.logicalPlan(queryVec.select("q_emb"))
    val Seq(vecId, embedding, ticker, ts) = s.output
    require(ts.dataType == LongType,
      s"RagSearch: the store's ts must be epoch seconds as a long, got ${ts.dataType.catalogString}")
    val dist = Subtract(Literal(1.0), CosineSimilarity(embedding, q.output.head))
    val distAttr = AttributeReference("dist", DoubleType, dist.nullable)()
    val score = RagPlans.score(spec, distAttr, ts)
    val scoreAttr = AttributeReference("score", DoubleType, score.nullable)()
    ColumnBridge.ofRows(spark,
      RagSearch(s, q, spec, dist, score, Seq(vecId, ticker, ts, distAttr, scoreAttr))(
        new PreparedScans.Source(s.collectLeaves())))
  }
}

/** Executes a [[RagSearch]] without an exchange: it collects the query
  * row (no job over a `LocalRelation`), runs ONE job over the store's
  * prepared scan ([[PreparedScans]]) in which each partition tests the
  * window and keeps its top-k by (dist NULLS LAST, vec_id), and merges the
  * ≤ k·partitions candidates on the driver. Keep-first, rescore and top-N
  * then run on the driver over ≤ k rows, with interpreted projections and
  * orderings, so a request generates no code beyond its store child's,
  * and on a warm route that child is not executed at all.
  * `executeCollect` returns the rows;
  * `doExecute` serves the same rows as a one-partition RDD for `count()`,
  * writes and use as a subplan. `source` identifies the store for the
  * prepared scan.
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
    dist: Expression, score: Expression, output: Seq[Attribute])(
    val source: PreparedScans.Source)
  extends BinaryExecNode {
  override def left: SparkPlan = store
  override def right: SparkPlan = query
  override def producedAttributes: AttributeSet = AttributeSet(output.drop(3))
  override protected def otherCopyArgs: Seq[AnyRef] = source :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numRowsScored" -> SQLMetrics.createMetric(sparkContext, "rows scored (in window)"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "candidates merged on driver"),
    "numQueryRows" -> SQLMetrics.createMetric(sparkContext, "query rows"),
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "files read by the prepared scan"))

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
      Seq(longMetric("numQueryRows"), longMetric("numCandidates"), longMetric("numFiles")))
    result
  }

  /** The global top-k in-window candidates, best first. */
  private def knn(q: InternalRow): Array[InternalRow] = {
    val ord = new InterpretedOrdering(Seq(
      SortOrder(output(3), Ascending, NullsLast, Seq.empty),
      SortOrder(output.head, Ascending)), candidateAttrs)
    val project = BindReferences.bindReferences(
      candidateAttrs.take(3) :+ dist, store.output ++ query.output)
    val scan = PreparedScans.scan(session, source, store)
    longMetric("numFiles").add(scan.files.size.toLong)
    val ts = store.output.indexWhere(_.exprId == output(2).exprId)
    val perPartition = sparkContext.runJob(scan.rdd,
      new RagTopK(q, project, ts, spec.start, spec.end, ord, spec.k,
        longMetric("numRowsScored"))).flatten
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
    copy(store = newLeft, query = newRight)(source)
}

/** The prepared store scans of [[RagSearchExec]], one set per session
  * ([[SessionOps.PerSession]]). A request looks its store child up here
  * instead of executing it, so a warm request creates no scan RDD,
  * broadcasts no Hadoop configuration, generates no code and cleans no
  * closure: the window and every other request parameter live outside the
  * store's plan, so consecutive requests on one route ask for the same
  * scan.
  *
  * Key: the store's [[Source]], and within it the store child's
  * canonicalized physical plan (the route: its ticker filter, if any) and
  * the files each of its file scans selects — path, start, length and
  * mtime. The file list is needed because `InMemoryFileIndex` equality
  * compares root paths only: files rewritten or added under the same root
  * and re-listed (`refresh()`) would otherwise be read through the old
  * splits. A miss executes the child once and replaces the route's entry,
  * so a source holds at most one entry per route; a source that nothing
  * else holds any more (a superseded store version, a dropped store
  * frame) is expunged at the next lookup, and a dropped session takes all
  * of its entries with it. */
object PreparedScans {

  /** A store's identity: the logical leaves of its plan (the relation a
    * served store was resolved to, an RDD or local frame), compared by
    * reference and held weakly, so an entry lives only as long as the
    * store frame it was prepared for. Neither the route key nor the scan
    * RDD reaches them. */
  final class Source(leaves: Seq[AnyRef]) {
    private val refs = leaves.map(new WeakReference(_))
    private val hash = leaves.map(System.identityHashCode).hashCode
    def live: Boolean = refs.forall(_.get != null)
    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case s: Source => (s eq this) || (s.hash == hash && s.refs.size == refs.size &&
        s.refs.zip(refs).forall { case (a, b) => val x = a.get; x != null && (x eq b.get) })
      case _ => false
    }
  }

  /** A store child executed once: the files it selected and its RDD. */
  final case class Prepared(files: Seq[(String, Long, Long, Long)], rdd: RDD[InternalRow])

  private val bySession = new SessionOps.PerSession[Source, TrieMap[SparkPlan, Prepared]]

  /** The prepared scan of `store` for `source`, executing `store` on a
    * miss. */
  def scan(spark: SparkSession, source: Source, store: SparkPlan): Prepared = {
    val sources = bySession(spark)
    sources.keys.foreach(s => if (!s.live) sources.remove(s))
    val routes = sources.getOrElseUpdate(source, TrieMap.empty)
    val files = store.collect { case s: FileSourceScanExec =>
      s.selectedPartitions.toPartitionArray.toSeq
        .map(f => (f.filePath.toString, f.start, f.length, f.modificationTime))
    }.flatten
    val route = store.canonicalized
    routes.get(route).filter(_.files == files).getOrElse {
      val p = Prepared(files, store.execute())
      routes.put(route, p)
      p
    }
  }
}

/** [[RagSearchExec]]'s query-row task: a copy of every row of one
  * partition of the query frame. */
final class RagQueryRows
  extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
    rows.map(_.copy()).toArray
}

/** [[RagSearchExec]]'s k-NN task: the partition's best `k` rows under
  * `ord` among the store rows whose `ts` (a long at ordinal `ts`) lies in
  * [`start`, `end`] (both inclusive; a null `ts` never matches), each the
  * (vec_id, ticker, ts, dist) row `project` (bound over store ++ query
  * columns) makes of a store row joined with `q`. Adds the in-window rows
  * it scored to `scored`. */
final class RagTopK(
    q: InternalRow, project: Seq[Expression], ts: Int, start: Long, end: Long,
    ord: Ordering[InternalRow], k: Int, scored: SQLMetric)
  extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
    val proj = InterpretedUnsafeProjection.createProjection(project)
    val joined = new JoinedRow
    // max-heap on the ordering: its head is the worst row kept
    val heap = new java.util.PriorityQueue[InternalRow](k, ord.reverse)
    var n = 0L
    rows.foreach { r =>
      if (!r.isNullAt(ts) && r.getLong(ts) >= start && r.getLong(ts) <= end) {
        n += 1
        val c = proj(joined(r, q))
        if (heap.size < k) heap.add(c.copy())
        else if (ord.compare(c, heap.peek) < 0) { heap.poll(); heap.add(c.copy()) }
      }
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
        r.dist, r.score, r.output)(r.source) :: Nil
    case _ => Nil
  }
}
