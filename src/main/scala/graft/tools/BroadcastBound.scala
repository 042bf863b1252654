package graft.tools

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.BooleanType
import scala.util.control.NonFatal

/** Static row-count BOUND estimator for broadcast-hinted subtrees — the
  * PlanAudit extension behind the r10 hint discipline: an explicit
  * `broadcast()` is legitimate ONLY on a frame whose cardinality is
  * bounded independent of scale factor (a true dim, a scalar reduction,
  * a bounded-group aggregate, a top-N). A hint on anything that grows
  * with SF does not degrade at scale — it ODs the driver — so the audit
  * walks every query's ANALYZED plan (hints are still explicit
  * `ResolvedHint` nodes there; the optimizer folds them into join
  * attributes), bounds each hinted subtree, and fails any hint whose
  * bound is unknown or above [[CAP]].
  *
  * The estimator is deliberately conservative: it returns a bound only
  * for shapes it can PROVE bounded —
  *
  *  - leaves: LocalRelation/Range by size; parquet scans only for
  *    tables in [[TABLE_BOUNDS]] (nation/region and the d-row derived
  *    stores); every other scan is unbounded;
  *  - `limit(n)` → n (the top-N sampler shape, e.g. lsh_recall_eval's
  *    fixed-count anchors);
  *  - aggregates: no grouping → 1; grouped → the product of grouping
  *    domains, where a domain is known for [[BOUNDED_COLS]] (bounded
  *    real-world vocabularies like event_type), boolean-typed
  *    expressions (2), year() (bounded calendar), or a column pinned by
  *    an IN/= literal filter below the aggregate (bm25's fixed query
  *    terms);
  *  - filters: an equality/range/IN predicate over a UNIQUE id column
  *    ([[UNIQUE_KEYS]]) bounds rows by the literal (the capped codebook
  *    seed filters, `vec_id < 10` query pools); ids are non-negative so
  *    `id < k` bounds rows by k;
  *  - joins: semi/anti by the left side; inner/outer by the product;
  *    unions by the sum; generate (explode of a literal-sized
  *    sequence/array) multiplies by the generator's width.
  *
  * Anything unrecognized is unbounded — a new hint pattern fails the
  * audit until it is either expressible in a provable shape or
  * explicitly waived in [[PlanAudit.BROADCAST_OK]] with a reason (the
  * UNPUSHED_OK review discipline applied to hints).
  *
  * Blind spot and its patch: `localCheckpoint()` during query
  * CONSTRUCTION truncates lineage to a LogicalRDD, hiding any hint in
  * the checkpointed segment from the final analyzed plan. The
  * [[ExecutionAuditListener]] closes that hole by auditing the analyzed
  * plan of every query the session EXECUTES (checkpoint segments run as
  * their own executions) — PlanAudit and BroadcastBoundSpec both
  * register it alongside the top-level walk.
  */
object BroadcastBound {

  /** Hard cap on a provable bound before it is still called a
    * violation: bounded-but-huge (> 1M rows) is not a broadcastable
    * dim either. Generous vs every legitimate site (nation² = 625,
    * codebook caps ≤ 32k after subspace explode). */
  val CAP: Long = 1000000L

  /** Columns whose value domain is bounded by the WORLD, not the
    * corpus: more data means more rows per value, never more values.
    * Domain sizes are generous caps, only multiplied against each
    * other, so slack is harmless under [[CAP]].
    *
    * This is a NAME convention, deliberately — but since r11 it is
    * reserved for true fixed real-world vocabularies only. The generic
    * engine-internal names that used to ride it (`c_id`/`code`/`s` —
    * centroid ids, PQ codes, subspace indices) are now bounded by
    * PROVENANCE instead: [[Bounder.valueBound]] traces the attribute's
    * exprId through the analyzed plan (alias renames, aggregate
    * passthrough, unions, and the struct round-trip of the min_by top-1
    * shape) to the subtree that DEFINES its values — the capped seed
    * filter, the literal explode, the bounded dim — so an unbounded key
    * aliased onto one of those names now FAILS the audit
    * (BroadcastBoundSpec has the spoofing-shape cases). A query that
    * aliased an unbounded key onto one of the REMAINING vocabulary
    * names would still false-pass — the residual risk of any name rule —
    * so additions here require the same review as a BROADCAST_OK
    * waiver. */
  private val BOUNDED_COLS: Map[String, Long] = Map(
    "event_type" -> 16L, // fixed product event vocabulary
    "source" -> 16L, // fixed source-system list
    "lang" -> 32L, "a_lang" -> 32L, "b_lang" -> 32L, // language codes
    "n_name" -> 25L, "n_nationkey" -> 25L, // nation dim
    "r_name" -> 5L, "r_regionkey" -> 5L, // region dim
    "ticker" -> 4096L) // listed-symbol universe: bounded, not SF-scaled

  /** Columns that are unique row ids in their base tables — a literal
    * equality/range/IN over one of these bounds the ROW count, not just
    * the domain. */
  private val UNIQUE_KEYS: Set[String] = Set("vec_id", "doc_id", "event_id")

  /** Parquet leaves with a priori bounded cardinality: the two true
    * TPC-H dims and the d-row PCA basis store (rows = embedding
    * dimensionality, a model constant). */
  private val TABLE_BOUNDS: Map[String, Long] = Map(
    "nation" -> 25L,
    "region" -> 5L,
    "graft_pca_basis" -> 4096L)

  // ---- expression helpers ---------------------------------------------

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case a: Alias => stripCast(a.child)
    case other => other
  }

  private def litLong(e: Expression): Option[Long] = stripCast(e) match {
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Short, _) => Some(v.toLong)
    case _ => None
  }

  private def attrName(e: Expression): Option[String] = stripCast(e) match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** IN-list / equality literals in an ANALYZED plan often sit under an
    * implicit type-promotion Cast (`x IN (1, 2)` over a bigint column is
    * `In(x, [cast(1 as bigint), ...])` until the optimizer folds it) —
    * match literal-ness through the cast, like [[litLong]] does. */
  private def isLit(e: Expression): Boolean =
    stripCast(e).isInstanceOf[Literal]

  /** Row bound a single filter condition imposes, via its unique-key
    * conjuncts. `id < k` bounds rows by k because ids are non-negative
    * integers here (testdata + store contract). */
  private def condRowBound(cond: Expression): Option[Long] = {
    val bounds = conjuncts(cond).flatMap {
      case EqualTo(a, l) if attrName(a).exists(UNIQUE_KEYS) && litLong(l).isDefined =>
        Some(1L)
      case EqualTo(l, a) if attrName(a).exists(UNIQUE_KEYS) && litLong(l).isDefined =>
        Some(1L)
      case LessThan(a, l) if attrName(a).exists(UNIQUE_KEYS) => litLong(l)
      case LessThanOrEqual(a, l) if attrName(a).exists(UNIQUE_KEYS) =>
        litLong(l).map(_ + 1)
      case In(a, list) if attrName(a).exists(UNIQUE_KEYS) &&
          list.forall(isLit) =>
        Some(list.size.toLong)
      case _ => None
    }
    bounds.minOption
  }

  /** Value-domain cap a single filter CONDITION pins onto the attribute
    * `id` (IN-list / equality over ANY column, not just unique keys — a
    * grouping column filtered to literals has that many groups).
    * Matched by exprId, not name: a same-named column from another join
    * side must not leak its filter's bound onto this attribute.
    *
    * Consulted only at the Filter node's own position in
    * [[Bounder.computeValueBound]]'s descent — NEVER as a subtree-wide
    * collect. The old whole-subtree `filterDomain` was Union-spoofable:
    * Union output reuses the FIRST child's exprIds, so a literal pin
    * found inside one branch masked unbounded values merged in
    * positionally from the siblings. Positioned in the per-branch
    * chase, a pin can only ever bound the branch it actually filters. */
  private def literalPin(id: ExprId, cond: Expression): Option[Long] = {
    def sameRef(e: Expression): Boolean = stripCast(e) match {
      case a: AttributeReference => a.exprId == id
      case _ => false
    }
    conjuncts(cond).collectFirst {
      case In(a, list) if sameRef(a) && list.forall(isLit) => list.size.toLong
      case EqualTo(a, l) if sameRef(a) && isLit(l) => 1L
      case EqualTo(l, a) if sameRef(a) && isLit(l) => 1L
    }
  }

  private def product(xs: Seq[Option[Long]]): Option[Long] =
    xs.foldLeft(Option(1L)) {
      case (Some(a), Some(b)) if a <= CAP && b <= CAP => Some(a * b)
      case _ => None
    }

  private def minOpt(a: Option[Long], b: Option[Long]): Option[Long] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(math.min(x, y))
      case (x, y) => x.orElse(y)
    }

  private def sumOpts(xs: Seq[Option[Long]]): Option[Long] =
    xs.foldLeft(Option(0L)) {
      case (Some(a), Some(b)) => Some(a + b)
      case _ => None
    }

  /** Generator width for explode over a literal-sized sequence/array. */
  private def generatorBound(g: Generator): Option[Long] = g match {
    case Explode(child) => stripCast(child) match {
      case Sequence(lo, hi, _, _) =>
        for (l <- litLong(lo); h <- litLong(hi)) yield math.max(0L, h - l + 1)
      case CreateArray(items, _) => Some(items.size.toLong)
      case _ => None
    }
    case PosExplode(child) => generatorBound(Explode(child))
    case _ => None
  }

  /** Upper bound on `p`'s row count, independent of SF — None means
    * "could grow with the data". One-shot convenience over [[Bounder]];
    * [[audit]] shares a single memoized instance across all hints. */
  def boundOf(p: LogicalPlan): Option[Long] = new Bounder().bound(p)

  /** Memoized estimator instance: one per audited plan. Memoization
    * matters because [[valueBound]] calls [[bound]] at every node along
    * an attribute's lineage, and [[bound]] on an Aggregate calls
    * [[valueBound]] per grouping attribute — without the caches a
    * nested-aggregate plan walks the same subtrees exponentially. */
  private final class Bounder {
    private val bMemo =
      new java.util.IdentityHashMap[LogicalPlan, Option[Long]]()
    // Keyed by plan IDENTITY via IdentityHashMap (like bMemo), with a
    // nested (exprId, path) map — NOT by System.identityHashCode, which
    // is not collision-free: two distinct nodes along the same chase
    // sharing an identity hash would silently return each other's
    // cached bound.
    private val vMemo = new java.util.IdentityHashMap[LogicalPlan,
      java.util.HashMap[(ExprId, List[Int]), Option[Long]]]()

    def bound(p: LogicalPlan): Option[Long] = {
      val hit = bMemo.get(p)
      if (hit != null || bMemo.containsKey(p)) hit
      else {
        val r = computeBound(p)
        bMemo.put(p, r)
        r
      }
    }

    private def computeBound(p: LogicalPlan): Option[Long] = p match {
      case l: LocalRelation => Some(l.data.size.toLong)
      case _: OneRowRelation => Some(1L)
      case r: Range => Some(r.numElements.min(BigInt(Long.MaxValue)).toLong)
      case g: GlobalLimit =>
        litLong(g.limitExpr).map(n => bound(g.child).fold(n)(math.min(n, _)))
      case l: LocalLimit =>
        // local limit alone doesn't bound globally (n per partition);
        // only min with the child's own bound
        bound(l.child)
      case a: Aggregate =>
        if (a.groupingExpressions.isEmpty) Some(1L)
        else product(a.groupingExpressions.map(domainOf(_, a.child)))
      case d: Distinct =>
        product(d.child.output.map(domainOf(_, d.child)))
      case d: Deduplicate =>
        product(d.keys.map(domainOf(_, d.child)))
      case f: Filter =>
        (condRowBound(f.condition), bound(f.child)) match {
          case (Some(a), Some(b)) => Some(math.min(a, b))
          case (a, b) => a.orElse(b)
        }
      case j: Join =>
        import org.apache.spark.sql.catalyst.plans._
        val (l, r) = (bound(j.left), bound(j.right))
        j.joinType match {
          case LeftSemi | LeftAnti => l
          // Outer joins emit unmatched rows BEYOND the match product, so
          // the true upper bound adds the unmatched side(s) — an inner
          // product alone would under-bound (e.g. full outer of disjoint
          // 1-row sides emits 2, not 1).
          case LeftOuter => product(Seq(l, r)).flatMap(p => l.map(p + _))
          case RightOuter => product(Seq(l, r)).flatMap(p => r.map(p + _))
          case FullOuter =>
            for (p <- product(Seq(l, r)); a <- l; b <- r) yield p + a + b
          case _ => product(Seq(l, r))
        }
      case u: Union => sumOpts(u.children.map(bound))
      case g: Generate =>
        // outer generate emits the input row even when the generator is
        // empty, so its multiplier never drops below 1.
        val gb = generatorBound(g.generator)
          .map(n => if (g.outer) math.max(1L, n) else n)
        product(Seq(bound(g.child), gb))
      case h: ResolvedHint => bound(h.child)
      case pr: Project => bound(pr.child)
      case s: SubqueryAlias => bound(s.child)
      case s: Sort => bound(s.child)
      case w: Window => bound(w.child)
      case r: RepartitionOperation => bound(r.child)
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          val root = h.location.rootPaths.headOption.map(_.toString).getOrElse("?")
          TABLE_BOUNDS.get(tableFromRoot(root))
        case _ => None
      }
      case _ => None
    }

    /** Domain size of one grouping expression over `child`. NULL is a
      * group of its own, so a nullable expression (outer-join extended
      * attribute, optional field, null-propagating function) takes one
      * value beyond its domain — without the +1, grouping a
      * filtered-to-2-literals column AFTER a left outer join would
      * under-bound 3 real groups as 2. Immaterial against the 1M CAP
      * (domains only multiply each other), but the estimator's contract
      * is a sound upper bound, not a usually-close one. */
    def domainOf(e: Expression, child: LogicalPlan): Option[Long] = {
      val raw = stripCast(e) match {
        case a: AttributeReference =>
          // filter-pinned domains (bm25's fixed query terms) are found
          // by the provenance chase itself — valueBound consults
          // literalPin at each Filter NODE during descent, which is the
          // Union-sound placement (a pin on one branch never covers a
          // sibling's values).
          BOUNDED_COLS.get(a.name)
            .orElse(valueBound(a.exprId, Nil, child))
            .orElse(if (a.dataType == BooleanType) Some(2L) else None)
        case _: Year => Some(200L) // bounded calendar range
        case _: Month => Some(12L)
        case _: DayOfWeek | _: WeekDay => Some(7L)
        case other if other.dataType == BooleanType => Some(2L)
        case _ => None
      }
      raw.map(b => if (e.nullable) b + 1 else b)
    }

    /** PROVENANCE bound on the number of distinct values attribute `id`
      * can take in `p`'s output: trace the exprId down the plan to the
      * subtree that DEFINES its values, and bound by the tightest row
      * bound along the way. Sound because operators above a definition
      * site only propagate or drop an attribute's values — the two
      * shapes that can introduce values from elsewhere (Union merging
      * positionally, struct pack/unpack round-trips) are handled
      * explicitly, and anything unrecognized returns None (unbounded).
      *
      * `path` carries a pending struct-field selection: the min_by-top-1
      * shape (`agg(min_by(struct(cols), ord)).select("best.*")`) rebinds
      * every column through `GetStructField(best, i)` with a FRESH
      * exprId, so the chase must push the ordinal down to the
      * `CreateNamedStruct` that packed the original attribute — that is
      * exactly how the kmeans round-2 centroid table proves its c_id
      * domain descends from the capped seed filter. */
    def valueBound(id: ExprId, path: List[Int], p: LogicalPlan): Option[Long] = {
      var perPlan = vMemo.get(p)
      if (perPlan == null) {
        perPlan = new java.util.HashMap[(ExprId, List[Int]), Option[Long]]()
        vMemo.put(p, perPlan)
      }
      val key = (id, path)
      val hit = perPlan.get(key)
      if (hit != null || perPlan.containsKey(key)) hit
      else {
        val r = computeValueBound(id, path, p)
        perPlan.put(key, r)
        r
      }
    }

    /** Chase a defining EXPRESSION at plan `p` (whose input is `child`)
      * for its value bound under a pending struct-field `path`. */
    private def chase(e: Expression, child: LogicalPlan,
                      path: List[Int]): Option[Long] = stripCast(e) match {
      case _: Literal => Some(1L)
      case ar: AttributeReference => valueBound(ar.exprId, path, child)
      case gsf: GetStructField => chase(gsf.child, child, gsf.ordinal :: path)
      case cns: CreateNamedStruct if path.nonEmpty =>
        val vals = cns.valExprs
        if (path.head >= 0 && path.head < vals.size)
          chase(vals(path.head), child, path.tail)
        else None
      case ae: aggregate.AggregateExpression =>
        // order-statistic / pick-one aggregates emit a subset of their
        // input values, so the chase continues through the value arg
        ae.aggregateFunction match {
          case f: aggregate.MaxMinBy => chase(f.valueExpr, child, path)
          case f: aggregate.Min => chase(f.child, child, path)
          case f: aggregate.Max => chase(f.child, child, path)
          case f: aggregate.First => chase(f.child, child, path)
          case f: aggregate.Last => chase(f.child, child, path)
          case _ => None
        }
      case _ => None
    }

    private def definedBound(id: ExprId, path: List[Int], p: LogicalPlan,
        defs: Seq[NamedExpression], child: LogicalPlan): Option[Option[Long]] =
      defs.collectFirst { case al: Alias if al.exprId == id =>
        minOpt(bound(p), chase(al.child, child, path))
      }

    private def computeValueBound(id: ExprId, path: List[Int],
                                  p: LogicalPlan): Option[Long] = {
      val rowB = bound(p) // #rows always bounds #distinct values
      val defined: Option[Option[Long]] = p match {
        case f: Filter =>
          // A literal IN/= pin on this exprId bounds the attribute's
          // values on THIS branch; min with the descent below keeps the
          // tightest bound. Sound under any pending struct `path` too: a
          // whole-struct pin to n literal values bounds every field of
          // it by n.
          literalPin(id, f.condition).map(pin =>
            minOpt(Some(pin), minOpt(rowB, valueBound(id, path, f.child))))
        case pr: Project => definedBound(id, path, p, pr.projectList, pr.child)
        case ag: Aggregate =>
          definedBound(id, path, p, ag.aggregateExpressions, ag.child)
        case w: Window => definedBound(id, path, p, w.windowExpressions, w.child)
        case g: Generate if g.generatorOutput.exists(_.exprId == id) =>
          Some(rowB)
        case u: Union =>
          // positional merge: child i contributes its output(pos) values
          val pos = u.output.indexWhere(_.exprId == id)
          if (pos < 0) None
          else Some(minOpt(rowB, sumOpts(u.children.map(c =>
            valueBound(c.output(pos).exprId, path, c)))))
        case e: Expand =>
          // Expand re-binds outputs and injects nulls per grouping-set
          // projection — bound only by the node's own row bound (None
          // today: Expand has no computeBound case), never by descent.
          Some(rowB)
        case _ => None
      }
      defined.getOrElse {
        val owners = p.children.filter(_.output.exists(_.exprId == id))
        if (owners.isEmpty) rowB // leaf or opaque definer: rows is all we have
        else minOpt(rowB, sumOpts(owners.map(valueBound(id, path, _))))
      }
    }
  }

  /** Canonical table name from a file-scan root path — ONE parser shared
    * by every tool that attributes scans to tables (this estimator,
    * [[ScalingProbe]]'s driving-table derivation, [[PlanAudit.scanStats]]):
    * skip version dirs (`v_<fp>_m<mtime>`, `v3`-style), partition dirs
    * (`k=v`), and SF suffix dirs; strip the format extension. */
  private[tools] def tableFromRoot(root: String): String =
    root.split('/').reverse
      .find(seg => !seg.startsWith("v_") && !seg.contains("=") &&
        !seg.matches("sf[0-9.]+") && !seg.matches("v\\d+"))
      .getOrElse("?").stripSuffix(".parquet").stripSuffix(".csv")

  /** Broadcast-hinted subtrees of an analyzed plan with their bound
    * verdicts: (bound, description-of-offense) per hint; empty seq =
    * clean. */
  def audit(analyzed: LogicalPlan): Seq[(Option[Long], String)] = {
    val bounder = new Bounder()
    analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.exists(_.toString.toUpperCase.contains("BROADCAST")) =>
        val b = bounder.bound(h.child)
        (b, b match {
          case Some(n) if n <= CAP => ""
          case Some(n) => s"bounded but over cap ($n > $CAP)"
          case None =>
            s"UNBOUNDED hint (leaves: ${leafNames(h.child)})"
        })
    }
  }

  /** Leaf tables of a subtree, for offense messages. */
  private def leafNames(p: LogicalPlan): String =
    p.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case hf: HadoopFsRelation =>
          hf.location.rootPaths.headOption.map(_.toString.split('/').last)
            .getOrElse("?")
        case _ => lr.relation.getClass.getSimpleName
      }
      case other => other.getClass.getSimpleName
    }.mkString(",").take(80)

  /** Non-equi joins — the logical shape that plans as
    * BroadcastNestedLoopJoinExec (or, when nothing is broadcastable, a
    * CartesianProductExec): a Join with no equality conjunct LINKING the
    * two sides. PlanAudit used to only list the resulting BNLJs for
    * eyeball review; this closes the r11-verdict hole by requiring every
    * such join to carry at least one side provably bounded under the
    * same [[Bounder]]/[[CAP]] as the hint audit — the side a BNLJ can
    * safely broadcast while streaming the other. A non-equi join between
    * two SF-scaled frames (quadratic at scale by construction) now fails
    * the audit unless the query carries a reviewed
    * [[PlanAudit.BNLJ_OK]] waiver naming it. */
  def nonEquiJoinAudit(analyzed: LogicalPlan): Seq[String] = {
    val bounder = new Bounder()
    def crossSideEq(j: Join)(e: Expression): Boolean = {
      def pair(a: Expression, b: Expression): Boolean = {
        val (l, r) = (j.left.outputSet, j.right.outputSet)
        a.references.nonEmpty && b.references.nonEmpty &&
          ((a.references.subsetOf(l) && b.references.subsetOf(r)) ||
            (a.references.subsetOf(r) && b.references.subsetOf(l)))
      }
      e match {
        case EqualTo(a, b) => pair(a, b)
        case EqualNullSafe(a, b) => pair(a, b)
        case _ => false
      }
    }
    analyzed.collect {
      case j: Join
          if !j.condition.map(conjuncts).getOrElse(Nil).exists(crossSideEq(j)) =>
        val lb = bounder.bound(j.left)
        val rb = bounder.bound(j.right)
        if (lb.exists(_ <= CAP) || rb.exists(_ <= CAP)) ""
        else s"NONEQUI ${j.joinType} join, no bounded side (" +
          s"left=${lb.getOrElse("?")} [${leafNames(j.left)}] " +
          s"right=${rb.getOrElse("?")} [${leafNames(j.right)}])"
    }.filter(_.nonEmpty)
  }

  /** Sub-execution capture: `localCheckpoint()` (and any other eager
    * action taken DURING query construction — store builds, driver-side
    * probe collects) truncates lineage to a LogicalRDD, so a hint inside
    * the checkpointed segment is INVISIBLE in the final analyzed plan —
    * the one blind spot of [[audit]]. This listener closes it: every
    * query Spark executes on the session gets its OWN analyzed plan
    * audited at execution time, checkpoint segments included. The
    * listener bus is asynchronous, so labels are best-effort (set the
    * label before constructing each query; a violation reported under a
    * neighboring label still fails the gate) and callers must allow the
    * bus to drain ([[graft.ops.SessionOps.drainListenerBus]]) before
    * reading [[hits]]. */
  final class ExecutionAuditListener
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private val labelRef = new java.util.concurrent.atomic.AtomicReference[String]("?")
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def setLabel(l: String): Unit = labelRef.set(l)
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      try {
        (audit(qe.analyzed).map(_._2) ++ nonEquiJoinAudit(qe.analyzed))
          .foreach(off => if (off.nonEmpty) hits.add((labelRef.get(), off)))
      } catch { case NonFatal(_) => () }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        error: Exception): Unit = ()
  }
}
