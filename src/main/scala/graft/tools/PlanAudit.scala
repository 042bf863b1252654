package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import scala.util.control.NonFatal

/** Whole-registry plan audit (dev tool): walks every registered query's
  * physical plan and counts the structures the 100-TB checklist cares
  * about — unconditioned cartesian products (the one shape that cannot
  * survive scale), broadcast nested-loop joins (legitimate ONLY for the
  * scalar/pool-sized broadcast crosses this repo uses), exchanges
  * (shuffle count), and whole-stage-codegen spans (fused vs interpreted
  * execution).
  *
  * Exit is nonzero if any CartesianProductExec appears at all: every
  * intentional cross in the registry broadcasts a scalar or pool-sized
  * frame and therefore plans as BroadcastNestedLoopJoin, so a true
  * cartesian can only be a regression. BNLJs are PROVEN, not eyeballed
  * (r12): every non-equi logical join must carry at least one side
  * provably bounded by [[BroadcastBound.nonEquiJoinAudit]]'s provenance
  * tracing, or a reviewed [[BNLJ_OK]] waiver — an unbounded-both-sides
  * cross introduced by a future change fails the audit instead of
  * landing silently.
  *
  * Beyond join shapes, the audit asserts the two scan-level properties
  * the checklist cares about on every parquet read in the registry:
  *
  *  - '''Pushdown''': a scan carrying data filters must push at least
  *    one of them into the parquet reader (`PushedFilters` non-empty).
  *    Filters whose shape is genuinely untranslatable to source filters
  *    (HOF/regex/length arithmetic over `text`, …) are allowlisted PER
  *    QUERY+TABLE in [[UNPUSHED_OK]] — a new query that filters a scan
  *    without pushing fails the audit until explicitly waived.
  *  - '''Pruning''': per-query expected column counts in
  *    [[EXPECT_READ_COLS]] — the asserted paths (TPC-H headline queries,
  *    the serve paths) must read exactly the columns they need; any scan
  *    that reads MORE columns than its expectation fails. Queries
  *    without an entry get the generic rule: reading ALL columns of a
  *    wide (≥5-col) table is flagged unless the query is a declared
  *    full-width consumer ([[FULL_WIDTH_OK]] — profilers, format
  *    round-trips, store rebuilds).
  *
  * Usage: runMain graft.tools.PlanAudit [q1,q2,...]
  */
object PlanAudit {
  private def count(p: SparkPlan, pred: SparkPlan => Boolean): Int =
    p.collect { case n if pred(n) => n }.size

  /** Every node in a plan, descending through the wrappers plain
    * `collect` treats as leaves: the adaptive root, AQE query stages,
    * reused exchanges, and subqueries. Needed whenever a plan is
    * inspected AFTER execution (the executed form is AQE-wrapped). */
  private[graft] def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val through: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: (through ++ p.subqueries).flatMap(allNodes)
  }

  /** (query, table) pairs whose scan filters are untranslatable to
    * parquet source filters by construction — each reviewed by hand:
    *  - active_users_rolling7/events: the only data filter is the
    *    null-rejection Catalyst infers for the self-join key
    *    `to_date(ts)` — an expression over the nanos→timestamp
    *    conversion, inherently untranslatable; ts is non-null in the
    *    data, so nothing is lost.
    *  - join_range_binned/events: the interval side is carved out of
    *    the event stream by `event_id % 997 = 0` (modulo arithmetic —
    *    no source-filter form). At production scale intervals are their
    *    own table and the filter disappears.
    *  - join_skew_salted/{lineitem,orders}: the inferred null guards on
    *    the DERIVED join keys k (CASE over l_orderkey%100) and salt
    *    (pmod) — arithmetic, untranslatable, and never-null anyway.
    * A new (query, table) hitting the unpushed rule fails until it is
    * reviewed and added here. */
  private val UNPUSHED_OK: Set[(String, String)] = Set(
    ("active_users_rolling7", "events"),
    ("join_range_binned", "events"),
    ("join_skew_salted", "lineitem"),
    ("join_skew_salted", "orders"),
    // the marginal joins on the DERIVED cohort key infer a null guard on
    // `user_id % 2 = 0` — modulo arithmetic, untranslatable, and user_id
    // is never null; same class as join_skew_salted's salt guard.
    ("stats_chi2_independence", "events"),
    // surfaced by the r10 cached-scan descent (these queries read
    // documents only through a .cache()): the min-token guard
    // `size(split(text, ' ')) >= 3` is HOF/length arithmetic over text —
    // inherently untranslatable to a parquet source filter. Evaluated
    // post-scan; nothing prunable is lost (no companion column exists to
    // carry an equivalent raw bound, unlike the nanos case).
    ("dedup_containment", "documents"),
    ("dedup_shingle_jaccard", "documents"),
    // r16 arithmetic-count rewrite: the admission filter
    // `n_tokens_after > 0` is over a COMPUTED column (token count minus
    // the joined span coverage) — inherently post-join, untranslatable
    // to a source filter; the doc scan itself has nothing prunable (the
    // query reads every document by contract).
    ("mining_pipeline", "documents"))

  /** Queries that legitimately read every column of a wide table:
    * row-level operators whose CONTRACT is whole rows (filter/TTL/limit
    * return full records; metadata coercion and profiling touch every
    * column by definition). */
  private val FULL_WIDTH_OK: Set[String] = Set(
    "filter_latest_metric", "filter_time_window", "limit_head_n",
    "retention_delete", "retention_ttl")

  /** Queries with REVIEWED exceptions to the bounded-hint rule
    * ([[BroadcastBound]]) — each entry is (max waived unbounded hints,
    * offense-text pattern, reason). The waiver is COUNTED and
    * PATTERN-MATCHED, not blanket: a listed query may carry at most
    * that many unbounded hints AND each must match the reviewed
    * offense's own text (the leaf table of the hinted subtree) — so an
    * unused slot cannot be ridden by a DIFFERENT hint added later (the
    * r10 ADVICE hole: when the size gate picks the salted-shuffle
    * branch, fewer waived hints materialize, and a purely counted
    * budget would have covered a new unrelated forced broadcast). One
    * more matching hint than budgeted still fails too. Same fail-closed
    * discipline as [[UNPUSHED_OK]].
    *
    *  - LshJoin consumers: `LshJoin.candidateJoin`/`verifyJoin` choose
    *    broadcast ONLY when the optimizer's size estimate of the banded
    *    table fits the session broadcast threshold
    *    (`LshJoin.fitsBroadcast`); above it the plan switches to the
    *    salted shuffle. The hints the audit sees at test SF are the
    *    small-side branch of a runtime size gate, not forced shapes —
    *    up to 3 per consumer (banded self-join build + the two verify
    *    token-set lookups), all documents-leaved.
    *  - join_broadcast: the broadcast-hash-join demonstration query —
    *    its PURPOSE is the hinted plan (the shuffle twin is
    *    join_shuffle), mirroring join_skew_salted's deliberate skew
    *    shapes. One hint on the part leaf. */
  private[graft] def maxWaivedHints(name: String): Int =
    BROADCAST_OK.get(name).map(_._1).getOrElse(0) +
      BNLJ_OK.get(name).map(_._1).getOrElse(0)

  /** The offenses NOT covered by `name`'s reviewed waivers: an offense
    * whose text misses every waiver's pattern fails outright; matching
    * offenses beyond a waiver's count budget fail as well. `text`
    * extracts the offense string (callers carry a surface tag alongside
    * it). The two waiver maps are applied independently — their patterns
    * are disjoint by construction (`UNBOUNDED hint` vs `NONEQUI`), so an
    * unused broadcast waiver can never absorb a non-equi-join offense or
    * vice versa. */
  private[graft] def unwaived[A](name: String, offenses: Seq[A])(
      text: A => String): Seq[A] = {
    def apply1(off: Seq[A], w: Option[(Int, String, String)]): Seq[A] =
      w match {
        case None => off
        case Some((max, pat, _)) =>
          val rx = pat.r
          val (m, um) = off.partition(o => rx.findFirstIn(text(o)).isDefined)
          um ++ (if (m.size > max) m else Nil)
      }
    apply1(apply1(offenses, BROADCAST_OK.get(name)), BNLJ_OK.get(name))
  }

  private val BROADCAST_OK: Map[String, (Int, String, String)] = Map(
    "join_broadcast" -> ((1, """UNBOUNDED hint \(leaves: part\.parquet\)""",
      "deliberate BHJ physical-plan demo")),
    "dedup_minhash_lsh" -> ((3, """UNBOUNDED hint \(leaves: documents\.parquet\)""",
      "LshJoin size-gated (salted-shuffle fallback)")),
    "dedup_shingle_jaccard" -> ((3, """UNBOUNDED hint \(leaves: documents\.parquet\)""",
      "LshJoin size-gated (salted-shuffle fallback)")),
    "multimodal_phash_neardup" -> ((3, """UNBOUNDED hint \(leaves: documents\.parquet\)""",
      "LshJoin size-gated (salted-shuffle fallback)")),
    "dedup_fuzzy_minhash" -> ((3, """UNBOUNDED hint \(leaves: documents\.parquet\)""",
      "LshJoin size-gated (salted-shuffle fallback)")),
    // r13/r15: the adaptive verify attach has two size-gated broadcast
    // branches, both reviewed. While the DESIGNED pair volume fits the
    // shared 64 MB pairs cap (r15, the LshJoin.verifyJoin shape), the
    // bare (a_id, b_id) candidate set broadcasts on BOTH sides of the
    // map-side attach — 2 hints whose subtree carries the candidate
    // self-join's two embeddings leaves; the payload is never in any
    // broadcast build. Above the pairs cap, the b-side vector table
    // broadcasts only while its estimated bytes fit
    // VERIFY_BROADCAST_CAP (2 GB) — 1 single-leaf hint; above that the
    // SAME construction plans shuffled hash joins. All branches are
    // spec-pinned (AdaptiveLshSpec). knn_join_lsh_adaptive reaches the
    // shared adaptivePairSims through its truncate, so its hints
    // surface on the sub-exec (checkpoint-segment) listener.
    // r15: the pairs-side broadcast now reads the gate-bounded candidate
    // CHECKPOINT (the two hash-relation builds are keyed differently, so
    // each re-ran the dedup aggregate without it) — a localCheckpoint
    // truncates lineage, so the hint's leaf surfaces as LogicalRDD
    // instead of the embeddings scans it was built from. Same 2-hint
    // budget, same gate.
    "ann_lsh_adaptive" -> ((2,
      """UNBOUNDED hint \(leaves: (embeddings\.parquet(,embeddings\.parquet)?|LogicalRDD)\)""",
      "verify attach size-gated (pairs cap -> checkpointed pair-set " +
        "broadcast x2; VERIFY_BROADCAST_CAP -> b-side; above = SHUFFLE_HASH)")),
    "knn_join_lsh_adaptive" -> ((2,
      """UNBOUNDED hint \(leaves: (embeddings\.parquet(,embeddings\.parquet)?|LogicalRDD)\)""",
      "verify attach size-gated (pairs cap -> checkpointed pair-set " +
        "broadcast x2; VERIFY_BROADCAST_CAP -> b-side; above = SHUFFLE_HASH)")))

  /** Queries with REVIEWED exceptions to the bounded-BNLJ rule
    * ([[BroadcastBound.nonEquiJoinAudit]]): non-equi joins where neither
    * side is provably bounded. Same counted + pattern-matched fail-closed
    * discipline as [[BROADCAST_OK]]. Every entry here must be one of the
    * documented by-contract quadratics (BENCH_NOTES triage) — anything
    * else is a regression and fails.
    *
    *  - dedup_embedding_cosine: the EXACT all-pairs cosine twin — its
    *    oracle contract IS the unbounded theta self-join (a_id < b_id
    *    over embeddings²). Triaged quadratic since r10 (26.3× at the
    *    second decade); the scale complements are semantic_dedup_ivf and
    *    ann_lsh_adaptive. One offense, embeddings leaves on both sides. */
  private val BNLJ_OK: Map[String, (Int, String, String)] = Map(
    "dedup_embedding_cosine" -> ((1,
      """NONEQUI Inner join, no bounded side \(left=\? \[embeddings\.parquet\] right=\? \[embeddings\.parquet\]\)""",
      "by-contract exact all-pairs baseline (BENCH_NOTES triage)")))

  /** Asserted read widths: query -> table -> max columns the scan may
    * read. Populated for the headline/asserted paths; the audit fails
    * if the scan's ReadSchema exceeds the expectation. */
  private val EXPECT_READ_COLS: Map[String, Map[String, Int]] = Map(
    "tpch_q6_forecast" -> Map("lineitem" -> 4),
    "tpch_q1_pricing" -> Map("lineitem" -> 7),
    "tpch_q14_promo" -> Map("lineitem" -> 5, "part" -> 2),
    "tpch_q3_shipping" -> Map("lineitem" -> 4, "orders" -> 4, "customer" -> 2),
    "tpch_q5_local_supplier" -> Map("lineitem" -> 4),
    // r10: pinned for the whole remaining TPC-H archetype set after the
    // hint purge (max observed width per table across the query's scans
    // — Explain prints them). A future edit that widens any of these
    // scans fails the audit instead of silently paying full-width I/O.
    // (supplier has only 4 columns; q2/q20 legitimately need 3-4.)
    "tpch_q2_mincost" -> Map("lineitem" -> 4, "part" -> 4, "supplier" -> 4,
      "nation" -> 3, "region" -> 2),
    "tpch_q4_priority" -> Map("orders" -> 3, "lineitem" -> 2),
    "tpch_q7_volume" -> Map("lineitem" -> 5, "supplier" -> 2, "orders" -> 2,
      "customer" -> 2, "nation" -> 2),
    "tpch_q8_marketshare" -> Map("lineitem" -> 5, "part" -> 2, "supplier" -> 2,
      "orders" -> 3, "customer" -> 2, "nation" -> 2, "region" -> 2),
    "tpch_q9_profit" -> Map("lineitem" -> 6, "part" -> 3, "supplier" -> 2,
      "orders" -> 2, "nation" -> 2),
    "tpch_q10_returns" -> Map("lineitem" -> 4, "orders" -> 3, "customer" -> 3),
    "tpch_q11_important" -> Map("lineitem" -> 2),
    "tpch_q12_latemix" -> Map("lineitem" -> 3, "orders" -> 2),
    "tpch_q13_custdist" -> Map("customer" -> 1, "orders" -> 2),
    "tpch_q15_topsupp" -> Map("lineitem" -> 4, "supplier" -> 2),
    "tpch_q16_suppcnt" -> Map("lineitem" -> 2, "supplier" -> 2, "part" -> 4),
    "tpch_q17_smallqty" -> Map("lineitem" -> 3, "part" -> 3),
    "tpch_q18_large_orders" -> Map("orders" -> 4, "lineitem" -> 2, "customer" -> 2),
    "tpch_q19_brackets" -> Map("lineitem" -> 4, "part" -> 3),
    "tpch_q20_excess" -> Map("lineitem" -> 4, "part" -> 2, "supplier" -> 3),
    "tpch_q21_waiting" -> Map("lineitem" -> 3, "orders" -> 3, "supplier" -> 2),
    "tpch_q22_untapped" -> Map("customer" -> 3, "orders" -> 2),
    "funnel_time_to_convert" -> Map("events" -> 3),
    // heavy document/vector family. Cached segments ARE audited (the
    // cachedPlan descent in scanStats); what remains invisible is a
    // localCheckpoint segment (LogicalRDD truncates the plan), which is
    // how the dedup/BPE builders read documents — those scans have no
    // static width to pin here:
    "lsh_recall_eval" -> Map("graft_minhash_pairs" -> 2),
    "text_tfidf_top_terms" -> Map("documents" -> 2),
    "quality_lm_score" -> Map("documents" -> 1),
    "dedup_cluster_cc" -> Map("documents" -> 1),
    "corpus_curation_pipeline" -> Map("documents" -> 4),
    // r16: ONE 3-col scan (doc_id, text, source) replaced the old TWO
    // 2-col scans (doc_id+text for the count pass, doc_id+source for the
    // re-attach) — strictly fewer column-bytes read overall.
    "mining_pipeline" -> Map("documents" -> 3),
    "kmeans_lloyd_train" -> Map("embeddings" -> 3),
    "ann_ivf_pq_search" -> Map("embeddings" -> 3),
    "embedding_pca_project" -> Map("embeddings" -> 2),
    "knn_filtered_search" -> Map("embeddings" -> 3),
    "ann_serve_from_store" -> Map("embeddings" -> 2),
    "filter_ticker_eq" -> Map("events" -> 6),
    "rag_query_spec" -> Map("graft_rag_store" -> 3, "embeddings" -> 2)
  )

  private[graft] case class ScanStat(table: String, readCols: Int, totalCols: Int,
                              nPushed: Int, nDataFilters: Int)

  /** Parquet scans only (CSV never pushes); store scans under /tmp are
    * audited for width like any other table — their "table" is the
    * store root's basename (version dirs stripped). Descends into
    * cached segments (`InMemoryTableScanExec.relation.cachedPlan`): a
    * `.cache()` otherwise hides its build's scans from the audit, and
    * the dedup/BPE family reads documents exclusively through caches —
    * their pushdown/width discipline would be unaudited without this. */
  private[graft] def scanStats(p: SparkPlan): Seq[ScanStat] = {
    val nested = p.collect {
      case t: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        scanStats(t.relation.cachedPlan)
    }.flatten
    directScanStats(p) ++ nested
  }

  private def directScanStats(p: SparkPlan): Seq[ScanStat] =
    p.collect {
      case s: FileSourceScanExec
          if s.relation.fileFormat.toString.contains("Parquet") =>
        val root = s.relation.location.rootPaths.headOption
          .map(_.toString).getOrElse("?")
        val table = BroadcastBound.tableFromRoot(root)
        val pushed = s.metadata.getOrElse("PushedFilters", "[]")
        // Count TOP-LEVEL commas only: a single filter's rendering can
        // itself contain commas — Not(EqualTo(event_type,error)) is one
        // pushed filter, not two — so nesting depth gates the split.
        val nPushed = if (pushed == "[]") 0 else {
          var depth = 0
          var n = 1
          pushed.foreach {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 0 => n += 1
            case _ => ()
          }
          n
        }
        ScanStat(table, s.requiredSchema.size, s.relation.dataSchema.size,
          nPushed, s.dataFilters.size)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.ops.SessionOps.localSession()
    val only = if (args.nonEmpty) args.flatMap(_.split(',')).toSet else Set.empty[String]
    var cartesians = 0
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    // Prewarm pass, UN-audited: first construction triggers one-time
    // derived-store builds (whose LshJoin broadcasts are the reviewed
    // size-gated pattern); warming them first makes the audited pass
    // deterministic cold-vs-warm. localCheckpoint segments re-execute
    // on every construction, so the audited pass still sees them.
    selected.foreach { case (_, fn) =>
      try { fn(spark, sfDir); () } catch { case NonFatal(_) => () }
    }
    // Sub-execution audit (the localCheckpoint blind spot): every query
    // the session executes during construction gets its analyzed plan
    // audited too — see BroadcastBound.ExecutionAuditListener.
    val listener = new BroadcastBound.ExecutionAuditListener
    spark.listenerManager.register(listener)
    val hintOffenses = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    val rows = selected
      .flatMap { case (name, fn) =>
        // Fence waived labels against async misattribution: drain the
        // bus BEFORE a waived query's label goes live (so an earlier
        // query's straggler can't land on the waiver) and AFTER its
        // construction (so its own stragglers don't leak onto the next
        // label). Only ~4 queries carry waivers, so the cost is small;
        // a stray hit can then only ever land on a ZERO-budget label,
        // where it always fails the gate. A drain that times out fails
        // the audit (outside the per-query error catch).
        val fenced = maxWaivedHints(name) > 0
        if (fenced) graft.ops.SessionOps.drainListenerBus(spark, 1500)
        listener.setLabel(name)
        val row = try {
          val qe = fn(spark, sfDir).queryExecution
          // Bounded-hint rule: every broadcast hint in the ANALYZED plan
          // must sit on a subtree provably bounded independent of SF —
          // the verdict is deferred until sub-execution (checkpoint
          // segment) hits are folded in, so one budget covers BOTH
          // surfaces rather than each getting its own allowance.
          // Bounded-BNLJ rule (r12): every non-equi join — the shape that
          // plans as BroadcastNestedLoopJoinExec — must have at least one
          // provably bounded side; offenses ride the same per-query
          // fail-closed waiver machinery (BNLJ_OK) as the hint rule.
          hintOffenses(name) = BroadcastBound.audit(qe.analyzed)
            .map(_._2).filter(_.nonEmpty) ++
            BroadcastBound.nonEquiJoinAudit(qe.analyzed)
          // sparkPlan (pre-AQE): AdaptiveSparkPlanExec hides children from
          // collect, and the audit wants the statically-planned shapes.
          val plan = qe.sparkPlan
          // No codegen-span column: WholeStageCodegen collapse happens
          // per-stage under AQE at runtime, so the static plan can't
          // report it honestly.
          val cart = count(plan, _.getClass.getSimpleName == "CartesianProductExec")
          val bnlj = count(plan, _.getClass.getSimpleName == "BroadcastNestedLoopJoinExec")
          val exch = count(plan, _.getClass.getSimpleName.startsWith("ShuffleExchange"))
          cartesians += cart
          scanStats(plan).foreach { st =>
            if (st.nDataFilters > 0 && st.nPushed == 0 &&
                !UNPUSHED_OK((name, st.table)))
              violations += f"$name%-28s ${st.table}%-12s UNPUSHED: " +
                s"${st.nDataFilters} data filter(s), 0 pushed"
            EXPECT_READ_COLS.get(name).flatMap(_.get(st.table)) match {
              case Some(maxCols) =>
                if (st.readCols > maxCols)
                  violations += f"$name%-28s ${st.table}%-12s WIDTH: reads " +
                    s"${st.readCols} cols, expected <= $maxCols"
              case None =>
                if (st.readCols == st.totalCols && st.totalCols >= 5 &&
                    !FULL_WIDTH_OK(name))
                  violations += f"$name%-28s ${st.table}%-12s FULLWIDTH: " +
                    s"reads all ${st.totalCols} cols with no expectation"
            }
          }
          graft.ops.SessionOps.dropCachedBlocks(spark)
          Some((name, cart, bnlj, exch))
        } catch {
          case NonFatal(e) =>
            println(f"$name%-28s AUDIT ERROR: ${e.getMessage.take(80)}")
            None
        }
        if (fenced) graft.ops.SessionOps.drainListenerBus(spark, 1500)
        row
      }
    // Fold the sub-execution (checkpoint-segment) hint findings into the
    // SAME per-query budget as the top-level findings — a separate
    // comparison would hand every waived query a second full allowance,
    // letting a checkpoint-hidden unbounded hint ride an unused waiver.
    // The prewarmed store builds never re-fire here, so sub-exec counts
    // are the checkpoint segments' own hints.
    graft.ops.SessionOps.drainListenerBus(spark, 3000)
    spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val subExec = listener.hits.asScala.toSeq.groupBy(_._1)
    (hintOffenses.keySet ++ subExec.keySet).toSeq.sorted.foreach { label =>
      val tagged = hintOffenses.getOrElse(label, Nil).map(("<hint>", _)) ++
        subExec.getOrElse(label, Nil).map(h => ("<sub-exec>", h._2))
      unwaived(label, tagged)(_._2).foreach { case (tag, o) =>
        violations += f"$label%-28s $tag%-12s BROADCAST: $o"
      }
    }
    println(f"${"query"}%-28s ${"cart"}%5s ${"bnlj"}%5s ${"shuf"}%5s")
    rows.foreach { case (n, c, b, e) =>
      if (c > 0 || b > 0 || e >= 6)
        println(f"$n%-28s $c%5d $b%5d $e%5d${if (c > 0) "  <-- CARTESIAN" else ""}")
    }
    if (violations.nonEmpty) {
      println(s"-- ${violations.size} scan violation(s) --")
      violations.foreach(v => println(s"  $v"))
    }
    if (rows.nonEmpty) {
      val totalShuf = rows.map(_._4).sum
      println(s"== audited ${rows.size} queries: $cartesians cartesian, " +
        s"${rows.count(_._3 > 0)} with BNLJ (each proven-bounded or waived), " +
        s"total shuffles $totalShuf, " +
        s"max shuffles ${rows.maxBy(_._4)._4} (${rows.maxBy(_._4)._1}), " +
        s"${violations.size} scan violations ==")
    } else {
      // A filter arg that matches nothing is itself a mistake worth a
      // hard failure (a typo'd name would otherwise "pass" vacuously).
      println("== audited 0 queries: name filter matched nothing ==")
      spark.stop()
      sys.exit(2)
    }
    spark.stop()
    if (cartesians > 0 || violations.nonEmpty) sys.exit(1)
  }
}
