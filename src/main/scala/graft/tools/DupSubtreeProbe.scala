package graft.tools

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import scala.util.control.NonFatal

/** Report-only probe (dev tool): queries whose ANALYZED plan contains the
  * same expensive subtree (a Join or Aggregate, canonicalized) two or more
  * times without an intervening materialization. This is the recurring
  * defect class the repo has now fixed three times case-by-case —
  * tpch_q15's double revenue build (r11, cache), clusterLabels' pair
  * build under the orientation union (r11, checkpoint), and
  * knn_join_lsh_adaptive's verify frame (r12, checkpoint): physical
  * exchange reuse sometimes fuses the copies, but nothing gates it, and
  * when it misses the subtree executes once per occurrence.
  *
  * Report-only on purpose: a logical duplicate is NOT always a double
  * build (exchange reuse, CTE dedup, and cached plans all intervene), so
  * this surfaces candidates for the profiled double-execution check, it
  * does not fail anything. Usage: runMain graft.tools.DupSubtreeProbe
  * [query,...]
  */
object DupSubtreeProbe {
  def duplicated(plan: LogicalPlan): Seq[(String, Int)] = {
    val expensive = plan.collect {
      case j: Join => j: LogicalPlan
      case a: Aggregate => a: LogicalPlan
    }
    expensive
      .groupBy(_.canonicalized)
      .filter(_._2.size >= 2)
      .map { case (c, occ) =>
        (s"${c.nodeName}[${c.output.map(_.name).mkString(",").take(60)}]", occ.size)
      }
      .toSeq
      .sortBy(-_._2)
  }

  /** Actual executed base-table passes, from scan METRICS after a run:
    * per source table, sum of every distinct scan instance's
    * numOutputRows over the table's row count. A logical duplicate that
    * exchange reuse fused contributes rows once; a genuinely re-executed
    * copy contributes again — this is the ground truth the logical count
    * above can only hint at.
    *
    * Scan instances are keyed by OBJECT identity (an `IdentityHashMap`,
    * not `System.identityHashCode` ints, whose collisions would silently
    * drop a scan's contribution), which also makes descending into
    * `ReusedExchangeExec` / `InMemoryTableScanExec` safe: a reused
    * exchange points at the SAME scan object, so walking it cannot
    * double-count, while a cached-relation scan's build plan is reached
    * instead of undercounted. Returns EVERY table's ratio; callers apply
    * their own threshold ([[PASS_BUDGET]] for the gate).
    *
    * CALLER CONTRACT: the metrics read here belong to THIS plan
    * instance — `df.count()` does NOT populate them (it executes a
    * separate QueryExecution wrapping the logical plan in a new
    * aggregate), which is exactly the silent hole [[executedPasses]]
    * exists to close: the r12 sweep's per-query `df.count()` left every
    * scan metric at zero, so its "≤ 1.5 passes" rows were vacuous.
    * Always execute via [[executedPasses]] (or drive
    * `qe.executedPlan.execute()` yourself) before reading. */
  def scanPasses(
      plan: org.apache.spark.sql.execution.SparkPlan,
      tableRows: Map[String, Long]): Seq[(String, Double)] = {
    def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val scans = new java.util.IdentityHashMap[
      org.apache.spark.sql.execution.SparkPlan, (String, Long)]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      finalPlan(p) match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          val tbl = s.relation.location.rootPaths.headOption
            .map(_.toString.split('/').last).getOrElse("?")
          scans.put(s,
            (tbl, s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)))
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          walk(r.child)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(m.relation.cachedPlan)
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    walk(plan)
    import scala.jdk.CollectionConverters._
    scans.values.asScala.toSeq.groupBy(_._1).toSeq.map { case (tbl, xs) =>
      val rows = xs.map(_._2).sum
      (tbl, tableRows.get(tbl).filter(_ > 0).map(rows.toDouble / _).getOrElse(-1.0))
    }.sortBy(-_._2)
  }

  /** Execute `df`'s OWN physical plan and return its measured scan
    * passes — the one correct entry point (see the [[scanPasses]] caller
    * contract). The RDD count drives the exact plan instance whose
    * metrics are then walked, so a re-executed duplicate subtree shows
    * up as > 1 pass instead of a vacuous zero. */
  def executedPasses(
      df: org.apache.spark.sql.DataFrame,
      tableRows: Map[String, Long]): Seq[(String, Double)] = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    scanPasses(qe.executedPlan, tableRows)
  }

  /** Executed-passes budget per base table: a logical duplicate whose
    * copies AQE fused reads each table about once; anything beyond 1.5
    * means a reuse miss re-executed an expensive subtree (the tpch_q15 /
    * clusterLabels / adaptive-kNN defect class). The r12 sweep measured
    * every flagged registry query at or under this. */
  val PASS_BUDGET = 1.5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.ops.SessionOps.localSession()
    val only = if (args.nonEmpty) args.flatMap(_.split(',')).toSet else Set.empty[String]
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tableRows = tables.map { t =>
      s"$t.parquet" -> spark.read.parquet(s"$sfDir/$t.parquet").count()
    }.toMap
    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val dups = duplicated(df.queryExecution.analyzed)
          if (dups.nonEmpty) {
            flagged += 1
            val passes = executedPasses(df, tableRows)
              .filter(_._2 > PASS_BUDGET)
            println(s"DUP $name: " +
              dups.map { case (d, n) => s"$n x $d" }.mkString("; ") +
              (if (passes.isEmpty) "  [executed passes: none > 1.5x]"
               else "  [EXECUTED PASSES: " +
                 passes.map { case (t, r) => f"$t $r%.1fx" }.mkString(", ") + "]"))
          }
        } catch { case NonFatal(e) =>
          println(s"ERR $name: ${e.getClass.getSimpleName}")
        }
      }
    println(s"== $flagged queries with duplicated expensive subtrees ==")
    spark.stop()
  }
}
