package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.SessionOps

/** Per-query plan and profile, on the session every entry point uses
  * ([[graft.ops.SessionOps.localSession]]), so the plan evidence takes the
  * same size-gated branches the bench does. For each query it prints the
  * formatted physical plan (scan pushdown, broadcast choices, codegen
  * spans); the broadcast-hint bound verdicts
  * ([[graft.tools.BroadcastBound]]: every hinted side must be bounded
  * independent of SF); each parquet scan's read/total columns (for
  * curating [[graft.tools.PlanAudit.EXPECT_READ_COLS]]); `construct_s`
  * (building the DataFrame, eager loops included), `plan_s` and `exec_s`;
  * the SQL metrics of graft's own operators in that execution (e.g.
  * `RagSearchExec`'s in-window rows scored, driver-merged candidates,
  * query rows and files its prepared scan reads); and the top stages by
  * summed task run time.
  *
  * `exec_s` times the action a client runs: a `collect()` when the
  * optimized plan bounds its rows (a limit, a global aggregate, a RAG
  * request's top-N), else a `count()`, which would wrap a bounded serve
  * plan in an aggregate, an exchange and adaptive stages no request
  * runs. The line names the action it timed.
  *
  * A repeated name is a warm rep: the first occurrence absorbs codegen
  * and JIT (often 3-10× the steady state). With `outDir` each plan goes
  * to `<outDir>/<query>.txt` instead of stdout. The SF comes from
  * `SPARK_GRAFT_SF_DIR` (default sf0.001).
  *
  * Usage: runMain graft.Explain [q1,q2,...] [outDir] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = args.headOption.fold(SparkEntry.queries.keys.toSeq.sorted)(
      _.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"bad query list '${args.head}'; unknown: ${unknown.mkString(",")}")
    val outDir = args.lift(1)
    outDir.foreach(new java.io.File(_).mkdirs())
    val spark = SessionOps.localSession()
    val stages = new StageProfile
    spark.sparkContext.addSparkListener(stages)
    val executed = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.set(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val seen = mutable.Set[String]()
    val failed = mutable.ArrayBuffer[String]()
    names.foreach { name =>
      val rep = if (seen.add(name)) "cold" else "warm"
      println(s"\n===================== $name ($rep) =====================")
      SessionOps.dropCachedBlocks(spark)
      stages.clear()
      try {
        val (df, constructS) = timed(SparkEntry.queries(name)(spark, sfDir))
        val qe = df.queryExecution
        val (_, planS) = timed(qe.executedPlan)
        val plan = qe.explainString(FormattedMode)
        outDir match {
          case Some(dir) =>
            val p = java.nio.file.Paths.get(dir, s"$name.txt")
            java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
            println(s"-- plan written to $p (${plan.length} chars) --")
          case None => println(plan)
        }
        val hints = graft.tools.BroadcastBound.audit(qe.analyzed)
        if (hints.nonEmpty) println(s"-- broadcast hints (${hints.size}) --")
        hints.foreach { case (bound, offense) =>
          println("  " + (if (offense.isEmpty) s"bounded <= ${bound.getOrElse(-1L)}" else offense))
        }
        println("-- scan widths --")
        graft.tools.PlanAudit.scanStats(qe.sparkPlan).foreach { st =>
          println(f"  ${st.table}%-14s read=${st.readCols}%2d of ${st.totalCols}%2d")
        }
        val ((action, rows), execS) = timed(SessionOps.runAction(df))
        println(f"-- construct_s=$constructS%.3f plan_s=$planS%.3f exec_s=$execS%.3f " +
          s"($action()) rows=$rows --")
      } catch { case NonFatal(e) =>
        println(s"-- ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)} --")
        failed += name
      }
      SessionOps.drainListenerBus(spark, 5000L)
      Option(executed.getAndSet(null)).foreach(qe => OperatorMetrics.print(qe.executedPlan))
      stages.print()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** SQL metrics of graft's own physical operators, adaptive stages
    * included. */
  private object OperatorMetrics extends AdaptiveSparkPlanHelper {
    def print(plan: SparkPlan): Unit =
      collect(plan) { case p if p.getClass.getName.startsWith("graft.") => p }.foreach { p =>
        println(s"-- ${p.nodeName} metrics: " + p.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
          s"${m.name.getOrElse(k)}=${m.value}"
        }.mkString(", ") + " --")
      }
  }

  /** Per-stage task totals since the last [[clear]]. */
  private final class StageProfile extends SparkListener {
    private case class TaskAgg(var n: Int = 0, var runMs: Long = 0, var cpuMs: Long = 0,
                               var maxRunMs: Long = 0, var shufReadB: Long = 0,
                               var shufWriteB: Long = 0)
    private val stages = mutable.LinkedHashMap[Int, TaskAgg]()
    private val stageNames = mutable.Map[Int, String]()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(t.stageId, TaskAgg())
        a.n += 1
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1000000
        a.maxRunMs = math.max(a.maxRunMs, m.executorRunTime)
        a.shufReadB += m.shuffleReadMetrics.totalBytesRead
        a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      stageNames(s.stageInfo.stageId) = s.stageInfo.name.takeWhile(_ != '\n').take(60)
    }

    def clear(): Unit = synchronized { stages.clear(); stageNames.clear() }

    def print(): Unit = synchronized {
      println(s"-- top stages (${stages.size} run) --")
      stages.toSeq.sortBy(-_._2.runMs).take(12).foreach { case (id, a) =>
        println(f"  stage $id%3d tasks=${a.n}%3d sumRun=${a.runMs / 1000.0}%7.2fs " +
          f"sumCpu=${a.cpuMs / 1000.0}%7.2fs maxTask=${a.maxRunMs / 1000.0}%6.2fs " +
          f"shufR=${a.shufReadB / 1024}%8dK shufW=${a.shufWriteB / 1024}%8dK " +
          stageNames.getOrElse(id, ""))
      }
    }
  }
}
