package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.Tables
import graft.plans.{QueryIntent, QuerySpec, RagPlans}
import graft.queries.PipelineQueries

/** The `rag_serve` workload: one closed-loop client sends seeded
  * [[QuerySpec]] requests through `RagPlans.search` over the published
  * ticker-partitioned store. Half the spec requests are routed (a ticker
  * clause, so directory pruning applies) and half unrouted (a full-store
  * scan). One request in five is instead one of the registry's two RAG
  * entries, built through `SparkEntry.queries`, so the query packs are
  * measured too. Every response must equal the same spec run against the
  * inline, unpartitioned frame. The first request of the process is timed
  * apart as the cold one. */
object RagServe {
  /** The pinned query time the RAG store's timestamps walk back from. */
  val Now0 = 1700000000L
  val PoolSize = 8
  val StagingReps = 3
  /** Warm-up walks the pool this many times. Request latency falls fastest
    * over the first few dozen requests of a process, then keeps falling
    * slowly for hundreds while the JIT compiles: 9 passes left a slope in
    * the timed window as steep as 3 passes did (about 15 % from its first
    * requests to its last), so set-up stays short. */
  val WarmPasses = 3

  /** A request: a spec and its query vector, or a registry entry whose
    * plan fixes both. */
  final case class Request(spec: QuerySpec, vecId: Long, registry: Option[String] = None) {
    def kind: String = registry.map(_ => "registry").getOrElse(if (spec.ticker.isDefined) "routed" else "unrouted")
  }

  /** The registry's RAG entries with the spec each one compiles, against the
    * query vector of `vec_id` 0 (PipelineQueries). */
  val Registry: Seq[(String, QuerySpec)] = Seq(
    "rag_query_spec" -> QuerySpec(Some("T3"), Now0 - 1200L * 60L, Now0, QueryIntent.Historical, Now0),
    "rag_search_pipeline" -> QuerySpec(None, Now0 - 400L * 60L, Now0, QueryIntent.RealTime, Now0))

  /** The request pool: spec requests at four fixed windows (350 to 1850
    * minutes) for each of routed and unrouted, intents alternating; the
    * seed draws the tickers and the query vectors. Then the registry
    * entries. The seed thus changes which rows a request reads, not how
    * many. */
  def pool(seed: Long, vecIds: IndexedSeq[Long], labels: IndexedSeq[Int]): IndexedSeq[Request] = {
    val rng = TopicGen.rng(seed)
    (0 until PoolSize).map { i =>
      val window = 350L + 500L * (i / 2 % 4)
      val intent = if (i / 2 % 2 == 0) QueryIntent.RealTime else QueryIntent.Historical
      val ticker = if (i % 2 == 0) Some(s"T${labels(rng.nextInt(labels.size))}") else None
      Request(QuerySpec(ticker, Now0 - window * 60L, Now0, intent, Now0), vecIds(rng.nextInt(vecIds.size)))
    } ++ Registry.map { case (name, spec) => Request(spec, 0L, Some(name)) }
  }

  /** The store frame the registry builds inline, before partitioning. */
  private def inlineStore(ctx: Ctx): DataFrame =
    Tables.embeddings(ctx.spark, ctx.dataDir).select(
      col("vec_id"), col("embedding"),
      concat(lit("T"), col("label")).as("ticker"),
      (lit(Now0) - (col("vec_id") - col("vec_id") % 5) * 60L).as("ts"))

  private def queryVec(ctx: Ctx, vecId: Long): DataFrame =
    Tables.embeddings(ctx.spark, ctx.dataDir)
      .filter(col("vec_id") === vecId).select(col("embedding").as("q_emb"))

  private object PlanNodes extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case s: FileSourceScanExec => s }
    def filters(p: SparkPlan): Seq[FilterExec] = collect(p) { case f: FilterExec => f }
  }

  /** Timings and counts of one served request. */
  final case class Served(rows: Seq[Row], loadMs: Double, serveMs: Double, constructMs: Double,
                          planMs: Double, execMs: Double, filesRead: Long, cosineRows: Long) {
    def totalMs: Double = loadMs + serveMs + constructMs + planMs + execMs
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def serve(ctx: Ctx, r: Request, op: String): Served = ctx.asOp(op) {
    val tr = ctx.tracer
    tr.span("harness", "request", op) {
      var t = System.nanoTime()
      val (df, loadMs, serveMs) = r.registry match {
        case Some(name) =>
          (tr.span("queries", s"$name construct", op)(SparkEntry.queries(name)(ctx.spark, ctx.dataDir)), 0.0, 0.0)
        case None =>
          val q = tr.span("model", "Tables.embeddings", op)(queryVec(ctx, r.vecId))
          val loadMs = ms(t); t = System.nanoTime()
          val store = tr.span("ops", "DerivedStore.serve", op)(PipelineQueries.vectorStoreServed(ctx.spark, ctx.dataDir))
          val serveMs = ms(t); t = System.nanoTime()
          (tr.span("plans", "RagPlans.search", op)(RagPlans.search(r.spec, q)(store)), loadMs, serveMs)
      }
      val constructMs = ms(t); t = System.nanoTime()
      tr.span("plans", "plan", op)(df.queryExecution.executedPlan)
      val planMs = ms(t); t = System.nanoTime()
      val rows = tr.span("plans", "exec", op)(df.collect().toSeq)
      val execMs = ms(t)
      val plan = df.queryExecution.executedPlan
      val storeScans = PlanNodes.scans(plan).filter(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_rag_store")))
      val files = storeScans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      val cosine = PlanNodes.filters(plan)
        .filter(f => PlanNodes.scans(f).exists(storeScans.contains))
        .map(_.metrics("numOutputRows").value).sum
      Served(rows, loadMs, serveMs, constructMs, planMs, execMs, files, cosine)
    }
  }

  /** Removes every published version of this data set's derived stores, so
    * set-up always builds them with the code under test. */
  def dropStores(ctx: Ctx): Unit = {
    val tag = new File(ctx.dataDir).getName
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith("graft_"))
      .foreach(d => Files.deleteTree(new File(d, tag)))
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val emb = ctx.tracer.span("model", "Tables.embeddings")(Tables.embeddings(spark, ctx.dataDir))
      .select("vec_id", "label").collect()
    val requests = pool(ctx.seed, emb.map(_.getLong(0)).toIndexedSeq, emb.map(_.getInt(1)).distinct.sorted.toIndexedSeq)
    val staging = (1 to StagingReps).map { _ =>
      dropStores(ctx)
      val s = System.nanoTime()
      ctx.tracer.span("ops", "stage vectorStoreServed")(PipelineQueries.vectorStoreServed(spark, ctx.dataDir).count())
      (System.nanoTime() - s) / 1e9
    }
    val preStaging = (System.nanoTime() - t0) / 1e9 - staging.sum

    // The first request of the process, before anything else is warm.
    val t1 = System.nanoTime()
    val cold = serve(ctx, requests.head, "cold")
    val expected = requests.map(r =>
      ctx.tracer.span("plans", "reference")(RagPlans.search(r.spec, queryVec(ctx, r.vecId))(inlineStore(ctx)).collect().toSeq))
    out.check(cold.rows == expected.head, s"rag_serve: cold response != inline reference for ${requests.head}")
    for (pass <- 0 until WarmPasses; (r, i) <- requests.zipWithIndex) {
      val w = serve(ctx, r, s"warm-$pass-$i")
      out.check(w.rows == expected(i), s"rag_serve: warm-up response != inline reference for $r")
    }
    graft.ops.SessionOps.dropCachedBlocks(spark)
    val setupS = preStaging + Stats.median(staging) + (System.nanoTime() - t1) / 1e9

    ctx.jvm.resetPeak()
    val gc0 = ctx.jvm.gcMs
    val jit0 = ctx.jvm.jitMs
    // The client walks the pool in seeded permutations, so every request
    // kind keeps its share however long the run.
    val rng = TopicGen.rng(ctx.seed)
    val order = Iterator.continually(rng.shuffle(requests.indices.toVector)).flatten
    val served = ArrayBuffer.empty[(Request, Served, String)]
    val start = System.nanoTime()
    val end = start + ctx.seconds * 1000000000L
    while (System.nanoTime() < end) {
      val i = order.next()
      val r = requests(i)
      val op = s"req-${out.attempted}"
      out.attempted += 1
      try {
        val s = serve(ctx, r, op)
        out.check(s.rows == expected(i), s"rag_serve: response != inline reference for $r")
        served += ((r, s, op))
      } catch { case e: Throwable => out.fail(s"request $r", e) }
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val gcMs = ctx.jvm.gcMs - gc0
    val jitMs = ctx.jvm.jitMs - jit0
    val heapMb = ctx.jvm.oldPeakAfterGcBytes() / 1048576.0

    val all = served.map(_._2.totalMs).toSeq
    def of(kind: String) = served.filter(_._1.kind == kind).toSeq
    Seq("routed", "unrouted", "registry").foreach { kind =>
      val xs = of(kind).map(_._2.totalMs)
      if (xs.nonEmpty) {
        out.notes += f"[rag_serve] serve.${kind}_p50_ms = ${Stats.median(xs)}%.2f ms (n=${xs.size})"
        out.notes += f"[rag_serve] serve.${kind}_p95_ms = ${Stats.percentile(xs, 95)}%.2f ms (n=${xs.size}, beyond=${Stats.beyond(xs, 95)})"
      }
    }
    out.notes += f"[rag_serve] serve.cold_first_ms = ${cold.totalMs}%.2f ms (n=1)"
    out.notes += f"[rag_serve] staging_s = ${staging.map(s => f"$s%.3f").mkString(", ")} (median of $StagingReps)"
    out.notes += f"[rag_serve] heap_peak_mb = $heapMb%.1f MB; failed ${out.failed} of ${out.attempted} requests"

    if (all.nonEmpty) {
      out.e2e("latency_p50_ms") = (Stats.median(all), "ms")
      out.e2e("latency_p90_ms") = (Stats.percentile(all, 90), "ms")
    }
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("throughput_per_s") = (served.size / wallS, "1/s")
    out.e2e("heap_peak_mb") = (heapMb, "MB")

    val specs = served.filter(_._1.registry.isEmpty).map(_._2).toSeq
    def p50(f: Served => Double): Double =
      if (specs.isEmpty) 0.0 else Stats.median(specs.map(f))
    val storeDir = new File(new java.net.URI(PipelineQueries.vectorStoreServed(spark, ctx.dataDir).inputFiles.head).getPath)
      .getParentFile.getParentFile
    val onDisk = Option(storeDir.listFiles()).getOrElse(Array.empty[File])
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File])).count(_.getName.endsWith(".parquet"))
    out.layers("model.load_ms_p50") = (p50(_.loadMs), "ms")
    out.layers("ops.store_serve_ms_p50") = (p50(_.serveMs), "ms")
    def filesRead(kind: String): Double =
      if (of(kind).isEmpty) 0.0 else Stats.median(of(kind).map(_._2.filesRead.toDouble))
    out.layers("ops.store_files_read_routed") = (filesRead("routed"), "count")
    out.layers("ops.store_files_read_unrouted") = (filesRead("unrouted"), "count")
    out.layers("ops.store_files_on_disk") = (onDisk.toDouble, "count")
    out.layers("plans.construct_ms_p50") = (p50(_.constructMs), "ms")
    out.layers("plans.plan_ms_p50") = (p50(_.planMs), "ms")
    out.layers("plans.exec_ms_p50") = (p50(_.execMs), "ms")
    out.layers("plans.cold_construct_ms") = (cold.constructMs, "ms")
    out.layers("plans.cold_plan_ms") = (cold.planMs, "ms")
    out.layers("plans.cold_exec_ms") = (cold.execMs, "ms")
    out.layers("expressions.cosine_rows_per_req") = (p50(_.cosineRows.toDouble), "count")
    out.layers("expressions.cosine_bytes_per_req") = (p50(_.cosineRows.toDouble * 64 * 4), "B")
    Registry.foreach { case (name, _) =>
      val rs = served.filter(_._1.registry.contains(name)).toSeq
      if (rs.nonEmpty) {
        out.layers(s"queries.$name.construct_s") = (Stats.median(rs.map(_._2.constructMs / 1000)), "s")
        out.layers(s"queries.$name.exec_s") = (Stats.median(rs.map(x => (x._2.planMs + x._2.execMs) / 1000)), "s")
        ctx.sparkCounters.foreach { sc =>
          out.layers(s"queries.$name.task_cpu_ms") = (Stats.median(rs.map(x => sc.forOp(x._3).cpuNs / 1e6)), "ms")
        }
      }
    }
    out.notes += f"[rag_serve] files read per request: routed ${filesRead("routed")}%.0f, unrouted ${filesRead("unrouted")}%.0f of $onDisk on disk"
    Layers.common(ctx, out, gcMs, jitMs, served.map(_._3).toSeq)
    out
  }
}
