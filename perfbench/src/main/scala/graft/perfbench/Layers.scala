package graft.perfbench

import java.io.File

/** The metric names every run reports, whatever its workload: the untraced
  * run reports [[EndToEnd]], the traced run [[PerLayer]]. A layer a
  * workload does not touch reads 0 there. run.py checks both lists against
  * BENCHMARK.json. */
object Layers {
  val EndToEnd: Seq[String] = Seq(
    "setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s", "heap_peak_mb")

  val TraceLayers: Seq[String] = Seq("model", "streaming", "ops", "plans", "queries", "harness")

  /** Per-layer metric names with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.query_planning_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.trigger_ms_p50" -> "ms",
    "streaming.batch_rows_p50" -> "count", "streaming.batches" -> "count",
    "streaming.state_rows" -> "count", "streaming.backlog_rows_max" -> "count",
    "streaming.generator_late_ms_p95" -> "ms",
    "ops.upsert_exec_ms_p50" -> "ms", "ops.upsert_shuffle_bytes_per_batch" -> "B",
    "ops.store_rows_end" -> "count", "ops.retention_deleted_rows" -> "count",
    "ops.probe_ms_p50" -> "ms", "ops.store_serve_ms_p50" -> "ms",
    "ops.store_files_read_routed" -> "count", "ops.store_files_read_unrouted" -> "count", "ops.store_files_on_disk" -> "count",
    "model.load_ms_p50" -> "ms",
    "plans.construct_ms_p50" -> "ms", "plans.plan_ms_p50" -> "ms", "plans.exec_ms_p50" -> "ms",
    "plans.cold_construct_ms" -> "ms", "plans.cold_plan_ms" -> "ms", "plans.cold_exec_ms" -> "ms",
    "expressions.cosine_rows_per_req" -> "count", "expressions.cosine_bytes_per_req" -> "B") ++
    RagServe.Registry.map(_._1).flatMap(j => Seq(
      s"queries.$j.construct_s" -> "s", s"queries.$j.exec_s" -> "s", s"queries.$j.task_cpu_ms" -> "ms")) ++
    Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_cpu_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
      "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
      "spark.task_skew" -> "ratio", "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.scheduler_delay_ms_per_op" -> "ms",
      "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "trace.overhead_pct" -> "%") ++
    TraceLayers.flatMap(l => Seq(s"self_ms.$l" -> "ms", s"spans.$l" -> "count"))

  /** The Spark and JVM metrics every workload reports, plus zeros for the
    * layers it did not reach. `ops` names the measured operations. */
  def common(ctx: Ctx, out: Outcome, gcMs: Long, jitMs: Long, ops: Seq[String]): Unit = {
    ctx.sparkCounters.foreach { sc =>
      val t = sc.total
      out.layers("spark.jobs") = (t.jobs.toDouble, "count")
      out.layers("spark.stages") = (t.stages.toDouble, "count")
      out.layers("spark.tasks") = (t.tasks.toDouble, "count")
      out.layers("spark.task_cpu_ms") = (t.cpuNs / 1e6, "ms")
      out.layers("spark.scheduler_delay_ms") = (t.schedDelayMs.toDouble, "ms")
      out.layers("spark.shuffle_write_bytes") = (t.shuffleWrite.toDouble, "B")
      out.layers("spark.shuffle_read_bytes") = (t.shuffleRead.toDouble, "B")
      out.layers("spark.spill_bytes") = (t.spill.toDouble, "B")
      out.layers("spark.task_skew") = (t.skew, "ratio")
      val per = ops.map(sc.forOp)
      def p50(f: TaskTotals => Double): Double =
        if (per.isEmpty) 0.0 else Stats.median(per.map(f))
      out.layers("spark.jobs_per_op") = (p50(_.jobs.toDouble), "count")
      out.layers("spark.tasks_per_op") = (p50(_.tasks.toDouble), "count")
      out.layers("spark.scheduler_delay_ms_per_op") = (p50(_.schedDelayMs.toDouble), "ms")
    }
    out.layers("jvm.gc_ms") = (gcMs.toDouble, "ms")
    out.layers("jvm.jit_ms") = (jitMs.toDouble, "ms")
    if (ctx.traced) out.layers("trace.overhead_pct") = (overheadPct(ctx), "%")
  }

  /** The share of the measured wall time spent recording spans, from the
    * per-span cost of this recorder measured in this process. */
  private def overheadPct(ctx: Ctx): Double = {
    val probe = new Tracer(true)
    val n = 20000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { probe.span("x", "y")(i += 1) }
    val perSpanNs = (System.nanoTime() - t0).toDouble / n
    val spans = ctx.tracer.recorded
    if (spans.isEmpty) 0.0
    else {
      val wall = spans.map(_.endNs).max - spans.map(_.startNs).min
      100.0 * spans.size * perSpanNs / math.max(1L, wall)
    }
  }

  /** Puts the per-layer metrics in their canonical order and units; a
    * layer the workload did not reach reads 0. */
  def complete(out: Outcome): Unit = {
    val extra = out.layers.keySet -- PerLayer.map(_._1)
    require(extra.isEmpty, s"per-layer metrics missing from the list: ${extra.mkString(", ")}")
    val values = PerLayer.map { case (k, unit) => k -> ((out.layers.get(k).map(_._1).getOrElse(0.0), unit)) }
    out.layers.clear()
    out.layers ++= values
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
