package graft.tools

import java.io.File

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Cold serve-path latency probe (dev tool): the engine's point-lookup
  * shape is `ann_serve_from_store` (partitioned IVF index probe) and
  * `rag_query_spec` (ticker-routed RAG lookup over the partitioned
  * vector store). This measures each of them in a COLD session — fresh
  * forked JVM, store on disk, no warm query plan or cache — then a warm
  * rep for contrast, and proves the partition pruning by comparing the
  * scan's `numFiles` metric against the files actually present in the
  * store (directory-level pruning is the property that makes the store
  * serveable at 100 TB: a probe must read the probed cells' files, not
  * the corpus).
  *
  * Store BUILDS are executed (if stale) before any timing — build cost
  * is index-time cost by design and is priced by ann_ivf_pq_search /
  * rag_search_pipeline in the bench.
  *
  * Usage: runMain graft.tools.ServeLatency [sfDir]
  */
object ServeLatency {
  private def scanMetrics(plan: SparkPlan, pathFrag: String): Seq[(Long, Long)] =
    PlanAudit.allNodes(plan).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(pathFrag)) =>
        (s.metrics.get("numFiles").map(_.value).getOrElse(-1L),
          s.metrics.get("filesSize").map(_.value).getOrElse(-1L))
    }.distinct

  private def filesOnDisk(root: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet") || f.getName.startsWith("part-")) 1
      else 0
    walk(new File(root))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.ops.SessionOps.localSession()

    // Ensure stores are PUBLISHED before timing (build is index-time
    // cost; a stale store would otherwise bill its rebuild to rep 1).
    // Staging also resolves each store's relation, which DerivedStore.load
    // caches for this session: rep 1 ("cold") reuses it and no longer
    // pays the store's listing and schema-inference job, so cold
    // numbers from before that cache are not comparable.
    graft.queries.VectorQueries.ivfIndexStore(spark, sfDir).count()
    graft.queries.PipelineQueries.vectorStoreServed(spark, sfDir).count()
    graft.ops.SessionOps.dropCachedBlocks(spark)
    println("[serve] stores published; timing begins (rep 1 = first plan" +
      " compile + execution in THIS forked JVM = cold serve)")

    val sf = sfDir.split('/').last
    val warmReps = 20
    val jsonRows = scala.collection.mutable.ArrayBuffer[String]()
    for ((q, order) <- Seq("ann_serve_from_store", "rag_query_spec").zipWithIndex) {
      val storeRoot = q match {
        case "ann_serve_from_store" => s"/tmp/graft_ann_index/$sf"
        case _ => s"/tmp/graft_rag_store/$sf"
      }
      var lastPlan: SparkPlan = null
      // r11: decompose the cold rep — how much of "cold" is query
      // CONSTRUCTION + first Catalyst plan (analysis/optimization/
      // physical planning, plus the serve path's own bounded probe
      // collects during construction) vs store-open + EXECUTION. The
      // SECOND query in this loop is the "second distinct query in the
      // same fresh JVM" number the verdict asked for: its cold rep pays
      // no JVM/session init (query 1 absorbed that), so
      // cold(q2) ≈ first-plan Catalyst + store I/O for a new query in a
      // long-lived serving tier.
      var coldPlanSecs = 0.0
      var coldExecSecs = 0.0
      val times = (1 to (1 + warmReps)).map { rep =>
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        val _ = df.queryExecution.executedPlan // force plan pipeline
        val t1 = System.nanoTime()
        df.collect()
        lastPlan = df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        if (rep == 1) {
          coldPlanSecs = (t1 - t0) / 1e9
          coldExecSecs = (t2 - t1) / 1e9
        }
        graft.ops.SessionOps.dropCachedBlocks(spark)
        (t2 - t0) / 1e9
      }
      val cold = times.head
      val warm = times.drop(1).sorted
      def pct(p: Double) = warm((p * (warm.size - 1)).round.toInt)
      val (p50, p95) = (pct(0.50), pct(0.95))
      // r12 verdict item 3: the steady-state number a production router
      // sees — the QUERY OBJECT constructed once (plan compiled, AQE
      // finalized by the first execute), then re-EXECUTED per request.
      // The warm reps above re-pay construction+planning every rep; this
      // row isolates pure store-probe execution.
      val cachedDf = graft.SparkEntry.queries(q)(spark, sfDir)
      cachedDf.collect() // finalize AQE off the clock
      val cachedTimes = (1 to warmReps).map { _ =>
        val t0 = System.nanoTime()
        cachedDf.collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val (cp50, cp95) =
        (cachedTimes(warmReps / 2), cachedTimes((0.95 * (warmReps - 1)).round.toInt))
      val onDisk = filesOnDisk(storeRoot)
      val scans = scanMetrics(lastPlan, storeRoot.split('/')(2))
      println(f"[serve] $q%-22s cold=$cold%6.2f s (plan=$coldPlanSecs%5.2f" +
        f" exec=$coldExecSecs%5.2f, query #${order + 1} in session) " +
        f"warm_p50=$p50%6.3f s warm_p95=$p95%6.3f s warm_min=${warm.head}%6.3f s " +
        f"cached_plan_p50=$cp50%6.3f s " +
        s"store_files_read=${scans.map(_._1).sum} of $onDisk on disk " +
        s"(bytes=${scans.map(_._2).sum})")
      PlanAudit.allNodes(lastPlan).collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(storeRoot.split('/')(2))) =>
          println(s"[serve]   scan partitionFilters=${s.partitionFilters.mkString(";").take(200)}")
          println(s"[serve]   metrics=${s.metrics.map { case (k, m) => s"$k=${m.value}" }.mkString(" ").take(300)}")
      }
      jsonRows += f"""{"query":"$q","order_in_session":${order + 1},""" +
        f""""cold_s":$cold%.3f,"cold_construct_plan_s":$coldPlanSecs%.3f,""" +
        f""""cold_exec_s":$coldExecSecs%.3f,""" +
        f""""warm_p50_s":$p50%.3f,""" +
        f""""warm_p95_s":$p95%.3f,"warm_min_s":${warm.head}%.3f,"warm_reps":$warmReps,""" +
        f""""cached_plan_p50_s":$cp50%.3f,"cached_plan_p95_s":$cp95%.3f,""" +
        s""""store_files_read":${scans.map(_._1).sum},"store_files_on_disk":$onDisk,""" +
        s""""store_bytes_read":${scans.map(_._2).sum}}"""
    }
    sys.env.get("SERVE_JSON_OUT").foreach { out =>
      val body = s"""{"sf_dir":"$sfDir","cpus":${graft.ops.SessionOps.cpus},"note":"cold = first plan-compile+execute in a fresh forked JVM against the published on-disk store, decomposed into construct+plan vs exec; order_in_session 2 = a second DISTINCT query in the same JVM (no session init left to pay); warm percentiles over $warmReps reps in the same session, each rep re-paying construction+planning; cached_plan_* = the production-router posture (query object constructed once, re-executed per request)","rows":[${jsonRows.mkString(",")}]}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
      println(s"[serve] wrote $out")
    }
    spark.stop()
  }
}
