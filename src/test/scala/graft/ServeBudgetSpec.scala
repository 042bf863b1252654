package graft

import org.scalatest.funsuite.AnyFunSuite

/** Serve-path latency GATE (r11 verdict item 8): SERVE_r{N}.json records
  * the point-lookup latencies each round, but an artifact only catches a
  * regression when a judge diffs it — this spec makes `sbt test` fail
  * instead. Budgets are deliberately generous: 2× the SERVE_r11 warm
  * p50s (measured at local[32]) plus headroom for this suite's
  * local[4, 2] session (fewer cores, shuffle.partitions=4) and the
  * documented ±30% machine variance — a pass is NOT a performance claim
  * (SERVE json stays the measurement); a fail means the serve path
  * regressed structurally (lost partition pruning, a new corpus-wide
  * scan, a store rebuild riding the query), which moves p50 by far more
  * than the slack.
  */
class ServeBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session

  private val sf = "/root/testdata/sf0.1"

  /** Warm once (store build + plan compile are index-time/first-call
    * cost), then the median of `reps` executions of the action a request
    * runs ([[graft.ops.SessionOps.runAction]]). */
  private def warmP50(name: String, reps: Int = 9): Double = {
    val fn = SparkEntry.queries(name)
    graft.ops.SessionOps.runAction(fn(spark, sf))
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      graft.ops.SessionOps.runAction(fn(spark, sf))
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(reps / 2)
  }

  test("ann_serve_from_store warm p50 within budget") {
    val p50 = warmP50("ann_serve_from_store")
    info(f"warm p50: $p50%.3f s (budget 2.5 s; SERVE_r11 local[32] p50 1.045 s)")
    assert(p50 <= 2.5, f"serve p50 regressed: $p50%.3f s > 2.5 s budget")
  }

  test("rag_query_spec warm p50 within budget") {
    val p50 = warmP50("rag_query_spec")
    info(f"warm p50: $p50%.3f s (budget 0.6 s; SERVE_r11 local[32] p50 0.184 s)")
    assert(p50 <= 0.6, f"serve p50 regressed: $p50%.3f s > 0.6 s budget")
  }

  // Structural, so deterministic where the budgets above are not: once the
  // store is published and its relation resolved, building the request's
  // DataFrame is pure plan construction. A job here means a per-request
  // store re-resolve (listing + schema inference) or another eager probe.
  test("rag_query_spec: building a warm DataFrame starts no Spark job") {
    val fn = SparkEntry.queries("rag_query_spec")
    fn(spark, sf).count()
    val (_, jobs) = SparkTest.jobsDuring(fn(spark, sf))
    assert(jobs == 0, s"building a warm rag_query_spec started $jobs Spark job(s)")
  }

  // Structural: a request is one RagSearchExec, so it runs no exchange and
  // no adaptive stage. Over a parquet query frame that is one job for the
  // query row and one for the k-NN; a query vector already on the driver
  // (a LocalRelation) leaves the k-NN job alone.
  test("rag_query_spec: a warm routed request is 2 jobs, no shuffle stage, no AQE") {
    val fn = SparkEntry.queries("rag_query_spec")
    fn(spark, sf).collect()
    val df = fn(spark, sf)
    val plan = df.queryExecution.executedPlan
    assert(plan.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a
    }.isEmpty, s"adaptive plan in a rag request:\n$plan")
    assert(plan.isInstanceOf[graft.plans.RagSearchExec], s"plan root:\n$plan")
    val (_, jobs) = SparkTest.jobStartsDuring(df.collect())
    // every stage of a job but its result stage is a shuffle map stage
    val shuffleStages = jobs.map(_.stageInfos.size - 1).sum
    assert(jobs.size == 2 && shuffleStages == 0,
      s"${jobs.size} job(s), $shuffleStages shuffle stage(s); plan:\n$plan")
  }

  /** Rows the request's own store scans read: only a scan the request
    * executes counts into its own plan's metrics. */
  private def storeRowsRead(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.executedPlan.asInstanceOf[graft.plans.RagSearchExec].store.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum

  // Structural: the store child of a warm request is the route's prepared
  // scan, so the request's own scan reads no row.
  test("rag_query_spec: a second warm routed request does not execute the store child") {
    val fn = SparkEntry.queries("rag_query_spec")
    fn(spark, sf).collect()
    val df = fn(spark, sf)
    assert(df.collect().nonEmpty)
    assert(storeRowsRead(df) == 0L, "a warm request executed its store child")
  }

  // Real traffic moves the window and `now` on every request. They are
  // parameters of the request's node, so a warm request compiles nothing
  // and reuses the route's prepared scan.
  test("moving literals: no Janino compilation and no store execution after the first request") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    import graft.plans.{QueryIntent, QuerySpec, RagPlans}
    val store = graft.queries.PipelineQueries.vectorStoreServed(spark, sf)
    val q = Seq(Tuple1(Array.tabulate(64)(d => (d % 5).toFloat - 2f))).toDF("q_emb")
    val now0 = 1700000000L
    val specs = (0 until 20).map { i =>
      QuerySpec(Some("T3"), now0 - (300L + 37L * i) * 60L, now0 - i * 60L,
        if (i % 2 == 0) QueryIntent.RealTime else QueryIntent.Historical, now0 + i * 10L)
    }
    RagPlans.search(specs.head, q)(store).collect()
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val answers = specs.tail.map { s =>
      val df = RagPlans.search(s, q)(store)
      val rows = df.collect().toSeq
      assert(storeRowsRead(df) == 0L, s"$s executed the store child")
      rows
    }
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    assert(compiled == 0, s"$compiled Janino compilation(s) over 19 warm requests")
    specs.tail.zip(answers).foreach { case (s, got) =>
      assert(got == RagReference.search(s, q)(store).collect().toSeq, s"answer for $s")
    }
  }

  /** Runs `f` and returns what Spark's ClosureCleaner logged, at DEBUG, on
    * this thread for each function handed to `SparkContext.runJob`: its
    * verdict on whether the function is a Scala closure. */
  private def jobFunctionVerdicts[T](f: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val caller = Thread.currentThread()
    val verdicts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "job-function-verdicts", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (Thread.currentThread() eq caller) {
          val inRunJob = caller.getStackTrace.exists(fr =>
            fr.getClassName == "org.apache.spark.SparkContext" && fr.getMethodName == "runJob")
          if (inRunJob) verdicts.add(e.getMessage.getFormattedMessage): Unit
        }
    }
    appender.start()
    val name = "org.apache.spark.util.ClosureCleaner"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = new LoggerConfig(name, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    try {
      val r = f
      (r, verdicts.toArray(Array.empty[String]).toSeq)
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  // A Scala lambda handed to a job makes ClosureCleaner read and ASM-parse
  // the class that defined it on every job: `RDD` and `SparkContext` for
  // `RDD.collect`'s. RagSearchExec's jobs take instances of named classes,
  // which ClosureCleaner only checks for serializability.
  test("rag_query_spec: a warm routed request hands runJob no Scala closure") {
    val fn = SparkEntry.queries("rag_query_spec")
    fn(spark, sf).collect()
    val df = fn(spark, sf)
    val (rows, verdicts) = jobFunctionVerdicts(df.collect())
    assert(rows.nonEmpty)
    val NotAClosure = "Expected a closure; got (.+)".r
    val classes = verdicts.map {
      case NotAClosure(cls) => cls
      case v => fail(s"a job function was cleaned as a closure: $v; all: $verdicts")
    }
    assert(classes == Seq("graft.plans.RagQueryRows", "graft.plans.RagTopK"), verdicts)
  }

  test("rag_query_spec: a query vector on the driver leaves one job") {
    import spark.implicits._
    val fn = SparkEntry.queries("rag_query_spec")
    fn(spark, sf).collect()
    val q = Seq(Tuple1(Array.fill(64)(0.125f))).toDF("q_emb")
    val spec = graft.plans.QuerySpec(Some("T3"), 1700000000L - 1200L * 60L,
      1700000000L, graft.plans.QueryIntent.Historical, 1700000000L)
    val df = graft.plans.RagPlans.search(spec, q)(
      graft.queries.PipelineQueries.vectorStoreServed(spark, sf))
    val (rows, jobs) = SparkTest.jobsDuring(df.collect())
    assert(rows.nonEmpty)
    assert(jobs == 1, s"$jobs job(s) for a request with its vector on the driver")
  }
}
