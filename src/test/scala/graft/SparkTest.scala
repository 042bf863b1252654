package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (guide: one session per
  * suite; sharing across suites avoids repeated 5s startups). */
object SparkTest {

  /** Audit for the one behavior `local[4, 2]` buys session-wide: a task
    * that fails NONDETERMINISTICALLY anywhere in the test JVM would
    * silently pass on attempt 2, masking the flake (deterministic
    * failures still fail the job — attempt 2 hits the same error). The
    * listener records every attempt > 0 task start outside the declared
    * window; StreamingRecoverySpec's injected-failure test (the only
    * legitimate retry producer) brackets itself with [[allowWhile]] and
    * then asserts [[unexpected]] is empty — catching any silent retry in
    * the suites that ran before it. Coverage is order-bounded (a flake
    * in a suite running AFTER that assertion is only caught next run),
    * but the masking is no longer silent across the bulk of the suite. */
  object RetryAudit extends org.apache.spark.scheduler.SparkListener {
    private val allowed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onTaskStart(
        t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
      if (t.taskInfo.attemptNumber > 0 && !allowed.get())
        unexpected.add(
          s"stage ${t.stageId} task ${t.taskInfo.index} attempt ${t.taskInfo.attemptNumber}")
    def allowWhile[T](f: => T): T = {
      allowed.set(true)
      // Drain the (async) listener bus BEFORE closing the window, so the
      // allowed block's own retry events can't be classified after the
      // flag flips back.
      try f finally { drainBus(); allowed.set(false) }
    }
  }

  /** Waits until the (async) listener bus has delivered every queued
    * event; a bus that does not drain fails the test. */
  def drainBus(): Unit = graft.ops.SessionOps.drainListenerBus(session, 5000L)

  private val JobTag = "graft.test.jobTag"

  /** Runs `f` and counts the Spark jobs it starts (see [[jobStartsDuring]]). */
  def jobsDuring[T](f: => T): (T, Int) = {
    val (r, jobs) = jobStartsDuring(f)
    (r, jobs.size)
  }

  /** Runs `f` and returns the start events of the Spark jobs it starts,
    * which carry each job's stages. Jobs are matched by a local property
    * of the calling thread, so a job another thread starts meanwhile (a
    * streaming query an earlier suite left running) is not counted. */
  def jobStartsDuring[T](f: => T)
      : (T, Seq[org.apache.spark.scheduler.SparkListenerJobStart]) = {
    val sc = session.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.scheduler.SparkListenerJobStart]()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(JobTag) == tag)
          jobs.add(e): Unit
    }
    sc.addSparkListener(counter)
    sc.setLocalProperty(JobTag, tag)
    try {
      val r = f
      drainBus()
      (r, jobs.toArray(Array.empty[org.apache.spark.scheduler.SparkListenerJobStart]).toSeq)
    } finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(counter)
    }
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: 2 task attempts, so StreamingRecoverySpec can prove
      // the sink write survives a task-level retry (local-mode default is
      // maxFailures=1 = no retry ever). For every OTHER test this also
      // means a nondeterministic task failure retries silently —
      // [[RetryAudit]] exists to surface exactly that.
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(RetryAudit)
    graft.plans.GraftExtensions.install(s)
    s
  }
}

/** The interpreted HOF folds that DEFINE the native expressions' parity
  * contracts — one definition shared by every spec that asserts against
  * them, so the contract formulation cannot drift between copies. */
object TestFolds {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** The exact zip_with/aggregate squared-L2 fold SquaredDistance replaced. */
  def hofSquaredDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, v) => acc + v)
}
