package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `e2e` holds the metrics
  * of an untraced run; `layers` the per-layer metrics of a traced one;
  * `notes` are printed as they are, one line each, before the result. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def check(ok: Boolean, what: => String): Unit = if (!ok) mismatches += what

  /** Records an operation's failure; the exception is reported, not kept. */
  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    notes += s"FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
  }
}

/** Everything a workload needs: the session, the inputs, the clock budget
  * and the instruments. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: File,
                val seed: Long, val seconds: Int, val tracer: Tracer,
                val sparkCounters: Option[SparkCounters], val jvm: JvmCounters) {
  def traced: Boolean = tracer.enabled

  /** Runs `body` with Spark jobs attributed to operation `op`. */
  def asOp[A](op: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    try body finally sc.setLocalProperty("perfbench.op", null)
  }
}

/** Entry point of the benchmark JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir>`.
  * Prints notes, then the result as one JSON line; exits 1 when any output
  * check failed or any operation failed. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ingest" -> Ingest.run,
    "rag_serve" -> RagServe.run)

  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k")
      k.drop(2) -> v
    }.toMap
  }

  def session(cpus: Int, workDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parseArgs(args)
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; known: ${Workloads.keys.mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    require(seconds >= 1, "seconds must be at least 1")
    val traced = a("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace takes 0 or 1, not $other")
    }
    val dataDir = new File(a("data")).getAbsolutePath
    require(new File(dataDir, "events.parquet").exists(), s"no input tables in $dataDir")
    val workDir = new File(a("work")).getAbsoluteFile
    workDir.mkdirs()
    val cpus = math.min(32, Runtime.getRuntime.availableProcessors())

    val jvm = new JvmCounters
    jvm.start()
    val spark = session(cpus, workDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traced)
    val counters = if (traced) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val ctx = new Ctx(spark, dataDir, workDir, seed, seconds, tracer, counters, jvm)
    val out =
      try run(ctx)
      finally spark.stop()
    jvm.stop()

    // Set-up time includes the JVM and session start measured here.
    out.e2e.get("setup_s").foreach { case (v, u) => out.e2e("setup_s") = (v + sessionS, u) }
    out.notes += f"[$workload] session_start_s = $sessionS%.3f s; cpus = $cpus"
    if (traced) {
      val spans = tracer.recorded
      Trace.layerSelf(spans).toSeq.sortBy(_._1).foreach { case (layer, (n, selfNs)) =>
        out.layers(s"self_ms.$layer") = (selfNs / 1e6, "ms")
        out.layers(s"spans.$layer") = (n.toDouble, "count")
      }
      val traceFile = new File(workDir, s"trace_${workload}_$seed.jsonl")
      val w = new java.io.PrintWriter(traceFile, "UTF-8")
      try Trace.toJsonLines(spans).foreach(w.println) finally w.close()
      out.notes += s"[$workload] spans: ${spans.size} written to ${traceFile.getName}"
      Layers.complete(out)
      // The end-to-end figures of the traced run, for the overhead report.
      out.notes += "TRACED_E2E " + Json.obj(out.e2e.toSeq.map { case (k, (v, _)) => k -> v }: _*)
    } else {
      val missing = Layers.EndToEnd.filterNot(out.e2e.contains)
      if (missing.nonEmpty) out.mismatches += s"no measurement for ${missing.mkString(", ")}"
    }
    out.notes.foreach(println)
    out.mismatches.foreach(m => println(s"MISMATCH $m"))
    val metrics = scala.collection.immutable.ListMap(
      (if (traced) out.layers else out.e2e).toSeq.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*)
    val correct = out.mismatches.isEmpty && out.failed == 0 && out.attempted > 0
    println(Json.obj(
      "correct" -> correct,
      "attempted" -> math.max(1L, out.attempted),
      "failed" -> out.failed,
      "metrics" -> metrics))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
