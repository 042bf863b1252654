package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Shared machinery for the registry robustness sweeps (EmptyInputProbe,
  * NullFuzzProbe, TextFuzzProbe): stage a transformed twin of a testdata
  * SF dir, then run every registry query against it and collect the ones
  * that throw. One implementation so the staging-idempotence rule (the
  * staged-ok marker embeds the source's max mtime — a driver
  * regeneration of the testdata restages the twin instead of serving a
  * stale schema) cannot drift between probes. */
object RegistrySweep {

  /** Materialize `dst` as a twin of every parquet table under `srcSf`,
    * each passed through `transform`. Idempotent per (marker, source
    * snapshot); restages from scratch when either changes. */
  def stageTwin(spark: SparkSession, srcSf: String, dst: String,
                markerPrefix: String)(transform: DataFrame => DataFrame): Unit = {
    val srcFiles = Option(new java.io.File(srcSf).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".parquet"))
    // DerivedStore.sourceMtime, not a bare lastModified fold: rewriting
    // part-files in place under t.parquet/ may not bump the directory
    // entry's own mtime, and a stale marker would silently serve a twin
    // with the previous generation's schema.
    val srcMtime = srcFiles
      .map(graft.ops.DerivedStore.sourceMtime).foldLeft(0L)(math.max)
    val d = new java.io.File(dst)
    val marker = new java.io.File(d, s"${markerPrefix}_m$srcMtime")
    if (!marker.isFile) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(d)
      d.mkdirs()
      srcFiles.map(_.getName.stripSuffix(".parquet")).foreach { t =>
        transform(spark.read.parquet(s"$srcSf/$t.parquet"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      new java.io.FileOutputStream(marker).close()
    }
  }

  /** Run every registry query (or `only`) against `dir`; returns
    * (name, firstErrorLine) for each query that threw. */
  def sweep(spark: SparkSession, dir: String,
            only: Set[String] = Set.empty,
            verbose: Boolean = false): Seq[(String, String)] = {
    val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        try {
          val n = fn(spark, dir).count()
          if (verbose) println(f"ok   $name%-34s rows=$n")
        } catch { case NonFatal(e) =>
          // nextOption: an exception whose message is the EMPTY string
          // has an empty linesIterator, and a bare next() would throw
          // from inside this handler, aborting the whole sweep.
          val msg = Option(e.getMessage).getOrElse("")
            .linesIterator.nextOption().filter(_.nonEmpty)
            .getOrElse(e.getClass.getName).take(140)
          failed += ((name, msg))
          if (verbose) println(f"FAIL $name%-34s $msg")
        }
        graft.ops.SessionOps.dropCachedBlocks(spark)
      }
    }
    failed.toSeq
  }

  /** Shared CLI shape of the three probe mains. */
  def probeMain(args: Array[String], defaultDst: String, label: String)
               (stage: (SparkSession, String, String) => Unit): Unit = {
    val srcSf = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val dst = if (args.length > 1) args(1) else defaultDst
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // Fail fast on a typo'd query name: an unknown name matches nothing,
    // runs nothing, and would otherwise be REPORTED as passing.
    val unknown = only.diff(graft.SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.ops.SessionOps.localSession()
    stage(spark, srcSf, dst)
    val failed = sweep(spark, dst, only, verbose = true)
    val n = (if (only.isEmpty) graft.SparkEntry.queries.size else only.size) - failed.size
    println(s"== $label probe: $n ok, ${failed.size} fail ==")
    failed.foreach { case (nm, m) => println(s"  FAIL $nm: $m") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
