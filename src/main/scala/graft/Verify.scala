package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import graft.Bench.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: restrict the dump to these query names (fast
    // re-verify of just-touched queries; the driver passes none).
    val only = args.drop(2).toSet
    val spark = graft.ops.SessionOps.localSession()
    new java.io.File(outDir).mkdirs()
    // Fail-closed bookkeeping: a query that throws must leave a loud
    // artifact, not silently vanish from the correctness report (r7's
    // failure mode: 11 broken queries produced a shorter, all-green
    // report). Two mechanisms, so either side of the compare trips:
    //  - an error parquet row is written under the query's own output dir
    //    (schema `__graft_error`) — any oracle compare against it fails;
    //  - every failure is recorded in `_errors.json`, and the registry
    //    name list in `registry.json`, so tools/check.py can assert
    //    |registry| == |oracle| == |outputs| and fail on any disagreement.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    ran.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Normalize TIMESTAMP -> TIMESTAMP_NTZ before writing: Spark writes
        // TimestampType as UTC-adjusted parquet, which pandas/pyarrow read
        // back tz-aware while the DuckDB oracle returns naive timestamps —
        // a spurious schema mismatch. Session TZ is UTC, so the wall-clock
        // value is unchanged.
        val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            d.withColumn(f.name,
              org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
          else d
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        failures(name) = msg
        System.err.println(s"[verify] FAIL $name: $msg")
        try {
          import spark.implicits._
          Seq(msg).toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case NonFatal(e2) =>
          System.err.println(s"[verify] could not write error row for $name: ${e2.getMessage}")
        }
      }
      // Queries cache intermediate frames for their own multi-use plans;
      // drop them so one query's working set doesn't squat on executor
      // memory for the rest of the run.
      graft.ops.SessionOps.dropCachedBlocks(spark)
    }
    // Bench.jsonStr escapes ALL control chars (<0x20): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/registry.json"),
      ran.keys.toSeq.sorted.map(jsonStr).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      failures.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${ran.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
    // Nonzero exit on any failure: a broken query must fail the run, not
    // shorten the report.
    if (failures.nonEmpty) sys.exit(1)
  }
}
