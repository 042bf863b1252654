package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DerivedStore

/** Staging contract of the build-once/serve-many derived stores
  * (near-dup pairs, cluster labels, IVF+PQ index, BM25 table):
  *   - a published version is reused, the build runs at most once;
  *   - regenerating the SOURCE data (mtime bump) invalidates it;
  *   - changing the build LOGIC (fingerprint) invalidates it even when
  *     the data is byte-identical — the failure mode a pure
  *     mtime-keyed store gets wrong;
  *   - publishing is rename-based: no partially-written version is
  *     ever served, and superseded versions are garbage-collected;
  *   - `load` resolves a published version once per session and
  *     re-resolves it whenever its marker files change.
  */
class DerivedStoreSpec extends AnyFunSuite {

  private def freshDirs(): (String, String) = {
    val root = Files.createTempDirectory("graft_store_spec").toString
    val sf = new File(root, "sfX")
    new File(sf, "src.parquet").mkdirs()
    Files.write(new File(sf, "src.parquet/part-0").toPath, "data".getBytes)
    (s"$root/store", sf.getAbsolutePath)
  }

  private def build(counter: Array[Int])(tmp: String): Unit = {
    counter(0) += 1
    new File(tmp).mkdirs()
    Files.write(new File(tmp, "_SUCCESS").toPath, Array.empty[Byte])
    Files.write(new File(tmp, "data").toPath, s"build${counter(0)}".getBytes)
  }

  test("published version is served without rebuilding") {
    val (store, sf) = freshDirs()
    val n = Array(0)
    val p1 = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(build(n))
    val p2 = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(build(n))
    assert(n(0) == 1, "second serve must hit the published version")
    assert(p1 == p2)
    assert(new File(p1, "_SUCCESS").exists())
  }

  test("source regeneration (mtime bump) triggers a rebuild") {
    val (store, sf) = freshDirs()
    val n = Array(0)
    val p1 = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(build(n))
    val srcFile = new File(sf, "src.parquet/part-0")
    srcFile.setLastModified(srcFile.lastModified() + 5000)
    val p2 = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(build(n))
    assert(n(0) == 2, "stale source must rebuild")
    assert(p1 != p2, "rebuild must land in a new version directory")
  }

  test("logic change (fingerprint) invalidates even with unchanged data") {
    val (store, sf) = freshDirs()
    val n = Array(0)
    val p1 = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(build(n))
    val p2 = DerivedStore.serve(store, sf, "src.parquet", "fp-v2")(build(n))
    val p3 = DerivedStore.serve(store, sf, "src.parquet", "fp-v3")(build(n))
    assert(n(0) == 3, "fingerprint change must rebuild")
    assert(p1 != p2 && p2 != p3)
    // GC keeps the current version plus ONE superseded generation (the
    // grace window for lazily-planned readers); anything older goes —
    // after three publishes, v1 is gone and v2/v3 remain
    val versions = new File(store, "sfX").listFiles().map(_.getName).sorted
    assert(versions.sameElements(
      Array(new File(p2).getName, new File(p3).getName).sorted),
      s"expected current + one grace version after GC, got ${versions.mkString(",")}")
  }

  test("no partial publish: the served path always has _SUCCESS") {
    val (store, sf) = freshDirs()
    // a builder that dies mid-write leaves only a .tmp_ dir behind
    intercept[RuntimeException] {
      DerivedStore.serve(store, sf, "src.parquet", "fp-v1") { tmp =>
        new File(tmp).mkdirs()
        Files.write(new File(tmp, "data").toPath, "partial".getBytes)
        throw new RuntimeException("builder died")
      }
    }
    // next serve rebuilds cleanly and publishes atomically
    val n = Array(0)
    val p = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(build(n))
    assert(n(0) == 1)
    assert(new File(p, "_SUCCESS").exists())
  }

  test("compactWrite: small table lands in one file, sizing follows the row count") {
    val spark = SparkTest.session
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact_spec").toString
    // a few thousand rows is far under one 4M-row file: exactly 1 part
    DerivedStore.compactWrite(
      (1L to 5000L).toDF("id"), s"$out/small")
    val smallParts = new File(s"$out/small").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(smallParts == 1,
      s"5000 rows must compact to one file, got $smallParts — every extra " +
        "file costs each consumer scan a task launch")
    // rowsPerFile = 100 over 250 rows → ceil = 3 files
    DerivedStore.compactWrite(
      (1L to 250L).toDF("id"), s"$out/three", rowsPerFile = 100L)
    val threeParts = new File(s"$out/three").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(threeParts == 3, s"250 rows at 100/file must write 3 files, got $threeParts")
    // round trip: compaction must not lose or duplicate rows
    assert(spark.read.parquet(s"$out/small").count() == 5000L)
  }

  private def parquetBuild(spark: SparkSession, rows: Long)(tmp: String): Unit =
    spark.range(rows).toDF("id").write.parquet(tmp)

  private def noRebuild(tmp: String): Unit =
    fail(s"a published version must not be rebuilt (asked to build $tmp)")

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  test("load: a second load of one version reuses the relation and starts no Spark job") {
    val spark = SparkTest.session
    val (store, sf) = freshDirs()
    val first = DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(
      parquetBuild(spark, 10))
    assert(first.count() == 10L)
    // the cost the cache removes: resolving a parquet path lists it and
    // runs a schema-inference job
    val path = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(noRebuild)
    assert(SparkTest.jobsDuring(spark.read.parquet(path))._2 >= 1,
      "a fresh read.parquet is expected to run a schema-inference job")
    val (second, jobs) = SparkTest.jobsDuring(
      DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(noRebuild))
    assert(second eq first, "the second load must return the cached relation")
    assert(jobs == 0, s"a warm load started $jobs Spark job(s)")
  }

  test("load: delete-and-rebuild at the same version path reads the new rows") {
    val spark = SparkTest.session
    val (store, sf) = freshDirs()
    val first = DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(
      parquetBuild(spark, 10))
    assert(first.count() == 10L)
    val path = DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(noRebuild)
    // another writer drops the store and publishes the same version anew
    deleteTree(new File(store))
    assert(DerivedStore.serve(store, sf, "src.parquet", "fp-v1")(
      parquetBuild(spark, 25)) == path)
    val second = DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(noRebuild)
    assert(second ne first, "a new _SUCCESS must invalidate the cached relation")
    assert(second.count() == 25L) // the stale listing would fail: file not found
    // a rebuild by load itself replaces the entry too
    deleteTree(new File(store))
    val third = DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(
      parquetBuild(spark, 7))
    assert(third.count() == 7L)
    assert(DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(noRebuild) eq third)
  }

  test("load: ivfIndexStore after in-place ivfMaintainBatch returns the maintained rows") {
    val spark = SparkTest.session
    import spark.implicits._
    // A private SF dir (a copy of sf0.001's embeddings) gives the index
    // its own store directory, so the shared published index is never
    // mutated.
    val sf = Files.createTempDirectory("graft_ivf_load").toFile
    val storeDir = new File("/tmp/graft_ann_index", sf.getName)
    try {
      Files.copy(new File("/root/testdata/sf0.001/embeddings.parquet").toPath,
        new File(sf, "embeddings.parquet").toPath)
      def rows(df: DataFrame): Set[(Long, Int, Long, Long)] =
        df.select(col("vec_id"), col("s"), col("code").cast("long"), col("c_id"))
          .as[(Long, Int, Long, Long)].collect().toSet
      val served = graft.queries.VectorQueries.ivfIndexStore(spark, sf.getPath)
      val before = rows(served)
      val versionPath = new File(new java.net.URI(served.inputFiles.head))
        .getParentFile.getParentFile.getPath
      // move one vector to another cell with a new code, add a new cell
      val (vMove, cellMove) = before.head match { case (v, _, _, c) => (v, c) }
      val target = before.map(_._4).find(_ != cellMove).get
      val newCell = before.map(_._4).max + 50
      val batch = Seq.tabulate(4)(s => (vMove, s, 7L, target)) ++
        Seq.tabulate(4)(s => (999999L, s, 1L, newCell))
      assert(graft.streaming.StreamOps.ivfMaintainBatch(
        spark, versionPath, batch.toDF("vec_id", "s", "code", "c_id"), batchId = 1L))
      val want = before.filterNot(_._1 == vMove) ++ batch
      assert(rows(graft.queries.VectorQueries.ivfIndexStore(spark, sf.getPath)) == want,
        "the served index must show the maintained rows")
      assert(rows(graft.queries.VectorQueries.ivfIndexStore(spark, sf.getPath, Seq(newCell))) ==
        batch.filter(_._4 == newCell).toSet, "a new cell must be visible to a pruned read")
    } finally {
      deleteTree(sf)
      deleteTree(storeDir)
    }
  }

  test("load: two sessions never share a cached relation") {
    val spark = SparkTest.session
    val other = spark.newSession()
    val (store, sf) = freshDirs()
    val a = DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(
      parquetBuild(spark, 10))
    val b = DerivedStore.load(other, store, sf, "src.parquet", "fp-v1")(noRebuild)
    assert(a ne b)
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq other)
    assert(DerivedStore.load(spark, store, sf, "src.parquet", "fp-v1")(noRebuild) eq a)
    assert(DerivedStore.load(other, store, sf, "src.parquet", "fp-v1")(noRebuild) eq b)
    assert(b.count() == 10L)
  }
}
