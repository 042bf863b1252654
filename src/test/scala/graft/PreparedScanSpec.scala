package graft

import java.io.File
import java.lang.ref.WeakReference
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DerivedStore
import graft.plans.{QueryIntent, QuerySpec, RagPlans, RagSearchExec}

/** The prepared store scan of a RAG request ([[graft.plans.PreparedScans]]):
  * a warm request on a route neither executes its store child nor
  * compiles code, whatever its window, `now`, intent, k or top-N; a new
  * store version, a refreshed listing or another route gets a fresh
  * entry; a superseded version is not kept reachable; and the node's own
  * metrics count the files the prepared scan reads and the in-window rows
  * it scores. Every answer equals [[RagReference]] over the same store.
  * ServeBudgetSpec checks the same on the served store with moving
  * literals. */
class PreparedScanSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private val Dims = 4

  private def vec(i: Long): Array[Float] =
    Array.tabulate(Dims)(d => ((i * 7 + d * 3) % 11).toFloat - 5f)

  private val q: Array[Float] = Array(1f, 0.5f, -1f, 2f)

  private def queryFrame: DataFrame = Seq(Tuple1(q)).toDF("q_emb")

  /** Store rows: ids `ids`, tickers TA/TB alternating, one minute apart;
    * the ids in `nearest` hold the query vector itself. */
  private def rows(ids: Seq[Long], nearest: Set[Long] = Set.empty): DataFrame =
    ids.map(i => (i, if (nearest(i)) q else vec(i), if (i % 2 == 0) "TA" else "TB", 1000L + i * 60L))
      .toDF("vec_id", "embedding", "ticker", "ts")

  private def spec(ticker: Option[String], start: Long = 0L, end: Long = 1000000L,
                   intent: QueryIntent = QueryIntent.Historical, now: Long = 5000L) =
    QuerySpec(ticker, start, end, intent, now, k = 6, topN = 4)

  private def exec(df: DataFrame): RagSearchExec =
    df.queryExecution.executedPlan.asInstanceOf[RagSearchExec]

  /** Whether this request executed its own store child: only the scan a
    * request executes counts the rows it reads into its own plan's
    * metrics. */
  private def storeExecuted(df: DataFrame): Boolean =
    exec(df).store.collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum > 0

  /** Runs `s` over `store`, checks the answer against [[RagReference]] and
    * returns it with whether the store child was executed. */
  private def request(s: QuerySpec, store: DataFrame): (Seq[Row], Boolean) = {
    val df = RagPlans.search(s, queryFrame)(store)
    val got = df.collect().toSeq
    assert(got == RagReference.search(s, queryFrame)(store).collect().toSeq, s"answer for $s")
    (got, storeExecuted(df))
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  private def collected(refs: WeakReference[_ <: AnyRef]*): Boolean =
    (1 to 50).exists { _ =>
      System.gc()
      Thread.sleep(50)
      refs.forall(_.get == null)
    }

  private def tempDir(prefix: String): File = Files.createTempDirectory(prefix).toFile

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  test("a route is executed once: later requests with other windows, now, intent, k and topN reuse it") {
    val dir = tempDir("prepared_reuse")
    try {
      rows(0L until 40L).write.mode("overwrite").partitionBy("ticker").parquet(dir.getPath)
      val store = spark.read.parquet(dir.getPath)
      assert(request(spec(Some("TA")), store)._2, "the first request on a route executes its store")
      val specs = Seq(
        spec(Some("TA"), start = 1500L, end = 2500L),
        spec(Some("TA"), start = 1000L, end = 1000L, intent = QueryIntent.RealTime),
        spec(Some("TA"), now = 9000L, intent = QueryIntent.RealTime).copy(k = 2, topN = 9),
        spec(Some("TA"), start = 3000L, end = 2000L))
      specs.foreach(s => assert(!request(s, store)._2, s"$s executed its store again"))
    } finally deleteTree(dir)
  }

  test("another ticker route gets its own entry; the first stays prepared") {
    val dir = tempDir("prepared_route")
    try {
      rows(0L until 40L).write.mode("overwrite").partitionBy("ticker").parquet(dir.getPath)
      val store = spark.read.parquet(dir.getPath)
      assert(request(spec(Some("TA")), store)._2)
      assert(request(spec(Some("TB")), store)._2, "a new route must execute its store")
      assert(request(spec(None), store)._2, "the unrouted scan is a route of its own")
      assert(!request(spec(Some("TA"), start = 1200L), store)._2)
      assert(!request(spec(Some("TB"), start = 1200L), store)._2)
    } finally deleteTree(dir)
  }

  test("an appended or rewritten file under the same root gets a fresh entry after refresh()") {
    val dir = tempDir("prepared_refresh")
    try {
      rows(0L until 20L).write.mode("overwrite").parquet(dir.getPath)
      val store = spark.read.parquet(dir.getPath)
      val index = relationOf(store).location
      val (before, _) = request(spec(None), store)
      // an appended file holding the query vector itself: it must win
      Seq((100L, q, "TA", 1500L)).toDF("vec_id", "embedding", "ticker", "ts")
        .write.mode("append").parquet(dir.getPath)
      index.refresh()
      val (appended, executed) = request(spec(None), store)
      assert(executed, "an appended file must invalidate the prepared scan")
      assert(appended.head.getLong(0) == 100L && appended != before)
      assert(!request(spec(None), store)._2)
      // rewrite one file in place under its own name with other rows
      val victim = dir.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      val tmp = tempDir("prepared_rewrite")
      try {
        Seq((200L, q, "TB", 1600L), (201L, vec(3), "TB", 1660L))
          .toDF("vec_id", "embedding", "ticker", "ts").coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val written = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(written.toPath, victim.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        new File(dir, s".${victim.getName}.crc").delete() // the old file's checksum
        victim.setLastModified(victim.lastModified() + 5000L)
      } finally deleteTree(tmp)
      index.refresh()
      val (rewritten, again) = request(spec(None), store)
      assert(again, "a file rewritten in place must invalidate the prepared scan")
      assert(rewritten.map(_.getLong(0)).contains(200L))
    } finally deleteTree(dir)
  }

  /** One version of a private DerivedStore: its source stamped `mtime`,
    * built from `rows(ids, nearest)`. */
  private def loadVersion(root: File, sf: File, mtime: Long, ids: Seq[Long],
                          nearest: Set[Long] = Set.empty): DataFrame = {
    new File(sf, "src.parquet").setLastModified(mtime)
    DerivedStore.load(spark, root.getPath, sf.getPath, "src.parquet", "prepared-spec") { tmp =>
      DerivedStore.writePartitioned(rows(ids, nearest), tmp, Seq("ticker"))
    }
  }

  /** Serves two requests from the first version; returns its answer and
    * weak references to its relation and its store frame's leaf. */
  private def firstVersion(root: File, sf: File)
      : (Seq[Row], WeakReference[AnyRef], WeakReference[AnyRef]) = {
    val v1 = loadVersion(root, sf, 1000000000000L, 0L until 30L)
    val (answer, executed) = request(spec(Some("TA")), v1)
    assert(executed)
    assert(!request(spec(Some("TA"), start = 1100L), v1)._2)
    val leaf = v1.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l }.get
    (answer, new WeakReference[AnyRef](relationOf(v1)), new WeakReference[AnyRef](leaf))
  }

  test("a DerivedStore rebuild to a new version gets a fresh entry; the old one is not kept") {
    val root = tempDir("prepared_store")
    val sf = tempDir("prepared_sf")
    try {
      Files.write(new File(sf, "src.parquet").toPath, Array[Byte](1))
      val (v1Answer, v1Relation, v1Leaf) = firstVersion(root, sf)
      // the source changes: a new version, with the query vector in it
      val v2 = loadVersion(root, sf, 1000000100000L, (0L until 30L) :+ 42L, Set(42L))
      val (v2Answer, executed) = request(spec(Some("TA")), v2)
      assert(executed, "a new version must execute its store")
      assert(v2Answer.head.getLong(0) == 42L && v2Answer != v1Answer)
      assert(collected(v1Leaf), "the first version's store frame is still reachable")
      // the next lookup expunges the dead entry, and with it the relation
      assert(!request(spec(Some("TA"), start = 1100L), v2)._2)
      assert(collected(v1Relation), "the superseded version's relation is still reachable")
    } finally { deleteTree(root); deleteTree(sf) }
  }

  test("numFiles and numRowsScored: the prepared scan's files and the in-window rows") {
    val dir = tempDir("prepared_metrics")
    try {
      val all = rows(0L until 40L)
      all.repartition(3).write.mode("overwrite").partitionBy("ticker").parquet(dir.getPath)
      val store = spark.read.parquet(dir.getPath)
      def files(sub: String): Long = Option(new File(dir, sub).listFiles()).getOrElse(Array.empty[File])
        .count(_.getName.endsWith(".parquet")).toLong
      for ((ticker, warm) <- Seq(Some("TA") -> false, Some("TA") -> true, None -> false, None -> true)) {
        val s = spec(ticker, start = 1600L, end = 2800L)
        val df = RagPlans.search(s, queryFrame)(store)
        df.collect()
        val m = exec(df).metrics
        val wantFiles = ticker.fold(files("ticker=TA") + files("ticker=TB"))(t => files(s"ticker=$t"))
        val wantRows = all.filter(col("ts").between(s.start, s.end))
          .filter(ticker.fold(lit(true))(col("ticker") === _)).count()
        assert(m("numFiles").value == wantFiles, s"files for $ticker (warm $warm)")
        assert(m("numRowsScored").value == wantRows, s"rows scored for $ticker (warm $warm)")
        assert(storeExecuted(df) != warm)
      }
    } finally deleteTree(dir)
  }
}
