package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SessionOps

/** `SessionOps.releaseQuiet` is the one release implementation every
  * iterative operator (BPE trainer, CC loop, store compaction) leans
  * on for its per-round heap-pressure story — so the release must be
  * PROVEN against `sc.getPersistentRDDs`, not assumed. r11 shipped
  * `Dataset.unpersist` alone, which is a no-op for `localCheckpoint`
  * materializations (they are plain persisted RDDs behind a
  * `LogicalRDD` leaf, invisible to the CacheManager): every release
  * site freed nothing. These specs pin both release paths and the
  * derived-frame guard that makes the direct-RDD path safe. */
class SessionOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a malformed spark.graft.* value fails loudly, naming key and value") {
    spark.conf.set(SessionOps.RELIABLE_KEY, "yes")
    val e =
      try intercept[IllegalArgumentException](
        SessionOps.truncate(spark.range(10).toDF("x")))
      finally spark.conf.unset(SessionOps.RELIABLE_KEY)
    assert(e.getMessage.contains(SessionOps.RELIABLE_KEY) &&
      e.getMessage.contains("yes"), e.getMessage)
  }

  test("SparkSession.builder appears in src/main only inside SessionOps.localSession") {
    // One factory for every entry point: a tool building its own session
    // drifts in cores, time zone or collect budget, and its profile then
    // takes a different size-gated branch than the bench does.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val Builder = """SparkSession\s*\.\s*[Bb]uilder\b""".r
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator.asScala.toList)
    val sites: Seq[(Path, Int)] = files
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val text = Files.readString(f)
        Builder.findAllMatchIn(text)
          .map(m => (f, text.take(m.start).count(_ == '\n'))).toSeq
      }
    assert(sites.map(_._1) == Seq(root.resolve("graft/ops/SessionOps.scala")),
      s"builder sites: ${sites.map { case (f, l) => s"$f:${l + 1}" }.mkString(", ")}")
    val (file, line) = sites.head
    val enclosing = Files.readAllLines(file).asScala.take(line).reverse
      .find(_.trim.startsWith("def "))
    assert(enclosing.exists(_.trim.startsWith("def localSession(")), enclosing)
  }

  /** The sites in `text` that attach planner pieces to a session or fix
    * up a checkpoint's layout outside their one path, as `path:line`:
    * an assignment of `extraStrategies`/`extraOptimizations` or a
    * function registration outside `GraftExtensions` and SessionOps'
    * `SessionMaps` holder, and a `keepPartitioning` call outside
    * `SessionOps.truncate`. A site's owner is the nearest member of the
    * file's top-level object above it. */
  private def secondPaths(path: String, text: String): Seq[String] = {
    val Attach = """\b(?:extraStrategies|extraOptimizations)\s*=(?!=)|\b(?:registerFunction|createOrReplaceTempFunction)\s*\(""".r
    val Layout = """(?<!def )\bkeepPartitioning\s*\(""".r
    val Member = """^  (?:(?:private|final|override|lazy)(?:\[\w+\])? )*(?:def|val|object|class) (\w+)""".r.unanchored
    val lines = text.split("\n", -1).toIndexedSeq
    def owner(line: Int): String =
      lines.take(line + 1).reverseIterator.collectFirst { case Member(n) => n }.getOrElse("")
    def sites(re: scala.util.matching.Regex, allowed: Int => Boolean): Seq[String] =
      re.findAllMatchIn(text).map(m => text.take(m.start).count(_ == '\n'))
        .filterNot(allowed).map(l => s"$path:${l + 1}").toSeq
    val isSessionOps = path.endsWith("graft/ops/SessionOps.scala")
    sites(Attach, l => path.endsWith("graft/plans/GraftExtensions.scala") ||
      isSessionOps && owner(l) == "SessionMaps") ++
      sites(Layout, l => isSessionOps && owner(l) == "truncate")
  }

  test("graft attaches to a session and keeps a checkpoint's layout on one path each") {
    // A second install path drifts: a piece added to one list is missing
    // from sessions built the other way (an optimizer rule installed by
    // one spec only was a no-op everywhere else).
    val sample = Seq(
      "object X {",
      "  def f(s: SparkSession): Unit = {",
      "    s.experimental.extraStrategies = s.experimental.extraStrategies :+ S",
      "    reg.createOrReplaceTempFunction(\"f\", b, \"scala_udf\")",
      "    ColumnBridge.keepPartitioning(df, ck)",
      "  }",
      "}").mkString("\n")
    assert(secondPaths("X.scala", sample) == Seq("X.scala:3", "X.scala:4", "X.scala:5"))
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = scala.util.Using.resource(Files.walk(Paths.get("src/main")))(_.iterator.asScala.toList)
      .filter(_.toString.endsWith(".scala"))
    val found = files.flatMap(f => secondPaths(f.toString, Files.readString(f)))
    assert(found.isEmpty, s"second paths: ${found.mkString(", ")}")
  }

  test("a malformed SPARK_GRAFT_CPUS fails loudly, naming variable and value") {
    assert(SessionOps.parseCpus(Some(" 6 ")) == 6)
    assert(SessionOps.parseCpus(None) ==
      math.min(32, Runtime.getRuntime.availableProcessors()))
    Seq("four", "0", "-2", "").foreach { v =>
      val e = intercept[IllegalArgumentException](SessionOps.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("releaseQuiet frees a localCheckpoint's persisted RDD") {
    val before = persistentIds
    val ck = spark.range(100).toDF("x").localCheckpoint()
    val added = persistentIds -- before
    assert(added.nonEmpty,
      "localCheckpoint should register a persisted RDD")
    SessionOps.releaseQuiet(ck)
    val after = persistentIds
    assert(added.forall(!after.contains(_)),
      s"checkpoint RDDs $added must be gone after releaseQuiet, have $after")
  }

  test("releaseQuiet frees a cached (CacheManager) frame") {
    val before = persistentIds
    val cached = spark.range(100).toDF("x").cache()
    cached.count()
    val added = persistentIds -- before
    assert(added.nonEmpty, "cache + count should register a persisted RDD")
    SessionOps.releaseQuiet(cached)
    val after = persistentIds
    assert(added.forall(!after.contains(_)),
      s"cached RDDs $added must be gone after releaseQuiet, have $after")
  }

  test("releaseQuiet on a frame DERIVED from a checkpoint frees nothing") {
    // The direct-RDD path matches only the TOP-LEVEL LogicalRDD leaf: a
    // projection over a checkpoint must never free blocks the
    // checkpoint's other consumers still read.
    val before = persistentIds
    val ck = spark.range(100).toDF("x").localCheckpoint()
    val added = persistentIds -- before
    assert(added.nonEmpty)
    val derived = ck.selectExpr("x + 1 as y").filter("y > 10")
    SessionOps.releaseQuiet(derived)
    val after = persistentIds
    assert(added.forall(after.contains),
      s"derived-frame release must keep the checkpoint's RDDs $added alive")
    assert(derived.count() == 90L)
    SessionOps.releaseQuiet(ck)
  }

  test("releaseQuiet deletes a superseded RELIABLE checkpoint's files") {
    // In reliable mode a k-round loop writes one full state copy to the
    // checkpoint dir per round; Spark never deletes them. releaseQuiet
    // must bound that: superseded checkpoint -> directory gone; the
    // live checkpoint's files stay.
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-relrel").toString
    sc.setCheckpointDir(dir)
    spark.conf.set(SessionOps.RELIABLE_KEY, "true")
    try {
      def files(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.startsWith("part-")) 1 else 0
        walk(new java.io.File(dir))
      }
      val round1 = SessionOps.truncate(spark.range(50).toDF("x"))
      val afterR1 = files()
      assert(afterR1 > 0, "reliable truncate wrote no checkpoint files")
      val round2 = SessionOps.truncate(round1.selectExpr("x + 1 as x"))
      val afterR2 = files()
      assert(afterR2 > afterR1, "second round wrote no checkpoint files")
      SessionOps.releaseQuiet(round1)
      assert(files() == afterR2 - afterR1,
        "superseded reliable checkpoint's files were not deleted")
      assert(round2.count() == 50L, "live checkpoint must survive the release")
      SessionOps.releaseQuiet(round2)
      assert(files() == 0, "released live checkpoint's files must be gone")
    } finally {
      spark.conf.set(SessionOps.RELIABLE_KEY, "false")
      prevDir.foreach(sc.setCheckpointDir)
    }
  }

  test("releaseQuiet refuses to delete checkpoint files outside the context's checkpoint dir") {
    // The guard on the one step of releaseQuiet that can DESTROY data on
    // a contract violation: the recursive file delete only fires for
    // paths under sparkContext.getCheckpointDir. A checkpoint whose
    // files live anywhere else (user-created, or the context was
    // repointed) is left on disk and the refusal is logged — never
    // silently deleted.
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    val dirA = java.nio.file.Files.createTempDirectory("graft-ckpt-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ckpt-b").toString
    spark.conf.set(SessionOps.RELIABLE_KEY, "true")
    sc.setCheckpointDir(dirA)
    try {
      val ck = SessionOps.truncate(spark.range(25).toDF("x"))
      val file = ck.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        .rdd.getCheckpointFile
      assert(file.isDefined, "reliable truncate must carry a checkpoint file")
      val p = new org.apache.hadoop.fs.Path(file.get)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      // repoint the context: the checkpoint now lives OUTSIDE its dir
      // (setCheckpointDir mints a fresh UUID subroot every call, so
      // there is no way back under the original root — the
      // delete-under-root half lives in the reliable-release test
      // above, which never repoints)
      sc.setCheckpointDir(dirB)
      SessionOps.releaseQuiet(ck)
      assert(fs.exists(p),
        s"checkpoint outside the context dir must NOT be deleted: ${file.get}")
    } finally {
      spark.conf.set(SessionOps.RELIABLE_KEY, "false")
      prevDir.foreach(sc.setCheckpointDir)
    }
  }

  test("iterative fold keeps the persistent-RDD count flat") {
    // The shape every trainer loop has: round N checkpoints its state,
    // releases round N-1. The persistent set must not grow with rounds
    // — this is the heap-pressure regression the r11 no-op shipped.
    val baseline = persistentIds.size
    var state = spark.range(10).toDF("x").localCheckpoint()
    for (_ <- 1 to 5) {
      val next = state.selectExpr("x + 1 as x").localCheckpoint()
      SessionOps.releaseQuiet(state)
      state = next
      assert(persistentIds.size <= baseline + 1,
        s"persistent-RDD set grew across rounds: ${persistentIds.size}")
    }
    assert(state.count() == 10L)
    SessionOps.releaseQuiet(state)
  }

  /** Fills the per-session maps from a new session (`Tables.scanCache`,
    * the `DerivedStore` relation cache and the prepared RAG scans) over a
    * data set in `dir`, and returns only a weak reference to it. */
  private def usedSession(dir: String): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
    val s = spark.newSession()
    import s.implicits._
    Seq((0L, Array(1f, 0f), 3), (1L, Array(0f, 1f), 4)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val q = graft.model.Tables.embeddings(s, dir)
      .filter($"vec_id" === 0).selectExpr("embedding AS q_emb")
    val store = graft.queries.PipelineQueries.vectorStoreServed(s, dir)
    val spec = graft.plans.QuerySpec(None, 0L, Long.MaxValue,
      graft.plans.QueryIntent.Historical, 1700000000L)
    assert(graft.plans.RagPlans.search(spec, q)(store).collect().nonEmpty)
    new java.lang.ref.WeakReference(s)
  }

  test("a dropped session is collected with its per-session maps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_session_maps").toFile
    // the RAG store this data set publishes
    val store = new java.io.File("/tmp/graft_rag_store", dir.getName)
    try {
      val session = usedSession(dir.getPath)
      assert((1 to 50).exists { _ => System.gc(); Thread.sleep(100); session.get == null },
        "a session the caller dropped is still reachable")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      org.apache.commons.io.FileUtils.deleteDirectory(store)
    }
  }
}
