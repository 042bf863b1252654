package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-level utilities shared by queries and the measurement tools —
  * one implementation so a fix applies everywhere at once (the session
  * every entry point runs on, the cache release between queries, the
  * scan-spread compensation).
  */
object SessionOps {

  /** Cores of [[localSession]]: `SPARK_GRAFT_CPUS`, or the machine's
    * cores capped at 32 (the driver's local[32] contract) so a smaller
    * box isn't oversubscribed. The env var pins it for reproducible
    * cross-round comparisons; entry points report it in their JSON. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Int =
    v.fold(math.min(32, Runtime.getRuntime.availableProcessors())) { raw =>
      raw.trim.toIntOption.filter(_ > 0).getOrElse(throw
        new IllegalArgumentException(s"malformed SPARK_GRAFT_CPUS='$raw'"))
    }

  /** The one session every entry point (Bench, Verify, Explain, the dev
    * tools) runs on, so a profile or plan dump takes the same size-gated
    * branches the bench does, with graft installed
    * ([[graft.plans.GraftExtensions.install]]). Deployment settings such
    * as `spark.driver.maxResultSize` come from the JVM (`-Dspark.*`). */
  def localSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE coalescing stays parallelism-first (the default): an A/B run
      // with size-based coalescing (parallelismFirst=false) cut the suite
      // total ~6% but serialized every compute-dense, byte-light stage —
      // dedup_substring_spans/apply 3×, asof_join_native 2.4× — because
      // token-level windows shuffle few bytes per unit of CPU. Bytes are
      // the wrong proxy for work here; rejected (BENCH_NOTES.md r6).
      .config("spark.ui.enabled", "false")
      // The generated-code cache defaults to 100 entries; 169 queries ×
      // several codegen units each means the warmup pass's Janino
      // compilations are evicted before the timed pass reuses them, and
      // every timed query pays 0.5-3 s of recompilation — the measured
      // cold-rep1/warm-rep2 gap on unchanged plans. Sized to hold the
      // whole registry's units so warmup actually warms.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(s)
    s
  }

  /** Best-effort release of a SUPERSEDED materialization (a localCheckpoint
    * or cache whose successor is already eagerly materialized) — the one
    * implementation of the swallow-everything unpersist the iterative
    * operators (BPE trainer, CC loop, store compaction) all need, so a
    * change to the release semantics happens in one place. Failures are
    * ignored by design: the blocks are garbage either way, and a release
    * must never fail the computation it is cleaning up after.
    *
    * Two release paths because the two materialization kinds live in
    * different registries: `Dataset.unpersist` only evicts
    * CacheManager-registered plans (`.cache()`/`.persist()`), and is a
    * NO-OP for a `localCheckpoint()` — the checkpoint's materialization
    * is a plain persisted RDD behind a `LogicalRDD` leaf, invisible to
    * the CacheManager, so its blocks would otherwise linger until the
    * ContextCleaner happens to collect the RDD object (r11 shipped
    * exactly that no-op and freed nothing). The leaf's RDD is therefore
    * unpersisted directly. Only the TOP-LEVEL analyzed plan is matched:
    * a derived frame OVER a checkpoint must never free blocks that
    * checkpoint's other consumers still read — callers pass the
    * superseded checkpoint itself, per the contract above.
    * SessionOpsSpec asserts both paths against
    * `sc.getPersistentRDDs`.
    *
    * RELIABLE checkpoints ([[truncate]] with [[RELIABLE_KEY]]=true) get a
    * third path: their materialization is FILES, and Spark never deletes
    * them (the optional ContextCleaner hook is off by default and GC-
    * nondeterministic anyway) — so a k-round trainer loop in reliable
    * mode would retire k full copies of its state to disk and keep all
    * of them for the application's lifetime; at a 50k-merge BPE run that
    * is 50k corpus copies. A superseded frame is dead by the caller
    * contract, so its checkpoint directory is deleted here, bounding
    * reliable-mode disk at the live-frames working set exactly like the
    * block release bounds executor memory. Reliable-only by
    * construction: `getCheckpointFile` returns None for local
    * checkpoints (only `ReliableRDDCheckpointData` carries a
    * directory). Failures stay swallowed, but the file delete is the one
    * step that can DESTROY data on a contract violation (releasing a
    * frame whose checkpoint another consumer still reads, or a frame
    * over a user-created checkpoint), so it is (a) guarded to paths
    * under the context's own checkpoint dir — a checkpoint that lives
    * anywhere else was not made by [[truncate]] and is never touched —
    * and (b) logged at warn (delete + any swallowed failure), leaving a
    * diagnostic trail where the r12 version escalated silently. */
  def releaseQuiet(df: DataFrame): Unit = {
    silenceTruncationWarn
    try df.unpersist(blocking = false) catch { case NonFatal(_) => () }
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { p =>
          val sc = df.sparkSession.sparkContext
          val ckptRoot = sc.getCheckpointDir
          val fs = new org.apache.hadoop.fs.Path(p)
            .getFileSystem(sc.hadoopConfiguration)
          def qualified(s: String): String =
            fs.makeQualified(new org.apache.hadoop.fs.Path(s)).toString
          val inRoot = ckptRoot.exists(r =>
            qualified(p).startsWith(qualified(r).stripSuffix("/") + "/"))
          if (inRoot) {
            log.warn(s"releasing superseded reliable checkpoint: $p")
            try {
              fs.delete(new org.apache.hadoop.fs.Path(p), true); ()
            } catch {
              case NonFatal(e) =>
                log.warn(s"checkpoint delete failed (leaked): $p", e)
            }
          } else
            log.warn(
              s"NOT deleting checkpoint outside context dir " +
                s"(${ckptRoot.getOrElse("<unset>")}): $p")
        }
      case _ => ()
    } catch { case NonFatal(_) => () }
  }

  private lazy val log =
    org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** The value of the `spark.graft.*` conf `key`, read through `parse`:
    * an unset key yields `default`, and a set value `parse` rejects
    * throws IllegalArgumentException naming the key and the value — a
    * typo'd dial must fail the run, not silently take the default
    * branch. */
  def graftConf[T](s: SparkSession, key: String, default: T)(parse: String => T): T =
    parseConf(key, s.conf.getOption(key), default)(parse)

  /** [[graftConf]] over a value already read. */
  private[graft] def parseConf[T](key: String, value: Option[String], default: T)(
      parse: String => T): T =
    value.fold(default) { v =>
      try parse(v)
      catch { case NonFatal(e) =>
        throw new IllegalArgumentException(s"malformed conf $key='$v'", e) }
    }

  /** Conf key: route the iterative loops' lineage-truncation checkpoints
    * through RELIABLE (directory-backed) `Dataset.checkpoint()` instead
    * of `localCheckpoint()`. */
  val RELIABLE_KEY = "spark.graft.checkpoint.reliable"

  /** Conf key: checkpoint directory for the reliable mode (used only when
    * the SparkContext has none set yet). */
  val RELIABLE_DIR_KEY = "spark.graft.checkpoint.dir"

  /** Lineage-truncation checkpoint with a conf-switched durability mode —
    * the ONE call the iterative operators (CC loop, BPE trainer) make,
    * so the cluster-durability decision is a config, not a code edit.
    *
    *  - default: `localCheckpoint()` — blocks live on executors. Fast
    *    (no filesystem round-trip), correct on local[*]; on a real
    *    cluster an executor loss makes the truncated lineage
    *    unrecomputable, killing the job (Spark's own documented
    *    trade-off).
    *  - [[RELIABLE_KEY]]=true: `checkpoint()` against the context's
    *    checkpoint dir ([[RELIABLE_DIR_KEY]] is set on the context
    *    lazily if none is configured) — files survive executor loss, the
    *    loop resumes from the last round's checkpoint on task retry.
    *    The cost is one write+read of the frame per round: at 100 TB
    *    that is the standard price of a restartable iterative job, paid
    *    only when the mode is ON.
    *
    * Both modes eagerly materialize and truncate lineage, so loop-plan
    * growth, release contracts ([[releaseQuiet]] — which also DELETES a
    * superseded reliable checkpoint's files, bounding reliable-mode disk
    * at the live working set), and round structure are identical;
    * ReliableCheckpointSpec runs a CC fixpoint and a BPE round through
    * the reliable path and asserts bit-equal results plus actual
    * checkpoint files on disk.
    *
    * Both modes keep the hash partitioning `df`'s rows have
    * (`ColumnBridge.keepPartitioning`): Spark records the executed plan's
    * partitioning, and an adaptive plan reports none. So a frame
    * hash-partitioned on its key before the checkpoint — the upsert's
    * store on `id`, the CC and k-core edge tables on `src` — is read by a
    * later join or aggregate on that key with no exchange. Only a hash
    * partitioning the rows already have, at the same partition count, is
    * declared, so this can remove an exchange but never add one. */
  def truncate(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val reliable = graftConf(s, RELIABLE_KEY, false)(_.toBoolean)
    // SERIALIZED storage: the default MEMORY_AND_DISK materializes the
    // frame as deserialized row objects (MemoryStore.putIteratorAsValues
    // unrolls per-row UnsafeRow copies) — at pair-cardinality frames the
    // r13 sf100 probe measured 40 unrolling tasks OOM a 48 GB heap
    // before the store could overflow to disk. MEMORY_AND_DISK_SER
    // unrolls into byte buffers (UnsafeRows serialize compactly, ~no
    // object overhead) and degrades to disk gracefully; for the KB–MB
    // loop frames (CC, BPE) the ser/deser delta is noise.
    val checkpointed =
      if (!reliable) df.localCheckpoint(
        eager = true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else {
        if (s.sparkContext.getCheckpointDir.isEmpty) {
          val dir = s.conf.getOption(RELIABLE_DIR_KEY).getOrElse(
            new java.io.File(
              System.getProperty("java.io.tmpdir"), "graft-ckpt").toString)
          s.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint()
      }
    org.apache.spark.sql.graft.ColumnBridge.keepPartitioning(df, checkpointed)
  }

  /** Spark logs "RDD N was locally checkpointed, its lineage has been
    * truncated and cannot be recomputed after unpersisting" on EVERY
    * direct unpersist of a localCheckpoint RDD. Here the unrecomputable
    * release is the entire point — the caller contract says the frame is
    * superseded and dead — so at trainer scale the warning is one line
    * of pure noise per round. Scoped to the one logger that emits it
    * (the checkpoint top RDD is always a MapPartitionsRDD); all other
    * org.apache.spark.rdd logging is untouched. */
  private lazy val silenceTruncationWarn: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    catch { case NonFatal(_) => () }

  /** Round-robin `df` to the session's shuffle parallelism ONLY when its
    * current plan yields fewer partitions — the single-split local-scan
    * compensation used ahead of CPU-dense per-row work (gram hashing,
    * tokenize explodes). On a production multi-split input the scan
    * already meets the target and this is the no-op the call sites
    * promise: no corpus-wide shuffle is ever added to an input that is
    * already wide. (Partition count comes from the compiled plan — a
    * file-listing, not a job.) */
  def spreadIfNarrow(df: DataFrame): DataFrame =
    spreadTo(df, df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Drop every cached/persisted block: `clearCache` covers `.cache()`d
    * plans, but `localCheckpoint` materializations are plain persisted
    * RDDs that `clearCache` does NOT release — left alone they accumulate
    * across a run and the heap pressure bleeds into every later query.
    * blocking = true so the release lands HERE (in an untimed gap) rather
    * than asynchronously inside the next measurement. */
  def dropCachedBlocks(spark: SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case NonFatal(_) => }
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    catch { case NonFatal(_) => }
  }

  /** Runs the action a caller of `df` runs and returns its name and the
    * rows it returned: `collect()` when the optimized plan bounds its rows
    * (a limit, a global aggregate, a RAG request's top-N), `count()`
    * otherwise. A `count()` would wrap a row-bounded plan, such as a RAG
    * request's single operator, in an aggregate and an exchange that no
    * request runs. Bench, Explain and ServeBudgetSpec time this. */
  def runAction(df: DataFrame): (String, Long) =
    if (df.queryExecution.optimizedPlan.maxRows.isDefined) "collect" -> df.collect().length.toLong
    else "count" -> df.count()

  /** Waits up to `millis` until the asynchronous listener bus has
    * delivered every event posted so far, so a listener's counts are
    * complete. A bus that does not drain in time fails the caller with a
    * `TimeoutException` naming the wait: a reader must never go on with
    * counts that may be incomplete. */
  def drainListenerBus(spark: SparkSession, millis: Long): Unit =
    try org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark.sparkContext, millis)
    catch { case e: java.util.concurrent.TimeoutException =>
      throw new java.util.concurrent.TimeoutException(
        s"listener bus not drained within $millis ms: ${e.getMessage}")
    }

  /** One concurrent map per session, for state a session reuses across
    * queries (resolved scans, store relations, fitted bases, prepared RAG
    * store scans). The maps hang off the session itself ([[SessionMaps]]),
    * so nothing outside the session reaches them: a value may reference
    * its session, as a cached `DataFrame` or a scan RDD does, and the
    * session still goes with its maps and their values once nothing else
    * holds it. */
  final class PerSession[K, V] {
    def apply(spark: SparkSession): scala.collection.concurrent.TrieMap[K, V] =
      SessionMaps.of(spark).maps
        .computeIfAbsent(this, _ => scala.collection.concurrent.TrieMap.empty[Any, Any])
        .asInstanceOf[scala.collection.concurrent.TrieMap[K, V]]
  }

  /** The [[PerSession]] maps of `owner`. A session's planner strategy list
    * (`experimental.extraStrategies`) is the one registry on a session
    * that takes an arbitrary object, so the holder is a strategy that
    * plans nothing. `cloneSession` (a streaming query's session) copies
    * that list; `owner` tells a clone that a holder it finds is its
    * parent's. */
  private final class SessionMaps(val owner: SparkSession)
      extends org.apache.spark.sql.classic.Strategy {
    val maps = new java.util.concurrent.ConcurrentHashMap[
      PerSession[_, _], scala.collection.concurrent.TrieMap[Any, Any]]()
    def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = Nil
  }

  private object SessionMaps {
    def of(spark: SparkSession): SessionMaps = {
      def own = spark.experimental.extraStrategies.collectFirst {
        case m: SessionMaps if m.owner eq spark => m
      }
      own.getOrElse(synchronized {
        own.getOrElse {
          val m = new SessionMaps(spark)
          spark.experimental.extraStrategies =
            spark.experimental.extraStrategies.filterNot(_.isInstanceOf[SessionMaps]) :+ m
          m
        }
      })
    }
  }

  /** [[spreadIfNarrow]] with an explicit target — for the sites whose
    * compensation width is a measured constant (the PQ build's 8-way,
    * the skew demo's 8 mappers) rather than the session parallelism.
    * Callers apply this ONLY to scan/projection frames (no upstream
    * exchanges), where building the RDD lineage is listing-cheap and
    * AQE has no stages to materialize. */
  def spreadTo(df: DataFrame, n: Int): DataFrame =
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df

  /** Shuffle-partition count for a stage whose volume is KNOWN (or
    * estimable) driver-side, sized so per-task state fits execution
    * memory instead of spilling: `bytes / 128 MB`, floored at the
    * session setting (small inputs keep the session plan unchanged —
    * this function can only ADD parallelism) and capped at 4096 (at
    * which point per-task state is ~always memory-resident and more
    * tasks is pure dispatch overhead).
    *
    * This is the CC-loop / kcore "parallelism from the measured data"
    * rule generalized to stages BIGGER than the session constant: the
    * r13 fourth-decade probes measured the failure mode it removes —
    * pair-cardinality stages (adaptive LSH candidate distinct, verify
    * attach, per-qid top-k sort) running at the session's 32 partitions
    * put ~50M rows in every task, and the resulting external-sort spill
    * was the difference between the designed Θ(n^1.22) growth and a
    * 36.7× measured decade (and, for knn_join_lsh_adaptive, a
    * filled disk). On a real cluster `spark.sql.shuffle.partitions` is
    * provisioned with the data; in a fixed-session harness this derives
    * the same number from the volume the operator itself computed. */
  def scaledPartitions(s: SparkSession, bytes: Long): Int = {
    val target = 128L * 1024 * 1024
    val n = (bytes + target - 1) / target
    math.max(s.sessionState.conf.numShufflePartitions,
      math.min(4096L, n).toInt)
  }

  /** Nudge Spark's ContextCleaner between bounded-disk work chunks: the
    * cleaner deletes a chunk's shuffle files only after the JVM garbage
    * collects the ShuffleDependency objects referencing them, and a big
    * heap may not GC for many minutes on its own — long enough for the
    * next chunk's writes to stack on top of the dead ones and fill the
    * disk (the exact sequential-chunks failure the band-chunked kNN
    * exists to prevent). One explicit System.gc() is the same lever as
    * Spark's own `spark.cleaner.periodicGC.interval` (default 30 min),
    * pulled at the moment a chunk's intermediates are known-dead instead
    * of on a timer. Deletion stays asynchronous on the cleaner thread;
    * the next chunk's minutes of compute give it ample overlap, so peak
    * disk is bounded at ~2 chunks' footprint. */
  def nudgeShuffleCleanup(s: SparkSession): Unit = System.gc()

  /** MEASURED collect-side bytes of a payload frame: per row, the actual
    * octet length of every string/binary column plus a fixed 8 B per
    * other column and a 32 B UnsafeRow overhead, summed in ONE narrow
    * aggregate over the frame. Exists because the optimizer's
    * `sizeInBytes` for a parquet scan is the COMPRESSED file size, and
    * text columns routinely expand 2–8× on collect (r13's fuzzy sf100
    * broadcast: estimated 1.05 GB, actual ~2.3 GB) — a size gate trusting
    * the file stat can admit a broadcast that then blows the driver
    * budget or Spark's 8 GB hard limit. One pass over the n-row payload
    * table is noise next to the pair join it gates; callers skip it when
    * the estimate is far from the boundary (LshJoin.measuredBytes). */
  def payloadBytes(df: DataFrame): Long = payloadBytesRows(df)._1

  /** [[payloadBytes]] plus the frame's row count, in the SAME single
    * narrow aggregate — for callers that need the average per-row
    * payload (LshJoin's pairs-meet width sizing) without a second
    * pass. */
  def payloadBytesRows(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val perRow = df.schema.fields.map { f =>
      colBytes(f).getOrElse(lit(8L))
    }.reduceLeft(_ + _) + lit(32L)
    val r = df.agg(coalesce(sum(perRow), lit(0L)), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Collect-side byte expression for one column, or None when the type
    * has no cheap measurement (maps, structs, nested arrays) — callers
    * treat a None column as UNMEASURABLE and gate conservatively
    * (LshJoin.measuredBytes prices the whole frame at the worst-case
    * expansion instead). Array elements are priced at 8 B each plus a
    * 16 B header — UnsafeArrayData stores primitives 8-byte aligned, so
    * this bounds int/float arrays from above — and string/binary
    * elements at their octet length plus an 8 B offset slot (ADVICE r14:
    * the old per-column flat 8 B priced a minhash array<bigint> like a
    * scalar, understating a collect ~100×). */
  private[graft] def colBytes(f: org.apache.spark.sql.types.StructField)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    f.dataType match {
      case StringType | BinaryType =>
        Some(coalesce(octet_length(col(f.name)).cast("long"), lit(0L)))
      case ArrayType(StringType | BinaryType, _) =>
        Some(coalesce(
          aggregate(col(f.name), lit(0L),
            (acc, x) => acc + coalesce(octet_length(x).cast("long"), lit(0L)))
            + size(col(f.name)).cast("long") * lit(8L) + lit(16L),
          lit(0L)))
      case ArrayType(et, _) if fixedWidth(et) =>
        Some(coalesce(
          size(col(f.name)).cast("long") * lit(8L) + lit(16L), lit(0L)))
      case _: ArrayType | _: MapType | _: StructType => None
      case _ => Some(lit(8L))
    }
  }

  /** Fixed-width scalar types — the ones the optimizer's parquet size
    * estimate cannot understate past the codec ratio. */
  private[graft] def fixedWidth(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | DateType | TimestampType |
           TimestampNTZType | _: DecimalType => true
      case _ => false
    }
  }

  /** True when every column of `schema` has a measurable collect-side
    * byte expression ([[colBytes]]). */
  private[graft] def allMeasurable(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.forall(f => colBytes(f).isDefined)

  /** The byte budget a size-gated broadcast may actually spend on THIS
    * session: the caller's design cap, clamped to 60% of
    * `spark.driver.maxResultSize` — a broadcast build COLLECTS the table
    * through task results, so a gate that only checks the design cap
    * aborts the job on an untuned driver (the r13 sf100 probe measured
    * exactly that: a 1.05 GB text-payload broadcast died against the
    * 1g default mid-collect). Under the clamp the gate falls back to
    * the shuffled-hash branch instead — slower, never fatal; a cluster
    * that wants the broadcast branch at big payloads raises
    * maxResultSize exactly as it provisions shuffle capacity (a
    * big-decade ScalingProbe run passes -Dspark.driver.maxResultSize=8g
    * for this reason). maxResultSize = 0 means
    * unlimited, so only the design cap applies there. */
  def broadcastBudget(s: SparkSession, designCap: Long): Long = {
    val maxResult = s.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult <= 0) designCap
    else math.min(designCap, maxResult * 3 / 5)
  }
}
