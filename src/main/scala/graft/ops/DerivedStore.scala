package graft.ops

import java.io.File
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once/serve-many staging for DERIVED parquet tables (near-dup
  * pair graph, cluster labels, IVF+PQ index, BM25 score table): the
  * industrial shape where an expensive index/materialization is built
  * once per corpus snapshot and every downstream consumer reads the
  * store instead of re-running the build.
  *
  * Two production concerns the naive `mode("overwrite")`-into-a-fixed-
  * path pattern gets wrong, both fixed here:
  *
  *  1. '''Logic staleness.''' A store keyed only on the SOURCE mtime
  *     silently serves stale data when the build LOGIC changes (new
  *     tokenizer, different banding constants) without the data
  *     changing — the store and an inline oracle then split. Every
  *     store path embeds a caller-supplied `fingerprint` of the build
  *     constants, so a logic change lands in a fresh directory and the
  *     old materialization can never be served for the new logic.
  *
  *  2. '''Publish atomicity.''' Overwriting the serve path in place
  *     races concurrent readers (a reader can hold a footer of the old
  *     file set while the writer deletes it). Builds here write to a
  *     session-private temp dir and PUBLISH with a single directory
  *     rename — atomic on a POSIX filesystem, and the pattern object
  *     stores/HDFS emulate with a versioned-directory pointer. A
  *     racing builder that loses the rename simply discards its temp
  *     and serves the winner's identical output (the build is a pure
  *     function of source + fingerprint).
  *
  * The version directory is `v_<fp>_m<srcMtime>`: source regeneration
  * changes the mtime component, logic changes the fingerprint
  * component, and either lands in a new directory — staleness becomes
  * a pure existence check and a published version is immutable.
  * Superseded versions are garbage-collected best-effort (open handles
  * keep a concurrent reader safe on POSIX).
  *
  * '''Relation cache.''' [[load]] returns the RESOLVED relation of the
  * published version and reuses it across a session's queries: a fresh
  * `read.parquet` re-lists every partition directory and runs a
  * schema-inference job, which on the RAG point lookup cost about a
  * quarter of the request. The cache follows `Tables.scanCache`: weakly
  * keyed by session, one entry per (store root, SF) holding only the
  * latest version. An entry is reused only while its version path AND
  * the stamp of the version's marker files — `fileKey` plus mtime of
  * `_SUCCESS`, and of `_MAINT` when present — still match. A
  * delete-and-rebuild at the same version path writes a new `_SUCCESS`;
  * in-place `StreamOps.ivfMaintainBatch` maintenance renames a new
  * `_MAINT` into place. Either changes the stamp, so the next `load`
  * re-resolves instead of serving a stale file listing. A build in this
  * process always replaces the entry.
  */
object DerivedStore {

  /** Compact-write a FLAT derived table (no partition columns): one
    * materialized execution (localCheckpoint), then a measured row count
    * sizes the output at `rowsPerFile` rows a file. Derived tables are
    * fixed-width and ≪ corpus, but a build that inherits the session's
    * full shuffle parallelism writes one near-empty file per partition —
    * and every consumer scan then pays one task launch per file, because
    * Spark's split packing can't bin tiny files together once
    * bytesPerCore shrinks the target split below the per-file open cost
    * (profiled: the 32-file pair store cost pagerank_canonical 64 scan
    * tasks per run for 396 KB of data). 4M fixed-width rows ≈ 64 MB a
    * file — the same sizing as GraphOps.LOOP_ROWS_PER_PARTITION — so a
    * 100 TB corpus's pair store still fans out to many files while a
    * test-SF store compacts to one. Partitioned stores (IVF index, RAG
    * store) keep their own partitionBy layout — directory pruning is
    * their read-path contract. */
  def compactWrite(df: org.apache.spark.sql.DataFrame, tmp: String,
                   rowsPerFile: Long = 4000000L): Unit = {
    val out = df.localCheckpoint()
    try {
      val files = math.max(1L, (out.count() + rowsPerFile - 1) / rowsPerFile)
      out.coalesce(files.toInt).write.parquet(tmp)
    } finally {
      // The checkpoint exists only to bridge count → write; left persisted
      // it would pin the whole derived table in executor storage for the
      // session's lifetime (the leaked-cache heap-pressure class Bench's
      // dropCachedBlocks exists to clear — but a session outside the
      // harnesses never calls that). releaseQuiet, not Dataset.unpersist: the
      // latter is a no-op for a localCheckpoint (see SessionOps).
      SessionOps.releaseQuiet(out)
    }
  }

  /** Partitioned-layout store writer with a zero-row fallback. A
    * `partitionBy` write of an EMPTY DataFrame produces only `_SUCCESS` —
    * no data file, so no parquet footer — and every later
    * `read.parquet(path)` dies with UNABLE_TO_INFER_SCHEMA. Empty inputs
    * are routine at scale (a filtered-out shard, a snapshot a source
    * contributed nothing to), so the store must stay READABLE: when the
    * partitioned write leaves no partition directory behind, rewrite the
    * store as a single footer-only FLAT file. The partition columns then
    * survive as ordinary columns in the footer schema, so consumers'
    * partition-key filters still bind — they just have an empty, unpruned
    * (and zero-cost) scan instead of a directory tree. The non-empty path
    * is byte-identical to a plain partitionBy write. */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, path: String,
                       partitionCols: Seq[String],
                       overwrite: Boolean = false): Unit = {
    val w = df.write.partitionBy(partitionCols: _*)
    (if (overwrite) w.mode("overwrite") else w).parquet(path)
    val wroteData = Option(new File(path).listFiles())
      .getOrElse(Array.empty[File]).exists(_.isDirectory)
    if (!wroteData)
      df.limit(0).coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Max mtime over the source table directory (file writes inside the
    * dir may not bump the dir's own mtime on all filesystems). */
  private[graft] def sourceMtime(sourceTable: File): Long =
    Option(sourceTable.listFiles())
      .map(_.map(_.lastModified()).foldLeft(sourceTable.lastModified())(math.max))
      .getOrElse(sourceTable.lastModified())

  /** Short stable digest of the build-constants string. */
  private[graft] def digest(fingerprint: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(fingerprint.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** A resolved relation of one published version, with the marker
    * stamp it was resolved under. */
  private final case class Resolved(version: String,
                                    stamp: Seq[(String, AnyRef, FileTime)],
                                    df: DataFrame)

  /** The latest resolved relation per (session, SF store directory). */
  private val relationCache = new SessionOps.PerSession[String, Resolved]

  /** What a reader can tell of a version's contents without listing it:
    * (`fileKey`, mtime) of each marker file present. */
  private def stamp(version: File): Seq[(String, AnyRef, FileTime)] =
    Seq("_SUCCESS", "_MAINT").flatMap { m =>
      try {
        val a = Files.readAttributes(new File(version, m).toPath,
          classOf[BasicFileAttributes])
        Some((m, a.fileKey(), a.lastModifiedTime()))
      } catch { case _: NoSuchFileException => None }
    }

  /** [[serve]], then the published version as a relation resolved once
    * per session (see "Relation cache" above). Parameters as [[serve]]. */
  def load(spark: SparkSession, storeRoot: String, dir: String,
           sourceTable: String, fingerprint: String)(
      build: String => Unit): DataFrame = {
    val (path, built) = publish(storeRoot, dir, sourceTable, fingerprint)(build)
    val sfRoot = new File(path).getParent
    val perSession = relationCache(spark)
    // Stamp BEFORE resolving: a marker that changes in between leaves the
    // entry with the older stamp, so the next load re-resolves.
    val st = stamp(new File(path))
    perSession.get(sfRoot) match {
      case Some(r) if !built && r.version == path && r.stamp == st => r.df
      case _ =>
        val df = spark.read.parquet(path)
        perSession.put(sfRoot, Resolved(path, st, df))
        df
    }
  }

  /** Serve the derived table rooted at `storeRoot/<sf>/`, building it
    * first if no published version matches (fingerprint, source mtime).
    * `build` writes the table to the temp path it is given (caller
    * controls the writer — partitioning columns, formats). Returns the
    * published version path to read.
    *
    * @param storeRoot   per-table staging root (e.g. /tmp/graft_neardup_pairs)
    * @param dir         the testdata SF dir (store is SF-suffixed)
    * @param sourceTable file name of the source table the build reads
    *                    (e.g. "documents.parquet") — its mtime keys the
    *                    data-staleness component
    * @param fingerprint string of every constant the build depends on
    *                    (thresholds, band counts, tokenizer version) —
    *                    keys the logic-staleness component
    */
  def serve(storeRoot: String, dir: String, sourceTable: String,
            fingerprint: String)(build: String => Unit): String =
    publish(storeRoot, dir, sourceTable, fingerprint)(build)._1

  /** [[serve]]'s body: the published version path, and whether this call
    * built it. */
  private def publish(storeRoot: String, dir: String, sourceTable: String,
                      fingerprint: String)(
      build: String => Unit): (String, Boolean) = {
    val sfRoot = new File(s"$storeRoot/${dir.split('/').last}")
    val src = new File(s"$dir/$sourceTable")
    val version = s"v_${digest(fingerprint)}_m${sourceMtime(src)}"
    val published = new File(sfRoot, version)
    val built = !new File(published, "_SUCCESS").exists()
    if (built) {
      sfRoot.mkdirs()
      val tmp = new File(sfRoot, s".tmp_${version}_${java.util.UUID.randomUUID().toString.take(8)}")
      build(tmp.getAbsolutePath)
      // Atomic publish; a lost race means a concurrent builder already
      // published the identical version — discard ours and serve theirs.
      if (!tmp.renameTo(published)) {
        deleteRecursively(tmp)
        require(new File(published, "_SUCCESS").exists(),
          s"store publish failed and no concurrent winner at $published")
      }
      // GC, best-effort (non-fatal failures ignored; fatal ones propagate):
      //  - superseded versions: keep the single most RECENT one as a
      //    grace window — Spark plans lazily and opens no file handle
      //    until action time, so a DataFrame built against the old
      //    version would break if its directory vanished before its
      //    first action; one published generation of grace covers that
      //    window, and everything older goes.
      //  - orphaned .tmp_* left by crashed builders: reclaimed once
      //    they have been cold for an hour (no live builder writes for
      //    an hour), so repeated crashes can't accumulate full-size
      //    partial copies forever.
      val entries = Option(sfRoot.listFiles()).getOrElse(Array.empty)
      entries
        .filter(f => f.getName.startsWith("v_") && f.getName != version)
        .sortBy(-_.lastModified())
        .drop(1)
        .foreach(f => try deleteRecursively(f) catch { case NonFatal(_) => })
      entries
        .filter(f => f.getName.startsWith(".tmp_") &&
          f.lastModified() < System.currentTimeMillis() - 3600000L)
        .foreach(f => try deleteRecursively(f) catch { case NonFatal(_) => })
    }
    (published.getAbsolutePath, built)
  }
}
