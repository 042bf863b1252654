package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, FilterOps}

/** Systematic batch↔streaming parity sweep (the r10 hardening item):
  * every reusable stateful transform family — A3 latest-wins, T2
  * first-occurrence dedup, T4 retention, V3 vector upsert, and the IVF
  * index maintainer — is driven through a REAL MemoryStream +
  * foreachBatch fold over a chunked fixture, and the final store must
  * equal the REGISTRY query's batch answer on the same fixture
  * (registry-driven, like RegistrySweep: the reference answer is
  * `SparkEntry.queries(name)`, the exact frame the DuckDB oracle
  * checks, so streaming parity chains to oracle parity).
  *
  * Why folding is exact, not approximate: each family's merge is
  * associative-by-key over a TOTAL per-key order (latest-wins and
  * keep-first tie-break on unique ids), and retention's cutoff — the
  * running max event time — only GROWS as batches arrive, so an early
  * deletion (small cutoff) is always a subset of the batch answer's
  * deletions and survivors are re-filtered at the final fold with the
  * global cutoff. No tolerance, bit-equal JSON comparison.
  *
  * Deliberately NOT in this sweep: the COMPOSITE `StreamOps.upsertBatch`
  * (latest-wins + retention fused per batch, one `UpsertMerge` node). Its
  * interleaved deletions are true state transitions, not a pure fold:
  * once retention deletes an id's then-latest row (another id's newer
  * arrival having raised the cutoff past it), a later-arriving OLDER row
  * of the same id wins latest-wins against an empty store — where the
  * one-shot batch would have discarded it against the (also-deleted)
  * newer row. That divergence is the SEMANTIC of an upsert store under
  * retention, so its contract is row-for-row equality with the composed
  * window + retention reference per batch, split-independence while
  * retention deletes nothing (UpsertPropertySpec), and replay-idempotence
  * (StreamingSpec's T3/V3/T4 test) — while its two constituent laws ARE
  * fold-exact and sweep-verified here.
  */
class StreamingParitySpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"
  private val CHUNKS = 3

  /** Canonical row-set serialization (column-sorted, row-sorted JSON). */
  private def canon(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .toJSON.collect().sorted.toSeq

  /** Feed `fixture` through a MemoryStream in CHUNKS deterministic
    * micro-batches (hash of `chunkKey`), folding `merge` in
    * foreachBatch; returns the final store. JSON is the generic row
    * transport: any fixture schema round-trips through its own
    * to_json/from_json, so one driver serves every family. */
  private def streamFold(fixture: DataFrame, chunkKey: Column)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val schema = fixture.schema
    val chunks: Seq[Seq[String]] = fixture
      .withColumn("__c", pmod(xxhash64(chunkKey), lit(CHUNKS)))
      .select(col("__c"),
        to_json(struct(fixture.columns.map(col).toIndexedSeq: _*)).as("j"))
      .collect().groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getString(1)).toSeq)
    assert(chunks.size > 1, "fixture must split into multiple micro-batches")
    val in = MemoryStream[String]
    var store = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val q = in.toDF()
      .select(from_json(col("value"), schema).as("m")).select("m.*")
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        // materialize: the batch frame is only valid inside this call
        store = merge(store, b).localCheckpoint()
        ()
      }.start()
    try chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    store
  }

  private def events = graft.model.Tables.events(spark, sf)
  private def emb = graft.model.Tables.embeddings(spark, sf)

  /** One parity family: fixture + the shared-op fold step + the registry
    * query whose batch answer the streamed store must equal. */
  private case class Family(
      registryName: String,
      fixture: () => DataFrame,
      chunkKey: Column,
      outCols: Seq[String],
      merge: (DataFrame, DataFrame) => DataFrame)

  private val families = Seq(
    Family("dedup_latest_wins",
      () => events.withColumn("id", col("event_id") % 1000),
      col("event_id"),
      Seq("id", "event_id", "user_id", "ts", "value"),
      (s, b) => DedupOps.latestWins(s.unionByName(b),
        id = col("id"), order = Seq(col("ts").desc, col("event_id").desc))),
    Family("stream_dedup_state",
      () => events.withColumn("id", col("event_id") % 500),
      col("event_id"),
      Seq("id", "event_id", "user_id", "ts", "value"),
      (s, b) => DedupOps.keepFirst(s.unionByName(b),
        keys = Seq(col("id")), order = Seq(col("ts"), col("event_id")))),
    Family("retention_ttl",
      () => events,
      col("event_id"),
      Seq("event_id", "user_id", "ts", "event_type", "value"),
      (s, b) => FilterOps.retentionDelete(s.unionByName(b),
        col("event_type"), "click", col("ts"), 20)),
    Family("upsert_vectors",
      () => emb.withColumn("id", col("vec_id") % 100),
      col("vec_id"),
      Seq("id", "vec_id", "label"),
      (s, b) => DedupOps.latestWins(s.unionByName(b),
        id = col("id"), order = Seq(col("vec_id").desc))))

  families.foreach { f =>
    test(s"${f.registryName}: MemoryStream foreachBatch fold == registry batch answer") {
      val streamed = streamFold(f.fixture(), f.chunkKey)(f.merge)
        .select(f.outCols.map(col).toIndexedSeq: _*)
      val batch = SparkEntry.queries(f.registryName)(spark, sf)
        .select(f.outCols.map(col).toIndexedSeq: _*)
      val (got, want) = (canon(streamed), canon(batch))
      assert(got.size == want.size,
        s"${f.registryName}: ${got.size} streamed rows vs ${want.size} batch rows")
      assert(got == want, s"${f.registryName}: streamed store diverges from batch")
    }
  }

  test("IVF maintainer: chunked streaming maintenance == one-shot batch maintenance") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // Synthetic assignment rows (vec_id, s, code, c_id): each vector in
    // exactly one chunk — the one-assignment-per-vector contract under
    // which sequential upserts and a single combined upsert agree.
    val assigns = emb.select(col("vec_id"),
      (col("vec_id") % 2).cast("int").as("s"),
      (col("vec_id") % 7).as("code"),
      (col("vec_id") % 5).as("c_id"))
    val chunk = pmod(xxhash64(col("vec_id")), lit(3))
    val seed = assigns.filter(chunk === 0)
    val later = assigns.filter(chunk =!= 0)

    def seeded(): String = {
      val dir = Files.createTempDirectory("graft_parity_ivf").toString + "/store"
      seed.write.partitionBy("c_id").parquet(dir)
      dir
    }

    // Path A: the two remaining chunks arrive as separate micro-batches
    // through a real MemoryStream, foreachBatch calling the maintainer.
    val dirA = seeded()
    val in = MemoryStream[(Long, Int, Long, Long)]
    val q = in.toDF().toDF("vec_id", "s", "code", "c_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.streaming.StreamOps.ivfMaintainBatch(spark, dirA, b, id)
        ()
      }.start()
    try {
      Seq(1, 2).foreach { c =>
        val rows = later.filter(chunk === c)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        in.addData(rows.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // Path B: the same rows in ONE maintenance batch on a fresh seed.
    val dirB = seeded()
    assert(graft.streaming.StreamOps.ivfMaintainBatch(spark, dirB, later, 1L))
    // Replay: re-applying an already-applied batch id must be a no-op.
    assert(!graft.streaming.StreamOps.ivfMaintainBatch(spark, dirB, later, 1L))

    def storeRows(d: String) = canon(spark.read.parquet(d)
      .select(col("vec_id"), col("s"), col("code"), col("c_id").cast("long")))
    assert(storeRows(dirA) == storeRows(dirB),
      "chunked maintenance diverged from one-shot maintenance")
    // ...and both equal the full assignment set (every vector stored once)
    assert(storeRows(dirA) == canon(assigns),
      "maintained store diverged from the full assignment table")
  }
}
