package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops._
import graft.plans.{QueryIntent, QuerySpec, RagPlans}

/** SURVEY §3's traced entry points, composed end-to-end as single Catalyst
  * plans — the lifecycle proof that the per-operator pieces compose the way
  * the reference's call chains do.
  *
  *  - §3.3 RAG read path: metadata filter → k-NN (k=20) → retrieval dedup
  *    (keep-first by rank) → time-decay rescore → top-8
  *    (rag_engine.py:184-253).
  *  - §3.2 consumer enrich path: id derivation → translate → sentiment →
  *    embed → coercion → upsert latest-wins
  *    (consumer.py:133-192).
  */
object PipelineQueries extends QueryPack {

  /** Fixed "query time" for the spec-driven RAG plans — the reference
    * reads the wall clock (rag_engine.py:158); a pinned epoch keeps the
    * plan deterministic and oracle-checkable. */
  private val NOW0 = 1700000000L

  /** The testdata embeddings table shaped as a [[RagPlans.StoreColumns]]
    * vector store: label becomes the ticker symbol, and rows are stamped
    * one 5-minute batch per 5 consecutive vec_ids walking back from NOW0
    * — so (ticker, ts) collisions exist and the retrieval dedup has real
    * work, mirroring the reference's re-indexed-document duplicates
    * (rag_engine.py:230-239). */
  private def vectorStore(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      col("embedding"),
      concat(lit("T"), col("label")).as("ticker"),
      (lit(NOW0) - (col("vec_id") - col("vec_id") % 5) * 60L).as("ts"))

  private def queryVec(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))

  /** [[vectorStore]] persisted as a TICKER-PARTITIONED parquet store
    * ([[graft.ops.DerivedStore]] staging, like the IVF index): the serve
    * layout for the RAG point-lookup shape. The inline frame derives
    * ticker as an expression, so a spec's ticker predicate can never
    * reach the parquet reader; the materialized layout turns the ticker
    * equality into DIRECTORY-level partition pruning — the difference
    * between scanning one ticker's files and the whole store at 100 TB.
    * The ts window is a parameter of the request's `RagSearchExec`, which
    * tests it per row over the route's prepared scan.
    * `rag_search_pipeline` stays on the inline frame (the honest
    * build-side price); `rag_query_spec` — the ticker-routed lookup —
    * serves from the store. */
  private val RAG_STORE_DIR = "/tmp/graft_rag_store"
  private val RAG_STORE_FINGERPRINT =
    s"ragstore:now=$NOW0:batch=5x60s:ticker=T+label:layout=partition-ticker"
  private[graft] def vectorStoreServed(s: SparkSession, dir: String): DataFrame =
    graft.ops.DerivedStore.load(
      s, RAG_STORE_DIR, dir, "embeddings.parquet", RAG_STORE_FINGERPRINT) { tmp =>
      graft.ops.DerivedStore.writePartitioned(
        vectorStore(s, dir), tmp, Seq("ticker"))
    }

  /** Oracle fragment of [[vectorStore]]. */
  private val STORE_SQL: String =
    s"""store AS (
       |  SELECT vec_id, embedding,
       |         'T' || CAST(label AS VARCHAR) AS ticker,
       |         $NOW0 - (vec_id - vec_id % 5) * 60 AS ts
       |  FROM embeddings)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- §3.3: the full RAG retrieval pipeline as ONE plan, driven by the
    //    typed QuerySpec surface (the router's output with the LLM front
    //    end stripped): REAL_TIME intent over the last ~400 minutes, no
    //    ticker clause — the reference's fallback route
    //    (rag_engine.py:138-145). --------------------------------------
    "rag_search_pipeline" -> ((s, dir) => {
      val spec = QuerySpec(
        ticker = None,
        start = NOW0 - 400L * 60L, end = NOW0,
        intent = QueryIntent.RealTime, now = NOW0)
      RagPlans.search(spec, queryVec(s, dir))(vectorStore(s, dir))
    }),

    // -- §3.3 variant: ticker-routed HISTORICAL query — decay OFF, pure
    //    semantic similarity (rag_engine.py:152-153), ticker equality
    //    prefilter (rag_engine.py:207-210). Same plan builder, different
    //    spec: the point of the QuerySpec surface. ----------------------
    "rag_query_spec" -> ((s, dir) => {
      val spec = QuerySpec(
        ticker = Some("T3"),
        start = NOW0 - 1200L * 60L, end = NOW0,
        intent = QueryIntent.Historical, now = NOW0)
      RagPlans.search(spec, queryVec(s, dir))(vectorStoreServed(s, dir))
    }),

    // -- §3.2: the full enrich/upsert pipeline as ONE plan -----------------
    "consumer_enrich_pipeline" -> ((s, dir) => {
      val enriched = Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(
          col("doc_id"),
          // F8 analog over document metadata
          concat(lit("DOC_"), col("lang"), lit("_"), col("doc_id")).as("id_raw"),
          EnrichOps.translateEn(col("text"), col("lang")).as("translated"),
          EnrichOps.sentimentScore(col("toks")).as("sentiment"),
          TextOps.qualityScore(col("text")).as("quality"),
          TextOps.polyHash(col("text")).as("fp"))
        .withColumn("store_id", col("doc_id") % 100)       // upsert key
      DedupOps.latestWins(                                  // V3 upsert
        enriched, id = col("store_id"),
        order = Seq(col("doc_id").desc))
        .select("store_id", "doc_id", "id_raw", "sentiment", "quality", "fp")
    }),

    // -- the full training-shard assembly as ONE plan: near-dup clusters
    //    → leakage-safe split → keep the train REPRESENTATIVE per cluster
    //    (doc_id == comp: split and dedup in one predicate) → per-source
    //    token-budget admission → greedy sequence packing. Every stage is
    //    a standalone registry operator (dedup_cluster_cc /
    //    split_leakage_safe / mix_token_budget / pack_sequences_greedy)
    //    and the composition reuses their private[graft] kernels, so the
    //    pipeline cannot drift from the pieces. Cluster labels read from
    //    the persisted label store (built by clusterLabelsStore, the CC
    //    cost lives in dedup_cluster_cc); the doc re-attach is a hash
    //    join on doc_id; admission and packing are one source-/shard-
    //    partitioned window each. ----------------------------------------
    "train_shard_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val train = TextQueries.clusterLabelsStore(s, dir)
        .filter(TextQueries.splitOf(col("comp")) === "train" &&
          col("doc_id") === col("comp"))
        .select("doc_id")
      val td = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(train, "doc_id")
      val admitted = MiningQueries.admitByBudget(td, "n_tokens")
        .select("doc_id", "source", "n_tokens")
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      admitted
        .withColumn("shard", col("doc_id") % ScaleQueries.SHARDS)
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("shard"),
          expr(s"cum_before div ${ScaleQueries.CTX}").as("seq_idx"),
          (col("cum_before") % ScaleQueries.CTX).as("offset"))
    })
  )

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"

  private def cosSql(a: String, b: String): String =
    s"CASE WHEN sqrt(${dotSql(a, a)}) = 0.0 OR sqrt(${dotSql(b, b)}) = 0.0 THEN 0.0 " +
      s"ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END"

  private def polySql(s: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT)), (acc, c) -> (acc * 31 + c) % ${TextOps.P})"

  private val VAL_SQL: String =
    EnrichOps.lexicon.foldRight("0.0") { case ((w, v), els) =>
      s"CASE WHEN t = '$w' THEN $v ELSE $els END"
    }

  /** Shared oracle chain: window/ticker filter → k-NN 20 → (ticker, ts)
    * keep-first dedup, parameterized by the spec's WHERE clause. */
  private def ragOracle(where: String, scoreSql: String): String =
    s"""WITH $STORE_SQL,
       |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |knn AS (
       |  SELECT vec_id, ticker, ts, 1.0 - ${cosSql("embedding", "q_emb")} AS dist
       |  FROM store, q WHERE $where
       |  ORDER BY dist, vec_id LIMIT 20
       |), deduped AS (
       |  SELECT vec_id, ticker, ts, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ticker, ts
       |                                 ORDER BY dist, vec_id) AS rn
       |    FROM knn
       |  ) WHERE rn = 1
       |), scored AS (
       |  SELECT vec_id, ticker, ts, dist, $scoreSql AS score
       |  FROM deduped
       |)
       |SELECT vec_id, ticker, ts, dist, score FROM scored
       |ORDER BY score DESC, vec_id LIMIT 8""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "rag_search_pipeline" -> ragOracle(
      where = s"ts BETWEEN ${NOW0 - 400L * 60L} AND $NOW0",
      scoreSql = graft.ops.Num.R6_SQL(
        s"0.6 * (1.0 - dist) + 0.4 * exp(-CAST(greatest($NOW0 - ts, 0) AS DOUBLE) / 14400.0)")),

    "rag_query_spec" -> ragOracle(
      where = s"ts BETWEEN ${NOW0 - 1200L * 60L} AND $NOW0 AND ticker = 'T3'",
      scoreSql = graft.ops.Num.R6_SQL("1.0 - dist")),

    "consumer_enrich_pipeline" ->
      s"""WITH enriched AS (
         |  SELECT doc_id,
         |         'DOC_' || lang || '_' || doc_id AS id_raw,
         |         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(string_split(text, ' '), t -> CAST($VAL_SQL AS DOUBLE)),
         |                     (acc, v) -> acc + v) AS s,
         |         0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
         |         + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |         + 0.3 * least(1.0, CAST(length(text) AS DOUBLE) / 400.0) AS quality,
         |         ${polySql("text")} AS fp,
         |         doc_id % 100 AS store_id
         |  FROM documents
         |)
         |SELECT store_id, doc_id, id_raw, s / sqrt(s * s + 15.0) AS sentiment, quality, fp
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY store_id ORDER BY doc_id DESC) AS rn
         |  FROM enriched
         |) WHERE rn = 1""".stripMargin,

    "train_shard_pipeline" ->
      s"""WITH RECURSIVE ${TextQueries.CC_CTES},
         |train AS (
         |  SELECT doc_id FROM comp
         |  WHERE doc_id = comp AND ${TextQueries.SPLIT_SQL("comp")} = 'train'
         |), td AS (
         |  SELECT d.doc_id, d.source,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |         ${TextOps.SAMPLE_KEY_SQL("d.doc_id")} AS h
         |  FROM documents d JOIN train USING (doc_id)
         |), adm AS (
         |  SELECT doc_id, source, n_tokens FROM (
         |    SELECT doc_id, source, n_tokens,
         |           CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |    FROM td
         |  ) WHERE cum_tokens <= ${MiningQueries.BUDGET}
         |), packed AS (
         |  SELECT doc_id, source, n_tokens, doc_id % ${ScaleQueries.SHARDS} AS shard,
         |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % ${ScaleQueries.SHARDS} ORDER BY doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM adm
         |)
         |SELECT doc_id, source, n_tokens, shard,
         |       cum_before // ${ScaleQueries.CTX} AS seq_idx,
         |       cum_before % ${ScaleQueries.CTX} AS offset
         |FROM packed""".stripMargin
  )
}
