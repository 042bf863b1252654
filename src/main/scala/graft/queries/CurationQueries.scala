package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.CosineSimilarity.cosineSim
import graft.model.Tables
import graft.ops.{TextOps, VectorOps}

/** Corpus-curation operators (round-4 superset): the steps a training-data
  * pipeline runs between raw ingestion and tokenization that the earlier
  * dedup/ANN/text families don't cover —
  *
  *   - benchmark decontamination (n-gram overlap against a held-out set),
  *   - repetition-based quality filters (the Gopher-style ratios),
  *   - per-source balancing (deterministic cap per domain),
  *   - sliding-window chunking (the RAG/context-window splitter),
  *   - semantic dedup (SemDeDup shape: cluster, then pairwise only
  *     within a cell),
  *   - int8 embedding quantization (the storage/serve-side compression).
  *
  * Scale notes: decontamination is an equi-join on shingle hash (shuffle
  * keyed by hash, partial-agg counts — never a per-doc scan of the
  * benchmark); the quality ratios and chunker are pure map-side
  * expressions; the source cap and cell-pairwise dedup ride the fused
  * partial top-k / banded-join shapes established by the earlier packs.
  * All floating-point follows [[graft.ops.Num]]'s cross-engine rules:
  * single-expression IEEE arithmetic only, no reordered accumulation.
  */
object CurationQueries extends QueryPack {

  /** Benchmark membership: every 97th document is the held-out eval set. */
  private[graft] val BENCH_MOD = 97L

  /** Per-source document cap for the balancing sampler. */
  private[graft] val SOURCE_CAP = 15

  /** Within-cell cosine threshold for semantic dedup (picked against the
    * synthetic embeddings so drops actually occur at test SF). */
  private val SEM_T = 0.3

  /** Chunker geometry: 16-token windows every 8 tokens (50% overlap). */
  private val CHUNK = 16
  private val STRIDE = 8

  /** The Gopher stopword list (Rae et al. 2021 §A1.1: "contains at least
    * two of the following English words: the, be, to, of, and, that,
    * have, with"), plus the indefinite article the paper's prose variant
    * includes. Shared by the Spark gate and its oracle. */
  private val GOPHER_STOPS = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  // ---- oracle fragments --------------------------------------------------

  private def polySql(s: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT)), (acc, c) -> (acc * 31 + c) % ${TextOps.P})"

  /** Distinct word-3-gram shingle hashes per document — the same kernel
    * (and the same SQL) as dedup_shingle_jaccard, but WITHOUT the >=3-token
    * filter: short documents carry an empty shingle list and simply cannot
    * collide. */
  private val SHINGLE_CTE =
    s"""sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
       |                       i -> ${polySql("array_to_string(string_split(text, ' ')[i:i+2], ' ')")})) AS sh
       |  FROM documents
       |)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"

  private def cosSql(a: String, b: String): String =
    s"CASE WHEN sqrt(${dotSql(a, a)}) = 0.0 OR sqrt(${dotSql(b, b)}) = 0.0 THEN 0.0 " +
      s"ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END"

  /** Nearest-centroid cell assignment over the deterministic, bounded
    * vec_id%50 codebook (capped at VectorQueries.IVF_SEED_CAP) —
    * identical formulation to ann_ivf_probe's assign CTE. */
  private val ASSIGN_CTE =
    s"""cents AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < ${VectorQueries.IVF_SEED_CAP}
       |), assign AS (
       |  SELECT vec_id, embedding, c_id FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id) AS rn
       |    FROM embeddings e, cents c
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** Adds `n_tokens`, `top_unigram_frac`, `top_bigram_frac` — the Gopher-
    * style repetition statistics. Pure map-side; shared by
    * quality_repetition and the composed curation pipeline.
    *
    * Built on the native single-loop kernel
    * [[graft.expressions.TextHash.repetitionStats]] (bit-equal to the
    * HOF chain `maxFreq(toks)` / `maxFreq(bigrams(toks))`, spec'd in
    * TextOpsSpec). The HOF forms were the pipeline hotspot twice over:
    * count-per-distinct was O(n·distinct) with re-split per index
    * (150 s / 5 k docs), and even the sorted-run form paid an
    * interpreted array_sort+fold PER REFERENCE once Catalyst inlined
    * the quality filter's predicate (3.9 s). The native kernel is a
    * microsecond loop per evaluation, so optimizer duplication is
    * harmless. */
  private def withRepetitionStats(df: DataFrame): DataFrame = {
    val rs = graft.expressions.TextHash.repetitionStats(col("text"))
    df.withColumn("n_tokens", rs.getField("n_tokens"))
      .withColumn("top_unigram_frac",
        rs.getField("top_uni").cast("double") / rs.getField("n_tokens").cast("double"))
      .withColumn("top_bigram_frac",
        when(rs.getField("n_tokens") >= 2,
          rs.getField("top_bi").cast("double") /
            (rs.getField("n_tokens") - 1).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Training docs sharing at least one shingle hash with the held-out
    * benchmark set — the decontamination drop list. */
  private def contaminatedIds(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir).select(
      col("doc_id"),
      graft.expressions.TextHash.shingleHashes(col("text")).as("sh"))
    val benchHashes = sh.filter(col("doc_id") % BENCH_MOD === 0)
      .select(explode(col("sh")).as("h")).distinct()
    sh.filter(col("doc_id") % BENCH_MOD =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .join(benchHashes, "h")
      .select("doc_id").distinct()
  }

  // ---- registry ----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- benchmark decontamination: flag training docs sharing any word-
    //    3-gram with the held-out set. The join key is the shingle HASH
    //    (8-byte long), so at 100 TB this is a hash-partitioned equi-join
    //    between (train doc, shingle) pairs and the much smaller distinct
    //    benchmark-shingle set — Spark broadcasts it while it fits and
    //    degrades to a shuffle join when it doesn't; either way no
    //    all-pairs doc comparison ever happens. n_hits aggregates with
    //    map-side combine; the final left join re-attaches clean docs. ----
    "decontaminate_ngram" -> ((s, dir) => {
      val sh = docs(s, dir).select(
        col("doc_id"),
        graft.expressions.TextHash.shingleHashes(col("text")).as("sh"))
      val benchHashes = sh.filter(col("doc_id") % BENCH_MOD === 0)
        .select(explode(col("sh")).as("h")).distinct()
      val train = sh.filter(col("doc_id") % BENCH_MOD =!= 0)
      val hits = train.select(col("doc_id"), explode(col("sh")).as("h"))
        .join(benchHashes, "h")
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("h")).as("hits"))
      train.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("hits"), lit(0L)).as("n_hits"),
          (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
    }),

    // -- Gopher-style repetition filters: fraction of tokens claimed by
    //    the most frequent unigram / bigram, plus the keep verdict. Pure
    //    map-side HOF expressions — O(n·distinct) per document over ~50-
    //    token docs, embarrassingly parallel, zero shuffle at any scale.
    //    Ratios are single IEEE divisions of exact integer counts, so the
    //    oracle matches bit-for-bit. ---------------------------------------
    "quality_repetition" -> ((s, dir) => {
      withRepetitionStats(docs(s, dir))
        .select(
          col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("top_unigram_frac"), col("top_bigram_frac"),
          (col("top_unigram_frac") <= 0.3 && col("top_bigram_frac") <= 0.18).as("keep"))
    }),

    // -- Gopher-style rule filter: the published heuristic gate ------------
    // The rule family from the Gopher/MassiveText quality filter (Rae et
    // al. 2021 §A1.1), thresholds tuned to the testdata's ~54-token docs:
    // word count in [10, 200]; mean word length in [2, 8]; distinct-token
    // ratio ≥ 0.3 (the repetition guard); ≥ 2 hits from the canonical
    // stopword list (real text contains function words; generated noise
    // often doesn't). Every PASS decision is integer arithmetic
    // (2n ≤ Σlen ≤ 8n instead of float mean bounds), so the gate is
    // engine-exact with no quantization; the reported ratios are single
    // exact IEEE divisions. Pure map-side expressions — one scan, zero
    // shuffle, codegen'd end to end; at 100 TB this is the gate that runs
    // FIRST, before any pairwise machinery, so single-pass matters. ------
    "quality_gopher_rules" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val stops = array(GOPHER_STOPS.map(lit): _*)
      docs(s, dir)
        .withColumn("ts", toks)
        .withColumn("n", size(col("ts")))
        .withColumn("sum_len",
          aggregate(col("ts"), lit(0L), (acc, x) => acc + length(x)))
        .withColumn("n_distinct", size(array_distinct(col("ts"))))
        .withColumn("n_stop",
          size(array_intersect(array_distinct(col("ts")), stops)).cast("long"))
        .select(
          col("doc_id"),
          col("n").cast("long").as("n_words"),
          (col("sum_len").cast("double") / col("n")).as("mean_word_len"),
          (col("n_distinct").cast("double") / col("n")).as("distinct_ratio"),
          col("n_stop"),
          (col("n").between(10, 200) &&
            col("sum_len") >= col("n") * 2 && col("sum_len") <= col("n") * 8 &&
            col("n_distinct") * 10 >= col("n") * 3 &&
            col("n_stop") >= 2).as("passes"))
    }),

    // -- per-source balancing: keep at most SOURCE_CAP docs per source,
    //    chosen by a deterministic hash order (so the sample is stable
    //    across runs and engines). Rides the fused partial top-k — each
    //    partition keeps a cap-sized heap per source before the shuffle,
    //    so a 100 TB source with billions of docs still moves only
    //    O(partitions·cap) rows, never the source's whole row set. --------
    "source_cap_sample" -> ((s, dir) => {
      val h = TextOps.sampleKey(col("doc_id"))
      val ranked = docs(s, dir).select(col("doc_id"), col("source"), h.as("h"))
      VectorOps.topKPerQuery(
        ranked, col("source"), Seq(col("h"), col("doc_id")), k = SOURCE_CAP)
        .select("source", "doc_id")
    }),

    // -- curriculum interleave: the training-ORDER construction step.
    //    Rank each source's docs by quality (proxy: n_chars desc — swap in
    //    any scored column) and let shard k hold every source's k-th best:
    //    reading shards in order yields best-first curriculum WITH
    //    round-robin source mixing (no source ever streaks). One
    //    row_number window per source — shuffle keyed by source, never a
    //    global total-order sort; the global read order (shard_id, source)
    //    is imposed by the downstream writer's partitioning, not a
    //    single-partition window. -----------------------------------------
    "curriculum_interleave" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars").as("score"),
          (row_number().over(w) - 1).cast("long").as("shard_id"))
    }),

    // -- sliding-window chunking: 16-token windows every 8 tokens, the
    //    context-window splitter every RAG/pretraining pipeline runs.
    //    sequence → slice → posexplode, entirely codegen'd map-side
    //    expressions; a document's chunks never leave its partition. ------
    "chunk_sliding_window" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(1), size(toks), lit(STRIDE)),
            st => array_join(slice(toks, st, lit(CHUNK)), " "))).as(Seq("chunk_idx", "chunk_text")))
        .select(
          col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"),
          size(split(col("chunk_text"), " ")).cast("long").as("n_chunk_tokens"))
    }),

    // -- semantic dedup (SemDeDup shape): assign every vector to its
    //    nearest codebook cell, compare pairs ONLY within a cell, drop the
    //    higher id of any pair above the threshold. The cell id bounds the
    //    quadratic term to cell populations — the clustering IS the
    //    blocking, which is the published SemDeDup recipe and the only
    //    shape that survives a 100 TB embedding table (the exact variant,
    //    dedup_embedding_cosine, is the correctness baseline). ------------
    "semantic_dedup_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < VectorQueries.IVF_SEED_CAP)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      // assign feeds three consumers (both self-join sides + the verdict
      // join); materialize it once so the vectors×centroids assignment
      // subtree doesn't execute three times per run.
      val assign = VectorOps.topKPerQuery(
        e.crossJoin(broadcast(cents))
          .withColumn("csim", cosineSim(col("embedding"), col("c_emb"))),
        col("vec_id"), Seq(col("csim").desc, col("c_id")), k = 1)
        .select(col("vec_id"), col("embedding"), col("c_id"))
        .localCheckpoint()
      val a = assign.select(col("c_id"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
      val b = assign.select(col("c_id"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"))
      val dropped = a.join(b, Seq("c_id"))
        .filter(col("a_id") < col("b_id") &&
          cosineSim(col("a_emb"), col("b_emb")) >= SEM_T)
        .select(col("b_id").as("vec_id")).distinct()
      assign.join(dropped.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"), col("dropped").isNull.as("kept"))
    }),

    // -- the whole curation pass as ONE composed plan: repetition-quality
    //    filter -> benchmark decontamination -> exact dedup (min-id rep
    //    carries its row via a struct-min partial agg, no re-join) ->
    //    deterministic per-source cap. This is the §3-style lifecycle
    //    demonstration for the curation family: every stage is the
    //    individually-verified operator, fused into a single DAG Catalyst
    //    optimizes end-to-end (the quality filter prunes before the
    //    decontamination join; the dedup agg is map-side partial; the cap
    //    rides the fused top-k). ------------------------------------------
    "corpus_curation_pipeline" -> ((s, dir) => {
      val quality = withRepetitionStats(docs(s, dir))
        .filter(col("top_unigram_frac") <= 0.3 && col("top_bigram_frac") <= 0.18)
        .filter(col("doc_id") % BENCH_MOD =!= 0)
      val clean = quality.join(contaminatedIds(s, dir), Seq("doc_id"), "left_anti")
      val deduped = clean
        .groupBy(col("text"))
        .agg(min(struct(col("doc_id"), col("source"), col("lang"),
          col("n_tokens").cast("long").as("n_tokens"))).as("keep"))
        .select(col("keep.doc_id"), col("keep.source"), col("keep.lang"),
          col("keep.n_tokens"))
      val h = TextOps.sampleKey(col("doc_id"))
      VectorOps.topKPerQuery(
        deduped.withColumn("h", h), col("source"), Seq(col("h"), col("doc_id")),
        k = SOURCE_CAP)
        .select("doc_id", "source", "lang", "n_tokens")
    }),

    // -- weighted sampling (Efraimidis-Spirakis A-Res): keep the 100 docs
    //    with the largest ln(u)/w keys, where u is a deterministic
    //    per-doc uniform and w the token count — longer docs proportionally
    //    likelier, sample stable across runs AND engines (the ln is 1e-6
    //    floor-quantized, the same parity rule text_tfidf_top_terms uses).
    //    At scale this is one map-side key computation + a global top-k
    //    (TakeOrdered), never a sort of the corpus. -------------------------
    "sample_weighted" -> ((s, dir) => {
      val u = (TextOps.sampleKey(col("doc_id")) + 1L)
        .cast("double") / lit(1000000007.0)
      val w = size(TextOps.tokens(col("text"))).cast("double")
      docs(s, dir)
        .withColumn("skey", graft.ops.Num.r6(log(u) / w))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("source"), col("skey"))
    }),

    // -- column profiler: the data-quality summary every curation
    //    pipeline runs before training (row counts, null counts, distinct
    //    cardinalities, min/max/mean per numeric column). One aggregate
    //    PER COLUMN, unioned (r15 — see the in-body rationale): the
    //    single-pass three-distinct form planned an Expand (3× the rows)
    //    with one combined dedup exchange, the shape that neither
    //    parallelizes locally nor scales (every distinct set through one
    //    exchange); per-column two-phase distincts dedup keyed by the
    //    value at full width, and the scan is shared via exchange reuse.
    //    Means are decimal-accumulated sums divided once (Num's parity
    //    rules); distincts are exact here, with approx_count_distinct as
    //    the stated 100 TB swap-in. ---------------------------------------
    "profile_columns" -> ((s, dir) => {
      // One aggregate per profiled column, unioned — NOT one aggregate
      // with three count_distincts (r15, guide §2.4): multiple distinct
      // aggregates plan as an Expand (3× the scan's rows) whose one
      // combined dedup exchange AQE byte-coalesces to a SINGLE partition
      // — profiled at sf0.1 as a 2.9 s single-task stage holding every
      // distinct set at once. Per-column aggregates each plan the
      // expand-free two-phase distinct (dedup keyed BY THE VALUE at full
      // width — the shape that scales), the three branches share the
      // scan via reuse and run concurrently inside one job, and the
      // result rows are identical (same stats, same casts — the oracle
      // is itself a UNION ALL of per-column SELECTs).
      val ev = Tables.events(s, dir)
      def prof(c: String, sumType: org.apache.spark.sql.types.DataType) =
        ev.agg(
          count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          count_distinct(col(c)).as("n_distinct"),
          min(col(c)).as("mn"), max(col(c)).as("mx"),
          sum(col(c).cast(sumType)).as("sm"))
          .select(lit(c).as("col_name"), col("n"), col("n_null"),
            col("n_distinct"),
            col("mn").cast("double").as("min_d"),
            col("mx").cast("double").as("max_d"),
            (col("sm").cast("double") /
              (col("n") - col("n_null")).cast("double")).as("mean_d"))
      prof("value", org.apache.spark.sql.types.DecimalType(27, 2))
        .unionByName(prof("user_id", org.apache.spark.sql.types.DecimalType(38, 0)))
        .unionByName(prof("event_id", org.apache.spark.sql.types.DecimalType(38, 0)))
    }),

    // -- int8 embedding quantization: per-vector max-abs scale, symmetric
    //    127-step grid — the storage layout ANN serving actually reads.
    //    Map-side only. The scale is an order-insensitive max (exact), the
    //    quantized values are single-expression IEEE arithmetic, and the
    //    emitted sums are integer-exact — bit-parity with the oracle by
    //    construction. ----------------------------------------------------
    "embedding_quantize_int8" -> ((s, dir) => {
      val scale = aggregate(
        transform(col("embedding"), x => abs(x.cast("double"))),
        lit(0.0), (acc, x) => greatest(acc, x))
      val q = transform(col("embedding"),
        x => when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(x.cast("double") / col("scale") * 127.0)))
      emb(s, dir)
        .withColumn("scale", scale)
        .withColumn("qs", q)
        .select(
          col("vec_id"), col("scale"),
          aggregate(col("qs"), lit(0L), (acc, v) => acc + v).as("q_sum"),
          aggregate(transform(col("qs"), v => abs(v)), lit(0L),
            (acc, v) => acc + v).as("q_l1"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "decontaminate_ngram" ->
      s"""WITH $SHINGLE_CTE, bench AS (
         |  SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id % $BENCH_MOD = 0
         |), hits AS (
         |  SELECT t.doc_id, count(DISTINCT t.h) AS hits
         |  FROM (SELECT doc_id, unnest(sh) AS h FROM sh WHERE doc_id % $BENCH_MOD <> 0) t
         |  JOIN bench ON bench.h = t.h
         |  GROUP BY t.doc_id
         |)
         |SELECT s.doc_id, coalesce(hits, 0) AS n_hits, coalesce(hits, 0) > 0 AS contaminated
         |FROM sh s LEFT JOIN hits ON hits.doc_id = s.doc_id
         |WHERE s.doc_id % $BENCH_MOD <> 0""".stripMargin,

    "quality_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), counted AS (
        |  SELECT doc_id, len(ts) AS n_tokens,
        |         list_max(list_transform(list_distinct(ts),
        |                  u -> len(list_filter(ts, x -> x = u)))) AS top_uni,
        |         CASE WHEN len(ts) >= 2 THEN
        |           list_max(list_transform(
        |             list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])),
        |             u -> len(list_filter(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]),
        |                                  x -> x = u))))
        |         ELSE 0 END AS top_bi
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(top_uni AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_unigram_frac,
        |       CASE WHEN n_tokens >= 2
        |            THEN CAST(top_bi AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
        |            ELSE 0.0 END AS top_bigram_frac,
        |       (CAST(top_uni AS DOUBLE) / CAST(n_tokens AS DOUBLE)) <= 0.3
        |         AND (CASE WHEN n_tokens >= 2
        |                   THEN CAST(top_bi AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
        |                   ELSE 0.0 END) <= 0.18 AS keep
        |FROM counted""".stripMargin,

    "quality_gopher_rules" -> {
      val stopsSql = GOPHER_STOPS.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |), m AS (
         |  SELECT doc_id, len(ts) AS n,
         |         CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS sum_len,
         |         len(list_distinct(ts)) AS n_distinct,
         |         CAST(len(list_filter(list_distinct(ts),
         |                              t -> list_contains($stopsSql, t))) AS BIGINT) AS n_stop
         |  FROM t
         |)
         |SELECT doc_id,
         |       CAST(n AS BIGINT) AS n_words,
         |       CAST(sum_len AS DOUBLE) / n AS mean_word_len,
         |       CAST(n_distinct AS DOUBLE) / n AS distinct_ratio,
         |       n_stop,
         |       (n BETWEEN 10 AND 200
         |        AND sum_len >= n * 2 AND sum_len <= n * 8
         |        AND n_distinct * 10 >= n * 3
         |        AND n_stop >= 2) AS passes
         |FROM m""".stripMargin
    },

    "source_cap_sample" ->
      s"""SELECT source, doc_id FROM (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY ((doc_id % 1000000007) * (2654435761 % 1000000007)) % 1000000007, doc_id) AS rn
         |  FROM documents
         |) WHERE rn <= $SOURCE_CAP""".stripMargin,

    "chunk_sliding_window" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |), ch AS (
         |  SELECT doc_id, ts, unnest(range(1, len(ts) + 1, $STRIDE)) AS st FROM t
         |)
         |SELECT doc_id, CAST((st - 1) // $STRIDE AS BIGINT) AS chunk_idx,
         |       array_to_string(ts[st:st + ${CHUNK - 1}], ' ') AS chunk_text,
         |       CAST(len(ts[st:st + ${CHUNK - 1}]) AS BIGINT) AS n_chunk_tokens
         |FROM ch""".stripMargin,

    "semantic_dedup_ivf" ->
      s"""WITH $ASSIGN_CTE, dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assign a JOIN assign b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $SEM_T
         |)
         |SELECT a.vec_id, a.c_id, d.vec_id IS NULL AS kept
         |FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id""".stripMargin,

    "corpus_curation_pipeline" ->
      s"""WITH $SHINGLE_CTE, bench AS (
         |  SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id % $BENCH_MOD = 0
         |), contaminated AS (
         |  SELECT DISTINCT t.doc_id
         |  FROM (SELECT doc_id, unnest(sh) AS h FROM sh WHERE doc_id % $BENCH_MOD <> 0) t
         |  JOIN bench ON bench.h = t.h
         |), stats AS (
         |  SELECT doc_id, text, source, lang,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         list_max(list_transform(list_distinct(string_split(text, ' ')),
         |                  u -> len(list_filter(string_split(text, ' '), x -> x = u)))) AS top_uni,
         |         list_max(list_transform(
         |           list_distinct(list_transform(range(1, len(string_split(text, ' '))),
         |                         i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])),
         |           u -> len(list_filter(list_transform(range(1, len(string_split(text, ' '))),
         |                                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]),
         |                                x -> x = u)))) AS top_bi
         |  FROM documents
         |), quality AS (
         |  SELECT doc_id, text, source, lang, n_tokens FROM stats
         |  WHERE CAST(top_uni AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.3
         |    AND CAST(top_bi AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE) <= 0.18
         |    AND doc_id % $BENCH_MOD <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |), deduped AS (
         |  SELECT doc_id, source, lang, CAST(n_tokens AS BIGINT) AS n_tokens FROM (
         |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM quality
         |  ) WHERE rn = 1
         |)
         |SELECT doc_id, source, lang, n_tokens FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY ((doc_id % 1000000007) * (2654435761 % 1000000007)) % 1000000007, doc_id) AS rn
         |  FROM deduped
         |) WHERE rn <= $SOURCE_CAP""".stripMargin,

    "sample_weighted" -> {
      val key = graft.ops.Num.R6_SQL(
        "ln(CAST(((doc_id % 1000000007) * (2654435761 % 1000000007)) % 1000000007 + 1 AS DOUBLE) / 1000000007.0)" +
          " / CAST(len(string_split(text, ' ')) AS DOUBLE)")
      s"""SELECT doc_id, source, $key AS skey
         |FROM documents
         |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin
    },

    "profile_columns" -> {
      def row(c: String, sumType: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS DOUBLE) AS min_d, CAST(max($c) AS DOUBLE) AS max_d,
           |       CAST(sum(CAST($c AS $sumType)) AS DOUBLE) / CAST(count($c) AS DOUBLE) AS mean_d
           |FROM events""".stripMargin
      Seq(row("value", "DECIMAL(27,2)"), row("user_id", "DECIMAL(38,0)"),
        row("event_id", "DECIMAL(38,0)")).mkString("\nUNION ALL\n")
    },

    "embedding_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, scale,
        |         list_transform(embedding,
        |           x -> CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
        |                     ELSE CAST(floor(CAST(x AS DOUBLE) / scale * 127.0) AS BIGINT) END) AS qs
        |  FROM s
        |)
        |SELECT vec_id, scale,
        |       list_reduce([CAST(0 AS BIGINT)] || qs, (a, b) -> a + b) AS q_sum,
        |       list_reduce([CAST(0 AS BIGINT)] || list_transform(qs, x -> abs(x)),
        |                   (a, b) -> a + b) AS q_l1
        |FROM q""".stripMargin,

    "curriculum_interleave" ->
      """SELECT doc_id, source, n_chars AS score,
        |       CAST(row_number() OVER (
        |         PARTITION BY source ORDER BY n_chars DESC, doc_id) - 1
        |         AS BIGINT) AS shard_id
        |FROM documents""".stripMargin
  )
}
