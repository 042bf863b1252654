package graft.tools

import scala.util.control.NonFatal

/** Scaling-curve probe (dev tool, not part of the driver contract): runs
  * registry queries at two scale factors and checks that wall time grows
  * no worse than ~linearly in the size of the query's driving tables. A
  * query whose time ratio exceeds the data ratio by more than SLACK is
  * flagged SUPERLINEAR — the early-warning signal for the next
  * corpus_curation_pipeline-style blowup (that one went quadratic
  * silently and cost a full round to find).
  *
  * r10: the probe covers the FULL registry by default. Driving tables
  * are no longer a hand-kept list — each query's analyzed plan is
  * walked for its parquet/CSV leaves, store scans are attributed to
  * their source table via [[StoreSource]], and the query's data ratio
  * is the MAX ratio over its inputs (a linear query driven by its
  * fastest-growing input scales at that input's rate; max is the
  * lenient bound, so a flag means genuinely superlinear). The legacy
  * hand mappings are kept only as a fallback for plans whose
  * construction fails before analysis.
  *
  * Method: per query, one untimed warm pass at sf0.001 (codegen + JIT),
  * then `reps` timed runs at each sf keeping the MINIMUM (the
  * stable-floor estimator — min is far less noisy than mean under GC /
  * scheduling jitter at these sub-second magnitudes). Queries faster than
  * MIN_SECS at the big sf are reported but never flagged: at that
  * magnitude task-launch overhead dominates and a ratio is meaningless.
  *
  * Usage: runMain graft.tools.ScalingProbe [smallDir bigDir [q1,q2,...]]
  * Env:   SCALING_JSON_OUT=<path> additionally writes the full row set
  *        as a JSON artifact (the SCALING_r{N}.json the judge reads).
  */
object ScalingProbe {

  /** Derived-store roots → the source table whose cardinality drives
    * them (store row counts are build outputs of that table). */
  private val StoreSource: Map[String, String] = Map(
    "graft_ann_index" -> "embeddings",
    "graft_pca_basis" -> "embeddings",
    "graft_rag_store" -> "documents",
    "graft_bm25_scores" -> "documents",
    "graft_cluster_labels" -> "documents",
    "graft_minhash_pairs" -> "documents",
    "graft_neardup_pairs" -> "documents",
    "graft_entropy_corpus" -> "documents",
    "graft_pmi_corpus" -> "documents",
    "graft_temp_mix_corpus" -> "documents",
    "graft_scan_history" -> "events",
    "graft_store_parts" -> "events",
    "graft_bucketed" -> "lineitem")

  /** The r8 warm-median top-cost queries, each with the table whose
    * cardinality drives its cost — retained as the fallback mapping for
    * queries whose plan construction fails (the probe then still uses a
    * sensible ratio instead of crashing). */
  private val DefaultQueries: Seq[(String, String)] = Seq(
    "dedup_cluster_cc" -> "documents",
    "kmeans_lloyd_train" -> "embeddings",
    "lsh_recall_eval" -> "documents",
    "bpe_encode" -> "documents",
    "embedding_pca_project" -> "embeddings",
    "embedding_pca_2d" -> "embeddings",
    "graph_kcore" -> "documents",
    "phrase_merges_bpe" -> "documents",
    "pagerank_canonical" -> "documents",
    "join_skew_aqe" -> "lineitem",
    "corpus_curation_pipeline" -> "documents",
    "ann_serve_from_store" -> "embeddings",
    "ann_ivf_pq_search" -> "embeddings",
    "dedup_containment" -> "documents",
    "mining_pipeline" -> "documents",
    "dedup_fuzzy_editdist" -> "documents",
    "dedup_minhash_lsh" -> "documents",
    "knn_join_lsh" -> "embeddings",
    "text_tfidf_top_terms" -> "documents",
    "quality_lm_score" -> "documents")

  /** Headroom over perfectly-linear before a query is called superlinear:
    * covers constant per-stage overhead amortizing differently across SFs
    * and the known ±20% run-to-run variance. */
  private val SLACK = 1.6

  /** Below this wall time at the big SF, scheduling noise > signal. */
  private val MIN_SECS = 0.5

  /** Driving-table mapping for CLI-named queries OUTSIDE the default
    * set — kept even for queries rotated out of DefaultQueries, so an ad
    * hoc probe still computes its linearity headroom against the right
    * row ratio instead of silently assuming documents. */
  private val ExtraTables: Map[String, String] = Map(
    "profile_columns" -> "events",
    "join_bloom_runtime" -> "lineitem",
    "join_skew_salted" -> "lineitem",
    "chunk_sliding_window" -> "documents",
    "dedup_shingle_jaccard" -> "documents",
    "stats_chi2_independence" -> "events",
    "stats_ks_test" -> "events",
    "asof_join_forward" -> "events",
    "asof_join_native" -> "events",
    "filter_time_window" -> "events",
    "filter_ticker_eq" -> "events",
    "series_downsample_m4" -> "events",
    "ann_pq_codes" -> "embeddings",
    "ann_recall_at_k" -> "embeddings",
    "tpch_q10_returns" -> "lineitem",
    "tpch_q19_brackets" -> "lineitem",
    "tpch_q22_untapped" -> "customer",
    "tpch_q4_priority" -> "lineitem",
    "tpch_q12_latemix" -> "lineitem",
    "tpch_q13_custdist" -> "orders",
    "mix_temperature_sample" -> "documents",
    "tpch_q17_smallqty" -> "lineitem",
    "tpch_q21_waiting" -> "lineitem",
    "tpch_q2_mincost" -> "lineitem",
    "tpch_q7_volume" -> "lineitem",
    "tpch_q15_topsupp" -> "lineitem",
    "tpch_q8_marketshare" -> "lineitem",
    "tpch_q9_profit" -> "lineitem",
    "tpch_q11_important" -> "lineitem",
    "tpch_q16_suppcnt" -> "lineitem",
    "tpch_q20_excess" -> "lineitem")

  /** Canonical testdata tables (ratio denominators). */
  private val Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Input tables of one query from its analyzed plan's file-source
    * leaves — testdata scans by table name, store scans via
    * [[StoreSource]] — plus a flag for any leaf the mapping does NOT
    * know (an unmapped store, a checkpoint-truncated LogicalRDD). An
    * unknown leaf means the derived table set may MISS the query's true
    * driving input, so the caller must fall back to the most lenient
    * ratio instead of under-estimating d_ratio and crying SUPERLINEAR
    * on a linear query. */
  private def inputTables(
      df: org.apache.spark.sql.DataFrame): (Set[String], Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical.LeafNode
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    var unknown = false
    val known = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          val root = h.location.rootPaths.headOption.map(_.toString).getOrElse("?")
          val seg = BroadcastBound.tableFromRoot(root)
          val mapped = StoreSource.get(seg).orElse(Some(seg).filter(Tables.contains))
          if (mapped.isEmpty) unknown = true
          mapped
        case _ => { unknown = true; None }
      }
      case l: LeafNode
          if l.getClass.getSimpleName == "LogicalRDD" =>
        // a localCheckpoint hides whatever scans fed it
        unknown = true; None
    }.flatten.toSet
    (known, unknown)
  }

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val big = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val fallback = DefaultQueries.toMap ++ ExtraTables
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // SCALING_REPS=1 for the expensive decades (min-of-reps estimator
    // degrades to a single sample; the r12 fuzzymh sf10 probe already
    // recorded n:1 this way).
    val reps = graft.Bench.envOr("SCALING_REPS", "2")(_.toIntOption.filter(_ > 0))
    // Big-decade probes hit the size-gated payload broadcasts, whose
    // gate clamps to 60% of spark.driver.maxResultSize
    // (SessionOps.broadcastBudget): run them with
    // -Dspark.driver.maxResultSize=8g, or an untuned 1g driver silently
    // takes the shuffled branch and the probe measures the wrong plan.
    val spark = graft.ops.SessionOps.localSession()

    def release(): Unit = {
      graft.ops.SessionOps.dropCachedBlocks(spark)
      // also nudge shuffle-file cleanup: at the big decades a prior
      // query's shuffle files otherwise survive into the next query's
      // run (no GC on a 48 GB heap for many minutes) and stack toward
      // the disk ceiling — a contributor to the r13 knn ENOSPC
      graft.ops.SessionOps.nudgeShuffleCleanup(spark)
    }

    def rows(dir: String, table: String): Long =
      graft.model.Tables.load(spark, dir, table).count()

    def time(q: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(q)
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        release()
        secs
      }.min
    }

    // Per-table growth ratios; a table missing from a custom dir pair is
    // skipped (its consumers fall back to maxRatio) rather than aborting
    // the whole probe before any query has run.
    val sizeRatio: Map[String, Double] = Tables.flatMap { t =>
      try Some(t -> rows(big, t).toDouble / rows(small, t).toDouble)
      catch { case NonFatal(_) =>
        System.err.println(s"[probe] WARNING: cannot count '$t' in both dirs; skipping its ratio")
        None
      }
    }.toMap
    // maxOption, not max: a custom dir pair where NO canonical table can
    // be counted in both dirs must not abort the whole probe with an
    // UnsupportedOperationException before any query runs — fall back to
    // a neutral 1.0 ratio with a loud warning (every query then compares
    // raw wall ratios, the most conservative reading available).
    val maxRatio = sizeRatio.values.maxOption.getOrElse {
      System.err.println("[probe] WARNING: no canonical table countable in " +
        "both dirs; data ratio defaults to 1.0 (raw wall-ratio comparison)")
      1.0
    }

    // Warm dir: the tiniest SF SIBLING of the small dir when it exists
    // (codegen + JIT off the clock at negligible data cost). For a custom
    // dir pair with no sf0.001 sibling (e.g. /tmp/graft_sf1 -> sf10) the
    // derived path does not exist and would fail EVERY query's warm pass
    // before its first timed run — warm at the small dir itself instead.
    val warmDir = {
      val w = small.replaceAll("sf[0-9.]+/?$", "sf0.001")
      if (new java.io.File(w).isDirectory) w
      else {
        System.err.println(s"[probe] no sf0.001 sibling ($w); warming at $small")
        small
      }
    }

    println(f"${"query"}%-28s ${"t_small"}%8s ${"t_big"}%8s ${"t_ratio"}%8s ${"d_ratio"}%8s  verdict")
    var flagged = List.empty[String]
    val jsonRows = scala.collection.mutable.ArrayBuffer[String]()
    names.foreach { q =>
      try {
        // warm pass at the tiniest SF: codegen + JIT off the clock
        graft.SparkEntry.queries(q)(spark, warmDir).count()
        release()
        // driving ratio = max over the query's actual inputs at the BIG
        // sf (store builds exist after the warm pass), widened by the
        // hand-kept fallback mapping when present; any UNKNOWN leaf
        // (unmapped store, checkpoint-truncated scan) falls back to the
        // global max ratio — lenient by construction, so a SUPERLINEAR
        // flag is never an artifact of an under-estimated denominator.
        val (inputs, sawUnknown) =
          try inputTables(graft.SparkEntry.queries(q)(spark, big))
          catch { case NonFatal(_) => (Set.empty[String], true) }
        val candidates =
          inputs.flatMap(sizeRatio.get) ++ fallback.get(q).flatMap(sizeRatio.get)
        val dr =
          if (sawUnknown || candidates.isEmpty) maxRatio else candidates.max
        val ts = time(q, small)
        val tb = time(q, big)
        val tr = tb / ts
        // WORK normalization (r13 verdict item 1): an adaptive-LSH
        // operator's designed cost is Θ(candidate pairs), and its band
        // count L grows ~n^ρ by the OR-amplification law — so even a
        // PERFECT execution exceeds the raw-data slack line. For queries
        // with a registered estimator the verdict decomposes into (a)
        // pairs follow the design ratio (n·L growth) and (b) time
        // follows max(data, pairs) — see PairWork's scaladoc. Measured
        // AFTER the timed runs so the stats jobs can't warm them.
        val work = PairWork.estimators.get(q).map { est =>
          val ws = est(spark, small); release()
          val wb = est(spark, big); release()
          (ws, wb)
        }
        val verdict =
          if (tb < MIN_SECS) "ok (below noise floor)"
          else work match {
            case Some((ws, wb)) =>
              // two designed cost terms: candidate pairs (join/verify
              // side, corpus-dependent — must stay inside the n·L
              // design ratio) and n·L·r signature hashes (map side,
              // deterministic). Total cost is a weighted sum, so its
              // ratio is bounded by the max of the term ratios — the
              // same lenient-by-construction bound d_ratio uses across
              // input tables.
              val wr = wb.pairsUB / math.max(1.0, ws.pairsUB)
              val sr = wb.sigWork / ws.sigWork
              val designR = (wb.n.toDouble * wb.l) / (ws.n.toDouble * ws.l)
              val workOk = wr <= SLACK * designR
              val timeOk = tr <= SLACK * math.max(dr, math.max(wr, sr))
              if (workOk && timeOk) "ok (work-normalized)"
              else {
                flagged ::= q
                if (!workOk) "SUPERLINEAR (pairs exceed the design law)"
                else "SUPERLINEAR (time exceeds the measured work)"
              }
            case None =>
              if (tr > SLACK * dr) { flagged ::= q; "SUPERLINEAR" } else "ok"
          }
        println(f"$q%-28s $ts%8.2f $tb%8.2f $tr%8.2f $dr%8.1f  $verdict")
        val workJson = work.map { case (ws, wb) =>
          val wr = wb.pairsUB / math.max(1.0, ws.pairsUB)
          val sr = wb.sigWork / ws.sigWork
          val designR = (wb.n.toDouble * wb.l) / (ws.n.toDouble * ws.l)
          s""","w_small":${ws.json},"w_big":${wb.json},""" +
            s""""w_ratio":${f"$wr%.2f"},"w_design_ratio":${f"$designR%.2f"},""" +
            s""""w_sig_ratio":${f"$sr%.2f"},""" +
            s""""t_per_work_ratio":${f"${tr / math.max(1e-9, math.max(wr, sr))}%.3f"}"""
        }.getOrElse("")
        jsonRows += s"""{"query":"$q","t_small":${f"$ts%.3f"},"t_big":${f"$tb%.3f"},""" +
          s""""t_ratio":${f"$tr%.2f"},"d_ratio":${f"$dr%.1f"},""" +
          s""""inputs":[${inputs.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]""" +
          workJson +
          s""","verdict":"${if (verdict.startsWith("SUPER")) "SUPERLINEAR"
            else if (tb < MIN_SECS) "noise_floor" else "ok"}",""" +
          s""""verdict_detail":"$verdict"}"""
      } catch {
        case NonFatal(e) =>
          println(f"$q%-28s ERROR ${String.valueOf(e.getMessage).take(60)}")
          jsonRows += s"""{"query":"$q","error":${graft.Bench.jsonStr(String.valueOf(e.getMessage).take(200))}}"""
      }
    }
    if (flagged.nonEmpty)
      println(s"SUPERLINEAR: ${flagged.reverse.mkString(", ")}")
    else println("SUPERLINEAR: none")
    sys.env.get("SCALING_JSON_OUT").foreach { out =>
      val body = s"""{"small":"$small","big":"$big","slack":$SLACK,""" +
        s""""cpus":${graft.ops.SessionOps.cpus},""" +
        s""""min_secs":$MIN_SECS,"n":${jsonRows.size},""" +
        s""""superlinear":[${flagged.reverse.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""rows":[${jsonRows.mkString(",")}]}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        body.getBytes("UTF-8"))
      println(s"[probe] wrote $out")
    }
    spark.stop()
    if (flagged.nonEmpty) sys.exit(1)
  }
}
