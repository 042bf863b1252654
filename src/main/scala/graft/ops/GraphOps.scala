package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline.
  *
  * Connected components is the canonical post-pass over near-dup PAIRS:
  * A~B and B~C must collapse into one keep-group even when A!~C, so the
  * canonical representative is the component min, not the pair min.
  */
object GraphOps {

  /** Loop-state rows per shuffle partition. CC state is two longs a row,
    * so 4M rows ≈ 64 MB a partition — comfortably in-memory for the
    * per-round hash aggregation. Shared by every edge-loop consumer
    * (connectedComponents here, graph_kcore's peel loop). */
  private[graft] val LOOP_ROWS_PER_PARTITION = 4000000L

  /** Run `body` with `spark.sql.shuffle.partitions` sized from a MEASURED
    * edge count (capped at the session setting), restoring the session
    * conf afterwards. Iterative edge loops shuffle the near-dup edge set,
    * not the corpus — without this every round's stages pay the full
    * session task count in pure dispatch on small graphs, and AQE cannot
    * coalesce across per-round checkpoint boundaries. Safe under the
    * engine's sequential driver contract; `body` receives the chosen
    * partition count for explicit repartitions. */
  private[graft] def withLoopParallelism[T](
      spark: org.apache.spark.sql.SparkSession, edgeCount: Long)(body: Int => T): T = {
    val n = spark.sessionState.conf.numShufflePartitions
    val nLoop = math.max(1L, math.min(n.toLong,
      edgeCount / LOOP_ROWS_PER_PARTITION + 1L)).toInt
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", nLoop.toString)
    try body(nLoop)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Min-label propagation connected components with pointer jumping.
    *
    * @param vertices one column `id` (distinct)
    * @param edges    columns `src`, `dst`; must contain BOTH orientations
    *                 of every undirected edge (the component semantics —
    *                 and the pre-jump convergence test — assume symmetry)
    * @return (`id`, `comp`) where `comp` = min vertex id in the component
    *
    * Each round every vertex takes the smallest label among itself and its
    * in-neighbors (one distributed join + partial-agg min), then FOLLOWS
    * ITS LABEL'S LABEL (pointer jumping): a label is itself a vertex id,
    * so one extra self-join per round squares the distance information
    * travels along label chains — O(log diameter) rounds instead of
    * O(diameter), the difference between 4 and 40 jobs on a chain-shaped
    * near-dup graph (size-banded similarity graphs ARE chain-shaped:
    * doc(n tokens) ~ doc(n±1)). Both labels are reachable-vertex minima,
    * so the invariant `comp(v) = min id of some vertex reachable from v`
    * holds throughout and the fixpoint is the component min. The only
    * driver-side work is the loop and a sum(comp) convergence probe;
    * [[SessionOps.truncate]] truncates per-round lineage so plan size
    * stays O(1) in rounds — localCheckpoint by default, the conf-switched
    * reliable (directory-backed) checkpoint for executor-loss durability
    * on a real cluster.
    *
    * Two scale decisions shape the loop:
    *
    *  1. The loop state holds ONLY vertices incident to an edge: every
    *     other vertex is its own component and can never change, so
    *     carrying it through the loop multiplies each round's shuffle by
    *     |V|/|V_touched| for nothing. On a 100 TB corpus the near-dup
    *     pair set touches a small fraction of documents — this is the
    *     difference between shuffling the corpus per round and shuffling
    *     the near-dup neighborhood per round. Singletons re-attach after
    *     the fixpoint with one join, outside the loop.
    *
    *  2. Loop shuffle parallelism is sized from the MEASURED edge count
    *     (the edge table is materialized before the loop anyway), capped
    *     at the session setting. AQE normally does this coalescing, but
    *     it cannot see across the per-round checkpoint boundary; without
    *     it a corpus whose near-dup graph is thousands of rows pays the
    *     full session task count — per-round scheduling overhead, not
    *     data — in every one of the O(log d) rounds. The session conf is
    *     overridden only for the duration of the loop (restored in a
    *     finally), which is safe in the engine's sequential driver
    *     contract.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame =
    ccImpl(vertices, edges, symmetric = true)

  /** [[connectedComponents]] over ONE-orientation pairs `(src, dst)` —
    * the shape every near-dup caller actually has. Components are an
    * undirected notion, so the symmetry the distributed loop needs is an
    * internal concern: the pair set is checkpointed ONCE here and the
    * union's two branches read those blocks, where callers previously
    * had to checkpoint the pairs themselves (so the union would not
    * re-run the whole enumeration+verify per branch) and this method
    * then re-checkpointed the symmetric union — two materialization
    * barriers for one edge set (r16; profiled as back-to-back
    * localCheckpoint stages in dedup_cluster_cc). The driver union-find
    * branch collects HALF the rows (it is orientation-agnostic). */
  def connectedComponentsFromPairs(vertices: DataFrame, pairs: DataFrame): DataFrame =
    ccImpl(vertices, pairs, symmetric = false)

  private def ccImpl(
      vertices: DataFrame, edges: DataFrame, symmetric: Boolean): DataFrame = {
    val sess = edges.sparkSession
    val n = sess.sessionState.conf.numShufflePartitions
    // Materialize the edge list once, then size the loop from its
    // measured count — both reuse the same checkpointed blocks. A
    // symmetric union arrives with BOTH legs' partitions (2×session),
    // near-empty at small edge counts; the no-shuffle coalesce back to
    // the session count halves checkpoint/count/repartition task
    // dispatch without reducing the upstream build below the session
    // parallelism (profiled: the 64-task pre-loop stages, not the loop,
    // dominated dedup_cluster_cc's wall time).
    val raw = SessionOps.truncate(edges.select(col("src"), col("dst")).coalesce(n))
    val rawCount = raw.count()
    // The gate and the loop sizing are in SYMMETRIC edge rows either way.
    val edgeCount = if (symmetric) rawCount else 2L * rawCount
    // DRIVER fast path (r15 optimization round): a near-dup edge set whose
    // bare (src, dst) longs fit the same collect budget class as the
    // pairs-side broadcast verify (LshJoin.PAIRS_BROADCAST_CAP's 64 MB,
    // clamped to the driver budget) is union-found in one collect instead
    // of O(log d) propagate+jump rounds — at bench scale the loop's cost
    // is pure per-round job dispatch (profiled: ~8 sub-second single-task
    // checkpoint stages, ~2.5 s of the 4.5 s query), while the collect is
    // the one the label table's own broadcast re-attach join would do
    // anyway. The result is definitionally identical (comp = min vertex id
    // reachable; GraphOpsSpec pins driver ≡ loop on fixture graphs).
    // Above the gate — the 100 TB case, where the near-dup graph is
    // terabyte-class — the distributed loop below is unchanged.
    val driverMax = math.min(
      SessionOps.graftConf(sess, CC_DRIVER_MAX_KEY, CC_DRIVER_MAX_DEFAULT)(_.toLong),
      SessionOps.broadcastBudget(sess, CC_DRIVER_MAX_DEFAULT))
    if (edgeCount * CC_EDGE_BYTES <= driverMax) {
      // driverComponents is orientation-agnostic (union(a,b) == union(b,a)),
      // so the one-orientation caller collects half the rows.
      val pairs = raw.collect().map(r => (r.getLong(0), r.getLong(1)))
      release(raw)
      val labels = driverComponents(pairs)
      val labelDf = sess.createDataFrame(labels.toSeq)
        .toDF("id", "edge_comp")
      return vertices
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("edge_comp"), col("id")).as("comp"))
    }
    // The distributed loop's propagate/convergence algebra assumes
    // symmetry — symmetrize AFTER the checkpoint (both branches read the
    // same materialized blocks, no recompute).
    val sym =
      if (symmetric) raw
      else raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val comp =
      withLoopParallelism(sess, edgeCount) { nLoop =>
        // The edge table is loop-invariant and joined on `src` every
        // round: hash-partition it on `src` ONCE before checkpointing.
        // SessionOps.truncate keeps that partitioning, so no round's
        // join plans an Exchange over the edges (at most one, over the
        // label side) — at 100 TB the edge table is the near-dup pair
        // set, the largest input of the loop, and this converts
        // O(rounds) edge shuffles into one.
        val e = SessionOps.truncate(sym.repartition(nLoop, col("src")))
        // e supersedes the un-partitioned copy: release raw's blocks, or
        // the loop carries TWO materialized copies of its largest input.
        release(raw)
        // Seed labels with the distinct edge endpoints (`src` covers all
        // of them under the symmetry contract). distinct() hash-
        // partitions by id, the same shape groupBy(id) emits each round,
        // so round 1 is shaped like every later round.
        var state = SessionOps.truncate(
          e.select(col("src").as("id")).distinct()
            .select(col("id"), col("id").as("comp")))
        // comp labels only ever decrease, so the label sum is a strictly
        // decreasing convergence measure — no change-detection join, and
        // via checkpointSum not even a separate pass: the sum rides the
        // checkpoint's own materialization job.
        var prevSum = labelSum(state)
        var converged = false
        while (!converged) {
          val prev = state
          val msgs = e.join(prev.withColumnRenamed("id", "src"), "src")
            .select(col("dst").as("id"), col("comp"))
          // materialize before the self-join below — without this the
          // whole union+groupBy subtree executes twice (once more for the
          // join's build side; exchange reuse does not cross that
          // boundary)
          val (propagated, propSum) = checkpointSum(
            prev.union(msgs)
              .groupBy(col("id")).agg(min(col("comp")).as("comp")))
          // propagated is materialized — the previous round's state is
          // superseded; release it, or an O(log d)-round run pins one
          // label-table block set PER ROUND for the loop's lifetime (the
          // r11 sf10 probe hit exactly this as heap pressure).
          release(prev)
          if (propSum == prevSum) {
            // Propagation changed nothing: with symmetric edges a
            // propagate-fixpoint has component-constant labels, so the
            // pointer jump is the identity — skip it and exit without
            // paying the final self-join.
            state = propagated
            converged = true
          } else {
            // pointer jump: comp(v) := comp(comp(v)). Labels are vertex
            // ids, so the lookup side is `propagated` itself renamed; a
            // label that is its own component root maps to itself and
            // the join stays inner.
            val (jumped, jumpSum) = checkpointSum(
              propagated
                .join(propagated.select(col("id").as("lid"), col("comp").as("lcomp")),
                  col("comp") === col("lid"))
                .select(col("id"), col("lcomp").as("comp")))
            release(propagated)
            state = jumped
            prevSum = jumpSum
          }
        }
        // The edge table is dead once the fixpoint is reached (the final
        // vertex join below reads only the converged label checkpoint).
        release(e)
        state
      }
    // Re-attach the untouched vertices as their own components: one join
    // against the (small) converged label table, no iteration. Left join
    // so a vertex with no edges maps to itself; AQE broadcasts the label
    // side when it fits, and degrades to a shuffle join when it doesn't.
    vertices.join(comp.select(col("id"), col("comp").as("edge_comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("edge_comp"), col("id")).as("comp"))
  }

  /** k-core peel over near-dup PAIRS (`a_id`, `b_id`): exactly `rounds`
    * rounds of "drop every vertex with fewer than `k` surviving
    * neighbors", returning (`doc_id`, `deg`) for the vertices that keep
    * an edge. Two physical strategies behind the one contract, the same
    * split as [[connectedComponents]]:
    *
    *  - DRIVER peel (r15 optimization round) while the bare symmetric
    *    (src, dst) longs fit the [[CC_DRIVER_MAX_KEY]] collect gate: the
    *    distributed loop's cost at small edge counts is pure per-round
    *    job dispatch — 3 stages × KCORE_ROUNDS rounds of sub-second
    *    single-task checkpoints (profiled: ~1.2 s of graph_kcore's 1.5 s
    *    sf0.1 wall) — while the peel itself is integer counting over an
    *    edge array. Result identical by construction (same per-round
    *    degree/keep/restrict algebra; DedupGraphSpec pins driver ≡ loop
    *    on fixture graphs).
    *  - the distributed peel loop above the gate — the 100 TB case —
    *    byte-for-byte the shape shipped since r12 (per-round degree
    *    aggregate + two semi-joins, truncate-released checkpoints,
    *    edge-count-sized parallelism).
    */
  def kcoreDegrees(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val sess = pairs.sparkSession
    val n = sess.sessionState.conf.numShufflePartitions
    var sym = SessionOps.truncate(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        .coalesce(n))
    val edgeCount = sym.count()
    val driverMax = math.min(
      SessionOps.graftConf(sess, CC_DRIVER_MAX_KEY, CC_DRIVER_MAX_DEFAULT)(_.toLong),
      SessionOps.broadcastBudget(sess, CC_DRIVER_MAX_DEFAULT))
    if (edgeCount * CC_EDGE_BYTES <= driverMax) {
      val edges = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
      release(sym)
      val degs = driverKcore(edges, k, rounds)
      return sess.createDataFrame(degs).toDF("doc_id", "deg")
    }
    withLoopParallelism(sess, edgeCount) { nLoop =>
      // Hash-partitioned on `src` once; SessionOps.truncate keeps that,
      // so the first round's degree aggregate plans no Exchange.
      val unpart = sym
      sym = SessionOps.truncate(sym.repartition(nLoop, col("src")))
      release(unpart)
      for (_ <- 1 to rounds) {
        val keep = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("src")
        val prev = sym
        sym = SessionOps.truncate(sym
          .join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
        release(prev)
      }
    }
    sym.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))
  }

  /** Driver-side k-core peel over a collected SYMMETRIC edge list — the
    * same per-round algebra as the distributed loop (degree over `src`,
    * keep = deg ≥ k, restrict both endpoints), run exactly `rounds`
    * times (early exit on an empty edge set — every later round is a
    * no-op there). Returns (vertex, surviving degree) for vertices that
    * keep an edge. Pure function, unit-tested directly. */
  private[graft] def driverKcore(
      edges: Array[(Long, Long)], k: Int, rounds: Int): Seq[(Long, Long)] = {
    var cur = edges
    var i = 0
    while (i < rounds && cur.length > 0) {
      val deg = new java.util.HashMap[Long, Long]()
      cur.foreach(e => deg.merge(e._1, 1L, (a, b) => a + b))
      cur = cur.filter(e =>
        deg.getOrDefault(e._1, 0L) >= k && deg.getOrDefault(e._2, 0L) >= k)
      i += 1
    }
    val out = new java.util.LinkedHashMap[Long, Long]()
    cur.foreach(e => out.merge(e._1, 1L, (a, b) => a + b))
    val b = Seq.newBuilder[(Long, Long)]
    out.forEach((v, d) => b += ((v, d)))
    b.result()
  }

  /** Conf key (dev/spec dial): max collected edge BYTES for the driver
    * fast paths of [[connectedComponents]] (union-find) and
    * [[kcoreDegrees]] (driver peel); 0 forces the distributed loops
    * (GraphOpsSpec / DedupGraphSpec use this to pin driver ≡ loop). */
  private[graft] val CC_DRIVER_MAX_KEY = "spark.graft.cc.driverMaxBytes"

  /** Default gate: 64 MB of bare (src, dst) pairs — the same cap class as
    * LshJoin.PAIRS_BROADCAST_CAP, clamped to the session driver budget. */
  private[graft] val CC_DRIVER_MAX_DEFAULT: Long = 64L * 1024 * 1024

  /** Collected bytes per symmetric edge row: two longs in an UnsafeRow. */
  private[graft] val CC_EDGE_BYTES = 32L

  /** Union-find (path-halving + union-by-min-root) over a collected
    * symmetric edge list: returns id → component-min-id for every vertex
    * incident to an edge — the same fixpoint the distributed loop
    * converges to. Pure function, unit-tested directly. Rooting at the
    * MIN id during union keeps find() results already-canonical, so no
    * second min-resolution pass is needed. */
  private[graft] def driverComponents(
      pairs: Array[(Long, Long)]): scala.collection.Map[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        // union by MIN root: the canonical label is the component min,
        // so pointing the larger root at the smaller keeps every root
        // equal to its component's running min by induction.
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = scala.collection.mutable.HashMap.empty[Long, Long]
    pairs.foreach { case (a, b) =>
      if (!out.contains(a)) out(a) = find(a)
      if (!out.contains(b)) out(b) = find(b)
    }
    out
  }

  /** Best-effort block release for a superseded local checkpoint. */
  private def release(df: DataFrame): Unit = SessionOps.releaseQuiet(df)

  /** Exact decimal sum of labels — overflow-proof for any vertex count. */
  private def labelSum(comp: DataFrame): BigDecimal = {
    val d = comp.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    if (d == null) BigDecimal(0) else BigDecimal(d)
  }

  /** localCheckpoint + label sum in ONE job: the convergence measure is
    * attached as an observed metric (`Dataset.observe`), so it is computed
    * by the checkpoint's own materialization pass instead of a second
    * driver-submitted aggregation job. The CC loop is job-LATENCY bound at
    * small graph sizes (profiled: dozens of sequential micro-jobs, each
    * ~50-100 ms of scheduling around <100 ms of work), so halving the jobs
    * per round matters more locally than any per-row cost; at scale the
    * saved pass over the label table is a real pass saved. The observed
    * metric is delivered by an async listener — poll briefly, and fall
    * back to the explicit aggregation (correct, one extra cheap job over
    * the just-cached blocks) if it hasn't landed. */
  private def checkpointSum(df: DataFrame): (DataFrame, BigDecimal) = {
    val obs = org.apache.spark.sql.Observation()
    val ck = SessionOps.truncate(df
      .observe(obs, sum(col("comp").cast("decimal(38,0)")).as("label_sum")))
    val s =
      try {
        val row = scala.concurrent.Await.result(
          obs.future, scala.concurrent.duration.Duration(500, "ms"))
        row.getAs[java.math.BigDecimal]("label_sum") match {
          case null => BigDecimal(0) // empty label table
          case d => BigDecimal(d)
        }
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println("[graft] checkpointSum: observation timed out; falling back")
          labelSum(ck)
      }
    (ck, s)
  }
}
