package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev-tool generator for a LARGER scaling-probe dataset (default 10× =
  * "sf1") derived from the read-only driver testdata at sf0.1. The
  * scaling probe needs a datapoint where real work dominates the
  * fixed per-stage overhead that masks superlinear behavior at
  * sf0.01→sf0.1 (VERDICT r6 item 4); the driver only ships up to sf0.1,
  * so this upscales it — structure-preservingly, so "data ratio" stays
  * an honest denominator:
  *
  *  - '''documents''': each copy applies a per-copy Caesar cipher to
  *    a–z. Token LENGTHS and whitespace are untouched (char-level costs
  *    scale exactly linearly) and within-copy token-set structure is
  *    EXACTLY sf0.1's (near-dup pair count, cluster sizes, and per-lang
  *    group sizes all scale by the copy count); across copies the
  *    vocabularies are disjoint (no vocab word is a Caesar shift of
  *    another), so no spurious cross-copy dup pairs appear and the pair
  *    table grows linearly, not quadratically.
  *  - '''events''': ids and users shift per copy; timestamps offset by
  *    copy·4.571 s so the stream DENSIFIES within the same date range
  *    ("more traffic", the production scale-up) instead of stretching
  *    the time axis, which would change window/retention semantics.
  *  - '''embeddings''': vec_id shifts; each copy's vectors are
  *    circularly rotated by the copy index — a coordinate permutation
  *    applied uniformly within a copy preserves every within-copy dot
  *    product, so ANN neighborhood structure replicates exactly.
  *  - '''lineitem/orders/customer/part/supplier''': all keys shift per
  *    copy past the source max (consistently across tables, so joins
  *    land within a copy); measures and dates are kept. nation/region
  *    stay fixed — dimension tables don't scale in TPC-H either.
  *
  * Timestamp columns pass through in whatever physical encoding the
  * source uses (nanos-as-long, NTZ, or UTC-adjusted); `Tables.normalizeTs`
  * maps any of them onto the canonical TimestampType at load.
  *
  * Usage: runMain graft.tools.ScaleUpGen [srcDir dstDir copies mode]
  *
  * mode `chain` derives the THIRD decade (sf1 → sf10) from an already
  * upscaled dir. Re-applying the default transforms there would break
  * the honest-denominator property: Caesar shifts compose mod 26, so
  * second-decade copies would COLLIDE vocabularies with first-decade
  * ones (shift 3 = 1+2 = 0+3 …) and the near-dup pair table would grow
  * superlinearly by construction; likewise coordinate rotations compose
  * mod dim. `chain` uses transforms DISJOINT from the first decade's:
  *
  *  - documents: a per-copy CHARACTER BIJECTION — copy c's letters
  *    translate to a disjoint 26-char unicode block (see blockChar).
  *    Vocabularies across copies are disjoint, within-copy token-set
  *    structure is exactly the source's, and (r14) the char-4-gram
  *    space maps 1:1 per copy, so char-gram minhash bucket structure
  *    replicates the source's exactly — the previous suffix-tag
  *    transform appended one SHARED letter to every token of a copy,
  *    whose universal tag-grams captured the minhash minimizers and
  *    saturated fuzzy band signatures (pairs measured 139× per 10×
  *    data at decade 3; a corpus artifact, not an operator defect);
  *  - embeddings: dihedral coordinate permutations — rotation-type
  *    copies c < ⌈copies/2⌉ rotate by c·copies, reflection-type copies
  *    reverse then rotate by (c−⌈copies/2⌉)·copies. Composed with the
  *    first decade's rotations 0..copies−1 this yields pairwise
  *    DISTINCT permutations for all copies² effective copies (rotations
  *    r^(a+copies·c) with exponents 0..copies²/2−1 distinct below dim·…,
  *    reflections s·r^(…) never equal to a rotation), so no copy pair
  *    shares a vector set and dup-pair counts stay linear. Reversal and
  *    rotation both preserve within-copy dot products.
  *  - events / relational keys: the default shifts already chain
  *    (strides are computed from the source max).
  *
  * mode `chain2` derives the FOURTH decade (sf10 → sf100). The chain
  * transforms cannot compose with themselves:
  *
  *  - documents: the block bijection composes by construction — chain2
  *    translates decade-3's `copies` blocks to blocks
  *    [c·copies, (c+1)·copies), so the composed (decade-3, decade-4)
  *    block index is unique across all copies² effective copies and
  *    gram/vocab disjointness holds at the fourth decade too;
  *  - embeddings: dihedral permutations do NOT compose — D_dims has only
  *    2·dims elements (128 at dims=64), but decade 4 needs 1000 pairwise
  *    distinct per-copy orthogonal maps. chain2 instead applies a per-copy
  *    SIGN-FLIP diagonal: copy 0 is identity, copy c ≥ 1 negates
  *    coordinates i with i mod (c+1) == 0 (pairwise-distinct flip sets by
  *    density). A diagonal ±1 matrix is orthogonal, so within-copy dot
  *    products — hence all cosine/ANN neighborhood structure — are exactly
  *    preserved; composed with the 100 existing dihedral permutations the
  *    signed-permutations (σ_c, π) are pairwise distinct for all 1000
  *    effective copies (equal iff both components equal), so no copy pair
  *    shares a vector set and dup/knn pair counts stay linear.
  *
  * An optional 5th arg restricts generation to a comma-separated table
  * list (the fourth-decade probes only need documents/embeddings/events;
  * skipping lineitem saves ~14 GB disk and most of the wall time).
  */
object ScaleUpGen {
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Letter `letter` (0–25) of per-copy character block `block`:
    * block 0 is the source a–z; block k ≥ 1 is the 26-char run starting
    * at U+0100 + 26·(k−1) (Latin Extended onward — BMP, surrogate-free).
    * A per-copy CHARACTER BIJECTION is the only document transform that
    * is honest at EVERY granularity at once: token vocabularies across
    * copies are disjoint (different char blocks), within-copy token-set
    * structure is exactly the source's, AND — the r14 lesson — the
    * char-4-gram space maps 1:1 per copy, so gram-level Jaccard between
    * any two within-copy docs is EXACTLY the source pair's and no gram
    * is shared across copies. The r13 suffixTag it replaces appended
    * the SAME letter to every token of a copy, which injected
    * UNIVERSAL tag-adjacent grams into every document; char-gram
    * minhash minimizers then piled onto those shared grams and band
    * signatures saturated within each copy cohort — measured (PairWork,
    * r14) as candidate pairs growing 139×/1660× per decade against the
    * 10×/14× design, the corpus corruption behind the
    * dedup_fuzzy_minhash SUPERLINEAR verdicts of SCALING_r12/r13. */
  private[graft] def blockChar(block: Int, letter: Int): Char =
    if (block == 0) ('a' + letter).toChar
    else (0x100 + 26 * (block - 1) + letter).toChar

  private[graft] def blockAlphabet(blocks: Range): String =
    blocks.flatMap(b => (0 until 26).map(blockChar(b, _))).mkString

  /** chain/chain2 documents transform: translate copy c's letters from
    * source blocks [0, srcBlocks) to blocks [c·srcBlocks,
    * (c+1)·srcBlocks) — a per-copy character bijection (see
    * [[blockChar]]). chain (decade 3) has srcBlocks = 1 (the a–z
    * corpus); chain2 (decade 4) has srcBlocks = decade-3's copy count,
    * so the composed (decade-3, decade-4) block index is unique for all
    * copies² effective copies and every copy pair's gram sets stay
    * disjoint. Token lengths are untouched (char-level costs scale
    * exactly); letters above block 0 encode as 2-byte UTF-8, which
    * changes byte totals but no char-level semantics. */
  private[graft] def blockShift(
      text: Column, copy: Column, copies: Int, srcBlocks: Int): Column = {
    require(0x100 + 26 * (copies * srcBlocks - 1) < 0xD800,
      "block alphabet would reach the surrogate range")
    val src = blockAlphabet(0 until srcBlocks)
    (1 until copies).foldLeft(when(copy === 0, text)) { (acc, c) =>
      acc.when(copy === c,
        translate(text, src,
          blockAlphabet(c * srcBlocks until (c + 1) * srcBlocks)))
    }
  }

  /** Per-row Caesar cipher: a when-chain over the (small, literal) copy
    * domain so each branch is a foldable `translate`. Caveat: the shift
    * wraps at 26, so copies > 26 start REUSING vocabularies (copy 26 ==
    * copy 0) and the near-dup pair table would grow superlinearly across
    * the colliding copies — fine for the ≤10-copy scaling decades this
    * tool exists for; a 100-copy run would need a per-copy disambiguating
    * token transform instead. */
  private[graft] def caesar(text: Column, copy: Column, copies: Int): Column =
    (1 until copies).foldLeft(when(copy === 0, text)) { (acc, c) =>
      acc.when(copy === c,
        translate(text, Alphabet, Alphabet.drop(c % 26) + Alphabet.take(c % 26)))
    }

  /** The embedding transforms, factored out so the generator-honesty
    * gate (GeneratorHonestySpec) can assert their invariants on tiny
    * frames without running main(). All three are orthogonal maps
    * applied uniformly within a copy, so within-copy dot products —
    * hence all cosine/ANN neighborhood structure — are preserved. */
  private[graft] def rotated(v: Column, k: Column, dims: Int): Column =
    concat(slice(v, k % dims + 1, lit(dims)), slice(v, lit(1), k % dims))

  /** chain (decade 3): dihedral permutation per copy — see the header. */
  private[graft] def dihedral(
      v: Column, copy: Column, copies: Int, dims: Int): Column = {
    val half = (copies + 1) / 2
    when(copy < half, rotated(v, copy * copies, dims))
      .otherwise(rotated(reverse(v), (copy - half) * copies, dims))
  }

  /** chain2 (decade 4): per-copy sign-flip diagonal — copy 0 is
    * identity; copy c negates coordinates at 0-based index i ≡ 0
    * (mod c+1). Pairwise-distinct flip sets by density. */
  private[graft] def signFlipped(v: Column, copy: Column, copies: Int): Column =
    (1 until copies).foldLeft(when(copy === 0, v)) { (acc, c) =>
      acc.when(copy === c,
        transform(v, (x, i) => when(i % (c + 1) === 0, -x).otherwise(x)))
    }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "default"
    val chain = mode == "chain" || mode == "chain2"
    val chain2 = mode == "chain2"
    val only: Set[String] =
      if (args.length > 4) args(4).split(",").map(_.trim).toSet else Set.empty
    def wanted(t: String): Boolean = only.isEmpty || only(t)
    val spark = graft.ops.SessionOps.localSession()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def explodeCopies(df: DataFrame): DataFrame =
      df.withColumn("copy", explode(array((0 until copies).map(lit): _*)))
    def write(df: DataFrame, t: String): Unit = {
      df.drop("copy").repartition(32)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> $dst/$t.parquet")
    }

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    // documents: cipher per copy, ids shifted past the source max.
    if (wanted("documents")) {
      val docs = read("documents")
      val docStride = maxOf(docs, "doc_id")
      // chain2's source alphabet spans decade-3's blocks — by the chain
      // contract both decades run with the same copy count
      write(explodeCopies(docs)
        .withColumn("doc_id", col("doc_id") + col("copy") * docStride)
        .withColumn("text",
          if (chain2) blockShift(col("text"), col("copy"), copies, copies)
          else if (chain) blockShift(col("text"), col("copy"), copies, 1)
          else caesar(col("text"), col("copy"), copies)),
        "documents")
    }

    // events: densify within the same date range.
    if (wanted("events")) {
    val ev = read("events")
    val evStride = maxOf(ev, "event_id")
    val userStride = maxOf(ev, "user_id")
    // Per-copy ~4.571 s jitter keeps copies inside the same date range
    // without colliding timestamps. Encoding-aware (the same portability
    // contract as Tables.normalizeTs): nanos-long ts shifts in ns;
    // timestamp-typed ts (LTZ or NTZ) shifts through the epoch-micros
    // domain and returns in its own type, so the written file keeps the
    // source's physical encoding — EXCEPT date32 sources, whose day
    // granularity cannot encode a seconds jitter (casting back would
    // floor it away and collide every copy's ts): those upscale to
    // timestamp[us], which the loader normalizes identically.
    val tsType = ev.schema("ts").dataType
    val shifted =
      if (tsType == org.apache.spark.sql.types.LongType)
        col("ts") + col("copy").cast("long") * 4571000000L
      else {
        // CAST the stride to BIGINT: `copy` is int and int*int overflows
        // (ANSI error) at copy >= 470 — a 1000-copy 100TB-scale run hits it
        val micro = expr(
          "timestamp_micros(unix_micros(cast(ts as timestamp)) + copy * CAST(4571000 AS BIGINT))")
        if (tsType == org.apache.spark.sql.types.DateType) micro
        else micro.cast(tsType)
      }
    write(explodeCopies(ev)
      .withColumn("event_id", col("event_id") + col("copy") * evStride)
      .withColumn("user_id", col("user_id") + col("copy") * userStride)
      .withColumn("ts", shifted),
      "events")
    }

    // embeddings: rotate coordinates by copy (within-copy dot products
    // are invariant under a shared permutation).
    if (wanted("embeddings")) {
    val emb = read("embeddings")
    val vecStride = maxOf(emb, "vec_id")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    // chain mode: dihedral permutation per copy (see header) — composed
    // with the first decade's rotations, all copies² effective copies
    // carry pairwise-distinct permutations, so no cross-copy duplicate
    // vector sets appear. Distinctness requires every composed exponent
    // to fit one residue class mod dims: rotation exponents span
    // [0, copies·(half−1)+copies−1] and reflection exponents
    // [−(copies−1), copies·(half−1)] — both width copies·(half−1)+copies.
    // Without this guard a copies/dims combination that wraps (e.g.
    // copies=16 over 64 dims: 16·c mod 64 repeats at c=4) would silently
    // alias whole copies into identical vector sets and inflate dup/knn
    // pair counts superlinearly BY CONSTRUCTION — the exact corruption
    // chain mode exists to prevent. Assumes the source decade used the
    // default rotation transform with this same copy count.
    val half = (copies + 1) / 2
    require(chain2 || !chain || copies * (half - 1) + copies <= dims,
      s"chain mode needs copies*(ceil(copies/2)-1)+copies <= dims " +
        s"(${copies * (half - 1) + copies} > $dims): composed dihedral " +
        "exponents would wrap mod dims and alias copies")
    val permuted =
      if (chain2) signFlipped(col("embedding"), col("copy"), copies)
      else if (chain) dihedral(col("embedding"), col("copy"), copies, dims)
      else rotated(col("embedding"), col("copy"), dims)
    write(explodeCopies(emb)
      .withColumn("vec_id", col("vec_id") + col("copy") * vecStride)
      .withColumn("embedding", permuted),
      "embeddings")
    }

    // relational family: consistent key shifts. Strides are computed from
    // whichever tables are needed — key consistency across tables only
    // matters when the joined tables are generated together, so a
    // filtered run computing the same strides stays join-consistent for
    // the tables it does emit.
    if (Seq("orders", "lineitem", "customer", "part", "supplier")
          .exists(wanted)) {
      val orders = read("orders")
      val li = read("lineitem")
      val cust = read("customer")
      val part = read("part")
      val supp = read("supplier")
      val oStride = maxOf(orders, "o_orderkey")
      val cStride = maxOf(cust, "c_custkey")
      val pStride = maxOf(part, "p_partkey")
      val sStride = maxOf(supp, "s_suppkey")
      if (wanted("orders")) write(explodeCopies(orders)
        .withColumn("o_orderkey", col("o_orderkey") + col("copy") * oStride)
        .withColumn("o_custkey", col("o_custkey") + col("copy") * cStride),
        "orders")
      if (wanted("lineitem")) write(explodeCopies(li)
        .withColumn("l_orderkey", col("l_orderkey") + col("copy") * oStride)
        .withColumn("l_partkey", col("l_partkey") + col("copy") * pStride)
        .withColumn("l_suppkey", col("l_suppkey") + col("copy") * sStride),
        "lineitem")
      if (wanted("customer")) write(explodeCopies(cust)
        .withColumn("c_custkey", col("c_custkey") + col("copy") * cStride),
        "customer")
      if (wanted("part")) write(explodeCopies(part)
        .withColumn("p_partkey", col("p_partkey") + col("copy") * pStride),
        "part")
      if (wanted("supplier")) write(explodeCopies(supp)
        .withColumn("s_suppkey", col("s_suppkey") + col("copy") * sStride),
        "supplier")
    }
    // dimensions: copied verbatim.
    Seq("nation", "region").filter(wanted)
      .foreach(t => write(read(t), t))
    spark.stop()
  }
}
