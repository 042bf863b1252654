package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** Containment dedup + near-dup-graph analytics. Values are oracle-checked
  * by the driver; these specs pin the invariants the hash compare can't
  * express — above all that prefix filtering is a LOSSLESS candidate
  * prune (the scaled path finds exactly the all-pairs result). */
class DedupGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  private val SF = "/root/testdata/sf0.001"

  private def q(name: String) = TextQueries.queries(name)(spark, SF)

  // ---- dedup_containment ------------------------------------------------

  test("dedup_containment: prefix filtering loses no pair vs brute-force all-pairs") {
    val got = q("dedup_containment")
      .select("a_id", "b_id", "cont").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // brute force: every ordered (smaller, larger) doc pair, exact verify
    val sh = graft.model.Tables.documents(spark, SF)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        array_sort(graft.expressions.TextHash.shingleHashes(col("text"))).as("sh"))
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val brute = a.crossJoin(b)
      .filter(size(col("a_sh")) < size(col("b_sh")) ||
        (size(col("a_sh")) === size(col("b_sh")) && col("a_id") < col("b_id")))
      .withColumn("i", size(array_intersect(col("a_sh"), col("b_sh"))))
      .filter(col("i") * 10 >= size(col("a_sh")) * 9)
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") / size(col("a_sh"))).as("cont"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(got == brute,
      s"prefix-filtered result must equal all-pairs: missing=${brute -- got}, extra=${got -- brute}")
    assert(brute.nonEmpty, "testdata should contain at least one containment pair")
  }

  test("dedup_containment: emission convention and threshold hold") {
    val rows = q("dedup_containment").collect()
    assert(rows.forall(r => r.getDouble(2) >= 0.9 && r.getDouble(2) <= 1.0),
      "containment in [0.9, 1.0]")
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "no self-pairs")
  }

  // ---- graph_triangle_count ---------------------------------------------

  test("graph_triangle_count: vertex participation sums to 3x the triangle count") {
    val out = q("graph_triangle_count").cache()
    val total = out.agg(sum(col("n_tri"))).head().getLong(0)
    assert(total % 3 == 0, "each triangle contributes exactly 3 vertex rows")
    assert(out.filter(col("n_tri") <= 0).count() == 0, "only triangle members appear")

    // cross-check against a driver-side enumeration of the pair store
    val pairs = TextQueries.queries("dedup_ngram_jaccard")(spark, SF)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    var nTri = 0L
    for (Seq(x, y, z) <- verts.combinations(3))
      if (pairs((x, y)) && pairs((y, z)) && pairs((x, z))) nTri += 1
    assert(total == 3 * nTri, s"expected $nTri triangles, engine reported ${total / 3}")
  }

  // ---- graph_clustering_coeff -------------------------------------------

  test("graph_clustering_coeff: bounded, complete over deg>=2, consistent with triangles") {
    val out = q("graph_clustering_coeff").cache()
    assert(out.filter(col("coeff") < 0 || col("coeff") > 1).count() == 0,
      "coefficient lives in [0, 1]")
    assert(out.filter(col("deg") < 2).count() == 0, "undefined below degree 2")
    // coeff = 2*tri / (deg*(deg-1)) must hold row-wise
    assert(out.filter(col("coeff") =!=
      (col("n_tri") * 2).cast("double") / (col("deg") * (col("deg") - 1))).count() == 0)
    // the triangle column must agree with graph_triangle_count for
    // every doc that appears in both
    val tri = q("graph_triangle_count")
    assert(out.join(tri, "doc_id")
      .filter(out("n_tri") =!= tri("n_tri")).count() == 0,
      "per-doc triangle participation must match the standalone query")
  }

  test("minhashPairsStore holds DISTINCT (a_id, b_id) pairs at sf0.01") {
    // lsh_recall_eval counts hits with ONE left join of the truth pairs
    // against this store: a duplicated store pair would fan out and
    // inflate both n_truth and n_hit, so the first-collision-band dedup
    // that keeps the store distinct is pinned here.
    val pairs = TextQueries.minhashPairsStore(spark, "/root/testdata/sf0.01")
    val n = pairs.count()
    assert(n > 0, "sf0.01 must yield minhash pairs for this pin to bite")
    assert(n == pairs.select("a_id", "b_id").distinct().count(),
      "minhash pair store carries duplicate (a_id, b_id) rows")
  }

  test("graph_kcore: equals the exact converged 3-core with its degrees") {
    val got = q("graph_kcore").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact reference: peel to convergence on the collected edge list
    val pairs = TextQueries.jaccardPairsStore(spark, SF)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var edges = (pairs ++ pairs.map(p => (p._2, p._1))).toSet
    var changed = true
    var rounds = 0
    while (changed) {
      rounds += 1
      val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size }
      val keep = deg.filter(_._2 >= 3).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      edges = next
    }
    assert(rounds <= 6,
      s"fixed 6-round contract no longer converges at this SF: needed $rounds")
    val ref = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    assert(got == ref, "engine 3-core differs from the exact converged peel")
    // fixpoint: every surviving node genuinely keeps >= 3 core neighbors
    assert(got.values.forall(_ >= 3))

    // driver fast path ≡ distributed loop (r15): the default gate takes
    // the driver peel at this SF; forcing the gate to 0 bytes runs the
    // distributed loop — identical (doc_id, deg) sets, same contract as
    // the CC driver≡loop pins in ScaleQueriesSpec.
    spark.conf.set(graft.ops.GraphOps.CC_DRIVER_MAX_KEY, "0")
    val loop = try q("graph_kcore").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.unset(graft.ops.GraphOps.CC_DRIVER_MAX_KEY)
    assert(loop == got, "kcore driver peel diverged from the distributed loop")
  }
}
