package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.plans.{QueryIntent, QuerySpec, RagPlans}

/** `RagPlans.search` (the [[graft.plans.RagSearch]] node) equals the
  * composed DataFrame reference ([[RagReference]]) row for row, with the
  * same schema, nullability included, through `collect()`, `count()` and
  * a parquet write. Stores are random and spread over 3 partitions; 0/1
  * vector components and a few (ticker, ts) values force equal dists
  * (vec_id breaks the tie), duplicate (ticker, ts) keys, zero vectors and
  * null embeddings. Windows may be empty, k may exceed the rows and topN
  * may exceed k; both intents. The query frame is a `LocalRelation`
  * (read on the driver) in one property and RDD-backed (read by a job)
  * in the other; a third sends several specs against one store. */
object RagSearchPropertySpec extends Properties("graft.rag") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val vecGen: Gen[Array[Float]] =
    Gen.frequency(
      1 -> Gen.const(null),
      12 -> Gen.listOfN(3, Gen.oneOf(0f, 1f)).map(_.toArray))

  private val rowGen: Gen[(Array[Float], String, Long)] = for {
    emb <- vecGen
    ticker <- Gen.oneOf("A", "B")
    ts <- Gen.choose(0L, 3L).map(_ * 60L)
  } yield (emb, ticker, ts)

  /** Rows with vec_ids shuffled, so id order is not arrival order. */
  private val storeGen: Gen[Seq[Row]] = for {
    n <- Gen.choose(0, 30)
    rows <- Gen.listOfN(n, rowGen)
    ids <- Gen.pick(n, 0L until 100L)
    keys <- Gen.listOfN(n, Gen.choose(0, 1 << 20))
    shuffled = ids.zip(keys).sortBy(_._2).map(_._1)
  } yield rows.zip(shuffled).map { case ((e, t, ts), id) => Row(id, e, t, ts) }

  private val specGen: Gen[QuerySpec] = for {
    ticker <- Gen.option(Gen.oneOf("A", "B", "C"))
    start <- Gen.choose(-60L, 200L)
    len <- Gen.choose(-60L, 240L) // negative: an empty window
    intent <- Gen.oneOf(QueryIntent.RealTime, QueryIntent.Historical)
    now <- Gen.choose(0L, 300L)
    k <- Gen.choose(1, 25)
    topN <- Gen.choose(1, 25)
  } yield QuerySpec(ticker, start, start + len, intent, now, k, topN)

  private val StoreSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("ticker", StringType),
    StructField("ts", LongType, nullable = false)))

  private def storeOf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StoreSchema)

  private def readBack(df: DataFrame): Seq[Row] = {
    val dir = java.nio.file.Files.createTempDirectory("rag_search_prop").toString
    try {
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).collect().toSeq.sortBy(_.getLong(0))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** `RagPlans.search` against [[RagReference]] with the query frame `q`. */
  private def agrees(rows: Seq[Row], spec: QuerySpec, q: DataFrame): Prop = {
    val store = storeOf(rows)
    val node = RagPlans.search(spec, q)(store)
    val ref = RagReference.search(spec, q)(store)
    val got = node.collect().toSeq
    val want = ref.collect().toSeq
    (node.schema == ref.schema) :| s"schema ${node.schema} != ${ref.schema}" &&
      (got == want) :| s"rows $got != $want for $spec" &&
      (node.count() == want.size.toLong) :| "count" &&
      (readBack(node) == readBack(ref)) :| "parquet write"
  }

  property("RagSearch == composed reference: rows, schema, count, parquet write") =
    forAll(storeGen, vecGen, specGen) { (rows, qv, spec) =>
      agrees(rows, spec, Seq(Tuple1(qv)).toDF("q_emb"))
    }

  // An RDD-backed query frame is read by a job of its own, not on the driver.
  property("RagSearch == composed reference with a job-backed query frame") =
    forAll(storeGen, vecGen, specGen) { (rows, qv, spec) =>
      val local = Seq(Tuple1(qv)).toDF("q_emb")
      agrees(rows, spec, spark.createDataFrame(local.rdd, local.schema))
    }

  // Requests back to back against one store share its prepared scans: a
  // repeated route reuses the first request's scan whatever its window,
  // intent, `now`, k and topN.
  property("RagSearch == composed reference for several specs against one store") =
    forAll(storeGen, vecGen, Gen.listOfN(4, specGen)) { (rows, qv, specs) =>
      val store = storeOf(rows)
      val q = Seq(Tuple1(qv)).toDF("q_emb")
      specs.map { spec =>
        val got = RagPlans.search(spec, q)(store).collect().toSeq
        val want = RagReference.search(spec, q)(store).collect().toSeq
        (got == want) :| s"rows $got != $want for $spec"
      }.reduce(_ && _)
    }
}
