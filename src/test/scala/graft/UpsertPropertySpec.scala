package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.ops.SessionOps
import graft.plans.UpsertMerge
import graft.streaming.StreamOps

/** The upsert node ([[graft.plans.UpsertMerge]], `StreamOps.upsertBatch`)
  * equals the composed window + retention reference ([[UpsertReference]])
  * row for row, with the same schema, nullability included, through
  * `collect()`, `count()` and a parquet write. Stores (one row per id) and
  * batches are random and spread over 3 partitions, with null ids, event
  * times and types, few distinct event times and contents (ties, whole-row
  * duplicates), whole-day event times so rows fall exactly on the cutoff,
  * empty stores and batches, a batch missing a column, and the same batch
  * applied twice. A second property folds the same messages in two random
  * splits and orders, with retention off, into the same store. */
object UpsertPropertySpec extends Properties("graft.upsert") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = SparkTest.session

  private val Day = 86400L
  private val RetainType = "daily_summary"

  private val Schema = StructType(Seq(
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("publish_time", LongType),
    StructField("price", DoubleType),
    StructField("emb", ArrayType(FloatType, containsNull = false))))

  private def nullable[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 6 -> g)

  private def rowGen(types: Gen[Any], times: Gen[Any]): Gen[Row] = for {
    id <- nullable(Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
    tpe <- types
    pt <- times
    price <- nullable(Gen.oneOf(1.0, 2.0))
    emb <- nullable(Gen.listOfN(2, Gen.oneOf(0f, 1f)).map(_.toArray))
  } yield Row(id, tpe, pt, price, emb)

  private val anyRow = rowGen(nullable(Gen.oneOf(RetainType, "news")),
    nullable(Gen.choose(0L, 4L).map(_ * 10 * Day)))

  private val batchGen: Gen[Seq[Row]] = Gen.choose(0, 12).flatMap(Gen.listOfN(_, anyRow))
  /** A store holds at most one row per id. */
  private val storeGen: Gen[Seq[Row]] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, anyRow)).map(_.distinctBy(_.get(0)))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Schema)

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  private def readBack(df: DataFrame): Seq[Row] = {
    val dir = java.nio.file.Files.createTempDirectory("upsert_prop").toString
    try {
      df.write.mode("overwrite").parquet(dir)
      sorted(spark.read.parquet(dir).collect().toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Evaluated eagerly: `&&` takes its right side by name, and the frames
    * may be released before a lazy Prop runs. */
  private def agrees(node: DataFrame, ref: DataFrame, what: String): Prop = {
    val want = sorted(ref.collect().toSeq)
    val got = sorted(node.collect().toSeq)
    val count = node.count()
    val written = readBack(node)
    val wantWritten = readBack(ref)
    (node.schema == ref.schema) :| s"$what: schema ${node.schema} != ${ref.schema}" &&
      (got == want) :| s"$what: rows $got != $want" &&
      (count == want.size.toLong) :| s"$what: count" &&
      (written == wantWritten) :| s"$what: parquet write"
  }

  property("UpsertMerge == window + retention reference: rows, schema, count, parquet write") =
    forAll(storeGen, batchGen, Gen.oneOf(false, true), Gen.oneOf(10, 30)) {
      (storeRows, batchRows, dropColumn, days) =>
        val store = frame(storeRows)
        val batch = if (dropColumn) frame(batchRows).drop("emb") else frame(batchRows)
        val ref = UpsertReference.upsert(store, batch, RetainType, days)
        val once = StreamOps.upsertBatch(store, batch, RetainType, days)
        try {
          val twice = StreamOps.upsertBatch(once, batch, RetainType, days)
          try {
            val node = agrees(UpsertMerge(store, batch, RetainType, days), ref, "node")
            val materialized = agrees(once, ref, "upsertBatch")
            val again = agrees(twice, UpsertReference.upsert(ref, batch, RetainType, days),
              "applied twice")
            node && materialized && again
          } finally SessionOps.releaseQuiet(twice)
        } finally SessionOps.releaseQuiet(once)
    }

  // Event times are never null and every type is named, so with a cutoff
  // thousands of years back retention deletes nothing.
  private val foldRow = rowGen(Gen.oneOf(RetainType, "news"), Gen.choose(0L, 4L).map(_ * 10 * Day))

  /** `rows` upserted one batch per slice, in order, from an empty store. */
  private def fold(rows: Seq[Row], cuts: Seq[Int]): Seq[Row] = {
    val bounds = (0 +: cuts.filter(c => c > 0 && c < rows.size).distinct.sorted) :+ rows.size
    var store = frame(Nil)
    bounds.sliding(2).foreach { case Seq(from, until) =>
      val next = StreamOps.upsertBatch(store, frame(rows.slice(from, until)), RetainType, 100000)
      SessionOps.releaseQuiet(store)
      store = next
    }
    try sorted(store.collect().toSeq) finally SessionOps.releaseQuiet(store)
  }

  property("any split and order of the same messages folds to the same store (retention off)") =
    forAll(Gen.choose(0, 16).flatMap(Gen.listOfN(_, foldRow)),
        Gen.listOf(Gen.choose(0, 16)), Gen.listOf(Gen.choose(0, 16)), Gen.long) {
      (rows, cutsA, cutsB, seed) =>
        val shuffled = new scala.util.Random(seed).shuffle(rows)
        val oneShot = fold(rows, Nil)
        val inOrder = fold(rows, cutsA)
        val reordered = fold(shuffled, cutsB)
        (inOrder == oneShot) :| s"in order: $inOrder != $oneShot" &&
          (reordered == oneShot) :| s"shuffled: $reordered != $oneShot"
    }
}
