package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions._

/** Every graft expression gives the same bits whichever way Spark
  * evaluates it: generated code (`spark.sql.codegen.factoryMode` =
  * CODEGEN_ONLY, whole-stage codegen on), interpreted projections
  * (NO_CODEGEN, whole-stage codegen off) and a direct `eval` of the bound
  * expression. The inputs are seeded random rows read through an RDD, so
  * the optimizer cannot fold the projection over a local relation with
  * the interpreter. Also guards the rule that keeps the two paths from
  * drifting: generated Java calls a kernel and holds no loop. */
class ExpressionParitySpec extends AnyFunSuite {
  lazy val spark = SparkTest.session

  private val FactoryMode = "spark.sql.codegen.factoryMode"
  private val WholeStage = "spark.sql.codegen.wholeStage"

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** `v` with every double and float replaced by its raw bits and every
    * array or struct by a Vector of its normalized elements. */
  private def bits(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case r: Row => r.toSeq.map(bits).toVector
    case s: scala.collection.Seq[_] => s.map(bits).toVector
    case a: Array[_] => a.toSeq.map(bits).toVector
    case o => o
  }

  private def collectUnder(df: DataFrame, cols: Seq[Column], codegen: Boolean): Seq[Any] = {
    val conf = spark.conf
    val saved = Seq(FactoryMode, WholeStage).map(k => k -> conf.getOption(k))
    conf.set(FactoryMode, if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    conf.set(WholeStage, codegen.toString)
    try {
      val q = df.select(cols: _*)
      val fused = q.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(fused == codegen, s"whole-stage codegen $fused under codegen=$codegen")
      q.collect().toSeq.map(bits)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Each output column of `cols` over `df`'s rows by `eval` of the
    * bound expression on the input's internal rows. */
  private def directEval(df: DataFrame, cols: Seq[Column]): Seq[Any] = {
    val plan = df.select(cols: _*).queryExecution.analyzed.asInstanceOf[Project]
    val bound: Seq[Expression] =
      plan.projectList.map(e => BindReferences.bindReference(e: Expression, plan.child.output))
    val inputs = df.queryExecution.toRdd.map(_.copy()).collect()
    inputs.toSeq.map { r =>
      bits(Row.fromSeq(bound.map(e =>
        CatalystTypeConverters.convertToScala(e.eval(r), e.dataType))))
    }
  }

  private def assertParity(df: DataFrame, cols: Seq[Column]): Unit = {
    val generated = collectUnder(df, cols, codegen = true)
    val interpreted = collectUnder(df, cols, codegen = false)
    val direct = directEval(df, cols)
    assert(generated.size == df.count())
    for (((g, i), (d, n)) <- generated.zip(interpreted).zip(direct.zipWithIndex)) {
      assert(g == i, s"row $n: codegen $g != interpreted $i")
      assert(g == d, s"row $n: codegen $g != eval $d")
    }
  }

  test("float-array kernels: cosine, squared distance, LSH bands and plane dots") {
    val rnd = new scala.util.Random(20261019L)
    val dims = 6
    def len(): Int = rnd.nextInt(10) match {
      case 0 => 0
      case 1 => dims + 1 + rnd.nextInt(3)
      case 2 => 1 + rnd.nextInt(dims - 1)
      case _ => dims
    }
    def value(): Double = rnd.nextInt(8) match {
      case 0 => 0.0
      case _ => rnd.nextGaussian()
    }
    // typed Any per branch: an if over Float and Double widens to Double
    def arr(floats: Boolean, nulls: Boolean): Any =
      if (nulls && rnd.nextInt(12) == 0) null
      else Seq.fill[Any](len()) {
        if (nulls && rnd.nextInt(15) == 0) null
        else if (floats) value().toFloat: Any
        else value(): Any
      }
    val schema = StructType(Seq(
      StructField("fn", ArrayType(FloatType, containsNull = true)),
      StructField("f", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("dn", ArrayType(DoubleType, containsNull = true)),
      StructField("d", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val rows = Seq.fill(300)(Row(arr(floats = true, nulls = true), arr(floats = true, nulls = false),
      arr(floats = false, nulls = true), arr(floats = false, nulls = false))) ++ Seq(
      Row(Seq.fill(dims)(0.0f), Seq.fill(dims)(0.0f), Seq.fill(dims)(0.0), Seq.fill(dims)(0.0)),
      Row(Seq.empty, Seq.empty, Seq.empty, Seq.empty),
      Row(null, Seq(1.0f), null, Seq(1.0, 2.0)))
    val df = frame(schema, rows)
    val Seq(fn, f, dn, d) = Seq("fn", "f", "dn", "d").map(col)
    val pairs = Seq((fn, d), (f, dn), (f, d), (d, f), (fn, dn), (d, d))
    val thresholds = Seq.fill(2 * 3)(rnd.nextGaussian())
    val cols =
      pairs.map { case (a, b) => CosineSimilarity.cosineSim(a, b) } ++
      pairs.map { case (a, b) => SquaredDistance.squaredDist(a, b) } ++
      Seq(fn, f, dn, d).flatMap(x => Seq(
        LshBands.lshBands(x, 3, 4, dims),
        LshBands.lshBands(x, 2, 3, dims, bandOffset = 1, thresholds = thresholds),
        LshBands.lshBands(x, 2, 3, dims, thresholds = thresholds),
        LshBands.lshBands(x, 2, 2, dims, bandOffset = 3),
        LshPlaneDots.planeDots(x, 2, 3, dims, bandOffset = 2)))
    assertParity(df, cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") })
  }

  test("long-set kernels: Jaccard family, containment, MinHash and SimHash") {
    val rnd = new scala.util.Random(7331L)
    def set(): Seq[Long] = rnd.nextInt(10) match {
      case 0 => Seq.empty
      case _ => Seq.fill(rnd.nextInt(25))(rnd.nextInt(40).toLong).distinct.sorted
    }
    val random = Seq.fill(300)((set(), set()))
    val edges = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L), Seq.empty[Long]),
      (Seq.empty[Long], Seq(3L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(-5L, 0L, 7L), Seq(-5L, 7L, 9L, 11L)))
    val schema = StructType(Seq(
      StructField("a", ArrayType(LongType, containsNull = false)),
      StructField("b", ArrayType(LongType, containsNull = false))))
    val rows = (random ++ edges).map { case (a, b) => Row(a, b) } :+ Row(null, Seq(1L)) :+
      Row(Seq(2L), null)
    val df = frame(schema, rows)
    // thresholds at the ends, and just above and below Jaccard values
    // that pairs in the frame hit exactly
    val hits = Seq((1, 3), (2, 5), (1, 2), (2, 3)).map { case (i, u) => i.toDouble / (u - i) }
    val ts = (Seq(0.0, 1.0) ++ hits.flatMap(h => Seq(Math.nextDown(h), h, Math.nextUp(h))))
      .filter(t => t >= 0.0 && t <= 1.0)
    val (a, b) = (col("a"), col("b"))
    val cols = Seq(
      JaccardSimilarity.jaccardSim(a, b),
      JaccardSimilarity.jaccardSimSorted(a, b),
      InterCountSorted.interCountSorted(a, b),
      TextHash.minHash(a, 7L, 3L),
      TextHash.simHash16(b)) ++
      ts.map(t => JaccardGeqSorted.jaccardGeqSorted(a, b, t)) ++
      Seq((9, 10), (1, 2), (0, 1), (1, 1), (2, 3)).map { case (p, q) =>
        ContainGeqSorted.containGeqSorted(a, b, p, q)
      }
    assertParity(df, cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") })
    // the thresholds do separate: some pair sits exactly on a hit
    val jac = df.select(JaccardSimilarity.jaccardSimSorted(a, b)).collect()
      .filterNot(_.isNullAt(0)).map(_.getDouble(0)).toSet
    assert(hits.exists(jac.contains), s"no pair hits any of $hits")
  }

  test("string kernels: text hashes, repetition stats, bigram L1, VADER") {
    val rnd = new scala.util.Random(4242L)
    val vocab = Seq("good", "bad", "not", "very", "", "café", "好", "😀", "a", "b!", "ok?")
    def text(): String = rnd.nextInt(12) match {
      case 0 => null
      case 1 => ""
      case _ => Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val schema = StructType(Seq(StructField("s", StringType), StructField("t", StringType)))
    val df = frame(schema, Seq.fill(300)(Row(text(), text())))
    val (s, t) = (col("s"), col("t"))
    val vader = ColumnBridge.column(VaderScore(ColumnBridge.expression(s),
      graft.ops.EnrichOps.vaderLexicon(graft.ops.EnrichOps.lexicon)))
    val cols = Seq(
      TextHash.polyHash(s), TextHash.tokenHashes(s), TextHash.shingleHashes(s),
      TextHash.ngramHashes(s, 2), TextHash.repetitionStats(s),
      TextHash.simHash16(TextHash.tokenHashes(t)), BigramL1.bigramL1(s, t), vader)
    assertParity(df, cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") })
  }

  /** The Java string literals inside each `doGenCode` of `source` that
    * hold a `for (` or `while (`, with the line each method starts on. */
  private def loopsInGeneratedJava(source: String): Seq[(Int, String)] = {
    val Loop = """\b(for|while)\s*\(""".r
    val Triple = "(?s)\"\"\".*?\"\"\"".r
    val Single = "\"(?:[^\"\\\\\\n]|\\\\.)*\"".r
    val lines = source.split("\n", -1).toSeq
    lines.zipWithIndex.filter(_._1.contains("def doGenCode")).flatMap { case (line, start) =>
      val indent = line.indexWhere(_ != ' ')
      // the method runs until the next member or the end of its class
      val body = lines.drop(start).zipWithIndex.takeWhile { case (l, i) =>
        i == 0 || l.trim.isEmpty || l.indexWhere(_ != ' ') > indent
      }.map(_._1).mkString("\n")
      val triples = Triple.findAllIn(body).toSeq
      val singles = Single.findAllIn(Triple.replaceAllIn(body, "")).toSeq
      (triples ++ singles).filter(Loop.findFirstIn(_).isDefined).map(start + 1 -> _)
    }
  }

  test("no doGenCode in graft.expressions emits a loop in generated Java") {
    // Generated code calls the kernel the interpreted path runs; a loop
    // in a Java string is a second implementation to keep in step by hand.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft/expressions")
    val files = scala.util.Using.resource(Files.list(root))(_.iterator.asScala.toList)
      .filter(_.toString.endsWith(".scala"))
    val sources = files.map(f => f -> Files.readString(f))
    val methods = sources.map(_._2.split("\n").count(_.contains("def doGenCode"))).sum
    assert(methods >= 15, s"only $methods doGenCode methods found under $root")
    val found = sources.flatMap { case (f, text) =>
      loopsInGeneratedJava(text).map { case (l, lit) => s"$f:$l: $lit" }
    }
    assert(found.isEmpty, found.mkString("\n"))
    // the scan does see a loop emitted the way the kernels once were
    val sample =
      """case class X(left: Expression, right: Expression) extends BinaryExpression {
        |  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
        |    nullSafeCodeGen(ctx, ev, (a, b) => {
        |      val i = ctx.freshName("i")
        |      s$TQ
        |         |for (int $i = 0; $i < $a.numElements(); $i++) { }
        |       $TQ.stripMargin
        |    })
        |  override def dataType: DataType = DoubleType
        |}
        |""".stripMargin.replace("$TQ", "\"\"\"")
    assert(loopsInGeneratedJava(sample).map(_._1) == Seq(2))
    assert(loopsInGeneratedJava(
      "  override def doGenCode(c: C, ev: E): E =\n    f(s\"while ($x) {}\")\n").size == 1)
  }
}
