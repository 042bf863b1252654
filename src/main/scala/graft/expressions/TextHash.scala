package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd text-hashing kernels for the dedup pipeline.
  *
  * The HOF formulations in [[graft.ops.TextOps]] (`aggregate` over
  * `transform` over `split(s, "")`) are evaluated by Catalyst's
  * interpreted lambda machinery: one single-character UTF8String
  * allocation per character, one boxed long per fold step, re-entered
  * per token and per shingle. Profiling the sf0.1 bench showed this
  * hashing dominating `dedup_minhash_lsh` / `dedup_shingle_jaccard`.
  * These expressions compute the IDENTICAL fold —
  * `acc := (acc * 31 + codePoint) mod 1e9+7` over the same
  * `split(text, " ")` token stream — in one tight Java loop per
  * document, so results are bit-equal to the HOF forms (spec'd in
  * CustomExprSpec) and to the DuckDB oracle, while staying inside
  * whole-stage codegen via static helper calls.
  */
object TextHash {
  val P: Long = 1000000007L

  /** Fold (acc·31 + codePoint) mod P over the string's code points —
    * matches `aggregate(transform(split(s, ""), ascii), ...)`: Spark's
    * empty-regex split yields one single-char string per code point and
    * `ascii` returns its code point. */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  private def polyHashJava(str: String): Long = {
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Hashes of first-occurrence-distinct whitespace tokens — matches
    * `transform(array_distinct(split(text, " ")), polyHash)`.
    * `String.split(" ", -1)` mirrors Spark's `split` (regex, limit −1:
    * trailing empty tokens kept). */
  def tokenHashes(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < toks.length) { seen.add(toks(i)); i += 1 }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = polyHashJava(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** First-occurrence-distinct polynomial hashes of word 3-gram
    * shingles (tokens joined by a single space) — matches
    * `array_distinct(transform(sequence(0, n-3), i ->
    * polyHash(concat_ws(" ", slice(tokens, i+1, 3)))))`. Empty array
    * when fewer than 3 tokens. */
  def shingleHashes(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= toks.length - 3) {
      seen.add(polyHashJava(toks(i) + " " + toks(i + 1) + " " + toks(i + 2)))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** min over (x·a + b) mod P — matches
    * `array_min(transform(hashes, x => (x*a + b) % P))`. Null on empty
    * input like `array_min`. */
  def minHash(hashes: ArrayData, a: Long, b: Long): java.lang.Long = {
    val n = hashes.numElements()
    if (n == 0) return null
    var m = Long.MaxValue
    var i = 0
    while (i < n) {
      val h = (hashes.getLong(i) * a + b) % P
      if (h < m) m = h
      i += 1
    }
    java.lang.Long.valueOf(m)
  }

  /** 16-bit SimHash: bit b set iff Σ_tokens (2·bit_b(hash) − 1) > 0 —
    * one pass over the hashes instead of 16 interpreted folds. */
  def simHash16(hashes: ArrayData): Long = {
    val votes = new Array[Int](16)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 16) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 16) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Polynomial hashes of ALL word n-grams in order (NOT distinct —
    * the array index IS the 0-based token position of the gram's first
    * token, which the substring-span dedup needs). Matches
    * `transform(sequence(1, len-n+1), i ->
    * polyHash(array_to_string(toks[i:i+n-1], ' ')))`. Empty array when
    * fewer than n tokens. */
  def ngramHashes(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = polyHashJava(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Gopher-style repetition statistics in ONE tokenize pass:
    * (n_tokens, max unigram count, max bigram count). Bit-equal to the
    * HOF chain `size(toks)` / `maxFreq(toks)` / `maxFreq(bigrams(toks))`
    * (spec'd in TextOpsSpec) but a single tight loop per call — so when
    * Catalyst inlines the quality filter's predicate and evaluates the
    * expression once per field reference, each evaluation is
    * microseconds instead of an interpreted array_sort+fold per
    * reference (the corpus_curation_pipeline hotspot: 3.9 s vs 0.2 s on
    * 5 k sf0.1 docs). top_bi is null when n_tokens < 2, mirroring
    * maxFreq's null on an empty bigram array. */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    val uni = new java.util.HashMap[String, Integer]()
    var best = 0
    var i = 0
    while (i < n) {
      val c = uni.merge(toks(i), Integer.valueOf(1), (x, y) => Integer.valueOf(x + y))
      if (c > best) best = c.intValue()
      i += 1
    }
    var bbest = 0
    if (n >= 2) {
      val bi = new java.util.HashMap[String, Integer]()
      var j = 0
      while (j < n - 1) {
        val c = bi.merge(toks(j) + " " + toks(j + 1), Integer.valueOf(1),
          (x, y) => Integer.valueOf(x + y))
        if (c > bbest) bbest = c.intValue()
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, best, if (n >= 2) bbest else null))
  }

  // ---- Column API --------------------------------------------------------
  def polyHash(s: Column): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(s)))
  def tokenHashes(text: Column): Column =
    ColumnBridge.column(TokenPolyHashes(ColumnBridge.expression(text)))
  def shingleHashes(text: Column): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text)))
  def minHash(hashes: Column, a: Long, b: Long): Column =
    ColumnBridge.column(MinHashExpr(ColumnBridge.expression(hashes),
      org.apache.spark.sql.catalyst.expressions.Literal(a),
      org.apache.spark.sql.catalyst.expressions.Literal(b)))
  def simHash16(hashes: Column): Column =
    ColumnBridge.column(SimHash16(ColumnBridge.expression(hashes)))
  def repetitionStats(text: Column): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(text)))
  def ngramHashes(text: Column, n: Int): Column =
    ColumnBridge.column(NGramHashes(ColumnBridge.expression(text), n))
}

private[expressions] trait StringInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"${getClass.getSimpleName} expects string input, got ${dt.catalogString}")
  }
}

case class PolyHash(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(s: Any): Any =
    TextHash.polyHash(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.polyHash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class TokenPolyHashes(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(s: Any): Any =
    TextHash.tokenHashes(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.tokenHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashes(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(s: Any): Any =
    TextHash.shingleHashes(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.shingleHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (hashes, a, b) → min((x·a + b) mod P); a and b must be literals. */
case class MinHashExpr(hashes: Expression, a: Expression, b: Expression)
    extends Expression {
  override def children: Seq[Expression] = Seq(hashes, a, b)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    (hashes.dataType, a.dataType, b.dataType) match {
      case (ArrayType(LongType, _), LongType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "min_hash expects (array<bigint>, bigint, bigint)")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val h = hashes.eval(input)
    if (h == null) return null
    val av = a.eval(input)
    val bv = b.eval(input)
    if (av == null || bv == null) return null
    TextHash.minHash(h.asInstanceOf[ArrayData],
      av.asInstanceOf[Long], bv.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val hCode = hashes.genCode(ctx)
    val aCode = a.genCode(ctx)
    val bCode = b.genCode(ctx)
    val boxed = ctx.freshName("mh")
    ev.copy(code =
      code"""
            |${hCode.code}
            |${aCode.code}
            |${bCode.code}
            |boolean ${ev.isNull} = true;
            |long ${ev.value} = -1L;
            |if (!${hCode.isNull} && !${aCode.isNull} && !${bCode.isNull}) {
            |  java.lang.Long $boxed = graft.expressions.TextHash.minHash(
            |    ${hCode.value}, ${aCode.value}, ${bCode.value});
            |  if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.longValue(); }
            |}
          """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hashes = newChildren(0), a = newChildren(1), b = newChildren(2))
}

/** text → ordered array of word n-gram polynomial hashes — see
  * [[TextHash.ngramHashes]]. `n` is a compile-time constant, not a
  * child expression, so codegen bakes it into the static call. */
case class NGramHashes(child: Expression, n: Int)
    extends UnaryExpression with StringInput {
  require(n >= 1, s"ngram size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(s: Any): Any =
    TextHash.ngramHashes(s.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.ngramHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → struct(n_tokens, top_uni, top_bi) — see
  * [[TextHash.repetitionStats]]. */
case class RepetitionStats(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("top_uni", IntegerType, nullable = false),
    StructField("top_bi", IntegerType, nullable = true)))
  override protected def nullSafeEval(s: Any): Any =
    TextHash.repetitionStats(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash16(child: Expression) extends UnaryExpression with LongArrayInputs {
  override def dataType: DataType = LongType
  override protected def fnName: String = "SimHash16"
  override protected def nullSafeEval(h: Any): Any =
    TextHash.simHash16(h.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.simHash16($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
