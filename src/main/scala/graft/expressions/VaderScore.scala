package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** The word tables of one VADER scorer and its scoring loop.
  *
  * [[score]] computes the same fold as the HOF reference (`VaderReference`
  * in the test sources) over the same `split(text, " ")` tokens, in one
  * loop per document: each token has its '!'/'?' characters
  * removed, takes its lexicon valence, is pushed away from zero by the
  * booster increments of the three tokens before it (damped 1, 0.95, 0.9),
  * and is scaled by `nScalar` when any of those three tokens is a
  * negation; the sum then gains the '!' and '?' emphasis in its own
  * direction and is normalized to s/√(s²+15). The operations and their
  * order are those of the reference, so results are bit-equal (spec'd in
  * TextOpsSpec). Spark's double comparison orders NaN above every value,
  * so a NaN counts as positive here too.
  *
  * Duplicate lexicon words are rejected: the reference's map literal
  * fails on them as well. Booster words resolve first-listed-wins, as the
  * reference's when-chain does. */
final class VaderLexicon(
    valences: Seq[(String, Double)],
    boosters: Seq[(String, Double)],
    negations: Seq[String],
    nScalar: Double) extends Serializable {

  private val valence = new java.util.HashMap[String, java.lang.Double]()
  valences.foreach { case (w, v) =>
    require(valence.put(w, v) == null, s"duplicate lexicon word '$w'")
  }
  private val booster = new java.util.HashMap[String, java.lang.Double]()
  boosters.foreach { case (w, b) => booster.putIfAbsent(w, b) }
  private val negation = new java.util.HashSet[String]()
  negations.foreach(negation.add)

  private def positive(x: Double): Boolean = x > 0.0 || java.lang.Double.isNaN(x)

  private def lookup(m: java.util.HashMap[String, java.lang.Double], t: String): Double = {
    val v = m.get(t)
    if (v == null) 0.0 else v.doubleValue
  }

  /** `t` without its '!' and '?' characters (`regexp_replace(t, "[!?]", "")`). */
  private def clean(t: String): String =
    if (t.indexOf('!') < 0 && t.indexOf('?') < 0) t
    else {
      val sb = new java.lang.StringBuilder(t.length)
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (c != '!' && c != '?') sb.append(c)
        i += 1
      }
      sb.toString
    }

  def score(text: UTF8String): Double = {
    val str = text.toString
    val toks = str.split(" ", -1)
    // booster increments and negation flags of the three previous tokens
    var b1, b2, b3 = 0.0
    var n1, n2, n3 = false
    var s = 0.0
    var i = 0
    while (i < toks.length) {
      val t = clean(toks(i))
      val v = lookup(valence, t)
      val boosted =
        if (v == 0.0) 0.0
        else v + (if (positive(v)) 1.0 else -1.0) * (b1 + 0.95 * b2 + 0.9 * b3)
      s += (if (n1 || n2 || n3) boosted * nScalar else boosted)
      b3 = b2; b2 = b1; b1 = lookup(booster, t)
      n3 = n2; n2 = n1; n1 = negation.contains(t)
      i += 1
    }
    var excl = 0
    var qm = 0
    var j = 0
    while (j < str.length) {
      val c = str.charAt(j)
      if (c == '!') excl += 1 else if (c == '?') qm += 1
      j += 1
    }
    val nQm = qm.toDouble
    val amp = math.min(excl, 4).toDouble * 0.292 +
      (if (nQm > 3) 0.96 else if (nQm > 1) nQm * 0.18 else 0.0)
    val sAmp = if (positive(s)) s + amp else if (s < 0.0) s - amp else s
    sAmp / math.sqrt(sAmp * sAmp + 15.0)
  }

  override def toString: String = s"VaderLexicon(${valence.size} words)"
}

/** text → VADER compound score, one [[VaderLexicon.score]] call per row
  * from generated code. A null text scores null, as in the reference. */
case class VaderScore(child: Expression, lexicon: VaderLexicon)
    extends UnaryExpression with StringInput {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(s: Any): Any =
    lexicon.score(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lex = ctx.addReferenceObj("vaderLexicon", lexicon, classOf[VaderLexicon].getName)
    defineCodeGen(ctx, ev, c => s"$lex.score($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VaderScore {
  def column(text: Column, lexicon: VaderLexicon): Column =
    ColumnBridge.column(VaderScore(ColumnBridge.expression(text), lexicon))
}
