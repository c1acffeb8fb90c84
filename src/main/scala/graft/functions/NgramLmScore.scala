package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Trigram language-model SCORING kernel under Stupid Backoff (Brants et
  * al., "Large Language Models in Machine Translation", EMNLP 2007 —
  * the backoff score designed to be "inexpensive to train on large data
  * sets" and to approach Kneser-Ney quality at web scale; the CCNet
  * recipe (Wenzek et al., LREC 2020) is the same idea applied as a
  * data-quality filter: score candidate documents under an LM trained
  * on a trusted reference corpus and gate on the per-token score).
  *
  * Score of one document = Σ_i log S(w_i | w_{i-2} w_{i-1}) over the
  * normalized token stream ([[ShingleUtil.normTokens]] — the word
  * stream every other text operator counts), with two `<s>` sentinels
  * padding the left context (normTokens emits only [a-z0-9]+ tokens, so
  * the sentinel can never collide with a real token). Stupid Backoff:
  *
  *   S(w | a b) = c(a b w)/c(a b)   if c(a b w) > 0
  *              = λ · S(w | b)      otherwise
  *   S(w | b)   = c(b w)/c(b)       if c(b w) > 0
  *              = λ · S(w)          otherwise
  *   S(w)       = c(w)/N            if c(w) > 0, else the unknown floor
  *
  * λ = 0.4 (the paper's constant). Not a normalized probability — a
  * relative score, which is all a filter threshold needs.
  *
  * Determinism discipline (the [[graft.operators.Dsir]] /
  * [[graft.operators.QualityModel]] scaled-long contract): every table
  * entry freezes as a 1e9-scaled LONG log-score at TRAIN time, so a
  * document's score is an exact integer fold — order-independent,
  * bit-equal across engines, restatable verbatim in SQL as three LEFT
  * JOINs + a COALESCE chain ([[graft.NgramLmOracle]]). Worst case
  * |entry| ≈ 2·|ln λ| + |ln(1/(N+1))| ≈ 4e10; 100k tokens × 4e10 =
  * 4e15 ≪ Long.MaxValue — no overflow for any real document.
  *
  * The scorer travels as a codegen REFERENCE OBJECT (the
  * [[BpeEncoder]] shape): tables are read-only HashMaps shared across
  * all task threads of an executor, O(tokens) lookups per row inside
  * whole-stage codegen, no shuffle, no join, no UDF. */
final class NgramLmScorer(uniKeys: Array[String], uniVals: Array[Long],
    biKeys: Array[String], biVals: Array[Long],
    triKeys: Array[String], triVals: Array[Long],
    val backoffScaled: Long, val unkScaled: Long) extends Serializable {
  require(uniKeys.length == uniVals.length, "uni table shape mismatch")
  require(biKeys.length == biVals.length, "bi table shape mismatch")
  require(triKeys.length == triVals.length, "tri table shape mismatch")

  private def toMap(ks: Array[String], vs: Array[Long]) = {
    val m = new java.util.HashMap[String, java.lang.Long](ks.length * 2)
    var i = 0
    while (i < ks.length) { m.put(ks(i), vs(i)); i += 1 }
    m
  }

  @transient private lazy val uni = toMap(uniKeys, uniVals)
  @transient private lazy val bi = toMap(biKeys, biVals)
  @transient private lazy val tri = toMap(triKeys, triVals)

  /** Exact scaled-long Stupid-Backoff score of a pre-tokenized document
    * (ArrayData of UTF8String — compose over `norm_tokens(text)` so
    * Spark's subexpression elimination shares ONE tokenize with
    * `size(norm_tokens(text))` in the same projection). Empty → 0. */
  def score(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var sum = 0L
    var p2 = "<s>"
    var p1 = "<s>"
    var i = 0
    while (i < n) {
      val w = tokens.getUTF8String(i).toString
      val t = tri.get(p2 + " " + p1 + " " + w)
      sum += (if (t != null) t.longValue()
      else {
        val b = bi.get(p1 + " " + w)
        if (b != null) backoffScaled + b.longValue()
        else {
          val u = uni.get(w)
          2 * backoffScaled + (if (u != null) u.longValue() else unkScaled)
        }
      })
      p2 = p1; p1 = w
      i += 1
    }
    sum
  }
}

/** `ngram_lm_score(array<string>) -> long` under a literal trigram LM —
  * the exact 1e9-scaled Stupid-Backoff log-score of a token stream.
  * Codegen'd: the scorer is a codegen reference object, one JVM call per
  * row inside whole-stage codegen (the [[BpeEncodeExpr]] shape). */
case class NgramLmScoreExpr(child: Expression, scorer: NgramLmScorer)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "ngram_lm_score"

  override def nullSafeEval(input: Any): Any =
    scorer.score(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramLmScorer", scorer,
      classOf[NgramLmScorer].getName)
    defineCodeGen(ctx, ev, c => s"$ref.score($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramLmScoreExpr =
    copy(child = newChild)
}
