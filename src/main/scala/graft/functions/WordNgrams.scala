package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native twin of the word n-gram construction (r22, guide §1.2/§4):
  * `graft_word_ngrams(ws, n)` ≡
  *
  *   transform(sequence(1, size(ws) - (n-1)),
  *     i -> concat_ws(' ', ws[i], …, ws[i+n-1]))
  *
  * (`shinglesExpr` spells the n=3 body with element_at, `ngram5Expr`
  * the n=5 body with slice — same strings either way). The lambda body
  * evaluates INTERPRETED per window with a boxed concat_ws (and, in the
  * n=5 spelling, a slice allocation per position); this builds each
  * n-gram in one flat loop via UTF8String.concatWs — the exact joiner
  * ConcatWs uses, so byte-identical output including its skip-null rule
  * (split() never yields null slots, so that rule is latent). NULL
  * array in → NULL out. Arrays shorter than n yield an EMPTY result;
  * the higher-order original would error on element_at(ws, 0) there,
  * but every call site filters size(ws) ≥ n first (shinglesOf,
  * withMinhashSig, the winnow base, gram5, TextOps.shingleSrc), so the
  * two agree on every reachable input — WordNgramsSpec pins the
  * equivalence on fuzzed corpora for n = 3 and 5, codegen and
  * interpreted. */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_word_ngrams"

  override def nullSafeEval(input: Any): Any =
    WordNgrams.ngrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordNgrams.ngrams($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): WordNgrams = copy(child = newChild)
}

object WordNgrams {

  private val Space = UTF8String.fromString(" ")

  /** All size(ws)-n+1 consecutive n-word joins, in order — static so
    * codegen can call it directly. */
  def ngrams(ws: ArrayData, n: Int): ArrayData = {
    val sz = ws.numElements()
    val count = sz - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) { words(i) = ws.getUTF8String(i); i += 1 }
    val out = new Array[Any](count)
    val window = new Array[UTF8String](n)
    i = 0
    while (i < count) {
      var j = 0
      while (j < n) { window(j) = words(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Register `graft_word_ngrams(ws, nLiteral)` for `expr(...)` strings.
    * Idempotent (the cosine_sim registration pattern). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_word_ngrams",
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_word_ngrams takes (ws, nLiteral)")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions
            .Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_word_ngrams n must be an integer literal, got $other")
        }
        WordNgrams(exprs.head, n)
      },
      "built-in")
}
