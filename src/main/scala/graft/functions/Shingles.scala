package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word k-gram ("shingle") construction as ONE native expression.
  *
  * Why (SURVEY.md §7.4 preference (b), optimization guide §1.2 step 2):
  * the column-API form — `transform(sequence(0, size(w)-k), i =>
  * concat_ws(" ", element_at(w, i+1), ...))` — is a higher-order
  * function, and HOF lambdas are evaluated INTERPRETED, one expression-
  * tree walk per array element. On the sf0.1 corpus the 3-gram explode
  * alone cost ~6.8 s of a 0.2 s tokenise (noop-sink stage isolation,
  * OPTIMIZATION_r06.md): ~260k interpreted lambda evals dominated every
  * shingle-based operator (minhash signatures, ngram Jaccard, dup-span
  * hits, decontamination). This expression builds the grams in one tight
  * JVM loop over [[ArrayData]] and is embedded in whole-stage codegen via
  * a static forwarder (the [[CountMin.probe]] pattern).
  *
  * Semantics (bit-for-bit with the HOF form it replaces): n words yield
  * the n-k+1 in-order space-joined k-grams, duplicates kept; fewer than
  * k words — or a NULL word array — yield the EMPTY array (the old form's
  * `when(size(w) >= k, …).otherwise(array())` null/short behaviour);
  * null words inside a gram are skipped exactly like
  * concat_ws/array_join.
  */
object Shingles {
  private val Space = UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(new Array[AnyRef](0))

  /** Static forwarder shared by interpreted eval and Janino codegen. */
  def build(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    if (n < k) Empty
    else {
      val out = new Array[AnyRef](n - k + 1)
      val parts = new Array[UTF8String](k)
      var i = 0
      while (i <= n - k) {
        var j = 0
        while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** NULL-in → empty-out entry used by both eval paths. */
  def buildNullable(words: Any, k: Int): ArrayData =
    if (words == null) Empty else build(words.asInstanceOf[ArrayData], k)

  /** Column API: space-joined word k-grams of a tokenized array column. */
  def word_shingles(words: Column, k: Int): Column =
    Shim.column(WordShingles(Shim.expression(words), k))
}

case class WordShingles(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"word_shingles needs k >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false // null input maps to empty array
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any =
    Shingles.buildNullable(child.eval(input), k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val childVal = if (child.nullable) s"${c.isNull} ? null : ${c.value}" else c.value
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.Shingles.buildNullable($childVal, $k);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
