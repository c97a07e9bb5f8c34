package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-shingles of a token array as ONE native expression —
  * a primitive window loop with a hash set, replacing the interpreted
  * `array_distinct(transform(sequence(1, n-k+1),
  * i => concat_ws(" ", slice(ws, i, k))))` nest (higher-order functions
  * are CodegenFallback: every window rode interpreted lambda plumbing).
  * See [[MinHashSig]] for what it saved on the MinHash step.
  *
  * Bit-compatibility contract with the HOF formulation it replaces
  * (locked by the PipelineSpec parity test and the dd gates):
  *  - window i joins tokens i..i+k-1 with `UTF8String.concatWs(" ", ·)`,
  *    the very call `concat_ws` makes — a NULL token is skipped, an
  *    empty token keeps its separators;
  *  - shingles are distinct, in first-occurrence order (`array_distinct`);
  *  - fewer than k tokens give `[]`; a NULL array gives NULL (the
  *    Spark 4 ANSI `size(NULL)` = NULL branch);
  *  - the type is `array<string>` with nullable elements, the type the
  *    `when(…, array()).otherwise(…)` merge produced.
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingles needs array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(in: Any): Any =
    Shingles.shingles(in.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.expr.Shingles$$.MODULE$$.shingles($a, $k);
    """)

  override protected def withNewChildInternal(
      newChild: Expression): Shingles = copy(child = newChild)
}

object Shingles {

  private val Sep = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. */
  def shingles(ws: ArrayData, k: Int): ArrayData = {
    val n = ws.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[UTF8String](n)
    var j = 0
    while (j < n) {
      toks(j) = if (ws.isNullAt(j)) null else ws.getUTF8String(j)
      j += 1
    }
    val grams = n - k + 1
    val out = new Array[Any](grams)
    val seen = new java.util.HashSet[UTF8String](grams * 2)
    val window = new Array[UTF8String](k)
    var m = 0
    var i = 0
    while (i < grams) {
      System.arraycopy(toks, i, window, 0, k)
      val g = UTF8String.concatWs(Sep, window: _*)
      if (seen.add(g)) { out(m) = g; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == grams) out else out.take(m))
  }

  /** Column-level wrapper. */
  def shinglesCol(ws: Column, k: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(ws), k))
}
