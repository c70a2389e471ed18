package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * DISTINCT word n-gram shingles of a raw `\s+`-split word array as one
 * codegen'd JVM loop — the shingle-set join-back stage of the LSH near-dup
 * pipeline previously composed filter(empty-drop) + transform(slice +
 * concat_ws), three CodegenFallback higher-order functions evaluated
 * interpreted per candidate row (round-4 verdict #2). Semantics:
 *
 *   - empty tokens are skipped (the `w <> ''` filter the DuckDB oracles
 *     apply in their word CTEs);
 *   - >= n words: sliding windows of n words joined by a single space;
 *   - 1..n-1 words: ONE shingle = all words joined (the short-doc collapse);
 *   - 0 words: ONE empty-string shingle (concat_ws of an empty array) — the
 *     LSH gate queries exclude these docs via the shared >= 3-words guard,
 *     but the operator itself stays total;
 *   - distinct keeps first-occurrence order (array_distinct parity).
 */
case class ShingleSetX(child: Expression, n: Int) extends WordsArrayExpression {
  require(n > 0 && n <= 16, "n must be in (0, 16]")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set_x"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    val words = new java.util.ArrayList[String](num)
    var i = 0
    while (i < num) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        if (s.numBytes > 0) words.add(s.toString)
      }
      i += 1
    }
    val m = words.size
    val out = new java.util.LinkedHashSet[String]()
    if (m < n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < m) { if (j > 0) sb.append(' '); sb.append(words.get(j)); j += 1 }
      out.add(sb.toString)
    } else {
      var w = 0
      while (w <= m - n) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(words.get(w + j)); j += 1 }
        out.add(sb.toString)
        w += 1
      }
    }
    val res = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { res(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genViaEval(ctx, ev, "org.apache.spark.sql.catalyst.util.ArrayData", "null")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleSetX {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}
  def apply(words: Column, n: Int): Column = column(ShingleSetX(expression(words), n))
}
