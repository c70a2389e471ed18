package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Compiled text-signal expressions (round-6 codegen hygiene): the last three
 * judged map stages that still ran interpreted CodegenFallback higher-order
 * functions per document — stopword counting (`filter` + `isin`), language-id
 * marker scoring (5 `filter` HOFs), and the position-weighted fingerprint
 * (`zip_with` + `aggregate`) — as single JVM loops over the RAW `\s+`-split
 * word array, same pattern as MinHashBandsX/ShingleSetX/RepetitionStatsX.
 * One HOF in a projection disables whole-stage codegen for the stage
 * (CLAUDE.md rule); at 10^12 documents per-row interpreted eval is real
 * money even when the sf0.1 wall cost is small.
 *
 * Each expression is BIT-IDENTICAL to the built-ins composition it replaces
 * (TextSignalParitySpec pins the equivalence on real corpus data plus
 * adversarial tokens), so the frozen DuckDB oracles are untouched.
 */

/** Count of tokens that appear in `stopwords` — replaces
  * `size(filter(split(lower(text), "\\s+"), w => w.isin(stopwords)))`.
  * Empty tokens from the raw split are never in the set, so skipping happens
  * naturally inside the loop; result type matches `size` (int). */
case class StopwordCountX(child: Expression, stopwords: Seq[String])
    extends WordsArrayExpression {
  require(stopwords.nonEmpty, "stopwords must be non-empty")
  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stopwords.size * 2)
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "stopword_count_x"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genViaEval(ctx, ev, "int", "-1")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object StopwordCountX {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}
  def apply(words: Column, stopwords: Seq[String]): Column =
    column(StopwordCountX(expression(words), stopwords))
}

/** Language-id by marker-word counts in ONE loop — replaces the per-language
  * `size(filter(ws, w.isin(markers)))` chain + `greatest` argmax + `when`
  * cascade. Semantics preserved exactly: langs are scored in the caller's
  * order (sorted lang code), the winner is the FIRST lang reaching the
  * maximum count, and an all-zero score vector yields "und". Null input
  * yields null (the caller coalesces to "und", matching the original
  * when-chain's `otherwise`). */
case class LangIdX(child: Expression, langs: Seq[(String, Seq[String])])
    extends WordsArrayExpression {
  require(langs.nonEmpty, "langs must be non-empty")
  // markerMask packs one bit per language into an Int: a 33rd language
  // would wrap `1 << li` onto language 0 and score it silently
  require(langs.size <= 32, s"at most 32 langs fit the marker bitmask, got ${langs.size}")
  @transient private lazy val names: Array[UTF8String] =
    langs.map(l => UTF8String.fromString(l._1)).toArray
  @transient private lazy val und: UTF8String = UTF8String.fromString("und")
  // marker -> bitmask of the languages claiming it (markers may overlap)
  @transient private lazy val markerMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    langs.zipWithIndex.foreach { case ((_, markers), li) =>
      markers.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue) | (1 << li)))
      }
    }
    m
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id_x"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](names.length)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val mask = markerMask.get(arr.getUTF8String(i))
        if (mask != null) {
          var m = mask.intValue
          while (m != 0) {
            val li = java.lang.Integer.numberOfTrailingZeros(m)
            counts(li) += 1
            m &= m - 1
          }
        }
      }
      i += 1
    }
    var best = 0
    var bi = -1
    var j = 0
    while (j < counts.length) {
      if (counts(j) > best) { best = counts(j); bi = j }
      j += 1
    }
    if (bi < 0) und else names(bi)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genViaEval(ctx, ev, "org.apache.spark.unsafe.types.UTF8String", "null")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LangIdX {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}
  def apply(words: Column, langs: Seq[(String, Seq[String])]): Column =
    column(LangIdX(expression(words), langs))
}

/** Position-weighted fingerprint — replaces the `zip_with(ws, sequence(1,
  * size(ws)), ...)` + `aggregate` composition: sum over the RAW split array
  * (1-based position p, EMPTY tokens keep their position and contribute 0)
  * of `p * (octet_length(w) * 31 + ascii(substring(w, 1, 1)))`. `ascii` of
  * a non-empty string is the full CODE POINT of its first character (Spark
  * returns 128512 for an emoji, not the high surrogate — pinned by the
  * parity spec's supplementary-plane fixtures) and 0 for the empty string;
  * octet_length is UTF-8 bytes (UTF8String.numBytes). Exact long
  * arithmetic, no modulus: overflow throws ArithmeticException, like the
  * HOF form under ANSI and DuckDB's BIGINT — never a silent wrap. */
case class FingerprintX(child: Expression) extends WordsArrayExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint_x"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val bytes = s.numBytes.toLong
        val first: Long =
          if (bytes == 0L) 0L
          else {
            val one = s.substring(0, 1).toString
            if (one.isEmpty) 0L else one.codePointAt(0).toLong
          }
        acc = Math.addExact(acc, Math.multiplyExact((i + 1).toLong, bytes * 31L + first))
      }
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genViaEval(ctx, ev, "long", "0L")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object FingerprintX {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}
  def apply(words: Column): Column = column(FingerprintX(expression(words)))
}

/** UTF-8 byte lengths of the non-empty tokens of a raw `\s+`-split array in
  * one loop — replaces `transform(filter(ws, length > 0), octet_length)`,
  * two interpreted CodegenFallback HOFs per document on the OOV scan path.
  * Empty/null tokens are dropped exactly like the filter did. */
case class WordByteLensX(child: Expression) extends WordsArrayExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "word_byte_lens_x"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Int](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = arr.getUTF8String(i).numBytes
        if (b > 0) { out(m) = b; m += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (m == n) out else java.util.Arrays.copyOf(out, m))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genViaEval(ctx, ev, "org.apache.spark.sql.catalyst.util.ArrayData", "null")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordByteLensX {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}
  def apply(words: Column): Column = column(WordByteLensX(expression(words)))
}

/** Count of out-of-vocabulary tokens in an integer token array — replaces
  * `size(filter(t, x => x < 0 || x >= vocabSize))`, whose interpreted
  * lambda disabled whole-stage codegen for the whole OOV aggregation stage.
  * Null elements are skipped (the filter's null condition dropped them);
  * result type matches `size` (int). Accepts int or long element types. */
case class OovCountX(child: Expression, vocabSize: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<int>/array<bigint>, got $other")
    }
  @transient private lazy val isLong =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType
  override def dataType: DataType = IntegerType
  override def prettyName: String = "oov_count_x"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = if (isLong) arr.getLong(i) else arr.getInt(i).toLong
        if (x < 0L || x >= vocabSize.toLong) c += 1
      }
      i += 1
    }
    c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("expr", this, getClass.getName)
    val childGen = child.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = ${childGen.isNull};
      int ${ev.value} = -1;
      if (!${ev.isNull}) {
        ${ev.value} = (Integer) $self.nullSafeEval(${childGen.value});
      }""")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object OovCountX {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}
  def apply(tokens: Column, vocabSize: Int): Column =
    column(OovCountX(expression(tokens), vocabSize))
}
