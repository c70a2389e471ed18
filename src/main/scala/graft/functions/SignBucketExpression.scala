package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Random-hyperplane LSH sign bucket as ONE codegen'd Catalyst expression:
 * bucket bit p = sign of <scaled(vec), plane_p>.
 *
 * Exact-integer construction (cross-implementation invariant, the
 * north_star's reproducibility requirement applied to ANN):
 *   - vector components are scaled to int64 once: sv[d] = round(x * 1e7)
 *     (HALF_UP, identical to Spark SQL round and DuckDB round of the same
 *     double),
 *   - plane weights are integers in [-500, 500) from a Murmur-style
 *     avalanche over (p, d) using only *, %, xor, >> on non-negative 64-bit
 *     values — expressible in ANY SQL engine, so the full bucket assignment
 *     has an exact DuckDB oracle,
 *   - the projection Σ sv[d] * w[p][d] is pure integer arithmetic: no
 *     float summation-order or sign-at-boundary nondeterminism ever.
 *
 * The plane matrix is computed once per JVM and the projection is a tight
 * long loop; doGenCode ships a reference object so surrounding stages keep
 * whole-stage codegen (same pattern as the ExpressibleHash `*X` expressions).
 * A built-ins formulation of the same math (interpreted lambda HOFs) lives in
 * the test sources as a cross-check reference (HofReference.signBucket).
 */
case class SignBucket(child: Expression, planes: Int) extends UnaryExpression {
  require(planes > 0 && planes <= 63, "planes must be in (0, 63]")

  override def dataType: DataType = LongType
  override def prettyName: String = "sign_bucket"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double> or array<float>, got $other")
    }

  // lazy: child.dataType is only callable after analysis resolves the column
  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // plane weight matrix [p][d], built lazily per JVM (executor-side);
  // benign race: any thread computes identical values
  @transient private var weights: Array[Array[Long]] = _

  private def planeWeights(dim: Int): Array[Array[Long]] = {
    val cur = weights
    if (cur != null && cur(0).length >= dim) return cur
    val m = Array.tabulate(planes, dim)((p, d) => SignBucket.planeWeight(p, d))
    weights = m
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    // null element => every plane's projection is null, so the HOF
    // formulation's when(proj >= 0, bit).otherwise(0) yields bucket 0 —
    // match it exactly (getDouble on a null slot would silently read 0.0)
    var d0 = 0
    while (d0 < dim) { if (arr.isNullAt(d0)) return 0L; d0 += 1 }
    val m = planeWeights(dim)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val w = m(p)
      var s = 0L
      var d = 0
      while (d < dim) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        s += SignBucket.scaleComponent(x) * w(d)
        d += 1
      }
      if (s >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("signBucketExpr", this, classOf[SignBucket].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = ${childGen.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        ${ev.value} = (Long) $self.nullSafeEval(${childGen.value});
      }""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SignBucket {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}

  def apply(vec: Column, planes: Int): Column = column(SignBucket(expression(vec), planes))

  /** int64 scaling of one component: round(x*1e7) with HALF_UP on the
    * shortest decimal string — bit-identical to Spark SQL round(x*1e7) and
    * (for these magnitudes) DuckDB round. */
  def scaleComponent(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e7)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Integer plane weight in [-500, 500): Murmur-style finalizer over
    * (p*65537 + d + 17) mod 2^32 using only {*, %, xor, >>} on non-negative
    * longs — the identical formula runs in DuckDB SQL (oracle parity).
    * Multiplier constants are < 2^31 so every intermediate stays < 2^62:
    * no 64-bit overflow under ANSI Spark or DuckDB BIGINT. */
  def planeWeight(p: Int, d: Int): Long = {
    val M = 4294967296L // 2^32
    var h = ((p.toLong * 65537L + d.toLong + 17L) * 1664525L) % M
    h ^= (h >>> 16)
    h = (h * 747796405L) % M
    h ^= (h >>> 13)
    (h % 1000L) - 500L
  }

  /** Driver-side bucket of a literal query vector (same planes as executors). */
  def compute(vec: Array[Double], planes: Int): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0L
      var d = 0
      while (d < vec.length) { s += scaleComponent(vec(d)) * planeWeight(p, d); d += 1 }
      if (s >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Multi-probe bucket set: the query bucket plus all buckets within
    * Hamming distance <= probeBits. Equivalent to the SQL-side filter
    * bit_count(bucket XOR qbucket) <= probeBits. */
  def probeBuckets(bucket: Long, planes: Int, probeBits: Int): Seq[Long] = {
    def flips(b: Long, start: Int, left: Int): Seq[Long] =
      if (left == 0) Seq(b)
      else (start until planes).flatMap(i => flips(b ^ (1L << i), i + 1, left - 1))
    (0 to probeBits).flatMap(r => flips(bucket, 0, r)).distinct
  }
}
