package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Built-ins-only (interpreted lambda HOF) formulations of engine signals,
 * kept as cross-check references for the codegen'd expressions the engine
 * runs. Every HOF here is CodegenFallback — never use them outside specs.
 */
object HofReference {

  /** Dot product of two numeric-array columns via zip_with + aggregate. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic integer plane weight in [-500, 500) as Column arithmetic
    * (same finalizer as SignBucket.planeWeight). */
  private def planeWeightCol(p: Int, d: Column): Column = {
    val m = lit(4294967296L)
    val h1 = pmod((d.cast(LongType) + lit(p.toLong * 65537L + 17L)) * lit(1664525L), m)
    val h2 = pmod(h1.bitwiseXOR(shiftright(h1, 16)) * lit(747796405L), m)
    val h3 = h2.bitwiseXOR(shiftright(h2, 13))
    pmod(h3, lit(1000L)) - lit(500L)
  }

  /** LSH sign bucket of an array<double> column: the math of the SignBucket
    * expression through aggregate/zip_with/transform lambdas. */
  def signBucket(vec: Column, planes: Int): Column = {
    val scaled = transform(vec, x => round(x * 1e7).cast(LongType))
    val bits = (0 until planes).map { p =>
      val w = transform(sequence(lit(0), size(vec) - 1), d => planeWeightCol(p, d))
      val proj = aggregate(zip_with(scaled, w, (x, y) => x * y), lit(0L), (s, x) => s + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
