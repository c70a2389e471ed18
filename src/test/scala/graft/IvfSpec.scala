package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def synthetic(n: Int, dim: Int) =
    (0L until n.toLong).map(i =>
      (i, (0 until dim).map(d => ((i * 37 + d * 13 + 11) % 19).toDouble / 19 - 0.5).map(_.toFloat)))
      .toDF("vec_id", "embedding")

  test("NearestCell expression == driver-side assignment; ties go to the lowest cell") {
    import graft.functions.{NearestCell, ScaleVec}
    val data = synthetic(150, 12)
    val centroids = Similarity.trainIvfCentroids(data, "vec_id", "embedding", k = 4, iters = 1)
    val rows = data.select(
      ScaleVec(col("embedding").cast(ArrayType(DoubleType))).as("sv"),
      NearestCell(ScaleVec(col("embedding").cast(ArrayType(DoubleType))), centroids).as("cell"))
      .collect()
    rows.foreach { r =>
      val sv = r.getSeq[Long](0).toArray
      assert(r.getInt(1) === NearestCell.assign(sv, centroids))
    }
    // tie case: two identical centroids -> the lower index wins
    val twin = Array(Array(0L, 0L), Array(0L, 0L), Array(100L, 100L))
    assert(NearestCell.assign(Array(1L, 1L), twin) === 0)
  }

  test("exact-integer Lloyd training is bit-identical under any partitioning") {
    val data = synthetic(400, 16)
    val a = Similarity.trainIvfCentroids(data.repartition(1), "vec_id", "embedding", 6, 3)
    val b = Similarity.trainIvfCentroids(data.repartition(7), "vec_id", "embedding", 6, 3)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // and the hash-sampled variant trains on a strict, deterministic subset
    val s1 = Similarity.trainIvfCentroids(data.repartition(3), "vec_id", "embedding", 4, 2, sampleMod = 2)
    val s2 = Similarity.trainIvfCentroids(data.repartition(5), "vec_id", "embedding", 4, 2, sampleMod = 2)
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq)
  }

  test("a cell that loses all members keeps its previous centroid (no NaN/empty drift)") {
    // two tight clusters + k=3: at least one seed converges onto a cluster
    // and some cell can end memberless; training must stay total and finite
    val data = ((0L until 20L).map(i => (i, Seq(0.1f, 0.1f))) ++
      (20L until 40L).map(i => (i, Seq(-0.4f, -0.4f)))).toDF("vec_id", "embedding")
    val c = Similarity.trainIvfCentroids(data, "vec_id", "embedding", k = 3, iters = 4)
    assert(c.length === 3)
    c.foreach(cen => assert(cen.length === 2))
    // centroids remain in the scaled domain of the inputs
    c.flatten.foreach(v => assert(math.abs(v) <= 10000000L))
  }

  test("null embeddings and null elements never corrupt training or assignment") {
    import graft.functions.{NearestCell, ScaleVec}
    // 60 clean vectors + a null vector + a vector with a null element:
    // training must silently exclude the malformed rows, not NPE
    val dirty = ((0L until 60L).map(i => (i, Seq(Some((i % 7).toFloat / 7 - 0.4f), Some(0.2f)))) ++
      Seq((60L, null: Seq[Option[Float]]), (61L, Seq(Some(0.1f), None))))
      .toDF("vec_id", "embedding")
    val c = Similarity.trainIvfCentroids(dirty, "vec_id", "embedding", k = 3, iters = 2)
    assert(c.length === 3)
    // the expression itself nulls out on a null element (never a silent cell 0)
    val cells = dirty.select(col("vec_id"),
        NearestCell(ScaleVec(col("embedding").cast(ArrayType(DoubleType))), c).as("cell"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(cells(60L) === None)
    assert(cells(61L) === None)
    assert(cells(0L).isDefined)
  }

  test("IVF index lookup: partition-pruned, HOF-free, matches brute force within probed cells") {
    import graft.functions.{NearestCell, ScaleVec}
    val data = synthetic(300, 16)
    val centroids = Similarity.trainIvfCentroids(data, "vec_id", "embedding", k = 5, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString
    val layout = Similarity.Ivf(centroids)
    Similarity.build(data, "vec_id", "embedding", layout, idx)
    val q = data.where(col("vec_id") === 7L)
      .select(col("embedding").cast(ArrayType(DoubleType))).head().getSeq[Double](0)
    val got = Similarity.topKDot(
      Similarity.candidates(Similarity.open(spark, idx, layout), layout, q, probe = 2), q, 5)
    val plan = got.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("lambdafunction"), plan)
    val gotRows = got.collect()
    val gotIds = gotRows.map(_.getLong(0))
    // the query's own vector must be among the results (its own cell is
    // always probed); its exact RANK is a property of the synthetic data
    // (a longer co-directional vector may legitimately out-dot it), so the
    // ranking itself is pinned only by the brute-force cross-check below
    assert(gotIds.contains(7L))
    // cross-check: same candidates via in-memory assignment, exact int dot
    val qs = q.map(graft.functions.SignBucket.scaleComponent).toArray
    val probed = NearestCell.cellDistances(qs, centroids).zipWithIndex
      .sortBy { case (d2, c) => (d2, c) }.take(2).map(_._2).toSet
    val want = data
      .select(col("vec_id"), ScaleVec(col("embedding").cast(ArrayType(DoubleType))).as("sv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .filter { case (_, sv) => probed.contains(NearestCell.assign(sv, centroids)) }
      .map { case (id, sv) => (id, sv.zip(qs).map { case (a, b) => a * b }.sum) }
      .sortBy { case (id, dot) => (-dot, id) }.take(5).map(_._1)
    assert(gotIds.toSeq === want.toSeq)
    // every returned row's cell is in the probed set (pruning really bounded the scan)
    gotRows.foreach(r => assert(probed.contains(r.getInt(1))))
  }
}
