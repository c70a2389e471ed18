package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over embedding columns (Array[Float]).
 *
 * Baseline: brute-force cosine top-k — one map-side pass + TakeOrdered (no
 * shuffle of the corpus; the query vector travels as a plan literal, the
 * distributed analogue of a broadcast).
 *
 * Scale path: random-hyperplane LSH sign buckets; candidates are restricted to
 * the query's bucket (or multi-probe neighbors), turning an all-pairs scan into
 * a bucket-pruned one. Hyperplane weights come from the integer
 * SignBucket.planeWeight hash of (plane, dim), so every executor materializes
 * identical planes with no driver state.
 */
object Similarity {

  // ---- index self-description (round-4 verdict #4) -------------------------
  // Every persisted ANN index carries a `_graft_index_meta.json` (written at
  // build, `_`-prefixed so parquet readers ignore it) recording the family
  // and geometry it was built with. Every PATH-based lookup entry point
  // validates it: probing a planes=16 index with planes=13 would otherwise
  // silently read the WRONG partitions and return wrong neighbors — the
  // mismatch must throw, never degrade.

  /** Version tag of the scaled-integer vector domain (`sv` = round(x*1e7))
    * the indexes store; bumped if the scaling ever changes. */
  final val ScaleVersion = "scaledint-1e7-v1"
  private final val MetaFileName = "_graft_index_meta.json"
  private def jstr(s: String): String = "\"" + s + "\""

  /** Order- and content-sensitive digest of a centroid matrix. */
  def centroidsDigest(centroids: Array[Array[Long]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](8)
    centroids.foreach { row =>
      row.foreach { v =>
        var i = 0
        while (i < 8) { buf(i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
        md.update(buf)
      }
      md.update('|'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def metaPath(path: String) = new org.apache.hadoop.fs.Path(path, MetaFileName)

  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession, path: String,
                             fields: Seq[(String, String)]): Unit = {
    val json = fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val hp = metaPath(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hp, true)
    try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Validate a stored index's metadata against what the caller is about to
    * probe with; absent or mismatching metadata throws (never probes). The
    * expected values are compared in their serialized JSON form. */
  private def requireIndexMeta(spark: org.apache.spark.sql.SparkSession, path: String,
                               expect: Seq[(String, String)]): Unit = {
    val hp = metaPath(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) throw new IllegalArgumentException(
      s"ANN index at $path has no $MetaFileName — (re)build it with " +
        "buildIndex/buildIndexPrefixed/buildIndexIvf; refusing to guess its geometry")
    val in = fs.open(hp)
    val text = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
    val obj = graft.json.Json.parse(text) match {
      case o: graft.json.JObj => o
      case other => throw new IllegalArgumentException(
        s"ANN index metadata at $hp is not a JSON object: ${other.typeName}")
    }
    expect.foreach { case (k, want) =>
      val got = obj.get(k).map(graft.json.Json.render).getOrElse("<absent>")
      if (got != want) throw new IllegalArgumentException(
        s"ANN index at $path was built with $k=$got but this lookup expects $k=$want — " +
          "a silent mismatch would probe the wrong partitions and return wrong " +
          "neighbors; rebuild the index or fix the caller")
    }
  }

  /** Validated loader for a [[buildIndex]] (flat bucket-partitioned) index:
    * checks family/planes/scale metadata once, returns the relation for
    * reuse across lookups (the serving shape — per-call relation resolution
    * pays partition discovery every call). */
  def openIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                planes: Int): DataFrame = {
    requireIndexMeta(spark, path, Seq(
      "family" -> jstr("lsh_flat"), "planes" -> planes.toString,
      "scale" -> jstr(ScaleVersion)))
    spark.read.parquet(path)
  }

  /** Validated loader for a [[buildIndexPrefixed]] index. */
  def openIndexPrefixed(spark: org.apache.spark.sql.SparkSession, path: String,
                        planes: Int, prefixBits: Int): DataFrame = {
    requireIndexMeta(spark, path, Seq(
      "family" -> jstr("lsh_prefixed"), "planes" -> planes.toString,
      "prefix_bits" -> prefixBits.toString, "scale" -> jstr(ScaleVersion)))
    spark.read.parquet(path)
  }

  /** Validated loader for a [[buildIndexIvf]] index: the caller's centroid
    * matrix must DIGEST-match the one the index was assigned with — probing
    * cells from different centroids returns silently wrong neighbors. */
  def openIndexIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                   centroids: Array[Array[Long]]): DataFrame = {
    requireIndexMeta(spark, path, Seq(
      "family" -> jstr("ivf"), "cells" -> centroids.length.toString,
      "centroids_digest" -> jstr(centroidsDigest(centroids)),
      "scale" -> jstr(ScaleVersion)))
    spark.read.parquet(path)
  }

  /** Codegen'd scaled-integer cosine of the corpus column `vecCol` against a
    * literal query: shared by the brute-force and scan-time ANN baselines so
    * neither carries an interpreted lambda in its hot projection. Two-step
    * select: `__sv` is computed once, then dot and self-dot reuse it (WSCG
    * subexpression elimination keeps it single-evaluation). */
  private def scaledCosineTopK(df: DataFrame, idCol: String, vecCol: String,
                               query: Seq[Double], k: Int): DataFrame = {
    import graft.functions.{ScaledIntDot, ScaleVec, SignBucket}
    val qScaled = query.map(SignBucket.scaleComponent)
    val qNorm = math.sqrt(qScaled.map(x => x.toDouble * x).sum)
    val qlit = array(qScaled.map(lit(_)): _*)
    df.select(col(idCol), ScaleVec(col(vecCol).cast(ArrayType(DoubleType))).as("__sv"))
      .select(col(idCol),
        (ScaledIntDot(col("__sv"), qlit).cast(DoubleType) /
          (sqrt(ScaledIntDot(col("__sv"), col("__sv")).cast(DoubleType)) * lit(qNorm)))
          .as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** LSH sign bucket: one bit per hyperplane = sign of <scaled(vec), plane>.
    * Codegen'd custom expression, exact-integer arithmetic (plane weights and
    * int64-scaled components — SQL-oracle-reproducible, no float sign
    * boundary nondeterminism). */
  def signBucket(vec: Column, planes: Int): Column =
    graft.functions.SignBucket(vec, planes)

  /** Brute-force cosine top-k against a literal query vector — codegen'd
    * ScaleVec/ScaledIntDot end to end (no lambdafunction in the executed
    * plan; PlanAuditSpec asserts it). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame =
    scaledCosineTopK(df, idCol, vecCol, query.map(_.toDouble), k)

  /** IVF-style ANN without a persisted index: scan-time bucket filter, then
    * exact cosine + top-k within the pruned set. One full pass per query —
    * use [[buildIndex]] + [[annTopKIndexed]] for repeated lookups at scale.
    * Bucket + cosine are both codegen'd (SignBucket, ScaledIntDot). */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, planes: Int = 6): DataFrame = {
    val qd = query.map(_.toDouble)
    val qBucket = graft.functions.SignBucket.compute(qd.toArray, planes)
    val pruned = df
      .withColumn("__bucket", signBucket(col(vecCol).cast(ArrayType(DoubleType)), planes))
      .where(col("__bucket") === qBucket)
    scaledCosineTopK(pruned, idCol, vecCol, qd, k)
  }

  /**
   * Persist the ANN index: bucket computed ONCE (codegen'd expression),
   * written partitionBy(bucket) so a lookup is a partition-pruned scan of
   * the probed buckets only — never the full corpus. At 100 TB this is the
   * write-once/read-many shape: the per-query cost is O(corpus / 2^planes ×
   * probed buckets), not O(corpus).
   *
   * Alongside the raw vector the index stores the int64-SCALED vector (`sv`)
   * and its squared norm (`n2`), both from codegen'd expressions, so lookup
   * projections are pure ScaledIntDot + arithmetic — NO higher-order function
   * (CodegenFallback) ever appears in the read path.
   */
  def buildIndex(df: DataFrame, idCol: String, vecCol: String,
                 planes: Int, path: String): Unit = {
    import graft.functions.{ScaledIntDot, ScaleVec}
    df.select(col(idCol).as("id"), col(vecCol).cast(ArrayType(DoubleType)).as("vec"))
      .withColumn("sv", ScaleVec(col("vec")))
      .withColumn("n2", ScaledIntDot(col("sv"), col("sv")))
      .withColumn("bucket", signBucket(col("vec"), planes))
      // NO pre-write repartition here, deliberately (round-6 measured both):
      // adding repartition(bucket) — the buildIndexIvf/buildIndexPrefixed
      // shape — cost +0.45 s at bench scale because the input is a single
      // scan task (8 MB splits) and AQE coalesces the tiny shuffle back to
      // one writer anyway, making it pure shuffle overhead. The flat index
      // is the SMALL-plane-count form (2^planes dirs, bench planes=6); a
      // cluster-scale caller with many scan tasks should repartition by
      // bucket before building, or use buildIndexPrefixed, whose writer
      // repartition is load-bearing (task x 2^16 files otherwise).
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    writeIndexMeta(df.sparkSession, path, Seq(
      "family" -> jstr("lsh_flat"), "planes" -> planes.toString,
      "scale" -> jstr(ScaleVersion)))
  }

  /**
   * Prefix-partitioned ANN index for HIGH plane counts (planes >= ~13):
   * flat partitionBy(bucket) would create up to 2^planes directories of tiny
   * files — a filesystem-metadata explosion at planes=16 (65536 dirs). Here
   * the partition column is the TOP `prefixBits` bits of the bucket
   * (2^prefixBits directories, bounded regardless of planes) and rows are
   * sorted by bucket within each partition, so the lookup combines
   * partition pruning on `part` with a pushed `bucket IN (...)` parquet
   * filter (row-group min/max skipping on the sorted column). Per-lookup
   * data read: the probed prefix partitions (<= probeBits x prefixBits + 1
   * of 2^prefixBits dirs); candidate rows: corpus x probeSet/2^planes.
   */
  def buildIndexPrefixed(df: DataFrame, idCol: String, vecCol: String,
                         planes: Int, prefixBits: Int, path: String): Unit = {
    import graft.functions.{ScaledIntDot, ScaleVec}
    val shift = planes - prefixBits
    require(prefixBits > 0 && shift >= 0, "need 0 < prefixBits <= planes")
    df.select(col(idCol).as("id"), col(vecCol).cast(ArrayType(DoubleType)).as("vec"))
      .withColumn("sv", ScaleVec(col("vec")))
      .withColumn("n2", ScaledIntDot(col("sv"), col("sv")))
      .withColumn("bucket", signBucket(col("vec"), planes))
      .withColumn("part", shiftrightunsigned(col("bucket"), shift))
      .repartition(col("part"))            // one writer task per prefix dir
      .sortWithinPartitions("part", "bucket") // row-group min/max on bucket
      .write.mode("overwrite").partitionBy("part").parquet(path)
    writeIndexMeta(df.sparkSession, path, Seq(
      "family" -> jstr("lsh_prefixed"), "planes" -> planes.toString,
      "prefix_bits" -> prefixBits.toString, "scale" -> jstr(ScaleVersion)))
  }

  /** Multi-probe lookup against a [[buildIndexPrefixed]] table: partition
    * pruning on the bucket prefix + pushed bucket-IN filter inside the
    * probed partitions. Same HOF-free cosine projection as
    * [[annTopKIndexed]]. */
  def annTopKIndexedPrefixed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                             query: Seq[Double], k: Int, planes: Int, prefixBits: Int,
                             probeBits: Int = 1): DataFrame =
    annTopKIndexedPrefixed(openIndexPrefixed(spark, indexPath, planes, prefixBits),
      query, k, planes, prefixBits, probeBits)

  /** Serving-path form of [[annTopKIndexedPrefixed]]: the index RELATION is
    * loaded once and reused across queries — re-resolving the parquet
    * relation per lookup pays partition discovery + analysis every call
    * (measured ~0.8 s of pure driver overhead per query at 256 partitions),
    * which dwarfs the pruned scan itself. */
  def annTopKIndexedPrefixed(index: DataFrame, query: Seq[Double], k: Int,
                             planes: Int, prefixBits: Int,
                             probeBits: Int): DataFrame = {
    import graft.functions.{ScaledIntDot, SignBucket}
    // mirror the builder's invariant: a mismatched prefixBits would make
    // `shift` negative and Long >>> negative shifts by (shift & 63) —
    // silently probing the WRONG partitions instead of failing loudly
    require(prefixBits > 0 && prefixBits <= planes, "need 0 < prefixBits <= planes")
    val shift = planes - prefixBits
    val qBucket = SignBucket.compute(query.toArray, planes)
    val buckets = SignBucket.probeBuckets(qBucket, planes, probeBits)
    val parts = buckets.map(_ >>> shift).distinct
    val qScaled = query.map(SignBucket.scaleComponent)
    val qNorm = math.sqrt(qScaled.map(x => x.toDouble * x).sum)
    val qlit = array(qScaled.map(lit(_)): _*)
    val dot = ScaledIntDot(col("sv"), qlit)
    index
      .where(col("part").isin(parts: _*) && col("bucket").isin(buckets: _*))
      .select(col("id"),
        (dot.cast(DoubleType) / (sqrt(col("n2").cast(DoubleType)) * lit(qNorm)))
          .as("cosine"))
      .orderBy(desc("cosine"), col("id"))
      .limit(k)
  }

  // ---- IVF (inverted-file) ANN: k-means cells instead of hyperplane signs ----

  /** ExpressibleHash.mix32 as Column arithmetic (ANSI-safe: input must be a
    * non-negative id; every intermediate < 2^62). Used for deterministic,
    * SQL-reproducible seed selection and hash-sampling. */
  private def mix32Col(c: Column): Column = graft.functions.ExpressibleHash.mix32Col(c)

  /**
   * EXACT-INTEGER Lloyd k-means for IVF index cells. Everything happens in
   * the int64-scaled domain (ScaleVec components = round(x*1e7)):
   *
   *   - seeds = the k rows with the smallest (mix32(id), id) — a
   *     deterministic, order-free choice (TakeOrdered, no full sort);
   *   - assignment = argmin of integer squared L2 (codegen'd [[NearestCell]],
   *     ties to the lowest cell);
   *   - update = elementwise TRUNCATED integer mean (sum/count on int64 —
   *     integer sums are associative+commutative, so the result is
   *     bit-identical regardless of partitioning or task order, unlike float
   *     means); a cell that loses all members keeps its previous centroid.
   *
   * Because every stage is exact integer arithmetic, the whole training loop
   * is expressible in DuckDB SQL (unrolled CTE per iteration) — the IVF
   * pipeline gets a full cross-engine oracle from raw floats to top-k, the
   * same bar the LSH path clears (s_ann_lsh). At 10^12 rows training runs on
   * a hash-sample (`sampleMod` keeps ids with mix32(id) % sampleMod == 0 —
   * deterministic and SQL-reproducible, unlike rdd-sample); assignment of
   * the full corpus stays one map-side pass.
   *
   * k x dim longs collect to the driver per iteration — bounded, tiny.
   */
  def trainIvfCentroids(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int, sampleMod: Int = 1): Array[Array[Long]] = {
    import graft.functions.{NearestCell, ScaleVec}
    require(k > 0 && iters >= 0 && sampleMod >= 1, "need k > 0, iters >= 0, sampleMod >= 1")
    // null embeddings carry no position: drop them up front (a null sv row
    // would otherwise surface as an opaque NPE in the seed collect /
    // null-key group — round-4 advice). Vectors with null ELEMENTS survive
    // this filter but NearestCell nulls their cell; the update step filters
    // those out below, and the seed collect rejects them loudly.
    val base = df.select(col(idCol).cast(LongType).as("id"),
        ScaleVec(col(vecCol).cast(ArrayType(DoubleType))).as("sv"))
      .where(col("sv").isNotNull)
    val train = (if (sampleMod == 1) base
                 else base.where(pmod(mix32Col(col("id")), lit(sampleMod.toLong)) === 0L))
      .cache()
    try {
      val seeds = train.orderBy(mix32Col(col("id")), col("id")).limit(k)
        .select(col("sv")).collect().map { r =>
          val s = r.getSeq[Any](0)
          require(!s.contains(null),
            "IVF training seed embedding contains null elements — clean the corpus first")
          s.map(_.asInstanceOf[Long]).toArray
        }
      require(seeds.length == k, s"corpus smaller than k=$k cells")
      var centroids = seeds
      for (_ <- 0 until iters) {
        // per-(cell, dim) integer sums: posexplode + one map-side-combine
        // groupBy; the collect is k x dim rows, independent of corpus size.
        // cell IS NOT NULL drops element-null vectors (NearestCell nulls
        // them) so the collect never sees a null-key group.
        val sums = train
          .select(NearestCell(col("sv"), centroids).as("cell"),
            posexplode(col("sv")).as(Seq("d", "x")))
          .where(col("cell").isNotNull)
          .groupBy("cell", "d")
          .agg(sum("x").as("sm"), count(lit(1)).as("n"))
          .collect()
        val next = centroids.map(_.clone())
        sums.foreach { r =>
          val c = r.getInt(0); val d = r.getInt(1)
          next(c)(d) = r.getLong(2) / r.getLong(3) // Long division: truncates toward zero
        }
        centroids = next
      }
      centroids
    } finally { train.unpersist(false); () }
  }

  /** Persist the IVF index: cell assigned ONCE against the final centroids
    * (codegen'd NearestCell), written partitionBy(cell) with the scaled
    * vector + squared norm — the same write-once/read-many, HOF-free read
    * shape as [[buildIndex]], with k cells instead of 2^planes buckets
    * (cells adapt to the data distribution; bucket occupancy is balanced by
    * construction instead of by plane luck). */
  def buildIndexIvf(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Long]], path: String): Unit = {
    import graft.functions.{NearestCell, ScaledIntDot, ScaleVec}
    df.select(col(idCol).as("id"), col(vecCol).cast(ArrayType(DoubleType)).as("vec"))
      .withColumn("sv", ScaleVec(col("vec")))
      .withColumn("n2", ScaledIntDot(col("sv"), col("sv")))
      .withColumn("cell", NearestCell(col("sv"), centroids))
      .repartition(col("cell")) // one writer task per cell dir: file count =
      // k cells, not tasks x cells (the smoke bench measured the unpartitioned
      // write at ~2k tiny files and 2x the build time)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeIndexMeta(df.sparkSession, path, Seq(
      "family" -> jstr("ivf"), "cells" -> centroids.length.toString,
      "dim" -> centroids.headOption.map(_.length).getOrElse(0).toString,
      "centroids_digest" -> jstr(centroidsDigest(centroids)),
      "scale" -> jstr(ScaleVersion)))
  }

  /** IVF lookup: the query's `nprobe` nearest cells are computed on the
    * driver (k integer distances), the scan partition-prunes to those cell
    * directories, and the top-k is the exact scaled-integer dot within the
    * probed candidates — pure ScaledIntDot, no HOF in the read path.
    * Returns (id, cell, dot_scaled). */
  def annTopKIvf(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                 centroids: Array[Array[Long]], query: Seq[Double], k: Int,
                 nprobe: Int): DataFrame =
    annTopKIvf(openIndexIvf(spark, indexPath, centroids), centroids, query, k, nprobe)

  def annTopKIvf(index: DataFrame, centroids: Array[Array[Long]],
                 query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    import graft.functions.{NearestCell, ScaledIntDot, SignBucket}
    require(nprobe > 0 && nprobe <= centroids.length, "need 0 < nprobe <= cells")
    val qScaled = query.map(SignBucket.scaleComponent).toArray
    val cells = NearestCell.cellDistances(qScaled, centroids).zipWithIndex
      .sortBy { case (d2, c) => (d2, c) }.take(nprobe).map(_._2)
    val qlit = array(qScaled.map(lit(_)).toIndexedSeq: _*)
    index
      .where(col("cell").isin(cells.map(Int.box): _*))
      .select(col("id"), col("cell"), ScaledIntDot(col("sv"), qlit).as("dot_scaled"))
      .orderBy(desc("dot_scaled"), col("id"))
      .limit(k)
  }

  /** Multi-probe lookup against a [[buildIndex]] table: reads ONLY the
    * partitions of the query's bucket plus its Hamming-<=probeBits neighbor
    * buckets (partition pruning — verify with .explain: PartitionFilters).
    * Returns exact cosine top-k within the probed candidate set. The cosine
    * is computed from the indexed scaled vector and stored norm via the
    * codegen'd ScaledIntDot — the projection stays inside whole-stage
    * codegen (no interpreted lambda over the probed set). */
  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     query: Seq[Double], k: Int, planes: Int,
                     probeBits: Int = 1): DataFrame = {
    import graft.functions.{ScaledIntDot, SignBucket}
    val qBucket = SignBucket.compute(query.toArray, planes)
    val buckets = SignBucket.probeBuckets(qBucket, planes, probeBits)
    val qScaled = query.map(SignBucket.scaleComponent)
    val qNorm = math.sqrt(qScaled.map(x => x.toDouble * x).sum)
    val qlit = array(qScaled.map(lit(_)): _*)
    val dot = ScaledIntDot(col("sv"), qlit)
    openIndex(spark, indexPath, planes)
      .where(col("bucket").isin(buckets: _*))
      .select(col("id"),
        (dot.cast(DoubleType) / (sqrt(col("n2").cast(DoubleType)) * lit(qNorm)))
          .as("cosine"))
      .orderBy(desc("cosine"), col("id"))
      .limit(k)
  }
}
