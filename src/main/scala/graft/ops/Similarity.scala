package graft.ops

import graft.functions.{NearestCell, ScaledIntDot, ScaleVec, SignBucket}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over embedding columns (Array[Float]), all in the
 * int64-scaled vector domain (`sv` = round(x*1e7), codegen'd ScaleVec) with
 * exact ScaledIntDot ranking — no interpreted lambda in any projection.
 *
 * One ANN index path, the layout as data: a [[Layout]] (flat LSH buckets,
 * prefix-partitioned LSH buckets, or IVF k-means cells) says which key
 * columns an index carries, how rows are shaped before the write, which
 * metadata describe it and which predicate probes it. [[build]] is the one
 * writer, [[open]] the one metadata-validated reader, and
 * [[candidates]] → [[topKDot]] / [[topKCosine]] the one probe → rank path.
 * Brute force is `topKCosine(scaled(df, id, vec), query, k)`.
 *
 * LSH sign buckets come from the integer SignBucket.planeWeight hash of
 * (plane, dim), so every executor materializes identical planes with no
 * driver state; IVF centroids are trained by exact-integer Lloyd k-means.
 */
object Similarity {

  // ---- index self-description (round-4 verdict #4) -------------------------
  // Every persisted ANN index carries a `_graft_index_meta.json` (written by
  // build, `_`-prefixed so parquet readers ignore it) recording its layout's
  // meta fields. `open` validates them: probing a planes=16 index with
  // planes=13 would otherwise silently read the WRONG partitions and return
  // wrong neighbors — the mismatch must throw, never degrade.

  /** Version tag of the scaled-integer vector domain (`sv` = round(x*1e7))
    * the indexes store; bumped if the scaling ever changes. */
  final val ScaleVersion = "scaledint-1e7-v1"
  private final val MetaFileName = "_graft_index_meta.json"
  private def jstr(s: String): String = "\"" + s + "\""

  /**
   * Physical layout of a persisted ANN index. Each case carries everything
   * the writer and the reader must agree on, so they cannot disagree:
   *   - `meta`: the fields [[build]] writes and [[open]] checks (values in
   *     serialized JSON form; `family` first, so a wrong layout names it);
   *   - `keys`: the key columns stored beside `id, sv, n2`, in dependency
   *     order, computed from the row's `vec` (array<double>) or `sv`;
   *   - `partitionCol`: the key the index directories are partitioned by;
   *   - `shape`: the pre-write repartition/sort;
   *   - `probe`: the candidate predicate for a query vector.
   */
  sealed trait Layout {
    protected def family: String
    protected def geometry: Seq[(String, String)]
    final def meta: Seq[(String, String)] =
      ("family" -> jstr(family)) +: geometry :+ ("scale" -> jstr(ScaleVersion))
    def keys: Seq[(String, Column)]
    def partitionCol: String
    def shape(df: DataFrame): DataFrame
    def probe(query: Seq[Double], probe: Int): Column
  }

  /** Flat LSH index: partitionBy(bucket), 2^planes directories — the
    * SMALL-plane-count form. A lookup reads only the query's bucket and its
    * Hamming-<=probe neighbors (partition pruning). */
  final case class Flat(planes: Int) extends Layout {
    protected def family = "lsh_flat"
    protected def geometry = Seq("planes" -> planes.toString)
    def keys = Seq("bucket" -> SignBucket(col("vec"), planes))
    def partitionCol = "bucket"
    // NO pre-write repartition here, deliberately (round-6 measured both):
    // adding repartition(bucket) — the Ivf/Prefixed shape — cost +0.45 s at
    // bench scale because the input is a single scan task (8 MB splits) and
    // AQE coalesces the tiny shuffle back to one writer anyway, making it
    // pure shuffle overhead. A cluster-scale caller with many scan tasks
    // should repartition by bucket before building, or use Prefixed, whose
    // writer repartition is load-bearing (task x 2^16 files otherwise).
    def shape(df: DataFrame): DataFrame = df
    def probe(query: Seq[Double], probe: Int): Column =
      col("bucket").isin(buckets(query, probe): _*)
    /** The query's bucket plus all buckets within Hamming distance <= probe. */
    def buckets(query: Seq[Double], probe: Int): Seq[Long] =
      SignBucket.probeBuckets(SignBucket.compute(query.toArray, planes), planes, probe)
  }

  /** Prefix-partitioned LSH index for HIGH plane counts (planes >= ~13):
    * flat partitionBy(bucket) would create up to 2^planes directories of
    * tiny files (65536 dirs at planes=16). Here the partition column `part`
    * is the TOP `prefixBits` bits of the bucket (2^prefixBits directories,
    * bounded regardless of planes) and rows are sorted by bucket within each
    * partition, so a lookup combines partition pruning on `part` with a
    * pushed `bucket IN (...)` parquet filter (row-group min/max skipping). */
  final case class Prefixed(planes: Int, prefixBits: Int) extends Layout {
    // a prefixBits > planes would make `shift` negative, and Long >>> negative
    // shifts by (shift & 63) — silently probing the WRONG partitions
    require(prefixBits > 0 && prefixBits <= planes, "need 0 < prefixBits <= planes")
    private def shift = planes - prefixBits
    protected def family = "lsh_prefixed"
    protected def geometry = Seq("planes" -> planes.toString, "prefix_bits" -> prefixBits.toString)
    def keys = Seq("bucket" -> SignBucket(col("vec"), planes),
      "part" -> shiftrightunsigned(col("bucket"), shift))
    def partitionCol = "part"
    def shape(df: DataFrame): DataFrame = df
      .repartition(col("part"))             // one writer task per prefix dir
      .sortWithinPartitions("part", "bucket") // row-group min/max on bucket
    def probe(query: Seq[Double], probe: Int): Column = {
      val buckets = Flat(planes).buckets(query, probe)
      col("part").isin(buckets.map(_ >>> shift).distinct: _*) && col("bucket").isin(buckets: _*)
    }
  }

  /** IVF index: partitionBy(cell) over k-means cells ([[trainIvfCentroids]]),
    * k directories whose occupancy adapts to the data instead of to plane
    * luck. A lookup probes the query's `nprobe` nearest cells, computed on
    * the driver (k integer distances). The centroid digest pins the matrix
    * the cells were assigned with. */
  final case class Ivf(centroids: Array[Array[Long]]) extends Layout {
    protected def family = "ivf"
    protected def geometry = Seq("cells" -> centroids.length.toString,
      "centroids_digest" -> jstr(centroidsDigest(centroids)))
    def keys = Seq("cell" -> NearestCell(col("sv"), centroids))
    def partitionCol = "cell"
    // one writer task per cell dir: file count = k cells, not tasks x cells
    // (the smoke bench measured the unpartitioned write at ~2k tiny files
    // and 2x the build time)
    def shape(df: DataFrame): DataFrame = df.repartition(col("cell"))
    def probe(query: Seq[Double], nprobe: Int): Column = {
      require(nprobe > 0 && nprobe <= centroids.length, "need 0 < nprobe <= cells")
      val cells = NearestCell.cellDistances(query.map(SignBucket.scaleComponent).toArray, centroids)
        .zipWithIndex.sortBy { case (d2, c) => (d2, c) }.take(nprobe).map(_._2)
      col("cell").isin(cells.map(Int.box): _*)
    }
  }

  /** Order- and content-sensitive digest of a centroid matrix. */
  private def centroidsDigest(centroids: Array[Array[Long]]): String = {
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

  /** LSH sign bucket: one bit per hyperplane = sign of <scaled(vec), plane>.
    * Codegen'd custom expression, exact-integer arithmetic (plane weights and
    * int64-scaled components — SQL-oracle-reproducible, no float sign
    * boundary nondeterminism). */
  def signBucket(vec: Column, planes: Int): Column = SignBucket(vec, planes)

  /** (id, vec, sv, n2): the double vector, its int64-scaled form and squared
    * norm. Two-step projection so `sv` is computed once and reused. */
  private def withScaled(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast(ArrayType(DoubleType)).as("vec"))
      .withColumn("sv", ScaleVec(col("vec")))
      .withColumn("n2", ScaledIntDot(col("sv"), col("sv")))

  /** (id, sv, n2) of a raw corpus: the codegen'd ScaleVec/ScaledIntDot
    * projection every ranking reads. */
  def scaled(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    withScaled(df, idCol, vecCol).drop("vec")

  /**
   * Persist an ANN index: `id, sv, n2` plus the layout's key columns, the
   * keys computed ONCE (codegen'd expressions) and the rows written
   * partitionBy(layout.partitionCol), so a lookup is a partition-pruned
   * scan of the probed directories only — the write-once/read-many shape.
   * The stored scaled vector and norm keep every read projection pure
   * ScaledIntDot + arithmetic. Writes the layout's metadata file last.
   */
  def build(df: DataFrame, idCol: String, vecCol: String, layout: Layout, path: String): Unit = {
    val keyed = layout.keys.foldLeft(withScaled(df, idCol, vecCol)) {
      case (d, (name, key)) => d.withColumn(name, key)
    }
    layout.shape(keyed.drop("vec"))
      .write.mode("overwrite").partitionBy(layout.partitionCol).parquet(path)
    val json = layout.meta.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}\n")
    val hp = new org.apache.hadoop.fs.Path(path, MetaFileName)
    val out = hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).create(hp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** The index at `path` as a relation, after checking its metadata against
    * `layout`: absent or mismatching metadata throws (never probes). Open
    * once and reuse across lookups — re-resolving the parquet relation per
    * lookup pays partition discovery + analysis every call (measured ~0.8 s
    * of driver overhead per query at 256 partitions). */
  def open(spark: SparkSession, path: String, layout: Layout): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(path, MetaFileName)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) throw new IllegalArgumentException(
      s"ANN index at $path has no $MetaFileName — (re)build it with " +
        "Similarity.build; refusing to guess its geometry")
    val in = fs.open(hp)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val obj = graft.json.Json.parse(text) match {
      case o: graft.json.JObj => o
      case other => throw new IllegalArgumentException(
        s"ANN index metadata at $hp is not a JSON object: ${other.typeName}")
    }
    layout.meta.foreach { case (k, want) =>
      val got = obj.get(k).map(graft.json.Json.render).getOrElse("<absent>")
      if (got != want) throw new IllegalArgumentException(
        s"ANN index at $path was built with $k=$got but this lookup expects $k=$want — " +
          "a silent mismatch would probe the wrong partitions and return wrong " +
          "neighbors; rebuild the index or fix the caller")
    }
    spark.read.parquet(path)
  }

  /** The rows of an [[open]]ed index the layout's probe keeps for `query`
    * (PartitionFilters on the partition column; verify with .explain). */
  def candidates(index: DataFrame, layout: Layout, query: Seq[Double], probe: Int): DataFrame =
    index.where(layout.probe(query, probe))

  /** Exact top-k of `cands` (`id, sv` + carried columns) by scaled-integer
    * dot with `query`: the carried columns, then `dot_scaled`. */
  def topKDot(cands: DataFrame, query: Seq[Double], k: Int): DataFrame =
    rank(cands, "dot_scaled", ScaledIntDot(col("sv"), scaledLit(query)), k)

  /** Exact top-k of `cands` (`id, sv, n2` + carried columns) by cosine with
    * `query`: the carried columns, then `cosine`. */
  def topKCosine(cands: DataFrame, query: Seq[Double], k: Int): DataFrame = {
    val qNorm = math.sqrt(query.map(SignBucket.scaleComponent).map(x => x.toDouble * x).sum)
    rank(cands, "cosine", ScaledIntDot(col("sv"), scaledLit(query)).cast(DoubleType) /
      (sqrt(col("n2").cast(DoubleType)) * lit(qNorm)), k)
  }

  private def scaledLit(query: Seq[Double]): Column =
    array(query.map(v => lit(SignBucket.scaleComponent(v))): _*)

  /** Projects away the vector columns (`id` and the layout keys ride along)
    * and keeps the k best by `score`, ties by id. */
  private def rank(cands: DataFrame, name: String, score: Column, k: Int): DataFrame =
    cands.select(cands.columns.filterNot(Set("sv", "n2")).map(col).toSeq :+ score.as(name): _*)
      .orderBy(desc(name), col("id")).limit(k)

  // ---- fixed-signature forms of the prefixed and IVF paths, as graft.Bench
  // calls them (its call sites do not change) -------------------------------

  def buildIndexPrefixed(df: DataFrame, idCol: String, vecCol: String,
                         planes: Int, prefixBits: Int, path: String): Unit =
    build(df, idCol, vecCol, Prefixed(planes, prefixBits), path)

  def openIndexPrefixed(spark: SparkSession, path: String,
                        planes: Int, prefixBits: Int): DataFrame =
    open(spark, path, Prefixed(planes, prefixBits))

  /** (id, cosine) top-k of an opened prefixed index. */
  def annTopKIndexedPrefixed(index: DataFrame, query: Seq[Double], k: Int,
                             planes: Int, prefixBits: Int,
                             probeBits: Int): DataFrame =
    topKCosine(candidates(index, Prefixed(planes, prefixBits), query, probeBits), query, k)
      .select("id", "cosine")

  def buildIndexIvf(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Long]], path: String): Unit =
    build(df, idCol, vecCol, Ivf(centroids), path)

  def openIndexIvf(spark: SparkSession, path: String,
                   centroids: Array[Array[Long]]): DataFrame =
    open(spark, path, Ivf(centroids))

  /** (id, cell, dot_scaled) top-k of an opened IVF index. */
  def annTopKIvf(index: DataFrame, centroids: Array[Array[Long]],
                 query: Seq[Double], k: Int, nprobe: Int): DataFrame =
    topKDot(candidates(index, Ivf(centroids), query, nprobe), query, k)

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
}
