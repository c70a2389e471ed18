package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/**
 * The curation operators (dedup and similarity leaves of `SparkEntry.queries`)
 * over the fixed sf0.1 `documents` and `embeddings` tables. `SparkEntry`
 * memoises cluster tables and ANN/IVF indexes per data directory, so every
 * pass runs on a fresh copy of the tables in a new directory: each leaf call
 * is a first call. The set-up's warm-up pass uses the sf0.1 tables' smaller
 * sf0.01 counterparts. Each leaf's rows
 * are reduced to a count and a digest that run.py compares with DuckDB running
 * the leaf's oracle SQL.
 */
final class CurationWorkload(o: Opts) extends Workload {
  import CurationWorkload._

  private val tables = o.tables.getOrElse(sys.error("--tables is required"))
  private val warmTables = o.warmTables.getOrElse(sys.error("--warm-tables is required"))
  private val copies = o.scratch.resolve("tables")
  private var nCopies = 0
  private val results = mutable.ArrayBuffer[String]()
  private val leafSeconds = Leaves.map(_ -> mutable.ArrayBuffer[Double]()).toMap
  private val passes = mutable.ArrayBuffer[Double]()

  private def freshCopy(src: Path): String = {
    nCopies += 1
    val d = copies.resolve(s"c$nCopies")
    Files.createDirectories(d)
    Seq("documents.parquet", "embeddings.parquet").foreach(t => Files.copy(src.resolve(t), d.resolve(t)))
    d.toString
  }

  def prepare(spark: SparkSession): Unit = {
    val sql = Leaves.map(l => l -> JsonOut.str(SparkEntry.oracleSql(l)))
    Files.write(o.out.resolveSibling("oracle_sql.json"), JsonOut.obj(sql).getBytes("UTF-8"))
  }

  def setup(spark: SparkSession): Unit = {
    val dir = freshCopy(warmTables)
    Leaves.foreach(l => SparkEntry.queries(l)(spark, dir).collect())
  }

  def cycle(spark: SparkSession, tr: Tracer, res: Result): Double = {
    val dir = freshCopy(tables)
    val secs = Leaves.map { leaf =>
      val (rows, t) = tr.timed(s"ops.$leaf") {
        res.call(leaf)(SparkEntry.queries(leaf)(spark, dir).collect())(_ => None)
      }
      rows.foreach { rs =>
        val (n, d) = digest(rs)
        results += JsonOut.obj(Seq("leaf" -> JsonOut.str(leaf), "rows" -> n.toString,
          "digest" -> JsonOut.str(d)))
      }
      if (!tr.enabled) leafSeconds(leaf) += t
      t
    }
    if (!tr.enabled) passes += secs.sum
    res.extra("leaf_results") = results.mkString("[", ",", "]")
    secs.sum
  }

  def report(res: Result): Unit = {
    res.report("ops_wall_s") = (Main.median(passes.toSeq), "s")
    Leaves.foreach(l => res.report(s"$l.s") = (Main.median(leafSeconds(l).toSeq), "s"))
  }

  def layers(spark: SparkSession, tr: Tracer, res: Result): Unit = Leaves.foreach { l =>
    val spans = tr.named(s"ops.$l")
    def med(f: Span => Double) = Main.median(spans.map(f))
    res.layers(s"ops.${l}_s") = (med(_.seconds), "s")
    res.layers(s"ops.${l}_cpu_s") = (med(s => tr.total(s).cpuS), "s")
    res.layers(s"ops.${l}_jobs") = (med(s => tr.total(s).jobs.toDouble), "count")
    res.layers(s"ops.${l}_shuffle_write_mb") = (med(s => tr.total(s).shuffleWriteMb), "MB")
  }
}

object CurationWorkload {
  /** CC rounds, the LSH band join, the IVF training, index and probe, the
    * LSH index build and probe, and the embedding bucket self-join.
    * `d_neardup_capped` (the band join plus a hot-bucket cap) and
    * `s_ann_batch` (a batch probe of the same LSH index) are left out to keep
    * a run within the benchmark's time budget. */
  val Leaves: Seq[String] = Seq("d_clusters", "d_neardup_lsh", "s_ann_ivf", "s_ann_lsh",
    "s_embed_neardup")

  /** Same normalisation and digest as curation.py's `digest`. */
  def digest(rows: Array[Row]): (Int, String) = {
    if (rows.isEmpty) return (0, sha256(""))
    val names = rows.head.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    def norm(v: Any): String = v match {
      case null => "NULL"
      case d: Double => if (d.isNaN) "NaN" else d.toString
      case b: Boolean => b.toString
      case x => x.toString
    }
    import Ordering.Implicits._
    val canon = rows.map(r => order.map(i => norm(r.get(i))).toVector).sorted
    (canon.length, sha256(canon.map(_.mkString("\u001f")).mkString("\n")))
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
