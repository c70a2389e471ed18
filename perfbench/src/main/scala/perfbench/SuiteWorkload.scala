package perfbench

import graft.Bench
import graft.corpus.CorpusGen
import graft.pipeline.{Manifest, TableChecks, ValidationPipeline}
import graft.rules.SuiteCompiler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/**
 * The ValidationSuite engine over a generated, identity-partitioned corpus:
 * one pass is a fresh `ValidationPipeline.run`, a run resumed from a manifest
 * that holds half the partitions, and the table checks (`columnStats`, two
 * `histogram`s, `drift`). Expected verdicts, violation counts and duplicate
 * keys are computed from CorpusGen's injection periods, not by the engine.
 */
final class SuiteWorkload(o: Opts, shape: CorpusGen.Config) extends Workload {
  import SuiteWorkload._

  /** Both corpora are generated in every run, never reused from an earlier
    * one: a reused corpus would leave the JVM colder at set-up and so move
    * `setup_s` with the state of a cache. The warm-up corpus has the same
    * shape, a sixteenth of the rows over four partitions (one batch), and is
    * the same for every seed. */
  private val main = new Corpus(shape.copy(seed = o.seed), o.scratch.resolve("corpus"), s"seed-${o.seed}")
  private val warm = new Corpus(shape.copy(rows = shape.rows / 16, numPartitions = 4, seed = 0L),
    o.scratch.resolve("warm-corpus"), "warm")
  private val rows = main.rows
  private val corpus = main.path
  private val outDir = o.scratch.resolve("suite-out")
  private var compiled: SuiteCompiler.Compiled = _
  private val histHi = shape.maxTok + 2.0

  /** Per-call seconds of untraced cycles. */
  private val fresh, resume, checks = mutable.ArrayBuffer[Double]()
  private var resumeSkipped = 0

  def prepare(spark: SparkSession): Unit = {
    generate(spark, main.cfg, main.path)
    generate(spark, warm.cfg, warm.path)
  }

  /** Calls and checks of the warm-up pass, added to the run's in `report`. */
  private val warmRes = new Result

  /** The warm-up is one untraced pass over the warm-up corpus: every call
    * the measured passes make is warm when they start. */
  def setup(spark: SparkSession): Unit = {
    compiled = SuiteCompiler.compile(Bench.benchSuite)
    pass(spark, new Tracer("warm-up"), warmRes, warm)
    Main.deleteRecursively(outDir)
  }

  private def checkRun(t: Corpus, r: ValidationPipeline.RunResult, skipped: Int): Option[String] = {
    val got = r.verdicts.map(e => (e.part, e.nRows, e.nViolations, e.passAll))
    val want = (0 until t.parts).map(p => (p, t.expRows(p), t.expViol(p), t.expViol(p) == 0))
    if (got != want) Some(s"verdicts $got != $want")
    else if (r.globalDuplicateKeys != t.expDups) Some(s"duplicate keys ${r.globalDuplicateKeys} != ${t.expDups}")
    else if (r.resumedSkipped != skipped) Some(s"skipped ${r.resumedSkipped} != $skipped")
    else if (r.globalLoaded) Some("global rule loaded instead of computed")
    else None
  }

  private def checkViolationRows(spark: SparkSession, t: Corpus, res: Result, what: String): Unit = {
    val n = spark.read.parquet(outDir.resolve("violations").toString).count()
    res.check(s"$what violation rows", n == t.expViol.sum, s"$n != ${t.expViol.sum}")
  }

  def cycle(spark: SparkSession, tr: Tracer, res: Result): Double = {
    val (tFresh, tResume, tChecks) = pass(spark, tr, res, main)
    if (!tr.enabled) { fresh += tFresh; resume += tResume; checks += tChecks }
    tFresh + tResume + tChecks
  }

  /** Fresh run, half-done resume and table checks over `t`; their seconds. */
  private def pass(spark: SparkSession, tr: Tracer, res: Result, t: Corpus): (Double, Double, Double) = {
    val manifestPath = outDir.resolve("manifest.json").toString
    Main.deleteRecursively(outDir)
    val (_, tFresh) = tr.timed("ValidationPipeline.run.fresh") {
      res.call("ValidationPipeline.run fresh") {
        ValidationPipeline.run(spark, t.path.toString, Bench.benchSuite, outDir.toString, t.snapshot)
      }(checkRun(t, _, 0))
    }
    checkViolationRows(spark, t, res, "fresh")
    val freshManifest = new String(Files.readAllBytes(java.nio.file.Paths.get(manifestPath)), "UTF-8")

    // keep the first half of the partitions and drop the global rule's result
    val loaded = tr.span("Manifest.load") {
      Manifest.loadOrEmpty(manifestPath, t.snapshot, compiled.suiteHash)
    }
    val half = new Manifest(t.snapshot, compiled.suiteHash,
      loaded.entries.filter(_._1 < t.parts / 2))
    tr.span("Manifest.save")(Manifest.save(half, manifestPath))

    val (r, tResume) = tr.timed("ValidationPipeline.run.resume") {
      res.call("ValidationPipeline.run resume") {
        ValidationPipeline.run(spark, t.path.toString, Bench.benchSuite, outDir.toString, t.snapshot)
      }(checkRun(t, _, t.parts / 2))
    }
    resumeSkipped = r.map(_.resumedSkipped).getOrElse(0)
    checkViolationRows(spark, t, res, "resume")
    val resumedManifest = new String(Files.readAllBytes(java.nio.file.Paths.get(manifestPath)), "UTF-8")
    res.check("resumed manifest", resumedManifest == freshManifest,
      s"$resumedManifest != $freshManifest")

    val (_, tChecks) = tr.timed("TableChecks") {
      res.call("TableChecks") {
        val df = spark.read.parquet(t.path.toString)
        val stats = tr.span("TableChecks.columnStats") {
          TableChecks.columnStats(df, Seq("n_tok", "source")).collect()
        }
        val (h1, h2) = tr.span("TableChecks.histogram") {
          (histogram(spark, df.where(col("part") < t.parts / 2)),
            histogram(spark, df.where(col("part") >= t.parts / 2)))
        }
        val d = tr.span("TableChecks.drift")(TableChecks.drift(h1, h2, Buckets))
        (stats.head.getAs[Long]("n_rows"), h1.collect().map(_.getLong(1)).sum +
          h2.collect().map(_.getLong(1)).sum, d)
      } { case (n, histTotal, d) =>
        if (n != t.rows) Some(s"columnStats n_rows $n != ${t.rows}")
        else if (histTotal != t.rows) Some(s"histogram total $histTotal != ${t.rows}")
        else if (d.psi.isNaN || d.ks < 0 || d.ks > 1) Some(s"drift $d")
        else None
      }
    }
    (tFresh, tResume, tChecks)
  }

  /** A histogram collected to a local relation, so `drift` times only itself. */
  private def histogram(spark: SparkSession, df: DataFrame): DataFrame = {
    val h = TableChecks.histogram(df, "n_tok", 1, histHi, Buckets)
    spark.createDataFrame(spark.sparkContext.parallelize(h.collect().toSeq, 1), h.schema)
  }

  def report(res: Result): Unit = {
    res.attempted += warmRes.attempted
    res.failed += warmRes.failed
    res.failures ++= warmRes.failures.map("warm-up " + _)
    res.report("validate_rows_per_s") = (rows / Main.median(fresh.toSeq), "rows/s")
    res.report("resume_s") = (Main.median(resume.toSeq), "s")
    res.report("table_checks_s") = (Main.median(checks.toSeq), "s")
    res.report("corpus_rows") = (rows.toDouble, "count")
  }

  def layers(spark: SparkSession, tr: Tracer, res: Result): Unit = {
    def med(name: String)(f: Span => Double) = Main.median(tr.named(name).map(f))
    val df = spark.read.parquet(corpus.toString)
    val fileMb = corpusBytes(corpus) / 1048576.0

    val (_, scanS) = tr.timed("scan.decode") {
      df.write.format("noop").mode("overwrite").save()
    }
    res.layers("scan.decode_s") = (scanS, "s")

    val compileMs = (1 to 20).map { _ =>
      val t0 = System.nanoTime(); SuiteCompiler.compile(Bench.benchSuite)
      (System.nanoTime() - t0) / 1e6
    }
    res.layers("suite.compile_ms") = (Main.median(compileMs), "ms")
    val (_, vS) = tr.timed("SuiteCompiler.verdicts")(compiled.verdicts(df, Seq("part")).collect())
    val vC = tr.total(tr.named("SuiteCompiler.verdicts").last)
    res.layers("suite.verdicts_s") = (vS, "s")
    res.layers("suite.verdicts_cpu_s") = (vC.cpuS, "s")
    val vOut = o.scratch.resolve("violations-probe")
    val (_, wS) = tr.timed("SuiteCompiler.violations") {
      compiled.violations(df, "doc_id", Seq("part"))
        .write.mode("overwrite").partitionBy("part").parquet(vOut.toString)
    }
    val wC = tr.total(tr.named("SuiteCompiler.violations").last)
    res.layers("suite.violations_write_s") = (wS, "s")
    res.layers("suite.violations_write_cpu_s") = (wC.cpuS, "s")
    res.layers("suite.violations_rows_out") = (spark.read.parquet(vOut.toString).count().toDouble, "count")
    res.layers("suite.violations_scans") = (wC.recordsRead.toDouble / rows, "ratio")
    Main.deleteRecursively(vOut)

    val freshSpans = tr.named("ValidationPipeline.run.fresh")
    res.layers("pipeline.run_s") = (med("ValidationPipeline.run.fresh")(_.seconds), "s")
    res.layers("pipeline.resume_s") = (med("ValidationPipeline.run.resume")(_.seconds), "s")
    res.layers("pipeline.jobs") = (Main.median(freshSpans.map(s => tr.total(s).jobs.toDouble)), "count")
    res.layers("pipeline.tasks") = (Main.median(freshSpans.map(s => tr.total(s).tasks.toDouble)), "count")
    val amp = Main.median(freshSpans.map(s => tr.total(s).recordsRead.toDouble / rows))
    res.layers("pipeline.scan_amplification") = (amp, "ratio")
    res.layers("pipeline.scanned_file_mb") = (amp * fileMb, "MB")
    res.layers("pipeline.resume_partitions_skipped") = (resumeSkipped.toDouble, "count")
    res.layers("manifest.save_ms") = (med("Manifest.save")(_.seconds * 1e3), "ms")
    res.layers("manifest.load_ms") = (med("Manifest.load")(_.seconds * 1e3), "ms")
    res.layers("corpus.file_mb") = (fileMb, "MB")

    val (_, dS) = tr.timed("TableChecks.duplicates")(TableChecks.duplicates(df, "doc_id").count())
    val dC = tr.total(tr.named("TableChecks.duplicates").last)
    res.layers("checks.duplicates_s") = (dS, "s")
    res.layers("checks.duplicates_shuffle_write_mb") = (dC.shuffleWriteMb, "MB")
    res.layers("checks.duplicates_shuffle_blocks") = (dC.shuffleBlocks.toDouble, "count")
    res.layers("checks.duplicates_task_skew") = (dC.taskSkew, "ratio")
    res.layers("checks.duplicates_spill_mb") = (dC.spillMb, "MB")
    res.layers("checks.column_stats_s") = (med("TableChecks.columnStats")(_.seconds), "s")
    res.layers("checks.histogram_s") = (med("TableChecks.histogram")(_.seconds), "s")
    res.layers("checks.drift_ms") = (med("TableChecks.drift")(_.seconds * 1e3), "ms")
  }
}

/** A generated corpus and what CorpusGen's injection periods say the engine
  * must find in it. */
final class Corpus(val cfg: CorpusGen.Config, val path: Path, val snapshot: String) {
  val rows: Long = cfg.rows
  val parts: Int = cfg.numPartitions
  val expRows: Array[Long] = Array.tabulate(parts)(p => (rows - p + parts - 1) / parts)
  val expViol: Array[Long] = {
    val v = new Array[Long](parts)
    Seq(cfg.badTokenEvery, cfg.badNtokEvery, cfg.badSourceEvery).filter(_ > 0).foreach { e =>
      var i = e
      while (i < rows) { v((i % parts).toInt) += 1; i += e }
    }
    v
  }
  val expDups: Long = if (cfg.dupEvery > 0) (rows - 1) / cfg.dupEvery else 0L
}

object SuiteWorkload {
  val Buckets = 64

  /** Short token arrays, many violations of every rule and duplicate keys. */
  val ShortDirty: CorpusGen.Config = CorpusGen.Config(
    rows = 112000, maxTok = 16, numPartitions = 16,
    dupEvery = 11, badSourceEvery = 7, badTokenEvery = 13, badNtokEvery = 17)

  /** Writes two files per `part` value, so that file sizes, not the number of
    * files, scale with the row count. */
  def generate(spark: SparkSession, c: CorpusGen.Config, path: Path): Unit =
    CorpusGen.writePartitioned(
      CorpusGen.generate(spark, c)
        .repartition(c.numPartitions * 2, col("part"), pmod(xxhash64(col("doc_id")), lit(2))),
      path.toString)

  def corpusBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => f.toString.endsWith(".parquet")).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
