package graft.pipeline

import graft.json._
import graft.rules.SuiteCompiler
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Checkpoint manifest: per-partition lineage (snapshot-id, rule-set hash) +
 * metrics, written atomically (tmp + rename) after each completed batch, so a
 * killed run resumes validating only unfinished partitions (north_rule).
 * The stored rule-set hash also pins WHICH suite validated each partition —
 * a changed suite invalidates prior completions (the analogue of storing
 * jsonschema_compiled values, json_schema_validate--0.1.0.sql:37-56).
 */
final case class PartitionEntry(part: Int, nRows: Long, nViolations: Long) {
  /** Rule passes are two-valued, so a partition passes exactly when no
    * (row, rule) pair in it is violated. */
  def passAll: Boolean = nViolations == 0
}

final class Manifest(val snapshotId: String, val ruleSetHash: String,
                     val entries: Map[Int, PartitionEntry],
                     val globalDuplicateKeys: Option[Long] = None) {
  def isDone(part: Int): Boolean = entries.contains(part)
  def withEntries(es: Seq[PartitionEntry]): Manifest =
    new Manifest(snapshotId, ruleSetHash, entries ++ es.map(e => e.part -> e),
      globalDuplicateKeys)
  /** Global (cross-partition) rules are table-level: recorded once per
    * snapshot, not per partition (SURVEY.md §7 hard part c). */
  def withGlobalDuplicates(n: Long): Manifest =
    new Manifest(snapshotId, ruleSetHash, entries, Some(n))

  def toJson: String = {
    val parts = entries.values.toSeq.sortBy(_.part).map { e =>
      s"""{"part":${e.part},"nRows":${e.nRows},"nViolations":${e.nViolations},"passAll":${e.passAll}}"""
    }.mkString("[", ",", "]")
    val globals = globalDuplicateKeys
      .map(n => s""","global":{"duplicateKeys":$n,"uniquePass":${n == 0}}""").getOrElse("")
    s"""{"snapshotId":"$snapshotId","ruleSetHash":"$ruleSetHash","partitions":$parts$globals}"""
  }
}

object Manifest {
  def empty(snapshotId: String, ruleSetHash: String): Manifest =
    new Manifest(snapshotId, ruleSetHash, Map.empty)

  /** Load if present AND lineage matches; otherwise start fresh (a changed
    * snapshot or rule set must re-validate everything). */
  def loadOrEmpty(path: String, snapshotId: String, ruleSetHash: String): Manifest = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return empty(snapshotId, ruleSetHash)
    Json.parseOpt(new String(Files.readAllBytes(p), "UTF-8")) match {
      case Some(o: JObj) =>
        val snap = o.get("snapshotId").collect { case JStr(s) => s }.getOrElse("")
        val hash = o.get("ruleSetHash").collect { case JStr(s) => s }.getOrElse("")
        if (snap != snapshotId || hash != ruleSetHash) empty(snapshotId, ruleSetHash)
        else {
          val es = o.get("partitions") match {
            case Some(JArr(xs)) => xs.collect { case e: JObj =>
              def num(k: String) = e.get(k).collect { case JNum(n) => n.toLong }.getOrElse(0L)
              val part = num("part").toInt
              part -> PartitionEntry(part, num("nRows"), num("nViolations"))
            }.toMap
            case _ => Map.empty[Int, PartitionEntry]
          }
          val globalDups = o.get("global").collect { case g: JObj =>
            g.get("duplicateKeys").collect { case JNum(n) => n.toLong }
          }.flatten
          new Manifest(snapshotId, ruleSetHash, es, globalDups)
        }
      case _ => empty(snapshotId, ruleSetHash)
    }
  }

  /** Atomic write: tmp file + ATOMIC_MOVE rename. */
  def save(m: Manifest, path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, m.toJson.getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/**
 * Partition-orchestrated validation run (SURVEY.md §7 M4):
 * per batch of Iceberg-style partitions — filter prunes the parquet scan to
 * just those partitions — write violations partitioned by `part` in ONE
 * action whose observed counters give the per-partition verdicts, then
 * checkpoint the manifest.
 * Global rules (doc_id uniqueness crosses partitions) run once per snapshot.
 */
object ValidationPipeline {

  /** `globalLoaded`: true when the cross-partition rule's result came from
    * the checkpoint manifest (resume path) instead of being recomputed —
    * judged by v_resume_global. */
  final case class RunResult(verdicts: Seq[PartitionEntry], resumedSkipped: Int,
                             globalDuplicateKeys: Long, globalLoaded: Boolean)

  def run(spark: SparkSession, corpusPath: String, suiteJson: String,
          outDir: String, snapshotId: String, batchSize: Int = 4,
          keyCol: String = "doc_id"): RunResult = {
    val compiled = SuiteCompiler.compile(suiteJson)
    val manifestPath = s"$outDir/manifest.json"
    var manifest = Manifest.loadOrEmpty(manifestPath, snapshotId, compiled.suiteHash)

    // fresh lineage (new snapshot or rule set, or first run): clear any stale
    // violations so outputs from different runs never mix. Resolved through
    // the Hadoop FileSystem so the cleanup works on ANY supported filesystem
    // (hdfs://, s3a://) — java.io.File would be a silent no-op on non-local
    // URIs while the parquet writes succeed, mixing lineages.
    if (manifest.entries.isEmpty) {
      val vPath = new org.apache.hadoop.fs.Path(s"$outDir/violations")
      val fs = vPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(vPath)) fs.delete(vPath, true)
    }

    val corpus = spark.read.parquet(corpusPath)
    val allParts = corpus.select("part").distinct().collect().map(_.getInt(0)).sorted
    val todo = allParts.filterNot(manifest.isDone).toIndexedSeq
    val skipped = allParts.length - todo.length

    todo.grouped(batchSize).foreach { batch =>
      // partition pruning: `part` is the parquet partition column, so this
      // filter never reads the other partitions' files
      val slice = corpus.where(col("part").isin(batch.map(Integer.valueOf): _*))
      // per-partition rows and violated (row, rule) pairs, counted on the
      // write's own scan: 2 conditional aggregates per partition in the batch.
      // The write plan must hold no global sort: its sampling job would run
      // the observed plan a second time and double every counter.
      val obs = Observation()
      val counters = batch.flatMap { p =>
        val inPart = col("part") === p
        Seq(count(when(inPart, 1)).as(s"n_$p"),
          coalesce(sum(when(inPart, compiled.violationCountCol.cast(LongType))), lit(0L)).as(s"v_$p"))
      }
      // partitionBy(part) + DYNAMIC partition overwrite: a batch replayed
      // after a crash-before-checkpoint REPLACES its partitions' violations
      // instead of appending duplicates (exactly-once output per partition,
      // keyed by the same lineage the manifest records)
      compiled.violations(slice.observe(obs, counters.head, counters.tail: _*), keyCol, Seq("part"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(s"$outDir/violations")
      val m = obs.get
      val entries = batch.map { p =>
        PartitionEntry(p, m(s"n_$p").asInstanceOf[Long], m(s"v_$p").asInstanceOf[Long])
      }
      manifest = manifest.withEntries(entries)
      Manifest.save(manifest, manifestPath) // checkpoint after each batch
    }

    // global (cross-partition) rule: doc_id uniqueness, salted two-phase;
    // resumable too — a completed global check is recorded in the manifest
    // and LOADED (not recomputed) on resume
    val (dupCount, globalLoaded) = manifest.globalDuplicateKeys match {
      case Some(n) => (n, true)
      case None =>
        val n = TableChecks.duplicates(corpus, keyCol).count()
        manifest = manifest.withGlobalDuplicates(n)
        Manifest.save(manifest, manifestPath)
        (n, false)
    }

    RunResult(manifest.entries.values.toSeq.sortBy(_.part), skipped, dupCount, globalLoaded)
  }
}
