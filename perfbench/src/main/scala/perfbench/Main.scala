package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Options passed by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, out: Path, tables: Option[Path],
                      warmTables: Option[Path]) {
  /** This process's scratch directory, removed when the run ends. */
  val scratch: Path = work.resolve(s"run-${ProcessHandle.current().pid()}")
}

/** What one run measured and checked, written to `--out` as JSON. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** name -> (value, unit); `e2e` are BENCHMARK.json's end-to-end metrics. */
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-level figures printed by run.py next to the end-to-end ones. */
  val report = mutable.LinkedHashMap[String, (Double, String)]()
  /** Per-layer metrics (traced runs only). */
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  /** Extra JSON members, already encoded. */
  val extra = mutable.LinkedHashMap[String, String]()

  /** Count one public call; `ok` false (or a thrown exception) is a failure. */
  def call[A](what: String)(f: => A)(ok: A => Option[String]): Option[A] = {
    attempted += 1
    try {
      val r = f
      ok(r).foreach { why => failed += 1; failures += s"$what: $why" }
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1; failures += s"$what: threw $e"
        None
    }
  }

  def check(what: String, cond: Boolean, detail: => String): Unit =
    if (!cond) { failed += 1; failures += s"$what: $detail" }

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) = JsonOut.obj(m.toSeq.map {
      case (k, (v, u)) => k -> JsonOut.obj(Seq("value" -> JsonOut.num(v), "unit" -> JsonOut.str(u)))
    })
    JsonOut.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failures" -> failures.map(JsonOut.str).mkString("[", ",", "]"),
      "e2e" -> metrics(e2e), "report" -> metrics(report), "layers" -> metrics(layers)) ++ extra)
  }
}

/** One benchmark workload: a closed loop of public calls into the engine. */
trait Workload {
  /** Generate or load inputs. Not part of set-up time. */
  def prepare(spark: SparkSession): Unit
  /** Compile/parse what the calls need and make one warm-up pass. */
  def setup(spark: SparkSession): Unit
  /** One pass over the workload's calls; returns the seconds those calls took. */
  def cycle(spark: SparkSession, tr: Tracer, res: Result): Double
  /** Workload-level figures from the untraced cycles. */
  def report(res: Result): Unit
  /** Per-layer metrics: from the traced cycles' spans plus layer probes. */
  def layers(spark: SparkSession, tr: Tracer, res: Result): Unit
}

object Main {
  val Cores = 4

  private val t0 = System.nanoTime()
  /** Progress line in the JVM log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s] $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Fixed-work single-thread integer loop: its time tracks the host's clock. */
  def clockProbeSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 300000000L) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) sys.error("unreachable")
    dt
  }

  /** VmHWM of this process in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap in use after full collections: what the process keeps alive. The
    * pauses let Spark's ContextCleaner drop the state of RDDs, shuffles and
    * broadcasts the previous collection found unreachable. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val f = p.toFile
    def rm(x: java.io.File): Unit = {
      val kids = x.listFiles(); if (kids != null) kids.foreach(rm)
      x.delete(); ()
    }
    rm(f)
  }

  /** Start Spark and run one small query: the class list for run.py's
    * class-data-sharing archive, which shortens every JVM start. */
  private def archiveRun(): Unit = {
    val s = SparkSession.builder().master(s"local[$Cores]").config("spark.ui.enabled", "false")
      .getOrCreate()
    s.range(1000).selectExpr("sum(id)").collect()
    stop(s)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m.get("tables").map(Paths.get(_).toAbsolutePath),
      m.get("warm-tables").map(Paths.get(_).toAbsolutePath))
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--archive"))) return archiveRun()
    val o = parse(args)
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Files.createDirectories(o.work)
    val wl: Workload = o.workload match {
      case "suite_short_dirty" => new SuiteWorkload(o, SuiteWorkload.ShortDirty)
      case "scalar_json" => new ScalarJsonWorkload(o)
      case "curation_ops" => new CurationWorkload(o)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val res = new Result
    val tr = new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val origin = System.nanoTime()

    // set-up time: process start to the first timed call, minus input
    // generation (the load generator's cost, cached across runs)
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    log("prepare")
    wl.prepare(spark)
    val t1 = System.nanoTime()
    tr.attach(spark, o.trace)
    tr.span("setup")(wl.setup(spark))
    val setupS = bootS + sessionS + (System.nanoTime() - t1) / 1e9
    log(f"setup $setupS%.3f s")

    // closed loop: the next pass starts when the previous one returns. A
    // traced run first makes one more warm-up pass, then alternates passes
    // with and without the listeners, so the tracing overhead is measured in
    // the same process on equally warm passes.
    if (o.trace) {
      val mark = tr.mark
      wl.cycle(spark, tr, res)
      tr.rollback(mark)
    }
    val plain = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val tStart = System.nanoTime()
    var k = 0
    while (k < (if (o.trace) 2 else 1) || (System.nanoTime() - tStart) / 1e9 < o.seconds) {
      val on = o.trace && k % 2 == 0
      tr.attach(spark, on)
      val (secs, _) = tr.timed("cycle") {
        try wl.cycle(spark, tr, res)
        catch {
          case e: Throwable =>
            res.attempted += 1; res.failed += 1; res.failures += s"cycle: threw $e"
            0.0
        }
      }
      (if (on) traced else plain) += secs
      log(f"cycle $k traced=$on ${secs}%.3f s")
      k += 1
    }
    tr.attach(spark, false)
    val probe = clockProbeSeconds()

    val cycleS = median(plain.toSeq)
    res.e2e("setup_s") = (setupS, "s")
    res.e2e("cycle_s") = (cycleS, "s")
    res.e2e("retained_heap_mb") = (retainedHeapMb(), "MB")
    wl.report(res)
    res.report("peak_rss_mb") = (peakRssMb(), "MB")
    res.report("jvm_boot_s") = (bootS, "s")
    res.report("cycles") = (plain.size.toDouble, "count")
    res.report("host.probe_s") = (probe, "s")

    if (o.trace) {
      tr.attach(spark, true)
      wl.layers(spark, tr, res)
      val cycles = tr.named("cycle")
      def perCycle(f: Counters => Double) = median(cycles.map(c => f(tr.total(c))))
      res.layers("spark.executor_cpu_s") = (perCycle(_.cpuS), "s")
      res.layers("spark.gc_s") = (perCycle(_.gcMs / 1e3), "s")
      res.layers("spark.cpu_utilization") =
        (median(cycles.map(c => tr.total(c).cpuS / (c.seconds * Cores))), "ratio")
      res.layers("spark.planning_ms") = (perCycle(_.planningMs.toDouble), "ms")
      res.layers("host.probe_s") = (probe, "s")
      res.layers("host.peak_rss_mb") = (res.report("peak_rss_mb")._1, "MB")
      res.layers("trace.cycle_s") = (median(traced.toSeq), "s")
      res.layers("trace.overhead_s") = (median(traced.toSeq) - cycleS, "s")
      tr.attach(spark, false)
      val spans = o.out.resolveSibling(s"spans-${o.workload}-${o.seed}.json")
      Files.write(spans, tr.toJson(origin).getBytes("UTF-8"))
      res.extra("spans") = JsonOut.str(spans.toString)
    }
    Files.write(o.out, res.toJson.getBytes("UTF-8"))
    stop(spark)
    deleteRecursively(o.scratch)
  }
}
