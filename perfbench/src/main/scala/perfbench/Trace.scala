package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable.ArrayBuffer

/** Spark counters collected while one span was the innermost open span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var shuffleBlocks = 0L
  var spillBytes = 0L
  var planningMs = 0L
  val taskMs = new ArrayBuffer[Long]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    recordsRead += o.recordsRead; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleBlocks += o.shuffleBlocks; spillBytes += o.spillBytes
    planningMs += o.planningMs; taskMs ++= o.taskMs
  }

  def cpuS: Double = cpuNs / 1e9
  def shuffleWriteMb: Double = shuffleWriteBytes / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
  /** Slowest task over the median task: 1 means no skew. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, own: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into the engine, plus Spark counters per
 * span from a SparkListener and a QueryExecutionListener.
 *
 * The benchmark is a closed loop: one public call is in flight at a time, so
 * every task and query that finishes while a span is the innermost open span
 * belongs to it. The listener bus is drained when a span closes, so late
 * events cannot leak into the next span. With tracing off no listener is
 * attached and `span` only times its body.
 */
final class Tracer(runId: String) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long, Counters)] = Nil
  private var nextId = 0
  private val current = new AtomicReference[Counters](new Counters)
  private var spark: SparkSession = _
  @volatile var enabled = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = current.get
      c.synchronized { c.jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = current.get
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.recordsRead += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleBlocks += m.shuffleReadMetrics.localBlocksFetched +
            m.shuffleReadMetrics.remoteBlocksFetched
          c.spillBytes += m.diskBytesSpilled
          c.taskMs += m.executorRunTime
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      val c = current.get
      c.synchronized { c.planningMs += ms }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attach the listeners to `s` (and detach from the previous session). */
  def attach(s: SparkSession, on: Boolean): Unit = {
    detach()
    spark = s
    enabled = on
    if (on) {
      s.sparkContext.addSparkListener(sparkListener)
      s.listenerManager.register(queryListener)
    }
  }

  def detach(): Unit = if (spark != null && enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    enabled = false
  }

  private def drain(): Unit =
    if (spark != null && enabled)
      org.apache.spark.sql.graftshim.Bridge.drainListenerBus(spark.sparkContext, 60000L)

  /** Run `f` inside a span; returns its result and its wall seconds. */
  def timed[A](name: String)(f: => A): (A, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = f
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    drain()
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val own = new Counters
    val outer = current.get
    stack = (id, name, System.nanoTime(), own) :: stack
    current.set(own)
    val t0 = stack.head._3
    try {
      val r = f
      val t1 = System.nanoTime()
      drain()
      spans += Span(id, name, parent, runId, t0, t1, own)
      (r, (t1 - t0) / 1e9)
    } finally {
      stack = stack.tail
      current.set(outer)
    }
  }

  def span[A](name: String)(f: => A): A = timed(name)(f)._1

  /** Forget the spans recorded since `mark`. */
  def mark: Int = spans.size
  def rollback(mark: Int): Unit = spans.remove(mark, spans.size - mark)

  /** Counters of a span including every span nested in it. */
  def total(s: Span): Counters = {
    val c = new Counters
    c.add(s.own)
    spans.filter(_.parent == s.id).foreach(k => c.add(total(k)))
    c
  }

  /** Span duration minus the part of it its direct child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo); val hi = math.min(b, s.endNs)
      if (hi > lo) { covered += hi - lo; upTo = hi }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson(origin: Long): String = spans.map { s =>
    val c = total(s)
    s"""{"id":${s.id},"name":${JsonOut.str(s.name)},"parent":${s.parent},"run_id":${JsonOut.str(s.runId)},""" +
      s""""start_ms":${JsonOut.num((s.startNs - origin) / 1e6)},"end_ms":${JsonOut.num((s.endNs - origin) / 1e6)},""" +
      s""""self_s":${JsonOut.num(selfSeconds(s))},"jobs":${c.jobs},"tasks":${c.tasks},""" +
      s""""executor_cpu_s":${JsonOut.num(c.cpuS)},"gc_s":${JsonOut.num(c.gcMs / 1e3)},""" +
      s""""records_read":${c.recordsRead},"shuffle_write_mb":${JsonOut.num(c.shuffleWriteMb)},""" +
      s""""shuffle_blocks":${c.shuffleBlocks},"spill_mb":${JsonOut.num(c.spillMb)},""" +
      s""""planning_ms":${c.planningMs},"max_task_ms":${if (c.taskMs.isEmpty) 0 else c.taskMs.max},""" +
      s""""task_skew":${JsonOut.num(c.taskSkew)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Minimal JSON writing for the result and span files. */
object JsonOut {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
