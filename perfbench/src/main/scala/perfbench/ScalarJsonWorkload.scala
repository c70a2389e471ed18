package perfbench

import graft.functions.functions.{jsonschema_is_valid, jsonschema_violations}
import graft.json.{JVal, Json => GJson}
import graft.rules.{JsonSchemaValidator, PosixRegex}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * The scalar JSON path: generated documents in a cached string column,
 * validated against one schema with `jsonschema_is_valid` (short-circuit) and
 * `jsonschema_violations` (full report). Every document is built valid or
 * with exactly one planted defect, so the valid count is known up front.
 */
final class ScalarJsonWorkload(o: Opts) extends Workload {
  import ScalarJsonWorkload._

  private val planted = (0L until Docs).count(i => ScalarDocs.defect(o.seed, i) != 0).toLong
  private var docs, warm: DataFrame = _
  private val isValid, report = mutable.ArrayBuffer[Double]()

  private def frame(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val df = spark.range(0, n, 1, 16).map(i => ScalarDocs.doc(seed, i))(Encoders.STRING)
      .toDF("doc").cache()
    df.count()
    df
  }

  private def validCount(df: DataFrame): Long =
    df.agg(sum(when(jsonschema_is_valid(col("doc"), ScalarDocs.Schema), 1).otherwise(0)))
      .head().getLong(0)

  private def reportedCount(df: DataFrame): Long =
    df.agg(sum(when(size(jsonschema_violations(col("doc"), ScalarDocs.Schema)) > 0, 1).otherwise(0)))
      .head().getLong(0)

  /** Both document columns are built and cached before set-up, so no pass
    * and no set-up pays for generating them. */
  def prepare(spark: SparkSession): Unit = {
    warm = frame(spark, Docs / 2, 0L)
    docs = frame(spark, Docs, o.seed)
  }

  def setup(spark: SparkSession): Unit = {
    GJson.parse(ScalarDocs.Schema)
    validCount(warm); reportedCount(warm)
    warm.unpersist()
  }

  def cycle(spark: SparkSession, tr: Tracer, res: Result): Double = {
    val (_, tValid) = tr.timed("jsonschema_is_valid") {
      res.call("jsonschema_is_valid")(validCount(docs)) { n =>
        if (n == Docs - planted) None else Some(s"valid $n != ${Docs - planted}")
      }
    }
    val (_, tReport) = tr.timed("jsonschema_violations") {
      res.call("jsonschema_violations")(reportedCount(docs)) { n =>
        if (n == planted) None else Some(s"non-empty reports $n != $planted")
      }
    }
    if (!tr.enabled) { isValid += tValid; report += tReport }
    tValid + tReport
  }

  def report(res: Result): Unit = {
    res.report("is_valid_docs_per_s") = (Docs / Main.median(isValid.toSeq), "docs/s")
    res.report("report_docs_per_s") = (Docs / Main.median(report.toSeq), "docs/s")
    res.report("docs") = (Docs.toDouble, "count")
    res.report("planted_invalid") = (planted.toDouble, "count")
  }

  /** Docs per second of `f` over `xs`, repeated until it has run 0.3 s. */
  private def loopRate[A](xs: IndexedSeq[A])(f: A => Any): Double = {
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) { xs.foreach(f); n += xs.size }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def layers(spark: SparkSession, tr: Tracer, res: Result): Unit = {
    val sample = (0L until SampleDocs).map(ScalarDocs.doc(o.seed, _))
    val schema = GJson.parse(ScalarDocs.Schema)
    val parsed: IndexedSeq[JVal] = sample.map(GJson.parse)
    val parseRate = loopRate(sample)(GJson.parse)
    val validRate = loopRate(parsed)(JsonSchemaValidator.isValid(_, schema))
    val violRate = loopRate(parsed)(JsonSchemaValidator.violations(_, schema))
    res.layers("json.parse_docs_per_s") = (parseRate, "docs/s")
    res.layers("validator.is_valid_docs_per_s") = (validRate, "docs/s")
    res.layers("validator.violations_docs_per_s") = (violRate, "docs/s")
    val emails = (0 until SampleDocs.toInt).map(i =>
      if (i % 10 == 0) s"bad mail $i" else s"user$i@example.com")
    val emailPattern = JsonSchemaValidator.formatPattern("email").get._1
    res.layers("regex.find_per_s") = (loopRate(emails)(PosixRegex.find(emailPattern, _)), "calls/s")

    // executor CPU of the Catalyst expressions, and what it costs beyond
    // parsing plus the plain validator loop on the same number of documents
    def cpu(name: String) = Main.median(tr.named(name).map(s => tr.total(s).cpuS))
    val validCpu = cpu("jsonschema_is_valid")
    val violCpu = cpu("jsonschema_violations")
    res.layers("functions.is_valid_cpu_s") = (validCpu, "s")
    res.layers("functions.violations_cpu_s") = (violCpu, "s")
    res.layers("functions.is_valid_overhead_cpu_s") =
      (validCpu - Docs / parseRate - Docs / validRate, "s")
    res.layers("functions.violations_overhead_cpu_s") =
      (violCpu - Docs / parseRate - Docs / violRate, "s")
  }
}

object ScalarJsonWorkload {
  val Docs = 32000L
  val SampleDocs = 4000L
}

/**
 * Deterministic JSON documents: document `i` of seed `s` is a pure function of
 * (s, i). About half are flat CHECK-constraint records, the rest events and
 * orders with 20-50 item arrays; 10 % carry exactly one planted defect.
 */
object ScalarDocs {
  val Schema: String =
    """{"$defs":{
      |  "tag":{"type":"string","pattern":"^[a-z][a-z0-9_]{2,15}$"},
      |  "item":{"type":"object","required":["sku","qty"],"additionalProperties":false,
      |    "properties":{"sku":{"type":"string","pattern":"^[A-Z]{3}-[0-9]{4}$"},
      |      "qty":{"type":"integer","minimum":1,"maximum":1000},
      |      "price":{"type":"number","minimum":0}}}},
      | "type":"object","required":["id","kind"],
      | "properties":{
      |  "id":{"type":"integer","minimum":0},
      |  "kind":{"enum":["flat","event","order"]},
      |  "email":{"type":"string","format":"email"},
      |  "ts":{"type":"string","format":"date-time"},
      |  "ref":{"oneOf":[{"type":"string","format":"uuid"},{"type":"integer","minimum":0}]},
      |  "score":{"anyOf":[{"type":"integer","minimum":0,"maximum":100},{"enum":["low","mid","top"]}]},
      |  "tags":{"type":"array","items":{"$ref":"#/$defs/tag"},"uniqueItems":true,"maxItems":64},
      |  "items":{"type":"array","items":{"$ref":"#/$defs/item"},"minItems":1,"maxItems":64}},
      | "allOf":[{"not":{"required":["deleted"]}},{"maxProperties":12}]}""".stripMargin
      .replaceAll("\n\\s*", "")

  val Defects = 10
  private val Words = Array("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa",
    "lambda", "theta", "zeta", "iota", "rho", "tau", "phi", "chi", "psi")

  private def rng(seed: Long, i: Long): java.util.SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new java.util.SplittableRandom(z ^ (z >>> 31))
  }

  /** 0 for a valid document, else the planted defect (1..Defects). */
  def defect(seed: Long, i: Long): Int = {
    val r = rng(seed, i)
    if (r.nextInt(10) == 0) 1 + r.nextInt(Defects) else 0
  }

  def doc(seed: Long, i: Long): String = {
    val r = rng(seed, i)
    val d = if (r.nextInt(10) == 0) 1 + r.nextInt(Defects) else 0
    val kind = r.nextInt(20) match { case k if k < 10 => "flat"; case k if k < 16 => "event"; case _ => "order" }
    val f = mutable.LinkedHashMap[String, String]()
    f("id") = i.toString
    f("kind") = "\"" + kind + "\""
    f("email") = s""""user$i@example.com""""
    def tag(k: Int) = Words(k % Words.length) + "_" + (k / Words.length)
    def tags(n: Int) = {
      val start = r.nextInt(1000)
      (0 until n).map(k => "\"" + tag(start + k) + "\"")
    }
    def item(k: Int) = {
      val sku = "%c%c%c-%04d".format('A' + r.nextInt(26), 'A' + r.nextInt(26), 'A' + r.nextInt(26), r.nextInt(10000))
      s"""{"sku":"$sku","qty":${1 + r.nextInt(999)},"price":${r.nextInt(100000) / 100.0}}"""
    }
    def items(n: Int) = (0 until n).map(item)
    def ts = "2024-%02d-%02dT%02d:%02d:%02dZ".format(1 + r.nextInt(12), 1 + r.nextInt(28),
      r.nextInt(24), r.nextInt(60), r.nextInt(60))
    def uuid = "%08x-%04x-%04x-%04x-%012x".format(r.nextInt() & 0x7fffffff, r.nextInt(65536),
      r.nextInt(65536), r.nextInt(65536), r.nextLong() & 0xffffffffffffL)

    f("score") = if (r.nextBoolean()) r.nextInt(101).toString else "\"mid\""
    var tagList = IndexedSeq.empty[String]
    var itemList = IndexedSeq.empty[String]
    kind match {
      case "flat" => ()
      case "event" =>
        f("ts") = "\"" + ts + "\""
        f("ref") = if (r.nextBoolean()) "\"" + uuid + "\"" else r.nextInt(1 << 20).toString
        tagList = tags(5 + r.nextInt(8))
      case _ =>
        f("ts") = "\"" + ts + "\""
        tagList = tags(2 + r.nextInt(6))
        itemList = items(20 + r.nextInt(31))
    }
    d match {
      case 0 => ()
      case 1 => f("email") = "\"not an email\""
      case 2 => f.remove("kind")
      case 3 => f("kind") = "\"other\""
      case 4 => f("deleted") = "true"
      case 5 => f("ref") = "-3"
      case 6 =>
        val base = if (tagList.isEmpty) tags(3) else tagList
        tagList = base :+ base.head
      case 7 => itemList = (if (itemList.isEmpty) items(3) else itemList) :+ """{"sku":"abc-12","qty":1}"""
      case 8 => f("ts") = "\"yesterday\""
      case 9 => f("score") = "\"high\""
      case _ => itemList = (if (itemList.isEmpty) items(3) else itemList) :+ """{"sku":"ABC-0001","qty":0}"""
    }
    if (tagList.nonEmpty) f("tags") = tagList.mkString("[", ",", "]")
    if (itemList.nonEmpty) f("items") = itemList.mkString("[", ",", "]")
    f.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  }
}
