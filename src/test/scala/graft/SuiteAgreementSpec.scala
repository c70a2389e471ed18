package graft

import graft.rules.SuiteCompiler
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/**
 * Cross-implementation property: for randomized ValidationSuites over the
 * corpus schema, the columnar compiler (Catalyst Columns) and the row-scalar
 * walker (the reference-semantics interpreter) must agree row-for-row —
 * per-row token-array equality is the shared invariant (BASELINE.json
 * input_hint). The row side validates the to_json projection of the row
 * against an equivalent JSON Schema document.
 */
class SuiteAgreementSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def randomSuite(rnd: Random): (String, String) = {
    // build matched (columnSuite, jsonSchema) pairs keyword-by-keyword
    val nMin = rnd.nextInt(200)
    val nMax = nMin + rnd.nextInt(400)
    val minLen = rnd.nextInt(8)
    val maxItems = 1 + rnd.nextInt(600)
    val tokMax = 10000 + rnd.nextInt(50000)
    val langs = Random.shuffle(List("web", "books", "code", "wiki", "BADSRC"))
      .take(1 + rnd.nextInt(4)).map(s => s""""$s"""").mkString(",")
    val pat = rnd.nextInt(3) match {
      case 0 => "^doc-"
      case 1 => "^doc-[0-9]{12}$"
      case 2 => "-0{3}"
    }
    val suite =
      s"""{ "rules": {
         |  "doc_id": { "type": "string", "minLength": $minLen, "pattern": "$pat" },
         |  "n_tok":  { "type": "integer", "minimum": $nMin, "maximum": $nMax },
         |  "source": { "enum": [$langs] },
         |  "tokens": { "minItems": 1, "maxItems": $maxItems, "uniqueItems": true,
         |              "items": { "minimum": 0, "exclusiveMaximum": $tokMax } }
         |}}""".stripMargin
    val docSchema =
      s"""{ "type": "object", "properties": {
         |  "doc_id": { "type": "string", "minLength": $minLen, "pattern": "$pat" },
         |  "n_tok":  { "type": "integer", "minimum": $nMin, "maximum": $nMax },
         |  "source": { "enum": [$langs] },
         |  "tokens": { "minItems": 1, "maxItems": $maxItems, "uniqueItems": true,
         |              "items": { "minimum": 0, "exclusiveMaximum": $tokMax } }
         |}}""".stripMargin
    (suite, docSchema)
  }

  test("columnar compiler == row-scalar walker on 12 randomized suites") {
    import graft.functions.functions._
    val df = graft.corpus.CorpusGen.generate(spark,
      graft.corpus.CorpusGen.Config(rows = 500, badSourceEvery = 17,
        badTokenEvery = 23, badNtokEvery = 0)).cache()
    df.count()
    val rnd = new Random(4242)
    (1 to 12).foreach { i =>
      val (suite, docSchema) = randomSuite(rnd)
      val compiled = SuiteCompiler.compile(suite)
      val both = df.withColumn("columnar", compiled.isValidCol)
        .withColumn("dynamic", jsonschema_is_valid(
          to_json(struct(col("doc_id"), col("tokens"), col("n_tok"), col("source"))),
          docSchema))
      val disagree = both.where(col("columnar") =!= col("dynamic"))
      val n = disagree.count()
      if (n > 0) disagree.show(3, false)
      assert(n === 0, s"suite #$i disagrees on $n rows:\n$suite")
    }
    df.unpersist()
  }

  test("rule predicates are two-valued: NULL-bearing rows agree with the walker, the count and verdicts") {
    import spark.implicits._
    import graft.json.Json
    import graft.rules.JsonSchemaValidator
    // (a) bounds-only items over arrays with no non-null element, (b)
    // equalsExpr against a NULL expression, (c) element enum over a NULL
    // element; row 3 also mixes a NULL element with a real bounds failure
    val rows = Seq(
      (1L, Seq.empty[Option[Int]], 3, Option(Seq(1, 2, 3)), Seq(Option(1), Option(2))),
      (2L, Seq(Option.empty[Int]), 3, Option.empty[Seq[Int]], Seq(Option(1))),
      (3L, Seq(Option.empty[Int], Option(-1)), 1, Option(Seq(7)), Seq(Option(1), None)),
      (4L, Seq(Option(5)), 1, Option(Seq(7)), Seq(Option(2))))
    val df = rows.toDF("doc_id", "arr", "n_tok", "tokens", "e").withColumn("part", $"doc_id")
    val compiled = SuiteCompiler.compile(
      """{ "rules": {
        |  "arr":   { "items": { "minimum": 0 } },
        |  "n_tok": { "equalsExpr": "size(tokens)" },
        |  "e":     { "items": { "enum": [1, 2] } }
        |}}""".stripMargin)

    val perRow = df.select($"doc_id", compiled.isValidCol.as("ok"), compiled.violationCountCol.as("n"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Boolean]), r.getInt(2))).toMap
    assert(perRow.values.forall(_._1.isDefined), s"NULL isValidCol: $perRow")
    val viols = compiled.violations(df, "doc_id").collect()
      .map(r => (r.getString(0).toLong, r.getString(1), r.getString(2), r.getString(3)))
    val rowsOut = viols.groupBy(_._1).map { case (k, vs) => k -> vs.length }
    perRow.foreach { case (id, (ok, n)) =>
      assert(ok.get === (n == 0), s"row $id: isValid=$ok, violationCount=$n")
      assert(ok.get === !rowsOut.contains(id), s"row $id: isValid=$ok, violation rows=${rowsOut.get(id)}")
    }
    assert(perRow.map { case (id, (ok, _)) => id -> ok.get } === Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
    assert(viols.toSeq.filter(_._1 == 2L).map(_._2) === Seq("n_tok:equalsExpr"))

    // walker agreement on the array columns (rows (a) and (c))
    val schema = Json.parse(
      """{"properties":{"arr":{"items":{"minimum":0}},"e":{"items":{"enum":[1,2]}}}}""")
    def js(xs: Seq[Option[Int]]) = xs.map(_.fold("null")(_.toString)).mkString("[", ",", "]")
    rows.foreach { case (id, arr, _, _, e) =>
      val walker = JsonSchemaValidator.violations(
        Json.parse(s"""{"arr":${js(arr)},"e":${js(e)}}"""), schema).map(v => (v.path, v.message)).toSet
      val columnar = viols.filter(v => v._1 == id && !v._2.startsWith("n_tok"))
        .map(v => (v._2.stripSuffix(":items"), v._3)).toSet
      assert(columnar === walker, s"row $id")
    }
    assert(viols.filter(_._2 == "e[1]:items").map(_._4).toSeq === Seq("null"))

    val verdicts = compiled.verdicts(df, Seq("part")).collect()
    assert(verdicts.length === 4)
    verdicts.foreach { v =>
      assert(v.getAs[Boolean]("pass_all") === (v.getAs[Long]("n_violations") == 0L), v.toString)
    }
  }
}

/** Combinator keywords through the COLUMNAR compiler, cross-checked against
  * the row-scalar walker (same semantics: anyOf summary error, oneOf exact
  * count, if/then/else branch selection, not negation, allOf accumulation). */
class CombinatorColumnarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def check(suite: String, docSchema: String): Unit = {
    import graft.functions.functions._
    val df = graft.corpus.CorpusGen.generate(spark,
      graft.corpus.CorpusGen.Config(rows = 400, badSourceEvery = 13, badNtokEvery = 29))
    val compiled = SuiteCompiler.compile(suite)
    val both = df.withColumn("columnar", compiled.isValidCol)
      .withColumn("dynamic", jsonschema_is_valid(
        to_json(struct(col("doc_id"), col("tokens"), col("n_tok"), col("source"))), docSchema))
    assert(both.where(col("columnar") =!= col("dynamic")).count() === 0, suite)
    // verdicts path also runs (no exceptions, counts consistent)
    val v = compiled.verdicts(df, Seq("part")).collect()
    assert(v.map(_.getAs[Long]("n_rows")).sum === 400)
  }

  test("anyOf columnar == walker") {
    check(
      """{ "rules": { "n_tok": { "anyOf": [ {"maximum": 100}, {"minimum": 400} ] } } }""",
      """{ "properties": { "n_tok": { "anyOf": [ {"maximum": 100}, {"minimum": 400} ] } } }""")
  }
  test("oneOf columnar == walker") {
    check(
      """{ "rules": { "n_tok": { "oneOf": [ {"minimum": 100}, {"maximum": 300} ] } } }""",
      """{ "properties": { "n_tok": { "oneOf": [ {"minimum": 100}, {"maximum": 300} ] } } }""")
  }
  test("allOf columnar == walker, errors accumulate") {
    check(
      """{ "rules": { "source": { "allOf": [ {"enum":["web","books","code","wiki"]}, {"minLength": 4} ] } } }""",
      """{ "properties": { "source": { "allOf": [ {"enum":["web","books","code","wiki"]}, {"minLength": 4} ] } } }""")
    val df = graft.corpus.CorpusGen.generate(spark,
      graft.corpus.CorpusGen.Config(rows = 100, badSourceEvery = 10))
    val compiled = SuiteCompiler.compile(
      """{ "rules": { "source": { "allOf": [ {"enum":["web","books","code","wiki"]}, {"maxLength": 5} ] } } }""")
    val v = compiled.violations(df, "doc_id").collect()
    // BADSRC fails enum AND maxLength(5)? BADSRC is 6 bytes -> both branches fire
    assert(v.count(_.getAs[String]("observed") == "Value not in enum") === 9)
    assert(v.count(_.getAs[String]("observed").startsWith("String length 6 exceeds")) === 9)
  }
  test("not columnar == walker") {
    check(
      """{ "rules": { "source": { "not": { "enum": ["BADSRC"] } } } }""",
      """{ "properties": { "source": { "not": { "enum": ["BADSRC"] } } } }""")
  }
  test("if/then/else columnar == walker") {
    check(
      """{ "rules": { "n_tok": { "if": {"minimum": 256}, "then": {"maximum": 400}, "else": {"minimum": 10} } } }""",
      """{ "properties": { "n_tok": { "if": {"minimum": 256}, "then": {"maximum": 400}, "else": {"minimum": 10} } } }""")
  }
}

/** Object keywords on MapType columns through the columnar compiler. */
class MapColumnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mapDf = {
    import spark.implicits._
    Seq(
      (1L, Map("k" -> 5, "extra" -> 1)),
      (2L, Map("k" -> 7)),
      (3L, Map("other" -> 9)),
      (4L, Map[String, Int]()),
      (5L, Map("k" -> 1, "k2" -> 2, "k3" -> 3, "k4" -> 4))
    ).toDF("id", "props")
  }

  test("requiredKeys / min-maxProperties / propertyNames / additionalProperties on maps") {
    val suite =
      """{ "rules": { "props": {
        |  "required": ["k"],
        |  "minProperties": 1, "maxProperties": 3,
        |  "propertyNames": { "pattern": "^[a-z][a-z0-9]*$", "maxLength": 5 },
        |  "additionalProperties": false, "properties": { "k": {}, "k2": {}, "k3": {}, "k4": {} },
        |  "patternProperties": { "^ex": {} }
        |}}}""".stripMargin
    val compiled = SuiteCompiler.compile(suite)
    val rows = mapDf.withColumn("v", compiled.isValidCol)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows(1L))            // k present, extra exempted by patternProperties
    assert(rows(2L))            // k present
    assert(!rows(3L))           // missing k + 'other' not allowed
    assert(!rows(4L))           // empty: minProperties + missing k
    assert(!rows(5L))           // 4 properties > maxProperties 3
    val v = compiled.violations(mapDf, "id").collect()
    assert(v.exists(r => r.getAs[String]("rule_id") == "props:required:k" &&
      r.getAs[String]("observed") == "Missing required property: k"))
    assert(v.exists(_.getAs[String]("observed") == "Object has 4 properties, maximum is 3"))
    // per-key reject message, reference format c:1459-1460
    assert(v.exists(_.getAs[String]("observed") == "Additional property 'other' is not allowed"))
  }

  test("schema-valued additionalProperties validates non-exempt VALUES (c:1465-1476)") {
    import spark.implicits._
    val df = Seq(
      (1L, Map("k" -> 5, "extra" -> 150)),  // extra >= 100: passes sub-schema
      (2L, Map("k" -> 5, "bad" -> 7)),      // bad < 100: violates
      (3L, Map("k" -> 3)),                  // only known keys: vacuous
      (4L, Map("exempted" -> 1))            // patternProperties-exempt: unchecked
    ).toDF("id", "props")
    val suite =
      """{ "rules": { "props": {
        |  "properties": { "k": {} },
        |  "patternProperties": { "^ex": {} },
        |  "additionalProperties": { "minimum": 100 }
        |}}}""".stripMargin
    val compiled = SuiteCompiler.compile(suite)
    val ok = df.withColumn("v", compiled.isValidCol)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(ok === Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
    val v = compiled.violations(df.withColumn("doc_id", $"id"), "doc_id").collect()
    assert(v.length === 1)
    assert(v.head.getAs[String]("rule_id") === "props/bad:additionalProperties")
    assert(v.head.getAs[String]("observed") === "Value is less than minimum")
    // walker agreement on the equivalent dynamic document
    import graft.rules.JsonSchemaValidator
    import graft.json.Json
    val schema = Json.parse(
      """{"properties":{"k":{}},"patternProperties":{"^ex":{}},
        |"additionalProperties":{"minimum":100}}""".stripMargin)
    assert(JsonSchemaValidator.isValid(Json.parse("""{"k":5,"extra":150}"""), schema))
    assert(!JsonSchemaValidator.isValid(Json.parse("""{"k":5,"bad":7}"""), schema))
    assert(JsonSchemaValidator.isValid(Json.parse("""{"exempted":1}"""), schema))
  }

  test("uniqueItems is vacuous for arrays of containers (jsonb_values_equal c:1287-1344)") {
    import spark.implicits._
    val scalarDup = Seq((1L, Seq(1, 2, 2)), (2L, Seq(1, 2, 3))).toDF("id", "a")
    val containerDup = Seq((1L, Seq(Seq(1, 2), Seq(1, 2)))).toDF("id", "a")
    val compiled = SuiteCompiler.compile("""{ "rules": { "a": { "uniqueItems": true } } }""")
    val s = scalarDup.withColumn("v", compiled.isValidCol)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(s === Map(1L -> false, 2L -> true))
    // duplicate INNER ARRAYS: the reference never equates containers -> valid
    val c = containerDup.withColumn("v", compiled.isValidCol).select("v").head().getBoolean(0)
    assert(c === true)
  }

}

/** Rules on nested struct fields via dotted column paths. */
class StructFieldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("dotted rule names validate struct fields") {
    import spark.implicits._
    val df = Seq((1L, (640, 480)), (2L, (0, 1080)), (3L, (1920, 1080)))
      .toDF("id", "geom").selectExpr("id", "named_struct('w', geom._1, 'h', geom._2) AS geom")
    val compiled = SuiteCompiler.compile(
      """{ "rules": { "geom.w": { "minimum": 1, "maximum": 1920 },
        |             "geom.h": { "minimum": 1, "maximum": 1080 } } }""".stripMargin)
    val bad = df.where(!compiled.isValidCol).select("id").collect().map(_.getLong(0))
    assert(bad.toSeq === Seq(2L))
    val v = compiled.violations(df.withColumn("doc_id", $"id"), "doc_id").collect()
    assert(v.map(_.getAs[String]("rule_id")).toSeq === Seq("geom.w:minimum"))
    assert(v.head.getAs[String]("observed") === "Value is less than minimum")
  }
}
