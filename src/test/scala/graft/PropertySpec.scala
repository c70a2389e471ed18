package graft

import graft.json._
import graft.rules.JsonSchemaValidator
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests: the validator is total on arbitrary (doc, schema) pairs,
  * agrees with itself across representations, and the JSON layer round-trips.
  * (Deterministic seeded sampling — the scalatestplus bridge isn't in the
  * offline artifact cache, raw scalacheck Gen is.) */
class PropertySpec extends AnyFunSuite {

  private def forAll[A, B](ga: Gen[A], gb: Gen[B], n: Int = 300)(f: (A, B) => Unit): Unit = {
    var seed = Seed(42L)
    (1 to n).foreach { _ =>
      val a = ga.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val b = gb.pureApply(Gen.Parameters.default, seed); seed = seed.next
      f(a, b)
    }
  }
  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    forAll(ga, Gen.const(())) { (a, _) => f(a) }

  private val genScalar: Gen[JVal] = Gen.oneOf(
    Gen.const(JNull),
    Gen.oneOf(true, false).map(JBool),
    Gen.chooseNum(-1000000L, 1000000L).map(n => JNum(BigDecimal(n))),
    Gen.chooseNum(-1000.0, 1000.0).map(d => JNum(BigDecimal(d.toString))),
    Gen.alphaNumStr.map(JStr))

  private def genJson(depth: Int): Gen[JVal] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      4 -> genScalar,
      1 -> Gen.listOfN(3, genJson(depth - 1)).map(xs => JArr(xs.toVector)),
      1 -> Gen.listOfN(3, Gen.zip(Gen.alphaNumStr, genJson(depth - 1)))
        .map(fs => JObj.normalized(fs)))

  private val genKeyword: Gen[(String, JVal)] = Gen.oneOf(
    Gen.chooseNum(-100, 100).map(n => "minimum" -> (JNum(BigDecimal(n)): JVal)),
    Gen.chooseNum(-100, 100).map(n => "maximum" -> (JNum(BigDecimal(n)): JVal)),
    Gen.chooseNum(0, 20).map(n => "minLength" -> (JNum(BigDecimal(n)): JVal)),
    Gen.chooseNum(0, 20).map(n => "maxItems" -> (JNum(BigDecimal(n)): JVal)),
    Gen.oneOf("string", "number", "integer", "array", "object", "boolean", "null")
      .map(t => "type" -> (JStr(t): JVal)),
    Gen.listOfN(3, genScalar).map(vs => "enum" -> (JArr(vs.toVector): JVal)),
    genScalar.map(v => "const" -> v),
    Gen.const("uniqueItems" -> (JBool(true): JVal)),
    // malformed fragments — must be vacuous, never throw (SURVEY.md §2.4.1)
    Gen.const("type" -> (JNum(BigDecimal(7)): JVal)),
    Gen.const("enum" -> (JStr("notAnArray"): JVal)),
    Gen.const("pattern" -> (JStr("[invalid"): JVal)))

  private val genSchema: Gen[JVal] = Gen.frequency(
    6 -> Gen.listOfN(3, genKeyword).map(ks => JObj.normalized(ks)),
    1 -> Gen.oneOf(true, false).map(JBool),
    1 -> genScalar)

  test("validator is total; valid implies zero violations") {
    // NOTE the converse does not hold: a boolean `false` schema is invalid yet
    // emits no error — the reference's fast path returns before any error
    // construction (json_schema_validate.c:323-330), preserved deliberately.
    forAll(genJson(3), genSchema) { (doc, schema) =>
      val valid = JsonSchemaValidator.isValid(doc, schema)
      val errs = JsonSchemaValidator.violations(doc, schema)
      assert(!valid || errs.isEmpty,
        s"doc=${Json.render(doc)} schema=${Json.render(schema)} errs=$errs")
      if (errs.nonEmpty) assert(!valid)
    }
  }

  test("false schema quirk: invalid with empty error array (reference c:323-330)") {
    assert(!JsonSchemaValidator.isValid(Json.parse("5"), JBool(false)))
    assert(JsonSchemaValidator.violationsJson(Json.parse("5"), JBool(false)) === "[]")
  }

  test("violationsJson is always parseable JSON") {
    forAll(genJson(2), genSchema) { (doc, schema) =>
      val out = JsonSchemaValidator.violationsJson(doc, schema)
      val parsed = Json.parse(out)
      assert(parsed.isInstanceOf[JArr])
    }
  }

  test("Json render/parse round-trips (jsonb-normalized)") {
    forAll(genJson(3)) { v =>
      val normalized = Json.parse(Json.render(v))
      assert(Json.render(normalized) === Json.render(v))
    }
  }

  test("boolean schemas behave as constants") {
    forAll(genJson(2)) { doc =>
      assert(JsonSchemaValidator.isValid(doc, JBool(true)))
      assert(!JsonSchemaValidator.isValid(doc, JBool(false)))
    }
  }

  test("shingle-family expressions agree: hashes, sets, and repetition stats") {
    // ShingleHashesX (distinct folds), ShingleSetX (distinct strings), and
    // RepetitionStatsX (counts with multiplicity) are three views of the
    // SAME window decomposition — on random word arrays the distinct counts
    // must coincide and the stats must be internally consistent.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, split}
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e") // small vocab forces repeats
    val rnd = new scala.util.Random(7)
    val docs = (0L until 60L).map { i =>
      val m = 1 + rnd.nextInt(12)
      (i, Vector.fill(m)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "text")
    val ws = split(col("text"), "\\s+")
    val rows = docs.select(col("id"), col("text"),
        graft.functions.ShingleHashesX(ws, 3).as("h"),
        graft.functions.ShingleSetX(ws, 3).as("s"),
        graft.functions.RepetitionStatsX(ws, 3).as("r"))
      .collect()
    rows.foreach { r =>
      val m = r.getString(1).split("\\s+").length
      val h = r.getSeq[Long](2); val s = r.getSeq[String](3); val st = r.getSeq[Long](4)
      assert(h.length === s.length, s"id=${r.getLong(0)}")       // same distinct windows
      assert(st(1) === h.length.toLong, s"id=${r.getLong(0)}")   // distinct_grams agrees
      assert(st(0) === math.max(m - 2, 1).toLong, s"id=${r.getLong(0)}") // total = windows
      assert(st(2) >= 1L && st(2) <= st(0), s"id=${r.getLong(0)}")
    }
  }
}

/** UTF-8 byte-length semantics: jsonb string length = BYTES, not chars
  * (minLength/maxLength use the jsonb string len, c:929-961). */
class ByteLengthSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.json.Json
  import graft.rules.JsonSchemaValidator

  test("multi-byte characters count as bytes in min/maxLength") {
    // "héllo" = 6 UTF-8 bytes, 5 chars
    val doc = Json.parse("\"héllo\"")
    assert(JsonSchemaValidator.isValid(doc, Json.parse("""{"minLength":6}""")))
    assert(!JsonSchemaValidator.isValid(doc, Json.parse("""{"maxLength":5}""")))
    val errs = JsonSchemaValidator.violations(doc, Json.parse("""{"maxLength":5}"""))
    assert(errs.head.message === "String length 6 exceeds maxLength 5")
  }

  test("columnar minLength matches byte semantics via octet_length") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("héllo", 1)).toDF("s", "id")
    val compiled = graft.rules.SuiteCompiler.compile("""{"rules":{"s":{"maxLength":5}}}""")
    val v = compiled.violations(df.withColumn("doc_id", $"id"), "doc_id").collect()
    assert(v.head.getAs[String]("observed") === "String length 6 exceeds maxLength 5")
  }
}
