package graft.rules

import graft.json._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One violation row of the engine's typed output (BASELINE.json north_star):
  * rule_id = reference error path + keyword; observed = the reference's exact
  * message text; expected = the declared bound (compact JSON). */
final case class ViolationRow(doc_id: String, rule_id: String, observed: String, expected: String)

/** A column-level rule compiled to pure Catalyst expressions:
  * `pass` is a BooleanType predicate (true = row passes), never NULL, so
  * a row is valid exactly when it counts no violated rule and emits no
  * violation entry — kept free of row-level allocation so the
  * scan+predicate pipeline stays inside whole-stage codegen; `violations`
  * (array<struct<rule_id,observed,expected>>, one entry per failed check)
  * is only evaluated behind a failing-rows filter / CASE WHEN, so clean
  * rows never pay for report construction —
  * the Column analogue of the reference's errors=NULL suppressed validation
  * (json_schema_validate.c:1551 etc.). */
final case class CompiledRule(id: String, pass: Column, violations: Column)

/**
 * Compiles a ValidationSuite document — JSON Schema keywords applied to the
 * named columns of a structured table — into Catalyst Column expressions.
 *
 * This is the 100TB path: where the reference walks a jsonb tree per row
 * (json_schema_validate.c:363-549), a fixed-schema corpus lets every keyword
 * collapse to a vectorizable built-in over a typed column (SURVEY.md §1.2,
 * §2.2 "Spark primitive" column). Message strings byte-match the reference
 * formats (§2.3) so ViolationRow output is comparable across implementations.
 *
 * Suite document shape:
 * {{{
 * { "$defs":   { "name": { <keywords> } },
 *   "rules":   { "<column>": { <keywords>, "required": true|false,
 *                              "equalsExpr": "<spark sql expr>" } } }
 * }}}
 * Supported keywords per column (same semantics as the row-scalar walker):
 * type, enum, const, minimum, maximum, exclusiveMinimum, exclusiveMaximum,
 * multipleOf, minLength, maxLength, pattern, format, minItems, maxItems,
 * uniqueItems, items (element-level bounds/enum/const/type), contains,
 * minContains, maxContains, $ref (into $defs). Extensions for table rules:
 * `required` as boolean (column null-check) and `equalsExpr` (cross-column
 * invariant, e.g. n_tok == size(tokens) — the reference cannot express this;
 * it is the north_star's token-consistency rule).
 */
object SuiteCompiler {

  final case class Compiled(rules: Vector[CompiledRule], suiteHash: String) {
    /** Conjunction of every rule predicate (≅ jsonschema_is_valid per row). */
    def isValidCol: Column =
      rules.map(_.pass).reduceOption(_ && _).getOrElse(lit(true))

    /** All violations for a row: array<struct<rule_id,observed,expected>>. */
    def violationsCol: Column = {
      val arrays = rules.map(_.violations)
      if (arrays.isEmpty) noViolations
      else if (arrays.size == 1) arrays.head
      else flatten(array(arrays: _*))
    }

    /** Violated (row, rule) pairs per row — pure boolean arithmetic. This is
      * deliberately NOT the exploded per-element entry count: element counting
      * needs a lambda HOF (ArrayFilter), which is CodegenFallback and would
      * knock the whole verdict aggregation out of whole-stage codegen. Exact
      * per-element detail lives on the violations() path, which only ever
      * touches failing rows. */
    def violationCountCol: Column =
      rules.map(r => when(r.pass, lit(0)).otherwise(lit(1)))
        .reduceOption(_ + _).getOrElse(lit(0))

    /** Exploded typed violations, sorted (doc_id, rule_id) — the deterministic
      * golden-output contract (SURVEY.md §2.2 ordering note). The only form
      * that sorts: the sink form below plus one global `orderBy`, for callers
      * that read the rows in order. */
    def violations(df: DataFrame, keyCol: String): DataFrame =
      violations(df, keyCol, Nil).orderBy("doc_id", "rule_id")

    /** Unsorted violations retaining `keepCols` (e.g. the partition column,
      * so sinks can write partitionBy(part) and replay idempotently) — the
      * sink form. A file sink keeps no row order, so a global sort here would
      * only add a range exchange whose sampling job runs the whole plan a
      * second time (and double-counts any `observe`d metric below it). The
      * codegen'd predicate filter runs FIRST so violation-struct construction
      * (allocation heavy) only touches failing rows. */
    def violations(df: DataFrame, keyCol: String, keepCols: Seq[String]): DataFrame = {
      val keep = keepCols.map(col)
      df.where(!isValidCol)
        .select(keep ++ Seq(col(keyCol).cast(StringType).as("doc_id"),
          explode(violationsCol).as("v")): _*)
        .select(keep ++ Seq(col("doc_id"), col("v.rule_id"),
          col("v.observed"), col("v.expected")): _*)
    }

    /** Violation sample capped per rule — at 10^12-row scale a failing rule
      * can emit billions of entries; reports need the first `perRule`
      * examples, not all of them. One window shuffle over the (already
      * filtered) failing rows only, then the one final sort. */
    def violationsSample(df: DataFrame, keyCol: String, perRule: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("rule_id").orderBy("doc_id")
      violations(df, keyCol, Nil)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= perRule)
        .drop("__rn")
        .orderBy("doc_id", "rule_id")
    }

    /** Per-partition verdict: one row per partition value with per-rule pass
      * flags and violation counts — all map-side partial aggregation, one
      * shuffle of O(partitions) rows. */
    def verdicts(df: DataFrame, partCols: Seq[String]): DataFrame = {
      val aggs = rules.map(r => bool_and(r.pass).as(s"pass_${sanitize(r.id)}")) ++
        Seq(bool_and(isValidCol).as("pass_all"),
            count(lit(1)).as("n_rows"),
            sum(violationCountCol.cast(LongType)).as("n_violations"))
      df.groupBy(partCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }

  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9_]", "_")

  private val violationsType = ArrayType(StructType(Seq(
    StructField("rule_id", StringType, nullable = false),
    StructField("observed", StringType, nullable = false),
    StructField("expected", StringType, nullable = false))), containsNull = false)

  def compile(suiteJson: String): Compiled = {
    val root = Json.parse(suiteJson) match {
      case o: JObj => o
      case _ => throw new IllegalArgumentException("suite must be a JSON object")
    }
    val rulesObj = root.get("rules") match {
      case Some(o: JObj) => o
      case _ => throw new IllegalArgumentException("suite needs a 'rules' object")
    }
    val compiled = rulesObj.fields.flatMap { case (colName, schema) =>
      compileColumn(colName, resolveRefs(schema, root, 0))
    }.toVector
    Compiled(compiled, suiteHash(suiteJson))
  }

  /** Stable rule-set hash recorded in the checkpoint manifest (lineage). */
  def suiteHash(suiteJson: String): String = {
    val canonical = Json.render(Json.parse(suiteJson))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** Inline $ref against the suite root at compile time (driver-side, like
    * jsonschema_compile; cycles are a compile error, SURVEY.md §2.2 $ref row). */
  private def resolveRefs(schema: JVal, root: JObj, depth: Int): JVal = {
    if (depth > 32) throw new IllegalArgumentException("$ref cycle in suite")
    schema match {
      case o: JObj =>
        o.get("$ref") match {
          case Some(JStr(ref)) =>
            val resolved = resolvePointer(ref, root)
              .getOrElse(throw new IllegalArgumentException(s"Could not resolve $$ref $ref"))
            val target = resolveRefs(resolved, root, depth + 1) match {
              case t: JObj => t
              case other => throw new IllegalArgumentException(
                s"$$ref $ref must resolve to a schema object, got ${Json.render(other)}")
            }
            JObj.normalized(target.fields ++ o.fields.filterNot(_._1 == "$ref"))
          case _ =>
            JObj.normalized(o.fields.map { case (k, v) => k -> resolveRefs(v, root, depth + 1) })
        }
      case JArr(xs) => JArr(xs.map(resolveRefs(_, root, depth)))
      case other => other
    }
  }

  private def resolvePointer(ref: String, root: JObj): Option[JVal] = {
    if (!ref.startsWith("#/")) return None
    ref.drop(2).split("/", -1).foldLeft(Option[JVal](root)) {
      case (Some(o: JObj), tok) => o.get(tok.replace("~1", "/").replace("~0", "~"))
      case _ => None
    }
  }

  private def num(v: JVal): Option[BigDecimal] = v match { case JNum(n) => Some(n); case _ => None }
  private def decLit(n: BigDecimal): Column = lit(n.underlying)
  private def renderExpected(v: JVal): String = Json.render(v)

  /** jsonb type name of a Spark type (static analogue of jsonb_type_name). */
  private def sparkJsonTypeName(dt: DataType): String = dt match {
    case StringType => "string"
    case BooleanType => "boolean"
    case _: NumericType => "number"
    case _: ArrayType => "array"
    case _: StructType | _: MapType => "object"
    case NullType => "null"
    case _ => "string"
  }

  private val noViolations: Column = array().cast(violationsType)

  /** A rule that reports at most one entry per row: `observed` under `id`
    * when `pass` is false. */
  private def single(id: String, pass: Column, observed: Column, expected: String): CompiledRule =
    CompiledRule(id, pass, when(!pass, array(struct(lit(id).as("rule_id"),
      observed.as("observed"), lit(expected).as("expected")))).otherwise(noViolations))

  /** Compile one column's keyword object into rules. */
  private def compileColumn(colName: String, schemaV: JVal): Vector[CompiledRule] = {
    val s = schemaV match {
      case o: JObj => o
      case JBool(true) => return Vector.empty
      case JBool(false) =>
        return Vector(single(s"$colName:false", lit(false), lit("Schema is false"), "false"))
      case _ => return Vector.empty // malformed fragments vacuous (c:675 etc.)
    }
    val c = col(colName)
    val out = Vector.newBuilder[CompiledRule]

    // helper: absent (null) column values skip value-level keywords, mirroring
    // the reference's "absent property skipped" (c:824); `required` handles nulls.
    def guarded(pred: Column): Column = c.isNull || pred
    def rule(keyword: String, pred: Column, observed: Column, expected: String): Unit =
      out += single(s"$colName:$keyword", guarded(pred), observed, expected)

    // required (extension: boolean flag → null check; message format c:768-771)
    s.get("required") match {
      case Some(JBool(true)) =>
        out += single(s"$colName:required", c.isNotNull,
          lit(s"Missing required property: $colName"), "true")
      case _ => ()
    }

    // type — static where possible; integer needs per-row floor check on fractional types
    s.get("type").foreach { tv =>
      val declared: Vector[String] = tv match {
        case JStr(t) => Vector(t)
        case JArr(ts) => ts.collect { case JStr(t) => t }
        case _ => Vector.empty // vacuous
      }
      if (declared.nonEmpty) {
        val expectedName = tv match { case JStr(t) => t; case _ => "unknown" }
        out += compileTypeRule(colName, c, declared, expectedName, renderExpected(tv))
      }
    }

    // enum (c:681-731) — scalar membership; at scale the referential variant
    // uses a broadcast anti-join (graft.pipeline.TableChecks.referential)
    s.get("enum").foreach {
      case JArr(members) if members.nonEmpty =>
        val scalars = members.collect {
          case JStr(x) => x: Any
          case JNum(n) => n.underlying: Any
          case JBool(b) => b: Any
        }
        val pred = if (scalars.isEmpty) lit(false) else c.isin(scalars: _*)
        rule("enum", coalesce(pred, lit(false)), lit("Value not in enum"),
          renderExpected(JArr(members)))
      case _ => () // non-array enum vacuous (c:689-694)
    }

    // const (c:1349-1353)
    s.get("const").foreach { cv =>
      val pred = cv match {
        case JStr(x) => c === lit(x)
        case JNum(n) => c === decLit(n)
        case JBool(b) => c === lit(b)
        case JNull => c.isNull
        case _ => lit(false) // containers never equal (c:1338-1339)
      }
      rule("const", pred, lit("Value does not match const"), renderExpected(cv))
    }

    // numeric bounds (c:997-1084) — exact messages
    s.get("minimum").flatMap(num).foreach { m =>
      rule("minimum", c >= decLit(m), lit("Value is less than minimum"), Json.renderNumber(m)) }
    s.get("maximum").flatMap(num).foreach { m =>
      rule("maximum", c <= decLit(m), lit("Value exceeds maximum"), Json.renderNumber(m)) }
    s.get("exclusiveMinimum").flatMap(num).foreach { m =>
      rule("exclusiveMinimum", c > decLit(m), lit("Value must be greater than exclusiveMinimum"), Json.renderNumber(m)) }
    s.get("exclusiveMaximum").flatMap(num).foreach { m =>
      rule("exclusiveMaximum", c < decLit(m), lit("Value must be less than exclusiveMaximum"), Json.renderNumber(m)) }
    s.get("multipleOf").flatMap(num).foreach { m =>
      rule("multipleOf", pmod(c.cast(DecimalType(38, 12)), decLit(m)) === lit(0),
        lit("Value is not a multiple of multipleOf"), Json.renderNumber(m)) }

    // string constraints (c:915-992) — BYTE lengths via octet_length
    s.get("minLength").flatMap(num).foreach { m =>
      val mi = m.toInt
      rule("minLength", octet_length(c) >= mi,
        format_string(s"String length %d is less than minLength $mi", octet_length(c)),
        m.toString) }
    s.get("maxLength").flatMap(num).foreach { m =>
      val mi = m.toInt
      rule("maxLength", octet_length(c) <= mi,
        format_string(s"String length %d exceeds maxLength $mi", octet_length(c)),
        m.toString) }
    s.get("pattern").foreach {
      case JStr(p) if PosixRegex.isValid(p) => // invalid regex silently skipped (c:972)
        rule("pattern", c.rlike(PosixRegex.translate(p)),
          lit(s"String does not match pattern: $p"), renderExpected(JStr(p)))
      case _ => ()
    }
    s.get("format").foreach {
      case JStr("regex") =>
        rule("format", graft.functions.functions.regex_is_valid(c),
          lit("String is not a valid regular expression"), "\"regex\"")
      case JStr(name) =>
        JsonSchemaValidator.formatPattern(name).foreach { case (pattern, msg) =>
          rule("format", c.rlike(PosixRegex.translate(pattern)), lit(msg), s""""$name"""")
        }
      case _ => ()
    }

    // array constraints (c:1089-1281)
    s.get("minItems").flatMap(num).foreach { m =>
      val mi = m.toInt
      rule("minItems", size(c) >= mi,
        format_string(s"Array has %d items, minimum is $mi", size(c)), m.toString) }
    s.get("maxItems").flatMap(num).foreach { m =>
      val mi = m.toInt
      rule("maxItems", size(c) <= mi,
        format_string(s"Array has %d items, maximum is $mi", size(c)), m.toString) }
    s.get("uniqueItems").foreach {
      case JBool(true) =>
        // O(n) vs the reference's O(n²) pairwise scan — same verdict for
        // scalar element types. The reference's jsonb_values_equal never
        // equates containers (c:1287-1344), so arrays-of-containers must be
        // VACUOUS here too: typeof() names the element type at runtime
        // (constant-folds per fixed schema), gating array_distinct's
        // structural equality off for container elements.
        val containerElems = typeof(c).rlike("^array<(array|struct|map)")
        rule("uniqueItems", containerElems || size(array_distinct(c)) === size(c),
          lit("Array items are not unique"), "true")
      case _ => ()
    }

    // items: element-level subschema. Pure-bounds checks compile to
    // array_min/array_max comparisons (codegen'd, no per-element lambda);
    // anything else uses forall. Per-element violation detail (reference
    // "[i]" paths, c:1204-1208) is built only behind the failure branch.
    s.get("items").foreach {
      case itemSchema: JObj =>
        elemPredicate(itemSchema).foreach { case (elemPred, elemMsgs) =>
          val id = s"$colName:items"
          val pass = guarded(boundsOnlyPass(c, itemSchema).getOrElse(forall(c, elemPred)))
          val viols = when(!pass,
            flatten(zip_with(c, sequence(lit(0), size(c) - 1), (e, i) =>
              elemViolations(id, colName, e, i, elemMsgs)))
          ).otherwise(noViolations)
          out += CompiledRule(id, pass, viols)
        }
      case _ => () // non-object items vacuous
    }

    // contains / minContains / maxContains (c:1219-1279)
    s.get("contains").foreach {
      case containsSchema: JObj =>
        elemPredicate(containsSchema).foreach { case (elemPred, _) =>
          val minC = s.get("minContains").flatMap(num).map(_.toInt).getOrElse(1)
          val maxC = s.get("maxContains").flatMap(num).map(_.toInt).getOrElse(-1)
          val matched = size(filter(c, elemPred))
          val minMsg = if (minC == 1) lit("Array does not contain any item matching the contains schema")
                       else format_string(s"Array contains %d matching items, minimum is $minC", matched)
          rule("contains", matched >= minC, minMsg, Json.render(containsSchema))
          if (maxC >= 0)
            rule("maxContains", matched <= maxC,
              format_string(s"Array contains %d matching items, maximum is $maxC", matched),
              maxC.toString)
        }
      case _ => ()
    }

    // ---- object keywords for MapType columns (SURVEY.md §2.2 object rows) ----
    // required: every listed key present (c:736-780), one violation per key
    s.get("requiredKeys").orElse(s.get("required").filter(_.isInstanceOf[JArr])).foreach {
      case JArr(reqs) =>
        reqs.collect { case JStr(k) => k }.foreach { k =>
          out += single(s"$colName:required:$k", guarded(map_contains_key(c, k)),
            lit(s"Missing required property: $k"), s""""$k"""")
        }
      case _ => ()
    }
    // minProperties / maxProperties (c:1687-1740)
    s.get("minProperties").flatMap(num).foreach { m =>
      val mi = m.toInt
      rule("minProperties", size(c) >= mi,
        format_string(s"Object has %d properties, minimum is $mi", size(c)), m.toString) }
    s.get("maxProperties").flatMap(num).foreach { m =>
      val mi = m.toInt
      rule("maxProperties", size(c) <= mi,
        format_string(s"Object has %d properties, maximum is $mi", size(c)), m.toString) }
    // propertyNames: every key validated as a string value (c:842-882);
    // supports the string-shaped element checks (pattern/length/enum)
    s.get("propertyNames").foreach {
      case pn: JObj =>
        keyPredicate(pn).foreach { pred =>
          rule("propertyNames", forall(map_keys(c), pred),
            lit("Property name does not match propertyNames schema"), Json.render(pn))
        }
      case _ => ()
    }
    // additionalProperties (+ properties/patternProperties exemptions, c:1358-1487)
    s.get("additionalProperties").foreach { ap =>
      val known: Vector[String] = s.get("properties") match {
        case Some(p: JObj) => p.keys
        case _ => Vector.empty
      }
      val patterns: Vector[String] = s.get("patternProperties") match {
        case Some(pp: JObj) => pp.keys.filter(PosixRegex.isValid)
        case _ => Vector.empty
      }
      def exempt(k: Column): Column = {
        val inKnown = if (known.nonEmpty) k.isin(known: _*) else lit(false)
        patterns.foldLeft(inKnown)((acc, p) => acc || k.rlike(PosixRegex.translate(p)))
      }
      ap match {
        case JBool(false) =>
          // reject: one violation PER offending key, reference message format
          // "Additional property '%s' is not allowed" (c:1459-1460)
          val id = s"$colName:additionalProperties"
          val offending = filter(map_keys(c), k => !exempt(k))
          val pass = guarded(size(offending) === 0)
          val viols = when(!pass, transform(offending, k => struct(
              lit(id).as("rule_id"),
              format_string("Additional property '%s' is not allowed", k).as("observed"),
              lit("false").as("expected"))))
            .otherwise(noViolations)
          out += CompiledRule(id, pass, viols)
        case apSchema: JObj =>
          // schema-valued: non-exempt VALUES are validated against the
          // sub-schema (c:1465-1476; walker parity JsonSchemaValidator
          // additionalProperties branch). One violation per (key, failed
          // check), path extended with the key like the reference's
          // childPath(base, key).
          elemPredicate(apSchema).foreach { case (valPred, msgs) =>
            val id = s"$colName:additionalProperties"
            val failing = filter(map_entries(c),
              e => !exempt(e.getField("key")) && !valPred(e.getField("value")))
            val pass = guarded(size(failing) === 0)
            val viols = when(!pass, flatten(transform(failing, e => {
                val perCheck = msgs.map { case (msg, pred) =>
                  when(!pred(e.getField("value")), array(struct(
                    format_string(s"$colName/%s:additionalProperties", e.getField("key")).as("rule_id"),
                    lit(msg).as("observed"),
                    coalesce(e.getField("value").cast(StringType), lit("null")).as("expected")))
                  ).otherwise(noViolations)
                }
                if (perCheck.size == 1) perCheck.head else flatten(array(perCheck: _*))
              })))
              .otherwise(noViolations)
            out += CompiledRule(id, pass, viols)
          }
        case _ => () // true / malformed: vacuous
      }
    }

    // ---- combinators (SURVEY.md §2.2 allOf/anyOf/oneOf/not/if-then-else) ----
    // sub-schemas compile recursively to (pass, violations) on the same column;
    // suppression contexts (anyOf/oneOf/not/if) use only the predicate —
    // mirroring the reference's errors=NULL recursion (c:1551, :1594, :1626, :1660)
    def subPassViol(sub: JVal): Option[(Column, Column)] = {
      val rules = compileColumn(colName, sub)
      if (rules.isEmpty) None
      else Some((rules.map(_.pass).reduce(_ && _),
        if (rules.size == 1) rules.head.violations
        else flatten(array(rules.map(_.violations): _*))))
    }

    s.get("allOf").foreach {
      case JArr(subs) =>
        val compiled = subs.flatMap(subPassViol)
        if (compiled.nonEmpty) {
          val id = s"$colName:allOf"
          val pass = compiled.map(_._1).reduce(_ && _)
          // error accumulation from ALL branches (c:1514-1518)
          val viols = if (compiled.size == 1) compiled.head._2
                      else flatten(array(compiled.map(_._2): _*))
          out += CompiledRule(id, pass, viols)
        }
      case _ => () // non-array vacuous (c:1502-1507)
    }

    s.get("anyOf").foreach {
      case JArr(subs) =>
        val compiled = subs.flatMap(subPassViol)
        if (compiled.nonEmpty)
          out += single(s"$colName:anyOf", compiled.map(_._1).reduce(_ || _),
            lit("Value does not match any schema in anyOf"), Json.render(JArr(subs)))
      case _ => ()
    }

    s.get("oneOf").foreach {
      case JArr(subs) =>
        val compiled = subs.flatMap(subPassViol)
        if (compiled.nonEmpty) {
          val matches = compiled.map(_._1.cast(IntegerType)).reduce(_ + _)
          val msg = when(matches === 0, lit("Value does not match any schema in oneOf"))
            .otherwise(format_string("Value matches %d schemas in oneOf, but must match exactly one", matches))
          out += single(s"$colName:oneOf", matches === 1, msg, Json.render(JArr(subs)))
        }
      case _ => ()
    }

    s.get("not").foreach { sub =>
      subPassViol(sub).foreach { case (subPass, _) =>
        out += single(s"$colName:not", !subPass,
          lit("Value must not match the schema in 'not'"), Json.render(sub))
      }
    }

    s.get("if").foreach { ifSchema =>
      val thenPV = s.get("then").flatMap(subPassViol)
      val elsePV = s.get("else").flatMap(subPassViol)
      if (thenPV.isDefined || elsePV.isDefined) {
        subPassViol(ifSchema).foreach { case (ifPass, _) =>
          val id = s"$colName:if"
          val pass = when(ifPass, thenPV.map(_._1).getOrElse(lit(true)))
            .otherwise(elsePV.map(_._1).getOrElse(lit(true)))
          val viols = when(ifPass, thenPV.map(_._2).getOrElse(noViolations))
            .otherwise(elsePV.map(_._2).getOrElse(noViolations))
          out += CompiledRule(id, pass, viols)
        }
      }
    }

    // equalsExpr extension: cross-column invariant (e.g. "size(tokens)")
    s.get("equalsExpr").foreach {
      case JStr(e) =>
        rule("equalsExpr", c <=> expr(e),
          format_string(s"Value %s does not equal $e = %s", c.cast(StringType), expr(e).cast(StringType)),
          s""""$e"""")
      case _ => ()
    }

    out.result()
  }

  /** type keyword: static where the Spark type decides; per-row only for
    * integer-on-fractional (floor equality, c:624-632). */
  private def compileTypeRule(colName: String, c: Column, declared: Vector[String],
                              expectedName: String, expectedJson: String): CompiledRule = {
    val id = s"$colName:type"
    // The actual DataType is only known when the Column binds to a DataFrame, so
    // express the check dynamically but codegen-friendly: typeof() is evaluated
    // by Catalyst and constant-folds for a fixed schema.
    // integer: number with no fractional part
    val typeOk: Column = declared.map {
      case "integer" => typeof(c).isin("tinyint", "smallint", "int", "bigint") ||
        (typeof(c).isin("double", "float", "decimal") || typeof(c).startsWith("decimal")) && c === floor(c)
      case "number" => typeof(c).isin("tinyint", "smallint", "int", "bigint", "double", "float") || typeof(c).startsWith("decimal")
      case "string" => typeof(c) === "string"
      case "boolean" => typeof(c) === "boolean"
      case "array" => typeof(c).startsWith("array")
      case "object" => typeof(c).startsWith("struct") || typeof(c).startsWith("map")
      case "null" => typeof(c) === "void" || c.isNull
      case _ => lit(false)
    }.reduce(_ || _)
    val pass = c.isNull || typeOk
    val observed = format_string(s"Expected type $expectedName but got %s",
      when(typeof(c).startsWith("array"), "array")
        .when(typeof(c).startsWith("struct") || typeof(c).startsWith("map"), "object")
        .when(typeof(c).isin("tinyint", "smallint", "int", "bigint", "double", "float") || typeof(c).startsWith("decimal"), "number")
        .otherwise(typeof(c)))
    single(id, pass, observed, expectedJson)
  }

  /** String-shaped predicate for propertyNames keys (pattern/length/enum). */
  private def keyPredicate(s: JObj): Option[Column => Column] = {
    val checks = Vector.newBuilder[Column => Column]
    s.get("pattern").foreach {
      case JStr(p) if PosixRegex.isValid(p) =>
        checks += ((k: Column) => k.rlike(PosixRegex.translate(p)))
      case _ => ()
    }
    s.get("minLength").foreach {
      case JNum(n) => val m = n.toInt; checks += ((k: Column) => octet_length(k) >= m)
      case _ => ()
    }
    s.get("maxLength").foreach {
      case JNum(n) => val m = n.toInt; checks += ((k: Column) => octet_length(k) <= m)
      case _ => ()
    }
    s.get("enum").foreach {
      case JArr(ms) =>
        val vs = ms.collect { case JStr(x) => x: Any }
        if (vs.nonEmpty) checks += ((k: Column) => k.isin(vs: _*))
      case _ => ()
    }
    val cs = checks.result()
    if (cs.isEmpty) None else Some((k: Column) => cs.map(_(k)).reduce(_ && _))
  }

  /** When the element schema is ONLY numeric bounds, the forall collapses to
    * aggregate-free array extrema — ArrayMin/ArrayMax are codegen'd, the
    * lambda-based HOFs are not (they run interpreted per element). Extrema
    * skip null elements; an array with no non-null element has none and
    * passes, as bounds apply to numbers only. */
  private def boundsOnlyPass(c: Column, s: JObj): Option[Column] = {
    val boundKeys = Set("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum")
    if (!s.keys.forall(boundKeys.contains)) return None
    val preds = s.fields.collect {
      case ("minimum", JNum(n))          => array_min(c) >= decLit(n)
      case ("maximum", JNum(n))          => array_max(c) <= decLit(n)
      case ("exclusiveMinimum", JNum(n)) => array_min(c) > decLit(n)
      case ("exclusiveMaximum", JNum(n)) => array_max(c) < decLit(n)
    }
    preds.reduceOption(_ && _).map(coalesce(_, lit(true)))
  }

  /** Element-level predicate for items/contains: bounds, enum, const,
    * integer type. Every check is two-valued: a null element skips the
    * numeric bounds (they apply to numbers only) and fails enum, const and
    * type, as in the row-scalar walker. */
  private def elemPredicate(s: JObj): Option[(Column => Column, Vector[(String, Column => Column)])] = {
    val checks = Vector.newBuilder[(String, Column => Column, String)] // (keyword, pred, message)
    s.get("minimum").foreach { case JNum(n) => checks += (("minimum", (e: Column) => e.isNull || e >= decLit(n), "Value is less than minimum")); case _ => () }
    s.get("maximum").foreach { case JNum(n) => checks += (("maximum", (e: Column) => e.isNull || e <= decLit(n), "Value exceeds maximum")); case _ => () }
    s.get("exclusiveMinimum").foreach { case JNum(n) => checks += (("exclusiveMinimum", (e: Column) => e.isNull || e > decLit(n), "Value must be greater than exclusiveMinimum")); case _ => () }
    s.get("exclusiveMaximum").foreach { case JNum(n) => checks += (("exclusiveMaximum", (e: Column) => e.isNull || e < decLit(n), "Value must be less than exclusiveMaximum")); case _ => () }
    s.get("const").foreach {
      case JNum(n) => checks += (("const", (e: Column) => e <=> decLit(n), "Value does not match const"))
      case JStr(x) => checks += (("const", (e: Column) => e <=> lit(x), "Value does not match const"))
      case _ => ()
    }
    s.get("enum").foreach {
      case JArr(ms) =>
        val scalars = ms.collect { case JStr(x) => x: Any; case JNum(n) => n.underlying: Any; case JBool(b) => b: Any }
        if (scalars.nonEmpty) checks += (("enum", (e: Column) => e.isNotNull && e.isin(scalars: _*), "Value not in enum"))
      case _ => ()
    }
    s.get("type").foreach {
      case JStr("integer") => checks += (("type", (e: Column) => e.isNotNull && e === floor(e), "Expected type integer but got number"))
      case _ => () // element static types guaranteed by the array's Spark type
    }
    val cs = checks.result()
    if (cs.isEmpty) None
    else Some((
      (e: Column) => cs.map(_._2(e)).reduce(_ && _),
      cs.map { case (kw, p, msg) => (msg, p) }
    ))
  }

  /** Violations for one array element: reference path "col[i]" (build_path c:2017-2018). */
  private def elemViolations(ruleId: String, colName: String, e: Column, i: Column,
                             msgs: Vector[(String, Column => Column)]): Column = {
    val perCheck = msgs.map { case (msg, pred) =>
      when(!pred(e), array(struct(
        format_string(s"$colName[%d]:items", i).as("rule_id"),
        lit(msg).as("observed"),
        coalesce(e.cast(StringType), lit("null")).as("expected")))
      ).otherwise(noViolations)
    }
    if (perCheck.size == 1) perCheck.head else flatten(array(perCheck: _*))
  }
}
