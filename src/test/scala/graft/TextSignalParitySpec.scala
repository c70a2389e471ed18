package graft

import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Round-6 optimization guard: the compiled text-signal expressions
 * (StopwordCountX / LangIdX / FingerprintX) must be BIT-IDENTICAL to the
 * interpreted higher-order-function formulations they replaced — the judged
 * queries' DuckDB oracles are frozen, so any semantic drift here would
 * surface as a gate hash mismatch. The reference formulas below are verbatim
 * copies of the pre-round-6 column compositions.
 */
class TextSignalParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as")
  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "für"),
    "es" -> Seq("el", "la", "los", "las", "es", "que", "por", "para"),
    "fr" -> Seq("le", "la", "les", "est", "que", "pour", "avec", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  private def refStopwordCount(text: Column): Column =
    size(filter(split(lower(text), "\\s+"), w => w.isin(stopwords: _*)))

  private def refLangId(text: Column): Column = {
    val ws = split(lower(text), "\\s+")
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      (lang, size(filter(ws, w => w.isin(markers: _*))))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, sc)) =>
      acc.when(sc === best, lit(lang))
    }.otherwise(lit("und"))
  }

  private def refFingerprint(text: Column): Column = {
    val ws = split(lower(text), "\\s+")
    aggregate(
      zip_with(ws, sequence(lit(1), size(ws)),
        (w, p) => p.cast(LongType) * (octet_length(w).cast(LongType) * 31L +
          ascii(substring(w, 1, 1)).cast(LongType))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Real corpus rows plus adversarial shapes: leading/trailing/multiple
    * whitespace (empty tokens with positions), unicode markers (für, zh),
    * marker words shared between languages ("la" is es AND fr, "que" es AND
    * fr), ties, all-und, single chars, supplementary-plane code points. */
  private def fixtures: Seq[String] = {
    implicit val s = spark
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").limit(400).collect().map(_.getString(0)).toSeq
    corpus ++ Seq(
      "", " ", "  ", "the", " the", "the ", "  the  and  of ",
      "la la la", "que que", "la que", "der la", "the und der die das",
      "für nicht mit", "的 是 了", "a b c d e f", "x", "…", "ü",
      "😀 emoji first", "word 😀 mixed",
      "THE AND OF", "The Quick brown", "tab\tseparated words",
      "the the the la la der der", "est est est le le")
  }

  test("StopwordCountX == size(filter(isin)) on corpus + adversarial tokens") {
    val df = fixtures.toDF("text")
    val bad = df.select(
        TextOps.stopwordCount($"text").as("got"),
        refStopwordCount($"text").as("want"), $"text")
      .where(!($"got" <=> $"want")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("langId (LangIdX) == HOF argmax chain on corpus + adversarial tokens") {
    val df = fixtures.toDF("text")
    val bad = df.select(
        TextOps.langId($"text").as("got"),
        refLangId($"text").as("want"), $"text")
      .where(!($"got" <=> $"want")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("FingerprintX == zip_with/aggregate position-weighted sum") {
    val df = fixtures.toDF("text")
    val bad = df.select(
        graft.functions.FingerprintX(Dedup.rawWords($"text")).as("got"),
        refFingerprint($"text").as("want"), $"text")
      .where(!($"got" <=> $"want")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("WordByteLensX == transform(filter(len>0), octet_length) and OovCountX == size(filter(oov))") {
    val df = fixtures.toDF("text")
    val refLens = transform(filter(split(lower($"text"), "\\s+"),
      w => length(w) > 0), w => octet_length(w))
    val gotLens = graft.functions.WordByteLensX(Dedup.rawWords($"text"))
    val badLens = df.select(gotLens.as("got"), refLens.as("want"), $"text")
      .where(!($"got" <=> $"want")).collect()
    assert(badLens.isEmpty, badLens.take(5).mkString("; "))
    val vocab = 5
    val refOov = size(filter(gotLens, x => x < 0 || x >= vocab))
    val gotOov = graft.functions.OovCountX(gotLens, vocab)
    val badOov = df.select(gotOov.as("got"), refOov.as("want"), $"text")
      .where(!($"got" <=> $"want")).collect()
    assert(badOov.isEmpty, badOov.take(5).mkString("; "))
    // long-typed arrays go through the getLong branch
    val longArr = Seq(Seq(1L, -2L, 99L), Seq.empty[Long]).toDF("toks")
    val gotL = longArr.select(graft.functions.OovCountX($"toks", 10).as("c"))
      .collect().map(_.getInt(0)).toSeq
    assert(gotL === Seq(2, 0))
  }

  test("compiled text signals keep null-input parity with the HOF forms") {
    val df = Seq[Option[String]](None, Some("the la")).toDF("text")
    val rows = df.select(
        TextOps.stopwordCount($"text").as("sc"), refStopwordCount($"text").as("scr"),
        TextOps.langId($"text").as("li"), refLangId($"text").as("lir"),
        graft.functions.FingerprintX(Dedup.rawWords($"text")).as("fp"),
        refFingerprint($"text").as("fpr"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getInt(0) === r.getInt(1))
      assert(r.getString(2) === r.getString(3)) // both coalesce null -> "und"
      assert(r.isNullAt(4) === r.isNullAt(5))
      if (!r.isNullAt(4)) assert(r.getLong(4) === r.getLong(5))
    }
  }

  test("FingerprintX throws on Long overflow instead of wrapping") {
    // 4.1M copies of one U+10FFFF word: each term is p * (4 * 31 + 0x10FFFF),
    // and the position-weighted sum passes Long.MaxValue near p = 4.07M.
    // The ANSI HOF form and DuckDB's BIGINT both raise here.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val word = UTF8String.fromString(new String(Character.toChars(0x10FFFF)))
    val arr = new GenericArrayData(Array.fill[Any](4100000)(word))
    val fx = graft.functions.FingerprintX(Literal(null, ArrayType(StringType)))
    intercept[ArithmeticException](fx.nullSafeEval(arr))
  }

  test("LangIdX rejects more languages than its 32-bit marker mask holds") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val langs = (0 until 33).map(i => (f"l$i%02d", Seq(s"m$i")))
    intercept[IllegalArgumentException](
      graft.functions.LangIdX(Literal(null, ArrayType(StringType)), langs))
  }
}
