package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core._
import graft.parse.Extractor
import graft.sql.SqlEngine

/** Property check of the whole-number rule of [[ValueFormat.parse]],
  * reference `i64::from_str`, against the model `String.toLongOption`
  * (an optional sign and ASCII digits, NULL on overflow) on every path
  * that reads an integer from text: an INT column of the Extractor,
  * `s::int`, and the seconds part of `('0:0:' || s)::interval`, whose
  * model also bounds each part to ±2·10⁹. The texts (fixed seed) mix
  * digits, signs, `.`, `e`, whitespace, letters and 20-digit runs. */
class ValueFormatPropSpec extends SparkSpec {
  import spark.implicits._
  import ValueFormatPropSpec._

  private lazy val texts: Seq[String] = {
    val params = Gen.Parameters.default
    Iterator.from(0).map(k => text.pureApply(params, Seed(20261020L + k))).distinct.take(Cases).toSeq
  }

  /** Each text -> the value `df` (text, value) gives for it. */
  private def values(df: org.apache.spark.sql.DataFrame): Map[String, Option[Long]] =
    df.collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap

  private def check(path: String, got: Map[String, Option[Long]], key: String => String,
      model: String => Option[Long]): Unit = {
    val wrong = texts.filter(s => got.get(key(s)) != Some(model(s)))
    assert(wrong.isEmpty, s"$path: ${wrong.size} of $Cases differ from the model, e.g. " +
      wrong.take(10).map(s => s"${escaped(s)} -> ${got.get(key(s))}").mkString(", "))
  }

  test(s"INT text follows i64::from_str on the Extractor, ::int and ::interval paths ($Cases texts)") {
    val ints = texts.count(_.toLongOption.isDefined)
    assert(ints > Cases / 5 && ints < Cases * 4 / 5, s"$ints of $Cases whole")

    val part = ColumnSource.Group("line", 1)
    val table = TableDef("p", Seq(PatternDef("line", "\\|", PatternMode.Split)),
      Seq(ColumnDef("s", ValueType.TextT, part), ColumnDef("n", ValueType.IntT, part)))
    check("Extractor INT column", values(Extractor.parse(texts.toDF("value"), table)),
      identity, _.toLongOption)

    val eng = new SqlEngine(spark)
    eng.addTables("CREATE TABLE p(line = split '\\\\|', line[1] => s TEXT);")
    check("s::int", values(eng.query("SELECT s, s::int AS n FROM p", texts.toDF("value"))),
      identity, _.toLongOption)
    check("('0:0:' || s)::interval",
      values(eng.query("SELECT s, s::interval AS d FROM p", texts.map("0:0:" + _).toDF("value"))),
      "0:0:" + _, _.toLongOption.filter(v => v >= -2000000000L && v <= 2000000000L).map(_ * 1000000L))
  }
}

object ValueFormatPropSpec {
  val Cases = 10000

  private val digit: Gen[String] = Gen.numChar.map(_.toString)
  private val atom: Gen[String] = Gen.frequency(
    10 -> digit,
    2 -> Gen.oneOf("+", "-"),
    1 -> Gen.oneOf(".", "e", "E", " ", "\t", "\n"),
    1 -> Gen.alphaChar.map(_.toString),
    1 -> Gen.listOfN(20, Gen.numChar).map(_.mkString),
    1 -> Gen.choose(9, 19).flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString),
    1 -> Gen.oneOf("9223372036854775807", "9223372036854775808", "-9223372036854775808",
      "2000000000", "2000000001"))

  /** A text of up to six atoms. */
  val text: Gen[String] = Gen.choose(0, 6).flatMap(Gen.listOfN(_, atom)).map(_.mkString)

  private def escaped(s: String): String =
    "'" + s.flatMap { case '\n' => "\\n"; case '\t' => "\\t"; case c => c.toString } + "'"
}
