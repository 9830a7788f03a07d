package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.WordCounts
import graft.operators.TextAnalysis

/** WordCounts (the codegen'd language-ID hot path) and its equivalence
  * with the interpreted HOF formulation it replaced. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val markers = Seq("the", "and", "of")

  /** The formulation WordCounts replaced — kept here as the semantic
    * oracle: one interpreted `size(filter(split(lower(text))))` per word. */
  private def hofCount(text: org.apache.spark.sql.Column, word: String) =
    size(filter(split(lower(text), "\\s+"), w => w === word))

  private val tricky = Seq(
    "the quick and the dead",          // repeats
    "The AND Of THE",                  // case folding
    "a\tthe\nand\r\nof  the",          // every \s class + runs
    " leading the",                    // leading ws (empty first token)
    "trailing the ",                   // trailing ws
    "theology android offer",          // substrings must NOT count
    "the, and. of!",                   // punctuation-attached ≠ equal
    "",                                // empty text
    "übung the müller",                // non-ASCII neighbors
    "the the the the the the")         // all hits

  test("WordCounts matches the HOF formulation on every tricky input") {
    val df = tricky.toDF("text")
    val got = df.select(WordCounts(col("text"), markers).as("wc")).as[Seq[Int]].collect()
    val want = df.select(array(markers.map(hofCount(col("text"), _).cast(IntegerType)): _*))
      .as[Seq[Int]].collect()
    assert(got.toSeq === want.toSeq)
  }

  test("WordCounts codegen path matches interpreted eval and handles NULL") {
    val df = (tricky :+ null).toDF("text")
    val wc = WordCounts(col("text"), markers)
    val viaCodegen = df.select(wc.as("wc")).collect().map(_.get(0))
    // force the interpreted path by evaluating through a non-codegen
    // boundary (sort injects an exchange; rows still evaluate wc the
    // same way) — the real interpreted/codegen parity is asserted by
    // calling compute directly:
    import org.apache.spark.unsafe.types.UTF8String
    val direct = (tricky :+ null).map {
      case null => null
      case s => WordCounts.compute(UTF8String.fromString(s),
        markers.map(_.getBytes("UTF-8")).toArray).toIntArray().toSeq
    }
    val viaCodegenSeqs = viaCodegen.map {
      case null => null
      case a: scala.collection.Seq[_] => a.map(_.asInstanceOf[Int]).toSeq
    }
    assert(viaCodegenSeqs.toSeq === direct)
  }

  test("langId unchanged: argmax, tie order, 'und' on zero") {
    val df = Seq(
      "the cat and the hat of it",  // en
      "der und die der",            // de
      "le et les",                  // fr
      "el y los y",                 // es
      "xyzzy plugh").toDF("text")   // und
    val got = df.select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(got === Seq("en", "de", "fr", "es", "und"))
  }

  test("Shingles matches the HOF formulation it replaced, on every tricky input") {
    import graft.functions.Shingles
    val inputs = tricky ++ Seq("a b", "a b c", "one", "a  b\t c ", "  ", "x y x y x y")
    val df = inputs.toDF("text")
    def hof(n: Int) = {
      val words = split(lower(col("text")), "\\s+")
      array_distinct(filter(
        transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => when(i + n <= size(words),
            array_join(slice(words, i + 1, lit(n)), " "))),
        x => x.isNotNull))
    }
    Seq(1, 2, 3).foreach { n =>
      val got = df.select(Shingles(col("text"), n)).as[Seq[String]].collect().toSeq
      val want = df.select(hof(n)).as[Seq[String]].collect().toSeq
      assert(got === want, s"shingle n=$n diverges")
    }
  }

  test("langId plan contains no interpreted HOF nodes") {
    val df = Seq("the and of").toDF("text")
      .select(TextAnalysis.langId(col("text")).as("pred"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ArrayFilter") && !plan.contains("ArrayTransform"),
      s"interpreted HOF survived in langId plan:\n$plan")
  }
}
