package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.RegexCaptures
import graft.pipeline.LogPipeline

/** The mandatory-literal guard added to [[RegexCaptures]] in round 6 must
  * be *invisible*: it may only skip the regex engine on lines where the
  * engine was guaranteed to fail. These tests pin (a) the derivation on
  * the real pattern bank + adversarial regex shapes, and (b) full parity
  * of guarded extraction against a bare java.util.regex run over matching,
  * near-matching (literal present, regex fails) and non-matching lines. */
class RegexGuardSpec extends SparkSpec {
  import spark.implicits._

  private def lit(p: String): Option[String] = RegexCaptures.requiredLiteral(p)

  test("derivation on the pipeline pattern bank") {
    assert(lit(LogPipeline.ingestRegex) === Some("]: sequence "))
    assert(lit(LogPipeline.bulkRegex) === Some("]: batch "))
    assert(lit(LogPipeline.auditRegex) === Some("AUDIT|"))
  }

  test("derivation is conservative on unsure shapes") {
    // top-level alternation: nothing mandatory
    assert(lit("foo|bar") === None)
    // inline flags could make literal case non-mandatory
    assert(lit("(?i)INGEST payload") === None)
    assert(lit("(?i:x) literally") === None)
    // optional literals must not be used
    assert(lit("abc(xyz)?") === Some("abc"))
    assert(lit("ab?curious") === Some("curious"))
    assert(lit("star*dust") === Some("dust")) // 'r' optional under *
    assert(lit("plus+ses") === Some("plus")) // x+ keeps x, breaks the run
    assert(lit("rep{0,3}eat") === Some("eat"))
    // classes and escapes
    assert(lit("dur (doc-\\d+) took (\\d+:\\d+:\\d+)") === Some(" took "))
    assert(lit("connection from ([0-9.]+) \\((.+)?\\) at x") ===
      Some("connection from "))
    // non-capturing groups are fine to skip over
    assert(lit("(?:a|b) preamble body") === Some(" preamble body"))
    // alternation inside a group does not poison top-level literals
    assert(lit("^(STANDARD|PROMO)$") === None) // no top-level run at all
    // short runs are not worth a scan
    assert(lit("ab(\\d+)cd") === None)
    // escaped literal runs (\[ etc.) participate
    assert(lit("x ingest\\[(\\d+)\\]: y") === Some("x ingest["))
  }

  test("derivation on the sqlgrep DDL patterns of the log benchmark") {
    assert(lit("ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)") ===
      Some("]: sequence "))
    assert(lit("dim (\\S+) region (\\S+) tier (\\d+)") === Some(" region "))
  }

  // Each pattern matches its line; a guard derived from operand text or
  // from a nested class's inner `]` would reject it.
  private val operandShapes = Seq(
    "\\x41bcd" -> "Abcd",
    "\\u0041bcd" -> "Abcd",
    "[a[b]]cde" -> "bcde",
    "[a-z&&[^aeiou]]xyz" -> "bxyz",
    "\\0101bcd" -> "Abcd",
    "\\cAbcd" -> "\u0001bcd",
    "\\x{41}bcd" -> "Abcd",
    "\\p{Lu}bcd" -> "Abcd",
    "\\N{LATIN CAPITAL LETTER A}bcd" -> "Abcd",
    "\\Qa.b\\Ecde" -> "a.bcde",
    "(a)(b)(c)(d)(e)(f)(g)(h)(i)(j)(k)(l)\\12xyz" -> "abcdefghijkllxyz",
    "[\\x5d]]abc" -> "]]abc",
    "(\\x41)bcd" -> "Abcd")

  test("derivation bails on operand escapes, quoting and nested classes") {
    operandShapes.foreach { case (p, line) =>
      assert(java.util.regex.Pattern.compile(p).matcher(line).find(), p)
      assert(lit(p) === None, p)
    }
    // single-character escapes and plain classes still derive a guard
    assert(lit("\\d+ took \\w+") === Some(" took "))
    assert(lit("[a-z]+ tail\\.log") === Some(" tail.log"))
  }

  test("operand escapes and nested classes: no matching line is rejected") {
    operandShapes.foreach { case (p, line) =>
      val got = Seq(line).toDF("line").select(RegexCaptures(col("line"), p).as("c")).head()
      assert(!got.isNullAt(0), s"guard rejected a matching line: $p on $line")
    }
  }

  test("guarded extraction is bit-identical to a bare regex run") {
    val patterns = Seq(LogPipeline.ingestRegex, LogPipeline.bulkRegex,
      LogPipeline.auditRegex,
      "ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)")
    // matching lines from the real renderer + adversarial near-matches:
    // the guard literal PRESENT but the full regex failing, plus clean
    // non-matches and a non-ASCII line for the fallback path
    val seqs = graft.pipeline.TokenSequences.synthetic(spark, 500L, 4)
    val rendered = LogPipeline.renderLines(seqs).select("line")
      .as[String].collect().toSeq
    val adversarial = Seq(
      "prefix ]: sequence not-really a match",
      "AUDIT|missing-fields",
      "]: batch ",
      "totally unrelated line",
      "Jän 5 über ]: sequence doc-x from wéb n_tok=9", // non-ASCII fallback
      "")
    val lines = rendered ++ adversarial
    patterns.foreach { p =>
      val compiled = java.util.regex.Pattern.compile(p)
      val got = lines.toDF("line")
        .select(RegexCaptures(col("line"), p).as("c"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
      lines.zip(got).foreach { case (line, g) =>
        val m = compiled.matcher(line)
        if (!m.find()) assert(g === null, s"guard dropped/kept wrongly: $line")
        else {
          val want = (0 to m.groupCount()).map(i => m.group(i))
          assert(g !== null, s"guard rejected a matching line: $line")
          assert(g.toSeq === want, s"capture mismatch on: $line")
        }
      }
    }
  }

  test("guard rejects without running the engine (catastrophic pattern stays fast)") {
    // (x+x+)+y on a long run of x's is exponential without the guard;
    // with the mandatory 'yyy' literal absent the matcher never runs.
    // 3 chars so it clears the min-length bar.
    val p = "(x+x+)+yyy"
    assert(lit(p) === Some("yyy"))
    val line = "x" * 64
    val t0 = System.nanoTime()
    val out = Seq(line).toDF("line")
      .select(RegexCaptures(col("line"), p).as("c")).collect()
    val dtMs = (System.nanoTime() - t0) / 1e6
    assert(out.head.isNullAt(0))
    assert(dtMs < 30000, s"guard did not short-circuit: ${dtMs}ms")
  }
}
