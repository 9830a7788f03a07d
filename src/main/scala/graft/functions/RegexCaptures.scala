package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Run a regex *once* per input line and return every capture group as an
  * `array<string>`: element 1 = group 0 (full match), element i+1 = group i.
  * Returns NULL when the pattern does not match at all; a group that did not
  * participate in the match yields a NULL element.
  *
  * This is the Spark-native analog of the reference's shared pattern bank
  * (`ParsingInput::new`, reference `src/data_model.rs:172-199`): every
  * declared pattern is executed once per line and its capture results are
  * shared by all columns bound to it. It also gives the *distinguishable*
  * null semantics `regexp_extract` cannot: no-match vs empty-match vs
  * non-participating optional group (needed for BOOLEAN group-existence
  * columns, reference `src/data_model.rs:339-353`).
  *
  * Codegen: full `doGenCode` (no `CodegenFallback`) so the parse stage stays
  * inside whole-stage codegen; the `java.util.regex.Pattern` is compiled once
  * per task and referenced from generated code (vs the reference's
  * `regexp_matches`, which recompiles its pattern per row —
  * `src/execution/expression_execution.rs:305-317`).
  */
case class RegexCaptures(child: Expression, pattern: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "regex_captures"

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  /** Mandatory-literal guard (null = none derivable): a byte-level
    * `contains` that rejects most non-matching lines before the regex
    * engine runs — see [[RegexCaptures.requiredLiteral]]. In a 3-pattern
    * bank every line pays 2 guaranteed-failing regex evaluations (and an
    * UNANCHORED failing pattern retries at every line offset); the guard
    * replaces those with one substring scan. */
  @transient private lazy val guard: UTF8String =
    RegexCaptures.requiredLiteral(pattern)
      .map(UTF8String.fromString).orNull

  override def nullSafeEval(input: Any): Any =
    RegexCaptures.run(compiled, guard, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("pattern", compiled,
      classOf[java.util.regex.Pattern].getName)
    val guardRef = ctx.addReferenceObj("guard", guard,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, input =>
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.GenericArrayData)
         |  graft.functions.RegexCaptures.run($patRef, $guardRef, $input);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexCaptures {
  import org.apache.spark.sql.graftbridge.Bridge
  /** `regex_captures(line, pattern)` as a Column. */
  def apply(line: Column, pattern: String): Column =
    Bridge.column(RegexCaptures(Bridge.expression(line), pattern))

  /** Longest literal substring that MUST appear in any match of
    * `pattern` — None when the analysis cannot be sure. Deliberately
    * conservative: literals are collected only at nesting depth 0
    * (outside every group and character class), a literal followed by an
    * optionality quantifier (`?`, `*`, `{`) is dropped, a top-level
    * alternation or any inline-flag group `(?...)` other than plain
    * non-capturing `(?:` aborts the analysis entirely (a global `(?i)`
    * would make literal case non-mandatory), and runs shorter than 3
    * chars are ignored (not selective enough to pay for the scan).
    * Shapes whose extent a character-level scan cannot be sure of also
    * abort: escapes that take operands (`\x41`, `\u0041`, `\0101`,
    * `\cX`, `\N{..}`, `\p{..}`/`\P{..}`, `\k<..>`, multi-digit
    * backreferences, `\Q..\E` quoting) and a `[` inside a character class
    * (nested classes, `&&[..]` intersections).
    * Under-approximation is always safe: the guard only ever skips the
    * matcher when the literal is ABSENT, which for a mandatory literal
    * implies no match. */
  private[graft] def requiredLiteral(pattern: String): Option[String] = {
    val runs = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    def endRun(): Unit = { if (cur.nonEmpty) { runs += cur.toString(); cur.clear() } }
    val n = pattern.length
    var i = 0
    var depth = 0
    def quantAt(j: Int): Boolean =
      j < n && (pattern(j) == '?' || pattern(j) == '*' ||
        pattern(j) == '+' || pattern(j) == '{')
    // skip a quantifier (with optional reluctant/possessive suffix) at j
    def skipQuant(j0: Int): Int = {
      var j = j0
      if (j < n && pattern(j) == '{') {
        while (j < n && pattern(j) != '}') j += 1
        if (j < n) j += 1 // past '}'
      } else if (quantAt(j)) j += 1
      if (j < n && (pattern(j) == '?' || pattern(j) == '+')) j += 1 // *?, ++, etc.
      j
    }
    // an escape at j (pattern(j) == '\\') whose operands follow it
    def operandEscape(j: Int): Boolean =
      j + 1 < n && ("xu0cNpPkQ".indexOf(pattern(j + 1)) >= 0 ||
        (pattern(j + 1).isDigit && j + 2 < n && pattern(j + 2).isDigit))
    // skip a character class starting at '[' (handles leading ^/] and
    // plain escapes); n + 1 = bail out (malformed, nested, operand escape)
    def skipClass(j0: Int): Int = {
      var j = j0 + 1
      if (j < n && pattern(j) == '^') j += 1
      if (j < n && pattern(j) == ']') j += 1 // literal ] first in class
      while (j < n && pattern(j) != ']') {
        if (pattern(j) == '[') return n + 1
        if (pattern(j) == '\\') {
          if (operandEscape(j)) return n + 1
          j += 2
        } else j += 1
      }
      if (j >= n) return n + 1 // malformed: force caller to bail
      j + 1
    }
    while (i < n) {
      val c = pattern(i)
      if (depth > 0) {
        // inside a group: count nothing, just track nesting faithfully
        c match {
          case '\\' =>
            if (operandEscape(i)) return None
            i += 2
          case '[' =>
            i = skipClass(i); if (i > n) return None
          case '(' =>
            if (pattern.startsWith("(?", i) && !pattern.startsWith("(?:", i)) return None
            depth += 1; i += 1
          case ')' => depth -= 1; i += 1; i = skipQuant(i)
          case _ => i += 1
        }
      } else c match {
        case '|' => return None // top-level alternation: nothing is mandatory
        case '(' =>
          if (pattern.startsWith("(?", i) && !pattern.startsWith("(?:", i)) return None
          endRun(); depth += 1; i += 1
        case ')' => return None // unbalanced
        case '[' =>
          endRun(); i = skipClass(i); if (i > n) return None
          i = skipQuant(i)
        case '.' | '^' | '$' =>
          endRun(); i += 1; i = skipQuant(i)
        case '?' | '*' | '+' | '{' =>
          // quantifier after a group/class/anchor (atoms we never counted)
          endRun(); i = skipQuant(i)
        case '\\' =>
          if (operandEscape(i)) return None
          if (i + 1 >= n) { endRun(); i += 1 }
          else {
            val e = pattern(i + 1)
            if (e.isLetterOrDigit) {
              // predefined class / anchor / backreference (\d, \b, \1, ...)
              endRun(); i += 2; i = skipQuant(i)
            } else if (quantAt(i + 2)) {
              if (pattern(i + 2) == '+') { cur += e; endRun(); i = skipQuant(i + 2) }
              else { endRun(); i = skipQuant(i + 2) }
            } else { cur += e; i += 2 }
          }
        case ch =>
          if (quantAt(i + 1)) {
            // x+ keeps x (>=1 occurrence, contiguous); x?, x*, x{..} drop it
            if (pattern(i + 1) == '+') { cur += ch; endRun(); i = skipQuant(i + 1) }
            else { endRun(); i = skipQuant(i + 1) }
          } else { cur += ch; i += 1 }
      }
    }
    if (depth != 0) return None
    endRun()
    runs.filter(_.length >= 3).sortBy(-_.length).headOption
  }

  /** Zero-copy CharSequence over an ASCII byte array: `charAt` is a
    * plain byte read. Valid ONLY when every byte is < 0x80 (checked by
    * [[run]]) — for ASCII, UTF-8 byte offsets ARE char offsets, so the
    * matcher's group bounds slice the ORIGINAL bytes directly. */
  private final class AsciiSeq(bytes: Array[Byte], off: Int, len: Int)
      extends CharSequence {
    override def length(): Int = len
    override def charAt(i: Int): Char = (bytes(off + i) & 0xFF).toChar
    override def subSequence(s: Int, e: Int): CharSequence =
      new AsciiSeq(bytes, off + s, e - s)
    override def toString: String =
      new String(bytes, off, len, java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Match `pattern` once against `line`, returning the capture array or
    * null on no-match.
    *
    * Hot path (ASCII lines — every log line this engine parses): the
    * matcher runs over a zero-copy byte view and each participating
    * group becomes a `UTF8String` VIEW of the line's byte array — no
    * `UTF8String -> String` decode, no per-group `String` + re-encode.
    * (Safe: `getBytes` either copies into a fresh array we own, or
    * returns the exact backing array of an immutable standalone
    * UTF8String; either way the slice views never alias a reused row
    * buffer, and downstream UnsafeWriters copy on consume.) The measured
    * motivation: 3 patterns/line made `toString` + group round-trips the
    * dominant per-row allocations of the parse stage (JFR round 4), and
    * that allocation churn is exactly the memory-latency-bound work that
    * inflates 1.4x at 16 threads on the shared-bus host.
    *
    * Non-ASCII lines fall back to the decoded-String path with
    * char-offset group extraction (byte != char offsets there).
    */
  def run(pattern: java.util.regex.Pattern, guard: UTF8String,
      line: UTF8String): GenericArrayData = {
    // mandatory-literal reject: byte-level contains (UTF-8 is
    // self-synchronizing, so a byte match IS a char match); absent
    // literal => the regex cannot match, skip the engine entirely
    if (guard != null && !line.contains(guard)) return null
    val bytes = line.getBytes
    var ascii = true
    var k = 0
    while (ascii && k < bytes.length) { ascii = bytes(k) >= 0; k += 1 }
    if (ascii) {
      val m = pattern.matcher(new AsciiSeq(bytes, 0, bytes.length))
      if (!m.find()) null
      else {
        val n = m.groupCount()
        val arr = new Array[Any](n + 1)
        var i = 0
        while (i <= n) {
          val s = m.start(i)
          arr(i) = if (s < 0) null
            else UTF8String.fromBytes(bytes, s, m.end(i) - s)
          i += 1
        }
        new GenericArrayData(arr)
      }
    } else {
      val m = pattern.matcher(line.toString)
      if (!m.find()) null
      else {
        val n = m.groupCount()
        val arr = new Array[Any](n + 1)
        var i = 0
        while (i <= n) {
          val g = m.group(i)
          arr(i) = if (g == null) null else UTF8String.fromString(g)
          i += 1
        }
        new GenericArrayData(arr)
      }
    }
  }
}
