package graft

import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RegexCaptures

/** Property checks for the mandatory-literal guard of [[RegexCaptures]]
  * over regexes generated from a small grammar (literal runs, escaped
  * metacharacters, operand escapes, `\Q..\E`, plain, negated, nested and
  * intersected classes, groups, quantifiers, alternation, inline flags)
  * and lines drawn from strings that match them plus mutations. Whenever
  * `requiredLiteral` names a literal, a line without it must not match,
  * and the guarded run must equal a bare `java.util.regex` run. */
class RegexGuardPropSpec extends AnyFunSuite {
  import RegexGuardPropSpec._

  private val Cases = 10000

  private lazy val cases: Seq[(String, Seq[String])] = {
    val params = Gen.Parameters.default
    (0 until Cases).map { k =>
      val seed = Seed(20261019L + k)
      val r = topGen(params, seed).get
      val regex = render(r, top = true)
      val lines = linesGen(r, RegexCaptures.requiredLiteral(regex))(params, seed.next).get
      regex -> lines
    }
  }

  test(s"generated regexes compile and derive guards ($Cases cases)") {
    cases.foreach { case (regex, _) => Pattern.compile(regex) }
    val guarded = cases.count { case (regex, _) => RegexCaptures.requiredLiteral(regex).isDefined }
    // the grammar must exercise both outcomes of the derivation
    assert(guarded > Cases / 5 && guarded < Cases * 4 / 5, s"$guarded of $Cases guarded")
    // the lines must hit matches as well as misses
    val matched = cases.map { case (regex, lines) =>
      val p = Pattern.compile(regex)
      lines.count(l => p.matcher(l).find())
    }.sum
    assert(matched > Cases, s"only $matched matching lines")
  }

  test(s"a line without the guard literal never matches ($Cases regexes)") {
    var absent = 0
    cases.foreach { case (regex, lines) =>
      RegexCaptures.requiredLiteral(regex).foreach { g =>
        val p = Pattern.compile(regex)
        lines.filterNot(_.contains(g)).foreach { line =>
          absent += 1
          assert(!p.matcher(line).find(), s"regex /$regex/ guard '$g' matches '$line'")
        }
      }
    }
    assert(absent > Cases / 2, s"only $absent guard-absent lines")
  }

  test(s"guarded RegexCaptures.run equals a bare java.util.regex run ($Cases regexes)") {
    cases.foreach { case (regex, lines) =>
      val p = Pattern.compile(regex)
      val guard = RegexCaptures.requiredLiteral(regex).map(UTF8String.fromString).orNull
      lines.foreach { line =>
        val got = Option(RegexCaptures.run(p, guard, UTF8String.fromString(line)))
          .map(_.array.toSeq.map(v => if (v == null) null else v.toString))
        val m = p.matcher(line)
        val want = if (!m.find()) None else Some((0 to m.groupCount()).map(i => m.group(i)))
        assert(got === want, s"regex /$regex/ line '$line'")
      }
    }
  }
}

object RegexGuardPropSpec {
  /** Characters lines are made of; `é` sends lines down the non-ASCII path. */
  val Alphabet: IndexedSeq[Char] = "abcxyzABC019 -:=.[](){}|*+?\\é".toIndexedSeq

  /** A regex tree; `sample` draws a string it matches. */
  sealed trait R
  /** One character out of `chars` (the alphabet characters `regex` matches). */
  final case class Atom(regex: String, chars: IndexedSeq[Char]) extends R
  /** Exactly `text`. */
  final case class Text(regex: String, text: String) extends R
  /** Matches the empty string: inline flags. */
  final case class Empty(regex: String) extends R
  final case class Cat(parts: Seq[R]) extends R
  final case class Group(open: String, r: R) extends R
  final case class Alt(l: R, r: R) extends R
  /** `r` repeated `min` to `min + extra` times. */
  final case class Rep(r: R, quant: String, min: Int, extra: Int) extends R

  private def atom(regex: String): Atom =
    Atom(regex, Alphabet.filter(c => Pattern.matches(regex, c.toString)))

  private val atoms: Seq[Atom] = Seq(
    // literals and escaped metacharacters
    "a", "b", "x", "z", "0", "9", " ", "-", ":", "=", "]", "}",
    "\\[", "\\]", "\\.", "\\(", "\\)", "\\{", "\\}", "\\|", "\\*", "\\+", "\\?", "\\\\",
    // predefined classes
    ".", "\\d", "\\D", "\\w", "\\s", "\\S",
    // plain and negated classes
    "[abc]", "[^abc]", "[a-c]", "[]a]", "[^]a]", "[x\\]]", "[\\d.]", "[a-c&&b]"
  ).map(atom)

  /** Atoms the derivation gives up on. */
  private val opaqueAtoms: Seq[Atom] = Seq(
    // escapes that take operands
    "\\x61", "\\x{78}", "\\u0062", "\\0143", "\\p{Lower}", "\\P{Lower}", "\\p{Digit}",
    "\\N{LATIN SMALL LETTER X}",
    // nested and intersected classes, a class with operand escapes
    "[a[xy]]", "[a-z&&[^aeiou]]", "[^a[b]]", "[\\x61-\\x63]"
  ).map(atom)

  private val textGen: Gen[Text] = Gen.frequency(
    6 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("abcxyz019 -:=]}"))).map { cs =>
      Text(cs.mkString, cs.mkString)
    },
    2 -> Gen.oneOf(Seq("ingest\\[", "\\]: ", "n_tok=", "a\\.b", "x\\(y\\)", "\\{1\\}")).map { r =>
      Text(r, r.replace("\\", ""))
    },
    1 -> Gen.oneOf(Seq("a.b*", "x|y", "(z)", "[q]", "1+1")).map(t => Text(s"\\Q$t\\E", t)))

  private val quants: Seq[(String, Int, Int)] = Seq(
    ("?", 0, 1), ("*", 0, 2), ("+", 1, 2), ("{2}", 2, 0), ("{0,2}", 0, 2), ("{1,}", 1, 2),
    ("*?", 0, 2), ("+?", 1, 2), ("??", 0, 1), ("?+", 0, 1), ("++", 1, 2), ("{1,2}?", 1, 1))

  private def nodeGen(depth: Int): Gen[R] =
    if (depth == 0) Gen.frequency(6 -> Gen.oneOf(atoms), 1 -> Gen.oneOf(opaqueAtoms), 4 -> textGen)
    else Gen.frequency(
      6 -> Gen.oneOf(atoms),
      1 -> Gen.oneOf(opaqueAtoms),
      6 -> textGen,
      2 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, nodeGen(depth - 1))).map(Cat(_)),
      2 -> Gen.zip(Gen.oneOf("(", "(", "(?:", "(?i:", "(?s:"), nodeGen(depth - 1)).map {
        case (o, r) => Group(o, r)
      },
      1 -> Gen.zip(nodeGen(depth - 1), nodeGen(depth - 1)).map { case (l, r) => Alt(l, r) },
      2 -> Gen.zip(nodeGen(depth - 1), Gen.oneOf(quants)).map { case (r, (q, lo, ex)) =>
        Rep(r, q, lo, ex)
      },
      1 -> Gen.oneOf("(?i)", "(?s)", "(?-i)").map(Empty(_)))

  val topGen: Gen[R] = Gen.frequency(
    8 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.frequency(1 -> textGen, 2 -> nodeGen(2))))
      .map(Cat(_)),
    1 -> Gen.zip(nodeGen(2), nodeGen(2)).map { case (l, r) => Alt(l, r) })

  /** The regex text of `r`; `top` lets a top-level alternation stand bare. */
  def render(r: R, top: Boolean = false): String = r match {
    case Atom(re, _) => re
    case Text(re, _) => re
    case Empty(re) => re
    case Cat(parts) => parts.map {
      case a: Alt => s"(?:${render(a)})"
      case p => render(p)
    }.mkString
    case Group(open, inner) => s"$open${render(inner)})"
    case Alt(l, rr) =>
      val s = s"${render(l)}|${render(rr)}"
      if (top) s else s"(?:$s)"
    case Rep(inner, q, _, _) => inner match {
      case _: Atom | _: Group => render(inner) + q
      case Text(re, t) if t.length == 1 && !re.startsWith("\\Q") => re + q
      case _ => s"(?:${render(inner)})$q"
    }
  }

  def sample(r: R): Gen[String] = r match {
    case Atom(_, chars) => Gen.oneOf(chars).map(_.toString)
    case Text(_, t) => Gen.const(t)
    case Empty(_) => Gen.const("")
    case Cat(parts) => Gen.sequence[Seq[String], String](parts.map(sample)).map(_.mkString)
    case Group(_, inner) => sample(inner)
    case Alt(l, rr) => Gen.oneOf(l, rr).flatMap(sample)
    case Rep(inner, _, min, extra) =>
      Gen.choose(min, min + extra).flatMap(n => Gen.listOfN(n, sample(inner))).map(_.mkString)
  }

  private def noise: Gen[String] = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(Alphabet))).map(_.mkString)

  /** One edit of `s`: delete, insert, replace or flip the case of a char. */
  private def mutate(s: String): Gen[String] =
    if (s.isEmpty) noise
    else Gen.zip(Gen.choose(0, s.length - 1), Gen.oneOf(Alphabet), Gen.choose(0, 3)).map {
      case (i, _, 0) => s.substring(0, i) + s.substring(i + 1)
      case (i, c, 1) => s.substring(0, i) + c + s.substring(i)
      case (i, c, 2) => s.substring(0, i) + c + s.substring(i + 1)
      case (i, _, _) =>
        val ch = s(i)
        s.substring(0, i) + (if (ch.isUpper) ch.toLower else ch.toUpper) + s.substring(i + 1)
    }

  /** Removes one character of the first occurrence of `guard`, if any. */
  private def breakGuard(s: String, guard: Option[String]): Gen[String] = guard match {
    case Some(g) if s.contains(g) =>
      val at = s.indexOf(g)
      Gen.choose(0, g.length - 1).map(k => s.substring(0, at + k) + s.substring(at + k + 1))
    case _ => mutate(s)
  }

  /** Lines for one regex: matching samples, samples inside noise, mutated
    * samples, samples with the guard literal broken, and plain noise. */
  def linesGen(r: R, guard: Option[String]): Gen[Seq[String]] = for {
    s1 <- sample(r)
    s2 <- sample(r)
    pre <- noise
    post <- noise
    m1 <- mutate(s1)
    m2 <- mutate(s2).flatMap(mutate)
    b <- breakGuard(pre + s2 + post, guard)
    n <- noise
  } yield Seq(s1, pre + s2 + post, m1, m2, b, n)
}
