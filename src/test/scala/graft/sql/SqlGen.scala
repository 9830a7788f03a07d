package graft.sql

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generated sqlgrep SELECTs over table `t`, which has one column of each
  * type (`i` INT, `r` REAL, `b` BOOLEAN, `s` TEXT, `ts` TIMESTAMP, `d`
  * INTERVAL, `xs` TEXT[]) plus `input`. Queries are SQL text, so the same
  * generator drives any version of the engine. Expressions cover
  * literals (NULL included), unary and binary operators, IS/IN, casts,
  * CASE, array index and literal, EXTRACT and every scalar function;
  * grouped SELECTs wrap every aggregate in a scalar expression and may
  * filter on one with HAVING. Most generated expressions are type-correct
  * only by chance: the engine or Spark rejects the others. */
object SqlGen {
  val Ddl: String =
    "CREATE TABLE t(line = '(\\\\d+) (\\\\S+) (\\\\w+) (\\\\d+-\\\\d+-\\\\d+ \\\\d+:\\\\d+:\\\\d+) " +
      "(\\\\d+:\\\\d+:\\\\d+) (\\\\w+),(\\\\w+)( !)?', " +
      "line[1] => i INT, line[2] => r REAL, line[3] => s TEXT, line[4] => ts TIMESTAMP, " +
      "line[5] => d INTERVAL, line[6], line[7] => xs TEXT[], line[8] => b BOOLEAN);"

  val Lines: Seq[String] = Seq(
    "3 1.5 alpha 2024-01-02 03:04:05 01:00:30 a,b !",
    "7 2.25 beta 2024-02-03 10:00:00 12:10:05 c,a",
    "12 x gamma 2023-12-31 23:59:59 00:00:01 e,f !",
    "3 -0.5 alpha 2024-01-02 03:04:06 00:10:00 b,b",
    "not a row")

  /** The kinds of expression the generator aims at. */
  private val kinds = Seq("num", "bool", "text", "ts", "arr")
  private val literals: Map[String, Seq[String]] = Map(
    "num" -> Seq("0", "3", "12", "2.25", "0.5", "NULL"),
    "bool" -> Seq("TRUE", "FALSE", "NULL"),
    "text" -> Seq("'alpha'", "'a'", "'2024-01-02 03:04:05'", "'01:00:30'", "'1.5'", "'7'", "NULL"),
    "ts" -> Seq("NULL"),
    "arr" -> Seq("NULL"))
  private val columns: Map[String, Seq[String]] = Map(
    "num" -> Seq("i", "r", "d", "t.i", "t.d"), "bool" -> Seq("b"), "text" -> Seq("s", "s", "input"),
    "ts" -> Seq("ts"), "arr" -> Seq("xs"))
  private val tableLeaf: String => Gen[String] = k =>
    Gen.frequency(3 -> Gen.oneOf(columns(k)), 2 -> Gen.oneOf(literals(k)))
  private val casts: Map[String, Seq[String]] = Map("num" -> Seq("int", "real", "interval"),
    "bool" -> Seq("boolean"), "text" -> Seq("text"), "ts" -> Seq("timestamp"), "arr" -> Nil)
  private val parts = Seq("epoch", "year", "month", "day", "hour", "minute", "second")

  private def list(n: Int, g: Gen[String]): Gen[String] = Gen.listOfN(n, g).map(_.mkString(", "))

  /** An expression that aims at kind `k`, at most `depth` deep, over the
    * leaves `leaf` gives per kind. One child in nine is of a random kind,
    * so ill-typed operands that Spark coerces are covered too. */
  def expr(k: String, depth: Int, leaf: String => Gen[String] = tableLeaf): Gen[String] =
    if (depth <= 0) leaf(k)
    else {
      def e(c: String): Gen[String] = Gen.frequency(
        8 -> expr(c, depth - 1, leaf),
        1 -> Gen.oneOf(kinds).flatMap(expr(_, depth - 1, leaf)))
      def call(f: String, args: String*): Gen[String] =
        Gen.sequence[Seq[String], String](args.map(e)).map(a => s"$f(${a.mkString(", ")})")
      def bin(l: String, ops: Seq[String], r: String): Gen[String] =
        Gen.zip(e(l), Gen.oneOf(ops), e(r)).map { case (a, op, b) => s"($a $op $b)" }
      val pair = Gen.oneOf(kinds.map(c => (c, c)) :+ (("ts", "text")) :+ (("text", "ts")))
      val any: Seq[(Int, Gen[String])] = Seq(
        4 -> leaf(k),
        1 -> Gen.zip(e("bool"), e(k), Gen.option(Gen.zip(e("bool"), e(k))), e(k)).map {
          case (c, v, more, o) =>
            s"(CASE WHEN $c THEN $v" + more.fold("")(m => s" WHEN ${m._1} THEN ${m._2}") + s" ELSE $o END)"
        },
        1 -> Gen.zip(Gen.choose(1, 2).flatMap(list(_, e(k))), e("num"))
          .map { case (items, i) => s"(array[$items])[$i]" }) ++
        casts(k).map(t => 2 -> Gen.oneOf(kinds).flatMap(e).map(x => s"($x)::$t"))
      val own: Seq[(Int, Gen[String])] = k match {
        case "num" => Seq(
          1 -> e("num").map(x => s"(-$x)"),
          4 -> bin("num", Seq("+", "-", "*", "/", "%", "^"), "num"),
          1 -> bin("ts", Seq("-"), "ts"),
          3 -> Gen.oneOf(call("abs", "num"), call("sqrt", "num"), call("pow", "num", "num"),
            call("greatest", "num", "num"), call("least", "num", "num"), call("length", "text"),
            call("array_length", "arr")),
          1 -> Gen.zip(Gen.oneOf(parts), e("ts")).map { case (p, x) => s"EXTRACT($p FROM $x)" })
        case "bool" => Seq(
          3 -> pair.flatMap { case (l, r) => bin(l, Seq("=", "!=", "<", "<=", ">", ">="), r) },
          2 -> bin("bool", Seq("AND", "OR"), "bool"),
          1 -> e("bool").map(x => s"(NOT $x)"),
          1 -> pair.flatMap { case (l, r) => bin(l, Seq("IS", "IS NOT"), r) },
          1 -> Gen.oneOf(kinds).flatMap(c => Gen.zip(e(c), Gen.oneOf("IN", "NOT IN"),
            Gen.choose(1, 3).flatMap(list(_, e(c))))).map { case (x, in, l) => s"($x $in ($l))" },
          1 -> Gen.oneOf(call("regexp_matches", "text", "text"),
            call("regex_matches", "text", "text")))
        case "text" => Seq(
          2 -> Gen.oneOf(call("upper", "text"), call("lower", "text")),
          1 -> e("num").map(i => s"(xs)[$i]"))
        case "ts" => Seq(
          2 -> bin("ts", Seq("+", "-"), "num"),
          1 -> bin("num", Seq("+"), "ts"),
          1 -> Gen.zip(Gen.oneOf("'hour'", "'day'", "'month'"), e("ts"))
            .map { case (p, x) => s"date_trunc($p, $x)" },
          1 -> Gen.oneOf(call("now"), call("make_timestamp", Seq.fill(7)("num"): _*),
            call("greatest", "ts", "ts"), call("least", "ts", "ts")))
        case "arr" => Seq(
          2 -> Gen.oneOf(kinds).flatMap(c => Gen.choose(0, 3).flatMap(list(_, e(c))))
            .map(items => s"array[$items]"),
          1 -> Gen.oneOf(kinds).flatMap(c => Gen.choose(1, 3).flatMap(n =>
            call("create_array", Seq.fill(n)(c): _*))),
          2 -> Gen.oneOf(call("array_unique", "arr"), call("array_cat", "arr", "arr"),
            call("array_append", "arr", "text"), call("array_prepend", "text", "arr"),
            call("array_append", "arr", "num")))
      }
      Gen.frequency(any ++ own: _*)
    }

  /** An aggregate call and the kind of its result. */
  private val aggregate: Gen[(String, String)] = {
    def agg(f: String, arg: String, out: String, pre: String = "", extra: String = "") =
      Gen.choose(1, 2).flatMap(expr(arg, _)).map(x => (s"$f($pre$x$extra)", out))
    Gen.oneOf(kinds).flatMap(k => Gen.oneOf(
      Gen.const(("COUNT(*)", "num")), agg("COUNT", k, "num", pre = "DISTINCT "),
      agg("count", k, "num"), agg("min", k, k), agg("max", k, k), agg("array_agg", k, "arr"),
      agg("sum", "num", "num"), agg("avg", "num", "num"), agg("stddev", "num", "num"),
      agg("variance", "num", "num"), agg("percentile", "num", "num", extra = ", 0.5"),
      agg("bool_and", "bool", "bool"), agg("bool_or", "bool", "bool"),
      agg("string_agg", "text", "text", extra = ", ','")))
  }

  /** An expression over `keys` (with their kinds) and literals around
    * one aggregate. */
  private def around(keys: Seq[(String, String)]): Gen[String] = {
    val hole = "__agg__"
    for {
      (a, ak) <- aggregate
      top <- Gen.frequency(3 -> Gen.const(ak), 2 -> Gen.oneOf(kinds))
      depth <- Gen.choose(1, 2)
      w <- Gen.frequency(1 -> Gen.const(hole), 2 -> expr(top, depth, k => Gen.frequency(
        Seq(1 -> Gen.oneOf(literals(k))) ++
          Some(k).filter(_ == ak).map(_ => 3 -> Gen.const(hole)) ++
          Some(keys.filter(_._2 == k).map(_._1)).filter(_.nonEmpty).map(ks => 2 -> Gen.oneOf(ks)): _*)))
    } yield {
      val at = w.indexOf(hole)
      if (at < 0) w else (w.take(at) + a + w.drop(at + hole.length)).replace(hole, "NULL")
    }
  }

  val scalarQuery: Gen[String] =
    Gen.zip(Gen.oneOf(kinds), Gen.choose(2, 3)).flatMap { case (k, d) => expr(k, d) }
      .map(e => s"SELECT $e AS c FROM t")

  val groupedQuery: Gen[String] = for {
    keys <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, Gen.oneOf(Seq("i" -> "num", "s" -> "text",
      "b" -> "bool", "ts" -> "ts", "d" -> "num", "xs" -> "arr", "(i % 3)" -> "num",
      "(d)::text" -> "text"))))
    outs <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, around(keys)))
    having <- Gen.option(around(keys).flatMap(h =>
      Gen.oneOf(s"$h IS NOT NULL", s"$h > 1", s"$h")))
  } yield {
    val proj = (keys.map(_._1) ++ outs).zipWithIndex
      .map { case (e, n) => s"$e AS c$n" }.mkString(", ")
    val groupBy = if (keys.isEmpty) "" else keys.map(_._1).mkString(" GROUP BY ", ", ", "")
    s"SELECT $proj FROM t$groupBy" + having.fold("")(h => s" HAVING $h")
  }

  /** `n` queries, scalar ones first, then `grouped` grouped ones, from a fixed seed. */
  def queries(n: Int, grouped: Int, seed: Long): Seq[String] = {
    val params = Gen.Parameters.default
    def take(g: Gen[String], k: Int, s: Seed): Seq[String] =
      Iterator.iterate(s)(_.next).map(x => g.pureApply(params, x)).take(k).toSeq
    take(scalarQuery, n, Seed(seed)) ++ take(groupedQuery, grouped, Seed(seed + 1))
  }
}
