package graft.sql

import graft.core.{TableDef, ValueType}

/** AST for the reference's SQL dialect (grammar:
  * reference `src/parsing/parser.rs:216-610`; semantics
  * `src/parsing/parser_tree_converter.rs`). */
sealed trait Expr
object Expr {
  final case class Lit(v: Any) extends Expr // Long | Double | String | Boolean | null
  final case class ColRef(name: String, qualifier: Option[String] = None) extends Expr
  final case class Bin(op: String, l: Expr, r: Expr) extends Expr
  final case class Neg(e: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  /** IS / IS NOT — total equality incl. NULL (reference P4). */
  final case class Is(l: Expr, r: Expr, negated: Boolean) extends Expr
  final case class In(e: Expr, list: Seq[Expr], negated: Boolean) extends Expr
  /** 1-based array index (reference P9). */
  final case class Index(arr: Expr, idx: Expr) extends Expr
  /** `expr::type` (reference P10). */
  final case class Cast(e: Expr, tpe: ValueType) extends Expr
  final case class Call(name: String, args: Seq[Expr], distinct: Boolean = false) extends Expr
  final case class CaseWhen(clauses: Seq[(Expr, Expr)], otherwise: Expr) extends Expr
  final case class ArrayLit(items: Seq[Expr]) extends Expr
  /** EXTRACT(part FROM ts) sugar (reference parser.rs:966-988). */
  final case class Extract(part: String, from: Expr) extends Expr
  case object Wildcard extends Expr

  /** `e` with `f` applied to each direct subexpression, left to right:
    * the one place that lists every node's children. */
  def mapChildren(e: Expr)(f: Expr => Expr): Expr = e match {
    case Bin(op, l, r) => Bin(op, f(l), f(r))
    case Neg(x) => Neg(f(x))
    case Not(x) => Not(f(x))
    case Is(l, r, n) => Is(f(l), f(r), n)
    case In(x, list, n) => In(f(x), list.map(f), n)
    case Index(a, i) => Index(f(a), f(i))
    case Cast(x, t) => Cast(f(x), t)
    case Call(n, args, d) => Call(n, args.map(f), d)
    case CaseWhen(cs, o) => CaseWhen(cs.map { case (c, v) => (f(c), f(v)) }, f(o))
    case ArrayLit(items) => ArrayLit(items.map(f))
    case Extract(p, x) => Extract(p, f(x))
    case _: Lit | _: ColRef | Wildcard => e
  }

  /** Direct subexpressions of `e`, left to right. */
  def children(e: Expr): Seq[Expr] = {
    val out = Seq.newBuilder[Expr]; mapChildren(e) { c => out += c; c }; out.result()
  }

  /** `e` with `f` applied top-down: a subtree `f` is defined at is
    * replaced whole, any other node is rebuilt from its transformed
    * children. */
  def transform(e: Expr)(f: PartialFunction[Expr, Expr]): Expr =
    f.applyOrElse(e, mapChildren(_: Expr)(transform(_)(f)))

  /** True when `p` holds for `e` or any expression nested in it. */
  def exists(e: Expr)(p: Expr => Boolean): Boolean =
    p(e) || children(e).exists(exists(_)(p))

  /** The function names the dialect accepts, lower case: aggregates,
    * then scalar functions ([[Translator]] implements each). */
  val aggregateNames: Seq[String] = Seq("count", "min", "max", "sum", "avg",
    "stddev", "variance", "percentile", "bool_and", "bool_or",
    "array_agg", "string_agg")
  val scalarNames: Seq[String] = Seq("greatest", "least", "abs", "sqrt", "pow",
    "length", "upper", "lower", "regexp_matches", "regex_matches", "create_array",
    "array_unique", "array_length", "array_cat", "array_append", "array_prepend",
    "now", "make_timestamp", "date_trunc")

  /** Aggregate calls in `e`, outermost first (reference allows at most
    * one per projection — quirk 14). */
  def findAggregates(e: Expr): Seq[Call] = e match {
    case c @ Call(n, args, _) if aggregateNames.contains(n) =>
      Seq(c) ++ args.flatMap(findAggregates)
    case other => children(other).flatMap(findAggregates)
  }
}

final case class JoinClause(
    outer: Boolean, // reference: OUTER == LEFT OUTER
    table: String,
    file: Option[String],
    leftColumn: (String, String),  // (table, column)
    rightColumn: (String, String))

final case class SelectStmt(
    projections: Seq[(Option[String], Expr)], // (alias, expr)
    from: String,
    fromFile: Option[String],
    join: Option[JoinClause],
    where: Option[Expr],
    groupBy: Option[Seq[Expr]],
    having: Option[Expr],
    limit: Option[Int],
    distinct: Boolean)

sealed trait Statement
object Statement {
  final case class Select(stmt: SelectStmt) extends Statement
  final case class CreateTable(table: TableDef) extends Statement
  final case class Multiple(statements: Seq[Statement]) extends Statement
}
