package graft.sql

import graft.core._

/** Recursive-descent / precedence-climbing parser for the reference
  * dialect (structure mirrors reference `src/parsing/parser.rs`:
  * SELECT :245-381, JOIN :383-424, CREATE TABLE :444-610, expressions
  * :714-836; precedences from `src/parsing/operator.rs:38-49`:
  * `.`=6, `^ * /`=5, `+ -`=4, `< <= > >=`=3, `= != IS IN`=2,
  * `AND OR`=1, `::`=7). */
final class Parser(tokens: Vector[Tok]) {
  private var pos = 0
  private def cur: Tok = tokens(pos)
  private def advance(): Tok = { val t = cur; pos += 1; t }
  private def expect(t: Tok): Unit =
    if (cur == t) pos += 1
    else throw new IllegalArgumentException(s"expected $t, got $cur (pos $pos)")
  private def expectKw(kw: String): Unit = expect(Tok.Kw(kw))
  private def ident(): String = advance() match {
    case Tok.Ident(s) => s
    case other => throw new IllegalArgumentException(s"expected identifier, got $other")
  }

  // ------------------------------------------------------------ statements

  def parseStatements(): Statement = {
    val stmts = Vector.newBuilder[Statement]
    while (cur != Tok.End) {
      stmts += parseStatement()
      while (cur == Tok.Semi) advance()
    }
    val all = stmts.result()
    if (all.size == 1) all.head else Statement.Multiple(all)
  }

  def parseStatement(): Statement = cur match {
    case Tok.Kw("SELECT") => Statement.Select(parseSelect())
    case Tok.Kw("CREATE") => Statement.CreateTable(parseCreateTable())
    case other => throw new IllegalArgumentException(s"expected SELECT or CREATE, got $other")
  }

  // ---------------------------------------------------------------- SELECT

  private def parseSelect(): SelectStmt = {
    expectKw("SELECT")
    val distinct = cur == Tok.Kw("DISTINCT")
    if (distinct) advance()

    val projections = Vector.newBuilder[(Option[String], Expr)]
    var more = true
    while (more) {
      val e = if (cur == Tok.Op("*")) { advance(); Expr.Wildcard } else parseExpr()
      val alias = if (cur == Tok.Kw("AS")) { advance(); Some(ident()) } else None
      projections += ((alias, e))
      if (cur == Tok.Comma) advance() else more = false
    }

    var from = ""
    var fromFile: Option[String] = None
    var join: Option[JoinClause] = None
    var where: Option[Expr] = None
    var groupBy: Option[Seq[Expr]] = None
    var having: Option[Expr] = None
    var limit: Option[Int] = None

    if (cur == Tok.Kw("FROM")) {
      advance()
      from = ident()
      if (cur == Tok.DoubleColon) {
        advance()
        fromFile = Some(advance() match {
          case Tok.Str(s) => s
          case other => throw new IllegalArgumentException(s"expected file string, got $other")
        })
      }
    }
    // clauses accepted in any order (the reference allows HAVING before
    // GROUP BY — integration_tests.rs:144)
    var progressing = true
    while (progressing) cur match {
      case Tok.Kw("INNER") | Tok.Kw("OUTER") =>
        val outer = cur == Tok.Kw("OUTER")
        advance(); expectKw("JOIN")
        val table = ident()
        val file = if (cur == Tok.DoubleColon) {
          advance()
          advance() match {
            case Tok.Str(s) => Some(s)
            case other => throw new IllegalArgumentException(s"expected file string, got $other")
          }
        } else None
        expectKw("ON")
        def qualified(): (String, String) = {
          val t = ident(); expect(Tok.Op(".")); val c = ident(); (t, c)
        }
        val l = qualified()
        expect(Tok.Op("="))
        val r = qualified()
        join = Some(JoinClause(outer, table, file, l, r))
      case Tok.Kw("WHERE") => advance(); where = Some(parseExpr())
      case Tok.Kw("GROUP") =>
        advance(); expectKw("BY")
        val keys = Vector.newBuilder[Expr]
        keys += parseExpr()
        while (cur == Tok.Comma) { advance(); keys += parseExpr() }
        groupBy = Some(keys.result())
      case Tok.Kw("HAVING") => advance(); having = Some(parseExpr())
      case Tok.Kw("LIMIT") =>
        advance()
        limit = Some(advance() match {
          case Tok.IntTok(v) => v.toInt
          case other => throw new IllegalArgumentException(s"expected int limit, got $other")
        })
      case _ => progressing = false
    }
    SelectStmt(projections.result(), from, fromFile, join, where, groupBy,
      having, limit, distinct)
  }

  // ---------------------------------------------------------- CREATE TABLE

  /** Grammar per README.md:100-124 and reference parser.rs:444-610. */
  private def parseCreateTable(): TableDef = {
    expectKw("CREATE"); expectKw("TABLE")
    val name = ident()
    expect(Tok.LParen)
    val patterns = Vector.newBuilder[PatternDef]
    val columns = Vector.newBuilder[ColumnDef]
    var inlineCount = 0

    def parseGroupRef(): ColumnSource.Group = {
      val pname = ident()
      expect(Tok.LBracket)
      val g = advance() match {
        case Tok.IntTok(v) => v.toInt
        case other => throw new IllegalArgumentException(s"expected group index, got $other")
      }
      expect(Tok.RBracket)
      ColumnSource.Group(pname, g)
    }

    def parseType(): ValueType = {
      val base = advance() match {
        case Tok.Ident(s) => s
        case Tok.Kw(s) => s // TIMESTAMP etc. are not keywords here, but be lenient
        case other => throw new IllegalArgumentException(s"expected type, got $other")
      }
      val sb = new StringBuilder(base)
      while (cur == Tok.LBracket && tokens(pos + 1) == Tok.RBracket) {
        advance(); advance(); sb.append("[]")
      }
      ValueType.parse(sb.toString)
    }

    def parseModifiers(c: ColumnDef): ColumnDef = {
      var col = c
      var going = true
      while (going) cur match {
        case Tok.Kw("NOT") =>
          advance(); expectKw("NULL"); col = col.copy(notNull = true)
        case Tok.Kw("TRIM") => advance(); col = col.copy(trim = true)
        case Tok.Kw("CONVERT") => advance(); col = col.copy(convert = true)
        case Tok.Kw("MICROSECONDS") => advance(); col = col.copy(microseconds = true)
        case Tok.Kw("DEFAULT") =>
          advance()
          val v: Any = advance() match {
            case Tok.Str(s) => s
            case Tok.IntTok(v0) => v0
            case Tok.FloatTok(v0) => v0
            case Tok.Kw("TRUE") => true
            case Tok.Kw("FALSE") => false
            case other => throw new IllegalArgumentException(s"expected default literal, got $other")
          }
          col = col.copy(default = Some(v))
        case _ => going = false
      }
      col
    }

    def parseColumnTail(refs: Seq[ColumnSource.Group]): Unit = {
      expect(Tok.Arrow)
      val colName = ident()
      val tpe = parseType()
      val source: ColumnSource =
        if (refs.length == 1) refs.head
        else tpe match {
          case ValueType.TimestampT => ColumnSource.TimestampGroups(refs)
          case _: ValueType.ArrayT => ColumnSource.MultiGroup(refs)
          case other => throw new IllegalArgumentException(
            s"multi-group column $colName must be TIMESTAMP or array, got $other")
        }
      columns += parseModifiers(ColumnDef(colName, tpe, source))
    }

    var more = true
    while (more && cur != Tok.RParen) {
      cur match {
        // { .path } => col TYPE
        case Tok.LBrace =>
          advance()
          val sb = new StringBuilder("$")
          while (cur != Tok.RBrace) {
            advance() match {
              case Tok.Op(".") => sb.append('.')
              case Tok.Ident(s) => sb.append(s)
              case Tok.LBracket =>
                val idx = advance() match {
                  case Tok.IntTok(v) => v
                  case other => throw new IllegalArgumentException(s"bad json index: $other")
                }
                expect(Tok.RBracket)
                sb.append('[').append(idx).append(']')
              case other => throw new IllegalArgumentException(s"bad json path token: $other")
            }
          }
          expect(Tok.RBrace)
          expect(Tok.Arrow)
          val colName = ident()
          val tpe = parseType()
          columns += parseModifiers(ColumnDef(colName, tpe, ColumnSource.Json(sb.toString)))

        // '<regex>' => col TYPE  (inline pattern bound to group 1)
        case Tok.Str(regex) =>
          advance()
          inlineCount += 1
          val pname = s"_pattern$inlineCount"
          patterns += PatternDef(pname, regex)
          parseColumnTail(Seq(ColumnSource.Group(pname, 1)))

        case Tok.Ident(_) =>
          // either `name = [split] 'regex'` or `name[i], ... => col TYPE`
          if (tokens(pos + 1) == Tok.Op("=")) {
            val pname = ident()
            expect(Tok.Op("="))
            val mode = if (cur == Tok.Kw("SPLIT")) { advance(); PatternMode.Split }
              else PatternMode.Captures
            val regex = advance() match {
              case Tok.Str(s) => s
              case other => throw new IllegalArgumentException(s"expected regex string, got $other")
            }
            patterns += PatternDef(pname, regex, mode)
          } else {
            val refs = Vector.newBuilder[ColumnSource.Group]
            refs += parseGroupRef()
            while (cur == Tok.Comma && tokens(pos + 1).isInstanceOf[Tok.Ident]
                && tokens(pos + 2) == Tok.LBracket) {
              advance()
              refs += parseGroupRef()
            }
            parseColumnTail(refs.result())
          }
        case other => throw new IllegalArgumentException(s"unexpected token in CREATE TABLE: $other")
      }
      if (cur == Tok.Comma) advance() else more = false
    }
    expect(Tok.RParen)
    TableDef(name, patterns.result(), columns.result())
  }

  // ----------------------------------------------------------- expressions

  private def precedence(t: Tok): Int = t match {
    case Tok.DoubleColon => 7
    case Tok.Op(".") => 6
    case Tok.Op("^") | Tok.Op("*") | Tok.Op("/") | Tok.Op("%") => 5
    case Tok.Op("+") | Tok.Op("-") => 4
    case Tok.Op("<") | Tok.Op("<=") | Tok.Op(">") | Tok.Op(">=") => 3
    case Tok.Op("=") | Tok.Op("!=") => 2
    case Tok.Kw("IS") | Tok.Kw("IN") | Tok.Kw("NOT") => 2
    case Tok.Kw("AND") | Tok.Kw("OR") => 1
    case Tok.LBracket => 8 // postfix index binds tight
    case _ => -1
  }

  def parseExpr(minPrec: Int = 0): Expr = {
    var lhs = parsePrimary()
    var going = true
    while (going) {
      val prec = precedence(cur)
      if (prec < math.max(minPrec, 0) || prec == -1) going = false
      else cur match {
        case Tok.DoubleColon =>
          advance()
          lhs = Expr.Cast(lhs, ValueType.parse(ident()))
        case Tok.LBracket =>
          advance()
          val idx = parseExpr()
          expect(Tok.RBracket)
          lhs = Expr.Index(lhs, idx)
        case Tok.Op(".") =>
          advance()
          (lhs, cur) match {
            case (Expr.ColRef(q, None), Tok.Ident(c)) =>
              advance(); lhs = Expr.ColRef(c, Some(q))
            case other => throw new IllegalArgumentException(s"bad qualified access: $other")
          }
        case Tok.Kw("IS") =>
          advance()
          val negated = cur == Tok.Kw("NOT")
          if (negated) advance()
          val rhs = parseExpr(prec + 1)
          lhs = Expr.Is(lhs, rhs, negated)
        case Tok.Kw("IN") =>
          advance()
          lhs = Expr.In(lhs, parseExprList(), negated = false)
        case Tok.Kw("NOT") => // NOT IN
          advance(); expectKw("IN")
          lhs = Expr.In(lhs, parseExprList(), negated = true)
        case Tok.Kw("AND") =>
          advance(); lhs = Expr.Bin("and", lhs, parseExpr(prec + 1))
        case Tok.Kw("OR") =>
          advance(); lhs = Expr.Bin("or", lhs, parseExpr(prec + 1))
        case Tok.Op(op) =>
          advance(); lhs = Expr.Bin(op, lhs, parseExpr(prec + 1))
        case other => throw new IllegalArgumentException(s"unexpected operator: $other")
      }
    }
    lhs
  }

  private def parseExprList(): Seq[Expr] = {
    expect(Tok.LParen)
    val items = Vector.newBuilder[Expr]
    if (cur != Tok.RParen) {
      items += parseExpr()
      while (cur == Tok.Comma) { advance(); items += parseExpr() }
    }
    expect(Tok.RParen)
    items.result()
  }

  private def parsePrimary(): Expr = cur match {
    case Tok.IntTok(v) => advance(); Expr.Lit(v)
    case Tok.FloatTok(v) => advance(); Expr.Lit(v)
    case Tok.Str(s) => advance(); Expr.Lit(s)
    case Tok.Kw("TRUE") => advance(); Expr.Lit(true)
    case Tok.Kw("FALSE") => advance(); Expr.Lit(false)
    case Tok.Kw("NULL") => advance(); Expr.Lit(null)
    case Tok.Op("-") => advance(); Expr.Neg(parseExpr(6))
    case Tok.Kw("NOT") => advance(); Expr.Not(parseExpr(2))
    case Tok.Op("*") => advance(); Expr.Wildcard
    case Tok.LParen =>
      advance()
      val e = parseExpr()
      expect(Tok.RParen)
      e
    case Tok.Kw("CASE") =>
      advance()
      val clauses = Vector.newBuilder[(Expr, Expr)]
      while (cur == Tok.Kw("WHEN")) {
        advance()
        val cond = parseExpr()
        expectKw("THEN")
        clauses += ((cond, parseExpr()))
      }
      expectKw("ELSE") // ELSE is mandatory in the reference (parser.rs:990-1019)
      val otherwise = parseExpr()
      expectKw("END")
      Expr.CaseWhen(clauses.result(), otherwise)
    case Tok.Kw("EXTRACT") =>
      advance(); expect(Tok.LParen)
      val part = ident()
      expectKw("FROM")
      val e = parseExpr()
      expect(Tok.RParen)
      Expr.Extract(part, e)
    case Tok.Ident(name) =>
      advance()
      cur match {
        case Tok.LParen if name.equalsIgnoreCase("array") =>
          // array(...) used as constructor
          Expr.Call("create_array", parseExprList())
        case Tok.LBracket if name.equalsIgnoreCase("array") =>
          // array[...] literal sugar (parser.rs:896-931)
          advance()
          val items = Vector.newBuilder[Expr]
          if (cur != Tok.RBracket) {
            items += parseExpr()
            while (cur == Tok.Comma) { advance(); items += parseExpr() }
          }
          expect(Tok.RBracket)
          Expr.ArrayLit(items.result())
        case Tok.LParen =>
          advance()
          val distinct = cur == Tok.Kw("DISTINCT")
          if (distinct) advance()
          val args = Vector.newBuilder[Expr]
          if (cur != Tok.RParen) {
            args += (if (cur == Tok.Op("*")) { advance(); Expr.Wildcard } else parseExpr())
            while (cur == Tok.Comma) { advance(); args += parseExpr() }
          }
          expect(Tok.RParen)
          Expr.Call(name.toLowerCase, args.result(), distinct)
        case _ => Expr.ColRef(name)
      }
    case other => throw new IllegalArgumentException(s"unexpected token: $other")
  }
}

object Parser {
  def parse(sql: String): Statement =
    new Parser(Tokenizer.tokenize(sql)).parseStatements()

  def parseQuery(sql: String): SelectStmt = parse(sql) match {
    case Statement.Select(s) => s
    case other => throw new IllegalArgumentException(s"not a SELECT: $other")
  }

  def parseTableDefs(ddl: String): Seq[TableDef] = parse(ddl) match {
    case Statement.CreateTable(t) => Seq(t)
    case Statement.Multiple(ss) => ss.collect { case Statement.CreateTable(t) => t }
    case other => throw new IllegalArgumentException(s"not DDL: $other")
  }
}
