package graft.sql

import Lexer._

/** Recursive-descent parser for the StreamSQL dialect.
  *
  * Clause order mirrors the reference grammar (reference: rsql/parser.go:149-248):
  * SELECT [DISTINCT] items FROM src [alias] JOIN* [MATCH_RECOGNIZE(...)] [WHERE]
  * [GROUP BY items+window] [HAVING] [WITH (opts)] [ORDER BY] [LIMIT].
  *
  * Differences from the reference (Spark-first extensions):
  *  - FROM may name any registered table, not just `stream`.
  *  - OVER may carry ORDER BY (the reference rejects it, rsql/parser.go:667-696).
  *  - Unknown functions pass through to Spark's registry at plan time.
  */
final class Parser(tokens: Vector[Token]) {
  private var pos = 0

  private[sql] def cur: Token = tokens(pos)
  private def peek(k: Int): Token = tokens(math.min(pos + k, tokens.length - 1))
  private[sql] def advance(): Token = { val t = cur; pos += 1; t }
  private def fail(msg: String): Nothing =
    throw new ParseException(s"$msg at token '${cur.text}' (pos ${cur.pos})")

  private def expectPunct(p: String): Unit =
    if (cur.is(p)) pos += 1 else fail(s"expected '$p'")
  private def expectKw(kw: String): Unit =
    if (cur.isKw(kw)) pos += 1 else fail(s"expected $kw")
  private[sql] def acceptKw(kw: String): Boolean =
    if (cur.isKw(kw)) { pos += 1; true } else false
  private def acceptPunct(p: String): Boolean =
    if (cur.is(p)) { pos += 1; true } else false

  // Keywords that terminate an expression / select-item context.
  private val clauseKws = Set(
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "WITH", "JOIN", "LEFT",
    "INNER", "RIGHT", "FULL", "CROSS", "ON", "AS", "ASC", "DESC", "MATCH_RECOGNIZE",
    "UNION", "INTERSECT", "EXCEPT", "THEN", "ELSE", "END", "WHEN", "PARTITION", "BY",
    "MEASURES", "PATTERN", "DEFINE", "WITHIN", "SUBSET", "AFTER", "ONE", "ALL", "ROWS",
    "PER", "TRIGGER", "HAVING")

  private val windowFnNames =
    Set("tumblingwindow", "slidingwindow", "countingwindow", "sessionwindow")

  // ------------------------------------------------------------------ query
  def parseQuery(): Query = {
    expectKw("SELECT")
    val distinct = acceptKw("DISTINCT")
    val items = parseSelectItems()
    expectKw("FROM")
    val from = parseIdentName()
    val fromAlias =
      if (cur.kind == IdentTok && !isClauseStart(cur) && !cur.isKw("MATCH_RECOGNIZE"))
        Some(advance().text)
      else None

    val joins = scala.collection.mutable.ListBuffer[JoinClause]()
    while (cur.isKw("JOIN") || cur.isKw("LEFT") || cur.isKw("INNER")) {
      joins += parseJoin()
    }

    val mr = if (acceptKw("MATCH_RECOGNIZE")) Some(parseMatchRecognize()) else None

    val where = if (acceptKw("WHERE")) Some(parseExpr()) else None

    var groupBy = List.empty[SqlExpr]
    var window: Option[WindowSpec] = None
    var groupStyle = "plain"
    if (acceptKw("GROUP")) {
      expectKw("BY")
      // GROUP BY ROLLUP(a, b) / CUBE(a, b) — Spark-first extension
      if (cur.kind == IdentTok && Set("rollup", "cube").contains(cur.text.toLowerCase)
          && peek(1).is("(")) {
        groupStyle = advance().text.toLowerCase
        expectPunct("(")
        val keys = scala.collection.mutable.ListBuffer[SqlExpr]()
        while (!cur.is(")")) {
          keys += parseExpr()
          if (!cur.is(")")) expectPunct(",")
        }
        expectPunct(")")
        groupBy = keys.toList
      } else {
        val (g, w) = parseGroupByItems()
        groupBy = g; window = w
      }
    }

    val having = if (acceptKw("HAVING")) Some(parseExpr()) else None

    var options = Map.empty[String, String]
    if (acceptKw("WITH")) {
      expectPunct("(")
      while (!cur.is(")")) {
        val k = parseIdentName().toUpperCase
        if (!Parser.WithKeys.contains(k))
          fail(s"unknown WITH option '$k' (expected one of ${Parser.WithKeys.mkString(", ")})")
        expectPunct("=")
        val v = cur.kind match {
          case StringTok => advance().text
          case NumberTok => advance().text
          case IdentTok  => advance().text
          case _         => fail("expected option value")
        }
        options += (k -> v)
        if (!cur.is(")")) expectPunct(",")
      }
      expectPunct(")")
    }

    val orderBy = if (acceptKw("ORDER")) { expectKw("BY"); parseOrderItems() } else Nil

    val limit = if (acceptKw("LIMIT")) {
      val t = cur
      if (t.kind != NumberTok) fail("expected LIMIT count")
      advance()
      val v = t.text.toLong
      if (v < 0) fail("negative LIMIT")
      Some(v.toInt)
    } else None

    // set-operation keywords end this SELECT; parseStatement consumes them
    if (cur.kind != EofTok &&
        !(cur.isKw("UNION") || cur.isKw("INTERSECT") || cur.isKw("EXCEPT")))
      fail("unexpected trailing input")

    Query(distinct, items, from, fromAlias, joins.toList, mr, where, groupBy, window,
      having, options, orderBy, limit, groupStyle)
  }

  private def isClauseStart(t: Token): Boolean =
    t.kind == IdentTok && clauseKws.contains(t.upper)

  private def parseIdentName(): String = {
    if (cur.kind != IdentTok) fail("expected identifier")
    advance().text
  }

  // ----------------------------------------------------------- select items
  private def parseSelectItems(): List[SelectItem] = {
    val items = scala.collection.mutable.ListBuffer[SelectItem]()
    var done = false
    while (!done) {
      val e = parseExpr()
      val alias =
        if (acceptKw("AS")) Some(parseIdentName())
        else if (cur.kind == IdentTok && !isClauseStart(cur)) Some(advance().text)
        else None
      items += SelectItem(e, alias)
      if (!acceptPunct(",")) done = true
    }
    items.toList
  }

  private def parseOrderItems(): List[OrderItem] = {
    val items = scala.collection.mutable.ListBuffer[OrderItem]()
    var done = false
    while (!done) {
      val e = parseExpr()
      val asc =
        if (acceptKw("DESC")) false
        else { acceptKw("ASC"); true }
      items += OrderItem(e, asc)
      if (!acceptPunct(",")) done = true
    }
    items.toList
  }

  // -------------------------------------------------------------- group by
  /** GROUP BY items; window-typed entries become the WindowSpec
    * (reference: rsql/parser.go:557-600 — window funcs appear as GROUP BY items). */
  private def parseGroupByItems(): (List[SqlExpr], Option[WindowSpec]) = {
    val keys = scala.collection.mutable.ListBuffer[SqlExpr]()
    var window: Option[WindowSpec] = None
    var done = false
    while (!done) {
      if (cur.isKw("GLOBAL")) {
        advance(); expectKw("WINDOW")
        val trig =
          if (acceptKw("TRIGGER")) { expectKw("WHEN"); Some(parseExpr()) } else None
        window = Some(GlobalWindow(trig))
      } else if (cur.kind == IdentTok && windowFnNames.contains(cur.text.toLowerCase)
          && peek(1).is("(")) {
        val name = advance().text.toLowerCase
        expectPunct("(")
        val args = scala.collection.mutable.ListBuffer[SqlExpr]()
        while (!cur.is(")")) {
          args += parseExpr()
          if (!cur.is(")")) expectPunct(",")
        }
        expectPunct(")")
        def dur(e: SqlExpr): Long = e match {
          case StringLit(s) => Durations.toMillis(s)
          case NumberLit(t) => t.toDouble.toLong * 1000 // bare number = seconds
          case _            => fail(s"expected duration literal in $name")
        }
        var spec: WindowSpec = name match {
          case "tumblingwindow" => TumblingWindow(dur(args.head))
          case "slidingwindow"  => SlidingWindow(dur(args(0)), dur(args(1)))
          case "sessionwindow"  => SessionWindow(dur(args.head))
          case "countingwindow" =>
            CountingWindow(args.head.asInstanceOf[NumberLit].toLong.toInt)
        }
        // CountingWindow(n) OVER (WHEN cond)  (reference: rsql/parser.go:601-665)
        if (cur.isKw("OVER")) {
          advance(); expectPunct("(")
          expectKw("WHEN")
          val cond = parseExpr()
          expectPunct(")")
          spec = spec match {
            case cw: CountingWindow => cw.copy(when = Some(cond))
            case other              => other
          }
        }
        window = Some(spec)
      } else {
        keys += parseExpr()
      }
      if (!acceptPunct(",")) done = true
    }
    (keys.toList, window)
  }

  // ------------------------------------------------------------------ joins
  private def parseJoin(): JoinClause = {
    val joinType =
      if (acceptKw("LEFT")) { acceptKw("OUTER"); expectKw("JOIN"); "left_outer" }
      else if (acceptKw("INNER")) { expectKw("JOIN"); "inner" }
      else { expectKw("JOIN"); "inner" }
    val table = parseIdentName()
    val alias =
      if (acceptKw("AS")) Some(parseIdentName())
      else if (cur.kind == IdentTok && !cur.isKw("ON")) Some(advance().text)
      else None
    expectKw("ON")
    val on = parseExpr()
    JoinClause(joinType, table, alias, on)
  }

  // ------------------------------------------------------- MATCH_RECOGNIZE
  private def parseMatchRecognize(): MatchRecognize = {
    expectPunct("(")
    var partitionBy = List.empty[SqlExpr]
    var orderBy = List.empty[OrderItem]
    var measures = List.empty[SelectItem]
    var allRows = false
    var afterMatch: AfterMatch = AfterMatch.PastLastRow
    var pattern: Option[PatternNode] = None
    var subsets = Map.empty[String, List[String]]
    var defines = Map.empty[String, SqlExpr]
    var withinMs = 3600000L // reference default 1h (types/match_recognize.go:106-107)

    if (acceptKw("PARTITION")) {
      expectKw("BY")
      val b = scala.collection.mutable.ListBuffer[SqlExpr]()
      b += parseExpr()
      while (acceptPunct(",")) b += parseExpr()
      partitionBy = b.toList
    }
    if (acceptKw("ORDER")) {
      expectKw("BY")
      orderBy = parseOrderItems()
    }
    if (acceptKw("MEASURES")) {
      val b = scala.collection.mutable.ListBuffer[SelectItem]()
      var done = false
      while (!done) {
        // RUNNING/FINAL semantic modifier on an aggregate measure
        // (SQL:2016; reference cep/eval.go RUNNING vs FINAL) — wrapped as
        // a marker call the evaluator unwraps
        val mode =
          if (cur.kind == IdentTok && Set("RUNNING", "FINAL").contains(cur.upper) &&
            peek(1).kind == IdentTok && peek(2).is("("))
            Some(advance().upper.toLowerCase)
          else None
        val e0 = parseExpr()
        val e = mode.map(m => FuncCall(m, List(e0))).getOrElse(e0)
        val alias = if (acceptKw("AS")) Some(parseIdentName()) else None
        b += SelectItem(e, alias)
        if (!acceptPunct(",")) done = true
      }
      measures = b.toList
    }
    if (acceptKw("ONE")) { expectKw("ROW"); expectKw("PER"); expectKw("MATCH"); allRows = false }
    else if (acceptKw("ALL")) { expectKw("ROWS"); expectKw("PER"); expectKw("MATCH"); allRows = true }
    if (acceptKw("AFTER")) {
      expectKw("MATCH"); expectKw("SKIP")
      if (acceptKw("PAST")) { expectKw("LAST"); expectKw("ROW"); afterMatch = AfterMatch.PastLastRow }
      else if (acceptKw("TO")) {
        if (acceptKw("NEXT")) { expectKw("ROW"); afterMatch = AfterMatch.ToNextRow }
        else if (acceptKw("FIRST")) afterMatch = AfterMatch.ToFirst(parseIdentName())
        else if (acceptKw("LAST")) afterMatch = AfterMatch.ToLast(parseIdentName())
        else fail("bad AFTER MATCH SKIP")
      } else fail("bad AFTER MATCH SKIP")
    }
    if (acceptKw("PATTERN")) {
      expectPunct("(")
      pattern = Some(parsePattern())
      expectPunct(")")
    }
    if (acceptKw("SUBSET")) {
      var done = false
      while (!done) {
        val name = parseIdentName()
        expectPunct("=")
        expectPunct("(")
        val syms = scala.collection.mutable.ListBuffer[String]()
        syms += parseIdentName()
        while (acceptPunct(",")) syms += parseIdentName()
        expectPunct(")")
        subsets += (name -> syms.toList)
        if (!(cur.kind == IdentTok && peek(1).is("="))) done = true
      }
    }
    if (acceptKw("WITHIN")) {
      val t = cur
      if (t.kind != StringTok) fail("expected WITHIN duration string")
      advance()
      withinMs = Durations.toMillis(t.text)
    }
    if (acceptKw("DEFINE")) {
      var done = false
      while (!done) {
        val sym = parseIdentName()
        expectKw("AS")
        val cond = parseExpr()
        defines += (sym -> cond)
        if (!acceptPunct(",")) done = true
      }
    }
    // WITHIN may also come after DEFINE in some writings; accept either order
    if (acceptKw("WITHIN")) {
      val t = cur
      if (t.kind != StringTok) fail("expected WITHIN duration string")
      advance()
      withinMs = Durations.toMillis(t.text)
    }
    expectPunct(")")
    MatchRecognize(partitionBy, orderBy, measures, allRows, afterMatch, pattern,
      subsets, defines, withinMs)
  }

  /** PATTERN body: sequence of alternation of quantified atoms.
    * (reference: cep/pattern.go — quantifiers ? * + {n} {n,} {n,m}, reluctant '?',
    * alternation '|', grouping, PERMUTE; exclusion {- -} unsupported there too.) */
  private def parsePattern(): PatternNode = parseAlt()

  private def parseAlt(): PatternNode = {
    val parts = scala.collection.mutable.ListBuffer[PatternNode]()
    parts += parseSeq()
    while (acceptPunct("|")) parts += parseSeq()
    if (parts.size == 1) parts.head else Pattern.Alt(parts.toList)
  }

  private def parseSeq(): PatternNode = {
    val parts = scala.collection.mutable.ListBuffer[PatternNode]()
    while (!cur.is(")") && !cur.is("|") && !cur.is(",") && cur.kind != EofTok) {
      parts += parseQuantified()
    }
    if (parts.size == 1) parts.head else Pattern.Seq(parts.toList)
  }

  private def parseQuantified(): PatternNode = {
    var atom: PatternNode =
      if (acceptPunct("(")) { val p = parseAlt(); expectPunct(")"); p }
      else if (cur.isKw("PERMUTE")) {
        advance(); expectPunct("(")
        val parts = scala.collection.mutable.ListBuffer[PatternNode]()
        parts += parseAlt()
        while (acceptPunct(",")) parts += parseAlt()
        expectPunct(")")
        Pattern.Permute(parts.toList)
      } else if (cur.is("{-")) {
        fail("pattern exclusion {- -} is unsupported") // matches reference cep/pattern.go:9-11
      } else Pattern.Sym(parseIdentName())

    var done = false
    while (!done) {
      if (acceptPunct("?")) {
        atom = atom match {
          case Pattern.Quant(c, mn, mx, true) => Pattern.Quant(c, mn, mx, greedy = false)
          case _ => Pattern.Quant(atom, 0, 1, greedy = true)
        }
      } else if (acceptPunct("*")) atom = Pattern.Quant(atom, 0, -1, greedy = true)
      else if (acceptPunct("+")) atom = Pattern.Quant(atom, 1, -1, greedy = true)
      else if (cur.is("{")) {
        advance()
        val mn = cur.kind match {
          case NumberTok => advance().text.toInt
          case _         => fail("expected quantifier bound")
        }
        var mx = mn
        if (acceptPunct(",")) {
          mx = if (cur.kind == NumberTok) advance().text.toInt else -1
        }
        expectPunct("}")
        atom = Pattern.Quant(atom, mn, mx, greedy = true)
      } else done = true
    }
    atom
  }

  // ------------------------------------------------------------ expressions
  // Precedence: OR < AND < NOT < comparison/IS/LIKE/IN/BETWEEN < add < mul < unary < postfix
  def parseExpr(): SqlExpr = parseOr()

  private def parseOr(): SqlExpr = {
    var l = parseAnd()
    while (cur.isKw("OR") || cur.is("||")) { advance(); l = BinOp("or", l, parseAnd()) }
    l
  }

  private def parseAnd(): SqlExpr = {
    var l = parseNot()
    while (cur.isKw("AND") || cur.is("&&")) { advance(); l = BinOp("and", l, parseNot()) }
    l
  }

  private def parseNot(): SqlExpr =
    if (acceptKw("NOT")) UnaryOp("not", parseNot()) else parseComparison()

  private def parseComparison(): SqlExpr = {
    var l = parseAdditive()
    var done = false
    while (!done) {
      if (cur.is("=") || cur.is("==")) { advance(); l = BinOp("=", l, parseAdditive()) }
      else if (cur.is("!=") || cur.is("<>")) { advance(); l = BinOp("!=", l, parseAdditive()) }
      else if (cur.is("<=")) { advance(); l = BinOp("<=", l, parseAdditive()) }
      else if (cur.is(">=")) { advance(); l = BinOp(">=", l, parseAdditive()) }
      else if (cur.is("<")) { advance(); l = BinOp("<", l, parseAdditive()) }
      else if (cur.is(">")) { advance(); l = BinOp(">", l, parseAdditive()) }
      else if (cur.isKw("IS")) {
        advance()
        val neg = acceptKw("NOT")
        expectKw("NULL")
        l = IsNullExpr(l, neg)
      } else if (cur.isKw("LIKE")) {
        advance(); l = LikeExpr(l, parseAdditive(), negated = false)
      } else if (cur.isKw("NOT") && peek(1).isKw("LIKE")) {
        advance(); advance(); l = LikeExpr(l, parseAdditive(), negated = true)
      } else if (cur.isKw("NOT") && peek(1).isKw("IN")) {
        advance(); advance(); l = parseInTail(l, negated = true)
      } else if (cur.isKw("IN")) {
        advance(); l = parseInTail(l, negated = false)
      } else if (cur.isKw("NOT") && peek(1).isKw("BETWEEN")) {
        advance(); advance()
        val lo = parseAdditive(); expectKw("AND"); val hi = parseAdditive()
        l = BetweenExpr(l, lo, hi, negated = true)
      } else if (cur.isKw("BETWEEN")) {
        advance()
        val lo = parseAdditive(); expectKw("AND"); val hi = parseAdditive()
        l = BetweenExpr(l, lo, hi, negated = false)
      } else done = true
    }
    l
  }

  private def parseInTail(l: SqlExpr, negated: Boolean): SqlExpr = {
    expectPunct("(")
    val items = scala.collection.mutable.ListBuffer[SqlExpr]()
    items += parseExpr()
    while (acceptPunct(",")) items += parseExpr()
    expectPunct(")")
    InExpr(l, items.toList, negated)
  }

  private def parseAdditive(): SqlExpr = {
    var l = parseMultiplicative()
    while (cur.is("+") || cur.is("-")) {
      val op = advance().text
      l = BinOp(op, l, parseMultiplicative())
    }
    l
  }

  private def parseMultiplicative(): SqlExpr = {
    var l = parseUnary()
    while (cur.is("*") || cur.is("/") || cur.is("%")) {
      val op = advance().text
      l = BinOp(op, l, parseUnary())
    }
    l
  }

  private def parseUnary(): SqlExpr =
    if (acceptPunct("-")) UnaryOp("-", parseUnary())
    else if (acceptPunct("+")) parseUnary()
    else if (acceptPunct("!")) UnaryOp("not", parseUnary())
    else parsePrimary()

  private def parsePrimary(): SqlExpr = {
    val t = cur
    t.kind match {
      case NumberTok => advance(); NumberLit(t.text)
      case StringTok => advance(); StringLit(t.text)
      case PunctTok if t.text == "(" =>
        advance()
        val e = parseExpr()
        expectPunct(")")
        e
      case PunctTok if t.text == "*" =>
        advance(); Star
      case IdentTok =>
        if (t.isKw("CASE")) parseCase()
        else if (t.isKw("NULL") || t.isKw("NIL")) { advance(); NullLit }
        else if (t.isKw("TRUE")) { advance(); BoolLit(true) }
        else if (t.isKw("FALSE")) { advance(); BoolLit(false) }
        else if (peek(1).is("(")) parseFuncCall()
        else parseIdentPath()
      case _ => fail("expected expression")
    }
  }

  private def parseCase(): SqlExpr = {
    expectKw("CASE")
    val operand = if (!cur.isKw("WHEN")) Some(parseExpr()) else None
    val branches = scala.collection.mutable.ListBuffer[(SqlExpr, SqlExpr)]()
    while (acceptKw("WHEN")) {
      val c = parseExpr()
      expectKw("THEN")
      val v = parseExpr()
      branches += ((c, v))
    }
    val otherwise = if (acceptKw("ELSE")) Some(parseExpr()) else None
    expectKw("END")
    CaseWhen(operand, branches.toList, otherwise)
  }

  private def parseFuncCall(): SqlExpr = {
    val name = advance().text
    expectPunct("(")
    var distinct = false
    val args = scala.collection.mutable.ListBuffer[SqlExpr]()
    if (!cur.is(")")) {
      distinct = acceptKw("DISTINCT")
      args += parseExpr()
      while (acceptPunct(",")) args += parseExpr()
    }
    expectPunct(")")
    val over = if (cur.isKw("OVER")) { advance(); Some(parseOverClause()) } else None
    FuncCall(name, args.toList, over, distinct)
  }

  private def parseOverClause(): OverClause = {
    expectPunct("(")
    var partitionBy = List.empty[SqlExpr]
    var orderBy = List.empty[OrderItem]
    var when: Option[SqlExpr] = None
    if (acceptKw("PARTITION")) {
      expectKw("BY")
      val b = scala.collection.mutable.ListBuffer[SqlExpr]()
      b += parseExpr()
      while (acceptPunct(",")) b += parseExpr()
      partitionBy = b.toList
    }
    if (acceptKw("ORDER")) { // Spark-first extension; reference rejects this
      expectKw("BY")
      orderBy = parseOrderItems()
    }
    if (acceptKw("WHEN")) when = Some(parseExpr())
    expectPunct(")")
    OverClause(partitionBy, orderBy, when)
  }

  /** Dotted path with optional subscripts per segment: `a[0]`, `a[-1]`
    * (from the end), `m['key']` / `m["key"]` (map lookup), `x[2][1]`
    * (reference: docs/NESTED_FIELD_ACCESS.md). */
  private def parseIdentPath(): SqlExpr = {
    val segs = scala.collection.mutable.ListBuffer[Ident.Seg]()
    def seg(): Unit = {
      val name = parseIdentName()
      val idx = scala.collection.mutable.ListBuffer[Ident.Idx]()
      while (cur.is("[")) {
        advance()
        val neg = cur.is("-") && { advance(); true }
        cur.kind match {
          case NumberTok =>
            val n = advance().text.toInt
            idx += Ident.IntIdx(if (neg) -n else n)
          case StringTok if !neg => idx += Ident.KeyIdx(advance().text)
          case _ => fail("expected array index or map key")
        }
        expectPunct("]")
      }
      segs += Ident.Seg(name, idx.toList)
    }
    seg()
    while (cur.is(".") && peek(1).kind == IdentTok) { advance(); seg() }
    Ident(segs.toList)
  }
}

object Parser {
  /** The `WITH (...)` keys the engine reads; any other key is a parse error,
    * so a misspelled option fails instead of silently doing nothing. */
  val WithKeys: List[String] = List("TIMESTAMP", "TIMEUNIT", "TIEBREAK",
    "MAXOUTOFORDERNESS", "ALLOWEDLATENESS", "IDLETIMEOUT", "STATETTL")

  /** Single-query entry point — rejects set-operation statements (use
    * [[parseStatement]]) instead of silently truncating at the keyword. */
  def parse(sql: String): Query = {
    val p = new Parser(Lexer.tokenize(sql))
    val q = p.parseQuery()
    if (p.cur.kind != EofTok)
      throw new ParseException(
        s"unexpected trailing input at '${p.cur.text}' — set-operation " +
          "statements go through Parser.parseStatement / GraftEngine.sql")
    q
  }

  /** Statement = query (UNION|INTERSECT|EXCEPT [ALL] query)*. */
  def parseStatement(sql: String): Statement = {
    val p = new Parser(Lexer.tokenize(sql))
    val head = p.parseQuery()
    val ops = scala.collection.mutable.ListBuffer[Statement.SetOpPart]()
    while (p.cur.isKw("UNION") || p.cur.isKw("INTERSECT") || p.cur.isKw("EXCEPT")) {
      val op = p.advance().text.toUpperCase
      val all = p.acceptKw("ALL")
      ops += Statement.SetOpPart(op, all, p.parseQuery())
    }
    Statement(head, ops.toList)
  }
  def parseExpression(s: String): SqlExpr = {
    val p = new Parser(Lexer.tokenize(s))
    p.parseExpr()
  }
}
