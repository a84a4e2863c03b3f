package graft.parser

/** Recursive-descent parser for PQL with precedence-climbing
  * expressions.
  *
  * Grammar follows the reference language
  * (/root/reference/parser/parser.go:139-1220): a pipeline is
  * `Table | op | op ...`; operator precedence (low→high) is
  * `or < and < comparisons/in < additive < multiplicative`.
  */
object Parser {

  /** Parse a full source text into statements (`let` bindings and at
    * most one tabular query per statement, `;`-separated).
    */
  def parse(source: String): List[Statement] = {
    val stmts = new Parser(source, Lexer.scan(source)).parseProgram()
    checkDepth(stmts, source)
    stmts
  }

  private[parser] val joinFlavors = Set("inner", "innerunique", "leftouter")
  /** graft extension join flavors (not in the reference grammar). */
  private[parser] val extJoinFlavors = Set("asof", "range")
  private[parser] val dedupKinds =
    Set("exact", "lines", "substrings", "minhash", "simhash", "embed", "semantic")
  private[parser] val dedupOptions = Set("dim", "cells", "cos", "occupancy", "planes", "bits")
  private[parser] val decontamOptions = Set("hits", "ngram")
  private[parser] val packOptions = Set("shards")
  private[parser] val sampleBudgetOptions = Set("budget", "bits")
  private[parser] val annKinds = Set("brute", "lsh", "ivf")
  private[parser] val annOptions = Set("k", "dim", "cells", "probes", "planes", "bits", "occupancy")

  /** Deepest nesting the parser accepts, in levels: the i-th stage of
    * a pipeline sits i levels below its table; every expression node,
    * and every pipeline an operator holds, one level below its parent.
    * That is the depth of the Spark plan and Column trees both
    * compilers build. Every walker over them (the compilers, [[Walk]],
    * Catalyst) recurses once per level, so an unbounded input (`((((…`
    * or `a + 1 + 1 + …` ten thousand deep, a pipeline of ten thousand
    * stages) would overflow the JVM stack instead of raising a
    * PqlParseException. The bound is lower than the stack needs:
    * Spark's analyzer casts an arithmetic chain with mixed operand
    * types one level per iteration of its 100-iteration resolution
    * batch, so such a chain about 97 deep fails analysis with a plain
    * RuntimeException. `and`/`or` chains are built balanced (see
    * `binaryTrail`), so a long disjunction costs only log2 of its
    * length.
    */
  val MaxNesting = 64

  /** Fails on the first node nested deeper than [[MaxNesting]] levels.
    * The parser only recurses into brackets and sub-pipelines (bounded
    * by `nested`); pipeline stages and operator chains it builds in
    * loops, so their depth is checked here, iteratively.
    */
  private def checkDepth(stmts: List[Statement], source: String): Unit = {
    val todo = scala.collection.mutable.Stack[(Node, Int)]()
    stmts.foreach(s => todo.push(s -> 0))
    while (todo.nonEmpty) {
      val (node, level) = todo.pop()
      if (level > MaxNesting) {
        val span = node match {
          case b: BinaryExpr => b.opSpan // BinaryExpr.span recurses down the chain
          case n             => n.span
        }
        throw new PqlParseException(s"nesting deeper than $MaxNesting levels", span, source)
      }
      node match {
        case t: TabularExpr =>
          t.operators.iterator.zipWithIndex.foreach { case (op, i) => todo.push(op -> (level + i + 1)) }
        case n =>
          Walk.children(n).foreach {
            case c @ (_: Expr | _: TabularExpr) => todo.push(c -> (level + 1))
            case c                              => todo.push(c -> level)
          }
      }
    }
  }
}

private final class Parser(source: String, tokens: Vector[Token]) {
  import TokenKind._

  private var pos = 0
  /** Expressions and sub-pipelines currently open (see MaxNesting). */
  private var depth = 0

  // ---- token helpers -------------------------------------------------

  private def fail(msg: String, span: Span): Nothing =
    throw new PqlParseException(msg, span, source)

  private def eofSpan: Span = Span.at(source.length)

  private def hasNext: Boolean = pos < tokens.length

  private def peek: Option[Token] = if (hasNext) Some(tokens(pos)) else None

  private def next(): Token = {
    if (!hasNext) fail("unexpected EOF", eofSpan)
    val t = tokens(pos)
    pos += 1
    t
  }

  private def describe(t: Token): String = t.kind match {
    case Identifier       => s"'${t.value}'"
    case QuotedIdentifier => s"quoted identifier '${t.value}'"
    case Number           => s"number ${t.value}"
    case Str              => "string"
    case k                => k.display
  }

  private def expect(kind: TokenKind, what: String): Token = peek match {
    case Some(t) if t.kind == kind => next()
    case Some(t)                   => fail(s"expected $what, got ${describe(t)}", t.span)
    case None                      => fail(s"expected $what, got EOF", eofSpan)
  }

  private def at(kind: TokenKind): Boolean = peek.exists(_.kind == kind)

  private def atKeywordIdent(name: String): Boolean =
    peek.exists(t => t.kind == Identifier && t.value == name)

  /** End of an operator clause: the next token must start a new pipe
    * stage or close the enclosing context.
    */
  private def atClauseEnd: Boolean = peek match {
    case None    => true
    case Some(t) => t.kind == Pipe || t.kind == RParen || t.kind == Semi
  }

  private def nested[A](body: => A): A = {
    if (depth >= Parser.MaxNesting)
      fail(s"nesting deeper than ${Parser.MaxNesting} levels", peek.map(_.span).getOrElse(eofSpan))
    depth += 1
    try body
    finally depth -= 1
  }

  private def requireClauseEnd(): Unit =
    if (!atClauseEnd) {
      val t = tokens(pos)
      fail(s"unexpected ${describe(t)}", t.span)
    }

  // ---- statements ----------------------------------------------------

  def parseProgram(): List[Statement] = {
    val stmts = List.newBuilder[Statement]
    while (hasNext) {
      if (at(Semi)) next()
      else {
        stmts += parseStatement()
        peek match {
          case Some(t) if t.kind == Semi => next()
          case Some(t)                   => fail(s"unexpected ${describe(t)}", t.span)
          case None                      =>
        }
      }
    }
    val out = stmts.result()
    if (out.isEmpty) fail("empty query", eofSpan)
    out
  }

  private def parseStatement(): Statement =
    if (atKeywordIdent("let")) parseLet() else parseTabularExpr()

  private def parseLet(): LetStatement = {
    val kw = next() // 'let'
    val name = parseIdent("identifier after 'let'")
    expect(Assign, "'='")
    val x = parseExpr()
    LetStatement(name, x, kw.span.union(x.span))
  }

  // ---- tabular expressions -------------------------------------------

  private def parseTabularExpr(): TabularExpr = nested {
    val table = parseIdent("table name")
    val ops = List.newBuilder[TabularOperator]
    while (at(Pipe)) {
      val pipe = next()
      val opTok = peek match {
        case Some(t) if t.kind == Identifier => next()
        case Some(t) => fail(s"expected operator name, got ${describe(t)}", t.span)
        case None    => fail("missing operator name after pipe", pipe.span)
      }
      ops += parseOperator(pipe, opTok)
      requireClauseEnd()
    }
    TabularExpr(TableRef(table), ops.result())
  }

  private def parseOperator(pipe: Token, opTok: Token): TabularOperator = {
    val start = pipe.span
    def spanTo(end: Span): Span = start.union(end)
    opTok.value match {
      case "count" => CountOp(spanTo(opTok.span))
      case "where" | "filter" =>
        val p = parseExpr()
        WhereOp(p, spanTo(p.span))
      case "sort" | "order" =>
        expectKeywordIdentOr(By, "'by'")
        val terms = parseSortTerms()
        SortOp(terms, spanTo(terms.last.x.span))
      case "take" | "limit" =>
        val n = parseRowCount()
        TakeOp(n, spanTo(n.span))
      case "top" =>
        val n = parseRowCount()
        expectKeywordIdentOr(By, "'by'")
        val term = parseSortTerm()
        TopOp(n, term, spanTo(term.x.span))
      case "project" =>
        val cols = parseProjectColumns()
        ProjectOp(cols, spanTo(opTok.span))
      case "extend" =>
        val cols = parseComputedColumns()
        ExtendOp(cols, spanTo(opTok.span))
      case "summarize" =>
        parseSummarize(spanTo(opTok.span))
      case "join" =>
        parseJoin(spanTo(opTok.span))
      case "as" =>
        val name = parseIdent("name after 'as'")
        AsOp(name, spanTo(name.span))
      case "render" =>
        parseRender(spanTo(opTok.span))
      // graft extensions (not in the reference grammar) ----------------
      case "dedup" =>
        var kind = "exact"
        // kind is only taken when 'kind' is immediately followed by
        // '=': a text column literally named `kind` still parses with
        // the default kind (`D | dedup kind by doc_id`).
        if (atAssignedIdent("kind")) {
          next()
          expect(Assign, "'='")
          val f = peek match {
            case Some(t) if t.kind == Identifier => next()
            case Some(t) => fail(s"expected dedup kind, got ${describe(t)}", t.span)
            case None    => fail("expected dedup kind, got EOF", eofSpan)
          }
          if (!Parser.dedupKinds.contains(f.value))
            fail(
              s"expected dedup kind (one of ${Parser.dedupKinds.toList.sorted.mkString(", ")}), got ${f.value}",
              f.span
            )
          kind = f.value
        }
        val opts = parseOpOptions(Parser.dedupOptions)
        val text = parseIdent("text column")
        expectKeywordIdentOr(By, "'by'")
        val id = parseIdent("id column")
        DedupOp(kind, opts, text, id, spanTo(id.span))
      case "sample" =>
        // `budget=` selects the token-budget form; it is only taken
        // when immediately followed by '=' (same two-token lookahead
        // as dedup's `kind`), so a rate can still follow a column
        // literally named budget elsewhere in the pipeline.
        if (atAssignedIdent("budget")) {
          val opts = parseOpOptions(Parser.sampleBudgetOptions)
          val text = parseIdent("text column")
          expectKeywordIdentOr(By, "'by'")
          val id = parseIdent("id column")
          expect(Comma, "','")
          val strata = parseIdent("strata column")
          SampleBudgetOp(opts, text, id, strata, spanTo(strata.span))
        } else {
          val rate = peek match {
            case Some(t) if t.kind == Number => next()
            case Some(t) => fail(s"expected literal sample rate, got ${describe(t)}", t.span)
            case None    => fail("expected literal sample rate, got EOF", eofSpan)
          }
          expectKeywordIdentOr(By, "'by'")
          val id = parseIdent("id column")
          SampleOp(rate.value, rate.span, id, spanTo(id.span))
        }
      case "ann" =>
        // `ann [kind=brute|lsh|ivf] [opts] (Queries) on VecCol by IdCol`
        // — kind only taken when literally followed by '=' (same
        // lookahead as dedup's), so a query named `kind` still parses.
        var annKind = "brute"
        if (atAssignedIdent("kind")) {
          next()
          expect(Assign, "'='")
          val f = peek match {
            case Some(t) if t.kind == Identifier => next()
            case Some(t) => fail(s"expected ann kind, got ${describe(t)}", t.span)
            case None    => fail("expected ann kind, got EOF", eofSpan)
          }
          if (!Parser.annKinds.contains(f.value))
            fail(
              s"expected ann kind (one of ${Parser.annKinds.toList.sorted.mkString(", ")}), got ${f.value}",
              f.span
            )
          annKind = f.value
        }
        val aOpts = parseOpOptions(Parser.annOptions)
        val aRight = parseJoinRight()
        val aVec = parseIdent("vector column")
        expectKeywordIdentOr(By, "'by'")
        val aId = parseIdent("id column")
        AnnOp(annKind, aOpts, aRight, aVec, aId, spanTo(aId.span))
      case "decontam" =>
        // `decontam against (EvalPipeline) [hits=n] [ngram=n] Text by Id`
        peek match {
          case Some(t) if t.kind == Identifier && t.value == "against" => next()
          case Some(t) => fail(s"expected 'against', got ${describe(t)}", t.span)
          case None    => fail("expected 'against', got EOF", eofSpan)
        }
        expect(LParen, "'('")
        val eval = parseTabularExpr()
        expect(RParen, "')'")
        val dOpts = parseOpOptions(Parser.decontamOptions)
        val dText = parseIdent("text column")
        expectKeywordIdentOr(By, "'by'")
        val dId = parseIdent("id column")
        DecontamOp(eval, dOpts, dText, dId, spanTo(dId.span))
      case "chunk" =>
        val n = parseRowCount()
        val cText = parseIdent("text column")
        expectKeywordIdentOr(By, "'by'")
        val cId = parseIdent("id column")
        ChunkOp(n, cText, cId, spanTo(cId.span))
      case "pack" =>
        val budget = parseRowCount()
        val pOpts = parseOpOptions(Parser.packOptions)
        val tokens = parseIdent("tokens column")
        expectKeywordIdentOr(By, "'by'")
        val pId = parseIdent("id column")
        expect(Comma, "','")
        val pIdx = parseIdent("chunk index column")
        PackOp(budget, pOpts, tokens, pId, pIdx, spanTo(pIdx.span))
      case other =>
        fail(s"unknown operator name \"$other\"", opTok.span)
    }
  }

  /** The next token is the keyword-identifier `name` IMMEDIATELY
    * followed by `=` — the two-token lookahead that lets a column
    * literally named like an option/`kind` still parse as a column.
    */
  private def atAssignedIdent(name: String): Boolean =
    atKeywordIdent(name) && pos + 1 < tokens.length && tokens(pos + 1).kind == Assign

  /** Zero or more literal `name=<number>` options from `allowed`
    * (extension operators: `dim=64 cos=0.4` …). Each name is consumed
    * only when `=` follows, so option names never shadow column names.
    */
  private def parseOpOptions(allowed: Set[String]): List[OpOption] = {
    val out = List.newBuilder[OpOption]
    var continue = true
    while (continue) {
      peek match {
        case Some(t) if t.kind == Identifier && allowed.contains(t.value) &&
            pos + 1 < tokens.length && tokens(pos + 1).kind == Assign =>
          val name = parseIdent("option name")
          next() // '='
          val v = peek match {
            case Some(n) if n.kind == Number => next()
            case Some(n) => fail(s"expected number for option ${name.name}, got ${describe(n)}", n.span)
            case None    => fail(s"expected number for option ${name.name}, got EOF", eofSpan)
          }
          out += OpOption(name, v.value, v.span)
        case _ => continue = false
      }
    }
    out.result()
  }

  private def expectKeywordIdentOr(kind: TokenKind, what: String): Unit = peek match {
    case Some(t) if t.kind == kind => next(); ()
    case Some(t)                   => fail(s"expected $what, got ${describe(t)}", t.span)
    case None                      => fail(s"expected $what, got EOF", eofSpan)
  }

  private def parseSortTerms(): List[SortTerm] = {
    val terms = List.newBuilder[SortTerm]
    terms += parseSortTerm()
    while (at(Comma)) { next(); terms += parseSortTerm() }
    terms.result()
  }

  private def parseSortTerm(): SortTerm = {
    val x = parseExpr()
    // Defaults: descending, nulls last. `asc` flips to nulls first.
    var asc = false
    var nullsFirst = false
    peek match {
      case Some(t) if t.kind == Identifier && t.value == "asc" =>
        next(); asc = true; nullsFirst = true
      case Some(t) if t.kind == Identifier && t.value == "desc" =>
        next()
      case _ =>
    }
    if (atKeywordIdent("nulls")) {
      val nullsTok = next()
      peek match {
        case Some(t) if t.kind == Identifier && t.value == "first" => next(); nullsFirst = true
        case Some(t) if t.kind == Identifier && t.value == "last"  => next(); nullsFirst = false
        case Some(t) => fail(s"expected 'first' or 'last', got ${describe(t)}", t.span)
        case None    => fail("expected 'first' or 'last', got EOF", nullsTok.span)
      }
    }
    SortTerm(x, asc, nullsFirst)
  }

  private def parseRowCount(): Expr = {
    val x = parseExpr()
    x match {
      case lit: BasicLit if !lit.isInteger =>
        fail(s"expected integer, got ${lit.value}", lit.span)
      case _ =>
    }
    x
  }

  private def parseProjectColumns(): List[ProjectColumn] = {
    val cols = List.newBuilder[ProjectColumn]
    var done = false
    while (!done) {
      val name = parseIdent("column name")
      if (at(Assign)) {
        next()
        cols += ProjectColumn(name, Some(parseExpr()))
      } else cols += ProjectColumn(name, None)
      if (at(Comma)) next() else done = true
    }
    cols.result()
  }

  /** `Name = expr` or a bare expression (for extend/summarize). */
  private def parseComputedColumn(): ComputedColumn = {
    val save = pos
    if (at(Identifier) || at(QuotedIdentifier)) {
      val name = parseIdent("column name")
      if (at(Assign)) {
        next()
        return ComputedColumn(Some(name), parseExpr())
      }
      pos = save
    }
    ComputedColumn(None, parseExpr())
  }

  private def parseComputedColumns(): List[ComputedColumn] = {
    val cols = List.newBuilder[ComputedColumn]
    cols += parseComputedColumn()
    while (at(Comma)) { next(); cols += parseComputedColumn() }
    cols.result()
  }

  private def parseSummarize(span0: Span): SummarizeOp = {
    val aggs =
      if (at(By)) Nil
      else parseComputedColumns()
    val by =
      if (at(By)) { next(); parseComputedColumns() }
      else Nil
    if (aggs.isEmpty && by.isEmpty)
      fail("summarize requires aggregates or a 'by' clause", span0)
    SummarizeOp(aggs, by, span0)
  }

  private def parseJoin(span0: Span): TabularOperator = {
    var flavor = "innerunique"
    if (atKeywordIdent("kind")) {
      next()
      expect(Assign, "'='")
      val f = peek match {
        case Some(t) if t.kind == Identifier => next()
        case Some(t) => fail(s"expected join flavor, got ${describe(t)}", t.span)
        case None    => fail("expected join flavor, got EOF", eofSpan)
      }
      if (!Parser.joinFlavors.contains(f.value) && !Parser.extJoinFlavors.contains(f.value))
        fail(
          s"expected join flavor (one of ${(Parser.joinFlavors ++ Parser.extJoinFlavors).toList.sorted.mkString(", ")}), got ${f.value}",
          f.span
        )
      flavor = f.value
    }
    // graft extension flavors take an optional duration option between
    // the kind and the right side, then an identifier-only `on` list
    // (last column(s) are the time axis — see AsofJoinOp/RangeJoinOp)
    if (flavor == "asof") {
      val tol = parseDurationOption("tolerance")
      val right = parseJoinRight()
      val cols = parseOnIdentList()
      if (cols.length < 2)
        fail("asof join needs at least one key column and a timestamp column", span0)
      AsofJoinOp(right, cols, tol, span0.union(cols.last.span))
    } else if (flavor == "range") {
      val bucket = parseDurationOption("bucket")
      val right = parseJoinRight()
      val cols = parseOnIdentList()
      if (cols.length < 3)
        fail("range join needs a point column and interval start/end columns", span0)
      RangeJoinOp(right, cols, bucket, span0.union(cols.last.span))
    } else {
      val right = parseJoinRight()
      val conds = parseExprList()
      JoinOp(flavor, right, conds, span0)
    }
  }

  /** `(RightPipeline) on` — the shared middle of every join form. */
  private def parseJoinRight(): TabularExpr = {
    expect(LParen, "'('")
    val right = parseTabularExpr()
    expect(RParen, "')'")
    peek match {
      case Some(t) if t.kind == Identifier && t.value == "on" => next()
      case Some(t) => fail(s"expected 'on', got ${describe(t)}", t.span)
      case None    => fail("expected 'on', got EOF", eofSpan)
    }
    right
  }

  /** Optional `name="<duration>"` option (extension join flavors). */
  private def parseDurationOption(name: String): Option[OpOption] =
    if (!atAssignedIdent(name)) None
    else {
      val n = parseIdent("option name")
      next() // '='
      val v = peek match {
        case Some(t) if t.kind == Str => next()
        case Some(t) => fail(s"expected duration string for $name, got ${describe(t)}", t.span)
        case None    => fail(s"expected duration string for $name, got EOF", eofSpan)
      }
      Some(OpOption(n, v.value, v.span))
    }

  /** Comma-separated bare column identifiers after `on`. */
  private def parseOnIdentList(): List[Ident] = {
    val out = List.newBuilder[Ident]
    out += parseIdent("column name")
    while (at(Comma)) { next(); out += parseIdent("column name") }
    out.result()
  }

  private def parseRender(span0: Span): RenderOp = {
    val chartType = parseIdent("chart type after render")
    val props = List.newBuilder[RenderProperty]
    if (atKeywordIdent("with")) {
      next()
      expect(LParen, "'(' after with")
      var done = false
      while (!done) {
        val name = parseIdent("property name")
        expect(Assign, "'=' after property name")
        props += RenderProperty(name, parseExpr())
        peek match {
          case Some(t) if t.kind == RParen => next(); done = true
          case Some(t) if t.kind == Comma  => next()
          case Some(t) => fail(s"expected ',' or ')', got ${describe(t)}", t.span)
          case None    => fail("expected ',' or ')', got EOF", eofSpan)
        }
      }
    }
    RenderOp(chartType, props.result(), span0)
  }

  private def parseIdent(what: String): Ident = peek match {
    case Some(t) if t.kind == Identifier || t.kind == QuotedIdentifier =>
      next()
      Ident(t.value, t.span, quoted = t.kind == QuotedIdentifier)
    case Some(t) => fail(s"expected $what, got ${describe(t)}", t.span)
    case None    => fail(s"expected $what, got EOF", eofSpan)
  }

  // ---- expressions ---------------------------------------------------

  private def parseExprList(): List[Expr] = {
    val out = List.newBuilder[Expr]
    out += parseExpr()
    while (at(Comma)) { next(); out += parseExpr() }
    out.result()
  }

  def parseExpr(): Expr = nested(binaryTrail(parseUnary(), 0))

  private def precedence(kind: TokenKind): Int = kind match {
    case Star | Slash | Mod                          => 4
    case Plus | Minus                                => 3
    case Eq | NE | LT | LE | GT | GE | CiEq | CiNE | In => 2
    case And                                         => 1
    case Or                                          => 0
    case _                                           => -1
  }

  /** Precedence climbing. Operators of one precedence associate to the
    * left, except that a run of `and`s or of `or`s is built as a
    * balanced tree: both are associative, and a balanced tree keeps a
    * long disjunction within [[Parser.MaxNesting]] (Spark's own SQL
    * parser does the same). Runs of up to three terms keep the
    * left-deep shape.
    */
  private def binaryTrail(x0: Expr, minPrecedence: Int): Expr = {
    var x = x0
    // the open and/or run: its operator, operands (x first) and operator spans
    var runOp: TokenKind = null
    val runXs = collection.mutable.ArrayBuffer.empty[Expr]
    val runSpans = collection.mutable.ArrayBuffer.empty[Span]
    def balanced(lo: Int, hi: Int): Expr =
      if (hi - lo == 1) runXs(lo)
      else {
        val mid = (lo + hi + 1) / 2
        BinaryExpr(balanced(lo, mid), runOp, runSpans(mid - 1), balanced(mid, hi))
      }
    def closeRun(): Unit = if (runOp != null) {
      x = balanced(0, runXs.length)
      runOp = null
      runXs.clear()
      runSpans.clear()
    }
    var continue = true
    while (continue && hasNext) {
      val opTok = tokens(pos)
      val prec1 = precedence(opTok.kind)
      if (prec1 < 0 || prec1 < minPrecedence) continue = false
      else {
        next()
        if (opTok.kind == In) {
          closeRun()
          expect(LParen, "'('")
          val vals = parseExprList()
          val rp = expect(RParen, "')'")
          x = InExpr(x, vals, x.span.union(rp.span))
        } else {
          var y = parseUnary()
          // Bind tighter operators to the right operand first.
          var inner = true
          while (inner && hasNext) {
            val prec2 = precedence(tokens(pos).kind)
            if (prec2 < 0 || prec2 <= prec1) inner = false
            else y = binaryTrail(y, prec1 + 1)
          }
          if (opTok.kind == And || opTok.kind == Or) {
            if (runOp != opTok.kind) { closeRun(); runOp = opTok.kind; runXs += x }
            runXs += y
            runSpans += opTok.span
          } else {
            closeRun()
            x = BinaryExpr(x, opTok.kind, opTok.span, y)
          }
        }
      }
    }
    closeRun()
    x
  }

  private def parseUnary(): Expr = peek match {
    case Some(t) if t.kind == Plus || t.kind == Minus =>
      next()
      val x = parsePrimary()
      UnaryExpr(t.kind, x, t.span.union(x.span))
    case _ => parsePrimary()
  }

  private def parsePrimary(): Expr = {
    var x = parseInnerPrimary()
    // A single optional index suffix, e.g. `a["key"]`.
    if (at(LBracket)) {
      next()
      val idx = parseExpr()
      val rb = expect(RBracket, "']'")
      x = IndexExpr(x, idx, x.span.union(rb.span))
    }
    x
  }

  private def parseInnerPrimary(): Expr = peek match {
    case None => fail("expected expression, got EOF", eofSpan)
    case Some(t) =>
      t.kind match {
        case Number | Str =>
          next()
          BasicLit(t.kind, t.value, t.span)
        case Identifier =>
          val qid = parseQualifiedIdent()
          if (qid.parts.lengthCompare(1) == 0 && at(LParen)) {
            next()
            val args = if (at(RParen)) Nil else parseExprList()
            val rp = expect(RParen, "')'")
            CallExpr(qid.parts.head, args, qid.span.union(rp.span))
          } else qid
        case QuotedIdentifier =>
          parseQualifiedIdent()
        case LParen =>
          next()
          val x = parseExpr()
          val rp = expect(RParen, "')'")
          ParenExpr(x, t.span.union(rp.span))
        case _ =>
          fail(s"expected expression, got ${describe(t)}", t.span)
      }
  }

  private def parseQualifiedIdent(): QualifiedIdent = {
    val parts = List.newBuilder[Ident]
    parts += parseIdent("identifier")
    while (at(TokenKind.Dot)) {
      next()
      parts += parseIdent("identifier after '.'")
    }
    QualifiedIdent(parts.result())
  }
}
