package graft.compiler

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.parser._

/** Compilation error with source position. */
final class PqlCompileException(val rawMessage: String, val span: Span, source: String)
    extends RuntimeException(PqlCompileException.format(rawMessage, span, source))

object PqlCompileException {
  private def format(msg: String, span: Span, source: String): String =
    if (!span.isValid || source.isEmpty) msg
    else {
      val (line, col) = PqlParseException.lineCol(source, math.min(span.start, source.length))
      s"$line:$col: $msg"
    }
}

/** Join-condition compilation context: the two sides plus the unique
  * subquery aliases they are joined under. Columns are referenced by
  * qualified name (`alias.col`) so self-joins resolve unambiguously.
  */
private[graft] final case class JoinCtx(
    left: DataFrame,
    right: DataFrame,
    leftAlias: String,
    rightAlias: String
) {
  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"
  def leftCol(name: String): Column = col(s"$leftAlias.${quote(name)}")
  def rightCol(name: String): Column = col(s"$rightAlias.${quote(name)}")
}

/** Expression environment.
  *
  * @param scope   `let`-bound and parameter columns, keyed by name.
  * @param join    when compiling a join condition, the left/right
  *                context for `\$left.X` / `\$right.X` resolution.
  * @param letMode `let` bodies may only reference scope names and
  *                builtins (no table columns).
  */
private[graft] final case class ExprEnv(
    scope: collection.Map[String, Column],
    join: Option[JoinCtx] = None,
    letMode: Boolean = false
)

/** Compiles PQL AST expressions into Spark [[Column]]s.
  *
  * Pure `Column` composition over `org.apache.spark.sql.functions`:
  * everything stays inside Catalyst (and whole-stage codegen); no UDFs.
  * Semantics follow the reference's SQL emission
  * (/root/reference/pql.go:563-1054): `==`/`!=` treat null comparisons
  * as false, `=~`/`!~` compare case-insensitively, and unknown
  * functions pass through to the engine's own registry (here: the full
  * Spark SQL function library).
  */
private[graft] final class Exprs(source: String) {

  private val leftAlias = "$left"
  private val rightAlias = "$right"

  def fail(msg: String, span: Span): Nothing =
    throw new PqlCompileException(msg, span, source)

  def sourceText(span: Span): String =
    source.substring(math.max(span.start, 0), math.min(span.end, source.length)).trim

  /** Backtick-quote a column name for `col()` reference syntax. */
  def attr(name: String): Column = col(quotePart(name))

  private def quotePart(name: String): String = "`" + name.replace("`", "``") + "`"

  private val builtins: Map[String, Column] =
    Map("true" -> lit(true), "false" -> lit(false), "null" -> lit(null))

  // ---- entry point ---------------------------------------------------

  def compile(e: Expr, env: ExprEnv): Column = e match {
    case ParenExpr(x, _) => compile(x, env)

    case qid: QualifiedIdent => compileIdent(qid, env)

    case lit0 @ BasicLit(kind, value, span) =>
      kind match {
        case TokenKind.Number =>
          // Integral literals are Int when they fit (like Spark SQL's
          // own parser — some builtins, e.g. floor(x, scale), require a
          // foldable IntegerType argument), then Long, then Decimal.
          if (lit0.isInteger)
            try {
              val l = value.toLong
              if (l >= Int.MinValue && l <= Int.MaxValue) lit(l.toInt) else lit(l)
            } catch { case _: NumberFormatException => lit(BigDecimal(value)) }
          else lit(value.toDouble)
        case TokenKind.Str => lit(value)
        case other         => fail(s"unhandled ${other.display} literal", span)
      }

    case UnaryExpr(op, x, span) =>
      val c = compile(x, env)
      op match {
        case TokenKind.Plus  => c
        case TokenKind.Minus => -c
        case other           => fail(s"unhandled unary operator ${other.display}", span)
      }

    case b: BinaryExpr => compileBinary(b, env)

    case InExpr(x, vals, _) =>
      compile(x, env).isin(vals.map(v => compile(v, env)): _*)

    case IndexExpr(x, index, _) =>
      // Null (not an error) on missing map key / out-of-range index,
      // matching dynamic-access semantics even under ANSI mode.
      try_element_at(compile(x, env), compile(index, env))

    case call: CallExpr => compileCall(call, env)
  }

  // ---- identifiers ---------------------------------------------------

  private def compileIdent(qid: QualifiedIdent, env: ExprEnv): Column = {
    val parts = qid.parts
    val head = parts.head

    if (parts.lengthCompare(1) == 0) {
      if (!head.quoted) {
        env.scope.get(head.name) match {
          case Some(c) => return c
          case None    =>
        }
        builtins.get(head.name) match {
          case Some(c) => return c
          case None    =>
        }
        if (env.letMode)
          fail(s"unknown identifier ${head.name} in let expression", head.span)
        if (head.name == leftAlias || head.name == rightAlias)
          fail(s"${head.name} used in non-join context", head.span)
      } else if (env.letMode)
        fail("quoted identifier not permitted in let expression", head.span)
      return resolveColumn(head.name, qid.span, env)
    }

    if (env.letMode)
      fail("qualified identifier not permitted in let expression", qid.span)

    // $left.X / $right.X inside join conditions.
    if (!head.quoted && (head.name == leftAlias || head.name == rightAlias)) {
      env.join match {
        case Some(ctx) =>
          val rest = parts.tail
          var c =
            if (head.name == leftAlias) ctx.leftCol(rest.head.name)
            else ctx.rightCol(rest.head.name)
          rest.tail.foreach(p => c = c.getField(p.name))
          return c
        case None =>
          fail(s"${head.name} used in non-join context", head.span)
      }
    }

    // Dotted path: base column, then struct field access.
    var c = resolveColumn(head.name, head.span, env)
    parts.tail.foreach(p => c = c.getField(p.name))
    c
  }

  /** In join conditions an unqualified name resolves against the left
    * side first (the reference leaves it to the engine, which picks the
    * left table), otherwise the right; outside joins it is a plain
    * column reference resolved by Catalyst.
    */
  private def resolveColumn(name: String, span: Span, env: ExprEnv): Column =
    env.join match {
      case Some(ctx) =>
        if (ctx.left.columns.contains(name)) ctx.leftCol(name)
        else if (ctx.right.columns.contains(name)) ctx.rightCol(name)
        else fail(s"unknown column $name in join condition", span)
      case None => attr(name)
    }

  // ---- binary operators ----------------------------------------------

  /** True for expressions that are statically non-null literals; used
    * to pick pushdown-friendly forms of `==`/`!=`.
    */
  private def isNonNullLiteral(e: Expr): Boolean = e match {
    case ParenExpr(x, _)                  => isNonNullLiteral(x)
    case BasicLit(_, _, _)                => true
    case UnaryExpr(_, x, _)               => isNonNullLiteral(x)
    case QualifiedIdent(List(p)) if !p.quoted => p.name == "true" || p.name == "false"
    case _                                => false
  }

  private def refersToJoinSide(e: Expr, side: String): Boolean = e match {
    case QualifiedIdent(parts)  => parts.exists(p => !p.quoted && p.name == side)
    case ParenExpr(x, _)        => refersToJoinSide(x, side)
    case UnaryExpr(_, x, _)     => refersToJoinSide(x, side)
    case BinaryExpr(x, _, _, y) => refersToJoinSide(x, side) || refersToJoinSide(y, side)
    case InExpr(x, vals, _)     => refersToJoinSide(x, side) || vals.exists(refersToJoinSide(_, side))
    case IndexExpr(x, i, _)     => refersToJoinSide(x, side) || refersToJoinSide(i, side)
    case CallExpr(_, args, _)   => args.exists(refersToJoinSide(_, side))
    case _                      => false
  }

  private def compileBinary(b: BinaryExpr, env: ExprEnv): Column = {
    import TokenKind._
    lazy val x = compile(b.x, env)
    lazy val y = compile(b.y, env)
    b.op match {
      case Eq =>
        val crossJoinEq = env.join.isDefined && {
          val xl = refersToJoinSide(b.x, leftAlias) || refersToJoinSide(b.x, rightAlias)
          val yl = refersToJoinSide(b.y, leftAlias) || refersToJoinSide(b.y, rightAlias)
          xl && yl
        }
        if (crossJoinEq) x === y // plain equality: keeps the equi-join plannable
        else if (isNonNullLiteral(b.x) || isNonNullLiteral(b.y))
          x <=> y // literal is non-null → identical to coalesce(x = y, FALSE), but pushdown-friendly
        else coalesce(x === y, lit(false)) // col-vs-col: coalesce defeats parquet pushdown — unavoidable for the null→FALSE semantics (PlanAuditSpec covers the literal path)
      case NE =>
        if (isNonNullLiteral(b.y)) x.isNotNull && (x =!= y)
        else if (isNonNullLiteral(b.x)) y.isNotNull && (x =!= y)
        else coalesce(x =!= y, lit(false))
      case CiEq  => lower(x) === lower(y)
      case CiNE  => lower(x) =!= lower(y)
      case LT    => x < y
      case LE    => x <= y
      case GT    => x > y
      case GE    => x >= y
      case And   => x && y
      case Or    => x || y
      case Plus  => x + y
      case Minus => x - y
      case Star  => x * y
      case Slash => x / y
      case Mod   => x % y
      case other => fail(s"unhandled binary operator ${other.display}", b.opSpan)
    }
  }

  // ---- functions -----------------------------------------------------

  private def arity(call: CallExpr, n: Int): List[Expr] = {
    if (call.args.lengthCompare(n) != 0)
      fail(
        s"${call.func.name}() takes $n argument(s) (got ${call.args.length})",
        call.span
      )
    call.args
  }

  private def compileCall(call: CallExpr, env: ExprEnv): Column = {
    def c(e: Expr): Column = compile(e, env)
    call.func.name match {
      case "count" =>
        arity(call, 0)
        count(lit(1))
      case "countif" =>
        val List(p) = arity(call, 1)
        count_if(coalesce(c(p), lit(false)))
      case "iff" | "iif" =>
        val List(cond, t, e) = arity(call, 3)
        when(coalesce(c(cond), lit(false)), c(t)).otherwise(c(e))
      case "isnull" =>
        val List(x) = arity(call, 1)
        c(x).isNull
      case "isnotnull" =>
        val List(x) = arity(call, 1)
        c(x).isNotNull
      case "not" =>
        val List(x) = arity(call, 1)
        !c(x)
      case "now" =>
        arity(call, 0)
        current_timestamp()
      case "strcat" =>
        if (call.args.isEmpty) fail("strcat() takes at least one argument", call.span)
        concat(call.args.map(c): _*)
      case "tolower" =>
        val List(x) = arity(call, 1)
        lower(c(x))
      case "toupper" =>
        val List(x) = arity(call, 1)
        upper(c(x))
      // KQL conversion functions (exact decimal arithmetic matters for
      // reproducible money aggregates at scale).
      case "toint" =>
        val List(x) = arity(call, 1)
        c(x).cast("int")
      case "tolong" =>
        val List(x) = arity(call, 1)
        c(x).cast("long")
      case "todouble" | "toreal" =>
        val List(x) = arity(call, 1)
        c(x).cast("double")
      case "tostring" =>
        val List(x) = arity(call, 1)
        c(x).cast("string")
      case "tobool" | "toboolean" =>
        val List(x) = arity(call, 1)
        c(x).cast("boolean")
      case "todatetime" =>
        val List(x) = arity(call, 1)
        c(x).cast("timestamp")
      case "todecimal" =>
        call.args match {
          case List(x) => c(x).cast("decimal(18,2)")
          case List(x, BasicLit(TokenKind.Number, scale, _)) =>
            c(x).cast(s"decimal(18,$scale)")
          case _ => fail("todecimal(x[, scale]) takes 1 or 2 arguments", call.span)
        }
      case "strlen" =>
        val List(x) = arity(call, 1)
        length(c(x))
      // graft extension scalar functions (beyond the reference's
      // surface): text-pipeline scores composable in any expression —
      // `extend q = quality_score(text) | where q >= 0.5`.
      case "quality_score" =>
        val List(x) = arity(call, 1)
        graft.ops.TextOps.qScore(c(x))
      case "lang_id" =>
        val List(x) = arity(call, 1)
        graft.ops.TextOps.langPred(c(x))
      // NOTE: `substring` and 2-arg `floor` deliberately pass through
      // (below) — the reference forwards both to ClickHouse
      // (/root/reference/pql.go:834-850 lists the only 11 intercepted
      // functions), and Spark's builtins share ClickHouse's semantics
      // (1-based substring; floor(x, scale) truncates to `scale`
      // decimal places).
      case "bin" =>
        // graft extension beyond the reference: KQL bin() — bucket a
        // value to multiples of the size. A string size ("1h", "15m",
        // "500ms", "2d") buckets a timestamp; millisecond precision is
        // kept exactly (integer arithmetic on epoch millis).
        val List(x, size) = arity(call, 2)
        size match {
          case BasicLit(TokenKind.Str, dur, span) =>
            val ms = parseDurationMillis(dur, span)
            // Cast first: parquet often yields TIMESTAMP_NTZ, which
            // unix_millis rejects (in a UTC session the cast is exact).
            val epochMs = unix_millis(c(x).cast("timestamp"))
            timestamp_millis((epochMs - pmod(epochMs, lit(ms))).cast("long"))
          case _ =>
            val s = c(size)
            floor(c(x).cast("double") / s) * s
        }
      case "ago" =>
        val List(d) = arity(call, 1)
        d match {
          case BasicLit(TokenKind.Str, dur, span) =>
            val ms = parseDurationMillis(dur, span)
            current_timestamp() - make_dt_interval(lit(0), lit(0), lit(0), lit(ms / 1e3))
          case _ => fail("ago() takes a duration string like \"1h\"", call.span)
        }
      case _ =>
        // Pass-through: the whole Spark SQL function library is callable.
        call_function(call.func.name, call.args.map(c): _*)
    }
  }

  /** Duration string → whole milliseconds ("500ms", "1.5h", "7d"). */
  private[graft] def parseDurationMillis(s: String, span: Span): Long = {
    val m = "^([0-9]+(?:\\.[0-9]+)?)(ms|s|m|h|d)$".r
    s.trim match {
      case m(n, unit) =>
        val v = BigDecimal(n)
        val unitMs = unit match {
          case "ms" => 1L
          case "s"  => 1000L
          case "m"  => 60000L
          case "h"  => 3600000L
          case "d"  => 86400000L
        }
        val ms = (v * unitMs).toLong
        if (ms <= 0) fail(s"duration \"$s\" is below 1ms resolution", span)
        ms
      case _ => fail(s"invalid duration \"$s\" (expected e.g. \"500ms\", \"90s\", \"15m\", \"1.5h\", \"7d\")", span)
    }
  }

  // ---- constant evaluation -------------------------------------------

  /** AST-level constant folding for row counts (`take`/`top`, and the
    * `chunk` size and `pack` budget): literals, sign, arithmetic, and
    * `let`-bound constants (via `letAsts`). Evaluated exactly (no
    * 64-bit wrap-around), so the range check sees the true value;
    * division by zero is a compile error.
    */
  def rowCount(e: Expr, letAsts: collection.Map[String, Expr]): Int = {
    def eval(e: Expr): BigInt = e match {
      case ParenExpr(x, _) => eval(x)
      case l @ BasicLit(TokenKind.Number, v, span) =>
        if (l.isInteger) BigInt(v)
        else fail(s"expected integer row count, got $v", span)
      case UnaryExpr(TokenKind.Plus, x, _)  => eval(x)
      case UnaryExpr(TokenKind.Minus, x, _) => -eval(x)
      case BinaryExpr(x, op, opSpan, y) =>
        op match {
          case TokenKind.Plus  => eval(x) + eval(y)
          case TokenKind.Minus => eval(x) - eval(y)
          case TokenKind.Star  => eval(x) * eval(y)
          case TokenKind.Slash | TokenKind.Mod =>
            val d = eval(y)
            if (d == 0) fail("division by zero in row count", opSpan)
            if (op == TokenKind.Slash) eval(x) / d else eval(x) % d
          case other           => fail(s"row count must be a constant (${other.display})", opSpan)
        }
      case QualifiedIdent(List(p)) if !p.quoted =>
        letAsts.get(p.name) match {
          case Some(bound) => eval(bound)
          case None        => fail(s"row count must be a constant (unknown ${p.name})", p.span)
        }
      case other => fail("row count must be a constant expression", other.span)
    }
    val n = eval(e)
    if (n < 0 || n > Int.MaxValue) fail(s"row count $n out of range", e.span)
    n.toInt
  }
}
