package graft.parser

import org.scalatest.funsuite.AnyFunSuite

class ParserSpec extends AnyFunSuite {

  private def tabular(src: String): TabularExpr =
    Parser.parse(src).collectFirst { case t: TabularExpr => t }.get

  test("bare table") {
    val t = tabular("StormEvents")
    assert(t.source.table.name == "StormEvents")
    assert(t.operators.isEmpty)
  }

  test("quoted table name") {
    assert(tabular("`Storm Events`").source.table.name == "Storm Events")
  }

  test("where with precedence") {
    val t = tabular("T | where a > 5 and b == \"x\" or c < 2")
    val WhereOp(BinaryExpr(l, TokenKind.Or, _, r), _) = t.operators.head: @unchecked
    val BinaryExpr(_, TokenKind.And, _, _) = l: @unchecked
    val BinaryExpr(_, TokenKind.LT, _, _) = r: @unchecked
  }

  test("multiplication binds tighter than addition") {
    val t = tabular("T | where a + b * c == 7")
    val WhereOp(BinaryExpr(sum, TokenKind.Eq, _, _), _) = t.operators.head: @unchecked
    val BinaryExpr(_, TokenKind.Plus, _, prod) = sum: @unchecked
    val BinaryExpr(_, TokenKind.Star, _, _) = prod: @unchecked
  }

  test("in expression") {
    val t = tabular("""T | where State in ("A", "B")""")
    val WhereOp(InExpr(_, vals, _), _) = t.operators.head: @unchecked
    assert(vals.length == 2)
  }

  test("project forms") {
    val t = tabular("T | project a, b = x + 1, `c d`")
    val ProjectOp(cols, _) = t.operators.head: @unchecked
    assert(cols.map(_.name.name) == List("a", "b", "c d"))
    assert(cols(1).x.isDefined && cols(0).x.isEmpty)
  }

  test("extend named and unnamed") {
    val t = tabular("T | extend x = a + 1, 42")
    val ExtendOp(cols, _) = t.operators.head: @unchecked
    assert(cols.head.name.map(_.name).contains("x"))
    assert(cols(1).name.isEmpty)
  }

  test("summarize with by") {
    val t = tabular("T | summarize n = count(), s = sum(v) by k1, k2 = f(x)")
    val SummarizeOp(aggs, by, _) = t.operators.head: @unchecked
    assert(aggs.length == 2 && by.length == 2)
    assert(by(1).name.map(_.name).contains("k2"))
  }

  test("summarize by only") {
    val SummarizeOp(aggs, by, _) = tabular("T | summarize by k").operators.head: @unchecked
    assert(aggs.isEmpty && by.length == 1)
  }

  test("sort terms with asc/desc/nulls") {
    val SortOp(terms, _) =
      tabular("T | sort by a, b asc, c desc nulls first, d asc nulls last").operators.head: @unchecked
    assert(terms.map(t => (t.asc, t.nullsFirst)) ==
      List((false, false), (true, true), (false, true), (true, false)))
  }

  test("top") {
    val TopOp(_, col, _) = tabular("T | top 3 by x").operators.head: @unchecked
    assert(!col.asc) // default descending
  }

  test("take requires integer literal") {
    assertThrows[PqlParseException](Parser.parse("T | take 3.5"))
    Parser.parse("T | take 3")
  }

  test("join flavors and right pipeline") {
    val JoinOp(flavor, right, conds, _) =
      tabular("L | join kind=leftouter (R | where x > 1) on k, $left.a == $right.b").operators.head: @unchecked
    assert(flavor == "leftouter")
    assert(right.operators.length == 1)
    assert(conds.length == 2)
  }

  test("join defaults to innerunique") {
    val JoinOp(flavor, _, _, _) = tabular("L | join (R) on k").operators.head: @unchecked
    assert(flavor == "innerunique")
  }

  test("join rejects unknown flavor") {
    assertThrows[PqlParseException](Parser.parse("L | join kind=full (R) on k"))
  }

  test("join kind=asof: identifier on-list, optional tolerance, arity check") {
    val AsofJoinOp(right, cols, tol, _) =
      tabular("""L | join kind=asof tolerance="1h" (R | where x > 1) on k1, k2, ts""")
        .operators.head: @unchecked
    assert(right.operators.length == 1)
    assert(cols.map(_.name) == List("k1", "k2", "ts"))
    assert(tol.exists(o => o.name.name == "tolerance" && o.value == "1h"))
    val AsofJoinOp(_, cols2, tol2, _) =
      tabular("L | join kind=asof (R) on k, ts").operators.head: @unchecked
    assert(cols2.map(_.name) == List("k", "ts") && tol2.isEmpty)
    // needs a key AND a timestamp; bare expressions are rejected
    assertThrows[PqlParseException](Parser.parse("L | join kind=asof (R) on ts"))
    assertThrows[PqlParseException](Parser.parse("L | join kind=asof (R) on $left.k == $right.k, ts"))
  }

  test("| ann: kind lookahead, options, query sub-pipeline, on/by arity") {
    val AnnOp(kind, opts, right, vec, id, _) =
      tabular("C | ann kind=ivf k=10 dim=64 cells=32 probes=3 (Q | where x > 1) on emb by vid")
        .operators.head: @unchecked
    assert(kind == "ivf")
    assert(opts.map(_.name.name) == List("k", "dim", "cells", "probes"))
    assert(right.operators.length == 1)
    assert(vec.name == "emb" && id.name == "vid")
    // bare form defaults to the exact kind
    val AnnOp(k2, o2, _, _, _, _) = tabular("C | ann (Q) on emb by vid").operators.head: @unchecked
    assert(k2 == "brute" && o2.isEmpty)
    // unknown kind / unknown option / missing structure are parse errors
    assertThrows[PqlParseException](Parser.parse("C | ann kind=cosine (Q) on emb by vid"))
    assertThrows[PqlParseException](Parser.parse("C | ann shards=2 (Q) on emb by vid"))
    assertThrows[PqlParseException](Parser.parse("C | ann (Q) emb by vid"))
    assertThrows[PqlParseException](Parser.parse("C | ann (Q) on emb vid"))
    assertThrows[PqlParseException](Parser.parse("C | ann Q on emb by vid"))
  }

  test("join kind=range: point/start/end tail, optional bucket, arity check") {
    val RangeJoinOp(right, cols, bucket, _) =
      tabular("""L | join kind=range bucket="30m" (R) on k, ts, s, e""").operators.head: @unchecked
    assert(right.operators.isEmpty)
    assert(cols.map(_.name) == List("k", "ts", "s", "e"))
    assert(bucket.exists(o => o.name.name == "bucket" && o.value == "30m"))
    // keyless point-in-interval still parses (equi-join on bucket only)
    val RangeJoinOp(_, cols2, b2, _) =
      tabular("L | join kind=range (R) on ts, s, e").operators.head: @unchecked
    assert(cols2.map(_.name) == List("ts", "s", "e") && b2.isEmpty)
    assertThrows[PqlParseException](Parser.parse("L | join kind=range (R) on ts, s"))
    // the duration options take a string, not a number
    assertThrows[PqlParseException](Parser.parse("L | join kind=range bucket=30 (R) on ts, s, e"))
  }

  test("let statements") {
    val stmts = Parser.parse("let n = 3; let s = \"x\"; T | take n")
    assert(stmts.collect { case l: LetStatement => l.name.name } == List("n", "s"))
  }

  test("as and render") {
    val t = tabular("T | as X | render barchart with (title=\"Hi\", x=col)")
    val AsOp(name, _) = t.operators.head: @unchecked
    assert(name.name == "X")
    val RenderOp(chart, props, _) = t.operators(1): @unchecked
    assert(chart.name == "barchart" && props.length == 2)
  }

  test("count operator takes no clause") {
    assertThrows[PqlParseException](Parser.parse("T | count 5"))
    Parser.parse("T | count")
  }

  test("unknown operator") {
    assertThrows[PqlParseException](Parser.parse("T | frobnicate x"))
  }

  test("index expression") {
    val WhereOp(BinaryExpr(IndexExpr(_, BasicLit(_, "key2", _), _), TokenKind.GT, _, _), _) =
      tabular("""M | where a["key2"] > 10""").operators.head: @unchecked
  }

  test("qualified ident as struct path") {
    val WhereOp(BinaryExpr(QualifiedIdent(parts), _, _, _), _) =
      tabular("T | where a.b.c == 1").operators.head: @unchecked
    assert(parts.map(_.name) == List("a", "b", "c"))
  }

  test("call with no args and nested calls") {
    val ProjectOp(cols, _) =
      tabular("T | project t = now(), u = strcat(tolower(a), \"-\")").operators.head: @unchecked
    val CallExpr(f0, args0, _) = cols(0).x.get: @unchecked
    assert(f0.name == "now" && args0.isEmpty)
  }

  test("trailing garbage after operator clause fails") {
    assertThrows[PqlParseException](Parser.parse("T | count x"))
    assertThrows[PqlParseException](Parser.parse("T | where a == 1 b"))
  }

  test("batch of statements splits on semicolons") {
    assert(Parser.parse("T; U").length == 2)
  }

  test("dedup operator parses with default and explicit kind") {
    val DedupOp(k1, o1, t1, i1, _) = tabular("D | dedup text by doc_id").operators.head: @unchecked
    assert(k1 == "exact" && o1.isEmpty && t1.name == "text" && i1.name == "doc_id")
    val DedupOp(k2, _, _, _, _) =
      tabular("D | dedup kind=substrings text by doc_id").operators.head: @unchecked
    assert(k2 == "substrings")
  }

  test("dedup operator rejects unknown kinds and missing by") {
    assertThrows[PqlParseException](Parser.parse("D | dedup kind=bogus text by doc_id"))
    assertThrows[PqlParseException](Parser.parse("D | dedup text doc_id"))
  }

  test("a text column literally named 'kind' dedups with the default kind") {
    val DedupOp(k, _, t, i, _) = tabular("D | dedup kind by doc_id").operators.head: @unchecked
    assert(k == "exact" && t.name == "kind" && i.name == "doc_id")
  }

  test("dedup options parse and never shadow column names") {
    val DedupOp(k, opts, t, _, _) =
      tabular("E | dedup kind=embed dim=64 cos=0.5 embedding by vec_id").operators.head: @unchecked
    assert(k == "embed" && t.name == "embedding")
    assert(opts.map(o => o.name.name -> o.value) == List("dim" -> "64", "cos" -> "0.5"))
    // a column named like an option (no '=') is a column
    val DedupOp(_, opts2, t2, _, _) = tabular("D | dedup dim by doc_id").operators.head: @unchecked
    assert(opts2.isEmpty && t2.name == "dim")
    assertThrows[PqlParseException](Parser.parse("D | dedup dim=x text by doc_id"))
  }

  test("decontam operator parses the eval pipeline and options") {
    val DecontamOp(eval, opts, t, i, _) = tabular(
      "D | decontam against (E | where doc_id % 20 == 0) hits=3 ngram=8 text by doc_id"
    ).operators.head: @unchecked
    assert(eval.source.table.name == "E" && eval.operators.length == 1)
    assert(opts.map(o => o.name.name -> o.value) == List("hits" -> "3", "ngram" -> "8"))
    assert(t.name == "text" && i.name == "doc_id")
    assertThrows[PqlParseException](Parser.parse("D | decontam (E) text by doc_id"))
    assertThrows[PqlParseException](Parser.parse("D | decontam against E text by doc_id"))
  }

  test("chunk and pack operators parse") {
    val ChunkOp(n, t, i, _) = tabular("D | chunk 64 text by doc_id").operators.head: @unchecked
    assert(n.isInstanceOf[BasicLit] && t.name == "text" && i.name == "doc_id")
    val PackOp(b, opts, tk, id, idx, _) =
      tabular("C | pack 256 shards=8 n_tokens by doc_id, chunk_idx").operators.head: @unchecked
    assert(b.isInstanceOf[BasicLit] && tk.name == "n_tokens" && id.name == "doc_id" && idx.name == "chunk_idx")
    assert(opts.map(o => o.name.name -> o.value) == List("shards" -> "8"))
    assertThrows[PqlParseException](Parser.parse("D | chunk text by doc_id"))
    assertThrows[PqlParseException](Parser.parse("C | pack 256 n_tokens by doc_id"))
  }

  test("sample operator parses a literal rate and rejects expressions") {
    val SampleOp(rate, _, id, _) = tabular("D | sample 0.25 by doc_id").operators.head: @unchecked
    assert(rate == "0.25" && id.name == "doc_id")
    assertThrows[PqlParseException](Parser.parse("D | sample x by doc_id"))
    assertThrows[PqlParseException](Parser.parse("D | sample 0.25 doc_id"))
  }

  test("sample budget= parses the token-budget form; bare budget still reads as a column") {
    val SampleBudgetOp(opts, text, id, strata, _) =
      tabular("D | sample budget=800 bits=10 text by doc_id, source").operators.head: @unchecked
    assert(opts.map(o => o.name.name -> o.value) == List("budget" -> "800", "bits" -> "10"))
    assert(text.name == "text" && id.name == "doc_id" && strata.name == "source")
    // the strata column is required (distinguishes the form from the rate one)
    assertThrows[PqlParseException](Parser.parse("D | sample budget=800 text by doc_id"))
    assertThrows[PqlParseException](Parser.parse("D | sample budget= text by doc_id, s"))
    // `budget` NOT followed by '=' is not the budget form — here it's a
    // bogus rate position, same error as any other identifier
    assertThrows[PqlParseException](Parser.parse("D | sample budget by doc_id"))
  }

  test("nesting past MaxNesting is a spanned parse error, not a stack overflow") {
    val limit = Parser.MaxNesting
    // the pipeline and the where expression are two levels; parens add one each
    def parens(n: Int) = "T | where " + "(" * n + "a" + ")" * n
    assert(tabular(parens(limit - 2)).operators.length == 1)
    val e = intercept[PqlParseException](Parser.parse(parens(limit - 1)))
    assert(e.getMessage.contains(s"nesting deeper than $limit levels") && e.span.isValid, e.getMessage)
    intercept[PqlParseException](Parser.parse(parens(10000)))
    intercept[PqlParseException](Parser.parse("T" + " | join (T" * 1000 + ") on a" * 1000))
    // chains and pipelines are built in loops; their depth counts all the
    // same: each `+` one level, the i-th stage i levels, its operand one more
    def plus(n: Int) = "T | where a" + " + 1" * n
    assert(tabular(plus(limit - 2)).operators.length == 1)
    intercept[PqlParseException](Parser.parse(plus(limit - 1)))
    intercept[PqlParseException](Parser.parse(plus(10000)))
    def takes(n: Int) = "T" + " | take 1" * n
    assert(tabular(takes(limit - 1)).operators.length == limit - 1)
    intercept[PqlParseException](Parser.parse(takes(limit)))
    intercept[PqlParseException](Parser.parse(takes(10000)))
  }

  test("and/or runs are balanced, so long disjunctions stay shallow") {
    def depth(e: Expr): Int = e match {
      case BinaryExpr(x, _, _, y) => 1 + math.max(depth(x), depth(y))
      case _                      => 0
    }
    def pred(src: String): Expr = tabular(src).operators.head.asInstanceOf[WhereOp].predicate
    val terms = (1 to 10000).map(i => s"a == $i")
    // 10000 equalities under a balanced or: 14 or-levels, then the ==
    assert(depth(pred("T | where " + terms.mkString(" or "))) == 15)
    // three terms keep the left-deep shape; the operands stay in source order
    val BinaryExpr(BinaryExpr(a, TokenKind.And, _, b), TokenKind.And, _, c) =
      pred("T | where x and y and z"): @unchecked
    assert(Seq(a, b, c).map(_.asInstanceOf[QualifiedIdent].parts.head.name) == Seq("x", "y", "z"))
    val BinaryExpr(BinaryExpr(_, TokenKind.Or, _, _), TokenKind.Or, _, BinaryExpr(_, TokenKind.Or, _, _)) =
      pred("T | where w or x or y or z"): @unchecked
  }
}
