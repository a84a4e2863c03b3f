package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** Semantics unit tests for the corners the reference golden corpus
  * doesn't reach: null-safe equality, case-insensitive operators with
  * nulls, sort null placement, innerunique multiplicity, let/param
  * scoping and shadowing, self-joins, and duration parsing.
  *
  * Reference behaviors cited per test (e.g. null handling of `==`:
  * /root/reference/pql.go:700-723 emits `coalesce(x = y, FALSE)`).
  */
class CompilerSpec extends SparkTestBase {

  import org.apache.spark.sql.functions._

  private lazy val t: DataFrame = {
    val session = spark
    import session.implicits._
    Seq[(Integer, String)](
      (1, "a"),
      (2, null),
      (null.asInstanceOf[Integer], "b"),
      (4, "B"),
      (4, "B")
    ).toDF("id", "s")
  }

  private def cat(name: String): DataFrame = name match {
    case "T" => t
    case other => sys.error(s"no table $other")
  }

  private def run(q: String): DataFrame = Pql.query(spark, q, cat)

  private def ids(q: String): Seq[Any] =
    run(q).collect().toSeq.map(_.get(0))

  // ---- null-safe == / != (reference: coalesce(x = y, FALSE)) --------

  test("== with null column value is false, not null") {
    assert(ids("T | where s == \"a\" | project id") == Seq(1L).map(_.toInt).map(identity))
  }

  test("== between two null values is false (null == null)") {
    // null == null → coalesce(NULL, FALSE) → row dropped.
    assert(run("T | where s == null | count").collect()(0).getLong(0) == 0L)
  }

  test("!= with null column value is false (null != 'a' drops row)") {
    // Rows: s = a, null, b, B, B → != "a" keeps b, B, B (null dropped).
    assert(run("T | where s != \"a\" | count").collect()(0).getLong(0) == 3L)
  }

  test("=~ is case-insensitive; null never matches") {
    assert(run("T | where s =~ \"b\" | count").collect()(0).getLong(0) == 3L)
  }

  // ---- sort null placement (asc → nulls first, desc → nulls last) ---

  test("sort asc puts nulls first") {
    val got = ids("T | sort by id asc | project id")
    assert(got.head == null && got.tail == Seq(1, 2, 4, 4))
  }

  test("sort desc (default) puts nulls last") {
    val got = ids("T | sort by id | project id")
    assert(got.last == null && got.init == Seq(4, 4, 2, 1))
  }

  // ---- innerunique multiplicity --------------------------------------

  test("default join flavor innerunique dedups the LEFT side only") {
    // Left has (4, B) twice; right T also has it twice. innerunique
    // dedups left → each left-distinct row joins all right matches.
    val n = run("T | where id == 4 | join (T | where id == 4) on id | count")
      .collect()(0).getLong(0)
    assert(n == 2L) // 1 distinct left row × 2 right rows
  }

  test("join kind=inner keeps left multiplicity") {
    val n = run("T | where id == 4 | join kind=inner (T | where id == 4) on id | count")
      .collect()(0).getLong(0)
    assert(n == 4L) // 2 left × 2 right
  }

  test("plain self-join works (no AMBIGUOUS_SELF_JOIN)") {
    val df = run("T | join kind=inner (T) on id")
    assert(df.count() == 6L) // ids 1,2 match once each; 4 matches 2x2
    // Right-side collision columns are disambiguated like the reference.
    assert(df.columns.toSeq == Seq("id", "s", "$right.id", "$right.s"))
  }

  test("join kind=leftouter keeps unmatched left rows") {
    val n = run("T | join kind=leftouter (T | where id == 1) on id | count")
      .collect()(0).getLong(0)
    assert(n == 5L)
  }

  // ---- let / params scoping ------------------------------------------

  test("let binding is usable in where and project") {
    assert(ids("let v = 2; T | where id == v | project id") == Seq(2))
  }

  test("bare project name resolves let binding (shadowing table columns)") {
    // Reference resolves bare project columns through the expression
    // scope (pql.go:374-384): `project id, v` emits the binding for v.
    val got = run("let v = 5; T | where id == 1 | project id, v").collect()(0)
    assert(got.getInt(0) == 1 && got.getInt(1) == 5)
  }

  test("let binding shadows a table column of the same name") {
    val got = ids("let id = 99; T | take 1 | project id")
    assert(got == Seq(99))
  }

  test("quoted bare project name is always a column reference") {
    val got = ids("let id = 99; T | where id == 99 | project `id` | take 1")
    // where uses the binding (99 == 99 → all rows); project `id` is the column.
    assert(got.size == 1 && got.head != 99)
  }

  test("external parameters resolve like let bindings") {
    val df = Pql.query(spark, "T | where id == minId | project id", cat,
      params = Map("minId" -> lit(2)))
    assert(df.collect().map(_.get(0)).toSeq == Seq(2))
  }

  test("let may reference earlier let") {
    assert(ids("let a = 1; let b = a + 1; T | where id == b | project id") == Seq(2))
  }

  test("take count may be a let-bound constant expression") {
    assert(run("let n = 1 + 1; T | take n").count() == 2L)
  }

  test("row counts past Int range or dividing by zero are spanned compile errors on both backends") {
    // folded exactly: 2^32 * 2^32 must not wrap to `take 0`, and a hex
    // literal past Long.MaxValue or `1 / 0` must not escape as a raw
    // JVM exception
    for (q <- Seq("T | take 4294967296 * 4294967296", "T | take 0xFFFFFFFFFFFFFFFF",
        "let n = 99999999999999999999; T | top n by id", "T | take 1 / 0", "T | take 5 % 0")) {
      for (e <- Seq(intercept[graft.compiler.PqlCompileException](run(q)),
          intercept[graft.compiler.PqlCompileException](Pql.compileToSql(q, _ => t))))
        assert(e.span.isValid && (e.getMessage.contains("out of range") ||
          e.getMessage.contains("division by zero")), s"$q: ${e.getMessage}")
    }
    assert(run("T | take 0x7FFFFFFF / 0x7FFFFFFF").count() == 1L)
  }

  test("a 3000-term disjunction runs on both backends") {
    // built balanced by the parser: the left-deep chain overflowed the
    // JVM stack at about 300 terms
    val q = "T | where " + (1 to 3000).map(i => s"id == ${i * 2}").mkString(" or ")
    assert(ids(q).sorted(Ordering.by[Any, Int](_.asInstanceOf[Int])) == Seq(2, 4, 4))
    t.createOrReplaceTempView("T")
    try assert(spark.sql(Pql.compileToSql(q, cat)).count() == 3L)
    finally spark.catalog.dropTempView("T")
  }

  // ---- durations ------------------------------------------------------

  test("bin with sub-second duration buckets at millisecond resolution") {
    val session = spark
    import session.implicits._
    val df = Seq(Timestamp.valueOf("2024-01-01 00:00:00.750"))
      .toDF("ts")
    val got = Pql.query(spark, "E | project b = bin(ts, \"500ms\")",
      { case "E" => df }: PartialFunction[String, DataFrame])
      .collect()(0).getTimestamp(0)
    assert(got == Timestamp.valueOf("2024-01-01 00:00:00.5"))
  }

  test("bin with numeric size truncates to multiples") {
    val got = run("T | where id == 4 | take 1 | project b = bin(id + 3, 5)")
      .collect()(0).get(0)
    assert(got == 5.0)
  }

  test("floor(x, scale) passes through to Spark (decimal truncation)") {
    val got = run("T | take 1 | project f = floor(3.14159, 2)").collect()(0)
    assert(got.getDecimal(0).doubleValue() == 3.14)
  }

  test("substring passes through 1-based like ClickHouse") {
    val got = run("T | take 1 | project s2 = substring(\"hello\", 2, 3)")
      .collect()(0).getString(0)
    assert(got == "ell")
  }

  // ---- graft extension operators: dedup / sample ---------------------

  private lazy val docsT: DataFrame = {
    val session = spark
    import session.implicits._
    Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha  BETA gamma"), // exact dup after normalize
      (3L, "something else entirely")
    ).toDF("doc_id", "text")
  }

  private def dcat(name: String): DataFrame = name match {
    case "D" => docsT
    case other => sys.error(s"no table $other")
  }

  test("| dedup defaults to kind=exact and equals the library call") {
    val got = Pql.query(spark, "D | dedup text by doc_id", dcat)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 3L)))
    val lib = graft.ops.Dedup.exact(docsT, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(lib))
  }

  test("| dedup kind=substrings rewrites the text column row-preservingly") {
    val got = Pql.query(spark, "D | dedup kind=substrings text by doc_id", dcat)
    assert(got.columns.toSeq == Seq("doc_id", "text_clean", "n_removed"))
    assert(got.count() == 3)
  }

  test("| dedup composes with downstream operators") {
    val got = Pql.query(spark,
      "D | dedup text by doc_id | where doc_id > 1 | count", dcat)
      .collect()(0).getLong(0)
    assert(got == 1L)
  }

  // ---- graft extension joins: asof / range ----------------------------

  private lazy val trades: DataFrame = {
    val session = spark
    import session.implicits._
    Seq(
      ("A", 10L, 1), ("A", 20L, 2), ("A", 35L, 3),
      ("B", 5L, 4)
    ).toDF("sym", "t", "trade_id")
      .select(col("sym"), timestamp_micros(col("t") * 1000000L).as("t"), col("trade_id"))
  }
  private lazy val quotes: DataFrame = {
    val session = spark
    import session.implicits._
    Seq(
      ("A", 8L, 1.5), ("A", 20L, 2.5), ("A", 30L, 3.5),
      ("B", 50L, 9.0)
    ).toDF("sym", "t", "px")
      .select(col("sym"), timestamp_micros(col("t") * 1000000L).as("t"), col("px"))
  }
  private def jcat(name: String): DataFrame = name match {
    case "TR"  => trades
    case "QT"  => quotes
    case other => sys.error(s"no table $other")
  }

  test("| join kind=asof equals the library call; tolerance nulls stale matches") {
    val got = Pql.query(spark, "TR | join kind=asof (QT) on sym, t", jcat)
      .select("trade_id", "px").collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // exact-ts quote matches (>=); B's quote is in the future → null
    assert(got == Map(1 -> Some(1.5), 2 -> Some(2.5), 3 -> Some(3.5), 4 -> None))
    val lib = graft.ops.AsOf.joinAsOf(trades, quotes, Seq("sym"), "t", Seq("px"))
      .select("trade_id", "px").collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == lib)
    // 2-second tolerance, INCLUSIVE bound (quote.ts >= trade.ts - 2s):
    // trade 1 @10 keeps the quote @8 exactly at the bound; trade 3 @35
    // loses the stale quote @30
    val tol = Pql.query(spark, """TR | join kind=asof tolerance="2s" (QT) on sym, t""", jcat)
      .select("trade_id", "px").collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(tol == Map(1 -> Some(1.5), 2 -> Some(2.5), 3 -> None, 4 -> None))
    // missing columns fail with a compile error, not an analysis error
    assertThrows[graft.compiler.PqlCompileException](Pql.query(spark, "TR | join kind=asof (QT) on sym, nope", jcat))
  }

  test("| join kind=range equals the library call (half-open intervals)") {
    val iv = quotes.select(col("sym"), col("t").as("s"),
      timestamp_micros(unix_micros(col("t")) + 10000000L).as("e"), col("px"))
    def rcat(name: String): DataFrame = name match {
      case "TR" => trades
      case "IV" => iv
      case other => sys.error(s"no table $other")
    }
    val got = Pql.query(spark,
      """TR | join kind=range bucket="5s" (IV) on sym, t, s, e | project trade_id, px""", rcat)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toSet
    val lib = graft.ops.RangeJoin.pointInInterval(trades, iv, Seq("sym"), "t", "s", "e", 5000000L)
      .select("trade_id", "px").collect().map(r => r.getInt(0) -> r.getDouble(1)).toSet
    assert(got == lib)
    // trade 2 at t=20 hits quote intervals [20,30) — exact start inclusive
    assert(got.contains(2 -> 2.5))
    // end is exclusive: t=30 interval [20,30) does not include 30
    assert(!got.contains(3 -> 2.5) && got.contains(3 -> 3.5))
  }

  test("asof/range join hardening: duplicates, collisions, ambiguity are spanned compile errors") {
    import graft.compiler.PqlCompileException
    def err(q: String, cat: String => DataFrame): String =
      intercept[PqlCompileException](Pql.query(spark, q, cat)).getMessage
    // duplicate on-column would compile into a window partitioned and
    // ordered by the same column — rejected up front
    assert(err("TR | join kind=asof (QT) on t, t", jcat).contains("duplicate asof join column t"))
    // right-side value column colliding with a left column: spanned
    // compile error, not AsOf.joinAsOf's raw IllegalArgumentException
    val qtClash = quotes.withColumn("trade_id", lit(9))
    def ccat(name: String): DataFrame =
      if (name == "QT") qtClash else jcat(name)
    val e1 = intercept[PqlCompileException](Pql.query(spark, "TR | join kind=asof (QT) on sym, t", ccat))
    assert(e1.getMessage.contains("trade_id") && e1.getMessage.contains("rename"), e1.getMessage)
    // reserved internal names on either input are rejected up front
    val trReserved = trades.withColumn("__vals", lit(1))
    def rescat(name: String): DataFrame =
      if (name == "TR") trReserved else jcat(name)
    assert(err("TR | join kind=asof (QT) on sym, t", rescat).contains("__vals"))
    // range join: a right side still carrying the point column would
    // make the post-join interval filter ambiguous at runtime
    val ivWithT = quotes.select(col("sym"), col("t"), col("t").as("s"),
      timestamp_micros(unix_micros(col("t")) + 10000000L).as("e"), col("px"))
    def rcat(name: String): DataFrame =
      if (name == "IV") ivWithT else jcat(name)
    assert(err("TR | join kind=range (IV) on sym, t, s, e", rcat)
      .contains("also carries the point column t"))
    // ... and a left side carrying an interval column name, symmetric
    val trWithS = trades.withColumn("s", lit(1))
    val ivClean = quotes.select(col("sym"), col("t").as("s"),
      timestamp_micros(unix_micros(col("t")) + 10000000L).as("e"), col("px"))
    def lcat(name: String): DataFrame =
      if (name == "TR") trWithS else if (name == "IV") ivClean else jcat(name)
    assert(err("TR | join kind=range (IV) on sym, t, s, e", lcat)
      .contains("also carries the interval column s"))
    // duplicate on-columns rejected for range too
    assert(err("TR | join kind=range (IV) on sym, t, s, s", lcat)
      .contains("duplicate range join column s"))
  }

  // ---- graft extension: | ann ------------------------------------------

  private lazy val annCorpus: DataFrame = {
    val session = spark
    import session.implicits._
    // 12 unit-ish vectors in 2-D spread over the circle
    (0 until 12).map { i =>
      val a = i * math.Pi / 6
      (i.toLong, Array(math.cos(a), math.sin(a)))
    }.toDF("vid", "emb")
  }
  private def acat(name: String): DataFrame = name match {
    case "C"   => annCorpus
    case "Q"   => annCorpus.filter(col("vid") % 4 === 0)
    case other => sys.error(s"no table $other")
  }

  test("| ann equals the library calls for every kind") {
    def rows(df: DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "vid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val qs = annCorpus.filter(col("vid") % 4 === 0)
    val viaBrute = Pql.query(spark, "C | ann k=3 (C | where vid % 4 == 0) on emb by vid", acat)
    assert(rows(viaBrute) == rows(graft.ops.Ann.bruteTopK(annCorpus, qs, "emb", "vid", k = 3)))
    assert(viaBrute.columns.toSeq == Seq("query_id", "vid", "cos_sim", "rank"))
    val viaLsh = Pql.query(spark, "C | ann kind=lsh dim=2 k=3 (C | where vid % 4 == 0) on emb by vid", acat)
    assert(rows(viaLsh) == rows(graft.ops.Ann.lshTopK(annCorpus, qs, "emb", "vid", dim = 2, k = 3)))
    val viaIvf = Pql.query(spark, "C | ann kind=ivf dim=2 k=3 probes=2 (C | where vid % 4 == 0) on emb by vid", acat)
    assert(rows(viaIvf) == rows(graft.ops.Ann.ivfTopKSeeded(annCorpus, qs, "emb", "vid", dim = 2, k = 3)))
  }

  test("| ann misuse is a spanned compile error") {
    import graft.compiler.PqlCompileException
    def err(q: String): String =
      intercept[PqlCompileException](Pql.query(spark, q, acat)).getMessage
    // column existence, both sides; vec/id must differ
    assert(err("C | ann (Q) on nope by vid").contains("nope not found on the corpus side"))
    assert(err("C | extend extra = 1 | ann (Q) on extra by vid").contains("not found on the query side"))
    assert(err("C | ann (Q) on emb by emb").contains("must differ"))
    // reserved OUTPUT names (query_id/cos_sim/rank) on the id column
    def rcat(name: String): DataFrame = acat(name).withColumnRenamed("vid", "rank")
    val e = intercept[PqlCompileException](
      Pql.query(spark, "C | ann (Q) on emb by rank", rcat)).getMessage
    assert(e.contains("collides"), e)
    // per-kind option sets: an option the kind ignores is an error
    assert(err("C | ann cells=4 (Q) on emb by vid").contains("not valid for ann kind=brute"))
    assert(err("C | ann kind=lsh dim=2 probes=3 (Q) on emb by vid").contains("not valid for ann kind=lsh"))
    // lsh geometry: planes/bits together, bounded; dim required
    assert(err("C | ann kind=lsh dim=2 planes=8 (Q) on emb by vid").contains("planes= and bits= together"))
    // occupancy mixed with PARTIAL fixed geometry names the real
    // conflict, not the catch-all (advice, round 14)
    assert(err("C | ann kind=lsh dim=2 planes=8 occupancy=32 (Q) on emb by vid").contains("not both"))
    assert(err("C | ann kind=lsh dim=2 bits=4 occupancy=32 (Q) on emb by vid").contains("not both"))
    assert(err("C | ann kind=lsh dim=2 planes=8 bits=4 occupancy=32 (Q) on emb by vid").contains("not both"))
    assert(err("C | ann kind=lsh dim=2 planes=8 bits=63 (Q) on emb by vid").contains("bits must be in [1, 62]"))
    assert(err("C | ann kind=lsh dim=2 planes=4 bits=8 (Q) on emb by vid").contains("one band minimum"))
    assert(err("C | ann kind=lsh (Q) on emb by vid").contains("dim"))
    assert(err("C | ann kind=ivf (Q) on emb by vid").contains("dim"))
  }

  test("| ann accepts single-letter user columns (internals are namespaced, round 15)") {
    // `c`/`d` were on the 15-name reserved wall through round 14; the
    // corpus/query columns are now aliased to `__graft_ann_*` at the
    // compiler boundary, so only the OUTPUT names stay reserved
    def scat(name: String): DataFrame =
      acat(name).withColumnRenamed("vid", "c").withColumnRenamed("emb", "d")
    val got = Pql.query(spark, "C | ann k=3 (Q) on d by c", scat)
    assert(got.columns.toSeq == Seq("query_id", "c", "cos_sim", "rank"))
    val qs = annCorpus.filter(col("vid") % 4 === 0)
    val lib = graft.ops.Ann.bruteTopK(annCorpus, qs, "emb", "vid", k = 3)
      .select("query_id", "vid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val gotRows = got.select("query_id", "c", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotRows == lib)
    // the indexed kinds take the same path
    val lsh = Pql.query(spark, "C | ann kind=lsh dim=2 k=3 (Q) on d by c", scat)
    assert(lsh.columns.toSeq == Seq("query_id", "c", "cos_sim", "rank"))
    assert(lsh.count() > 0)
  }

  test("| sample applies the deterministic Bernoulli filter") {
    val a = Pql.query(spark, "D | sample 1.0 by doc_id", dcat).count()
    assert(a == 3L)
    val b = Pql.query(spark, "D | sample 0.0 by doc_id", dcat).count()
    assert(b == 0L)
  }

  test("| sample budget= compiles to tokenBudgetAuto and matches the library call") {
    val got = Pql.query(spark,
      "D | extend src = doc_id % 2 | sample budget=4 text by doc_id, src | sort by doc_id asc",
      dcat).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val lib = graft.ops.Sampling.tokenBudgetAuto(
      docsT.withColumn("src", expr("doc_id % 2")), "text", "doc_id", "src", budgetTokens = 4L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == lib && got.nonEmpty)
    // option validation is spanned: bits range, missing budget impossible
    // by construction (budget= selects the form), unknown options rejected
    import graft.compiler.PqlCompileException
    val e = intercept[PqlCompileException](Pql.query(spark,
      "D | extend src = doc_id % 2 | sample budget=4 bits=40 text by doc_id, src", dcat))
    assert(e.getMessage.contains("bits"), e.getMessage)
    // an option foreign to this op never parses as one (the parser's
    // allowed set only consumes budget=/bits=): `shards` reads as the
    // text column and the stray '=' is a parse error
    assertThrows[graft.parser.PqlParseException](Pql.query(spark,
      "D | extend src = doc_id % 2 | sample budget=4 shards=2 text by doc_id, src", dcat))
  }

  test("quality_score and lang_id compose in expressions") {
    val q = Pql.query(spark,
      "D | extend q = quality_score(text) | where q > 0.0 | count", dcat)
      .collect()(0).getLong(0)
    assert(q == 3L)
    val langs = Pql.query(spark,
      "D | extend l = lang_id(text) | summarize n = count() by l", dcat)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langs.values.sum == 3L)
    // matches the operator form bit-for-bit
    val viaOp = graft.ops.TextOps.qualityScore(docsT, "text", "doc_id")
      .select("doc_id", "q_score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaFn = Pql.query(spark, "D | extend q = quality_score(text) | project doc_id, q", dcat)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaOp == viaFn)
  }

  test("bad dedup kind and out-of-range sample rate fail with spans") {
    val e1 = intercept[Exception](Pql.query(spark, "D | dedup kind=bogus text by doc_id", dcat))
    assert(e1.getMessage.contains("dedup kind"), e1.getMessage)
    val e2 = intercept[Exception](Pql.query(spark, "D | sample 1.5 by doc_id", dcat))
    assert(e2.getMessage.contains("sample rate"), e2.getMessage)
  }

  test("occupancy= option: rejected for non-adaptive kinds, exclusive with cells=, min-checked") {
    // occupancy only means something where the engine has an adaptive
    // sizing rule (embed, semantic) — elsewhere it's a compile error,
    // not silence
    val e1 = intercept[Exception](Pql.query(spark, "D | dedup kind=minhash occupancy=64 text by doc_id", dcat))
    assert(e1.getMessage.contains("not valid"), e1.getMessage)
    val e2 = intercept[Exception](
      Pql.query(spark, "D | dedup kind=semantic cells=8 occupancy=64 text by doc_id", dcat))
    assert(e2.getMessage.contains("not both"), e2.getMessage)
    val e3 = intercept[Exception](
      Pql.query(spark, "D | dedup kind=embed dim=8 occupancy=0 text by doc_id", dcat))
    assert(e3.getMessage.contains(">= 1"), e3.getMessage)
  }

  test("dedup kind=embed/semantic: adaptive default, planes=/bits= pin a fixed geometry") {
    val session = spark
    import session.implicits._
    // two near-identical direction pairs + two singletons, dim 4
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.99, 0.01, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)), (3L, Seq(0.0, 0.99, 0.01, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 0.0)), (5L, Seq(0.0, 0.0, 0.0, 1.0))
    ).toDF("vec_id", "emb")
    def ecat(name: String): DataFrame = name match {
      case "E" => e
      case other => sys.error(s"no table $other")
    }
    def kept(q: String): Seq[Long] =
      Pql.query(spark, q, ecat).select("vec_id").as[Long].collect().sorted.toSeq
    // the BARE operator is the adaptive path (round-13 default)
    val bare = kept("E | dedup kind=embed dim=4 emb by vec_id")
    val libAuto = graft.ops.NearDup.dropNearDuplicates(
      e, graft.ops.NearDup.embedCosinePairs(e, "emb", "vec_id", dim = 4), "vec_id")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(bare == libAuto)
    // planes=/bits= pin the fixed geometry the library sentry uses
    val fixed = kept("E | dedup kind=embed dim=4 planes=8 bits=4 emb by vec_id")
    val libFixed = graft.ops.NearDup.dropNearDuplicates(
      e, graft.ops.NearDup.embedCosinePairs(
        e, "emb", "vec_id", dim = 4, planes = 8, bandBits = 4), "vec_id")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(fixed == libFixed)
    // bare semantic = adaptive cell count
    val bareSem = kept("E | dedup kind=semantic cos=0.95 emb by vec_id")
    val libSem = graft.ops.NearDup.dropNearDuplicates(
      e, graft.ops.SemDedup.pairs(e, "emb", "vec_id", minCos = 0.95), "vec_id")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(bareSem == libSem)
    // half-set or conflicting geometry options are compile errors
    val e1 = intercept[Exception](
      Pql.query(spark, "E | dedup kind=embed dim=4 planes=8 emb by vec_id", ecat))
    assert(e1.getMessage.contains("planes= and bits= together"), e1.getMessage)
    val e2 = intercept[Exception](
      Pql.query(spark, "E | dedup kind=embed dim=4 planes=8 bits=4 occupancy=32 emb by vec_id", ecat))
    assert(e2.getMessage.contains("not both"), e2.getMessage)
  }
}
