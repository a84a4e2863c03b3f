package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** `Pql.compileToSql` parity: for the whole in-repo golden corpus
  * (src/test/resources/pql, see [[PqlCorpus]]),
  * `spark.sql(compileToSql(q))` must return the same multiset of rows
  * as the DataFrame path `Pql.query(q)` — the embedder who ships SQL
  * text and the embedder who executes plans see identical results.
  * Parity needs no expected output: the goldens' `output.csv` files are
  * GoldenSpec's business.
  */
class SqlCompileSpec extends SparkTestBase {

  private lazy val tables: Map[String, DataFrame] = PqlCorpus.tables(spark)

  private def catalog(name: String): DataFrame =
    tables.getOrElse(name, sys.error(s"no fixture table $name"))

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect()
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("\u0001"))
      .groupBy(identity).view.mapValues(_.length).toMap

  /** Fixture names registrable as Spark temp views. `Storm Events`
    * (space in the name — the QuotedTableName golden) cannot be a temp
    * view at all; the emitted SQL still quotes it correctly, so that
    * one golden asserts the SQL text instead of executing it.
    */
  private def registerViews(): Unit =
    tables.foreach { case (n, df) =>
      if (!n.contains(" ")) df.createOrReplaceTempView(n)
    }

  test("every reference golden compiles to SQL that matches the DataFrame path") {
    val goldenDirs = PqlCorpus.goldenDirs
    assert(goldenDirs.nonEmpty, PqlCorpus.noGoldens)
    var checked = 0
    for (dir <- goldenDirs) {
      val src = Files.readString(new File(dir, "input.pql").toPath)
      // ProjectNow calls now(): the two paths evaluate at different
      // wall-clock instants by definition — assert it compiles and
      // runs, not value equality.
      val timeDependent = PqlCorpus.timeDependent(src)
      val params = PqlCorpus.params(dir)
      val sql = Pql.compileToSql(src, catalog, params)
      if (sql.contains("`Storm Events`")) { checked += 1 }
      else {
      registerViews()
      val viaSql = spark.sql(sql)
      val viaPlan = Pql.query(spark, src, catalog, params)
      if (timeDependent) {
        assert(viaSql.count() == viaPlan.count(), s"${dir.getName}:\n$sql")
      } else {
        assert(multiset(viaSql) == multiset(viaPlan), s"${dir.getName}:\n$sql")
        // columns come back in the same order under both paths
        assert(viaSql.columns.toSeq == viaPlan.columns.toSeq, s"${dir.getName}:\n$sql")
      }
      checked += 1
      }
    }
    assert(checked == goldenDirs.length)
    info(s"$checked goldens compiled to SQL and matched")
  }

  /** In-test `StormEvents` schema for the tests that need only a table
    * (not the golden corpus): a DamageProperty tie inside the top
    * three, stored against the EventId order, so only the EventId
    * tiebreak puts it in order; and a null that sorts last.
    */
  private lazy val storm: DataFrame = {
    val session = spark
    import session.implicits._
    Seq(
      (1, Some(100), "TX", "hail"), (2, Some(9000), "OK", "tornado"),
      (3, Some(5000), "KS", "wind"), (4, Some(0), "TX", "flood"),
      (5, Some(1000), "NE", "hail"), (6, None, "IA", "snow"),
      (7, Some(5000), "KS", "tornado"), (8, Some(250), "OK", "wind")
    ).toDF("EventId", "DamageProperty", "State", "EventNarrative")
  }
  private def stormCatalog(name: String): DataFrame = name match {
    case "StormEvents" | "Storm Events" => storm
    case other                          => sys.error(s"no fixture table $other")
  }

  test("quoted table names are quoted in the emitted SQL") {
    val sql = Pql.compileToSql("`Storm Events` | count", stormCatalog)
    assert(sql.contains("`Storm Events`"), sql)
  }

  test("trailing sort/top ordering reaches the final SELECT") {
    storm.createOrReplaceTempView("StormEvents")
    val q1 = "StormEvents | sort by DamageProperty, EventId | take 3"
    val sql1 = Pql.compileToSql(q1, stormCatalog)
    assert(sql1.contains("ORDER BY"), sql1)
    val a = spark.sql(sql1).collect().map(_.toString).toSeq
    val b = Pql.query(spark, q1, stormCatalog).collect().map(_.toString).toSeq
    assert(a == b) // ORDER itself must match, not just the set
    // `top` orders by DamageProperty alone, so its row order is only
    // defined without the tie: drop one tied row for this query
    val untied = storm.filter("EventId != 7")
    untied.createOrReplaceTempView("StormEvents")
    val q2 = "StormEvents | top 3 by DamageProperty"
    assert(spark.sql(Pql.compileToSql(q2, _ => untied)).collect().map(_.toString).toSeq ==
      Pql.query(spark, q2, _ => untied).collect().map(_.toString).toSeq)
  }

  test("asof/range joins emit CTE SQL matching the plan path (round 15)") {
    import org.apache.spark.sql.functions._
    val session = spark
    import session.implicits._
    // a null-sym trade and an earlier null-sym quote: ASOF joins on key
    // equality, so the trade must match nothing on both backends
    val trades = Seq((1, Some("A"), 10L), (2, Some("A"), 20L), (3, Some("B"), 30L), (4, Some("B"), 5L),
      (5, None, 40L))
      .toDF("trade_id", "sym", "tn")
      .withColumn("t", expr("timestamp_micros(tn * 1000000 + 1700000000000000)")).drop("tn")
    val quotes = Seq((Some("A"), 8L, 1.5), (Some("A"), 20L, 2.5), (Some("B"), 25L, 3.5), (None, 35L, 9.5))
      .toDF("sym", "tn", "px")
      .withColumn("t", expr("timestamp_micros(tn * 1000000 + 1700000000000000)")).drop("tn")
    val iv = quotes.select(col("sym"), col("t").as("s"),
      expr("s + INTERVAL 10 seconds").as("e"), col("px"))
    def cat(name: String): DataFrame = name match {
      case "TR" => trades
      case "QT" => quotes
      case "IV" => iv
      case other => sys.error(s"no fixture table $other")
    }
    trades.createOrReplaceTempView("TR")
    quotes.createOrReplaceTempView("QT")
    iv.createOrReplaceTempView("IV")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (q <- Seq(
        "TR | join kind=asof (QT) on sym, t | project trade_id, px",
        // tolerance: stale matches nulled, struct carries __right_ts
        """TR | join kind=asof tolerance="2s" (QT) on sym, t""",
        // trailing ops still compose after the extension stage
        """TR | join kind=range bucket="5s" (IV) on sym, t, s, e | project trade_id, px | sort by trade_id asc, px asc""",
        "TR | join kind=range (IV) on sym, t, s, e | summarize n = count() by sym | sort by sym asc")) {
      val sql = Pql.compileToSql(q, cat)
      assert(rows(spark.sql(sql)) == rows(Pql.query(spark, q, cat)), s"query: $q\nsql:\n$sql")
    }
    // duplicate non-key output columns are inexpressible in SQL text —
    // rejected here (the DataFrame path is the fallback)
    val ivClash = iv.withColumn("trade_id", lit(9))
    def ccat(name: String): DataFrame = if (name == "IV") ivClash else cat(name)
    val e = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("TR | join kind=range (IV) on sym, t, s, e", ccat))
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    // the shared validator rejects the same misuse as the plan path
    val e2 = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("TR | join kind=asof (QT) on t, t", cat))
    assert(e2.getMessage.contains("duplicate asof join column t"), e2.getMessage)
  }

  test("extension operators are rejected with a pointer to Pql.query") {
    // every dedup kind is EMITTED since round 16 — the only remaining
    // rejections are the plan-time-data forms (adaptive sizing, the
    // sample budget= crossover), asserted here and in the per-kind tests
    val e2 = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("StormEvents | sample budget=100 EventNarrative by EventId, State", stormCatalog))
    assert(e2.getMessage.contains("Pql.query"), e2.getMessage)
  }

  test("adaptive ann kind=ivf (no cells=) is rejected with a pointer to the fixed spelling") {
    val session = spark
    import session.implicits._
    val corpus = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0))).toDF("vid", "emb")
    def cat(name: String): DataFrame =
      if (name == "IVR") corpus else sys.error(s"no fixture table $name")
    val e = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("IVR | ann kind=ivf dim=2 (IVR) on emb by vid", cat))
    assert(e.getMessage.contains("cells=") && e.getMessage.contains("Pql.query"), e.getMessage)
  }

  test("dedup kind=minhash emits SQL matching the plan path (round 16)") {
    graft.functions.GraftExtensions.register(spark) // graft_shingle_hashes in SQL
    val session = spark
    import session.implicits._
    // near-dup groups: 1/2 exact-equal after normalization, 3/4 one
    // word apart (minhash est-sim above 0.25), 5 unique, 6/7 a
    // SHORT-doc pair (whole-text shingle path)
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val docs = Seq(
      (1L, base),
      (2L, "  THE quick   brown fox jumps over the lazy dog and runs far away today"),
      (3L, base + " extra"),
      (4L, base + " bonus"),
      (5L, "completely different text about spark catalyst plans and shuffles here"),
      (6L, "tiny doc"),
      (7L, "tiny  DOC")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("MD")
    def cat(name: String): DataFrame =
      if (name == "MD") docs else sys.error(s"no fixture table $name")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (q <- Seq(
        "MD | dedup kind=minhash text by doc_id",
        // composes with down-pipeline stages like any other stage
        "MD | dedup kind=minhash text by doc_id | summarize n = count()")) {
      val sql = Pql.compileToSql(q, cat)
      assert(rows(spark.sql(sql)) == rows(Pql.query(spark, q, cat)), s"query: $q\nsql:\n$sql")
    }
    // the near-dup drop actually dropped something beyond exact dedup
    // (exact survivors are 1,3,4,5,6; 3 and 4 are near-dups of 1) and
    // kept the smallest id of each cluster
    val kept = spark.sql(Pql.compileToSql("MD | dedup kind=minhash text by doc_id | project doc_id", cat))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.size < 5 && kept.startsWith(Seq(1L)) && kept.contains(5L) && kept.contains(6L), kept)
    // column checks resolve case-insensitively like the analyzer
    // (advice, round 15)
    val sqlCi = Pql.compileToSql("MD | dedup kind=minhash Text by DOC_ID", cat)
    assert(rows(spark.sql(sqlCi)) ==
      rows(Pql.query(spark, "MD | dedup kind=minhash Text by DOC_ID", cat)))
  }

  test("ann kind=ivf with fixed cells emits SQL matching the plan path (round 16)") {
    graft.functions.GraftExtensions.register(spark) // graft_dot + graft_argmax_cell
    val session = spark
    import session.implicits._
    val corpus = (0 until 40).map { i =>
      val a = i * math.Pi / 20
      (i.toLong, Array(math.cos(a), math.sin(a)))
    }.toDF("vid", "emb")
    corpus.createOrReplaceTempView("IVC")
    def cat(name: String): DataFrame =
      if (name == "IVC") corpus else sys.error(s"no fixture table $name")
    val q = "IVC | ann kind=ivf k=3 dim=2 cells=4 probes=2 (IVC | where vid % 10 == 0) on emb by vid"
    val sql = Pql.compileToSql(q, cat)
    val a = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val b = Pql.query(spark, q, cat).collect().map(_.toString).sorted.toSeq
    assert(a == b, s"sql:\n$sql")
    assert(a.nonEmpty)
    assert(spark.sql(sql).columns.toSeq == Seq("query_id", "vid", "cos_sim", "rank"))
  }

  test("ann kind=brute emits SQL matching the plan path (round 15)") {
    graft.functions.GraftExtensions.register(spark) // graft_dot in SQL
    val session = spark
    import session.implicits._
    val corpus = (0 until 12).map { i =>
      val a = i * math.Pi / 6
      (i.toLong, Array(math.cos(a), math.sin(a)))
    }.toDF("vid", "emb")
    corpus.createOrReplaceTempView("C")
    def cat(name: String): org.apache.spark.sql.DataFrame =
      if (name == "C") corpus else sys.error(s"no fixture table $name")
    val q = "C | ann k=3 (C | where vid % 4 == 0) on emb by vid"
    val sql = Pql.compileToSql(q, cat)
    val a = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val b = Pql.query(spark, q, cat).collect().map(_.toString).sorted.toSeq
    assert(a == b, s"sql:\n$sql")
    assert(spark.sql(sql).columns.toSeq == Seq("query_id", "vid", "cos_sim", "rank"))
  }

  test("ann kind=lsh with fixed geometry emits SQL matching the plan path (round 15)") {
    graft.functions.GraftExtensions.register(spark) // graft_dot + graft_sign_sig
    val session = spark
    import session.implicits._
    // 40 unit vectors around the circle, plus one ragged row (3 comps)
    // and one with a null component — PackedSignSig's degenerate-vector
    // semantics must survive the text round-trip, not just clean data
    val clean = (0 until 40).map { i =>
      val a = i * math.Pi / 20
      (i.toLong, Array[java.lang.Double](math.cos(a), math.sin(a)))
    }
    val ragged = Seq(
      (100L, Array[java.lang.Double](0.3, 0.4, 0.5)),
      (101L, Array[java.lang.Double](0.3, null)))
    val corpus = (clean ++ ragged).toDF("vid", "emb")
    corpus.createOrReplaceTempView("CL")
    def cat(name: String): org.apache.spark.sql.DataFrame =
      if (name == "CL") corpus else sys.error(s"no fixture table $name")
    val q = "CL | ann kind=lsh k=3 dim=2 planes=8 bits=4 (CL | where vid % 10 == 0) on emb by vid"
    val sql = Pql.compileToSql(q, cat)
    val a = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val b = Pql.query(spark, q, cat).collect().map(_.toString).sorted.toSeq
    assert(a == b, s"sql:\n$sql")
    assert(a.nonEmpty)
    assert(spark.sql(sql).columns.toSeq == Seq("query_id", "vid", "cos_sim", "rank"))
    // mixing occupancy with partial geometry names the real conflict
    val e = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("CL | ann kind=lsh dim=2 planes=8 occupancy=4 (CL) on emb by vid", cat))
    assert(e.getMessage.contains("not both"), e.getMessage)
    // ADAPTIVE lsh (no planes=/bits=) needs a plan-time corpus count —
    // rejected with a pointer to the fixed spelling
    val e2 = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("CL | ann kind=lsh dim=2 (CL) on emb by vid", cat))
    assert(e2.getMessage.contains("fixed geometry") && e2.getMessage.contains("Pql.query"), e2.getMessage)
  }

  test("sample and dedup kind=exact emit SQL matching the plan path (round 15)") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "The cat sat on the mat"),
      (2L, "the cat  SAT on the mat "), // normalizes equal to doc 1
      (3L, "a different document"),
      (4L, "A DIFFERENT document"),     // normalizes equal to doc 3
      (5L, "unique text")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("D")
    def cat(name: String): DataFrame =
      if (name == "D") docs else sys.error(s"no fixture table $name")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (q <- Seq(
        "D | sample 0.5 by doc_id",
        "D | dedup text by doc_id",                       // default kind=exact
        "D | dedup kind=exact text by doc_id | where doc_id > 1 | project doc_id",
        "D | sample 0.9 by doc_id | dedup text by doc_id | summarize n = count()",
        "D | chunk 3 text by doc_id",
        "D | chunk 2 text by doc_id | summarize total = sum(n_tokens) by doc_id | sort by doc_id asc")) {
      val sql = Pql.compileToSql(q, cat)
      assert(rows(spark.sql(sql)) == rows(Pql.query(spark, q, cat)), s"query: $q\nsql:\n$sql")
    }
    // dedup exact keeps the SMALLEST id of each normalized-text group
    val kept = spark.sql(Pql.compileToSql("D | dedup text by doc_id | project doc_id", cat))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L), kept)
    // unknown dedup option is still a compile error on the text path
    val e = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("D | dedup kind=exact dim=4 text by doc_id", cat))
    assert(e.getMessage.contains("dim"), e.getMessage)
  }

  test("dedup kind=simhash emits SQL matching the plan path (round 16)") {
    val session = spark
    import session.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val docs = Seq(
      (1L, base),
      (2L, base + " " + base), // doubled text: identical TF sign profile, hamming 0
      (3L, "an entirely different text about catalyst plan optimization and shuffles"),
      (4L, "short one")
    ).toDF("doc_id", "text")
    def cat(name: String): DataFrame =
      if (name == "SH") docs else sys.error(s"no fixture table $name")
    docs.createOrReplaceTempView("SH")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (q <- Seq(
        "SH | dedup kind=simhash text by doc_id",
        "SH | dedup kind=simhash text by doc_id | summarize n = count()")) {
      val sql = Pql.compileToSql(q, cat)
      assert(rows(spark.sql(sql)) == rows(Pql.query(spark, q, cat)), s"query: $q\nsql:\n$sql")
    }
    // doc 2 is a near-dup of doc 1 (one extra token) and must drop
    val kept = spark.sql(Pql.compileToSql("SH | dedup kind=simhash text by doc_id | project doc_id", cat))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L), kept)
  }

  test("dedup kind=substrings emits SQL matching the plan path (round 16)") {
    graft.functions.GraftExtensions.register(spark) // graft_shingle_hashes
    val session = spark
    import session.implicits._
    val boiler = "one two three four five six seven eight"  // exactly k=8 tokens
    val docs = Seq(
      (1L, boiler + " unique tail of document one"),
      (2L, boiler + " different ending for document two"),  // repeats doc 1's 8-token span
      (3L, "fully distinct text with no repeated spans at all whatsoever"),
      (4L, "")                                               // empty doc, row-preserved
    ).toDF("doc_id", "text")
    def cat(name: String): DataFrame =
      if (name == "SS") docs else sys.error(s"no fixture table $name")
    docs.createOrReplaceTempView("SS")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (q <- Seq(
        "SS | dedup kind=substrings text by doc_id",
        "SS | dedup kind=substrings text by doc_id | summarize total = sum(n_removed)")) {
      val sql = Pql.compileToSql(q, cat)
      assert(rows(spark.sql(sql)) == rows(Pql.query(spark, q, cat)), s"query: $q\nsql:\n$sql")
    }
    val out = spark.sql(Pql.compileToSql("SS | dedup kind=substrings text by doc_id", cat))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 2 lost its repeated 8-token prefix; docs 3/4 untouched
    assert(out(2L)._2 >= 8 && !out(2L)._1.contains("one two three"), out(2L))
    assert(out(3L)._2 == 0 && out(4L) == (("", 0L)) && out.size == 4, out)
    assert(spark.sql(Pql.compileToSql("SS | dedup kind=substrings text by doc_id", cat))
      .columns.toSeq == Seq("doc_id", "text_clean", "n_removed"))
  }

  test("dedup kind=lines emits SQL matching the plan path (round 16)") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "Cookie banner. Real content one. Footer"),
      (2L, "Cookie banner. Real content two. Footer"),   // shares 1st+3rd fragments with doc 1
      (3L, "cookie BANNER"),                              // fully deduplicated -> empty string
      (4L, "Entirely unique prose here")
    ).toDF("doc_id", "text")
    def cat(name: String): DataFrame =
      if (name == "LN") docs else sys.error(s"no fixture table $name")
    docs.createOrReplaceTempView("LN")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (q <- Seq(
        "LN | dedup kind=lines text by doc_id",
        "LN | dedup kind=lines text by doc_id | where doc_id > 1 | project text")) {
      val sql = Pql.compileToSql(q, cat)
      assert(rows(spark.sql(sql)) == rows(Pql.query(spark, q, cat)), s"query: $q\nsql:\n$sql")
    }
    val out = spark.sql(Pql.compileToSql("LN | dedup kind=lines text by doc_id", cat))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L).nonEmpty && out(3L) == "" && out.size == 4, out)
    assert(spark.sql(Pql.compileToSql("LN | dedup kind=lines text by doc_id", cat))
      .columns.toSeq == Seq("doc_id", "text"))
  }

  test("dedup kind=embed with fixed geometry emits SQL matching the plan path (round 16)") {
    graft.functions.GraftExtensions.register(spark) // graft_dot + graft_sign_sig
    val session = spark
    import session.implicits._
    // near-identical vector pairs around the circle, plus a ragged row
    // and a null-component row — PackedSignSig's degenerate-vector
    // semantics (sig 0, NULL norm -> no pairs) must survive the text
    val clean = (0 until 30).flatMap { i =>
      val a = i * math.Pi / 15
      Seq(
        (i.toLong * 2, Array[java.lang.Double](math.cos(a), math.sin(a))),
        (i.toLong * 2 + 1, Array[java.lang.Double](math.cos(a + 0.001), math.sin(a + 0.001))))
    }
    val ragged = Seq(
      (200L, Array[java.lang.Double](0.3, 0.4, 0.5)),
      (201L, Array[java.lang.Double](0.3, null)))
    val corpus = (clean ++ ragged).toDF("vid", "emb")
    def cat(name: String): DataFrame =
      if (name == "EB") corpus else sys.error(s"no fixture table $name")
    corpus.createOrReplaceTempView("EB")
    val q = "EB | dedup kind=embed dim=2 planes=8 bits=4 cos=0.9 emb by vid"
    val sql = Pql.compileToSql(q, cat)
    val a = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val b = Pql.query(spark, q, cat).collect().map(_.toString).sorted.toSeq
    assert(a == b, s"sql:\n$sql")
    // something was actually dropped (the +0.001 twins) and the ragged
    // rows survived (no pairs from degenerate vectors)
    assert(a.size < 62 && a.exists(_.contains("200")) && a.exists(_.contains("201")), a.size)
    // adaptive geometry stays a spanned rejection
    val e = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("EB | dedup kind=embed dim=2 emb by vid", cat))
    assert(e.getMessage.contains("fixed geometry") && e.getMessage.contains("Pql.query"), e.getMessage)
  }

  test("dedup kind=semantic with fixed cells emits SQL matching the plan path (round 16)") {
    graft.functions.GraftExtensions.register(spark) // graft_dot + graft_argmax_cell
    val session = spark
    import session.implicits._
    val corpus = (0 until 40).map { i =>
      val a = i * math.Pi / 20
      (i.toLong, Array(math.cos(a), math.sin(a), math.cos(2 * a)))
    }.toDF("vid", "emb")
    def cat(name: String): DataFrame =
      if (name == "SD") corpus else sys.error(s"no fixture table $name")
    corpus.createOrReplaceTempView("SD")
    val q = "SD | dedup kind=semantic cells=4 cos=0.8 emb by vid"
    val sql = Pql.compileToSql(q, cat)
    val a = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val b = Pql.query(spark, q, cat).collect().map(_.toString).sorted.toSeq
    assert(a == b, s"sql:\n$sql")
    assert(a.nonEmpty && a.size < 40, a.size) // pruned something, kept something
    // adaptive cell count stays a spanned rejection
    val e = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("SD | dedup kind=semantic emb by vid", cat))
    assert(e.getMessage.contains("cells=") && e.getMessage.contains("Pql.query"), e.getMessage)
    val e2 = intercept[graft.compiler.PqlCompileException](
      Pql.compileToSql("SD | dedup kind=semantic cells=4 occupancy=8 emb by vid", cat))
    assert(e2.getMessage.contains("not both"), e2.getMessage)
  }

  test("pack and decontam emit SQL matching the plan path (round 16)") {
    graft.functions.GraftExtensions.register(spark) // graft_shingle_hashes
    val session = spark
    import session.implicits._
    val chunks = (0 until 30).map(i => (i.toLong / 3, i % 3, 10L + i % 4))
      .toDF("doc_id", "chunk_idx", "n_tokens")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different document about spark plans"),
      (3L, "the quick brown fox jumps again today"),  // shares shingles with eval doc 10
      (4L, "nothing in common with anything else here")
    ).toDF("doc_id", "text")
    val evals = Seq((10L, "the quick brown fox jumps over everything")).toDF("doc_id", "text")
    def cat(name: String): DataFrame = name match {
      case "CH" => chunks
      case "DC" => docs
      case "EV" => evals
      case other => sys.error(s"no fixture table $other")
    }
    chunks.createOrReplaceTempView("CH")
    docs.createOrReplaceTempView("DC")
    evals.createOrReplaceTempView("EV")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (q <- Seq(
        "CH | pack 32 shards=4 n_tokens by doc_id, chunk_idx",
        "CH | pack 32 n_tokens by doc_id, chunk_idx | summarize n = count() by seq_id | sort by seq_id asc",
        "DC | decontam against (EV) text by doc_id",
        "DC | decontam against (EV) hits=1 ngram=2 text by doc_id | project doc_id")) {
      val sql = Pql.compileToSql(q, cat)
      assert(rows(spark.sql(sql)) == rows(Pql.query(spark, q, cat)), s"query: $q\nsql:\n$sql")
    }
    // decontam actually dropped the overlapping docs (1 and 3 share
    // >= 2 trigrams with the eval doc), kept the clean ones
    val kept = spark.sql(Pql.compileToSql(
      "DC | decontam against (EV) text by doc_id | project doc_id", cat))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L), kept)
    // pack emits every input row exactly once with a seq_id appended
    val packed = spark.sql(Pql.compileToSql("CH | pack 32 shards=4 n_tokens by doc_id, chunk_idx", cat))
    assert(packed.count() == 30 && packed.columns.toSeq ==
      Seq("doc_id", "chunk_idx", "n_tokens", "seq_id"))
  }

  test("compileToSql runs exactly the plan-time jobs of building Pql.query") {
    // a sub-pipeline built twice would run its bake twice: the decontam
    // eval model, the fixed-cells ivf and semantic seed matrices
    graft.functions.GraftExtensions.register(spark)
    val session = spark
    import session.implicits._
    val vecs = (0 until 40).map { i =>
      val a = i * math.Pi / 20
      (i.toLong, Array(math.cos(a), math.sin(a)))
    }.toDF("vid", "emb")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different document about spark plans"),
      (3L, "the quick brown fox jumps again today")
    ).toDF("doc_id", "text")
    val evals = Seq((10L, "the quick brown fox jumps over everything")).toDF("doc_id", "text")
    val golden = PqlCorpus.goldenDirs.head
    val goldenSrc = Files.readString(new File(golden, "input.pql").toPath)
    assert(tables.nonEmpty) // the fixture reads run their own jobs: load them first
    def cat(name: String): DataFrame = name match {
      case "VX" => vecs
      case "DX" => docs
      case "EX" => evals
      case other => catalog(other)
    }
    val none = Map.empty[String, org.apache.spark.sql.Column]
    val cases = Seq(
      (goldenSrc, PqlCorpus.params(golden), false),
      ("VX | ann kind=ivf k=3 dim=2 cells=4 probes=2 (VX | where vid % 10 == 0) on emb by vid", none, true),
      ("VX | dedup kind=semantic cells=4 cos=0.8 emb by vid", none, true),
      ("DX | decontam against (EX) text by doc_id", none, true),
      ("DX | join (DX | decontam against (EX) text by doc_id) on doc_id", none, true))
    for (((q, params, bakes), i) <- cases.zipWithIndex) {
      val planJobs = jobsFor(s"sql-jobs-plan-$i")(Pql.query(spark, q, cat, params))
      val textJobs = jobsFor(s"sql-jobs-text-$i")(Pql.compileToSql(q, cat, params))
      info(s"$planJobs jobs: $q")
      assert(textJobs == planJobs, s"compileToSql ran $textJobs jobs, Pql.query $planJobs: $q")
      assert((planJobs > 0) == bakes, s"$planJobs jobs: $q")
    }
  }

  test("48 chained where or extend stages give the plan path's rows through SQL text") {
    // the old CTE-per-stage text stopped resolving from about 56 stages (the
    // analyzer's 100-iteration Resolution batch); 48 is the floor kept since
    val session = spark
    import session.implicits._
    val one = Seq((1, 2)).toDF("a", "b")
    one.createOrReplaceTempView("ONE")
    def cat(name: String): DataFrame = if (name == "ONE") one else sys.error(s"no fixture table $name")
    for (q <- Seq(
        "ONE" + " | where a > 0" * 48,
        "ONE" + (1 to 48).map(i => s" | extend e$i = a + $i").mkString)) {
      val sql = Pql.compileToSql(q, cat)
      assert(multiset(spark.sql(sql)) == multiset(Pql.query(spark, q, cat)), q)
      assert(spark.sql(sql).columns.toSeq == Pql.query(spark, q, cat).columns.toSeq, q)
    }
  }

  test("pipelines as long as the parser admits give the plan path's rows through SQL text") {
    // the text must resolve within the analyzer's 100-pass Resolution
    // batch at every pipeline length the parser admits
    val session = spark
    import session.implicits._
    val t = Seq((1, 2), (2, 2), (3, 5), (4, 5)).toDF("a", "b")
    t.createOrReplaceTempView("LONG")
    def cat(name: String): DataFrame = if (name == "LONG") t else sys.error(s"no fixture table $name")
    def pipeline(n: Int, stage: Int => String): String = "LONG" + (1 to n).map(i => " | " + stage(i)).mkString
    val mixed = Vector("where a > 0", "extend c = a + b", "project a = c, b", "summarize a = max(a) by b")
    val shapes = Seq[(String, Int => String)](
      "where" -> (_ => "where a > 0"),
      "extend" -> (i => s"extend e$i = a + $i"),
      "chained extend" -> (i => if (i == 1) "extend e1 = a + 1" else s"extend e$i = e${i - 1} + 1"),
      "summarize" -> (_ => "summarize a = sum(a) by b"),
      "mixed" -> (i => mixed(i % mixed.size)))
    for ((shape, stage) <- shapes) {
      // the longest pipeline of this shape that Parser.MaxNesting admits
      val n = Iterator.from(1).find { n =>
        scala.util.Try(Pql.parse(pipeline(n + 1, stage))).failed.toOption.exists { e =>
          assert(e.getMessage.contains("nesting deeper"), e.getMessage)
          true
        }
      }.get
      assert(n >= graft.parser.Parser.MaxNesting - 4, s"$shape: $n stages")
      val q = pipeline(n, stage)
      val viaSql = spark.sql(Pql.compileToSql(q, cat))
      val viaPlan = Pql.query(spark, q, cat)
      assert(viaSql.columns.toSeq == viaPlan.columns.toSeq, s"$shape, $n stages")
      assert(multiset(viaSql) == multiset(viaPlan), s"$shape, $n stages")
      info(s"$shape: $n stages")
    }
  }

  test("user identifiers spelled like stage names are never rewritten") {
    val session = spark
    import session.implicits._
    val t = Seq((1, 10), (2, 20), (3, 30)).toDF("__s0", "__s1")
    t.createOrReplaceTempView("S")
    def cat(name: String): DataFrame = if (name == "S") t else sys.error(s"no fixture table $name")
    // `as X` is read twice, so it is a WITH entry; the rest nest in place
    val q = "S | where __s0 > 1 | extend __s2 = __s1 + 1 | as X | join (X | extend __s3 = __s0) on __s0"
    val sql = Pql.compileToSql(q, cat)
    assert(sql.startsWith("WITH "), sql)
    assert(multiset(spark.sql(sql)) == multiset(Pql.query(spark, q, cat)), sql)
    assert(spark.sql(sql).columns.toSeq == Pql.query(spark, q, cat).columns.toSeq, sql)
  }

  test("a table named like a WITH entry is read from the catalog, not shadowed by the entry") {
    val session = spark
    import session.implicits._
    val t = Seq((1, 10), (2, 20), (3, 30)).toDF("a", "b")
    val s0 = Seq((1, 100), (3, 300), (4, 400)).toDF("a", "c")
    t.createOrReplaceTempView("T")
    s0.createOrReplaceTempView("__s0")
    def cat(name: String): DataFrame = name match {
      case "T"    => t
      case "__s0" => s0
      case other  => sys.error(s"no fixture table $other")
    }
    // `as X` is read twice, so it is a WITH entry
    val q = "T | as X | join (X) on a | join (__s0) on a"
    val sql = Pql.compileToSql(q, cat)
    assert(sql.startsWith("WITH "), sql)
    val plan = Pql.query(spark, q, cat)
    assert(spark.sql(sql).columns.toSeq == plan.columns.toSeq, sql)
    assert(multiset(spark.sql(sql)) == multiset(plan), sql)
  }

  test("Walk visits every node and supports pruning") {
    import graft.parser._
    val stmts = Pql.parse(
      "let x = 5; T | where a == x and b > 2 | summarize n = count() by c | top 3 by n")
    var nodes = 0
    stmts.foreach(s => Walk.all(s)(_ => nodes += 1))
    assert(nodes > 15, nodes)
    // table-reference extraction — the canonical Walk use case
    val refs = mutable.Set[String]()
    stmts.foreach(s => Walk.all(s) {
      case t: TabularExpr => refs += t.source.table.name
      case _              =>
    })
    assert(refs == Set("T"))
    // pruning: stop at the TabularExpr, see none of its children
    var afterPrune = 0
    stmts.foreach(s => Walk(s) {
      case _: TabularExpr => afterPrune += 1; false
      case _              => afterPrune += 1; true
    })
    assert(afterPrune < nodes)
  }
}
