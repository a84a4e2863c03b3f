package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ArrayMath, ClassifierAcc, LmBigramStats, MinhashBandKeys, MinhashFirstBand, MinhashMatches,
  MinhashSig, ShingleHashes, SubwordCounts, TextHash}

/** Native codegen expressions in graft.functions. */
class FunctionsSpec extends SparkTestBase {

  import org.scalatest.matchers.should.Matchers._

  private def dotOf(a: Seq[java.lang.Double], b: Seq[java.lang.Double]): Any = {
    val df = spark.createDataFrame(
      java.util.List.of(Row(a, b)),
      org.apache.spark.sql.types.StructType.fromDDL("a array<double>, b array<double>")
    )
    df.select(ArrayMath.dotProduct(col("a"), col("b")).as("d")).head.get(0)
  }

  test("dotProduct matches the interpreted builtin composition bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val a = Seq.fill(64)(rnd.nextDouble() - 0.5)
    val b = Seq.fill(64)(rnd.nextDouble() - 0.5)
    val df = spark.createDataFrame(
      java.util.List.of(Row(a.map(Double.box), b.map(Double.box))),
      org.apache.spark.sql.types.StructType.fromDDL("a array<double>, b array<double>")
    )
    val Row(native: Double, builtin: Double) = df.select(
      ArrayMath.dotProduct(col("a"), col("b")),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), _ + _)
    ).head
    // identical left-fold order → identical bits, not just approximate
    assert(java.lang.Double.doubleToLongBits(native) == java.lang.Double.doubleToLongBits(builtin))
  }

  test("dotProduct null/edge semantics match zip_with+aggregate") {
    dotOf(Seq(1.0, 2.0), Seq(3.0, 4.0)) shouldBe 11.0
    dotOf(Seq.empty, Seq.empty) shouldBe 0.0
    assert(dotOf(null, Seq(1.0)) == null) // null array → null
    assert(dotOf(Seq(1.0, null), Seq(1.0, 2.0)) == null) // null element → null
    assert(dotOf(Seq(1.0), Seq(1.0, 2.0)) == null) // length mismatch (zip_with null-pads) → null
  }

  test("graft_dot resolves in SQL after GraftExtensions.register") {
    graft.functions.GraftExtensions.register(spark)
    val v = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head.getDouble(0)
    v shouldBe 11.0
  }

  test("every graft native expression resolves in SQL after register") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_punct_count('a, b!') AS pc,
        |  graft_sorted_intersect_size(array(1L, 3L, 5L), array(3L, 5L, 7L)) AS si,
        |  size(graft_shingle_hashes(array('a','b','c','d'), 2)) AS sh,
        |  graft_subword_counts(array('ingtion'), 'ing,tion')[0] AS sw,
        |  graft_minhash_matches(array(1L, 2L, 3L), array(1L, 5L, 3L), 3) AS mm,
        |  graft_minhash_band_keys(array(1L, 2L, 3L, 4L), 2, 2)[1] AS bk,
        |  graft_minhash_first_band(array(1L, 2L, 3L, 4L), array(0L, 2L, 3L, 4L), 2, 2) AS fb
        |""".stripMargin).head
    assert(r.getAs[Number]("pc").longValue() == 2L) // ',' and '!'
    assert(r.getAs[Number]("si").longValue() == 2L) // {3,5}
    assert(r.getAs[Number]("sh").longValue() == 3L) // 3 bigrams of 4 tokens
    assert(r.getAs[Number]("sw").longValue() == 2L) // ing + tion
    assert(r.getAs[Number]("mm").longValue() == 2L) // components 1 and 3
    assert(r.getAs[Number]("bk").longValue() == 3L * 2147483647L + 4L)
    assert(r.getAs[Number]("fb").longValue() == 1L) // band 0 differs in its first component
  }

  test("PQL pass-through resolves registered native functions") {
    graft.functions.GraftExtensions.register(spark)
    val df = spark.createDataFrame(
      java.util.List.of(Row(Seq(1.0, 2.0).map(Double.box), Seq(3.0, 4.0).map(Double.box))),
      org.apache.spark.sql.types.StructType.fromDDL("a array<double>, b array<double>")
    )
    // unknown functions forward to the session registry — the same
    // mechanism that exposes the whole Spark SQL library exposes graft's
    // native expressions inside PQL text
    val out = Pql.query(spark, "t | project d = graft_dot(a, b)", Map("t" -> df))
    assert(out.head.getDouble(0) == 11.0)
  }

  private implicit def mapCat(m: Map[String, org.apache.spark.sql.DataFrame]): String => org.apache.spark.sql.DataFrame =
    name => m.getOrElse(name, sys.error(s"unknown table $name"))

  test("dotProduct stays inside whole-stage codegen") {
    // a non-local source, or ConvertToLocalRelation folds the whole
    // projection at optimization time and no codegen stage exists
    val df = spark.range(8)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"), array(lit(3.0), lit(4.0)).as("b"))
      .select(ArrayMath.dotProduct(col("a"), col("b")).as("d"))
    // "*(n) Project [graft_dot(...)]" — the star marks a whole-stage
    // codegen span containing the expression (i.e. doGenCode was used,
    // no fallback to interpreted eval)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot"), s"expected codegen'd graft_dot in:\n$plan")
  }

  // -- compact MinHash comparisons against the unrolled Columns they replace --

  private val P = 2147483647L
  private val sigSchema = StructType.fromDDL("a array<bigint>, b array<bigint>")

  private def unrolledMatches(a: Column, b: Column, k: Int): Column =
    (0 until k).map(i => when(element_at(a, i + 1) === element_at(b, i + 1), 1).otherwise(0)).reduce(_ + _)

  private def unrolledBandKeys(sig: Column, nBands: Int, bandRows: Int): Column =
    if (bandRows == 1) array((0 until nBands).map(j => element_at(sig, j + 1)): _*)
    else array((0 until nBands).map(j => element_at(sig, j * 2 + 1) * P + element_at(sig, j * 2 + 2)): _*)

  private def unrolledFirstBand(a: Column, b: Column, nBands: Int, bandRows: Int): Column =
    (0 until nBands).foldRight(lit(nBands)) { (i, rest) =>
      val eq = (0 until bandRows).map { o =>
        element_at(a, i * bandRows + o + 1) === element_at(b, i * bandRows + o + 1)
      }.reduce(_ && _)
      when(eq, lit(i)).otherwise(rest)
    }

  /** Signature pairs: equal, partly equal, unequal, null arrays, null
    * elements, short and empty arrays, and components ≥ P (the pack
    * overflows: `hi · P` for `huge`, the `+ lo` for `edge`).
    */
  private lazy val sigPairs: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = {
    val rnd = new scala.util.Random(7)
    def sig(n: Int): Seq[java.lang.Long] = Seq.fill(n)(Long.box(rnd.nextLong(P)))
    val s = sig(32)
    val partly = s.zipWithIndex.map { case (v, i) => if (i % 3 == 0) Long.box(v + 1) else v }
    val withNulls = s.zipWithIndex.map { case (v, i) => if (i == 5 || i == 17) null else v }
    val huge = s.updated(6, Long.box(Long.MaxValue / 3))
    val edge = s.updated(2, Long.box(Long.MaxValue / P)).updated(3, Long.box(Long.MaxValue))
    val negative = s.updated(0, Long.box(Long.MinValue / 3))
    Seq(
      (s, s), (s, partly), (s, sig(32)), (null, s), (s, null), (null, null),
      (withNulls, s), (s, withNulls), (withNulls, withNulls),
      (s.take(20), s), (s, s.take(20)), (partly.take(31), s), (Seq.empty, s), (s, Seq.empty),
      (huge, huge), (edge, s), (negative, s), (s.take(7) ++ Seq(null) ++ s.drop(8).take(10), s))
  }

  /** Every input pair's value or error, from a non-local source, so the
    * projection runs in the configured mode and not in
    * ConvertToLocalRelation. All pairs go in one job; when it fails,
    * each pair runs alone, so one row's error hides no other row's
    * value.
    */
  private def evalRows(f: (Column, Column) => Column): Seq[Either[(String, Map[String, String]), Any]] = {
    def run(pairs: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])]): Seq[Any] = {
      val rows = spark.sparkContext.parallelize(pairs.map { case (a, b) => Row(a, b) }, 1)
      spark.createDataFrame(rows, sigSchema).select(f(col("a"), col("b"))).collect().toSeq.map(_.get(0) match {
        case s: scala.collection.Seq[_] => s.toSeq
        case v => v
      })
    }
    try run(sigPairs).map(Right(_))
    catch {
      case _: Exception =>
        sigPairs.map { p =>
          try Right(run(Seq(p)).head)
          catch { case e: Exception => Left(condition(e)) }
        }
    }
  }

  /** `native` against `unrolled` on every input pair, under generated
    * and interpreted evaluation, each with ANSI on and off: equal
    * values, equal error conditions, and the same result type. Returns
    * the error conditions raised.
    */
  private def assertParity(what: String)(native: (Column, Column) => Column,
      unrolled: (Column, Column) => Column): Set[String] =
    (for {
      (factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
      ansi <- Seq("true", "false")
    } yield withConfs(
      "spark.sql.codegen.factoryMode" -> factory,
      "spark.sql.codegen.wholeStage" -> wholeStage,
      "spark.sql.ansi.enabled" -> ansi) {
      val mode = s"$what, $factory, ansi=$ansi"
      val empty = spark.createDataFrame(java.util.List.of[Row](), sigSchema)
      assert(empty.select(native(col("a"), col("b"))).schema.head.copy(name = "v") ===
        empty.select(unrolled(col("a"), col("b"))).schema.head.copy(name = "v"), mode)
      val (got, want) = (evalRows(native), evalRows(unrolled))
      sigPairs.indices.foreach(i => assert(got(i) === want(i), s"$mode, input $i"))
      if (ansi == "false") assert(want.forall(_.isRight), mode)
      want.collect { case Left((cond, _)) => cond }
    }).flatten.toSet

  private val IndexError = "INVALID_ARRAY_INDEX_IN_ELEMENT_AT"

  test("MinhashMatches equals the unrolled element_at indicator sum") {
    val raised = Seq(32, 31).flatMap(k =>
      assertParity(s"matches k=$k")(MinhashMatches(_, _, k), unrolledMatches(_, _, k)))
    assert(raised.toSet == Set(IndexError))
  }

  test("MinhashBandKeys equals the unrolled band-key array, overflow included") {
    val raised = Seq(32 -> 1, 16 -> 2, 31 -> 1, 15 -> 2).flatMap { case (nBands, bandRows) =>
      assertParity(s"band keys $nBands×$bandRows")(
        (a, _) => MinhashBandKeys(a, nBands, bandRows), (a, _) => unrolledBandKeys(a, nBands, bandRows))
    }
    assert(raised.toSet == Set(IndexError, "ARITHMETIC_OVERFLOW"))
  }

  test("MinhashFirstBand equals the unrolled first-matching-band fold") {
    val raised = Seq(16 -> 2, 31 -> 1, 15 -> 2, 10 -> 3).flatMap { case (nBands, bandRows) =>
      assertParity(s"first band $nBands×$bandRows")(
        MinhashFirstBand(_, _, nBands, bandRows), unrolledFirstBand(_, _, nBands, bandRows))
    }
    assert(raised.toSet == Set(IndexError))
  }

  // -- array-valued text expressions: unboxed results --

  private val P31 = 2147483647L

  /** First 4 md5 bytes of the UTF-8 string as an unsigned long. */
  private def md5Prefix(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private def md5Hash(s: String): Long = md5Prefix(s) % P31

  /** The shingle-hash contract: the n = 3 two-multiplier combine, Horner's
    * rule for other n, and the whole text hashed for short arrays.
    */
  private def shingles(ts: Seq[String], n: Int): Seq[Long] =
    if (ts.length < n) Seq(md5Hash(ts.mkString(" ")))
    else ts.map(md5Hash).sliding(n).map { w =>
      if (n == 3) (w(0) * 1000003L + w(1) * 10007L + w(2)) % P31
      else w.reduceLeft((acc, h) => (acc * 1000003L + h) % P31)
    }.toSeq

  private def minhash(hs: Seq[Long], k: Int): Seq[Long] =
    if (hs.isEmpty) null
    else (1 to k).map { j =>
      val (a, b) = ((1103515245L * j + 12345L) % P31, (987654321L * j + 67890L) % P31)
      hs.map(h => (a * h + b) % P31).min
    }

  test("array-valued text expressions return unboxed arrays, equal generated and interpreted") {
    val texts = Seq(Seq("the", "quick", "brown", "fox", "jumps"), Seq("tion", "xyz"), Seq("a"), Seq(), null)
    val weights = Array(3L, -1L, 7L)
    val lmModel = texts.head.sliding(2).map(w => shingles(w, 2).head).toSeq.sorted.take(2)
    val exprs: Seq[(String, Column => Column, Seq[String] => Seq[Long])] = Seq(
      ("shingles n=3", TextHash.shingleHashes(_), ts => shingles(ts, 3)),
      ("shingles n=2", TextHash.shingleHashes(_, 2), ts => shingles(ts, 2)),
      ("minhash k=4", t => MinhashSig(TextHash.shingleHashes(t), 4), ts => minhash(shingles(ts, 3), 4)),
      ("classifier", ClassifierAcc(_, weights), { ts =>
        val hs = ts.filter(_.nonEmpty).map(md5Prefix)
        Seq(hs.map(h => weights((h % weights.length).toInt)).sum, hs.length.toLong)
      }),
      ("lm bigrams", LmBigramStats(_, lmModel.toArray, lmModel.indices.map(_ + 10L).toArray), { ts =>
        if (ts.length < 2) Seq(0L, 0L, 0L)
        else {
          val hits = shingles(ts, 2).flatMap(h => Some(lmModel.indexOf(h)).filter(_ >= 0))
          Seq(ts.length - 1L, hits.length.toLong, hits.map(_ + 10L).sum)
        }
      }),
      ("subwords", SubwordCounts.subwordCounts(_, Seq("tion", "th", "e")), {
        case Seq("the", _*) => Seq(20L, 18L) // th·e, then one code point per letter
        case Seq("tion", "xyz") => Seq(4L, 3L)
        case Seq("a") => Seq(1L, 1L)
        case _ => Seq(0L, 0L)
      }))
    val schema = StructType.fromDDL("t array<string>")
    for {
      (factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
      (name, expr, want) <- exprs
    } withConfs("spark.sql.codegen.factoryMode" -> factory, "spark.sql.codegen.wholeStage" -> wholeStage) {
      val rows = spark.sparkContext.parallelize(texts.map(Row(_)), 1)
      val got = spark.createDataFrame(rows, schema).select(expr(col("t"))).collect().toSeq
        .map(r => Option(r.getSeq[Long](0)).map(_.toSeq).orNull)
      assert(got == texts.map(ts => if (ts == null) null else want(ts)), s"$name, $factory")
    }
    def utf8(ts: String*) = new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])
    for (out <- Seq(
        ShingleHashes.compute(utf8("a", "b", "c"), 3), ShingleHashes.compute(utf8("a"), 3),
        MinhashSig.compute(ShingleHashes.compute(utf8("a", "b", "c"), 3), 4),
        ClassifierAcc.compute(utf8("a"), weights), LmBigramStats.compute(utf8("a"), Array(1L), Array(1L)),
        LmBigramStats.compute(utf8("a", "b"), Array(1L), Array(1L)),
        SubwordCounts.compute(utf8("ab"), "a")))
      assert(out.isInstanceOf[UnsafeArrayData], out.getClass.getName)
  }
}
