package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.compiler.PqlCompileException
import graft.fuzz.PipelineGen
import graft.parser.{Parser, PqlParseException, TabularExpr}

/** Invalid-input rejection parity fuzz (round 19, VERDICT r18 ask 4):
  * valid generated pipelines mutated into NEAR-MISS invalid ones, with
  * the rejection contract asserted per mutation class — the contract
  * embedders lean on (reference anchor: parser.go's spanned errors;
  * SqlGen's spanned rejections).
  *
  *  - **strict parity**: mutations whose rejection graft owns in BOTH
  *    backends (unknown table, non-constant/negative `take`, invalid
  *    durations, scalar-fn arity, bad `let`, unknown dedup kind,
  *    unknown/duplicate/conflicting extension options, geometry range
  *    violations, sample-rate range, zero `chunk` size or `pack`
  *    budget, a missing `dedup`/`chunk`/`pack`/`decontam` input
  *    column): `Pql.query` and
  *    `Pql.compileToSql` must BOTH throw a spanned Pql exception with
  *    the SAME span — and never crash with anything unspanned.
  *  - **text-only**: adaptive-geometry forms the plan path accepts
  *    must be spanned rejections from the text backend (the
  *    DiffFuzzSpec contract, here with adversarial option spellings).
  *  - **plan-only (streaming)**: batch-only operators/kinds on a
  *    STREAMING input must be spanned compile errors from the plan
  *    path (the text backend has no streaming notion).
  *  - **deferred (engine-owned)**: unknown columns of the reference's
  *    operators follow its transpiler model — resolution is the engine's job,
  *    so both paths must still reject with the engine's
  *    AnalysisException (both at COMPILE time: the plan path analyzes
  *    eagerly, and SqlGen renders its text over the same compiler's
  *    stage DataFrames), never silently succeed.
  *
  * Seed count: GRAFT_REJECTFUZZ_N (default 120 — smoke sweep so the
  * full `sbt test` fits the driver's verify window; set 600 for the
  * round-19 campaign size).
  */
class RejectFuzzSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val catalog: String => DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    val cat = Pql.parquetDir(spark, sfDir)
    PipelineGen.tables.keys.foreach(t => cat(t).createOrReplaceTempView(t))
    cat
  }

  // ---- mutation engine -----------------------------------------------------

  /** The source-table ident span of the (single) tabular statement,
    * located through the real parser so the splice is exact.
    */
  private def sourceTableSpan(pql: String): (Int, Int) = {
    val t = Parser.parse(pql).collectFirst { case te: TabularExpr => te }.get
    (t.source.table.span.start, t.source.table.span.end)
  }

  private def splice(pql: String, span: (Int, Int), replacement: String): String =
    pql.substring(0, span._1) + replacement + pql.substring(span._2)

  /** A near-miss mutation of the seed's generated pipeline. `klass`
    * keys the assertion mode.
    */
  private final case class Mutation(klass: String, pql: String)

  private def mutate(seed: Long): Option[Mutation] = {
    val gq = PipelineGen(seed)
    if (!gq.sqlEmittable) return None // the text backend rejects the BASE
    val r = new scala.util.Random(seed * 7919L + 13L)
    val m = r.nextInt(8) match {
      case 0 => Mutation("strict", splice(gq.pql, sourceTableSpan(gq.pql), "no_such_tbl_99"))
      case 1 => Mutation("strict", gq.pql + s"\n| take -${r.nextInt(90) + 1}")
      case 2 => Mutation("strict", gq.pql + "\n| take qq_unknown_77")
      case 3 => Mutation("strict", gq.pql + s"""\n| extend zz9q = bin(1, "${r.nextInt(9)}parsec")""")
      case 4 => Mutation("strict", gq.pql + "\n| extend zz9q = strcat()")
      case 5 => Mutation("strict", s"let zzq77 = no_such_ident_88;\n" + gq.pql)
      case 6 => Mutation("strict", gq.pql + "\n| dedup kind=nosuchkind text by doc_id")
      case 7 => Mutation("deferred", gq.pql + "\n| where no_such_col_66 > 5")
    }
    Some(m)
  }

  /** Fixed-prefix near-miss extension forms: the option/geometry
    * validation surface both backends share through ONE resolver
    * (`compiler.ExtOptions`) — this sweep pins that each backend calls
    * it at the same point, with seeded values so ranges are swept
    * rather than spot-checked. Successive `row`s cycle through the
    * table's 16 forms, so the default 40 strict seeds reach each one.
    */
  private def fixedInvalid(row: Int, r: scala.util.Random): String = {
    val bits = r.nextInt(30) + 63  // > 62
    val p = r.nextInt(40) + 2
    val b = p + r.nextInt(20) + 1  // planes < bits
    val rate = (r.nextInt(50) + 11).toDouble / 10.0 // > 1.0
    row % 16 match {
      case 0 => s"embeddings | dedup kind=embed dim=64 planes=$p bits=$b embedding by vec_id"
      case 1 => s"embeddings | dedup kind=embed dim=64 planes=16 bits=$bits embedding by vec_id"
      case 2 => "embeddings | dedup kind=embed dim=64 planes=16 bits=8 occupancy=4 embedding by vec_id"
      case 3 => "embeddings | dedup kind=embed dim=64 planes=16 embedding by vec_id"
      case 4 => "embeddings | dedup kind=embed dim=64 cells=9 embedding by vec_id" // cells invalid for embed
      case 5 => "embeddings | dedup kind=semantic cells=4 occupancy=4 embedding by vec_id"
      case 6 => s"documents | sample $rate by doc_id"
      case 7 => s"embeddings | ann kind=lsh dim=64 planes=$p bits=$b (embeddings) on embedding by vec_id"
      case 8 => s"documents | dedup kind=minhash nope$p=3 text by doc_id"
      case 9 => "documents | chunk 0 text by doc_id"
      case 10 => s"documents | chunk $p text by doc_id | pack 0 n_tokens by doc_id, chunk_idx"
      // an input column the operator needs is missing
      case 11 => s"documents | dedup kind=exact body$p by doc_id"
      case 12 => s"documents | chunk 16 body$p by doc_id"
      case 13 => s"documents | chunk 16 text by doc_id | pack 64 body$p by doc_id, chunk_idx"
      case 14 => s"documents | decontam against (documents | take 5) body$p by doc_id"
      case _ => "documents | decontam against (documents | project doc_id) text by doc_id" // eval side
    }
  }

  /** Adaptive forms: plan path accepts, text backend must reject. */
  private def adaptiveForm(r: scala.util.Random): String = r.nextInt(4) match {
    case 0 => "embeddings | dedup kind=embed dim=64 embedding by vec_id"
    case 1 => s"embeddings | dedup kind=semantic occupancy=${r.nextInt(60) + 4} embedding by vec_id"
    case 2 => "embeddings | ann kind=ivf dim=64 (embeddings | take 5) on embedding by vec_id"
    case _ => "documents | sample budget=800 text by doc_id, source"
  }

  // ---- assertion engine ------------------------------------------------------

  /** Left(problem) | Right(span) — a spanned graft rejection. */
  private def spannedRejection(what: String)(body: => Any): Either[String, (Int, Int)] =
    try { body; Left(s"$what: accepted (expected a spanned rejection)") }
    catch {
      case e: PqlCompileException if e.span.isValid => Right((e.span.start, e.span.end))
      case e: PqlParseException if e.span.isValid   => Right((e.span.start, e.span.end))
      case e: PqlCompileException => Left(s"$what: rejection without a valid span: ${e.getMessage}")
      case e: PqlParseException   => Left(s"$what: parse rejection without a valid span: ${e.getMessage}")
      case e: Throwable =>
        Left(s"$what: unspanned ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def rejectedByEngine(what: String)(body: => Any): Option[String] =
    try { body; Some(s"$what: accepted (expected an engine rejection)") }
    catch {
      case _: org.apache.spark.sql.AnalysisException => None
      case e: PqlCompileException if e.span.isValid  => None // graft got there first — fine
      case e: Throwable =>
        Some(s"$what: expected AnalysisException, got ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def checkStrict(pql: String): Option[String] =
    (spannedRejection("plan")(Pql.query(spark, pql, catalog)),
      spannedRejection("text")(Pql.compileToSql(pql, catalog))) match {
      case (Right(p), Right(t)) =>
        if (p == t) None
        else Some(s"span mismatch: plan=$p text=$t")
      case (Left(e), _) => Some(e)
      case (_, Left(e)) => Some(e)
    }

  private def checkDeferred(pql: String): Option[String] =
    rejectedByEngine("plan")(Pql.query(spark, pql, catalog)).orElse {
      // the text backend builds each stage's DataFrame with the plan
      // path's compiler, so engine-owned resolution errors surface as
      // AnalysisException at compile-to-text time too (same timing as
      // the plan path); if a form ever compiles to text anyway,
      // executing it must reject
      val sql =
        try Pql.compileToSql(pql, catalog)
        catch {
          case e: PqlCompileException if e.span.isValid     => return None
          case _: org.apache.spark.sql.AnalysisException    => return None
        }
      rejectedByEngine("emitted sql")(spark.sql(sql).collect())
    }

  private def checkTextOnly(pql: String): Option[String] = {
    try Pql.query(spark, pql, catalog)
    catch {
      case e: Exception => return Some(s"plan path rejected an adaptive form: ${e.getMessage}")
    }
    spannedRejection("text")(Pql.compileToSql(pql, catalog)).left.toOption
  }

  // ---- legs ------------------------------------------------------------------

  test("mutated pipelines: plan and text backends reject identically, never crash") {
    val n = sys.env.getOrElse("GRAFT_REJECTFUZZ_N", "120").toInt
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val mix = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    (1 to n).foreach { seed =>
      try {
        val r = new scala.util.Random(seed * 31L + 7L)
        val m = seed % 3 match {
          case 0 => Some(Mutation("strict", fixedInvalid(seed / 3, r)))
          case 1 => Some(Mutation("textonly", adaptiveForm(r)))
          case _ => mutate(seed.toLong)
        }
        m.foreach { mut =>
          mix(mut.klass) += 1
          val problem = mut.klass match {
            case "strict"   => checkStrict(mut.pql)
            case "deferred" => checkDeferred(mut.pql)
            case _          => checkTextOnly(mut.pql)
          }
          problem.foreach(p => failures += s"seed $seed [${mut.klass}]: $p\n--- pql:\n${mut.pql}\n")
        }
      } catch {
        case e: Exception =>
          failures += s"seed $seed: harness: ${e.getClass.getSimpleName}: ${e.getMessage}\n  at " +
            e.getStackTrace.filter(f => f.getClassName.contains("graft")).take(8).mkString("\n  at ")
      }
    }
    info(s"$n seeds: " + mix.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", "))
    assert(failures.isEmpty,
      s"\n${failures.length} rejection-parity failures (showing up to 8):\n" +
        failures.take(8).mkString("\n"))
  }

  test("batch-only operators on a STREAMING input: spanned plan rejections under random pre-ops") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String, String, String, Long)]
    val wm = graft.streaming.Streaming.withEventTime(
      ms.toDF.toDF("ts", "doc_id", "text", "lang", "source", "n_chars"), "ts", "5 minutes")
    val cat: String => DataFrame =
      { case "documents" => wm; case other => sys.error(s"no streaming table $other") }

    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var checked = 0
    (1 to 150).foreach { seed =>
      val gq = PipelineGen.stream(seed.toLong)
      if (gq.base == "documents" && gq.terminal != "stateless") {
        val r = new scala.util.Random(seed * 17L + 3L)
        val tail = r.nextInt(6) match {
          case 0 => "dedup kind=lines text by doc_id"
          case 1 => "dedup kind=substrings text by doc_id"
          case 2 => "dedup kind=simhash text by doc_id"
          case 3 => "dedup kind=semantic text by doc_id"
          case 4 => "sample budget=100 text by doc_id, source"
          case _ => "ann (documents) on text by doc_id"
        }
        val pql = gq.prePql + "\n| " + tail
        checked += 1
        spannedRejection("plan")(Pql.query(spark, pql, cat)) match {
          case Left(p)  => failures += s"seed $seed: $p\n--- pql:\n$pql\n"
          case Right(_) => ()
        }
      }
    }
    info(s"$checked streaming-unsafe forms checked")
    assert(checked > 20, s"only $checked streaming seeds — generator drifted?")
    assert(failures.isEmpty,
      s"\n${failures.length} streaming rejection failures (showing up to 5):\n" +
        failures.take(5).mkString("\n"))
  }
}
