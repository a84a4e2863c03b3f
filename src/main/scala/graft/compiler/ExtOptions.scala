package graft.compiler

import org.apache.spark.sql.DataFrame

import graft.parser.{OpOption, Span}

/** Compile-time resolution of the extension operators' literal
  * `name=<number>` options, sizes, rates and input columns — ONE home
  * for every option name, default, range check, conflict message and
  * "column not found", used by BOTH the DataFrame compiler and the
  * SQL-text backend (the [[ExtJoins]] pattern), so the two paths
  * reject exactly the same inputs with exactly the same spans. Each
  * entry point returns a small resolved case class (or the checked
  * value) the backends use; neither backend checks an option itself.
  *
  * Sizing is explicit in the result: a `Fixed` geometry / cell count,
  * or `Adaptive` — sized at plan time from a corpus count, which only
  * the DataFrame compiler can carry (SqlGen rejects it).
  */
private[compiler] object ExtOptions {

  type Fail = (String, Span) => Nothing

  /** Sign-LSH band geometry (`dedup kind=embed`, `ann kind=lsh`). */
  sealed trait Geometry
  object Geometry {
    final case class Fixed(planes: Int, bits: Int) extends Geometry
    /** bands sized so expected bucket occupancy stays ≤ `occupancy` */
    final case class Adaptive(occupancy: Int) extends Geometry
  }

  /** Voronoi cell count (`dedup kind=semantic`). */
  sealed trait Cells
  object Cells {
    final case class Fixed(cells: Int) extends Cells
    /** `ceil(n / target)` cells from the corpus count */
    final case class Adaptive(target: Int) extends Cells
  }

  sealed trait Dedup
  object Dedup {
    /** exact, lines, substrings, minhash, simhash: no options */
    case object Unsized extends Dedup
    final case class Embed(dim: Int, cos: Double, geometry: Geometry) extends Dedup
    final case class Semantic(cos: Double, cells: Cells) extends Dedup
  }

  /** Streaming `dedup kind=embed`: always a fixed geometry. */
  final case class StreamEmbed(dim: Int, geometry: Geometry.Fixed)

  sealed trait Ann
  object Ann {
    final case class Brute(k: Int) extends Ann
    final case class Lsh(k: Int, dim: Int, geometry: Geometry) extends Ann
    /** `cells = None`: √n cells from the corpus count */
    final case class Ivf(k: Int, dim: Int, cells: Option[Int], probes: Int) extends Ann
  }

  final case class Decontam(hits: Int, ngram: Int)
  final case class Pack(budget: Int, shards: Int)
  final case class SampleBudget(budget: Long, bits: Int)

  def dedup(kind: String, opts: List[OpOption], span: Span, fail: Fail): Dedup = {
    val opName = s"dedup kind=$kind"
    kind match {
      case "embed" =>
        // the embedding dimension is a plan parameter (hyperplane
        // count per signature bit), not derivable from the array
        // column's type — required in the query text
        val o = new OpOptions(opts, span, Set("dim", "cos", "occupancy", "planes", "bits"), opName, fail)
        val dim = o.requiredInt("dim", min = 1)
        val cos = o.double("cos", 0.4, min = -1.0, max = 1.0)
        Dedup.Embed(dim, cos, geometry(o, opName, span, fail))
      case "semantic" =>
        // occupancy= is the target CELL SIZE: within-cell work is
        // quadratic in it, so cells scale linearly with the corpus;
        // cells= pins a fixed index (the regression-sentry path)
        val o = new OpOptions(opts, span, Set("cells", "cos", "occupancy"), opName, fail)
        val cos = o.double("cos", 0.9, min = -1.0, max = 1.0)
        val cells = (o.intOpt("occupancy", min = 1), o.intOpt("cells", min = 1)) match {
          case (Some(_), Some(_)) => fail(s"$opName takes cells= or occupancy=, not both", span)
          case (occ, None)        => Cells.Adaptive(occ.getOrElse(64))
          case (None, Some(c))    => Cells.Fixed(c)
        }
        Dedup.Semantic(cos, cells)
      case _ =>
        noOptions(opts, span, opName, fail)
        Dedup.Unsized
    }
  }

  /** A stream cannot be counted at plan time, so the embed geometry
    * is always fixed: planes=/bits= default to 32/8 and pass the same
    * range checks as the batch form (occupancy= and the cos= rescore
    * are batch-only).
    */
  def streamEmbed(opts: List[OpOption], span: Span, fail: Fail): StreamEmbed = {
    val o = new OpOptions(opts, span, Set("dim", "planes", "bits"), "streaming dedup kind=embed", fail)
    val dim = o.requiredInt("dim", min = 1)
    StreamEmbed(dim, fixed(o.int("planes", 32, min = 1), o.int("bits", 8, min = 1), span, fail))
  }

  def noOptions(opts: List[OpOption], span: Span, opName: String, fail: Fail): Unit =
    new OpOptions(opts, span, Set.empty, opName, fail)

  def ann(kind: String, opts: List[OpOption], span: Span, fail: Fail): Ann = {
    val opName = s"ann kind=$kind"
    kind match {
      case "brute" =>
        val o = new OpOptions(opts, span, Set("k"), opName, fail)
        Ann.Brute(o.int("k", 5, min = 1))
      case "lsh" =>
        val o = new OpOptions(opts, span, Set("k", "dim", "planes", "bits", "occupancy"), opName, fail)
        val k = o.int("k", 5, min = 1)
        val dim = o.requiredInt("dim", min = 1)
        Ann.Lsh(k, dim, geometry(o, opName, span, fail))
      case "ivf" =>
        // the SEEDED centroid family (hash-sampled from the corpus);
        // no cells= resolves √n cells at plan time
        val o = new OpOptions(opts, span, Set("k", "dim", "cells", "probes"), opName, fail)
        val k = o.int("k", 5, min = 1)
        val dim = o.requiredInt("dim", min = 1)
        val cells = o.intOpt("cells", min = 1)
        Ann.Ivf(k, dim, cells, o.int("probes", 2, min = 1))
      case other =>
        fail(s"unknown ann kind $other", span)
    }
  }

  def decontam(opts: List[OpOption], span: Span, fail: Fail): Decontam = {
    val o = new OpOptions(opts, span, Set("hits", "ngram"), "decontam", fail)
    Decontam(o.int("hits", 2, min = 1), o.int("ngram", 3, min = 1))
  }

  /** `| pack <budget> …`: `budget` is the evaluated row count at `budgetSpan`. */
  def pack(opts: List[OpOption], budget: Int, budgetSpan: Span, span: Span, fail: Fail): Pack = {
    val shards = new OpOptions(opts, span, Set("shards"), "pack", fail).int("shards", 64, min = 1)
    Pack(positive("pack budget", budget, budgetSpan, fail), shards)
  }

  /** `| chunk <n> …`: tokens per chunk, the evaluated row count at `span`. */
  def chunk(tokens: Int, span: Span, fail: Fail): Int = positive("chunk size", tokens, span, fail)

  /** `| sample <rate> by id`: a keep probability in [0, 1]. */
  def sampleRate(rate: String, span: Span, fail: Fail): Double = {
    val r =
      try rate.toDouble
      catch { case _: NumberFormatException => fail(s"invalid sample rate $rate", span) }
    if (r < 0.0 || r > 1.0) fail(s"sample rate must be in [0, 1], got $rate", span)
    r
  }

  /** The operator's input columns must exist in `df`; `side` names a
    * second input (" on the eval side").
    */
  def columns(opName: String, df: DataFrame, names: Seq[String], span: Span, fail: Fail, side: String = ""): Unit =
    names.find(n => !hasColumn(df, n)).foreach(n => fail(s"$opName column $n not found$side", span))

  /** Column existence the way the ANALYZER resolves it — respecting
    * `spark.sql.caseSensitive` (default false), so a check accepts
    * exactly the names the plan resolves (a case-sensitive contains()
    * once rejected `dedup Text by doc_id`, which the plan runs).
    */
  private def hasColumn(df: DataFrame, name: String): Boolean =
    if (df.sparkSession.sessionState.conf.caseSensitiveAnalysis) df.columns.contains(name)
    else df.columns.exists(_.equalsIgnoreCase(name))

  private def positive(what: String, n: Int, span: Span, fail: Fail): Int = {
    if (n <= 0) fail(s"$what must be positive, got $n", span)
    n
  }

  def sampleBudget(opts: List[OpOption], span: Span, fail: Fail): SampleBudget = {
    val o = new OpOptions(opts, span, Set("budget", "bits"), "sample budget=", fail)
    val budget = o.requiredLong("budget", min = 0L)
    val bits = o.int("bits", 12, min = 1)
    if (bits > 31) fail(s"option bits must be in [1, 31], got $bits", span)
    SampleBudget(budget, bits)
  }

  /** planes=/bits= pin a FIXED geometry (both together), occupancy=
    * tunes the ADAPTIVE default (64 unset); any mix of occupancy= with
    * full or partial fixed geometry is the same conflict.
    */
  private def geometry(o: OpOptions, opName: String, span: Span, fail: Fail): Geometry =
    (o.intOpt("planes", min = 1), o.intOpt("bits", min = 1), o.intOpt("occupancy", min = 1)) match {
      case (p, b, Some(_)) if p.isDefined || b.isDefined =>
        fail(s"$opName takes planes=/bits= or occupancy=, not both", span)
      case (Some(p), Some(b), None) => fixed(p, b, span, fail)
      case (None, None, t)          => Geometry.Adaptive(t.getOrElse(64))
      case _                        => fail(s"$opName needs planes= and bits= together", span)
    }

  /** Spanned range errors, not raw requires from the op: both widths
    * fit the 62-bit packed signature, and planes < bits would silently
    * make zero bands.
    */
  private def fixed(p: Int, b: Int, span: Span, fail: Fail): Geometry.Fixed = {
    if (b > 62) fail(s"option bits must be in [1, 62], got $b", span)
    if (p > 62) fail(s"option planes must be in [1, 62], got $p", span)
    if (p < b) fail(s"planes ($p) must be at least bits ($b) — one band minimum", span)
    Geometry.Fixed(p, b)
  }

  /** Validated accessor over one operator's options: rejects
    * unknown/duplicate names at construction, parses per accessor.
    */
  private final class OpOptions(
      opts: List[OpOption],
      opSpan: Span,
      allowed: Set[String],
      opName: String,
      fail: Fail
  ) {
    opts.groupBy(_.name.name).collectFirst { case (_, os) if os.sizeIs > 1 => os(1) }
      .foreach(o => fail(s"duplicate option ${o.name.name}", o.name.span))
    opts.find(o => !allowed.contains(o.name.name)).foreach { o =>
      val hint = if (allowed.isEmpty) "takes no options" else s"allows ${allowed.toList.sorted.mkString(", ")}"
      fail(s"option ${o.name.name} not valid for $opName ($opName $hint)", o.name.span)
    }
    private val byName = opts.map(o => o.name.name -> o).toMap

    def int(name: String, default: Int, min: Int): Int =
      byName.get(name).fold(default)(integral(_, min, Int.MaxValue).toInt)

    def intOpt(name: String, min: Int): Option[Int] =
      byName.get(name).map(integral(_, min, Int.MaxValue).toInt)

    def requiredInt(name: String, min: Int): Int = integral(required(name), min, Int.MaxValue).toInt

    def requiredLong(name: String, min: Long): Long = integral(required(name), min, Long.MaxValue)

    def double(name: String, default: Double, min: Double, max: Double): Double =
      byName.get(name).fold(default) { o =>
        val v = o.value.toDoubleOption.getOrElse(
          fail(s"option $name must be a number, got ${o.value}", o.valueSpan))
        if (v < min || v > max) fail(s"option $name must be in [$min, $max], got $v", o.valueSpan)
        v
      }

    private def required(name: String): OpOption =
      byName.getOrElse(name, fail(s"$opName requires option $name=<n>", opSpan))

    private def integral(o: OpOption, min: Long, max: Long): Long = {
      val v = o.value.toLongOption.filter(_ <= max).getOrElse(
        fail(s"option ${o.name.name} must be an integer, got ${o.value}", o.valueSpan))
      if (v < min) fail(s"option ${o.name.name} must be >= $min, got $v", o.valueSpan)
      v
    }
  }
}
