package graft.compiler

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.parser._

/** Compiles a parsed PQL program into a Spark [[DataFrame]].
  *
  * Where the reference emits one SQL CTE per pipeline stage
  * (/root/reference/pql.go:120-530), graft folds each tabular operator
  * directly onto the DataFrame, producing a single declarative Catalyst
  * plan — predicate pushdown, column pruning, join strategy selection
  * and AQE all apply to the whole pipeline. `sort | take` pairs become
  * `orderBy().limit()`, which Spark plans as TakeOrderedAndProject
  * (per-partition top-K + merge; no global sort).
  *
  * @param source  original query text (for error positions and naming
  *                unnamed computed columns after their source text).
  * @param catalog resolves a table name to a DataFrame.
  * @param params  external parameter bindings (name → Column).
  */
private[graft] final class Compiler(
    source: String,
    catalog: String => DataFrame,
    params: Map[String, Column]
) {

  /** The one expression compiler of this compile; the SQL-text backend
    * renders its Columns.
    */
  private[compiler] val exprs = new Exprs(source)
  import exprs.{attr, compile, fail, sourceText}

  /** `let` bindings + params, visible to scalar expressions. */
  private val scope = mutable.LinkedHashMap[String, Column]() ++= params
  /** AST forms of `let` bindings, for constant row-count evaluation. */
  private val letAsts = mutable.Map[String, Expr]()
  /** Pipeline stages named via `| as Name`. */
  private val namedResults = mutable.Map[String, DataFrame]()

  private def env: ExprEnv = ExprEnv(scope)

  def run(stmts: List[Statement]): DataFrame = compileTabular(bind(stmts))

  /** Binds the `let` statements ahead of the query into scope and
    * returns the program's one tabular query.
    */
  private[compiler] def bind(stmts: List[Statement]): TabularExpr = {
    var tabular: Option[TabularExpr] = None
    stmts.foreach {
      case let: LetStatement =>
        // Let statements after the query are out of scope (reference
        // behavior: /root/reference/pql.go:57-62).
        if (tabular.isEmpty) {
          scope(let.name.name) = compile(let.x, env.copy(letMode = true))
          letAsts(let.name.name) = let.x
        }
      case t: TabularExpr =>
        if (tabular.isDefined) fail("batch queries not supported", t.span)
        tabular = Some(t)
    }
    tabular.getOrElse(throw new PqlCompileException("missing tabular query", Span.none, source))
  }

  private[compiler] def resolveTable(name: Ident): DataFrame =
    namedResults.get(name.name) match {
      case Some(df) => df
      case None =>
        try catalog(name.name)
        catch {
          case e: Exception => fail(s"unknown table ${name.name}: ${e.getMessage}", name.span)
        }
    }

  def compileTabular(t: TabularExpr): DataFrame =
    t.operators.foldLeft(resolveTable(t.source.table))(applyOp(_, _, compileTabular))

  // ---- operators -----------------------------------------------------

  /** Structured Streaming allows at most ONE event-time column per
    * STATEFUL operator: a project/extend alias that merely COPIES the
    * watermarked column inherits its watermark metadata (Alias
    * propagates NamedExpression metadata), and a downstream stateful
    * operator aborts with `STREAM_FAILED … more than one event time
    * column` — for a query that runs fine in batch (found by
    * StreamFuzz seed 36: `embeddings | extend x1 = ts | dedup
    * kind=embed …`). Copies are legal through any number of STATELESS
    * transforms, and a copy-then-drop-original pipeline (`extend t2 =
    * ts | project t2, … | summarize … by bin(t2, …)`) NEEDS the copy
    * to keep its metadata until the original is projected away — so
    * the strip happens here, at the point a stateful operator is
    * compiled, never eagerly at extend/project. `preferred` is the
    * column the stateful operator actually binds to (the `bin()`
    * argument for windowed aggregation); every watermarked column is a
    * per-row copy of the same source event time (Alias only inherits
    * metadata from a bare attribute), so when no preference applies,
    * keeping the first in schema order is deterministic and
    * value-identical. Only the watermark key is removed — other field
    * metadata (e.g. parquet comments) rides through — and names are
    * backtick-quoted so dotted/quoted PQL identifiers survive the
    * re-select.
    */
  private def singleEventTime(df: DataFrame, preferred: Option[String]): DataFrame = {
    if (!df.isStreaming) return df
    val key = "spark.watermarkDelayMs"
    val wm = df.schema.fields.filter(_.metadata.contains(key)).map(_.name)
    if (wm.length <= 1) return df
    val keep = preferred.filter(wm.contains).getOrElse(wm.head)
    df.select(df.columns.toIndexedSeq.map { c =>
      if (c == keep || !wm.contains(c)) attr(c)
      else {
        val stripped = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(df.schema(c).metadata).remove(key).build()
        attr(c).as(c, stripped)
      }
    }: _*)
  }

  /** One pipeline stage: `op` applied to its input frame `df`. `sub`
    * supplies the frame of the operator's sub-pipeline (a join's right
    * side, the decontam eval side, the ann queries); this compiler's
    * own fold compiles it, and the SQL-text backend hands over the
    * frame it has already folded, so no sub-pipeline is built twice.
    */
  private[compiler] def applyOp(
      df: DataFrame, op: TabularOperator, sub: TabularExpr => DataFrame): DataFrame = op match {
    case WhereOp(pred, _) => df.filter(column(pred))

    case ProjectOp(cols, _) =>
      df.select(cols.map(c => projectColumn(c).as(c.name.name)): _*)

    case ExtendOp(cols, _) =>
      df.select(col("*") +: cols.map(computed): _*)

    case SummarizeOp(aggs, by, _) =>
      val aggCols = aggs.map(computed)
      // Streaming: a `bin(ts, "dur")` group key becomes a native
      // tumbling window() struct, so the analyzer sees the event-time
      // column and the aggregation runs append-mode with bounded state
      // (watermark-evictable). Values are identical to bin() — both
      // floor to epoch-aligned multiples — and the struct is replaced
      // by its `start` after the agg, keeping the batch output schema.
      val binKey: Option[(ComputedColumn, Int, Expr, Long)] =
        if (!df.isStreaming) None
        else by.zipWithIndex.collectFirst {
          case (cc @ ComputedColumn(_, CallExpr(f, List(ts, BasicLit(TokenKind.Str, dur, sp)), _)), idx)
              if f.name == "bin" =>
            (cc, idx, ts, exprs.parseDurationMillis(dur, sp))
        }
      binKey match {
        case Some((cc, idx, ts, ms)) =>
          val name = cc.name.map(_.name).getOrElse(sourceText(cc.x.span))
          // the stateful op binds to the bin() argument — when copies
          // of the event-time column are in flight, keep that one
          val preferred = ts match {
            case QualifiedIdent(List(id)) => Some(id.name)
            case _                        => None
          }
          val dfS = singleEventTime(df, preferred)
          // no cast here: casting the event-time attribute strips the
          // watermark metadata and append mode stops resolving
          val win = window(compile(ts, env), s"$ms milliseconds").as(name)
          val keyCols = by.map(computed).patch(idx, Seq(win), 1)
          val agged =
            if (aggCols.isEmpty)
              // distinct form: a keys-only streaming aggregation keeps
              // the watermark-evictable window state (a .distinct()
              // here would be an unbounded streaming Deduplicate)
              dfS.groupBy(keyCols: _*).agg(max(lit(1)).as("__g")).drop("__g")
            else dfS.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
          agged.withColumn(name, col(name).getField("start"))
        case None =>
          val keyCols = by.map(computed)
          if (aggCols.isEmpty) df.select(keyCols: _*).distinct()
          else if (keyCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
          else df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
      }

    case SortOp(terms, _) => df.orderBy(terms.map(sortColumn): _*)

    case TakeOp(n, _) => df.limit(rowCount(n))

    case TopOp(n, term, _) => df.orderBy(sortColumn(term)).limit(rowCount(n))

    case CountOp(_) => df.agg(count(lit(1)).as("count()"))

    case j: JoinOp => compileJoin(df, j, sub)

    case AsOp(name, _) =>
      namedResults(name.name) = df
      df

    case RenderOp(chartType, props, _) =>
      val withType = df.withColumn("render_type", lit(chartType.name))
      props.foldLeft(withType) { (acc, p) =>
        acc.withColumn(s"render_prop_${p.name.name}", lit(renderValue(p.value)))
      }

    // graft extensions: the §2.4 pipeline operators, in-language ------
    case DedupOp(kind, opts, text, id, span) if df.isStreaming =>
      // STREAMING mapping (round 14): the kinds whose state contract
      // survives an unbounded input compile to their
      // dropDuplicatesWithinWatermark forms (first-arrival state per
      // digest / band key, bounded by the event-time watermark — the
      // graft.streaming library's *On forms); the rest are batch-only
      // semantics (corpus-wide keep-lowest-id, plan-time corpus
      // counts, within-cell pair scans) and are rejected with a span.
      // The catalog owns the watermark (Streaming.withEventTime): the
      // stateful operator needs one, so its absence is a compile
      // error here, not an AnalysisException at start().
      val wm = df.queryExecution.analyzed.collectFirst {
        case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
      }
      if (wm.isEmpty)
        fail("streaming dedup needs an event-time watermark on the input " +
          "(apply withWatermark in the catalog — Streaming.withEventTime)", span)
      // dropDuplicatesWithinWatermark is stateful: collapse event-time
      // copies to one column here (never eagerly at extend/project —
      // copy-then-drop-original pipelines need the copy to keep its
      // metadata until the original is projected away)
      val df1 = singleEventTime(df, None)
      kind match {
        case "exact" | "minhash" =>
          ExtOptions.noOptions(opts, span, s"streaming dedup kind=$kind", fail)
          if (kind == "exact") graft.streaming.Streaming.dedupExactOn(df1, text.name)
          else graft.streaming.Streaming.dedupMinhashBandsOn(df1, text.name)
        case "embed" =>
          // fixed geometry only: the adaptive default sizes bands from
          // a plan-time corpus count, which an unbounded stream cannot
          // provide
          val e = ExtOptions.streamEmbed(opts, span, fail)
          graft.streaming.Streaming.dedupEmbedBandsOn(
            df1, text.name, e.dim, planes = e.geometry.planes, bandBits = e.geometry.bits)
        case other =>
          fail(s"dedup kind=$other is not available on a streaming input " +
            "(streaming kinds: embed, exact, minhash)", span)
      }

    case op @ DedupOp(kind, _, text, id, _) =>
      import ExtOptions.{Cells, Dedup, Geometry}
      dedupOptions(df, op) match {
        case Dedup.Unsized => kind match {
          case "exact"      => graft.ops.Dedup.exact(df, text.name, id.name)
          case "lines"      => graft.ops.Dedup.dedupLines(df, text.name, id.name)
          case "substrings" => graft.ops.Dedup.dedupSubstrings(df, text.name, id.name)
          case "minhash"    => graft.ops.NearDup.deduplicateCorpus(df, text.name, id.name)
          case "simhash" =>
            graft.ops.NearDup.dropNearDuplicates(
              df, graft.ops.NearDup.simhashPairs(df, text.name, id.name), id.name)
        }
        case Dedup.Embed(dim, cos, geometry) =>
          // The DEFAULT band geometry is ADAPTIVE (round 13): the
          // corpus is counted once at compile time and bandBits sized
          // so expected bucket occupancy stays at or below occupancy=
          // (NearDup.autoGeometry, the 100-TB form, where a fixed
          // geometry makes candidate pairs quadratic in corpus size).
          val pairs = geometry match {
            case Geometry.Fixed(p, b) =>
              graft.ops.NearDup.embedCosinePairs(
                df, text.name, id.name, dim, planes = p, bandBits = b, minCos = cos)
            case Geometry.Adaptive(t) =>
              graft.ops.NearDup.embedCosinePairs(
                df, text.name, id.name, dim, minCos = cos, targetOccupancy = t)
          }
          graft.ops.NearDup.dropNearDuplicates(df, pairs, id.name)
        case Dedup.Semantic(cos, cells) =>
          // the DEFAULT is ADAPTIVE (round 13 — sf10 measured fixed
          // 32 cells at 22.0 s vs 4.94 s sized): SemDedup.autoCellCount
          // resolves the cell count from the corpus count
          val pairs = cells match {
            case Cells.Fixed(c) =>
              graft.ops.SemDedup.pairs(df, text.name, id.name, nCells = c, minCos = cos)
            case Cells.Adaptive(t) =>
              graft.ops.SemDedup.pairs(df, text.name, id.name, minCos = cos, targetCellSize = t)
          }
          graft.ops.NearDup.dropNearDuplicates(df, pairs, id.name)
      }

    case DecontamOp(eval, opts, text, id, span) =>
      val o = ExtOptions.decontam(opts, span, fail)
      val evalDf = sub(eval)
      ExtOptions.columns("decontam", df, Seq(text.name, id.name), span, fail)
      ExtOptions.columns("decontam", evalDf, Seq(text.name, id.name), span, fail, " on the eval side")
      graft.ops.Decontam.decontaminate(
        df, evalDf, text.name, id.name, minHits = o.hits, shingleN = o.ngram)

    case ChunkOp(n, text, id, span) =>
      ExtOptions.columns("chunk", df, Seq(text.name, id.name), span, fail)
      val tokens = ExtOptions.chunk(rowCount(n), n.span, fail)
      graft.ops.TextOps.chunk(df, text.name, id.name, chunkTokens = tokens)

    case PackOp(budget, opts, tokens, id, idx, span) =>
      val o = ExtOptions.pack(opts, rowCount(budget), budget.span, span, fail)
      ExtOptions.columns("pack", df, Seq(tokens.name, id.name, idx.name), span, fail)
      graft.ops.Packing.packSequences(
        df, id.name, idx.name, tokens.name, budgetTokens = o.budget, nShards = o.shards)

    case SampleBudgetOp(opts, text, id, strata, span) =>
      // `| sample budget=N [bits=b] text by id, strata` → the
      // auto-switching token budget: ONE plan-time strata-count job
      // (narrow column — the text column is never read by the
      // decision) picks the exact running-total window below the
      // 100k-rows-per-stratum floor, the histogram threshold selection
      // above it. Output (id, strata, n_tok) is schema-stable across
      // the crossover. The count job needs a bounded input — reject
      // streams up front with a span instead of a raw AnalysisException.
      if (df.isStreaming)
        fail("sample budget= sizes its plan from a stratum count and is not available on a streaming input", span)
      val o = ExtOptions.sampleBudget(opts, span, fail)
      graft.ops.Sampling.tokenBudgetAuto(
        df, text.name, id.name, strata.name, budgetTokens = o.budget, bucketBits = o.bits)

    case SampleOp(rate, rateSpan, id, _) =>
      graft.ops.Sampling.bernoulli(df, id.name, ExtOptions.sampleRate(rate, rateSpan, fail))

    case AsofJoinOp(right, onCols, tol, span) =>
      // last `on` column = shared event time; the rest = equi-key.
      // Value columns are everything else the right side carries — the
      // library operator's union+keyed-window plan (AsOf.joinAsOf) does
      // the rest: one shuffle on the key, no range condition, hot keys
      // split across time buckets.
      val rightDf = sub(right)
      // validation (duplicate on-columns, existence, value/reserved
      // collisions) is shared with the SQL-text backend — ExtJoins
      val p = ExtJoins.asofParts(df.columns.toSeq, rightDf.columns.toSeq, onCols, span, fail)
      tol match {
        case None => graft.ops.AsOf.joinAsOf(df, rightDf, p.keys, p.ts, p.valueCols)
        case Some(o) =>
          val ms = exprs.parseDurationMillis(o.value, o.valueSpan)
          graft.ops.AsOf.joinAsOfTolerant(df, rightDf, p.keys, p.ts, p.valueCols, s"$ms milliseconds")
      }

    case RangeJoinOp(right, onCols, bucket, span) =>
      // last three `on` columns = left point, right interval start/end
      // (half-open); the rest = equi-key. Compiles to the bucketed
      // equi-join form (RangeJoin.pointInInterval) — never the
      // broadcast-nested-loop a raw BETWEEN join would plan to.
      val rightDf = sub(right)
      // shared validation — see ExtJoins (the SQL-text backend uses
      // the same splitter, so rejections cannot drift between paths)
      val rp = ExtJoins.rangeParts(df.columns.toSeq, rightDf.columns.toSeq, onCols, span, fail)
      graft.ops.RangeJoin.pointInInterval(
        df, rightDf, rp.keys, rp.ts.name, rp.start.name, rp.end.name, bucketMicros = bucketMicros(bucket))

    case op @ AnnOp(_, _, queries, vec, id, span) =>
      // `| ann [kind=..] [opts] (Queries) on Vec by Id` → graft.ops.Ann
      // top-k of the piped corpus against the query sub-pipeline. The
      // indexed kinds size their geometry from a plan-time corpus
      // count (adaptive default, round 13) and the query side is
      // always broadcast — both need bounded inputs, so streams are
      // rejected here with a span, not as an AnalysisException later.
      if (df.isStreaming)
        fail("ann indexes a bounded corpus and is not available on a streaming input", span)
      val qDf = sub(queries)
      if (qDf.isStreaming)
        fail("ann query side must be a bounded input, got a stream", span)
      val resolved = annOptions(df, qDf, op)
      // Only the operator's OUTPUT columns (query_id, cos_sim, rank)
      // are reserved: the id column rides through to the output under
      // its own name. Internal projection names are NOT reserved —
      // Ann.prep drops every corpus column except vec/id on entry, and
      // both are aliased to `__graft_ann_*` below before any internal
      // name exists, so real single-letter schemas (`c`, `d`, `r`, …)
      // compile (round-15; was a 15-name reserved wall).
      val safeVec = "__graft_ann_vec"
      val safeId = "__graft_ann_id"
      val corpusSafe = df.select(col(vec.name).as(safeVec), col(id.name).as(safeId))
      val qSafe = qDf.select(col(vec.name).as(safeVec), col(id.name).as(safeId))
      val out = resolved match {
        case ExtOptions.Ann.Brute(k) =>
          graft.ops.Ann.bruteTopK(corpusSafe, qSafe, safeVec, safeId, k = k)
        case ExtOptions.Ann.Lsh(k, dim, ExtOptions.Geometry.Fixed(p, b)) =>
          graft.ops.Ann.lshTopK(corpusSafe, qSafe, safeVec, safeId, dim, k, planes = p, bandBits = b)
        case ExtOptions.Ann.Lsh(k, dim, ExtOptions.Geometry.Adaptive(t)) =>
          graft.ops.Ann.lshTopK(corpusSafe, qSafe, safeVec, safeId, dim, k, targetOccupancy = t)
        case ExtOptions.Ann.Ivf(k, dim, cells, probes) =>
          // the SEEDED centroid family (hash-sampled from the corpus —
          // the data-dependent policy ivfTopKSeeded's doc argues for at
          // scale); nCells=0 resolves √n cells at plan time
          graft.ops.Ann.ivfTopKSeeded(corpusSafe, qSafe, safeVec, safeId,
            dim = dim, k = k, nCells = cells.getOrElse(0), nProbe = probes)
      }
      out.withColumnRenamed(safeId, id.name)
  }

  // ---- stage pieces the SQL-text backend renders too ----------------

  /** A scalar expression in the query's `let`/parameter scope. */
  private[compiler] def column(x: Expr): Column = compile(x, env)

  /** A `project` item, unaliased. A bare unquoted name resolves through
    * the expression path so `let`/parameter bindings and builtins
    * shadow table columns, matching the reference (pql.go:374-384,
    * 603-610); quoted names are always plain column references.
    */
  private[compiler] def projectColumn(c: ProjectColumn): Column = c.x match {
    case Some(x)               => column(x)
    case None if c.name.quoted => attr(c.name.name)
    case None                  => column(c.name.asQualified)
  }

  /** An `extend`/`summarize` column's output name: its own, or the
    * expression's source text.
    */
  private[compiler] def columnName(c: ComputedColumn): String =
    c.name.map(_.name).getOrElse(sourceText(c.x.span))

  /** Render property values are presentation instructions: literals
    * stringify to their text, identifiers to their name.
    */
  private[compiler] def renderValue(e: Expr): String = e match {
    case BasicLit(_, v, _)     => v
    case QualifiedIdent(parts) => parts.head.name
    case other                 => sourceText(other.span)
  }

  private[compiler] def rowCount(e: Expr): Int = exprs.rowCount(e, letAsts)

  /** `dedup`'s resolved options, once its input columns are checked. */
  private[compiler] def dedupOptions(df: DataFrame, op: DedupOp): ExtOptions.Dedup = {
    val resolved = ExtOptions.dedup(op.kind, op.opts, op.span, fail)
    ExtOptions.columns("dedup", df, Seq(op.textCol.name, op.idCol.name), op.span, fail)
    resolved
  }

  /** `ann`'s resolved options, once the column checks shared with the
    * asof/range joins ([[ExtJoins.annCheck]]) pass on both sides.
    */
  private[compiler] def annOptions(df: DataFrame, qDf: DataFrame, op: AnnOp): ExtOptions.Ann = {
    ExtJoins.annCheck(df.columns.toSeq, qDf.columns.toSeq, op.vecCol, op.idCol, fail)
    ExtOptions.ann(op.kind, op.opts, op.span, fail)
  }

  /** The range join's bucket width in microseconds; 1h by default —
    * right for hour-scale intervals.
    */
  private[compiler] def bucketMicros(bucket: Option[OpOption]): Long = bucket match {
    case Some(o) => exprs.parseDurationMillis(o.value, o.valueSpan) * 1000L
    case None    => 3600000000L
  }

  private def computed(c: ComputedColumn): Column = column(c.x).as(columnName(c))

  private[compiler] def sortColumn(t: SortTerm): Column = {
    val c = column(t.x)
    (t.asc, t.nullsFirst) match {
      case (true, true)   => c.asc_nulls_first
      case (true, false)  => c.asc_nulls_last
      case (false, true)  => c.desc_nulls_first
      case (false, false) => c.desc_nulls_last
    }
  }

  // ---- join ----------------------------------------------------------

  /** Join semantics follow the reference (/root/reference/pql.go:186-361):
    *
    *   - default flavor `innerunique` deduplicates the left side
    *     (`SELECT DISTINCT *`) before an inner join;
    *   - a bare column condition `on Col` means
    *     `\$left.Col == \$right.Col`;
    *   - output keeps every column of both sides; right-side columns
    *     whose name collides with a left column are renamed
    *     `\$right.<name>` (the engine-assigned disambiguation the
    *     reference relies on).
    *
    * Equality conditions across sides compile to plain `===` conjuncts
    * so Catalyst recognizes the equi-join (broadcast/sort-merge + AQE
    * skew handling at scale).
    */
  /** Unique per-join alias counter (nested joins must not collide). */
  private var joinSeq = 0

  private def compileJoin(df: DataFrame, j: JoinOp, sub: TabularExpr => DataFrame): DataFrame = {
    // Alias both sides and reference columns by qualified name
    // (`alias.col`): a self-join (`T | join (T) on k`) otherwise trips
    // Spark's AMBIGUOUS_SELF_JOIN detection because both legs share one
    // Dataset lineage. With string-qualified references, Catalyst's
    // DeduplicateRelations regenerates the right side's expression ids
    // and resolution goes through the subquery aliases — the pattern
    // the Spark docs prescribe (df.as("a").join(df.as("b"), $"a.x"...)).
    joinSeq += 1
    // 100-TB note: innerunique's all-column dropDuplicates is a
    // full-row shuffle — the cost the reference's `SELECT DISTINCT *`
    // pays too; it is semantic, not incidental. AQE coalesces the
    // exchange; users who only need key-distinctness should
    // `summarize by key` first (narrower shuffle payload).
    val leftRaw = if (j.flavor == "innerunique") df.dropDuplicates() else df
    val joinType = j.flavor match {
      case "inner" | "innerunique" => "inner"
      case "leftouter"             => "left"
      case other                   => fail(s"unhandled join type \"$other\"", j.span)
    }
    // capture alias names BEFORE compiling the right side: a join
    // nested inside j.right bumps joinSeq, and evaluating the
    // interpolations afterwards would reuse the inner join's aliases
    val (leftAlias, rightAlias) = (s"__graft_l$joinSeq", s"__graft_r$joinSeq")
    val ctx = JoinCtx(leftRaw, sub(j.right), leftAlias, rightAlias)
    val joined = ctx.left.as(ctx.leftAlias).join(ctx.right.as(ctx.rightAlias), joinCondition(j, ctx), joinType)

    val taken = ctx.left.columns.toSet
    val out = ctx.left.columns.map(n => ctx.leftCol(n).as(n)) ++
      ctx.right.columns.map { n =>
        // Right-side name collisions are disambiguated `$right.<name>`,
        // the engine-assigned naming the reference relies on
        // (/root/reference/pql.go:330-361).
        ctx.rightCol(n).as(if (taken(n)) s"$$right.$n" else n)
      }
    joined.select(out.toIndexedSeq: _*)
  }

  /** The join's conditions as one Column over the two aliased sides.
    * A bare unqualified identifier is shorthand for
    * `\$left.Col == \$right.Col`.
    */
  private[compiler] def joinCondition(j: JoinOp, ctx: JoinCtx): Column = {
    val joinEnv = env.copy(join = Some(ctx))
    j.conditions.map {
      case QualifiedIdent(List(p))
          if !p.quoted && !scope.contains(p.name) &&
            p.name != "true" && p.name != "false" && p.name != "null" =>
        ctx.leftCol(p.name) === ctx.rightCol(p.name)
      case other => compile(other, joinEnv)
    }.reduceOption(_ && _).getOrElse(lit(true))
  }
}
