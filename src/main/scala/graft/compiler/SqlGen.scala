package graft.compiler

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.parser._

/** Compiles a parsed PQL program into a SPARK SQL QUERY STRING — the
  * embedder-facing analogue of the reference's `Compile` (reference
  * pql.go:18-34 returns engine SQL text; graft's primary path compiles
  * straight to Catalyst plans, but an embedding host that ships SQL to
  * a cluster, logs it, or feeds a SQL-auditing pipeline needs the
  * text).
  *
  * Every pipeline stage is one SELECT, written as TEXT over the
  * DataFrame compiler's own frames: this class holds one [[Compiler]],
  * and each stage's frame is `Compiler.applyOp` on the previous stage's
  * frame, so `let` scope, catalog lookup, option and column checks, and
  * the schemas that drive `*`-expansion and join collision renaming are
  * the plan path's. A sub-pipeline (a join's right side, the decontam
  * eval side, the ann queries) is folded here once and its frame handed
  * to `applyOp`. Scalar expressions are the Compiler's Columns rendered
  * with `Column.expr.sql`; only the stage skeleton
  * (SELECT/WHERE/GROUP BY/JOIN/ORDER BY/LIMIT) is authored here.
  * `SqlCompileSpec` proves `spark.sql(compileToSql(q))` ≡
  * `Pql.query(q)` on the reference's own golden corpus and on
  * pipelines as long as [[graft.parser.Parser.MaxNesting]] admits.
  *
  * Where a stage is written is decided in one place, [[run]]: a stage
  * read exactly once is written in place, as a subquery; a stage read
  * more than once (an `| as` name read again, or the input of an
  * emitter that reads it twice) is one `WITH` entry (`__s<n>`, with
  * more leading underscores when a table the query reads starts with
  * `__s`, since an entry hides a table of its name); the
  * last stage's own SELECT is the query. Stages read each other through
  * [[Read]]s in their text, never through names spliced into finished
  * SQL, so no user identifier is ever rewritten.
  *
  * Ordering: `sort` adjacent to `take`/`top` merges into one
  * `ORDER BY … LIMIT n` SELECT (subquery ordering does not survive a
  * subquery boundary in SQL), and a trailing sort/top is the query's
  * own SELECT, so every ordering the language can observe is
  * preserved. A mid-pipeline sort not followed by `take` emits an
  * ORDER BY stage whose order — exactly as in SQL generally — is not
  * guaranteed to survive later stages.
  *
  * The graft EXTENSION operators emit as stage chains wherever a single
  * SQL string can carry their semantics: sample, chunk, pack, decontam,
  * the asof/range joins, every dedup kind (embed/semantic with a fixed
  * geometry / cell count), and ann kinds brute/lsh/ivf with fixed
  * indexes (native expressions ride the registered `graft_*` function
  * library). The text-only rejections run before the stage's frame is
  * built, so a rejected form starts no plan-time job: forms whose PLAN
  * depends on data read at compile time (adaptive geometry/cells from
  * a corpus count, `sample budget=`'s crossover) point to `Pql.query`,
  * and a range join whose output would repeat a column name is refused.
  */
private[graft] final class SqlGen(
    source: String,
    catalog: String => DataFrame,
    params: Map[String, Column]
) {

  import SqlGen._

  private val compiler = new Compiler(source, catalog, params)
  import compiler.{column, exprs, rowCount, sortColumn}
  import exprs.fail

  /** `| as Name` stages: name → the stage it names. */
  private val named = mutable.Map[String, Node]()
  /** The catalog tables the query reads. */
  private val tables = mutable.Set[String]()
  private var stageSeq = 0
  private var joinSeq = 0

  private def q(name: String): String = "`" + name.replace("`", "``") + "`"

  private def sqlOf(c: Column): String =
    org.apache.spark.sql.graftglue.Bridge.resolvedExpression(c).sql

  private def newStage(text: Text): Node = {
    stageSeq += 1
    new Node(stageSeq - 1, text)
  }

  def run(stmts: List[Statement]): String = {
    val last = fold(compiler.bind(stmts)).node
    // how often the query reads each stage: once → in place, more → WITH
    val reads = mutable.Map[Node, Int]().withDefaultValue(0)
    def count(n: Node): Unit = n.reads.foreach { m =>
      reads(m) += 1
      if (reads(m) == 1) count(m)
    }
    count(last)
    // a WITH entry resolves before the catalog, so stage names take a
    // prefix that no table the query reads starts with
    val prefix = Iterator.iterate("__s")("_" + _)
      .find(p => !tables.exists(_.toLowerCase(java.util.Locale.ROOT).startsWith(p))).get
    def name(n: Node): String = prefix + n.id
    def render(t: Text): String = t.parts.map {
      case Read(n, alias) if reads(n) > 1 => name(n) + alias.fold("")(a => s" AS $a")
      case Read(n, alias)                 => s"(${render(n.text)}) AS ${alias.getOrElse(name(n))}"
      case s                              => s
    }.mkString
    val shared = reads.keys.filter(reads(_) > 1).toSeq.sortBy(_.id)
    val ctes = shared.map(n => s"${name(n)} AS (\n  ${render(n.text)}\n)")
    (if (ctes.isEmpty) "" else ctes.mkString("WITH ", ",\n", "\n")) + render(last.text)
  }

  private def sourceStage(src: TableRef): Stage = {
    val df = compiler.resolveTable(src.table)
    Stage(named.getOrElse(src.table.name, {
      tables += src.table.name
      newStage(sql"SELECT * FROM ${q(src.table.name)}")
    }), df)
  }

  /** A pipeline (the query, or a sub-pipeline), folded once. */
  private def fold(t: TabularExpr): Stage = foldOps(sourceStage(t.source), t.operators)

  private def foldOps(start: Stage, ops: List[TabularOperator]): Stage = ops match {
    case Nil => start
    // sort immediately followed by take: one ORDER BY … LIMIT stage
    // (the DataFrame path's orderBy().limit() → TakeOrderedAndProject)
    case (s: SortOp) :: (t: TakeOp) :: rest =>
      val node = newStage(
        sql"SELECT * FROM ${start.node} ORDER BY ${orderText(s.terms)} LIMIT ${rowCount(t.rowCount)}")
      foldOps(Stage(node, frame(frame(start.df, s), t)), rest)
    case op :: rest => foldOps(applyOp(start, op), rest)
  }

  /** The Compiler's frame for `op` over `df`; `sub` is the operator's
    * sub-pipeline, already folded here.
    */
  private def frame(df: DataFrame, op: TabularOperator, sub: Option[Stage] = None): DataFrame =
    compiler.applyOp(df, op, _ => sub.get.df)

  /** `op`'s stage: its frame over the previous stage's, then the stages
    * `render` emits over that frame; `render` returns the last one.
    */
  private def emit(prev: Stage, op: TabularOperator, sub: Option[Stage] = None)(
      render: DataFrame => Node): Stage = {
    val df = frame(prev.df, op, sub)
    Stage(render(df), df)
  }

  private def applyOp(prev: Stage, op: TabularOperator): Stage = op match {
    case WhereOp(pred, _) =>
      emit(prev, op)(_ => newStage(sql"SELECT * FROM ${prev.node} WHERE ${sqlOf(column(pred))}"))

    case ProjectOp(cols, _) =>
      emit(prev, op) { _ =>
        val items = cols.map(c => s"${sqlOf(compiler.projectColumn(c))} AS ${q(c.name.name)}")
        newStage(sql"SELECT ${items.mkString(", ")} FROM ${prev.node}")
      }

    // the input's columns by name, not `*`: the analyzer expands a `*`
    // one pass before it resolves the functions beside it, so a chain
    // of `SELECT *, f(…)` subqueries took two of its 100 Resolution
    // passes per stage and stopped resolving at about 50 stages
    case ExtendOp(cols, _) =>
      emit(prev, op) { _ =>
        val items = prev.df.columns.toSeq.map(q) ++ cols.map(computedItem)
        newStage(sql"SELECT ${items.mkString(", ")} FROM ${prev.node}")
      }

    case SummarizeOp(aggs, by, _) =>
      emit(prev, op) { _ =>
        val aggItems = aggs.map(computedItem)
        val keyItems = by.map(computedItem)
        if (aggItems.isEmpty)
          newStage(sql"SELECT DISTINCT ${keyItems.mkString(", ")} FROM ${prev.node}")
        else if (keyItems.isEmpty)
          newStage(sql"SELECT ${aggItems.mkString(", ")} FROM ${prev.node}")
        else
          newStage(
            sql"SELECT ${(keyItems ++ aggItems).mkString(", ")} FROM ${prev.node}" +
              sql" GROUP BY ${by.map(c => sqlOf(column(c.x))).mkString(", ")}")
      }

    case s: SortOp =>
      // mid-pipeline sort (not adjacent to take): SQL gives no
      // cross-subquery ordering guarantee — same caveat as any SQL
      // engine; emitted for the cases where it is observable
      emit(prev, op)(_ => newStage(sql"SELECT * FROM ${prev.node} ORDER BY ${orderText(s.terms)}"))

    case TakeOp(n, _) =>
      emit(prev, op)(_ => newStage(sql"SELECT * FROM ${prev.node} LIMIT ${rowCount(n)}"))

    case TopOp(n, term, _) =>
      emit(prev, op) { _ =>
        newStage(sql"SELECT * FROM ${prev.node} ORDER BY ${orderText(List(term))} LIMIT ${rowCount(n)}")
      }

    case CountOp(_) =>
      emit(prev, op)(_ => newStage(sql"SELECT count(1) AS ${q("count()")} FROM ${prev.node}"))

    case j: JoinOp => applyJoin(prev, j)

    case AsOp(name, _) =>
      named(name.name) = prev.node
      emit(prev, op)(_ => prev.node)

    case RenderOp(chartType, props, _) =>
      emit(prev, op) { _ =>
        val lits = (s"'${chartType.name.replace("'", "''")}' AS ${q("render_type")}" ::
          props.map(p =>
            s"'${compiler.renderValue(p.value).replace("'", "''")}' AS ${q(s"render_prop_${p.name.name}")}"))
        newStage(sql"SELECT *, ${lits.mkString(", ")} FROM ${prev.node}")
      }

    case op: AsofJoinOp  => applyAsofJoin(prev, op)
    case op: RangeJoinOp => applyRangeJoin(prev, op)
    case op: AnnOp       => applyAnn(prev, op)

    // `| sample 0.25 by id` (round 15): the deterministic Bernoulli
    // keep is ONE codegen filter (md5-derived [0,1) hash of the id),
    // so it IS a single SQL predicate — rendered from the library's
    // own Column (Sampling.keepPredicate), not a lookalike
    case SampleOp(rate, rateSpan, id, _) =>
      emit(prev, op) { _ =>
        val r = ExtOptions.sampleRate(rate, rateSpan, fail)
        newStage(sql"SELECT * FROM ${prev.node} " +
          sql"WHERE ${sqlOf(graft.ops.Sampling.keepPredicate(col(id.name), r))}")
      }

    // every dedup kind emits as SQL text; options and columns resolve
    // exactly as on the plan path, and only the ADAPTIVE embed /
    // semantic sizing is rejected (a plan-time corpus count)
    case op: DedupOp =>
      import ExtOptions.{Cells, Dedup, Geometry}
      val (text, id) = (op.textCol.name, op.idCol.name)
      val render: () => Node = compiler.dedupOptions(prev.df, op) match {
        case Dedup.Unsized => op.kind match {
          // corpus-wide keep-first-id per normalized-text digest — one
          // window, so it IS a single SQL query
          case "exact"      => () => dedupExact(prev, text, id)
          case "minhash"    => () => dedupMinhash(prev, text, id)
          case "lines"      => () => dedupLines(prev, text, id)
          case "simhash"    => () => dedupSimhash(prev, text, id)
          case "substrings" => () => dedupSubstrings(prev, text, id)
        }
        case Dedup.Embed(dim, cos, Geometry.Fixed(planes, bits)) =>
          () => dedupEmbed(prev, text, id, dim, cos, planes, bits)
        case Dedup.Semantic(cos, Cells.Fixed(cells)) =>
          () => dedupSemantic(prev, text, id, cos, cells)
        case _: Dedup.Embed =>
          adaptiveRejected(s"dedup kind=${op.kind}", fixedGeometry, op.span)
        case _: Dedup.Semantic =>
          adaptiveRejected(s"dedup kind=${op.kind}", fixedIndex, op.span)
      }
      emit(prev, op)(_ => render())

    case op: PackOp => emit(prev, op)(_ => pack(prev, op))

    case op: DecontamOp =>
      val o = ExtOptions.decontam(op.opts, op.span, fail)
      val evalStage = fold(op.eval)
      emit(prev, op, Some(evalStage))(_ => decontam(prev, op, o, evalStage))

    // options validated as on the plan path, then rejected: the
    // exact/histogram crossover is decided from a plan-time stratum count
    case SampleBudgetOp(opts, _, _, _, span) =>
      ExtOptions.sampleBudget(opts, span, fail)
      fail("operator 'sample budget=' sizes its plan from a plan-time stratum count, " +
        "not expressible as a single SQL query; use Pql.query for this operator", span)

    // `| chunk 64 text by id` (round 15): one projection + posexplode
    // — a single LATERAL VIEW query (the split expression is rendered
    // from the library's own Column)
    case ChunkOp(n, text, id, _) =>
      emit(prev, op) { _ =>
        val chunkTokens = ExtOptions.chunk(rowCount(n), n.span, fail)
        val arr = sqlOf(graft.ops.TextOps.chunkArray(col(text.name), chunkTokens))
        val nTok = sqlOf(graft.ops.TextOps.chunkTokenCount(col("chunk_text")))
        newStage(
          sql"SELECT ${q(id.name)}, chunk_idx, chunk_text, $nTok AS n_tokens FROM ${prev.node} " +
            sql"LATERAL VIEW posexplode($arr) __c AS chunk_idx, chunk_text")
      }
  }

  /** The SQL-text backend's one rejection of ADAPTIVE sizing: its
    * geometry / cell count comes from a plan-time corpus count that a
    * single SQL query cannot carry.
    */
  private def adaptiveRejected(opName: String, fixedForm: String, span: Span): Nothing =
    fail(s"$opName compiles to SQL text only with $fixedForm; the adaptive default sizes " +
      "its plan from a plan-time corpus count a single SQL query cannot carry " +
      "(use Pql.query for the adaptive form)", span)
  private val fixedGeometry = "a fixed geometry — pass planes= and bits= together"
  private val fixedIndex = "a fixed index — pass cells="

  // ---- shapes the emitters below share --------------------------------

  /** `out` over the rows of `from` whose `row_number()` over
    * (`partition`, `order`), named `rn`, satisfies `keep` (`= 1` keeps
    * the first row of each partition). The numbering SELECT passes
    * `cols` of `from` by name, not `*`, for the reason extend does.
    */
  private def numbered(
      out: String, cols: String, from: Node, partition: String, order: String, rn: String,
      keep: String): Node =
    newStage(
      sql"SELECT $out FROM (SELECT $cols, row_number() OVER (PARTITION BY $partition ORDER BY $order) " +
        sql"AS $rn FROM $from) WHERE $rn $keep")

  /** Per `id`, the `piece`s of `from` joined by `sep` in `pos` order
    * (`pos` is unique per id, so the struct sort IS position order),
    * as `out`; `extra` items ride along.
    */
  private def reassemble(
      from: Node, id: String, pos: String, piece: String, sep: String, out: String,
      extra: String = ""): Node =
    newStage(
      sql"SELECT $id, array_join(transform(array_sort(collect_list(struct($pos, $piece))), " +
        sql"s -> s.$piece), '$sep') AS $out$extra FROM $from GROUP BY $id")

  /** The rows of `from` whose `id` is not among `drops`' `dropCol` —
    * each near-dup pair's greater member, or a contaminated document.
    */
  private def dropIds(from: Node, id: String, drops: Node, dropCol: String): Node =
    newStage(sql"SELECT e.* FROM ${from as "e"} LEFT ANTI JOIN ${drops as "d"} ON e.${q(id)} = d.$dropCol")

  /** The widened vector, [[graft.ops.NearDup.doubles]]' cast. */
  private def doubles(vecQ: String): String = s"CAST($vecQ AS ARRAY<DOUBLE>)"

  /** Vector prep, `Ann.prep`'s form: `idItem` as `idAs` and the
    * widened vector as `v`.
    */
  private def widened(from: Node, idItem: String, idAs: String, vecQ: String, v: String): Node =
    newStage(sql"SELECT $idItem AS $idAs, ${doubles(vecQ)} AS $v FROM $from")

  /** The Euclidean norm of vector `v`. */
  private def norm(v: String): String = s"sqrt(graft_dot($v, $v))"

  /** [[widened]], then a stage adding the vector's norm as `nrm` and
    * the `extra` items. Returns both stages.
    */
  private def vectors(
      from: Node, idItem: String, idAs: String, vecQ: String, v: String, nrm: String,
      extra: String = ""): (Node, Node) = {
    val cast = widened(from, idItem, idAs, vecQ, v)
    (cast, newStage(sql"SELECT $idAs, $v, ${norm(v)} AS $nrm$extra FROM $cast"))
  }

  /** The hash-seeded cell chain of IVF and SemDeDup: the seeds are the
    * `nCells` rows of `vecs` (`id`, `__v`) first by `(hash32(id), id)`,
    * numbered `__c` in that order (the first stage returned: `__c`,
    * `__sv`); each row of `from` is assigned its `graft_argmax_cell`
    * seed as `__cell`, rows with no cell dropped (the second: `id`,
    * `__cell`). The seed set reaches the argmax in cell order as ONE
    * array value: `array_sort` on `(c, v)` structs orders by the unique
    * int c, and the argmax stride comes from the seed vectors
    * themselves, like the plan path's seeded centroid matrix.
    */
  private def seededCells(
      vecs: Node, id: String, from: Node, idQ: String, vecQ: String, nCells: Int): (Node, Node) = {
    val h32 = sqlOf(graft.ops.NearDup.hash32(col(id).cast("string")))
    val sd = newStage(sql"SELECT $id, __v, $h32 AS __h FROM $vecs ORDER BY __h, $id LIMIT $nCells")
    val ct = newStage(
      sql"SELECT CAST(row_number() OVER (ORDER BY __h, $id) - 1 AS INT) AS __c, __v AS __sv FROM $sd")
    val mat = sql"(SELECT transform(array_sort(collect_list(struct(__c, __sv))), s -> s.__sv) FROM $ct)"
    (ct, newStage(
      sql"SELECT $id, __cell FROM (SELECT $idQ AS $id, graft_argmax_cell(${doubles(vecQ)}, $mat) " +
        sql"AS __cell FROM $from) WHERE __cell IS NOT NULL"))
  }

  /** Bits `[j·bits, (j+1)·bits)` of `sig` for each of `nBands` bands —
    * the exact integer form of `NearDup.signBandKeys` (leftover bits
    * that fill no band are dropped, as in the library).
    */
  private def bandArray(sig: String, nBands: Int, bits: Int): String =
    (0 until nBands).map(j => s"shiftrightunsigned($sig, ${j * bits}) % ${1L << bits}L")
      .mkString("array(", ", ", ")")

  // ---- the extension emitters ------------------------------------------

  /** The `dedup kind=exact` emission (round 15): corpus-wide
    * keep-first-id per normalized-text digest — one window, the digest
    * expression rendered from the library's own Column. Shared by the
    * `exact` case and [[dedupMinhash]]'s first stage (the library
    * pipeline composes the same way: `NearDup.deduplicateCorpus` =
    * `Dedup.exact` → near-dup drop). Every emitter below returns its
    * last stage.
    */
  private def dedupExact(prev: Stage, text: String, id: String): Node = {
    val digest = sqlOf(md5(graft.ops.TextOps.normalize(col(text)).cast("binary")))
    val cols = prev.df.columns.toSeq.map(q).mkString(", ")
    numbered(cols, cols, prev.node, digest, q(id), "__graft_rn", "= 1")
  }

  /** `| dedup kind=minhash` as SQL text (round 16): the production
    * corpus pipeline — exact dedup first, then MinHash-LSH near-dup
    * removal over the survivors ([[graft.ops.NearDup.deduplicateCorpus]]
    * at its k=32 / bandRows=2 / est≥0.25 defaults): hashed 3-gram
    * shingles (`graft_shingle_hashes`, the SAME native
    * [[graft.functions.ShingleHashes]] expression the plan path
    * explodes, so the host session must carry graft's function
    * registry like the ann emissions), 32 permutation-min aggregates
    * rendered from the library's own Columns
    * ([[graft.ops.NearDup.minhashAggColumns]]: one definition, two
    * spellings), the match-fraction estimator rendered from
    * `minhashEstSim` itself (`graft_minhash_matches`, the SAME native
    * [[graft.functions.MinhashMatches]] the plan path evaluates), the
    * banded self-join on string band keys (the same candidate set as
    * `bandKeysOfSig`'s packed longs), and the
    * drop as a LEFT ANTI JOIN on the greater pair member. Internals
    * are `__graft_mh_*`-namespaced so user schemas with single-letter
    * or colliding names compile (the ann rule).
    */
  private def dedupMinhash(prev: Stage, text: String, id: String): Node = {
    val e = dedupExact(prev, text, id)
    val (k, bandRows, minEstSim) = (32, 2, 0.25) // deduplicateCorpus → minhashPairs defaults
    val shingleArr = s"graft_shingle_hashes(${sqlOf(graft.ops.NearDup.tokens(col(text)))}, 3)"
    val hs = newStage(
      sql"SELECT ${q(id)} AS __graft_mh_id, __graft_mh_h FROM $e " +
        sql"LATERAL VIEW explode($shingleArr) __g AS __graft_mh_h")
    // the aggregates run over a column literally named `h` in the
    // library ([[NearDup.minhashAggColumns]]); alias it back for the
    // rendered text so the expressions match verbatim
    val aggs = graft.ops.NearDup.minhashAggColumns(k).zipWithIndex
      .map { case (c, j) => s"${sqlOf(c)} AS __g$j" }
    val sig = (0 until k).map(j => s"__g$j").mkString("array(", ", ", ")")
    val sg = newStage(
      sql"SELECT __graft_mh_id, $sig AS __graft_mh_sig FROM (" +
        sql"SELECT __graft_mh_id, ${aggs.mkString(", ")} " +
        sql"FROM (SELECT __graft_mh_id, __graft_mh_h AS h FROM $hs) GROUP BY __graft_mh_id)")
    // hand-authored band keys (a rendered Column lambda prints a
    // non-parseable `lambdafunction(...)` — same constraint as the
    // brute/lsh emissions' transform calls): element j = components
    // [j·bandRows, (j+1)·bandRows) cast to string, pipe-joined — a
    // bijection of the components, like NearDup.bandKeysOfSig's packed
    // longs, so the candidate set is the same
    val bandArr = (0 until k / bandRows)
      .map(j => s"array_join(transform(slice(__graft_mh_sig, ${j * bandRows + 1}, $bandRows), " +
        s"x -> CAST(x AS STRING)), '|')")
      .mkString("array(", ", ", ")")
    val bd = newStage(
      sql"SELECT __graft_mh_id, __graft_mh_bi, __graft_mh_bk FROM $sg " +
        sql"LATERAL VIEW posexplode($bandArr) __b AS __graft_mh_bi, __graft_mh_bk")
    // join-back candidate form (minhashPairs' k=32 stance: narrow band
    // rows + DISTINCT, signatures joined back only for the estimator)
    val cand = newStage(
      sql"SELECT DISTINCT a.__graft_mh_id AS __graft_mh_ida, b.__graft_mh_id AS __graft_mh_idb " +
        sql"FROM ${bd as "a"} JOIN ${bd as "b"} ON a.__graft_mh_bi = b.__graft_mh_bi " +
        sql"AND a.__graft_mh_bk = b.__graft_mh_bk AND a.__graft_mh_id < b.__graft_mh_id")
    val est = sqlOf(graft.ops.NearDup.minhashEstSim(col("__graft_mh_siga"), col("__graft_mh_sigb"), k))
    val drops = newStage(
      sql"SELECT DISTINCT __graft_mh_idb FROM (" +
        sql"SELECT c.__graft_mh_idb, $est AS __graft_mh_est FROM ${cand as "c"} " +
        sql"JOIN (SELECT __graft_mh_id, __graft_mh_sig AS __graft_mh_siga FROM $sg) sa " +
        sql"ON c.__graft_mh_ida = sa.__graft_mh_id " +
        sql"JOIN (SELECT __graft_mh_id, __graft_mh_sig AS __graft_mh_sigb FROM $sg) sb " +
        sql"ON c.__graft_mh_idb = sb.__graft_mh_id" +
        sql") WHERE __graft_mh_est >= $minEstSim")
    dropIds(e, id, drops, "__graft_mh_idb")
  }

  /** `| dedup kind=simhash` as SQL text (round 16):
    * [[graft.ops.NearDup.simhashPairs]] (60-bit TF-weighted SimHash,
    * four 15-bit bands, hamming ≤ 3) → drop the greater pair member.
    * The 60 per-bit ±1 sums and the sign-bit packing render from the
    * library's own Columns ([[graft.ops.NearDup.simhashBitSums]] /
    * `simhashPacked`), bands are the exact `shiftrightunsigned`
    * integer form, and the hamming test is `bit_count(a ^ b)` — all
    * builtin SQL, so unlike the other near-dup emissions this one
    * needs no registered graft functions.
    */
  private def dedupSimhash(prev: Stage, text: String, id: String): Node = {
    val bandBits = graft.ops.NearDup.SimBandBits
    val tokensSql = sqlOf(graft.ops.NearDup.tokens(col(text)))
    val h60 = sqlOf(graft.ops.NearDup.hash60(col("__graft_sh_t")))
    val h0 = newStage(
      sql"SELECT ${q(id)} AS __graft_sh_id, $h60 AS __graft_sh_h FROM ${prev.node} " +
        sql"LATERAL VIEW explode($tokensSql) __t AS __graft_sh_t")
    val aggs = graft.ops.NearDup.simhashBitSums.zipWithIndex
      .map { case (c, i) => s"${sqlOf(c)} AS __g$i" }
    val packed = sqlOf(graft.ops.NearDup.simhashPacked(i => col(s"__g$i")))
    val sim = newStage(
      sql"SELECT __graft_sh_id, $packed AS __graft_sh_sim FROM (" +
        sql"SELECT __graft_sh_id, ${aggs.mkString(", ")} " +
        sql"FROM (SELECT __graft_sh_id, __graft_sh_h AS h FROM $h0) GROUP BY __graft_sh_id)")
    val bands = bandArray("__graft_sh_sim", graft.ops.NearDup.SimBits / bandBits, bandBits)
    val bd = newStage(
      sql"SELECT __graft_sh_id, __graft_sh_sim, __graft_sh_bi, __graft_sh_bk FROM $sim " +
        sql"LATERAL VIEW posexplode($bands) __b AS __graft_sh_bi, __graft_sh_bk")
    val drops = newStage(
      sql"SELECT DISTINCT b.__graft_sh_id AS __graft_sh_drop FROM ${bd as "a"} JOIN ${bd as "b"} " +
        sql"ON a.__graft_sh_bi = b.__graft_sh_bi AND a.__graft_sh_bk = b.__graft_sh_bk " +
        sql"AND a.__graft_sh_id < b.__graft_sh_id " +
        sql"AND bit_count(a.__graft_sh_sim ^ b.__graft_sh_sim) <= 3")
    dropIds(prev.node, id, drops, "__graft_sh_drop")
  }

  /** `| dedup kind=substrings` as SQL text (round 16): ExactSubstr
    * span removal ([[graft.ops.Dedup.dedupSubstrings]] at its k=8
    * default) — k-token rolling shingle hashes
    * (`graft_shingle_hashes(w, 8)`, the identical native expression),
    * every occurrence after a hash's first, covered positions exploded
    * from those repeat spans, token-level anti-join, and the
    * position-ordered reassembly. Output: `(id, text_clean,
    * n_removed)`, row-preserving.
    */
  private def dedupSubstrings(prev: Stage, text: String, id: String): Node = {
    val k = 8 // the grammar route's width (Dedup.dedupSubstrings default)
    val tokensSql = sqlOf(graft.ops.NearDup.tokens(col(text)))
    val b0 = newStage(
      sql"SELECT ${q(id)} AS __graft_ss_id, $tokensSql AS __graft_ss_w FROM ${prev.node}")
    val ne = newStage(
      sql"SELECT * FROM $b0 WHERE NOT (size(__graft_ss_w) = 1 AND element_at(__graft_ss_w, 1) = '')")
    val kg = newStage(
      sql"SELECT __graft_ss_id, __graft_ss_pos, __graft_ss_h FROM $ne " +
        sql"LATERAL VIEW posexplode(graft_shingle_hashes(__graft_ss_w, $k)) __g " +
        sql"AS __graft_ss_pos, __graft_ss_h")
    val idPos = "__graft_ss_id, __graft_ss_pos"
    val rs = numbered(idPos, idPos, kg, "__graft_ss_h", idPos, "__graft_ss_rn", ">= 2")
    val cv = newStage(
      sql"SELECT DISTINCT __graft_ss_id AS __graft_ss_cid, __graft_ss_tp FROM $rs " +
        sql"LATERAL VIEW explode(sequence(__graft_ss_pos, __graft_ss_pos + ${k - 1})) __e " +
        sql"AS __graft_ss_tp")
    val tok = newStage(
      sql"SELECT __graft_ss_id, __graft_ss_pos, __graft_ss_tk FROM $ne " +
        sql"LATERAL VIEW posexplode(__graft_ss_w) __t AS __graft_ss_pos, __graft_ss_tk")
    val kept = newStage(
      sql"SELECT t.* FROM ${tok as "t"} LEFT ANTI JOIN ${cv as "c"} " +
        sql"ON t.__graft_ss_id = c.__graft_ss_cid AND t.__graft_ss_pos = c.__graft_ss_tp")
    val re = reassemble(kept, "__graft_ss_id", "__graft_ss_pos", "__graft_ss_tk", " ", "__graft_ss_tc",
      ", count(1) AS __graft_ss_nk")
    val tl = newStage(
      sql"SELECT __graft_ss_id, CAST(size(__graft_ss_w) AS BIGINT) AS __graft_ss_nt FROM $ne")
    newStage(
      sql"SELECT d.${q(id)}, coalesce(r.__graft_ss_tc, '') AS text_clean, " +
        sql"(coalesce(t.__graft_ss_nt, 0) - coalesce(r.__graft_ss_nk, 0)) AS n_removed " +
        sql"FROM (SELECT ${q(id)} FROM ${prev.node}) d " +
        sql"LEFT JOIN ${re as "r"} ON d.${q(id)} = r.__graft_ss_id " +
        sql"LEFT JOIN ${tl as "t"} ON d.${q(id)} = t.__graft_ss_id")
  }

  /** `| dedup kind=lines` as SQL text (round 16): RefinedWeb-style
    * fragment dedup ([[graft.ops.Dedup.dedupLines]]) — split on
    * `". "`, keep each fragment's first corpus-wide occurrence
    * (smallest (id, pos) via one digest-keyed window), reassemble in
    * document order. The split/normalize expressions render from the
    * library's own Columns. Output: `(id, text)`, row-preserving
    * (empty string for a fully deduplicated document), exactly the
    * plan path's.
    */
  private def dedupLines(prev: Stage, text: String, id: String): Node = {
    val fragArr = sqlOf(split(graft.ops.TextOps.normalize(col(text)), "\\. "))
    val frags = newStage(
      sql"SELECT __graft_ln_id, __graft_ln_pos, __graft_ln_frag FROM (" +
        sql"SELECT ${q(id)} AS __graft_ln_id, __graft_ln_pos, __graft_ln_frag FROM ${prev.node} " +
        sql"LATERAL VIEW posexplode($fragArr) __f AS __graft_ln_pos, __graft_ln_frag" +
        sql") WHERE length(__graft_ln_frag) > 0")
    val cols = "__graft_ln_id, __graft_ln_pos, __graft_ln_frag"
    val kept = numbered(cols, cols, frags, "md5(CAST(__graft_ln_frag AS BINARY))",
      "__graft_ln_id, __graft_ln_pos", "__graft_ln_rn", "= 1")
    val re = reassemble(kept, "__graft_ln_id", "__graft_ln_pos", "__graft_ln_frag", ". ", "__graft_ln_text")
    newStage(
      sql"SELECT p.${q(id)}, coalesce(r.__graft_ln_text, '') AS text " +
        sql"FROM (SELECT ${q(id)} FROM ${prev.node}) p " +
        sql"LEFT JOIN ${re as "r"} ON p.${q(id)} = r.__graft_ln_id")
  }

  /** `| dedup kind=embed` as SQL text (round 16): sign-LSH
    * near-duplicate removal over embeddings
    * ([[graft.ops.NearDup.embedCosinePairs]] → drop the greater pair
    * member), FIXED geometry only (`planes=`/`bits=` together — the
    * adaptive default sizes bands from a plan-time corpus count, same
    * stance as ann kind=lsh). The signature is `graft_sign_sig` (the
    * identical native expression), band keys and the first-collision
    * XOR predicate are the exact integer forms of `signBandKeys` /
    * `embedCosinePairs`, the rescore is `graft_dot`, and the cosine
    * threshold sits in the join condition exactly where the plan path
    * puts it — so the emitted text is bit-identical on every input,
    * degenerate vectors included (signature 0, NULL norm → no pairs).
    */
  private def dedupEmbed(
      prev: Stage, text: String, id: String, dim: Int, minCos: Double, planes: Int, bits: Int): Node = {
    val nBands = planes / bits
    val (_, sn) = vectors(prev.node, q(id), "__graft_eb_id", q(text), "__v", "__nrm",
      s", graft_sign_sig(__v, $dim, $planes) AS __sig")
    val br = newStage(
      sql"SELECT __graft_eb_id, __v, __nrm, __sig, __bi, __bk FROM $sn " +
        sql"LATERAL VIEW posexplode(${bandArray("__sig", nBands, bits)}) __b AS __bi, __bk")
    // first-collision index over sig_a XOR sig_b — the codegen'd
    // integer predicate that emits each pair once, in its first
    // colliding band (embedCosinePairs' exact form)
    val fc = (0 until nBands)
      .map(i => s"WHEN shiftrightunsigned(a.__sig ^ b.__sig, ${i * bits}) % ${1L << bits}L = 0 THEN $i")
      .mkString("CASE ", " ", s" ELSE $nBands END")
    val cos = "graft_dot(a.__v, b.__v) / (a.__nrm * b.__nrm)"
    val drops = newStage(
      sql"SELECT DISTINCT b.__graft_eb_id AS __graft_eb_drop FROM ${br as "a"} JOIN ${br as "b"} " +
        sql"ON a.__bi = b.__bi AND a.__bk = b.__bk AND a.__graft_eb_id < b.__graft_eb_id " +
        sql"AND ($fc) = a.__bi AND $cos >= $minCos")
    dropIds(prev.node, id, drops, "__graft_eb_drop")
  }

  /** `| dedup kind=semantic` as SQL text (round 16): SemDeDup's
    * cluster-then-prune ([[graft.ops.SemDedup.deduplicate]]), FIXED
    * cell count only (`cells=` — the adaptive default and `occupancy=`
    * resolve the count from a plan-time corpus count, same stance as
    * ann kind=ivf). The hash-seeded Voronoi machinery is the ivf
    * emission's ([[seededCells]]), then the within-cell exact-cosine
    * self-join with the threshold beside the cell equality, and the
    * greater pair member dropped.
    */
  private def dedupSemantic(
      prev: Stage, text: String, id: String, minCos: Double, nCells: Int): Node = {
    val c0 = widened(prev.node, q(id), "__graft_sd_id", q(text), "__v")
    val (_, cells) = seededCells(c0, "__graft_sd_id", prev.node, q(id), q(text), nCells)
    val base = newStage(
      sql"SELECT c.__graft_sd_id, c.__v, ${norm("c.__v")} AS __nrm, k.__cell " +
        sql"FROM ${c0 as "c"} JOIN ${cells as "k"} ON c.__graft_sd_id = k.__graft_sd_id")
    val drops = newStage(
      sql"SELECT DISTINCT b.__graft_sd_id AS __graft_sd_drop FROM ${base as "a"} JOIN ${base as "b"} " +
        sql"ON a.__cell = b.__cell AND a.__graft_sd_id < b.__graft_sd_id " +
        sql"AND graft_dot(a.__v, b.__v) / (a.__nrm * b.__nrm) >= $minCos")
    dropIds(prev.node, id, drops, "__graft_sd_drop")
  }

  /** `| pack <budget> tokens by id, idx` as SQL text (round 16):
    * shard-parallel next-fit packing ([[graft.ops.Packing.packSequences]])
    * — ONE windowed running sum per shard, every expression (shard
    * hash, running start, seq label) rendered from the library's own
    * Columns (`Packing.shardOf/packStart/seqIdOf` — one definition,
    * two spellings).
    */
  private def pack(prev: Stage, op: PackOp): Node = {
    val ExtOptions.Pack(budget, nShards) =
      ExtOptions.pack(op.opts, rowCount(op.budget), op.budget.span, op.span, fail)
    val (tk, id, idx) = (op.tokensCol.name, op.idCol.name, op.idxCol.name)
    val shardSql = sqlOf(graft.ops.Packing.shardOf(col(id), nShards))
    val startSql = sqlOf(graft.ops.Packing.packStart(
      col(tk), col("__graft_pk_shard"), col(id), col(idx)))
    val seqSql = sqlOf(graft.ops.Packing.seqIdOf(
      col("__graft_pk_shard"), col("__graft_pk_start"), budget))
    val s1 = newStage(sql"SELECT *, $shardSql AS __graft_pk_shard FROM ${prev.node}")
    val s2 = newStage(sql"SELECT *, $startSql AS __graft_pk_start FROM $s1")
    val cols = prev.df.columns.toSeq.map(q).mkString(", ")
    newStage(sql"SELECT $cols, $seqSql AS seq_id FROM $s2")
  }

  /** `| decontam against (Evals) text by id` as SQL text (round 16):
    * the EXACT-join form of [[graft.ops.Decontam.decontaminate]] —
    * distinct eval shingles broadcast against the corpus shingle
    * stream, per-document distinct-hit count, drop at `hits=` — with
    * the eval sub-pipeline folded like any join right side. The
    * adaptive Bloom pre-filter is a PHYSICAL
    * plan-time lever (two eager driver jobs + a byte-array literal no
    * SQL string can carry) whose output is IDENTICAL by construction
    * (false positives die in the exact join — OpsSpec asserts it), so
    * the emitted text is the exact form — the same stance as the asof
    * emission's skew-bucket split.
    */
  private def decontam(prev: Stage, op: DecontamOp, o: ExtOptions.Decontam, evalStage: Stage): Node = {
    val ExtOptions.Decontam(minHits, n) = o
    val (text, id) = (op.textCol.name, op.idCol.name)
    val shingleArr = s"graft_shingle_hashes(${sqlOf(graft.ops.NearDup.tokens(col(text)))}, $n)"
    val ev = newStage(
      sql"SELECT DISTINCT __graft_dc_h, __graft_dc_eid FROM (" +
        sql"SELECT ${q(id)} AS __graft_dc_eid, __graft_dc_h FROM ${evalStage.node} " +
        sql"LATERAL VIEW explode($shingleArr) __g AS __graft_dc_h)")
    val cs = newStage(
      sql"SELECT ${q(id)} AS __graft_dc_id, __graft_dc_h FROM ${prev.node} " +
        sql"LATERAL VIEW explode($shingleArr) __g AS __graft_dc_h")
    val bad = newStage(
      sql"SELECT __graft_dc_id FROM (" +
        sql"SELECT /*+ BROADCAST(e) */ c.__graft_dc_id, " +
        sql"count(DISTINCT c.__graft_dc_h) AS __graft_dc_nh " +
        sql"FROM ${cs as "c"} JOIN ${ev as "e"} ON c.__graft_dc_h = e.__graft_dc_h " +
        sql"GROUP BY c.__graft_dc_id) WHERE __graft_dc_nh >= $minHits")
    dropIds(prev.node, id, bad, "__graft_dc_id")
  }

  /** `| join kind=asof` as SQL text (round 15): the UNION + KEYED
    * WINDOW form — the same lowering as [[graft.ops.AsOf.joinAsOf]]
    * minus the hot-key time-bucket split (a PHYSICAL skew lever the
    * SQL dialect cannot carry; results are bit-identical by
    * construction — AsOf.scala's bucket passes reproduce the exact
    * single-window order). The key/timestamp split is the DataFrame
    * path's ([[ExtJoins]]), and the output column ORDER is its frame's
    * (the bucketed join puts keys first).
    */
  private def applyAsofJoin(prev: Stage, op: AsofJoinOp): Stage = {
    val right = fold(op.right)
    emit(prev, op, Some(right))(df => asofJoin(prev, op, right, df.columns.toSeq))
  }

  private def asofJoin(prev: Stage, op: AsofJoinOp, right: Stage, outCols: Seq[String]): Node = {
    val p = ExtJoins.asofParts(
      prev.df.columns.toSeq, right.df.columns.toSeq, op.onCols, op.span, fail)
    val tolMs = op.tolerance.map(o => exprs.parseDurationMillis(o.value, o.valueSpan))
    // tolerance rides the right timestamp inside the struct, exactly
    // like AsOf.joinAsOfTolerant's __right_ts
    val structCols = if (tolMs.isDefined) p.valueCols :+ "__right_ts" else p.valueCols
    val valsType = org.apache.spark.sql.types.StructType(structCols.map { c =>
      if (c == "__right_ts") right.df.schema(p.ts).copy(name = "__right_ts")
      else right.df.schema(c)
    })
    val leftCols = prev.df.columns.toSeq
    val namedStruct = structCols
      .map(c => s"'${c.replace("'", "''")}', ${q(if (c == "__right_ts") p.ts else c)}")
      .mkString("named_struct(", ", ", ")")
    val rightSelect = leftCols.map { c =>
      if (p.keys.contains(c) || c == p.ts) q(c)
      else s"CAST(NULL AS ${prev.df.schema(c).dataType.sql}) AS ${q(c)}"
    }
    val u = newStage(
      sql"SELECT ${leftCols.map(q).mkString(", ")}, CAST(NULL AS ${valsType.sql}) AS __vals, " +
        sql"1 AS __side FROM ${prev.node}" +
        sql"\n  UNION ALL SELECT ${rightSelect.mkString(", ")}, $namedStruct AS __vals, 0 AS __side" +
        sql" FROM ${right.node} WHERE ${(p.ts +: p.keys).map(c => s"${q(c)} IS NOT NULL").mkString(" AND ")}")
    val win = s"PARTITION BY ${p.keys.map(q).mkString(", ")} ORDER BY ${q(p.ts)} ASC, __side ASC" +
      " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val f = newStage(
      sql"SELECT ${leftCols.map(q).mkString(", ")}, last(__vals, true) OVER ($win) AS __vals, __side FROM $u")
    val items = outCols.map { c =>
      if (!p.valueCols.contains(c)) q(c)
      else {
        val v = s"__vals.${q(c)}"
        tolMs match {
          case None => s"$v AS ${q(c)}"
          case Some(ms) =>
            // stale match (older than the tolerance) → NULL, fresh → value
            s"CASE WHEN __vals.${q("__right_ts")} >= ${q(p.ts)} - INTERVAL $ms milliseconds THEN $v END AS ${q(c)}"
        }
      }
    }
    newStage(sql"SELECT ${items.mkString(", ")} FROM $f WHERE __side = 1")
  }

  /** `| ann`: the query sub-pipeline folds once, the column checks and
    * option resolution are the plan path's (`Compiler.annOptions`),
    * then each kind emits; the adaptive lsh/ivf sizing is rejected.
    */
  private def applyAnn(prev: Stage, op: AnnOp): Stage = {
    import ExtOptions.{Ann, Geometry}
    val right = fold(op.queries)
    val render: () => Node = compiler.annOptions(prev.df, right.df, op) match {
      case Ann.Brute(k)                          => () => annBrute(prev, op, right, k)
      case Ann.Lsh(k, dim, Geometry.Fixed(p, b)) => () => annLsh(prev, op, right, k, dim, p, b)
      case Ann.Ivf(k, dim, Some(cells), probes)  => () => annIvf(prev, op, right, k, dim, cells, probes)
      case _: Ann.Lsh => adaptiveRejected(s"ann kind=${op.kind}", fixedGeometry, op.span)
      case _: Ann.Ivf => adaptiveRejected(s"ann kind=${op.kind}", fixedIndex, op.span)
    }
    emit(prev, op, Some(right))(_ => render())
  }

  /** `| ann kind=brute` as SQL text (round 15): exact cosine top-k —
    * normalize both sides, broadcast-join the (small by construction)
    * query set against the corpus, `row_number() <= k`. The dot
    * product is `graft_dot`, graft's native left-fold expression, so
    * the emitted text is bit-identical to the plan path — the HOST
    * SESSION must therefore carry graft's functions
    * (`spark.sql.extensions=graft.functions.GraftExtensions`, or
    * `GraftExtensions.register(spark)`), the same way the reference's
    * emitted SQL assumes its engine's function library.
    */
  private def annBrute(prev: Stage, op: AnnOp, right: Stage, k: Int): Node = {
    val (vecQ, idQ) = (q(op.vecCol.name), q(op.idCol.name))
    val (_, cn) = vectors(prev.node, idQ, "__graft_ann_id", vecQ, "__v", "__nrm")
    val (_, qn) = vectors(right.node, idQ, "query_id", vecQ, "__qv", "__qn")
    val scored = newStage(
      sql"SELECT /*+ BROADCAST(q) */ q.query_id, c.__graft_ann_id, " +
        sql"graft_dot(c.__v, q.__qv) / (c.__nrm * q.__qn) AS cos_sim " +
        sql"FROM ${cn as "c"} JOIN ${qn as "q"} ON c.__graft_ann_id != q.query_id")
    rankedTopK(idQ, scored, k)
  }

  /** `| ann kind=lsh` as SQL text (round 15): the banded sign-LSH
    * top-k, FIXED geometry only (`planes=`/`bits=` both given). The
    * signature is `graft_sign_sig(vec, dim, planes)` — the SAME
    * native [[graft.functions.PackedSignSig]] expression the plan
    * path evaluates (the registered builder derives the identical
    * plane matrix from the two literals), band keys are the same
    * integer `shiftrightunsigned % 2^bits` arithmetic, and the
    * rescore is `graft_dot` — so the emitted text is bit-identical to
    * [[graft.ops.Ann.lshTopK]] on EVERY input, ragged vectors
    * included. The adaptive default (no geometry, or `occupancy=`)
    * sizes its bands from a plan-time corpus count that a single SQL
    * string cannot carry, and is rejected with a pointer to the fixed
    * spelling. Like the brute emission, the host session must carry
    * graft's function registry (GraftExtensions).
    */
  private def annLsh(
      prev: Stage, op: AnnOp, right: Stage, k: Int, dim: Int, planes: Int, bits: Int): Node = {
    val (vecQ, idQ) = (q(op.vecCol.name), q(op.idCol.name))
    val (_, cn) = vectors(prev.node, idQ, "__graft_ann_id", vecQ, "__v", "__nrm",
      s", graft_sign_sig(__v, $dim, $planes) AS __sig")
    val (_, qn) = vectors(right.node, idQ, "query_id", vecQ, "__qv", "__qn",
      s", graft_sign_sig(__qv, $dim, $planes) AS __sig")
    val bands = bandArray("__sig", planes / bits, bits)
    val cb = newStage(
      sql"SELECT __graft_ann_id, band_idx, band_key FROM $cn " +
        sql"LATERAL VIEW posexplode($bands) __b AS band_idx, band_key")
    val qb = newStage(
      sql"SELECT query_id, band_idx, band_key FROM $qn " +
        sql"LATERAL VIEW posexplode($bands) __b AS band_idx, band_key")
    // band rows carry only (id, band): the candidate shuffle moves two
    // longs per row (lshTopK's shape); DISTINCT = its dropDuplicates
    val cand = newStage(
      sql"SELECT /*+ BROADCAST(q) */ DISTINCT q.query_id, c.__graft_ann_id " +
        sql"FROM ${cb as "c"} JOIN ${qb as "q"} ON c.band_idx = q.band_idx AND c.band_key = q.band_key " +
        sql"AND c.__graft_ann_id != q.query_id")
    rescoredTopK(idQ, cand, cn, qn, k)
  }

  /** `| ann kind=ivf` as SQL text (round 16): the hash-seeded IVF
    * ([[graft.ops.Ann.ivfTopKSeeded]]), FIXED cell count only
    * (`cells=` required — the adaptive default resolves √n cells from
    * a plan-time corpus count a SQL string cannot carry, same stance
    * as lsh's adaptive geometry).
    *
    * What the plan path bakes, the text re-derives in place:
    *   - the seed set and the corpus assignment are [[seededCells]]:
    *     `ORDER BY hash32(id), id LIMIT cells` (the hash rendered from
    *     [[graft.ops.NearDup.hash32]]'s own Column), then
    *     `graft_argmax_cell(vec, seeds)` —
    *     [[graft.functions.ArgmaxDotDyn]], the SAME Double.compare
    *     argmax loop as the plan path's baked
    *     [[graft.functions.ArgmaxDot]], with the cell-ordered seed set
    *     arriving as a scalar subquery instead of a plan-time constant;
    *   - query probes follow `Ann.cellRanks` stage for stage (explode
    *     ⋈ seed components → per-(query, cell) sum → rank ≤ probes);
    *     the grouped double sum is left-fold exact here for the same
    *     reason it is in the plan path — each query row's exploded
    *     components live in one partition, and query ids are unique;
    *   - rescore + top-k are the lsh emission's tail (`graft_dot`).
    * Like the other ann emissions the host session must carry graft's
    * function registry. The stage's frame is the Compiler's, whose ivf
    * collects the (bounded, ≤cells·dim) seed matrix — compileToSql on
    * an ivf pipeline therefore runs the same small Spark job as
    * Pql.query on the same text.
    */
  private def annIvf(
      prev: Stage, op: AnnOp, right: Stage, k: Int, dim: Int, nCells: Int, nProbe: Int): Node = {
    val (vecQ, idQ) = (q(op.vecCol.name), q(op.idCol.name))
    val (c, cn) = vectors(prev.node, idQ, "__graft_ann_id", vecQ, "__v", "__nrm")
    val (ct, cc) = seededCells(c, "__graft_ann_id", prev.node, idQ, vecQ, nCells)
    val (qv, qn) = vectors(right.node, idQ, "query_id", vecQ, "__qv", "__qn")
    // Ann.cellRanks' form: component explode ⋈ seed components → sum → rank
    val qx = newStage(
      sql"SELECT query_id, __j, __x FROM $qv LATERAL VIEW posexplode(__qv) __p AS __j, __x")
    val ctc = newStage(
      sql"SELECT __c, __j, __w FROM $ct LATERAL VIEW posexplode(__sv) __p AS __j, __w")
    val qd = newStage(
      sql"SELECT query_id, __c, sum(__x * __w) AS __d FROM ${qx as "qx"} JOIN ${ctc as "ctc"} " +
        sql"ON qx.__j = ctc.__j GROUP BY query_id, __c")
    val qc = numbered("query_id, __c", "query_id, __c", qd, "query_id", "__d DESC, __c", "__r", s"<= $nProbe")
    val cand = newStage(
      sql"SELECT /*+ BROADCAST(q) */ q.query_id, c.__graft_ann_id " +
        sql"FROM ${cc as "c"} JOIN ${qc as "q"} ON c.__cell = q.__c AND c.__graft_ann_id != q.query_id")
    rescoredTopK(idQ, cand, cn, qn, k)
  }

  /** The lsh and ivf emissions' tail: each `(query_id, __graft_ann_id)`
    * candidate pair scored by exact cosine, then [[rankedTopK]].
    */
  private def rescoredTopK(idQ: String, cand: Node, cn: Node, qn: Node, k: Int): Node =
    rankedTopK(idQ, newStage(
      sql"SELECT /*+ BROADCAST(q) */ cand.query_id, cand.__graft_ann_id, " +
        sql"graft_dot(c.__v, q.__qv) / (c.__nrm * q.__qn) AS cos_sim " +
        sql"FROM ${cand as "cand"} JOIN ${cn as "c"} ON cand.__graft_ann_id = c.__graft_ann_id " +
        sql"JOIN ${qn as "q"} ON cand.query_id = q.query_id"), k)

  /** The ann emissions' shared tail: per query, the `k` best-scored
    * corpus ids (ties broken by id), the id restored to its own name.
    */
  private def rankedTopK(idQ: String, scored: Node, k: Int): Node =
    numbered(s"query_id, __graft_ann_id AS $idQ, cos_sim, rank", "query_id, __graft_ann_id, cos_sim",
      scored, "query_id", "cos_sim DESC, __graft_ann_id ASC", "rank", s"<= $k")

  /** `| join kind=range` as SQL text (round 15): the BUCKETED
    * EQUI-JOIN form — interval rows exploded to the buckets they
    * overlap, points bucketed once, equi-join + exact filter — the
    * same lowering as [[graft.ops.RangeJoin.pointInInterval]] (never
    * a raw BETWEEN join, which Spark would plan as a
    * broadcast-nested-loop).
    */
  private def applyRangeJoin(prev: Stage, op: RangeJoinOp): Stage = {
    val right = fold(op.right)
    val rp = ExtJoins.rangeParts(
      prev.df.columns.toSeq, right.df.columns.toSeq, op.onCols, op.span, fail)
    val micros = compiler.bucketMicros(op.bucket)
    // SQL text cannot express a duplicate output name — the DataFrame
    // path tolerates one (out-of-contract input), the text backend
    // rejects it here, before the stage's frame is built
    val dupOut = prev.df.columns.toSeq.filterNot(rp.keys.contains)
      .intersect(right.df.columns.toSeq.filterNot(rp.keys.contains))
    if (dupOut.nonEmpty)
      fail(s"range join would output duplicate column${if (dupOut.sizeIs > 1) "s" else ""} " +
        s"${dupOut.mkString(", ")} — project or rename one side", op.span)
    // floorDiv: exact for negative epochs (see RangeJoin.floorDiv)
    def fdiv(us: String) =
      s"CAST((($us) - pmod($us, ${micros}L)) / ${micros}L AS BIGINT)"
    val lb = newStage(
      sql"SELECT *, ${fdiv(s"unix_micros(${q(rp.ts.name)})")} AS __bucket FROM ${prev.node}")
    val rb = newStage(
      sql"SELECT *, explode(sequence(${fdiv(s"unix_micros(${q(rp.start.name)})")}, " +
        sql"${fdiv(s"unix_micros(${q(rp.end.name)}) - 1")})) AS __bucket" +
        sql" FROM ${right.node} WHERE ${q(rp.end.name)} > ${q(rp.start.name)}")
    val usingCols = (rp.keys :+ "__bucket").map(q).mkString(", ")
    emit(prev, op, Some(right)) { df =>
      newStage(
        sql"SELECT ${df.columns.map(q).mkString(", ")} FROM $lb JOIN $rb USING ($usingCols)" +
          sql" WHERE ${q(rp.ts.name)} >= ${q(rp.start.name)} AND ${q(rp.ts.name)} < ${q(rp.end.name)}")
    }
  }

  /** `| join`: both sides under this join's own aliases (`__l<n>`,
    * `__r<n>`, numbered before the right side folds, so a join nested
    * in it takes the next number); the condition is the Compiler's, and
    * the output names are its frame's (right-side collisions renamed
    * `$right.<name>`).
    */
  private def applyJoin(prev: Stage, j: JoinOp): Stage = {
    joinSeq += 1
    val (la, ra) = (s"__l$joinSeq", s"__r$joinSeq")
    val left = if (j.flavor == "innerunique") newStage(sql"SELECT DISTINCT * FROM ${prev.node}") else prev.node
    val right = fold(j.right)
    emit(prev, j, Some(right)) { df =>
      val ctx = JoinCtx(prev.df, right.df, la, ra)
      val sides = prev.df.columns.map(ctx.leftCol) ++ right.df.columns.map(ctx.rightCol)
      val items = sides.zip(df.columns).map { case (c, n) => s"${sqlOf(c)} AS ${q(n)}" }
      val joinKw = if (j.flavor == "leftouter") "LEFT JOIN" else "JOIN"
      newStage(
        sql"SELECT ${items.mkString(", ")} FROM ${left as la} $joinKw ${right.node as ra}" +
          sql" ON ${sqlOf(compiler.joinCondition(j, ctx))}")
    }
  }

  private def computedItem(c: ComputedColumn): String =
    s"${sqlOf(column(c.x))} AS ${q(compiler.columnName(c))}"

  private def orderText(terms: List[SortTerm]): String =
    terms.map(t => sqlOf(sortColumn(t))).mkString(", ")
}

/** The text model of [[SqlGen]]: each stage is a [[SqlGen.Node]]. */
private object SqlGen {

  /** SQL text of one stage: strings, and [[Read]]s of other stages. */
  final case class Text(parts: Seq[Any]) {
    def +(more: Text): Text = Text(parts ++ more.parts)
  }

  /** A pipeline stage: its SELECT plus the Compiler's frame for the same
    * stage (never executed here).
    */
  final case class Stage(node: Node, df: DataFrame)

  /** Where a stage's text reads `node`, under `alias` or else under
    * the stage's own name, which [[SqlGen.run]] picks.
    */
  final case class Read(node: Node, alias: Option[String])

  /** One SELECT; it reads only stages made before it. */
  final class Node(val id: Int, val text: Text) {
    def as(alias: String): Read = Read(this, Some(alias))
    def reads: Seq[Node] = text.parts.collect { case Read(n, _) => n }
  }

  /** `sql"…"`: a [[Node]] argument reads that stage under its own name,
    * a [[Read]] under its alias, a [[Text]] is spliced in; anything
    * else is text.
    */
  implicit class SqlInterpolator(sc: StringContext) {
    def sql(args: Any*): Text = {
      val parts = sc.parts.map(StringContext.processEscapes)
      Text(parts.head +: args.zip(parts.tail).flatMap {
        case (n: Node, s) => Seq(Read(n, None), s)
        case (r: Read, s) => Seq(r, s)
        case (t: Text, s) => t.parts :+ s
        case (a, s)       => Seq(a.toString, s)
      })
    }
  }
}
