package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftglue.Bridge

/** Registers graft's native expressions as SQL functions.
  *
  * Cluster path: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`) —
  * every session on the cluster then resolves the functions in
  * `spark.sql(...)` / `expr(...)`.
  *
  * Existing-session path: [[GraftExtensions.register]] installs the
  * same functions into a live session's registry (temp functions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(extensions.injectFunction)
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A foldable argument evaluated at registration time (SQL callers
    * pass widths/vocabularies as literals).
    */
  private def litOf(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null)
  }

  private def intLit(e: Expression, what: String): Int =
    litOf(e, what).asInstanceOf[Number].intValue()

  val functions: Seq[FunctionDescription] = Seq(
    (
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_dot expects 2 arguments, got ${args.length}")
        DotProduct(args(0), args(1))
      }
    ),
    (
      FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "graft_sorted_intersect_size"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_sorted_intersect_size expects 2 arguments, got ${args.length}")
        SortedIntersectSize(args(0), args(1))
      }
    ),
    (
      FunctionIdentifier("graft_punct_count"),
      new ExpressionInfo(classOf[PunctCount].getName, "graft_punct_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"graft_punct_count expects 1 argument, got ${args.length}")
        PunctCount(args(0))
      }
    ),
    (
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"graft_shingle_hashes expects (tokens[, n]), got ${args.length} arguments")
        val n = if (args.length == 2) intLit(args(1), "shingle width n") else 3
        ShingleHashes(args(0), n)
      }
    ),
    (
      FunctionIdentifier("graft_minhash_matches"),
      new ExpressionInfo(classOf[MinhashMatches].getName, "graft_minhash_matches"),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"graft_minhash_matches expects (a, b, k), got ${args.length} arguments")
        MinhashMatches(args(0), args(1), intLit(args(2), "graft_minhash_matches k"))
      }
    ),
    (
      FunctionIdentifier("graft_minhash_band_keys"),
      new ExpressionInfo(classOf[MinhashBandKeys].getName, "graft_minhash_band_keys"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_minhash_band_keys expects (sig, n_bands, band_rows), got ${args.length} arguments")
        MinhashBandKeys(args(0), intLit(args(1), "graft_minhash_band_keys n_bands"),
          intLit(args(2), "graft_minhash_band_keys band_rows"))
      }
    ),
    (
      FunctionIdentifier("graft_minhash_first_band"),
      new ExpressionInfo(classOf[MinhashFirstBand].getName, "graft_minhash_first_band"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          s"graft_minhash_first_band expects (a, b, n_bands, band_rows), got ${args.length} arguments")
        MinhashFirstBand(args(0), args(1), intLit(args(2), "graft_minhash_first_band n_bands"),
          intLit(args(3), "graft_minhash_first_band band_rows"))
      }
    ),
    (
      FunctionIdentifier("graft_subword_counts"),
      new ExpressionInfo(classOf[SubwordCounts].getName, "graft_subword_counts"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"graft_subword_counts expects (tokens[, vocab_csv]), got ${args.length} arguments")
        val vocab = if (args.length == 2)
          litOf(args(1), "vocab_csv").toString.split(',').toSeq
        else SubwordCounts.DefaultVocab
        SubwordCounts(args(0), vocab)
      }
    ),
    (
      FunctionIdentifier("graft_sign_sig"),
      new ExpressionInfo(classOf[PackedSignSig].getName, "graft_sign_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_sign_sig expects (vec, dim, planes), got ${args.length} arguments")
        val dim = intLit(args(1), "graft_sign_sig dim")
        val planes = intLit(args(2), "graft_sign_sig planes")
        require(dim >= 1, s"graft_sign_sig dim must be >= 1, got $dim")
        require(planes >= 1 && planes <= 62,
          s"graft_sign_sig planes must be in [1, 62], got $planes")
        // the SAME deterministic plane stream as NearDup.signSigs —
        // matrix index p*dim+j = planeValue(p*dim+j) — so the SQL
        // spelling is the identical expression, not a lookalike
        val mat = Array.tabulate(planes * dim)(i => graft.ops.Project.planeValue(i.toLong))
        PackedSignSig(args(0), mat, dim)
      }
    ),
    (
      FunctionIdentifier("graft_argmax_cell"),
      new ExpressionInfo(classOf[ArgmaxDotDyn].getName, "graft_argmax_cell"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_argmax_cell expects (vec, seeds), got ${args.length} arguments")
        ArgmaxDotDyn(args(0), args(1))
      }
    ),
    (
      FunctionIdentifier("graft_bpe_count"),
      new ExpressionInfo(classOf[BpeCount].getName, "graft_bpe_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"graft_bpe_count expects (tokens[, merges_csv]), got ${args.length} arguments")
        // merges_csv: comma-separated "a b" pairs in rank order
        val merges = if (args.length == 2)
          litOf(args(1), "merges_csv").toString.split(',').toSeq.map { p =>
            val sp = p.indexOf(' ')
            require(sp > 0, s"merge entry '$p' must be 'left right'")
            (p.substring(0, sp), p.substring(sp + 1))
          }
        else BpeCount.DefaultMerges
        BpeCount(args(0), merges)
      }
    )
  )

  /** Install every graft function into an already-running session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, _, builder) =>
      Bridge.registerTempFunction(spark, ident.funcName, builder)
    }
}
