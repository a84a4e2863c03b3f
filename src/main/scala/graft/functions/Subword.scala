package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native codegen greedy subword segmentation counts (WordPiece-style
  * maximal munch) over a token array.
  *
  * Real token accounting for training budgets: whitespace/regex token
  * counts ([[graft.ops.TextOps.tokenStats]]) drift 2-4× from what a
  * subword tokenizer actually produces; this expression walks each
  * word with longest-match-first against a vocabulary and returns
  * `[n_subwords, n_oov]` — the greedy-segmentation count and how many
  * positions fell through to the single-character fallback (an OOV
  * signal that doubles as a rough script/domain detector).
  *
  * Semantics (mirrored exactly by the recursive-CTE DuckDB oracle):
  * per word, starting at position 0, consume the LONGEST vocabulary
  * entry matching at the current position (+1 subword); if none
  * matches, consume ONE Unicode code point (+1 subword, +1 oov).
  * Positions advance in CODE POINTS — DuckDB's `substr` counts code
  * points, so the JVM walk below steps surrogate pairs atomically to
  * agree on any input, not just the BMP.
  *
  * The whole segmentation runs inside whole-stage codegen as one
  * static JVM call per row (the [[ShingleHashes]] pattern); the
  * vocabulary is a plan-time constant baked into the generated code
  * and parsed once per executor through an internal cache. Cost is
  * O(text length × vocab size) with a ~30-entry default vocab — a
  * narrow per-row projection, no shuffle, no UDF.
  */
case class SubwordCounts(child: Expression, vocab: Seq[String])
    extends UnaryExpression
    with ExpectsInputTypes {

  // ASCII-only entries keep UTF-16 length == code-point count, so the
  // JVM walk and DuckDB's code-point substr can never disagree
  require(vocab.nonEmpty && vocab.forall(v => v.nonEmpty && !v.contains(",") && v.forall(_ < 128)),
    "vocab entries must be non-empty, comma-free, ASCII")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_subword_counts"

  private lazy val vocabKey = vocab.mkString(",")

  override def nullSafeEval(a: Any): Any =
    SubwordCounts.compute(a.asInstanceOf[ArrayData], vocabKey)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the vocab rides the generated code as a string literal; compute()
    // parses it once per executor via the cache below
    val lit = ctx.addReferenceObj("subwordVocab", vocabKey, "java.lang.String")
    defineCodeGen(ctx, ev, c => s"graft.functions.SubwordCounts.compute($c, $lit)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SubwordCounts {

  /** Default English-ish subword vocabulary: frequent affixes/digrams.
    * Deliberately WITHOUT single letters — the fallback path IS the
    * single-character consumer, and its count (`n_oov`) measures how
    * much of the corpus the vocabulary fails to explain.
    */
  val DefaultVocab: Seq[String] = Seq(
    "tion", "ing", "ent", "ed", "er", "es", "re", "on", "at", "en",
    "an", "th", "he", "in", "or", "ar", "st", "te", "le", "ou",
    "al", "is", "it", "of", "se", "ll", "nd", "to", "as", "ne"
  )

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  private def vocabFor(key: String): Array[String] =
    cache.computeIfAbsent(key, k => k.split(',').sortBy(v => -v.length))

  /** Greedy longest-match walk over every word; returns
    * `[n_subwords, n_oov]`. Longest-first is realized by scanning the
    * vocab sorted by descending length and taking the first match —
    * identical to the oracle's `max(len(v))` per position.
    */
  def compute(tokens: ArrayData, vocabKey: String): ArrayData = {
    val vs = vocabFor(vocabKey)
    var nSub = 0L
    var nOov = 0L
    val n = tokens.numElements()
    var w = 0
    while (w < n) {
      val word = tokens.getUTF8String(w).toString
      var i = 0
      while (i < word.length) {
        var matched = -1
        var v = 0
        while (matched < 0 && v < vs.length) {
          if (word.startsWith(vs(v), i)) matched = vs(v).length
          v += 1
        }
        if (matched > 0) {
          i += matched // vocab entries are ASCII-ish: length == code points
        } else {
          nOov += 1
          i += Character.charCount(word.codePointAt(i)) // one CODE POINT
        }
        nSub += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(nSub, nOov))
  }

  def subwordCounts(tokens: Column, vocab: Seq[String] = DefaultVocab): Column =
    Bridge.column(SubwordCounts(Bridge.expression(tokens), vocab))
}
