package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql

import graft.plans.WhitespaceTokens

/** Text primitives shared by the word-score flagship and the text-analysis
  * operators.
  *
  * Tokenization reproduces the reference's `java.util.StringTokenizer`
  * defaults (reference `ComputeWordScore.java:116-120`): delimiters are
  * exactly {space, \t, \n, \r, \f}, empty tokens are never emitted, and
  * there is NO case folding or punctuation stripping. It is one
  * codegen'd byte scan per row ([[graft.plans.WhitespaceTokens]]): no
  * regex and no lambda, so tokenizing never by itself takes an operator
  * out of whole-stage codegen.
  */
object Text {

  /** DuckDB-side delimiter class used in oracle SQL (RE2 pattern). */
  val DelimRegexSql = "[ \\t\\n\\r\\f]+"

  /** DuckDB fragment producing the same empty-filtered token list as
    * [[tokens]] — the single source of truth for oracle-side
    * tokenization (referenced by every oracle that tokenizes).
    */
  val ToksSql: String =
    s"list_filter(string_split_regex(text, '$DelimRegexSql'), x -> length(x) > 0)"

  /** DuckDB fragment: the space-joined n-gram starting at list index
    * `$idx` of token list `$toks` — the single source of truth for
    * oracle-side gram construction (decontamination, duplicate
    * substrings), like [[ToksSql]] is for tokenization.
    */
  def gramConcatSql(toks: String, idx: String, n: Int): String =
    (0 until n).map(k => s"$toks[$idx+$k]").mkString(" || ' ' || ")

  /** `text` → array<string> of its non-empty tokens (NULL for NULL
    * text): one scan of the UTF-8 bytes for the five delimiters.
    */
  def tokens(text: Column): Column =
    GraftSql.column(WhitespaceTokens(GraftSql.expression(text)))

  /** One row per token. Use after selecting the carry-along columns. */
  def explodedWord(text: Column): Column = explode(tokens(text))

  /** Word-level n-gram shingles of size n as space-joined strings.
    * Documents shorter than n yield an empty array — guarded
    * explicitly, because `sequence(1, 0)` generates a DESCENDING
    * [1, 0] sequence in Spark (it does not clamp), and slice with
    * start 0 then throws at runtime.
    *
    * `toks` is LET-BOUND through a single-element transform before the
    * per-index lambda touches it: higher-order lambdas are interpreted
    * with no common-subexpression elimination, so an inline `toks`
    * subtree (typically the full tokenize) would be RE-EVALUATED per
    * shingle — O(len·shingles) per document. Measured on d_substring
    * at sf0.1: 1.36 s → let-bound form below. The bound variable is an
    * attribute read, evaluated once per row regardless of caller.
    */
  def shingles(toks: Column, n: Int): Column =
    element_at(transform(array(toks), t => shingleBody(t, n)), 1)

  private def shingleBody(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** The flagship modifier: stars → {1→-2, 2→-1, 3→0, 4→+1, 5→+2}.
    * The reference's lookup table (`ComputeWordScore.java:86-93`) is
    * exactly `stars - 3`; the double→int truncation at `:113`
    * (Number.intValue) is `cast("int")` (both truncate toward zero).
    */
  def starsModifier(stars: Column): Column = stars.cast("int") - lit(3)

  /** [[starsModifier]] with the reference's fail-fast domain semantics:
    * stars outside {1..5} kill the job (the reference's
    * `SCORE_MODIFIERS.get` returns null there and the unboxing NPE
    * fails the task, `ComputeWordScore.java:113`). Total-function
    * scoring stays available via [[starsModifier]] for pipelines that
    * prefer to pre-filter.
    */
  def starsModifierStrict(stars: Column): Column = {
    val t = stars.cast("int")
    when(t.between(1, 5), t - lit(3))
      .otherwise(raise_error(concat(
        lit("stars out of domain {1..5}: "), stars.cast("string"))))
  }
}
