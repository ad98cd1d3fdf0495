package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text primitives for the training-data-pipeline operators (tokenize,
  * shingle, hash). Pure built-in-function compositions — everything stays
  * in WholeStageCodegen; no UDFs.
  *
  * Cross-engine notes: token/shingle formulas are written 1-based
  * (`element_at`) so the DuckDB oracles (1-based lists) are literal
  * transliterations.
  */
object TextFunctions {

  /** Whitespace tokenization: split on single space after trim (documents
    * are single-spaced; both engines keep interior empties identically). */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** Word n-gram shingles over a `toks` array column. Empty array when the
    * doc is shorter than n tokens. 1-based element_at keeps the formula a
    * literal transliteration of the DuckDB oracle. */
  def shinglesN(toksCol: String, n: Int): Column = {
    val terms = (0 until n).map(k => s"element_at($toksCol,i+$k)").mkString(", ")
    when(size(col(toksCol)) >= n,
      expr(s"transform(sequence(1, size($toksCol)-${n - 1}), i -> concat_ws(' ', $terms))"))
      .otherwise(expr("cast(array() as array<string>)"))
  }

  def shingles3(toksCol: String): Column = shinglesN(toksCol, 3)

  /** DuckDB rendering of [[shinglesN]] over a 1-based list expression. */
  def shinglesNSql(toksExpr: String, n: Int): String = {
    val terms = (0 until n).map(k => s"$toksExpr[i+$k]").mkString(" || ' ' || ")
    s"list_transform(range(1, len($toksExpr)-${n - 2}), i -> $terms)"
  }

  /** 60-bit token hash: first 15 hex chars of md5, as a long. 60 bits keeps
    * the value positive in an int64 on both engines. */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Count of characters outside `[a-z0-9 ]` — the n_punct quality
    * signal. Equivalent to `size(regexp_extract_all(text,
    * '[^a-z0-9 ]'))` (every match of a single-char class is one
    * out-of-class character), but via `translate` (delete the 37-char
    * alphabet, count the remainder): a plain char-map pass in codegen.
    * Measured on the 100× corpus: the regex form was 29.8 s — the ENTIRE
    * q75 curation wall — vs 1.6 s for translate. The DuckDB oracles keep
    * the regexp_extract_all spelling; values are identical. */
  def punctCount(text: Column): Column =
    length(translate(text, "abcdefghijklmnopqrstuvwxyz0123456789 ", ""))

  /** BPE-ish token pieces: letter runs, digit runs, single punctuation. */
  val PieceRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Per-language function-word lists for the n-gram language-ID
    * heuristic. Tiny on purpose: broadcast-able constant, no shuffle. */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in"),
    "es" -> Seq("el", "la", "que", "de", "los", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有"))

  /** Stopword hit count over a token-array column. Uses the native
    * codegen kernel ([[graft.plans.StopHitsExpr]]) — the higher-order
    * `size(filter(toks, x -> x IN (...)))` form is CodegenFallback
    * (interpreted lambda per element) and dominated the per-document
    * scoring cost at corpus scale. The function is injected into every
    * session [[graft.core.GraftSession]] builds. */
  def stopHits(toksCol: String, words: Seq[String]): Column = {
    val list = words.map(w => s"'$w'").mkString(", ")
    expr(s"stop_hits($toksCol, array($list))")
  }

  def stopHitsSql(toksExpr: String, words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter($toksExpr, x -> x IN ($list)))"
  }
}
