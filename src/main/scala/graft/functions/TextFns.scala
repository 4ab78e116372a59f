package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar building blocks for large-corpus pipelines:
  * normalization, tokenization, token/stopword counting, quality ratios,
  * and content fingerprinting. All pure `Column` combinators (codegen'd,
  * no UDFs), so they survive inside whole-stage codegen over a 100 TB
  * documents table and Catalyst can prune/push around them.
  *
  * Every function has an exact DuckDB mirror used by the oracle queries —
  * `normalizeSql`/`tokensSql` here, the rest inline in QueriesText.
  */
object TextFns {

  /** Canonical text form: lowercase, strip non-[a-z0-9 ], collapse runs
    * of whitespace, trim. Used before fingerprinting / shingling so
    * formatting noise doesn't defeat dedup.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** DuckDB mirror of [[normalize]] over the SQL expression `expr`
    * (the HashFns.md5LongSql convention: the oracle SQL is built from
    * the same definition site as the Spark column).
    */
  def normalizeSql(expr: String): String =
    s"trim(regexp_replace(regexp_replace(lower($expr),'[^a-z0-9 ]','','g'),' +',' ','g'))"

  /** Whitespace tokens (single-space split of normalized text). */
  def tokens(c: Column): Column = split(normalize(c), " ")

  /** DuckDB mirror of [[tokens]]. */
  def tokensSql(expr: String): String =
    s"string_split(${normalizeSql(expr)}, ' ')"

  /** Count of tokens matching the set (e.g. stopwords). */
  def countIn(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(set))).cast("long")

  /** English stopword sample used by the quality/lang-id heuristics. */
  val enStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Word count of the raw (un-normalized) text: regexp token count. */
  def wordCount(c: Column): Column =
    regexp_count(c, lit("[a-z0-9]+")).cast("long")

  /** BPE-ish token-count estimate: a GPT-2-style pre-tokenizer regex
    * (contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs) counted per document. Not a real BPE vocab —
    * it's the cheap upper-bound estimator pipelines use for token
    * budgeting before the actual tokenizer runs. The pattern is RE2-
    * compatible so DuckDB oracles count identically.
    */
  val bpeishPattern: String = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
  def bpeishTokenCount(c: Column): Column =
    regexp_count(c, lit(bpeishPattern)).cast("long")

  /** Punctuation-ish character count (anything outside [a-z0-9 ]). */
  def punctCount(c: Column): Column =
    regexp_count(lower(c), lit("[^a-z0-9 ]")).cast("long")

  /** 60-bit content fingerprint of the normalized text (md5-derived —
    * portable across engines, see HashFns).
    */
  def fingerprint(c: Column): Column = HashFns.md5Long(normalize(c))
}
