package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the sparse (BM25), dedup and
  * text-analysis operators. Column-expression only (codegen'd) — no
  * UDFs.
  *
  * Tokenizer semantics follow the reference SimpleTokenizer
  * (grape-vector-db src/sparse.rs:288): lowercase, split on spaces,
  * strip non-alphanumerics inside a token, drop tokens of length <= 1
  * and stopwords.
  */
object TextFunctions {

  /** English stopword list of the reference tokenizer
    * (src/sparse.rs:275). CJK entries omitted: the corpus is
    * space-separated ASCII and they can never appear as tokens here.
    */
  val StopWords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "will", "with")

  /** DuckDB literal list of [[StopWords]] for oracle SQL. */
  val stopWordsSql: String = StopWords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Tokenize into an array of normalized terms (order preserved,
    * duplicates kept). Non-alphanumerics are stripped globally before
    * the split — identical output to per-token stripping (removed
    * chars are never spaces) but one codegen'd regexp pass instead of
    * an interpreted per-token lambda (Spark higher-order functions
    * are CodegenFallback). Its only JVM twin is
    * [[graft.functions.expressions.Tok]], which every driver-side
    * query normalization goes through.
    */
  def tokens(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " "),
      t => length(t) > 1 && !t.isin(StopWords: _*))

  /** DuckDB rendering of [[tokens]] over SQL expression `e`. */
  def tokensSql(e: String): String =
    s"list_filter(string_split(regexp_replace(lower($e), '[^a-z0-9 ]', '', 'g'), ' '), x -> length(x) > 1 AND NOT list_contains($stopWordsSql, x))"

  /** Cross-engine deterministic 60-bit hash: first 15 hex chars of
    * md5 → BIGINT. Identical in Spark and DuckDB (md5 hex matches).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB rendering of [[hash60]]. */
  def hash60Sql(e: String): String =
    s"(('0x' || substr(md5(CAST(($e) AS VARCHAR)), 1, 15))::BIGINT)"

  /** Word n-gram shingles (space-joined) from a token array. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** DuckDB rendering of [[wordShingles]] over a list expression. */
  def wordShinglesSql(listE: String, n: Int): String =
    s"list_transform(range(1, greatest(len($listE) - ${n - 1}, 0) + 1), i -> array_to_string(list_slice($listE, i, i + ${n - 1}), ' '))"
}
