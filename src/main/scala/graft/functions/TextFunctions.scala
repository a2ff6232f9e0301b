package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline scalar functions, re-expressing the reference's cleaning /
  * parsing / keying helpers (SURVEY.md §2.9) as Catalyst expression
  * compositions. Each has an exact ANSI-SQL twin for the DuckDB oracle.
  *
  * Citations into /root/reference/: clean_text movie_generator.py:329-338,
  * year extraction :353-356, validation :375-377, key normalization :74,
  * slug :384, CSV-ish split :360-365.
  */
object TextFunctions {

  /** F1 — markdown strip + whitespace collapse + list-prefix strip
    * (movie_generator.py:329-338). */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      trim(regexp_replace(
        regexp_replace(c, "[*_\"'`#]", ""),
        "\\s+", " ")),
      "^\\d+\\.\\s*", ""))

  /** F1 twin in DuckDB SQL (needs the 'g' global flag). */
  def cleanTextSql(e: String): String =
    s"trim(regexp_replace(trim(regexp_replace(regexp_replace($e, '[*_\"''`#]', '', 'g'), '\\s+', ' ', 'g')), '^\\d+\\.\\s*', '', 'g'))"

  /** F3/F4 — year extraction with [1900,2030] validation, fallback 2000
    * (movie_generator.py:353-356,375-377). */
  def extractYear(c: Column): Column = {
    // ANSI-safe: regexp_extract yields '' on no match; guard before cast.
    val m = regexp_extract(c, "\\b((?:19|20)\\d{2})\\b", 1)
    val y = when(m =!= "", m.cast("int"))
    when(y.between(1900, 2030), y).otherwise(lit(2000))
  }

  def extractYearSql(e: String): String =
    s"CASE WHEN try_cast(regexp_extract($e, '\\b((?:19|20)\\d{2})\\b', 1) AS INT) BETWEEN 1900 AND 2030 THEN try_cast(regexp_extract($e, '\\b((?:19|20)\\d{2})\\b', 1) AS INT) ELSE 2000 END"

  /** F6 — normalized dedup key (movie_generator.py:74). */
  def normKey(c: Column): Column = lower(trim(c))

  /** F7 — slug id: lowercase, spaces→underscores (movie_generator.py:384). */
  def slug(c: Column): Column = regexp_replace(lower(trim(c)), " ", "_")

  def slugSql(e: String): String =
    s"regexp_replace(lower(trim($e)), ' ', '_', 'g')"

  /** Whitespace tokens — single-space split keeping empties, identical to
    * DuckDB string_split(text, ' '). */
  def tokens(c: Column): Column = split(c, " ")

  /** Stopword hit count over a token array (exact-int, oracle-safe). */
  def stopwordCount(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, w => w.isin(stopwords.map(lit): _*)))

  /** Distinct-token ratio (int/int single division — bit-exact parity). */
  def uniqueRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Count of the most frequent element in a string array (the "mode
    * count" behind the C4/Gopher top-token and top-n-gram rules), as the
    * longest run in the SORTED array: one array_sort + one linear
    * `aggregate` pass = O(n log n) per row. The naive HOF form —
    * `transform(array_distinct(a), e => size(filter(a, _ === e)))` — is
    * O(distinct·n) re-evaluations of `a`'s expression tree (lambdas
    * re-evaluate captured argument EXPRESSIONS per invocation; only
    * bound column references are free), which measured ~30 ms/doc on
    * 54-token docs. Null-seeded prev handles empty-string tokens. */
  def maxElemCount(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Normalized Levenshtein similarity in [0,1] — the DuckDB-checkable twin
    * of the reference's Ratcliff/Obershelp ratio (movie_generator.py:89;
    * SURVEY.md §2.9 F8). */
  def levRatio(a: Column, b: Column): Column =
    lit(1.0) - levenshtein(a, b).cast("double") /
      greatest(length(a), length(b))
}
