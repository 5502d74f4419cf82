package graft.functions

import org.apache.spark.sql.{Column, graftglue}
import org.apache.spark.sql.functions._

/** Text normalization / tokenization primitives.
  *
  * Two tiers:
  *
  *  1. `filterText` — byte-for-byte parity with the reference's
  *     `Vocabulary.filterText` (/root/reference/src/ru/innopolis/university/
  *     homework/Vocabulary.java:118-121): lowercase, drop words containing a
  *     character repeated >=4x consecutively, drop all-digit words, strip all
  *     non-[a-z0-9 space] characters. Uses the *identical* Java regex
  *     (lookahead + backreference) — Spark's `regexp_replace` runs
  *     java.util.regex so the pattern is accepted verbatim.
  *
  *  2. `normalize`/`tokens` — the oracle-facing path. DuckDB's RE2 engine
  *     supports neither lookahead nor backreferences, so queries that must
  *     hash-match a DuckDB oracle use this RE2-safe subset (lowercase, strip
  *     non-alphanumerics, drop empty + all-digit tokens). The reference-exact
  *     tier is covered by ScalaTest goldens instead (see TextOpsSpec).
  */
object TextOps {

  /** Exact regex from Vocabulary.java:120. Drops words with any char repeated
    * 4+ times consecutively OR all-digit words; strips other punctuation.
    */
  val FilterRegex: String =
    """\s*\b(?=[a-z\d]*([a-z\d])\1{3}|\d+\b)[a-z\d]+|[^a-z\d\s]"""

  /** Reference-parity text filter (Vocabulary.java:118-121). */
  def filterText(c: Column): Column =
    regexp_replace(lower(c), FilterRegex, " ")

  /** Driver-side (plain Scala) twin of `filterText`, for query strings and
    * golden tests. Mirrors Vocabulary.java:118-121 exactly.
    */
  def filterTextScala(raw: String): String =
    raw.toLowerCase.replaceAll(FilterRegex, " ")

  /** RE2-safe normalization: lowercase + non-alphanumerics to space. */
  def normalize(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9\\s]", " ")

  /** Unicode-keeping normalization for the multilingual (byte-fallback)
    * encode tier: lowercase + anything that is not a letter, digit, or
    * whitespace to space. \p{L}/\p{N} mean the same classes in Java
    * regex and RE2, so both engines tokenize identically; the ASCII
    * `normalize` above (which would strip every non-Latin char — data
    * loss on a multilingual corpus) stays the reference-parity tier.
    */
  def normalizeUnicode(c: Column): Column =
    regexp_replace(lower(c), "[^\\p{L}\\p{N}\\s]", " ")

  /** DuckDB twin of `normalizeUnicode` over a SQL expression. */
  def normalizeUnicodeSql(e: String): String =
    s"regexp_replace(lower($e), '[^\\p{L}\\p{N}\\s]', ' ', 'g')"

  /** Whitespace-split to an array; may contain empty strings (filter after
    * explode — mirrors the StringTokenizer note in SURVEY.md §2.1/V3).
    */
  def splitWords(c: Column): Column = split(c, "\\s+")

  /** The word n-grams of an array column, in order, as "w1 w2 … wn": a
    * zip_with fold over n shifted slices (left-assoc concat_ws chains), so
    * no per-token window or shuffle is needed; the fold form avoids the
    * interpreted transform(sequence, element_at) path, measured 17×
    * slower on the bigram case (Search.phraseTopK). Filter arrays shorter
    * than n upstream.
    */
  def ngrams(arr: Column, n: Int): Column = {
    val m = size(arr) - (n - 1)
    (1 until n).foldLeft(slice(arr, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(arr, lit(k + 1), m), (a, b) => concat_ws(" ", a, b))
    }
  }

  /** A token is kept iff non-empty and not all digits (the RE2-expressible
    * part of the reference's word filter).
    */
  def isKeptToken(word: Column): Column =
    length(word) > 0 && !word.rlike("^[0-9]+$")

  /** Per-document term counts, `array<struct<word, tf>>`: the kept tokens
    * of `normalize` → `splitWords` → `isKeptToken`, counted inside the row
    * by one regex-free scan (see TermCounts). Spark's `lower` does the case
    * mapping, as in `normalize`. `TermCountsSpec` pins the equivalence.
    */
  def termCounts(c: Column): Column =
    graftglue.column(TermCounts(graftglue.expression(lower(c))))

  /** Driver-side tokenizer for query strings: same keep-rules as the
    * distributed path, on an already-filtered string.
    */
  def tokenizeScala(filtered: String): Seq[String] =
    filtered.split("\\s+").toSeq
      .filter(w => w.nonEmpty && !w.forall(_.isDigit))
}
