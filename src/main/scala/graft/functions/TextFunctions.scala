package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-pipeline surface (north_star):
  * tokenization, quality stats, language ID, fingerprinting. All are pure
  * `org.apache.spark.sql.functions` compositions — codegen'd, no UDFs, so
  * they stay inside WholeStageCodegen at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokens (assumes trimmed-ish prose; `\S+` semantics). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count via regexp_count of `\S+` — robust to leading/trailing
    * whitespace and consistent with the DuckDB oracle
    * (`len(regexp_extract_all(text,'\S+'))`).
    */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** Number of ASCII-alphabetic chars. */
  def alphaCount(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", ""))

  /** Number of punctuation chars (period/comma/quote-free heuristic set). */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", ""))

  /** Canonical document fingerprint: md5 of lowercased, space-normalized
    * text — the exact-dedup key that survives whitespace/case jitter.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** n-gram word shingles (distinct), for Jaccard / MinHash. Documents
    * shorter than n tokens yield an empty array (guarded: Spark's
    * sequence(1, 0) would count *down*, not produce an empty range).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), size(t) - lit(n - 1)),
          i => array_join(slice(t, i, lit(n)), " "))))
  }

  /** Exploded n-gram word shingles: one (ids…, shingle) row per (distinct)
    * shingle per document.
    *
    * Backed by the single-pass [[WordShinglesExpr]] kernel: tokenization,
    * n-gram assembly, and dedup run in one codegen'd loop per document —
    * no posexplode of tokens, no per-doc window sort, no global
    * `distinct()` shuffle (dedup is in-row). The only relational op is
    * the explode into index rows. (History: the HOF array build ran
    * interpreted at ~1.4 ms/doc; the window formulation was codegen'd but
    * shuffled every token through a per-doc sort first.)
    */
  def explodedWordShingles(df: DataFrame, ids: Seq[String], textCol: String, n: Int,
      distinctShingles: Boolean = true): DataFrame = {
    val idCols = ids.map(col)
    df.select(idCols :+
      explode(WordShinglesExpr(col(textCol), n, distinctShingles)).as("shingle"): _*)
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    * standard rolling-hash fingerprinting for near-dup/plagiarism
    * detection at corpus scale): hash every k-gram byte shingle, then
    * keep the minimum hash in each sliding window of `w` consecutive
    * k-grams. Guarantees any shared substring of length ≥ w+k−1 yields a
    * shared fingerprint. Returns one (ids…, fingerprint) row per distinct
    * selected hash — the join key for index-based matching.
    *
    * Backed by the fused single-pass [[WinnowFingerprints]] kernel
    * (rolling hash + deque window-min per document, in-row): the only
    * relational op left is the explode into index rows — no per-position
    * shuffle, no window sort, no global distinct.
    */
  def winnowFingerprints(df: DataFrame, ids: Seq[String], textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    val idCols = ids.map(col)
    df.select(idCols :+
      explode(WinnowFingerprints(col(textCol), k, w)).as("fingerprint"): _*)
  }

  /** Stopword-marker counts per language (lowercased input). */
  def langScore(text: Column, markers: Seq[String]): Column =
    regexp_count(lower(text), lit("\\b(" + markers.mkString("|") + ")\\b"))

  val enMarkers = Seq("the", "and", "of", "to", "in")
  val esMarkers = Seq("el", "la", "de", "que", "y")
  val deMarkers = Seq("der", "die", "und", "das", "ist")
  val frMarkers = Seq("le", "les", "et", "des", "une")

  /** Heuristic language ID from marker-word counts; deterministic
    * first-match-wins tie-break (en > es > de > fr > und).
    */
  def langId(text: Column): Column = {
    val en = langScore(text, enMarkers)
    val es = langScore(text, esMarkers)
    val de = langScore(text, deMarkers)
    val fr = langScore(text, frMarkers)
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }
}
