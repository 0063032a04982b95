package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, n-gram language ID, and document fingerprinting.
  * All built from codegen'd built-ins (no UDFs) so they stay inside
  * whole-stage codegen and push down through the parquet scan.
  */
object TextAnalysis {

  /** Dedup normalization (the CCNet/FineWeb pre-hash step, public recipe):
    * lowercase → digits collapsed to `0` → ASCII punctuation/symbols to
    * spaces → whitespace collapsed → trimmed. Exact-dup detection then
    * groups case/punctuation/number variants of the same content. Kept to
    * ASCII character classes so the SAME regex chain is bit-reproducible in
    * any RE2/Java-regex engine (the DuckDB oracle replays it verbatim);
    * accent folding deliberately omitted — Java Normalizer and SQL
    * strip_accents disagree on edge cases, which would break the
    * cross-engine contract this normalization exists to serve.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(coalesce(text, lit(""))), "[0-9]", "0"),
        "[^a-z0-9 ]", " "),
      " +", " "))

  /** Whitespace token count; empty/blank strings count 0 tokens. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Quality-score components + composite in [0,1]:
    * mean word length, punctuation ratio, uppercase ratio, stopword ratio.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("double")
    val punct = (nChars - length(regexp_replace(t, "[\\.,;:!\\?]", ""))).cast("double")
    val upper = (nChars - length(regexp_replace(t, "[A-Z]", ""))).cast("double")
    val toks = tokenCount(t).cast("double")
    df.withColumn("q_n_tokens", toks)
      .withColumn("q_mean_word_len", when(toks > 0, nChars / toks).otherwise(lit(0.0)))
      .withColumn("q_punct_ratio", when(nChars > 0, punct / nChars).otherwise(lit(0.0)))
      .withColumn("q_upper_ratio", when(nChars > 0, upper / nChars).otherwise(lit(0.0)))
      .withColumn("q_stopword_ratio", stopwordRatio(t, EnglishStopwords))
      .withColumn("quality",
        least(lit(1.0), col("q_stopword_ratio") * 2) * lit(0.5) +
          when(col("q_mean_word_len").between(3.0, 10.0), lit(0.3)).otherwise(lit(0.0)) +
          when(col("q_punct_ratio") <= 0.1, lit(0.2)).otherwise(lit(0.0)))
  }

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")
  val SpanishStopwords: Seq[String] =
    Seq("el", "la", "de", "que", "y", "a", "en", "un", "es", "se", "no", "por", "con", "para", "los")
  val FrenchStopwords: Seq[String] =
    Seq("le", "la", "de", "et", "un", "une", "que", "des", "est", "en", "du", "pour", "dans", "les", "au")

  /** Fraction of whitespace tokens (lowercased) found in `words`. */
  def stopwordRatio(text: Column, words: Seq[String]): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    val hits = size(filter(toks, w => w.isInCollection(words))).cast("double")
    when(length(trim(text)) === 0, lit(0.0)).otherwise(hits / size(toks).cast("double"))
  }

  /** Heuristic language ID by stopword-hit ratio across known languages; emits
    * (lang_pred, lang_score). Ties break by language order (en, es, fr).
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val scores = struct(
      stopwordRatio(t, EnglishStopwords).as("en"),
      stopwordRatio(t, SpanishStopwords).as("es"),
      stopwordRatio(t, FrenchStopwords).as("fr"))
    df.withColumn("__s", scores)
      .withColumn("lang_score", greatest(col("__s.en"), col("__s.es"), col("__s.fr")))
      .withColumn("lang_pred",
        when(col("__s.en") >= col("lang_score"), lit("en"))
          .when(col("__s.es") >= col("lang_score"), lit("es"))
          .otherwise(lit("fr")))
      .drop("__s")
  }

  /** Polynomial rolling hash (base 31, mod 1e9+7) over the raw characters — a
    * deterministic document fingerprint. The modulus keeps every intermediate
    * below 2^35 so the SQL oracle can fold the identical recurrence without
    * 64-bit overflow (DuckDB raises on BIGINT overflow rather than wrapping).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * lit(31L) + c, lit(1000000007L)))

  /** Word n-gram shingles (lowercased, whitespace-tokenized) as array<string>.
    * Native one-pass kernel (see [[graft.functions.WordShinglesExpr]]).
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.MinHashSig.wordShingles(text, n)

  /** Top `k` most frequent terms per key group (source, domain, language):
    * vocabulary / heavy-hitter mining over a corpus — the census behind
    * stopword lists, boilerplate detection, and per-source drift checks.
    * Returns `(keys..., term, term_count, rnk)` with deterministic
    * `(count desc, term asc)` ranking. Physically: explode → one partial-agg
    * count (map-side combine absorbs the per-document term skew) → per-key
    * window over the already-aggregated (distinct-term) rows — the window
    * never sees raw tokens, so per-group fan-in is bounded by vocabulary, not
    * corpus size.
    */
  def topTermsPerKey(
      df: DataFrame, keys: Seq[String], textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the shared native tokenizer (one byte scan, no per-row regex — see
    // Lexical.terms), so per-key term censuses tokenize exactly like BM25
    val toks = df.select(keys.map(col) :+
      explode(Lexical.terms(col(textCol))).as("term"): _*)
    val counts = toks.groupBy((keys :+ "term").map(col): _*)
      .agg(count(lit(1)).as("term_count"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("term_count").desc, col("term"))
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Gopher-style repetition signal: fraction of duplicate word n-grams
    * (1 − distinct/total over [[wordShingles]]). Boilerplate- and
    * template-heavy documents score high; a standard pretraining-quality
    * filter (public Gopher/MassiveText rules). The shingle array is never
    * empty (texts shorter than n emit one whole-text shingle), so no
    * zero-guard is needed.
    */
  def repetitionRatio(text: Column, n: Int = 2): Column =
    graft.functions.WordShinglesExpr.repRatioCol(text, n)

  /** PII patterns, in application order, shared by the Column function and
    * the SQL registration. Whitespace uses the EXPLICIT ASCII class
    * `[ \t\n\x0B\f\r]` rather than `\s`: Java's `\s` includes vertical tab,
    * RE2's does not, so `\s` would silently diverge from SQL oracles on
    * scraped text.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ \\t\\n\\x0B\\f\\r]+" -> "<URL>",
    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{7,}\\b" -> "<NUM>")

  /** PII scrubbing: emails, URLs, IPv4 addresses, and long digit runs
    * (phone/id shaped) replaced with typed placeholder tokens, in that fixed
    * order. Pure `regexp_replace` chain — codegen'd, pushes through scans.
    */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** Token-window document chunking — the pre-tokenization step of an LLM
    * training pipeline: each document becomes overlapping windows of
    * `chunkSize` whitespace tokens advancing by `chunkSize - overlap`.
    * Appends `chunk_id` (0-based), `chunk_text`, `chunk_n_tokens`; blank
    * documents produce no chunks. Pure built-ins (split/sequence/slice inside
    * an explode) — one narrow pass, no shuffle, rows fan out in place.
    */
  def chunkDocuments(
      df: DataFrame, textCol: String,
      chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    df.withColumn("__toks",
        when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
          .otherwise(split(trim(col(textCol)), "\\s+")))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("chunk_id",
        explode(sequence(lit(0), ceil(col("__n") / lit(stride)).cast("int") - 1)))
      .filter(col("chunk_id") * stride < col("__n"))
      .withColumn("chunk_text",
        array_join(slice(col("__toks"), col("chunk_id") * stride + 1, lit(chunkSize)), " "))
      .withColumn("chunk_n_tokens",
        least(col("__n") - col("chunk_id") * stride, lit(chunkSize)).cast("long"))
      .drop("__toks", "__n")
  }
}
