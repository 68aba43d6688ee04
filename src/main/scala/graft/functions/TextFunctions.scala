package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, language ID, fingerprinting. All are pure
  * codegen'd column expressions (no UDFs) built from `functions._` +
  * higher-order array functions, so they fuse into whole-stage codegen and
  * scale as map-only stages — no shuffle, no driver involvement.
  */
object TextFunctions {

  /** Whitespace tokens with empty strings removed (leading/trailing
    * whitespace would otherwise produce "" tokens).
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Native codegen'd formulation of [[tokens]] (one fused byte scan per row
    * vs the interpreted ArrayFilter-over-regex-split above, which is
    * CodegenFallback). Byte-identical output — pinned by NativeFuzzSpec.
    * Use in hot paths that explode tokens over a corpus.
    */
  def tokensNative(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.ws_tokens(text)
  }

  /** Native codegen'd formulation of [[tokenCount]] — counts without
    * materializing the token array.
    */
  def tokenCountNative(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.token_count(text)
  }

  /** Mean token length in characters; 0 for empty text. */
  def avgTokenLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) === 0, lit(0.0))
      .otherwise(
        aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
  }

  /** Punctuation chars / total chars (0 when text empty). Char class kept to
    * an explicit ASCII set so Java-regex (Spark) and RE2 (DuckDB oracle)
    * agree exactly.
    */
  val PunctClass = "[.,!?;:'\"()\\[\\]{}-]"
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(regexp_replace(text, PunctClass, ""))).cast("double") / length(text))

  /** Small fixed stopword lists per language for the n-gram-free heuristic
    * language ID. Deliberately tiny + deterministic.
    */
  val StopEn = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  val StopDe = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von")
  val StopEs = Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con")
  val StopFr = Seq("le", "la", "et", "les", "des", "est", "un", "une", "dans", "que")

  /** Stopword lists in argmax tie-break order (en > de > es > fr) — the
    * model the native `lang_stats` expression bakes in.
    */
  val StopLangOrder: Seq[(String, Seq[String])] =
    Seq("en" -> StopEn, "de" -> StopDe, "es" -> StopEs, "fr" -> StopFr)

  /** Single-pass native token/stopword statistics:
    * struct<n_tokens:int, tok_chars:bigint, en:int, de:int, es:int, fr:int>
    * — one fused byte scan replacing the five interpreted HOFs the quality
    * signals otherwise need (per-language `size(filter(tokens, isin))` plus
    * the `aggregate` token-length sum). Field formulas are pinned to the HOF
    * formulations by NativeFuzzSpec.
    */
  def langStats(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.lang_stats(text)
  }

  private def inSet(t: Column, set: Seq[String]): Column =
    t.isin(set.map(_.asInstanceOf[Any]): _*)

  def stopwordCount(text: Column, set: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => inSet(t, set)))

  /** Stopword tokens (EN list) / tokens — a standard quality signal. */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(stopwordCount(text, StopEn).cast("double") / n)
  }

  /** Heuristic language ID: argmax of per-language stopword hit counts, 'und'
    * when all scores are 0. Ties break in fixed order en > de > es > fr
    * (strict `>` comparisons below).
    */
  def langId(text: Column): Column = {
    val en = stopwordCount(text, StopEn)
    val de = stopwordCount(text, StopDe)
    val es = stopwordCount(text, StopEs)
    val fr = stopwordCount(text, StopFr)
    val best = greatest(en, de, es, fr)
    when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(es === best, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Character-bigram profiles per language for the n-gram language-ID
    * variant: a handful of high-frequency bigrams each, fixed and tiny.
    */
  val NgramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd"),
    "de" -> Seq("er", "en", "ch", "de", "ei", "ie", "in", "te", "nd", "sch"),
    "es" -> Seq("de", "la", "os", "el", "en", "es", "ue", "ar", "ció", "que"),
    "fr" -> Seq("es", "le", "de", "en", "on", "nt", "ou", "ai", "eur", "que"))

  /** Profiles in argmax tie-break order (en > de > es > fr) — the order the
    * native expression bakes in.
    */
  val NgramProfileOrder: Seq[(String, Seq[String])] =
    Seq("en", "de", "es", "fr").map(l => l -> NgramProfiles(l))

  /** n-gram heuristic language ID: per-language non-overlapping profile-gram
    * occurrence counts, argmax with fixed tie order en > de > es > fr, 'und'
    * when every score is 0. Backed by the native single-pass
    * graft.expressions.LangIdNgram (the regex formulation below does ~37
    * full-string rewrites per row — round-1's second-slowest query).
    * Complements the stopword-based [[langId]].
    */
  def langIdNgram(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.lang_id_ngram(text)
  }

  /** Column-expression (regexp_replace occurrence-count) formulation of
    * [[langIdNgram]] — kept as the reference implementation for the
    * equivalence spec and as the template the DuckDB oracle mirrors.
    */
  def langIdNgramRegex(text: Column): Column = {
    val t = lower(text)
    def score(ngrams: Seq[String]): Column =
      ngrams.map { g =>
        ((length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(g), ""))) / g.length)
      }.reduce(_ + _)
    val en = score(NgramProfiles("en")); val de = score(NgramProfiles("de"))
    val es = score(NgramProfiles("es")); val fr = score(NgramProfiles("fr"))
    val best = greatest(en, de, es, fr)
    when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(es === best, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Composite 0..1 quality score: rewards mid-length docs, some stopwords,
    * low punctuation density. Pure arithmetic — mirrors exactly in the
    * DuckDB oracle SQL.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lenScore  = least(n / 100.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctPen  = greatest(lit(1.0) - punctRatio(text) * 10.0, lit(0.0))
    round((lenScore + stopScore + punctPen) / 3.0, 6)
  }

  // Derivations from one shared [[langStats]] struct — value-identical to
  // the HOF formulations above (same operand types and operation order, so
  // double arithmetic matches bit-for-bit), but every signal reads the same
  // single-pass struct instead of re-walking the token array interpreted.

  /** `stopwordRatio` from a [[langStats]] struct. */
  def statsStopwordRatio(stats: Column): Column =
    when(stats.getField("n_tokens") === 0, lit(0.0))
      .otherwise(stats.getField("en").cast("double") / stats.getField("n_tokens"))

  /** `avgTokenLen` from a [[langStats]] struct. */
  def statsAvgTokenLen(stats: Column): Column =
    when(stats.getField("n_tokens") === 0, lit(0.0))
      .otherwise(stats.getField("tok_chars").cast("double") / stats.getField("n_tokens"))

  /** `langId` from a [[langStats]] struct (same strict-`>` tie order). */
  def statsLangId(stats: Column): Column = {
    val (en, de, es, fr) = (stats.getField("en"), stats.getField("de"),
      stats.getField("es"), stats.getField("fr"))
    val best = greatest(en, de, es, fr)
    when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(es === best, lit("es"))
      .otherwise(lit("fr"))
  }

  /** `qualityScore` from a [[langStats]] struct (punctuation still reads the
    * text — it is a character-class signal, not a token signal).
    */
  def statsQualityScore(stats: Column, text: Column): Column = {
    val n = stats.getField("n_tokens").cast("double")
    val lenScore  = least(n / 100.0, lit(1.0))
    val stopScore = least(statsStopwordRatio(stats) * 5.0, lit(1.0))
    val punctPen  = greatest(lit(1.0) - punctRatio(text) * 10.0, lit(0.0))
    round((lenScore + stopScore + punctPen) / 3.0, 6)
  }

  /** Deterministic polynomial rolling-hash fingerprint over token lengths —
    * SQL-expressible (mirrors as a DuckDB `list_reduce`) so it can be
    * oracle-checked. h := (h*31 + len(tok)+1) mod 1e9+7, h0 = 0.
    */
  val FpMod = 1000000007L
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (h, t) => pmod(h * 31 + length(t) + 1, lit(FpMod)))

  /** Normalization for near-exact dedup: lowercase, collapse whitespace,
    * trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** PII / boilerplate scrubbing patterns, shared by Spark and the DuckDB
    * oracle: no lookarounds or backreferences, so Java regex and RE2 agree
    * byte-for-byte.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^ \\t\\n]+"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def urlCount(text: Column): Column = regexp_count(text, lit(UrlPattern))

  /** Redact emails then URLs with fixed sentinels — the standard
    * training-data scrub; map-only, codegen'd regex.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"), UrlPattern, "<URL>")

  /** BPE-ish subword-boundary tokenizer: a GPT-2-style regex splitting
    * contractions, letter runs (with optional leading space), digit runs,
    * and punctuation runs. No lookarounds, so Java regex (Spark) and RE2
    * (DuckDB oracle) agree. Returns the token array.
    */
  val BpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
  def bpeTokens(text: Column): Column =
    call_function("regexp_extract_all", text, lit(BpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** k-token shingles (n-grams) as an array of strings; empty array when the
    * doc has fewer than k tokens. Backed by the native single-pass
    * graft.expressions.ShingleStrings (the HOF chain below allocates every
    * shingle interpreted — it dominated round-1 dedup cost).
    */
  def shingles(spark: org.apache.spark.sql.SparkSession, text: Column, k: Int = 3): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.shingle_strings(text, lit(k))
  }

  /** HOF formulation of [[shingles]] — reference implementation for the
    * equivalence spec and the template the DuckDB shingle SQL mirrors.
    */
  def shinglesHof(text: Column, k: Int = 3): Column = {
    val ts = tokens(lower(text))
    when(size(ts) < k, array().cast("array<string>"))
      .otherwise(
        transform(sequence(lit(0), size(ts) - k), i =>
          concat_ws(" ", slice(ts, i + 1, lit(k)))))
  }

  /** Distinct shingle hashes (xxhash64, first-occurrence order) — input units
    * for MinHash/Jaccard. Native fused expression.
    */
  def shingleHashes(spark: org.apache.spark.sql.SparkSession, text: Column, k: Int = 3): Column = {
    graft.extensions.GraftExtensions.register(spark)
    graft.extensions.GraftExtensions.shingle_hashes(text, lit(k))
  }

  /** HOF formulation of [[shingleHashes]] — reference for the equivalence
    * spec.
    */
  def shingleHashesHof(text: Column, k: Int = 3): Column =
    array_distinct(transform(shinglesHof(text, k), s => xxhash64(s)))
}
