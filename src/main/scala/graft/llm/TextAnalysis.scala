package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: tokenize,
 * quality scoring, language ID, token counting, document fingerprinting.
 *
 * All pure Catalyst column expressions (regexp/array built-ins) — codegen'd,
 * no UDFs, no shuffle; they scale linearly and column-prune down to `text`.
 */
object TextAnalysis {

  /** Whitespace tokens, empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " +"), t => length(t) > 0)

  /** Distinct token set (for Jaccard / fingerprints). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** BPE-ish token count: letter runs, digit runs, single other non-space chars. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))

  /**
   * Quality metrics as exact integer counts (ratios are downstream divisions):
   * chars, words, punctuation chars, stopword hits.
   */
  def nChars(text: Column): Column = length(text)
  def nWords(text: Column): Column = size(tokens(text))
  def nPunct(text: Column): Column = regexp_count(text, lit("[.,!?;:]"))

  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def nStopwords(text: Column): Column =
    size(filter(tokens(text), t => t.isin(stopwords: _*)))

  /**
   * Fused one-pass metrics struct `(n_chars, n_words, n_punct, n_stop,
   * n_bpe)` — ONE character walk instead of one split/regex scan per
   * metric ([[graft.functions.TextScanOps]]; semantics pinned to the
   * declarative functions above by `TextScanSpec` property tests).
   */
  def metrics(text: Column): Column =
    graft.functions.TextScanOps.metrics(text, stopwords)

  /**
   * Composite quality score in [0,1]: penalize punctuation soup and
   * no-stopword text. Truncated (floor) to 4 decimals rather than rounded:
   * floor of bit-identical doubles is engine-independent, round-half is not.
   *
   * Counts come from the fused scan; the arithmetic is unchanged (same op
   * order — the double math must stay bit-identical to the oracle).
   */
  def qualityScore(text: Column): Column = {
    val m = metrics(text)
    val w = m.getField("n_words").cast("double")
    val punctRatio = m.getField("n_punct").cast("double") /
      greatest(m.getField("n_chars").cast("double"), lit(1.0))
    val stopRatio = m.getField("n_stop").cast("double") / greatest(w, lit(1.0))
    val q = greatest(lit(0.0), least(lit(1.0),
      lit(0.5) * least(w / lit(20.0), lit(1.0)) // enough words
        + lit(0.3) * least(stopRatio * 5.0, lit(1.0)) // natural-language-ish
        + lit(0.2) * (lit(1.0) - least(punctRatio * 10.0, lit(1.0)))))
    floor(q * 10000) / 10000
  }

  /**
   * Language ID by stopword-list hit counts (n-gram/wordlist heuristic).
   * Deterministic argmax with fixed tie order en > es > de > fr > unknown.
   */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  def langScore(text: Column, lang: String): Column =
    size(filter(tokens(text), t => t.isin(langStopwords(lang): _*)))

  def langId(text: Column): Column = {
    // one fused scan produces all four wordlist hit counts (the
    // split+filter+isin form is four interpreted scans per row)
    val order = Seq("en", "es", "de", "fr")
    val hits = graft.functions.TextScanOps.listHits(text, order.map(langStopwords))
    val Seq(en, es, de, fr) = (1 to 4).map(i => element_at(hits, i))
    val best = greatest(en, es, de, fr)
    when(best === 0, "unknown")
      .when(en === best, "en").when(es === best, "es")
      .when(de === best, "de").otherwise("fr")
  }

  /**
   * Document fingerprint: md5 over the sorted distinct token set — an
   * order-insensitive content hash (bag-of-words identity) for shuffle-free
   * exact-ish dedup keys.
   */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(tokenSet(text))))
}
