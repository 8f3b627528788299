package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data pipeline:
  * tokenization, quality metrics, n-gram-heuristic language ID, and
  * document fingerprinting. Everything is Catalyst built-ins (codegen'd,
  * per-row, no shuffle) so the metrics scale linearly with the scan;
  * the DuckDB oracle mirrors each formula exactly
  * (SparkEntry.oracleSql q22/q23).
  */
object TextFunctions {

  /** Stopword lists for the language-ID heuristic — tiny per-language
    * discriminative sets (top function words).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "den", "mit"),
    "fr" -> Seq("le", "les", "et", "est", "une", "des", "que", "pour", "dans", "pas"),
    "es" -> Seq("el", "los", "y", "es", "un", "una", "por", "con", "no", "se"))

  /** Whitespace tokens, lowercased, empties dropped. */
  def wsTokens(text: Column): Column =
    filter(split(lower(text), " "), t => length(t) > 0)

  /** Case-SENSITIVE whitespace tokens, empties dropped — [[wsTokens]]
    * minus the lower(). The casing split across the text metrics is
    * DELIBERATE and oracle-pinned per query: the LM/drift/PMI/BPE
    * family distinguishes 'The'/'the' (casing carries signal for
    * perplexity, KL drift, and merge rules), while coverage/packing/
    * TF-IDF fold case. This named helper replaces the four inline
    * copies so the divergence is one documented definition, not five
    * accidental ones.
    */
  def wsTokensCased(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(wsTokens(text))

  /** BPE-ish token count: word pieces + individual non-word-non-space
    * marks (`\w+|[^\w\s]`) — the classic pre-tokenizer regex.
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Count of punctuation characters. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", ""))

  /** Count of alphabetic characters. */
  def alphaCount(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", ""))

  /** Tokens from `text` that appear in `words`. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(filter(wsTokens(text), t => t.isin(words.map(lit(_)): _*)))

  /** Heuristic quality score in [0,1]:
    * 0.4·stopword_ratio + 0.3·alpha_ratio + 0.3·min(tokens,100)/100.
    * (Length-, punctuation- and stopword-based, per the usual
    * web-scale quality filters.)
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCountWs(text).cast("double")
    val swRatio = stopwordCount(text, stopwords("en")).cast("double") /
      greatest(nTok, lit(1.0))
    val alphaRatio = alphaCount(text).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))
    val lenScore = least(nTok, lit(100.0)) / lit(100.0)
    lit(0.4) * swRatio + lit(0.3) * alphaRatio + lit(0.3) * lenScore
  }

  /** Per-language stopword-hit ratio (the n-gram-heuristic language-ID
    * signal): |tokens ∩ stopwords(lang)| / |tokens|.
    */
  def langScore(text: Column, lang: String): Column =
    stopwordCount(text, stopwords(lang)).cast("double") /
      greatest(tokenCountWs(text).cast("double"), lit(1.0))

  /** Predicted language: argmax of the per-language scores, 'und' when
    * every score is 0. Deterministic tie-break by the fixed lang order.
    */
  def langPredict(text: Column): Column = {
    val langs = Seq("en", "de", "fr", "es")
    val scores = langs.map(l => (l, langScore(text, l)))
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0.0, lit(l)).otherwise(acc)
    }
    pick
  }

  /** PII patterns for corpus scrubbing — deliberately simple so the
    * semantics are identical under Java regex (Spark) and RE2 (DuckDB
    * oracle): no backreferences, no lookaround.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?\\d[\\d -]{7,}\\d"
  val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Count of PII matches of one pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact PII in-place: emails, then IPs, then phone numbers (IPs
    * before phones so the dot-separated octets aren't half-eaten by the
    * digits-and-separators phone pattern).
    */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, emailRe, "<EMAIL>")
    val i = regexp_replace(e, ipRe, "<IP>")
    regexp_replace(i, phoneRe, "<PHONE>")
  }

  /** Canonical normalization for fingerprinting: lowercase, collapse
    * whitespace runs, trim.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** MD5 content fingerprint over normalized text (oracle-matchable —
    * DuckDB md5() agrees byte-for-byte).
    */
  def fingerprintMd5(text: Column): Column = md5(normalizeText(text))
}
