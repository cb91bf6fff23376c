package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language-ID (marker n-gram
  * heuristic), quality components (length/punct/stopword counts), token
  * counting (whitespace + BPE-ish regex), and document fingerprinting
  * (rolling hash). All pure column expressions — narrow, codegen'd,
  * shuffle-free; the quality components stay integer-exact so
  * cross-engine oracles avoid float division.
  */
object TextAnalysis {

  val P: Long = 1000000007L

  def words(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text))

  /** BPE-ish token count: alpha runs, digit runs, single non-alnum marks —
    * the classic pre-tokenizer split (portable regex, same in RE2/Java).
    */
  val BpeTokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  // fused match COUNT — value-identical to
  // size(regexp_extract_all(text, BpeTokenRegex, 0)) without allocating
  // every match string per row (see functions.RegexCount)
  def tokenCountBpe(text: Column): Column =
    graft.functions.RegexCount(text, BpeTokenRegex)

  // ------------------------------------------------------------ quality
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "is", "are", "of", "and", "or", "to", "in")

  // Reference column formulations of the quality fields of [[stats]]
  // (spec cross-check: the fused pass must equal them)
  private[graft] def stopwordCount(text: Column): Column =
    size(filter(words(text), w => w.isin(Stopwords: _*)))

  private[graft] def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  private[graft] def distinctWordCount(text: Column): Column = size(array_distinct(words(text)))

  private[graft] def sumWordLen(text: Column): Column =
    aggregate(words(text), lit(0L), (acc, w) => acc + length(w))

  // ------------------------------------------------------------- lang id
  /** Marker-word tables for the n-gram/stopword language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une"),
    "es" -> Seq("el", "los", "y", "que", "una"),
    "de" -> Seq("der", "die", "und", "das", "ein")
  )

  private def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(words(text), w => lower(w).isin(markers: _*)))

  /** Reference column formulation of [[languageIdFrom]] (spec
    * cross-check): argmax of marker scores with fixed priority order on
    * ties (en > fr > es > de), 'und' (undetermined) when all zero.
    */
  private[graft] def languageId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) => l -> langScore(text, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), rest) =>
      when(s === best && best > 0, lit(l)).otherwise(rest)
    }
  }

  // ---------------------------------------------------------- fused path
  /** All text statistics in ONE pass (see [[graft.functions.TextStats]]):
    * struct(n_words, n_uniq, sum_wlen, n_punct, n_stop, s_<lang>…, fp).
    * Values identical to the reference formulations above, which are
    * interpreted higher-order functions kept for the spec cross-check.
    */
  def stats(text: Column): Column = graft.functions.TextStats(text)

  /** Language id from a [[stats]] struct (same tie order as [[languageId]]). */
  def languageIdFrom(st: Column): Column = {
    val scores = LangMarkers.map { case (l, _) => l -> st.getField(s"s_$l") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), rest) =>
      when(s === best && best > 0, lit(l)).otherwise(rest)
    }
  }

  // ------------------------------------------------------- text cleaning
  /** Normalization for dedup keys / training text: strip sentence
    * punctuation, collapse whitespace runs, trim, lowercase. Plain
    * codegen'd string expressions; patterns are RE2-safe so external
    * engines (and the DuckDB oracle) reproduce them exactly.
    */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(regexp_replace(text, "[.,!?;:]", ""), " +", " ")))

  /** PII redaction masks (RE2-compatible, ASCII word boundaries). */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Regex = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Redact emails and IPv4 addresses — the pre-training PII scrub. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRegex, "<EMAIL>"), Ipv4Regex, "<IP>")

  // -------------------------------------------------------- fingerprint
  /** Per-word key for the rolling hash: 96·len(w) + ascii(first char) —
    * engine-portable (ascii('')=0 in both Spark and DuckDB).
    */
  private def wordKey(w: Column): Column = length(w).cast("long") * 96L + ascii(w)

  /** Reference column formulation of `stats`' `fp` (spec cross-check):
    * left-fold rolling hash h ← (h·31 + key(w)) mod P over the word
    * sequence — order-sensitive (a permutation changes the print),
    * collision-tolerant dedup key.
    */
  private[graft] def fingerprint(text: Column): Column =
    aggregate(words(text), lit(0L), (acc, w) => (acc * 31L + wordKey(w)) % P)
}
