package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar text analysis for large-scale corpus pipelines: token
  * stats, quality scoring, language ID, fingerprinting. All pure
  * `functions._` expressions (codegen'd, no UDFs) so they run at scan
  * speed over billions of documents.
  */
object TextOps {

  /** Whitespace tokens of trimmed text (empty array for blank text). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def nTokens(c: Column): Column = size(tokens(c))

  /** Distinct-token count (vocabulary size of the document). */
  def nDistinctTokens(c: Column): Column = size(array_distinct(tokens(c)))

  /** BPE-ish word/punct token count: alpha runs, digit runs, or single
    * non-space symbols — the standard pre-tokenizer shape.
    */
  val bpeTokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def nBpeTokens(c: Column): Column = regexp_count(c, lit(bpeTokenRegex))

  /** Punctuation-ish character count. */
  def nPunct(c: Column): Column = regexp_count(c, lit("[^A-Za-z0-9\\s]"))

  /** Mean token length = non-space chars / tokens (NaN-free). */
  def meanTokenLen(c: Column): Column = {
    val nonSpace = length(regexp_replace(c, "\\s+", ""))
    nonSpace.cast("double") / greatest(nTokens(c), lit(1))
  }

  // Tiny built-in stopword lists per language — enough signal for a
  // heuristic n-gram/stopword language scorer (a production system
  // would plug a model in; the *shape* — argmax over per-language
  // codegen'd scores — is what scales).
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "with", "was", "on"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "pour", "dans", "du"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "un", "una", "es", "que", "por", "en", "del"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "mit", "von", "für", "auf", "den")
  )

  /** Stopword hits for one language (distinct tokens ∩ stopwords). */
  def stopwordHits(c: Column, lang: String): Column =
    size(array_intersect(
      array_distinct(tokens(lower(c))),
      array(stopwords(lang).map(lit): _*)))

  /** Total stopword-token ratio over all known languages (a quality
    * signal: natural text has a healthy function-word share).
    */
  def stopwordRatio(c: Column): Column = {
    val all = stopwords.values.flatten.toSeq.distinct
    val hits = size(array_intersect(array_distinct(tokens(lower(c))), array(all.map(lit): _*)))
    hits.cast("double") / greatest(nDistinctTokens(c), lit(1))
  }

  /** CJK character ratio (language signal for zh/ja/ko). */
  def cjkRatio(c: Column): Column =
    regexp_count(c, lit("[\\x{4e00}-\\x{9fff}]")).cast("double") /
      greatest(length(c), lit(1))

  /** Heuristic language ID: argmax of per-language stopword hits,
    * with a CJK-ratio override; deterministic tie-break by language
    * code. Returns a (lang, score) struct.
    */
  def langId(c: Column): Column = {
    val scored = stopwords.keys.toSeq.sorted.map { lang =>
      struct(stopwordHits(c, lang).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(cjkRatio(c) > 0.2, struct(lit(-1).cast("int").as("score"), lit("zh").as("lang")))
      .otherwise(best)
  }

  /** Composite quality score in [0,1]: balanced token length, some
    * stopwords, not all punctuation, reasonable size. The exact
    * weights are illustrative; each term is an exact-arithmetic
    * expression so the score is engine-reproducible.
    */
  def qualityScore(c: Column): Column = {
    val lenTerm  = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val stopTerm = least(stopwordRatio(c) * lit(4.0), lit(1.0))
    val punctTerm = lit(1.0) -
      least(nPunct(c).cast("double") / greatest(nTokens(c), lit(1)), lit(1.0))
    (lenTerm + stopTerm + punctTerm) / lit(3.0)
  }

  /** PII scrubbing patterns, applied in order (URLs first so an
    * address inside a URL is consumed by the URL rule). All patterns
    * are RE2-safe — the same strings drive Spark (Java regex) and the
    * DuckDB oracle (RE2), which is the point: a redaction rule that
    * means different things in different engines silently leaks.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+"                                 -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"  -> "<EMAIL>",
    "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"               -> "<IP>",
    "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"             -> "<PHONE>")

  /** Redact URLs, emails, IPv4s, and phone-shaped numbers — the
    * standard pre-training scrub, as a codegen'd regexp_replace
    * chain (scan-speed, no UDF).
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, tag)) =>
      regexp_replace(acc, pat, tag)
    }

  /** 64-bit content fingerprint: XOR-fold over distinct token hashes
    * — order- and duplication-insensitive, so re-shuffled or
    * re-joined corpora fingerprint identically; single-pass custom
    * expression ([[graft.functions.ContentFingerprint64]]).
    */
  def contentFingerprint(c: Column): Column =
    graft.functions.ContentFingerprint64(tokens(c))

  /** Token-window chunk starts for sliding-window chunking with
    * overlap: 0, step, 2·step, … while < token count
    * (step = chunkTokens − overlap). A zero-token document yields an
    * empty array — no chunks — not a single empty chunk.
    */
  def chunkStarts(c: Column, chunkTokens: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < chunkTokens)
    val step = chunkTokens - overlap
    val n    = nTokens(c)
    when(n === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), n - 1, lit(step)))
  }

  /** Chunk text: the tokens in [start, start + chunkTokens) re-joined
    * with single spaces (whitespace-normalizing by construction).
    */
  def chunkText(c: Column, start: Column, chunkTokens: Int): Column =
    concat_ws(" ", slice(tokens(c), start + 1, lit(chunkTokens)))

  /** Sequence packing for pretraining batches: concatenate documents
    * in `orderCol` order within each `shardCol` partition and cut at
    * `maxTokens` boundaries — each doc gets its global token offset,
    * the training sequence it starts in, and its offset inside that
    * sequence (the concat-with-EOD-then-chunk layout). Per-shard
    * windows keep the sort distributed: one shard = one task's sort,
    * never a global single-partition sort.
    */
  def packIntoSequences(df: org.apache.spark.sql.DataFrame, textCol: String,
                        shardCol: String, orderCol: String,
                        maxTokens: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", nTokens(col(textCol)).cast("long"))
      .withColumn("token_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", expr(s"token_offset div $maxTokens")) // integer div, no float boundary
      .withColumn("offset_in_seq", col("token_offset") % maxTokens)
  }
}
