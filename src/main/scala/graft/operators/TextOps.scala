package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, token counting (whitespace + BPE-ish regex), quality
  * scoring (length/punct/stopword ratios), language-ID (n-gram/stopword
  * heuristic) and document fingerprinting (rolling hash).
  *
  * All pure Column expressions (whole-stage codegen, no UDFs) so they run
  * identically in batch and streaming and scale linearly with input — the
  * per-document work is embarrassingly parallel, no shuffle.
  */
object TextOps {

  /** Whitespace tokens (empty strings filtered — split keeps trailing
    * empties). Backed by the native [[graft.expr.WordTokens]] kernel; the
    * filter-HOF form it replaced is the executable spec in
    * ShinglesParitySpec. */
  def tokens(text: Column): Column =
    graft.expr.GraftFunctions.wordTokens(coalesce(text, lit("")))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: letter runs, digit runs, single punctuation —
    * the classic pre-tokenizer split. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Sliding token-window chunking (RAG/context-window prep): each
    * doc's whitespace tokens split into windows of `chunkSize` tokens
    * advancing by `stride` (stride < chunkSize ⇒ overlapping chunks).
    * Chunk count is 0 for an empty doc, 1 for n <= chunkSize, else
    * 1 + ceil((n - chunkSize) / stride) — every token is covered and
    * only the LAST chunk may be short. Emits one row per chunk:
    * `idCols ++ (chunk_idx, n_toks, chunk_text)`.
    *
    * Pure builtin sequence/slice/posexplode — codegen'd, no UDF, and
    * NO shuffle: chunking is embarrassingly parallel per row, so it
    * pipelines into whatever scan precedes it at any scale. Output
    * rows ≈ input tokens / stride; with overlap the byte volume grows
    * by chunkSize/stride, which is the knob to watch at 100 TB. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                  chunkSize: Int, stride: Int,
                  idCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"chunkTokens: need 1 <= stride <= chunkSize, got $stride/$chunkSize")
    val tk = tokens(col(textCol))
    val n = size(tk)
    // integer ceil in positive domain; exact in double far past any
    // realistic token count (n < 2^52)
    val nChunks = when(n === 0, lit(0L))
      .when(n <= chunkSize, lit(1L))
      .otherwise(floor((n - chunkSize + (stride - 1)).cast("double") / stride)
        .cast("long") + 1L)
    // sequence(0, -1) would step BACKWARD, not produce empty — guard the
    // zero-chunk case explicitly
    val chunks = when(nChunks === 0, array().cast("array<array<string>>"))
      .otherwise(transform(sequence(lit(0L), nChunks - 1),
        i => slice(tk, (i * stride + 1).cast("int"), lit(chunkSize))))
    df.select(idCols.map(col) :+ posexplode(chunks).as(Seq("chunk_idx", "__c")): _*)
      .select(idCols.map(col) ++ Seq(
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("__c")).cast("long").as("n_toks"),
        array_join(col("__c"), " ").as("chunk_text")): _*)
  }

  /** Distinct character n-grams of a string — the shingle granularity
    * for scripts without whitespace word boundaries (CJK) and for
    * robustness to word-level edits. Empty/short strings yield an empty
    * array (the explicit guard matters: Spark's sequence(1, 0) DESCENDS,
    * it is not empty like DuckDB's range). Lengths are UTF-16 code units
    * on the Spark side vs code points in DuckDB — identical for BMP text,
    * so oracle-verified corpora must stay supplementary-plane-free (the
    * testdata is ASCII). */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "charNgrams: n >= 1")
    val t = coalesce(text, lit(""))
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n)))))
  }

  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val punct = length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))
    when(length(t) === 0, 0.0).otherwise(punct.cast("double") / length(t).cast("double"))
  }

  /** English stopword list used by the quality heuristic (public, standard). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this", "are")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val stops = size(filter(toks, t => t.isin(stopwords: _*)))
    when(size(toks) === 0, 0.0).otherwise(stops.cast("double") / size(toks).cast("double"))
  }

  /** Mean token length (0 for empty docs). */
  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks).cast("double"))
  }

  /** Document quality score in [0,100]: starts at 100, minus 25 if too
    * short (<10 tokens), minus 25 if too punctuation-heavy (>10%), minus 25
    * if stopword ratio is implausible for prose (<2% or >60%), minus 25 if
    * mean token length is implausible (<2 or >12). Deterministic heuristic in
    * the spirit of C4/Gopher quality rules (public corpus-filtering papers).
    */
  def qualityScore(text: Column): Column = {
    val penalties =
      when(tokenCount(text) < 10, 25).otherwise(0) +
        when(punctRatio(text) > 0.10, 25).otherwise(0) +
        when(stopwordRatio(text) < 0.02 || stopwordRatio(text) > 0.60, 25).otherwise(0) +
        when(meanTokenLength(text) < 2.0 || meanTokenLength(text) > 12.0, 25).otherwise(0)
    lit(100) - penalties
  }

  /** Gopher's canonical 8 stopwords (Rae et al. 2021 §A1.1: a document
    * must contain >= 2 of these to pass the stopword rule). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule battery (Rae et al. 2021, "Scaling Language
    * Models" §A1.1) — the doc-level filter set most large English corpora
    * run before training: word-count window, mean-word-length window
    * [3, 10], symbol-to-word ratio (#/ellipsis) <= 0.1, >= 80% of words
    * containing an alphabetic character, >= 2 canonical stopwords, <= 90%
    * of lines starting with a bullet, <= 30% ending with an ellipsis.
    *
    * Per-row codegen expressions only (token kernel + HOF filters/
    * aggregate) — no shuffle, no UDF; the battery composes with any scan.
    * Ratios are exact-integer divisions rounded AFTER the rule compares
    * (q81 convention: threshold on the unrounded value, report rounded).
    * Empty docs fail the word-count rule and report 0 ratios.
    * Output: idCol + the 7 measurements + 7 rule booleans + keep. */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, minWords: Int = 50,
                  maxWords: Int = 100000): org.apache.spark.sql.DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    def occurrences(c: Column, lit0: String): Column =
      (length(c) - length(replace(c, lit(lit0), lit("")))) /
        lit(lit0.length).cast("double")
    val tk = tokens(txt)
    val tkl = tokens(lower(txt))
    val nW = size(tk)
    val sumLen = aggregate(tk, lit(0L), (acc, t) => acc + length(t))
    val meanLen = when(nW === 0, 0.0)
      .otherwise(sumLen.cast("double") / nW.cast("double"))
    val symbols = occurrences(txt, "#") + occurrences(txt, "…") +
      occurrences(regexp_replace(txt, lit("…"), lit("")), "...")
    val symbolRatio = when(nW === 0, 0.0).otherwise(symbols / nW.cast("double"))
    val alphaW = size(filter(tk, t => t.rlike("[A-Za-z]")))
    val alphaRatio = when(nW === 0, 0.0)
      .otherwise(alphaW.cast("double") / nW.cast("double"))
    val stopHits = size(array_intersect(array_distinct(tkl),
      array(gopherStopwords.map(lit): _*)))
    val lines = filter(split(txt, "\n"), l => length(trim(l)) > 0)
    val nL = size(lines)
    val bulletL = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("•") ||
        trim(l).startsWith("*")))
    val ellipsisL = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…")))
    val bulletRatio = when(nL === 0, 0.0)
      .otherwise(bulletL.cast("double") / nL.cast("double"))
    val ellipsisRatio = when(nL === 0, 0.0)
      .otherwise(ellipsisL.cast("double") / nL.cast("double"))
    val rWords = nW >= minWords && nW <= maxWords
    val rMean = meanLen >= 3.0 && meanLen <= 10.0
    val rSymbol = symbolRatio <= 0.1
    val rAlpha = alphaRatio >= 0.8
    val rStop = stopHits >= 2
    val rBullet = bulletRatio <= 0.9
    val rEllipsis = ellipsisRatio <= 0.3
    df.select(col(idCol),
      nW.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_word_ratio"),
      round(alphaRatio, 6).as("alpha_word_ratio"),
      stopHits.as("stopword_hits"),
      round(bulletRatio, 6).as("bullet_line_ratio"),
      round(ellipsisRatio, 6).as("ellipsis_line_ratio"),
      rWords.as("rule_word_count"), rMean.as("rule_mean_len"),
      rSymbol.as("rule_symbol"), rAlpha.as("rule_alpha"),
      rStop.as("rule_stopwords"), rBullet.as("rule_bullet"),
      rEllipsis.as("rule_ellipsis"),
      (rWords && rMean && rSymbol && rAlpha && rStop && rBullet && rEllipsis)
        .as("keep"))
  }

  /** Per-language marker words for the language-ID heuristic (tiny public
    * stopword samples — the classic n-gram/stopword profile approach). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Split-half language ID over the lowered whitespace tokens, one walk
    * per document: struct(lang_full, lang_head, lang_tail), the halves
    * split at ceil(n/2) tokens. Each field is the argmax of marker-word
    * hits; ties break by position in [[langMarkers]] order (the
    * first-max-wins rule, mirrored in SQL by a CASE chain); zero hits ->
    * "und" (undetermined), NULL text included. */
  def langIdSplit(text: Column): Column =
    graft.expr.GraftFunctions.langIdSplit(coalesce(text, lit("")))

  /** Heuristic language-ID of the whole text: [[langIdSplit]]'s
    * lang_full. */
  def langId(text: Column): Column = langIdSplit(text).getField("lang_full")

  /** Split-half code-switching audit: language-ID the first and second
    * halves of each document separately and flag documents whose halves
    * disagree (both halves determined) — the cheap screen for
    * mixed-language documents, which poison both per-language mixtures
    * and lang-ID training labels (a "en" doc that is half Spanish is
    * wrong in every bucket). Halves split at ceil(n/2) tokens; the
    * whole-doc [[langId]] rides along for context.
    *
    * Scale shape: one native per-row kernel ([[langIdSplit]]), no
    * shuffle. Output: (idCol, lang_full, lang_head, lang_tail,
    * is_switch). */
  def codeSwitchAudit(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame =
    // one projection of the struct, unpacked above it: reading its fields
    // in the same select would put one kernel call per field in the plan
    df.select(col(idCol), langIdSplit(col(textCol)).as("__lang"))
      .select(col(idCol), col("__lang.*"))
      .withColumn("is_switch",
        col("lang_head") =!= "und" && col("lang_tail") =!= "und" &&
          col("lang_head") =!= col("lang_tail"))

  /** Lexicon screen: per-document hit counts against a word list (the
    * blocklist/toxicity-lexicon pre-filter every pipeline runs BEFORE
    * spending model inference — cheap, transparent, and auditable; the
    * model-based classifier then sees only the survivors). Matching is
    * on lowercased whitespace tokens — exact word hits, not substrings
    * (no "scunthorpe" false positives). Emits both the hit count and
    * the density per 1000 tokens so long documents are not penalized
    * for length; the verdict threshold is on DENSITY.
    *
    * Scale shape: the lexicon folds per row (array_intersect against a
    * literal — codegen, no join for realistic lexicon sizes); no
    * shuffle. Output: (idCol, n_tokens, n_hits, hits_per_1k, flagged). */
  def lexiconScreen(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, lexicon: Seq[String],
                    maxPer1k: Double): org.apache.spark.sql.DataFrame = {
    require(lexicon.nonEmpty, "lexiconScreen: lexicon non-empty")
    val toks = tokens(lower(col(textCol)))
    val hits = size(filter(toks, t => t.isin(lexicon.map(_.toLowerCase): _*)))
    df.select(col(idCol), size(toks).cast("long").as("n_tokens"),
        hits.cast("long").as("n_hits"))
      .withColumn("hits_per_1k", when(col("n_tokens") === 0, 0.0)
        .otherwise(col("n_hits").cast("double") * 1000.0 /
          col("n_tokens").cast("double")))
      .withColumn("flagged", col("hits_per_1k") > maxPer1k)
  }

  /** Frequency-ranked vocabulary over a corpus: the `size` most frequent
    * tokens, ids 1..size by (freq desc, token asc); id 0 is reserved for
    * out-of-vocabulary. One corpus-sized (token) aggregate; the ranked
    * vocab itself is `size` rows — broadcast metadata.
    * Output: (token, token_id, freq). */
  def buildVocab(df: org.apache.spark.sql.DataFrame, textCol: String,
                 size: Int): org.apache.spark.sql.DataFrame = {
    require(size > 0, "buildVocab: size > 0")
    df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc).limit(size)
      .withColumn("token_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token").asc)))
      .select(col("token"), col("token_id"), col("freq"))
  }

  /** Encode documents against a vocabulary: one output row per token
    * position, OOV mapping to id 0 — the materialized form a training
    * loader consumes (and the exploded shape keeps every cell scalar, so
    * cross-engine value comparison is exact). Vocab joins broadcast.
    * Output: (idCol, pos, token_id). */
  def encodeTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String,
                   vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), posexplode(tokens(lower(col(textCol)))))
      .toDF(idCol, "pos", "token")
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .select(col(idCol), (col("pos") + 1).as("pos"),
        coalesce(col("token_id"), lit(0)).as("token_id"))

  /** Packed (array-form) token-id encoding — the PRODUCTION sink shape a
    * training loader memory-maps: one row per document, token ids in
    * position order in a single array column (vs [[encodeTokens]]'s
    * exploded scalar twin, kept for cross-engine cell-exact
    * verification — SCALE.md's "3x rows for scalar-exact verifiability"
    * trade). Same broadcast vocab join; the pack is one per-doc
    * aggregation keyed on the id (sort_array on (pos, id) structs
    * restores position order deterministically regardless of partial-agg
    * arrival order). q98 hash-verifies pack→unpack == the q93 oracle.
    * Output: (idCol, token_ids array<int>, n_tokens). */
  def encodeTokensPacked(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String,
                         vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    encodeTokens(df, idCol, textCol, vocab)
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("token_id")))),
        p => p.getField("token_id")).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")))

  /** Self-trained unigram language-model score per document — the
    * perplexity-style quality filter (Wenzek et al., CCNet: docs scoring
    * far below the corpus's own distribution are noise/boilerplate;
    * here the LM is the corpus itself, so no external model ships).
    * score = (1/n_d) * Σ_t tf_dt · ln(freq_t / N), i.e. mean token
    * log-likelihood (≤ 0; higher = more typical text).
    *
    * Physical shape at 100 TB: ONE corpus-sized (doc, token) tf
    * aggregate (map-side combined), a vocabulary-sized freq frame
    * broadcast back, then a per-doc agg keyed on the id — no joins of
    * corpus against corpus. Cross-engine float discipline: each term is
    * rounded to 6 decimals then summed through DECIMAL(25,6) (exact,
    * order-independent — the q89 pattern); ln operates on the identical
    * double freq/N in both engines (1-ulp ln cases have ~1e6x margin
    * against the round-6 grid, docs/NOTES.md).
    * Output: (idCol, n_tokens, logprob_mean, keep). */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     minLogProb: Double = -9.0): org.apache.spark.sql.DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .transform(Checkpoints.ckpt) // two consumers (freq, per-doc agg) — compute once
    val freq = tf.groupBy(col("token")).agg(sum(col("tf")).as("freq"))
    val n = freq.agg(sum(col("freq")).as("n"))
    tf.join(broadcast(freq), "token")
      .crossJoin(broadcast(n))
      .withColumn("__t",
        round(col("tf") * log(col("freq").cast("double") / col("n")), 6)
          .cast("decimal(25,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("__t")).as("__lsum"))
      .select(col(idCol), col("n_tokens"),
        (col("__lsum").cast("double") / col("n_tokens").cast("double"))
          .as("logprob_mean"))
      .withColumn("keep", col("logprob_mean") >= minLogProb)
  }

  /** Self-trained INTERPOLATED BIGRAM-LM quality score per document —
    * the next rung above [[unigramLogProb]] on the KenLM-style filter
    * ladder: mean log-likelihood of each bigram under
    * P(w2|w1) = lambda * c(w1,w2)/c(w1) + (1-lambda) * c(w2)/N,
    * all counts from the corpus itself. Degenerate/boilerplate text
    * scores high (its bigrams repeat), incoherent token soup scores low
    * even when its unigrams are common — the signal the unigram filter
    * cannot see.
    *
    * Scale shape: bigrams via lead() over a per-DOC window (partition =
    * one document's tokens, never the corpus), then ONE corpus-sized
    * (doc, w1, w2) aggregate; the c2/c1/N statistics are vocabulary- or
    * scalar-sized and broadcast back — no corpus-vs-corpus joins. Float
    * discipline: lambda defaults to a DYADIC rational (0.75) so both
    * interpolation products are exact in double; each term rounds to 6
    * then sums through DECIMAL(25,6) (order-independent); ln operates on
    * identical doubles in both engines (q99's established parity).
    * Docs with < 2 tokens have no bigrams and are absent from the
    * output (the unigram filter is the right gate for those).
    * Output: (idCol, n_bigrams, logprob_mean, keep). */
  def bigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, lambda: Double = 0.75,
                    minLogProb: Double = -10.0): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val tok = df.select(col(idCol), posexplode(tokens(lower(col(textCol)))))
      .toDF(idCol, "__pos", "__w")
      .transform(Checkpoints.ckpt) // consumers: bigram chain + c1 + N
    val big = tok.withColumn("__w2", lead(col("__w"), 1).over(w))
      .filter(col("__w2").isNotNull)
      .groupBy(col(idCol), col("__w").as("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__tf2"))
      .transform(Checkpoints.ckpt) // consumers: c2 + the per-doc agg
    val c2 = big.groupBy(col("__w1"), col("__w2")).agg(sum(col("__tf2")).as("__c2"))
    val c1 = tok.groupBy(col("__w")).agg(count(lit(1)).as("__c1"))
    val n = tok.agg(count(lit(1)).as("__n"))
    big
      .join(broadcast(c2), Seq("__w1", "__w2"))
      .join(broadcast(c1.select(col("__w").as("__w1"), col("__c1").as("__cw1"))), "__w1")
      .join(broadcast(c1.select(col("__w").as("__w2"), col("__c1").as("__cw2"))), "__w2")
      .crossJoin(broadcast(n))
      .withColumn("__p",
        lit(lambda) * (col("__c2").cast("double") / col("__cw1").cast("double")) +
          lit(1.0 - lambda) * (col("__cw2").cast("double") / col("__n").cast("double")))
      .withColumn("__t", round(col("__tf2") * log(col("__p")), 6).cast("decimal(25,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf2")).as("n_bigrams"), sum(col("__t")).as("__lsum"))
      .select(col(idCol), col("n_bigrams"),
        (col("__lsum").cast("double") / col("n_bigrams").cast("double"))
          .as("logprob_mean"))
      .withColumn("keep", col("logprob_mean") >= minLogProb)
  }

  /** Kneser-Ney discounted bigram LM score (Kneser & Ney 1995; Chen &
    * Goodman 1999 interpolated form) — the rung above [[bigramLogProb]]'s
    * linear interpolation: the backoff distribution is the CONTINUATION
    * probability (in how many distinct contexts does w2 appear?), not the
    * raw unigram, so frequent-but-context-bound tokens ("francisco")
    * stop inflating fluency scores. The standard n-gram smoothing real
    * perplexity filters (KenLM/CCNet) ship.
    *
    *   P(w2|w1) = max(c12 - d, 0)/c1 + (d · N1+(w1,·)/c1) · N1+(·,w2)/N1+(·,·)
    *
    * with c1 = Σ_w2 c12 (continuation-consistent: the bigram-first
    * count, so every surviving bigram's denominator is positive) and
    * d = 0.75 — a DYADIC discount, so c12 - d is exact in double.
    * Every other quantity is an exact integer count; each bigram pays
    * one correctly-rounded ln, rounded to 6 and summed as DECIMAL(25,6)
    * (the q99/q113 ln discipline — the oracle replays the identical
    * expression tree).
    *
    * Scale shape = [[bigramLogProb]]: one posexplode + per-doc lead
    * window, ONE (w1,w2) count agg; c1/N1+ frames are vocabulary-sized
    * and broadcast. Output: (idCol, n_bigrams, kn_logprob_mean, keep). */
  def kneserNeyLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, discount: Double = 0.75,
                       minLogProb: Double = -10.0): org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1, "kneserNeyLogProb: 0 < discount < 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val tok = df.select(col(idCol), posexplode(tokens(lower(col(textCol)))))
      .toDF(idCol, "__pos", "__w")
    val big = tok.withColumn("__w2", lead(col("__w"), 1).over(w))
      .filter(col("__w2").isNotNull)
      .groupBy(col(idCol), col("__w").as("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__tf2"))
      .transform(Checkpoints.ckpt) // consumers: c2/c1/N1+ frames + per-doc agg
    val c2 = big.groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__tf2")).as("__c2"))
      .transform(Checkpoints.ckpt) // consumers: c1fw, n1fw, n1bw, nbi, join
    val c1fw = c2.groupBy(col("__w1")).agg(sum(col("__c2")).as("__c1"),
      count(lit(1)).as("__n1f")) // N1+(w1,·): distinct continuations
    val n1bw = c2.groupBy(col("__w2")).agg(count(lit(1)).as("__n1b"))
    val nbi = c2.agg(count(lit(1)).as("__nbi")) // N1+(·,·)
    big
      .join(broadcast(c2), Seq("__w1", "__w2"))
      .join(broadcast(c1fw), "__w1")
      .join(broadcast(n1bw), "__w2")
      .crossJoin(broadcast(nbi))
      .withColumn("__p",
        greatest(col("__c2").cast("double") - lit(discount), lit(0.0)) /
          col("__c1").cast("double") +
          (lit(discount) * col("__n1f").cast("double") /
            col("__c1").cast("double")) *
            (col("__n1b").cast("double") / col("__nbi").cast("double")))
      .withColumn("__t", round(col("__tf2") * log(col("__p")), 6).cast("decimal(25,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf2")).as("n_bigrams"), sum(col("__t")).as("__lsum"))
      .select(col(idCol), col("n_bigrams"),
        (col("__lsum").cast("double") / col("n_bigrams").cast("double"))
          .as("kn_logprob_mean"))
      .withColumn("keep", col("kn_logprob_mean") >= minLogProb)
  }

  /** Heaps'-law fit (Heaps 1978): OLS of ln(V) on ln(n) over the
    * vocabulary-growth curve V(n) = distinct tokens after n running
    * tokens, sampled exactly at each first occurrence — V ≈ K·n^beta
    * with beta < 1 on natural text (typically 0.4–0.6); beta near 1
    * flags gibberish/ID-soup sources whose "vocabulary" never saturates.
    * Complements [[zipfFit]] (the two laws are duals).
    *
    * Exactness: a token's global position = its doc's cumulative token
    * offset + in-doc position (both exact integers); first occurrence =
    * min global position per token; V at that point = rank of the first
    * occurrence (positions are distinct, so the rank is total). The
    * regression is [[zipfFit]]'s micro-integer OLS verbatim.
    *
    * Scale shape: corpus-sized work is one posexplode + ONE min-agg per
    * token; the cumulative-offset pass runs over the DOC-COUNT table
    * (one row per doc — 10⁸⁺ at the north star) and the rank pass over
    * the VOCAB-sized first-occurrence set — both orders of magnitude
    * below token count but NOT bounded, so both ride [[DimRank]]'s
    * range-partitioned kernel (running-total path for the offsets,
    * ranked for V): no single-partition window anywhere; the fit itself
    * is one bounded sum-agg. The doc-offset join stays a plain
    * (non-broadcast) equi-join — the offsets table is doc-count-sized.
    * Output: one row (n_tokens, vocab, beta, intercept, r2). */
  def heapsFit(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol), posexplode(tokens(lower(col(textCol)))))
      .toDF(idCol, "__pos", "__w")
      .transform(Checkpoints.ckpt) // consumers: offsets + first occurrences
    val counts = tok.groupBy(col(idCol)).agg(count(lit(1)).as("__cnt"))
    val offs = DimRank.ranked(counts, Seq(col(idCol)), "__dr_rn",
        totals = Seq(DimRank.RunTotal("__cnt", "__cum")))
      .withColumn("__off", col("__cum") - col("__cnt")) // exclusive prefix
    val firstPos = tok
      .join(offs.select(col(idCol), col("__off")), idCol)
      .select(col("__w"), (col("__off") + col("__pos") + lit(1L)).as("__gp"))
      .groupBy(col("__w")).agg(min(col("__gp")).as("__fp"))
    val pts = DimRank.ranked(firstPos, Seq(col("__fp")), "__v")
    def micros(c: Column): Column = round(round(log(c), 6) * 1e6).cast("long")
    val terms = pts.select(micros(col("__fp").cast("double")).as("x"),
      micros(col("__v").cast("double")).as("y"))
    val sums = terms.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .crossJoin(broadcast(tok.agg(count(lit(1)).as("__nt"))))
    val nd = col("n").cast("double")
    def d(name: String): Column = col(name).cast("double")
    val num = nd * d("sxy") - d("sx") * d("sy")
    val den = nd * d("sxx") - d("sx") * d("sx")
    val slope = when(den === 0, lit(0.0)).otherwise(num / den)
    val deny = nd * d("syy") - d("sy") * d("sy")
    sums.select(col("__nt").as("n_tokens"),
      col("n").cast("long").as("vocab"),
      slope.as("beta"),
      ((d("sy") - slope * d("sx")) / nd / lit(1e6)).as("intercept"),
      when(den * deny === 0, lit(1.0))
        .otherwise(num * num / (den * deny)).as("r2"))
  }

  /** Quality-threshold selection curve: for each candidate threshold
    * tau, how many documents and tokens survive `quality >= tau`, and
    * at what mean quality — the quality-vs-quantity tradeoff table a
    * curator reads before fixing the filtering strength (the FineWeb-
    * style ablation axis, computed in one pass instead of one job per
    * tau). All cells exact integers except the two final divisions.
    *
    * Scale shape: one per-row quality + token count (codegen kernels),
    * broadcast of the |thresholds|-row grid, ONE bounded agg keyed by
    * tau. Output per tau: (threshold, n_docs, docs_kept, tokens_kept,
    * token_share, mean_quality_kept). */
  def selectionCurve(df: org.apache.spark.sql.DataFrame, textCol: String,
                     thresholds: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(thresholds.nonEmpty, "selectionCurve: thresholds non-empty")
    val grid = df.sparkSession.range(1)
      .select(explode(array(thresholds.map(t => lit(t)): _*)).as("threshold"))
    df.select(qualityScore(col(textCol)).as("__q"),
        tokenCount(col(textCol)).cast("long").as("__n"))
      .crossJoin(broadcast(grid))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__q") >= col("threshold"), 1L).otherwise(0L))
          .as("docs_kept"),
        sum(col("__n")).as("__tot"),
        sum(when(col("__q") >= col("threshold"), col("__n")).otherwise(0L))
          .as("tokens_kept"),
        sum(when(col("__q") >= col("threshold"), col("__q").cast("long"))
          .otherwise(0L)).as("__qsum"))
      .select(col("threshold"), col("n_docs"), col("docs_kept"),
        col("tokens_kept"),
        (col("tokens_kept").cast("double") / col("__tot").cast("double"))
          .as("token_share"),
        when(col("docs_kept") === 0, lit(0.0))
          .otherwise(col("__qsum").cast("double") /
            col("docs_kept").cast("double")).as("mean_quality_kept"))
  }

  /** Token-frequency drift between two corpus snapshots: add-one-
    * smoothed log-ratio ln(p_B / p_A) per token, top-k by drift INTO
    * the new snapshot — the tokenizer/extraction regression monitor (a
    * new template, encoding bug or spam source surfaces as tokens whose
    * rate jumped). Smoothing over the UNION vocabulary keeps every
    * ratio finite; counts and totals are exact integers, so the single
    * ln per surviving token is the only float (rounded to 6, the q99
    * discipline — the oracle replays the identical expression).
    *
    * Scale shape: one tf agg per side (map-side combined), a full-outer
    * token join, a 1-row broadcast of the totals, distributed top-k
    * (TakeOrderedAndProject). `minCount` (on the NEW side) kills the
    * hapax tail. Output: (rnk, token, c_a, c_b, logratio). */
  def vocabDrift(dfA: org.apache.spark.sql.DataFrame,
                 dfB: org.apache.spark.sql.DataFrame, textCol: String,
                 minCount: Long = 5, topK: Int = 20): org.apache.spark.sql.DataFrame = {
    def tf(df: org.apache.spark.sql.DataFrame, out: String) =
      df.select(explode(tokens(lower(col(textCol)))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(out))
    val j = tf(dfA, "c_a").join(tf(dfB, "c_b"), Seq("token"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .transform(Checkpoints.ckpt) // consumers: totals + scoring
    val tot = j.agg(sum(col("c_a")).as("__na"), sum(col("c_b")).as("__nb"),
      count(lit(1)).as("__v"))
    val scored = j.crossJoin(broadcast(tot))
      .filter(col("c_b") >= minCount)
      .withColumn("logratio", round(log(
        ((col("c_b").cast("double") + lit(1.0)) /
          (col("__nb").cast("double") + col("__v").cast("double"))) /
          ((col("c_a").cast("double") + lit(1.0)) /
            (col("__na").cast("double") + col("__v").cast("double")))), 6))
    val top = scored.orderBy(col("logratio").desc, col("token").asc)
      .limit(topK)
    top.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("logratio").desc, col("token").asc))) // topK rows
      .select(col("rnk"), col("token"), col("c_a"), col("c_b"),
        col("logratio"))
  }

  /** Tokenizer OOV-coverage audit: encode-side health of a FIXED
    * vocabulary against each corpus slice — the complement of
    * [[vocabHealth]] (corpus-intrinsic) and [[bpeFertility]]
    * (subword-level): what fraction of tokens would map to the OOV id,
    * and how many documents survive encoding without loss. Read before
    * freezing a word-level vocab or sizing a subword one; a source
    * whose OOV rate is an outlier gets a dedicated vocab pass or a BPE
    * fallback.
    *
    * Scale shape: one vocab build ([[buildVocab]] — tf agg + top-k),
    * vocab broadcast into the token stream, one (doc) agg then one
    * bounded (group) agg — both map-side combined. Docs with zero
    * tokens have no token rows and are not counted. Output per group:
    * (groupCol, n_docs, total_tokens, oov_tokens, oov_rate,
    * n_lossless_docs). */
  def oovCoverage(df: org.apache.spark.sql.DataFrame, idCol: String,
                  groupCol: String, textCol: String,
                  vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val vocab = buildVocab(df, textCol, vocabSize)
      .select(col("token"), lit(1).as("__in"))
    val tok = df.select(col(idCol), col(groupCol),
      explode(tokens(lower(col(textCol)))).as("token"))
    val perDoc = tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol), col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("__oov"))
    perDoc.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        sum(col("__oov")).as("oov_tokens"),
        sum(when(col("__oov") === 0, 1L).otherwise(0L)).as("n_lossless_docs"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("total_tokens").cast("double"))
      .select(col(groupCol), col("n_docs"), col("total_tokens"),
        col("oov_tokens"), col("oov_rate"), col("n_lossless_docs"))
  }

  /** Per-source corpus datasheet — the one-table dataset card a corpus
    * release ships (Gebru et al. 2021 "Datasheets for Datasets",
    * collapsed to the per-source quantitative row): volume, token/byte
    * shape, quality, exact-duplication mass, and language concentration
    * in one pass plus one bounded language argmax. Every cell is an
    * exact integer or a rounded ratio of exact integers.
    *
    * Scale shape: one corpus pass feeds a (source) agg (md5 digests for
    * the distinct-text count — the only non-trivial state); the
    * language argmax is a bounded (source, lang) count + struct-max.
    * Output: (sourceCol, n_docs, total_tokens, total_bytes,
    * bytes_per_token, mean_quality, n_exact_dup_docs, top_lang,
    * top_lang_share). */
  def corpusDatasheet(df: org.apache.spark.sql.DataFrame, sourceCol: String,
                      textCol: String, langCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(sourceCol),
      md5(col(textCol)).as("__dg"),
      tokenCount(col(textCol)).cast("long").as("__n"),
      octet_length(col(textCol)).cast("long").as("__b"),
      qualityScore(col(textCol)).cast("long").as("__q"))
    val main = base.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        sum(col("__b")).as("total_bytes"),
        sum(col("__q")).as("__qsum"),
        countDistinct(col("__dg")).as("__ndist"))
    val langTop = df.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("__lc"))
      .groupBy(col(sourceCol))
      .agg(max(struct(col("__lc"), col(langCol).as("__lg"))).as("__m"),
        sum(col("__lc")).as("__lt"))
      .select(col(sourceCol), col("__m.__lg").as("top_lang"),
        (col("__m.__lc").cast("double") / col("__lt").cast("double"))
          .as("top_lang_share"))
    main.join(langTop, sourceCol)
      .select(col(sourceCol), col("n_docs"), col("total_tokens"),
        col("total_bytes"),
        (col("total_bytes").cast("double") /
          col("total_tokens").cast("double")).as("bytes_per_token"),
        (col("__qsum").cast("double") / col("n_docs").cast("double"))
          .as("mean_quality"),
        (col("n_docs") - col("__ndist")).as("n_exact_dup_docs"),
        col("top_lang"), col("top_lang_share"))
  }

  /** Quality-rule ablation: per heuristic of [[qualityScore]], how many
    * documents fail it, how many fail ONLY it, and how many tokens sit
    * in its failing docs — the rule-attribution table behind tuning a
    * composite filter ("which rule is doing the work, and which rule's
    * sole victims would relaxing it rescue?"). The per-rule complement
    * of q180's whole-score selection curve.
    *
    * Scale shape: one pass of per-row boolean kernels, ONE bounded agg,
    * a 4-row stack. Output: (rule, n_fail, n_fail_only, tokens_in_failed). */
  def qualityAblation(df: org.apache.spark.sql.DataFrame,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val d = df.select(
      (tokenCount(t) < 10).cast("int").as("f1"),
      (punctRatio(t) > 0.10).cast("int").as("f2"),
      (stopwordRatio(t) < 0.02 || stopwordRatio(t) > 0.60).cast("int").as("f3"),
      (meanTokenLength(t) < 2.0 || meanTokenLength(t) > 12.0).cast("int").as("f4"),
      tokenCount(t).cast("long").as("__n"))
      .withColumn("__tot", col("f1") + col("f2") + col("f3") + col("f4"))
    def cell(i: Int) = Seq(
      sum(col(s"f$i").cast("long")).as(s"s$i"),
      sum(when(col(s"f$i") === 1 && col("__tot") === 1, 1L).otherwise(0L))
        .as(s"o$i"),
      sum(when(col(s"f$i") === 1, col("__n")).otherwise(0L)).as(s"t$i"))
    val aggs = (1 to 4).flatMap(cell)
    d.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        """stack(4,
          | '1_short_doc', s1, o1, t1,
          | '2_high_punct', s2, o2, t2,
          | '3_stopword_band', s3, o3, t3,
          | '4_token_len_band', s4, o4, t4)
          | AS (rule, n_fail, n_fail_only, tokens_in_failed)""".stripMargin)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    * corpus into head/middle/tail thirds by language-model score —
    * the standard "keep the fluent third, inspect the middle, drop the
    * tail" curation gate, here over the self-trained [[unigramLogProb]]
    * score (drop-in for any per-doc LM column). Buckets come from exact
    * percentile CUTS (two scalars, broadcast), not a global sort — no
    * single-partition window at 100 TB; the q110/q44 parity makes the
    * thresholds cross-engine exact (scores are already rounded to 6, so
    * both engines rank identical multisets). Docs scoring exactly on a
    * cut take the higher bucket (>=).
    * Output: (idCol, n_tokens, logprob_mean, ppl_bucket). */
  def perplexityBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    val scores = unigramLogProb(df, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("logprob_mean"))
      .transform(Checkpoints.ckpt) // consumers: cuts + the labelling pass
    val cuts = scores.agg(
      expr(s"percentile(logprob_mean, ${2.0 / 3})").as("__hi"),
      expr(s"percentile(logprob_mean, ${1.0 / 3})").as("__lo"))
    scores.crossJoin(broadcast(cuts))
      .select(col(idCol), col("n_tokens"), col("logprob_mean"),
        when(col("logprob_mean") >= col("__hi"), "head")
          .when(col("logprob_mean") >= col("__lo"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** [[perplexityBuckets]]'s production-default twin (r13, the q384
    * discipline): the two global cuts come from a fixed-width integer
    * HISTOGRAM of the (negated, micro-scaled) scores instead of Spark's
    * exact `percentile` — whose single agg buffer holds EVERY corpus
    * score on one reducer at 100 TB, the same OOM hazard class the
    * autoBlockCap fix killed. Scores are already rounded to 6, so
    * neg = round(-logprob_mean·1e6) is an exact non-negative BIGINT and
    * the whole chain (bin DIV, ceil-rational thirds ranks
    * (n+2) DIV 3 / (2n+2) DIV 3 in NEG space, integer interpolation)
    * replays verbatim cross-engine (q386). State is the bounded (bin,
    * cnt) histogram; cuts sit within one binWidth of the exact
    * percentile. Same >=-takes-higher-bucket tie rule as the exact form
    * (in neg space: <= the cut). Output: (idCol, n_tokens,
    * logprob_mean, ppl_bucket). */
  def perplexityBucketsSketch(df: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              binWidthMicros: Long = 10000L): org.apache.spark.sql.DataFrame = {
    require(binWidthMicros > 0, "perplexityBucketsSketch: binWidth > 0")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
    // the corpus total n rides the SAME ordered window pass (unbounded
    // frame, same empty partition spec + order — one WindowExec, one
    // exchange; order refs stay on `bin`, the lint-reviewed bounded grid)
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val scores = unigramLogProb(df, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("logprob_mean"))
      .transform(Checkpoints.ckpt) // consumers: histogram + labelling
    val m = scores.withColumn("__neg",
      expr("CAST(round(-logprob_mean * 1000000) AS BIGINT)"))
    // NOT checkpointed (r14, measured on the grouped twin): the bounded
    // histogram feeds several sibling legs of one plan, and the
    // bucketing exchange under them is deduplicated by ReuseExchangeExec
    // — an explicit ckpt only adds a materialization job.
    val hist = m.select(expr(s"__neg DIV $binWidthMicros").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    // Window-form cut extraction (r15, guide §2.4): per-bin counts are
    // >= 1, so cum is strictly increasing and "first bin with cum >= r"
    // is the unique row with cum >= r AND cum_before < r — the former
    // rank frame + non-equi join + bin join collapse into two
    // conditional columns of one aggregate over the already-single-
    // partition window output. Ranks and interpolation are UNCHANGED
    // ((n+2) DIV 3 / (2n+2) DIV 3 in neg space; q386 hash parity).
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wAll))
    def cutOf(r: String): org.apache.spark.sql.Column =
      when(col("cum") >= expr(r) && col("cum_before") < expr(r),
        col("bin") * binWidthMicros +
          expr(s"$binWidthMicros * (($r) - cum_before) DIV cnt"))
    val cuts = cum.agg(
      max(cutOf("(n + 2) DIV 3")).as("__hi_neg"),
      max(cutOf("(2 * n + 2) DIV 3")).as("__lo_neg"))
    m.crossJoin(broadcast(cuts))
      .select(col(idCol), col("n_tokens"), col("logprob_mean"),
        when(col("__neg") <= col("__hi_neg"), "head")
          .when(col("__neg") <= col("__lo_neg"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Learn BPE merges from the corpus (Sennrich et al. 2016, the
    * subword-nmt algorithm): start from character symbols per word (with
    * an end-of-word marker), repeatedly merge the most frequent adjacent
    * symbol pair. Completes the tokenizer family: [[buildVocab]] gives
    * word-level ids, this learns the SUBWORD inventory real tokenizers
    * ship.
    *
    * Scale shape: the corpus is touched ONCE — a word-frequency
    * aggregate whose output is vocabulary-sized, capped at the
    * `maxWords` most frequent (freq desc, word asc — deterministic; BPE
    * trainers routinely prune rare words, which barely perturbs merges).
    * The merge loop then runs DRIVER-SIDE over that bounded dict — the
    * same "bounded metadata collected once" contract as the IVF
    * centroids, and exactly how subword-nmt / HF trainers run it (the
    * corpus-sized work is the counting, not the merging). Ties break
    * (freq desc, left asc, right asc) so the merge table is a pure
    * function of the corpus. Non-BMP characters split into surrogate
    * halves (char-level seeding; the standard caveat — use byte-level
    * seeding for emoji-heavy corpora).
    * Output: (rank, left, right, freq) — the ordered merge table. */
  def trainBpe(df: org.apache.spark.sql.DataFrame, textCol: String,
               numMerges: Int, maxWords: Int = 50000,
               minFreq: Long = 1L): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val wordRows = df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= minFreq)
      .orderBy(col("f").desc, col("w").asc).limit(maxWords)
      .collect()
    var words: Array[(Array[String], Long)] = wordRows.map { r =>
      (r.getString(0).map(_.toString).toArray :+ "</w>", r.getLong(1))
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), f) =
          counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank, l, r, f))
        words = words.map { case (syms, wf) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2 // greedy left-to-right, as subword-nmt
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, wf)
        }
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "freq")
  }

  /** Apply an ORDERED BPE merge table to text — the encode side of
    * [[trainBpe]]: each whitespace word is seeded as characters plus an
    * end-of-word marker, then every merge is applied in rank order
    * (all non-overlapping occurrences, left to right — subword-nmt's
    * application semantics). Pure Column expression: symbols ride a
    * U+0001-separated string with a separator on EVERY boundary, so one
    * merge is one literal `replace(sep+l+sep+r+sep, sep+lr+sep)` — the
    * boundary separators make partial-symbol matches impossible ("ab|c"
    * can never match a (b,c) merge). numMerges chained codegen'd string
    * ops, no UDF, replayable verbatim in DuckDB (q119).
    * Output: array of subword tokens for the whole document. */
  def bpeSegments(text: Column, merges: Seq[(String, String)]): Column = {
    val SEP = "\u0001"
    def segmentWord(w: Column): Column = {
      val seeded = concat(lit(SEP), regexp_replace(w, "(.)", "$1" + SEP),
        lit("</w>"), lit(SEP))
      val merged = merges.foldLeft(seeded) { case (acc, (l, r)) =>
        call_function("replace", acc,
          lit(SEP + l + SEP + r + SEP), lit(SEP + l + r + SEP))
      }
      filter(split(merged, SEP), s => s =!= "")
    }
    flatten(transform(tokens(lower(text)), w => segmentWord(w)))
  }

  /** Tokenizer fertility per group (per language, per source): subwords
    * emitted per whitespace word under a BPE merge table, plus chars per
    * subword — THE tokenizer-health metric for a multilingual corpus (a
    * language the vocab underserves shows high fertility: its words
    * shatter into characters, inflating sequence lengths and training
    * cost). Sennrich et al. 2016 for BPE; fertility as the standard
    * cross-lingual tokenizer audit.
    *
    * Scale shape: [[bpeSegments]] is a per-row codegen chain, so the
    * whole audit is one map + one bounded (per-group) aggregate — exact
    * integer totals, two double divisions at the end.
    * Output: (groupCol, n_words, n_subwords, n_chars, fertility,
    * chars_per_subword). */
  def bpeFertility(df: org.apache.spark.sql.DataFrame, groupCol: String,
                   textCol: String,
                   merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val tks = tokens(lower(col(textCol)))
    df.select(col(groupCol),
        size(tks).as("__nw"),
        size(bpeSegments(col(textCol), merges)).as("__ns"),
        length(array_join(tks, "")).as("__nc"))
      .groupBy(col(groupCol))
      .agg(sum(col("__nw")).as("n_words"), sum(col("__ns")).as("n_subwords"),
        sum(col("__nc")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_subwords"), col("n_chars"),
        when(col("n_words") === 0, 0.0)
          .otherwise(col("n_subwords").cast("double") /
            col("n_words").cast("double")).as("fertility"),
        when(col("n_subwords") === 0, 0.0)
          .otherwise(col("n_chars").cast("double") /
            col("n_subwords").cast("double")).as("chars_per_subword"))
  }

  /** Per-group token-distribution drift: KL(P_group || Q_corpus) over
    * hashed token buckets with add-one smoothing — the monitoring signal
    * that catches a source going bad (scraper broke, spam flood, encoding
    * regression) BEFORE a model trains on it. Hashed buckets (the q124
    * DSIR idiom) bound the distributions at `numBuckets` rows regardless
    * of vocabulary size, which is what makes the audit a fixed-cost query
    * at 100 TB: the corpus is exploded once into (group, bucket) counts;
    * the full group x bucket grid, both smoothed distributions and the
    * KL sum are all bounded metadata.
    *
    * Cross-engine float discipline: each KL term is
    * round(P * ln(P/Q), 6) summed through DECIMAL(25,6) — the q99 ln
    * pattern; the portable md5 bucket hash replays in SQL.
    * Output: (groupCol, n_tokens, kl_div) — higher = further from the
    * corpus-wide distribution. */
  def klDrift(df: org.apache.spark.sql.DataFrame, groupCol: String,
              textCol: String, numBuckets: Int = 4096,
              seed: Int = 11): org.apache.spark.sql.DataFrame =
    klDriftAgainst(df, df, groupCol, textCol, numBuckets, seed)

  /** [[klDrift]] with an EXPLICIT reference corpus for Q — the form a
    * monitor runs in production: groups of incoming data (micro-batches,
    * days, shards) scored against the frozen TRAINING corpus's
    * distribution rather than their own mixture. With `reference` = `df`
    * this is exactly [[klDrift]]. */
  def klDriftAgainst(df: org.apache.spark.sql.DataFrame,
                     reference: org.apache.spark.sql.DataFrame,
                     groupCol: String, textCol: String,
                     numBuckets: Int = 4096,
                     seed: Int = 11): org.apache.spark.sql.DataFrame = {
    require(numBuckets >= 2, "klDrift: numBuckets >= 2")
    val b = numBuckets.toLong
    def bucket(t: Column): Column =
      pmod(Dedup.portableHash64(t, seed), lit(b))
    val fb = df.select(col(groupCol),
        explode(tokens(lower(col(textCol)))).as("__tok"))
      .select(col(groupCol), bucket(col("__tok")).as("__b"))
    val sb = fb.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .transform(Checkpoints.ckpt) // consumers: totals, grid
    val tots = sb.groupBy(col(groupCol)).agg(sum(col("__c")).as("__tot"))
    // self-reference reuses the checkpointed (group, bucket) counts —
    // one corpus pass; an explicit reference pays its own (bounded) agg
    val corp =
      if (reference eq df)
        sb.groupBy(col("__b")).agg(sum(col("__c")).as("__cc"))
      else reference
        .select(explode(tokens(lower(col(textCol)))).as("__tok"))
        .select(bucket(col("__tok")).as("__b"))
        .groupBy(col("__b")).agg(count(lit(1)).as("__cc"))
    val ctot = corp.agg(sum(col("__cc")).as("__ctot"))
    val grid = tots
      .select(col(groupCol), col("__tot"),
        explode(sequence(lit(0L), lit(b - 1))).as("__b"))
      .join(sb, Seq(groupCol, "__b"), "left")
      .join(broadcast(corp), Seq("__b"), "left")
      .crossJoin(broadcast(ctot))
    val p = (coalesce(col("__c"), lit(0L)) + lit(1)).cast("double") /
      (col("__tot") + lit(b))
    val q = (coalesce(col("__cc"), lit(0L)) + lit(1)).cast("double") /
      (col("__ctot") + lit(b))
    grid
      .withColumn("__t", round(p * log(p / q), 6).cast("decimal(25,6)"))
      .groupBy(col(groupCol))
      .agg(max(col("__tot")).as("n_tokens"), sum(col("__t")).as("__kl"))
      .select(col(groupCol), col("n_tokens"),
        col("__kl").cast("double").as("kl_div"))
  }

  /** Within-document shingle repetition — the C4/Gopher-family quality
    * signal: a document whose k-shingles repeat heavily is boilerplate or
    * a degenerate loop, not prose. dup_ratio = 1 - distinct/total shingles
    * (0 for docs short enough to yield a single shingle). Pure per-row
    * expressions over the native shingle kernel — no shuffle; exact
    * integer set sizes, one double division (replayed in SQL, q84).
    * Output: idCol, n_shingles, n_distinct, dup_ratio, keep. */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, k: Int = 3,
                      maxDupRatio: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val sh = Dedup.shingles(col(textCol), k)
    df.select(col(idCol),
        size(sh).as("n_shingles"),
        size(array_distinct(sh)).as("n_distinct"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_distinct").cast("double") /
          col("n_shingles").cast("double"))
      .withColumn("keep", col("dup_ratio") <= maxDupRatio)
  }

  /** One-pass native metrics struct (n_tokens, punct_ratio,
    * stopword_ratio, mean_token_len, quality_score, lang) — each field
    * value-identical to the corresponding Column form here (the parity is
    * pinned by TextMetricsParitySpec). The Column forms re-split the text
    * once per metric through interpreted HOFs; this walks it once inside
    * whole-stage codegen — use it whenever a query needs 2+ metrics. */
  def textMetrics(text: Column): Column =
    graft.expr.GraftFunctions.textMetrics(coalesce(text, lit("")))

  /** Token-window chunking for training pipelines: overlapping windows of
    * `chunkSize` tokens advancing by (chunkSize - overlap). Short docs yield
    * one chunk; the final window is clamped at the end of the doc. Pure
    * per-row expression — 1-to-many via explode at the call site. Backed by
    * the native [[graft.expr.WordChunks]] kernel (the HOF form it replaced
    * is kept as the executable spec in TextMetricsParitySpec). */
  def chunks(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    graft.expr.GraftFunctions.wordChunks(coalesce(text, lit("")), chunkSize, overlap)
  }

  /** Line-level corrections — the RefinedWeb/MassiveText line-wise pass
    * (Penedo et al. 2023 §3.2: strip navigation/boilerplate LINES, then
    * drop the document if too much of it was boilerplate). A line is
    * dropped when it is (a) one word or empty, (b) numeric-only
    * (digits/punctuation/space with at least one digit — page numbers,
    * timestamps), (c) uppercase-heavy (>60% of letters — headers, nav
    * menus), or (d) a social counter ("12 likes"). The document is
    * dropped when more than `maxDropRatio` of its lines were.
    *
    * Scale shape: pure per-row Column expressions over a split/filter/
    * array_join chain — no shuffle, no UDF; linear in corpus size and
    * identical in batch and streaming. The 60% rule is integer
    * cross-multiplication (uppers*5 > letters*3), so the only double in
    * the output is the final drop ratio (round-6, q89 discipline).
    * Output: (idCol, text_clean, n_lines, n_dropped, drop_ratio, keep_doc). */
  def lineCorrections(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String,
                      maxDropRatio: Double = 0.2): org.apache.spark.sql.DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")), "\n", -1)
    def words(l: Column): Column =
      filter(split(l, "\\s+", -1), w => w =!= "")
    def letters(l: Column): Column =
      length(regexp_replace(l, "[^A-Za-z]", ""))
    def uppers(l: Column): Column =
      length(regexp_replace(l, "[^A-Z]", ""))
    def dropLine(l: Column): Column =
      (size(words(l)) <= 1) ||
      (l.rlike("^[0-9\\s\\p{Punct}]*$") && l.rlike("[0-9]")) ||
      (letters(l) > 0 && uppers(l) * 5 > letters(l) * 3) ||
      lower(trim(l)).rlike("^[0-9][0-9,.]* (likes?|views?|comments?|shares?|points?)$")
    df.select(col(idCol), lines.as("__ls"),
        filter(lines, l => !dropLine(l)).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("text_clean"),
        size(col("__ls")).as("n_lines"),
        (size(col("__ls")) - size(col("__kept"))).as("n_dropped"))
      .withColumn("drop_ratio",
        col("n_dropped").cast("double") / col("n_lines").cast("double"))
      .withColumn("keep_doc", col("drop_ratio") <= maxDropRatio)
  }

  /** HTML/markup stripping — the first pass of any web-crawl curation
    * pipeline when upstream extraction left tags behind: drop
    * script/style blocks wholesale (their CONTENT is code, not text),
    * drop comments, drop remaining tags, decode the common entities,
    * collapse whitespace. Regex-based by design: deterministic, codegen'd,
    * engine-portable (no backreferences — RE2-safe), and honest about its
    * scope — it is a TEXT-CLEANUP kernel, not an HTML parser (a stray
    * unmatched `<` with no closing `>` passes through untouched; full DOM
    * fidelity belongs at the extraction seam, like the multimodal codec).
    * `&amp;` decodes LAST so pre-escaped entity text (`&amp;lt;`) yields
    * the literal entity, never a second decode into a phantom tag.
    *
    * Scale shape: pure per-row codegen Column chain — no shuffle, no UDF,
    * linear in corpus bytes, identical in batch and streaming. */
  def stripMarkup(text: Column): Column = {
    val src = coalesce(text, lit(""))
    val noScript = regexp_replace(src,
      "(?is)<script[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)</?[A-Za-z!][^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    val amp = replace(decoded, lit("&amp;"), lit("&"))
    // collapse HORIZONTAL whitespace only and trim around newlines: line
    // structure survives, so [[lineCorrections]] composes downstream
    // (RefinedWeb's order — extract, then line-wise rules — requires it)
    trim(regexp_replace(regexp_replace(amp, "[ \\t\\r\\f]+", " "),
      " ?\\n ?", "\n"))
  }

  /** [[stripMarkup]] over a frame: (idCol, text_clean, removed_chars) —
    * removed_chars > 0 is the "this source still ships markup" audit
    * signal a per-source report aggregates. */
  def stripMarkupDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val clean = stripMarkup(col(textCol))
    df.select(col(idCol), clean.as("text_clean"),
      (length(coalesce(col(textCol), lit(""))) - length(clean))
        .as("removed_chars"))
  }

  /** The classic UTF-8-decoded-as-cp1252 mojibake sequences and their
    * intended characters — curly quotes, dashes, ellipsis, the common
    * accented Latin vowels, and the Â+NBSP artifact. 3-byte sequences
    * first (they share no prefix with the 2-byte ones, but the fixed
    * order is part of the replayable contract). Shared with the q141
    * oracle so table and replay cannot drift. */
  val mojibakeTable: Seq[(String, String)] = Seq(
    "â€™" -> "'",       // ’ through cp1252
    "â€œ" -> "\"",      // “
    "â€" -> "\"",      // ”
    "â€“" -> "–",  // –
    "â€”" -> "—",  // —
    "â€¦" -> "…",  // …
    "Ã©" -> "é",        // é
    "Ã¨" -> "è",        // è
    "Ã¤" -> "ä",        // ä
    "Ã¶" -> "ö",        // ö
    "Ã¼" -> "ü",        // ü
    "Ã±" -> "ñ",        // ñ
    "Â " -> " ")             // Â + NBSP artifact

  /** Encoding scrub — the byte-hygiene pass a crawl corpus needs before
    * any text statistic is trustworthy: (1) repair the classic
    * UTF-8-as-cp1252 mojibake sequences ([[mojibakeTable]], ordered
    * literal replaces — deterministic, engine-portable), then (2) strip
    * C0 control characters (except tab/newline), DEL and the C1 block
    * (where unrepaired mojibake leftovers like U+009D live) — they break
    * tokenizers and are a fingerprint of binary contamination. Pure
    * per-row codegen chain — no shuffle, no UDF, batch == streaming.
    * Output: (idCol, text_clean, n_ctrl_removed, mojibake_fixed). */
  def fixEncoding(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val src = coalesce(col(textCol), lit(""))
    val fixed = mojibakeTable.foldLeft(src) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }
    val clean = regexp_replace(fixed,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]", "")
    df.select(col(idCol), clean.as("text_clean"),
      (length(fixed) - length(clean)).as("n_ctrl_removed"),
      (fixed =!= src).as("mojibake_fixed"))
  }

  /** PII shape regexes (RE2-safe — no backreferences/lookaround, so the
    * DuckDB oracle replays them verbatim). Shared by [[redactPii]] and
    * [[piiScan]] so the redactor and the auditor can never disagree. */
  val emailRegex: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRegex: String = "\\b[0-9]{10,12}\\b"

  /** PII scrubbing: redact email addresses and 10-12 digit phone-like runs
    * (the same shapes the cleaning rules validate) with typed placeholders. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(coalesce(text, lit("")), emailRegex, "<EMAIL>"),
      phoneRegex, "<PHONE>")

  /** Per-group PII incidence report — the governance audit a corpus needs
    * BEFORE release: how much redactable PII each source carries, and how
    * many documents the redactor would touch. Counts use the exact same
    * regexes as [[redactPii]], so "n_docs_with_pii = 0" is a proof the
    * redactor is a no-op on that source, not a second opinion.
    *
    * One bounded aggregate (groups x 4 counters), regex matching inside
    * whole-stage codegen — per-row work, no shuffle beyond the final
    * group-sized exchange. Output: (groupCol, n_docs, n_emails, n_phones,
    * n_docs_with_pii). */
  def piiScan(df: org.apache.spark.sql.DataFrame, groupCol: String,
              textCol: String): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(regexp_count(t, lit(emailRegex))).as("n_emails"),
      sum(regexp_count(t, lit(phoneRegex))).as("n_phones"),
      count(when(redactPii(col(textCol)) =!= t, 1)).as("n_docs_with_pii"))
  }

  /** Per-group vocabulary-health metrics — the corpus-quality signals a
    * tokenizer/LM team reads before training: type count, token count,
    * hapax legomena (types seen once — high ratio = noisy/OCR-damaged or
    * genuinely diverse text; near-zero = template spam), and type-token
    * ratio. All integer counts from ONE (group, token) aggregate
    * (map-side combined; shuffle key is the token, never the text),
    * then a group-sized rollup; the two ratios are single double
    * divisions of exact longs. Output: (groupCol, n_types, n_tokens,
    * n_hapax, hapax_ratio, type_token_ratio). */
  def vocabHealth(df: org.apache.spark.sql.DataFrame, groupCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = df.select(col(groupCol), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_types"),
        sum(col("tf")).as("n_tokens"),
        count(when(col("tf") === 1, 1)).as("n_hapax"))
      .select(col(groupCol), col("n_types"), col("n_tokens"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_ratio"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"))
  }

  /** Zipf-law fit over the corpus token-frequency distribution — the
    * one-number sanity check of a text corpus's statistical health
    * (Zipf 1949; Piantadosi 2014 review): natural language has
    * log(freq) ~ intercept + slope * log(rank) with slope near -1.
    * A slope far above -1 (flat) flags template/spam floods repeating a
    * tiny vocabulary uniformly; far below (steep) flags boilerplate
    * domination by a few tokens; r2 << 1 flags a mixture of corpora
    * with very different vocabularies stitched together.
    *
    * Fit = ordinary least squares of y = ln(freq) on x = ln(rank) over
    * the top `topRanks` tokens (freq desc, token asc — a total order).
    * Scale shape: ONE (token, tf) aggregate (map-side combined, shuffle
    * key is the token), a distributed top-k (TakeOrderedAndProject —
    * never a global window over the vocabulary), then the regression
    * runs over topRanks rows of metadata.
    *
    * Cross-engine float discipline (the q99 ln pattern, extended to a
    * regression): each ln is rounded to 6 decimals and frozen to an
    * exact micro-scaled BIGINT; all five regression sums are exact
    * integer aggregates (order-independent); the closed-form slope /
    * intercept / r2 are computed from those exact sums with identical
    * double expressions in both engines, rounded to 6. The micro scale
    * cancels inside the slope ratio so no rescaling boundary exists.
    * Output: one row (n_ranks, slope, intercept, r2). */
  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String,
              topRanks: Int = 256): org.apache.spark.sql.DataFrame = {
    require(topRanks >= 8, "zipfFit: topRanks >= 8")
    val tf = df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val top = tf.orderBy(col("tf").desc, col("token").asc).limit(topRanks)
    val ranked = top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("tf").desc, col("token").asc))) // bounded: topRanks rows
    def micros(c: Column): Column =
      round(round(log(c), 6) * 1e6).cast("long")
    val terms = ranked.select(
      micros(col("rank").cast("double")).as("x"),
      micros(col("tf").cast("double")).as("y"))
    val sums = terms.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nd = col("n").cast("double")
    def d(name: String): Column = col(name).cast("double")
    val num = nd * d("sxy") - d("sx") * d("sy")
    val den = nd * d("sxx") - d("sx") * d("sx")
    // den = 0 only for n <= 1 (ranks are distinct); deny = 0 for a
    // constant-frequency curve — both degenerate fits have zero residual,
    // reported as slope 0 / r2 1 rather than an ANSI divide-by-zero
    val slope = when(den === 0, lit(0.0)).otherwise(num / den)
    val deny = nd * d("syy") - d("sy") * d("sy")
    sums.select(col("n").cast("int").as("n_ranks"),
      slope.as("slope"),
      ((d("sy") - slope * d("sx")) / nd / lit(1e6)).as("intercept"),
      when(den * deny === 0, lit(1.0))
        .otherwise(num * num / (den * deny)).as("r2"))
  }

  /** Top-k collocations by pointwise mutual information (Church & Hanks
    * 1990): PMI(w1, w2) = ln( (c12/M) / ((c1/N)·(c2/N)) ) over adjacent
    * token pairs — the corpus-analysis pass that surfaces multi-word
    * units ("new york", "machine learning") and, inverted, the glue
    * boilerplate n-gram mining misses. `minCount` kills the
    * low-frequency PMI explosion (a hapax pair maxes the score by
    * definition — the classic PMI pathology).
    *
    * Scale shape: the q113 bigram chain — one posexplode + per-doc lead
    * window, then ONE (w1, w2) count agg (map-side combined) and a
    * bounded unigram frame; top-k via orderBy/limit
    * (TakeOrderedAndProject), never a vocabulary² window. Ordering is
    * (rounded PMI desc, w1, w2) — total, portable. Output:
    * (rnk, w1, w2, c12, pmi). */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, minCount: Long = 20,
                      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val tok = df.select(col(idCol), posexplode(tokens(lower(col(textCol)))))
      .toDF(idCol, "__pos", "__w")
      .transform(Checkpoints.ckpt) // consumers: bigrams + unigrams + N
    val c2 = tok.withColumn("__w2", lead(col("__w"), 1).over(w))
      .filter(col("__w2").isNotNull)
      .groupBy(col("__w").as("w1"), col("__w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val c1 = tok.groupBy(col("__w")).agg(count(lit(1)).as("__c1"))
    val n = tok.agg(count(lit(1)).as("__n"))
    val m = tok.groupBy(col(idCol)).agg(count(lit(1)).as("__cnt"))
      .agg(sum(greatest(col("__cnt") - 1, lit(0L))).as("__m"))
    val scored = c2
      .join(broadcast(c1.select(col("__w").as("w1"), col("__c1").as("__ca"))), "w1")
      .join(broadcast(c1.select(col("__w").as("w2"), col("__c1").as("__cb"))), "w2")
      .crossJoin(broadcast(n)).crossJoin(broadcast(m))
      .withColumn("pmi", round(log(
        (col("c12").cast("double") / col("__m").cast("double")) /
          ((col("__ca").cast("double") / col("__n").cast("double")) *
            (col("__cb").cast("double") / col("__n").cast("double")))), 6))
    val top = scored.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
    top.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc))) // topK rows
      .select(col("rnk"), col("w1"), col("w2"), col("c12"), col("pmi"))
  }

  /** Frequent-token subsampling (Mikolov et al., "Distributed
    * Representations of Words and Phrases", NeurIPS 2013 §2.3): token
    * occurrences survive with probability min(1, sqrt(t / f_w)) where
    * f_w is the token's relative frequency — the embedding-training
    * preprocessing step that strips most "the"/"of" occurrences while
    * keeping rare tokens intact, accelerating training and improving
    * rare-word vectors.
    *
    * Determinism: the Bernoulli draw is a PORTABLE HASH THRESHOLD, not
    * rand() — occurrence (doc, pos) survives iff
    * ph(doc:pos) mod 1e6 < floor(sqrt(t·N / c_w)·1e6) (sqrt is IEEE
    * correctly rounded, floor freezes it) — so the subsample is a pure
    * function of the corpus and replays in any engine, the [[Split]]
    * sampling contract applied per-occurrence. t = tNum/tDen rational.
    *
    * Scale shape: one posexplode + broadcast (token, count) join +
    * per-row hash — no shuffle beyond the count agg; the report is a
    * bounded top-k. Output: (rnk, token, n_before, n_after, keep_ppm)
    * for the top `topK` tokens by frequency — the tokens the step
    * exists to thin. */
  def subsampleFrequent(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, tNum: Int = 1, tDen: Int = 10000,
                        topK: Int = 20,
                        seed: Int = 29): org.apache.spark.sql.DataFrame = {
    require(tNum > 0 && tDen > 0, "subsampleFrequent: t > 0")
    val tok = df.select(col(idCol), posexplode(tokens(lower(col(textCol)))))
      .toDF(idCol, "__pos", "__w")
      .transform(Checkpoints.ckpt) // consumers: counts + N + keep pass
    val c1 = tok.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val n = tok.agg(count(lit(1)).as("__n"))
    val kept = tok
      .join(broadcast(c1), "__w").crossJoin(broadcast(n))
      .withColumn("keep_ppm", least(
        floor(sqrt(col("__n").cast("double") * tNum /
          (col("__c").cast("double") * tDen)) * 1e6).cast("long"),
        lit(1000000L)))
      .withColumn("__keep",
        pmod(Dedup.portableHash64(
          concat(col(idCol).cast("string"), lit(":"),
            col("__pos").cast("string")), seed), lit(1000000L))
          < col("keep_ppm"))
      .groupBy(col("__w").as("token"), col("keep_ppm"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_after"))
    val top = kept.orderBy(col("n_before").desc, col("token").asc).limit(topK)
    top.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_before").desc, col("token").asc))) // topK rows
      .select(col("rnk"), col("token"), col("n_before"), col("n_after"),
        col("keep_ppm"))
  }

  /** Per-group token-distribution entropy statistics: each doc's
    * vocabulary entropy H = -Σ_w p_w ln p_w (p_w = within-doc relative
    * frequency) is the scale-free repetitiveness signal — template spam
    * and keyword-stuffed pages sit far below prose of the same length,
    * which raw type-token ratios conflate with document size. Per-term
    * ln values are frozen to round-6 DECIMAL(25,6) before the per-doc
    * sum and per-doc entropies to DECIMAL(20,6) before the group mean
    * (the q99 ladder), so every statistic replays exactly.
    *
    * Scale shape: ONE (group, doc, token) count agg (map-side
    * combined), a per-doc rollup, then a bounded per-group agg.
    * Output: (groupCol, n_docs, mean_entropy, min_entropy,
    * max_entropy, n_low) where n_low counts docs with H < `lowH` —
    * the repetitive-doc gauge. */
  def tokenEntropyStats(df: org.apache.spark.sql.DataFrame, groupCol: String,
                        idCol: String, textCol: String,
                        lowH: Double = 1.5): org.apache.spark.sql.DataFrame = {
    val tf = df.select(col(groupCol), col(idCol),
        explode(tokens(lower(col(textCol)))).as("__w"))
      .groupBy(col(groupCol), col(idCol), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val perDoc = tf
      .withColumn("__n", sum(col("__tf")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol), col(idCol))))
      .withColumn("__p", col("__tf").cast("double") / col("__n").cast("double"))
      .withColumn("__t", round(col("__p") * log(col("__p")), 6)
        .cast("decimal(25,6)"))
      .groupBy(col(groupCol), col(idCol))
      .agg((-sum(col("__t"))).cast("double").as("__h"))
    perDoc.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(round(col("__h"), 6).cast("decimal(20,6)")).as("__hsum"),
        round(min(col("__h")), 6).as("min_entropy"),
        round(max(col("__h")), 6).as("max_entropy"),
        count(when(col("__h") < lowH, 1)).as("n_low"))
      .select(col(groupCol), col("n_docs"),
        (col("__hsum").cast("double") / col("n_docs").cast("double"))
          .as("mean_entropy"),
        col("min_entropy"), col("max_entropy"), col("n_low"))
  }

  /** Deterministic small integer value for a token (engine-portable: ascii of
    * first char and length only — reproducible in any SQL engine). */
  def tokenValue(t: Column): Column = ascii(t) * 31 + length(t)

  /** Rolling polynomial fingerprint over the token stream, mod 1e9+7.
    * h = fold(tokens, 0, (h, t) => (h*131 + tokenValue(t)) % p). Stable across
    * engines (pure BIGINT arithmetic, no engine-specific hash). Runs via the
    * native codegen'd expression (graft.expr.TextFingerprint) — a single
    * fused pass instead of building and folding a token array per row. */
  def fingerprint(text: Column): Column =
    graft.expr.TextFingerprint(coalesce(text, lit("")))

  /** The pure-Column composition of [[fingerprint]] (reference semantics
    * spelled out in built-ins; value-identical to the native form). */
  def fingerprintComposed(text: Column): Column =
    aggregate(
      transform(tokens(text), tokenValue(_)),
      lit(0L),
      (h, v) => (h * 131L + v) % 1000000007L)

  /** Canonical text form for NORMALIZED exact dedup: lowercase, every
    * non-[a-z0-9] run (punctuation, unicode, newlines) to a single
    * space, trimmed. Catches the trivial variants byte-exact dedup
    * misses — recased copies, punctuation-noise mirrors, reflowed
    * whitespace — while staying a pure codegen'd per-row kernel.
    * Idempotent by construction (the output alphabet is a fixpoint of
    * every rule). */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(lower(coalesce(text, lit(""))), "[^a-z0-9]+", " "))

  /** Flesch reading-ease readability per document — the classic
    * curriculum/quality signal (textbook prose scores 60-90, legalese and
    * token soup score low or negative). All three inputs are INTEGER
    * counts so the score is cross-engine exact: words = whitespace
    * tokens, sentences = non-overlapping [.!?]+ runs (floored at 1),
    * syllables = per-word [aeiouy]+ vowel-group runs floored at 1 per
    * word (the standard heuristic — "rhythm" still gets one syllable).
    * flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words),
    * rounded to 4; the band CASEs on the ROUNDED value so the boundary is
    * deterministic. Zero-word docs get a null score and band 'empty'.
    *
    * Scale shape: per-row codegen'd regex counts + one bounded HOF fold —
    * no shuffle, no UDF; identical in batch and streaming. */
  def readability(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val t = lower(coalesce(col(textCol), lit("")))
    df.select(col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_words"),
        greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("long")
          .as("n_sentences"),
        aggregate(
          transform(tokens(t), w => greatest(regexp_count(w, lit("[aeiouy]+")), lit(1))),
          lit(0L), (acc, x) => acc + x).as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") === 0, lit(null).cast("double"))
          // parenthesized ratio FIRST, coefficient multiply SECOND — the
          // exact association the oracle uses; with the trailing round
          // gone (r8 tie audit) the two engines must share every
          // intermediate rounding, not just the 4dp value
          .otherwise(
            lit(206.835)
              - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
              - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double"))))
      .withColumn("band",
        when(col("flesch").isNull, "empty")
          .when(col("flesch") >= 90, "very_easy")
          .when(col("flesch") >= 60, "standard")
          .when(col("flesch") >= 30, "difficult")
          .otherwise("very_difficult"))
  }

  /** Corpus-level boilerplate n-gram report: word n-grams (lowercased)
    * appearing in at least `minDf` DISTINCT documents, top `topK` by
    * document frequency — the discovery pass that FEEDS span/boilerplate
    * removal (q100's dropDuplicateSpans kills what this finds). Counting
    * is per-document-distinct (a doc repeating its own footer 50x counts
    * once), so doc_freq is a true document frequency.
    *
    * Scale shape: explode per-doc DISTINCT shingles (native kernel +
    * array_distinct), ONE hash aggregation keyed on the n-gram —
    * partial-agg collapses map-side. At 100 TB shingles travel as
    * xxhash64 digests and the literal text of only the top-k survivors is
    * recovered by a second semi-join pass (the q85 hashing note); the
    * string form here is the oracle-verifiable twin. The final top-k is a
    * WindowGroupLimit-pruned global window over the (small) >= minDf
    * survivor set. */
  def boilerplateNgrams(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, srcCol: String, n: Int,
                        minDf: Long, topK: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("doc_freq").desc, col("ngram").asc)
    df.select(col(idCol), col(srcCol),
        explode(array_distinct(Dedup.shingles(lower(col(textCol)), n))).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("doc_freq"),
        countDistinct(col(srcCol)).as("n_sources"))
      .filter(col("doc_freq") >= minDf)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("rnk"), col("ngram"), col("doc_freq"), col("n_sources"))
  }
}
