package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.plans.Materialize.CheckpointOps

/** Text-analysis operators for corpus curation: language-ID (stopword
  * n-gram heuristic), quality scoring, token counting, and document
  * fingerprinting. All narrow (per-row) transforms — zero shuffle — so
  * they stream over a 100 TB corpus at scan speed.
  */
object TextAnalysis {

  /** Per-language stopword batteries for the heuristic language ID. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "la", "de", "los", "que"))

  /** Count whole-word occurrences of `word` in a text column, lowercased
    * (expression-only; used by both langId and quality scoring).
    */
  def wordHits(text: Column, word: String): Column =
    size(regexp_extract_all(lower(text), lit("\\b" + word + "\\b"), lit(0)))

  /** Language score = total stopword hits for that language's battery. */
  def langScore(text: Column, lang: String): Column =
    stopwords.toMap.apply(lang).map(wordHits(text, _)).reduce(_ + _)

  /** Heuristic language ID: argmax of stopword-battery scores with fixed
    * precedence (en > de > fr > es) on ties; "und" (undetermined) when no
    * battery fires at all.
    */
  def langId(text: Column): Column = {
    val scores = stopwords.map { case (lang, _) => lang -> langScore(text, lang) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), elseCol) =>
      when(s >= lit(1) && s === best, lang).otherwise(elseCol)
    }
  }

  /** Mixed-language detection: language-ID the first and second halves
    * of each document independently and flag disagreement — the cheap
    * screen for concatenation artifacts (two articles glued by a
    * crawler) and code-switched pages that a whole-document vote
    * averages away. Halves split at `length div 2` characters (the
    * same truncating arithmetic in any engine); two docs agreeing on
    * "und" (no stopword evidence) count as consistent — absence of
    * evidence is not a split signal. Pure per-row regexp work: zero
    * shuffle, scan-speed at any corpus size like the rest of the
    * language battery.
    */
  def langConsistency(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val first = expr(s"substring(`$textCol`, 1, length(`$textCol`) div 2)")
    val second = expr(s"substring(`$textCol`, (length(`$textCol`) div 2) + 1)")
    docs.select(col(idCol),
      langId(first).as("lang_first"),
      langId(second).as("lang_second"))
      .withColumn("consistent", col("lang_first") === col("lang_second"))
  }

  /** Quality statistics: char/token counts, mean token length,
    * alpha/punctuation ratios, stopword ratio, and a blended 0-100 score.
    * Mirrors the length/punct/stopword heuristics of C4-style curation.
    */
  def qualityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nChars = length(t)
    val nToks = size(toks)
    val alpha = length(regexp_replace(t, "[^A-Za-z]", ""))
    val punct = length(regexp_replace(t, "[^.,;:!?]", ""))
    val stops = stopwords.flatMap(_._2).distinct
      .map(wordHits(col(textCol), _)).reduce(_ + _)
    // ratios stay un-rounded: a single IEEE division of identical inputs is
    // bit-identical across engines, while decimal rounding of exact-half
    // values is implementation-defined and would diverge from the oracle
    docs.select(
      col(idCol),
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      (nChars.cast("double") / greatest(nToks, lit(1))).as("mean_token_len"),
      (alpha.cast("double") / greatest(nChars, lit(1))).as("alpha_ratio"),
      (punct.cast("double") / greatest(nChars, lit(1))).as("punct_ratio"),
      (stops.cast("double") / greatest(nToks, lit(1))).as("stopword_ratio"),
      qualityScore(nToks, alpha, punct, nChars).as("quality_score"))
  }

  /** Gopher-style repetition statistics over overlapping word n-grams
    * (Rae et al. 2021's duplicate-n-gram / top-n-gram quality filters):
    * per document, the total n-gram count, distinct count, and the top
    * n-gram's frequency — computed in one tight-loop expression per row
    * (zero shuffle), with the two derived ratios left as single IEEE
    * divisions of identical integers (engine-exact). Documents shorter
    * than n words report zero counts and null ratios.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    // null text counts as an empty document (zero grams, null ratios) —
    // the same answer the oracle's LEFT JOIN + coalesce path gives —
    // rather than null-propagating through the expression
    val s = graft.functions.Expressions.ngram_stats(
      tokens(coalesce(col(textCol), lit(""))), n)
    docs.select(col(idCol), s.as("__s"))
      .select(col(idCol),
        col("__s.total").as("n_grams"),
        col("__s.n_distinct").as("n_distinct"),
        col("__s.top_freq").as("top_freq"),
        when(col("__s.total") > 0,
          (col("__s.total") - col("__s.n_distinct")).cast("double") /
            col("__s.total")).as("dup_ratio"),
        when(col("__s.total") > 0,
          col("__s.top_freq").cast("double") / col("__s.total")).as("top_frac"))
  }

  /** Blended 0-100 quality score: length saturation (0.3), alphabetic
    * density (0.4), punctuation-noise penalty (0.3). Pure row-level
    * arithmetic in a fixed op order so the oracle reproduces it bit-exact.
    */
  private def qualityScore(nToks: Column, alpha: Column, punct: Column,
                           nChars: Column): Column = {
    val lenSat = least(nToks.cast("double") / lit(100.0), lit(1.0))
    val alphaR = alpha.cast("double") / greatest(nChars, lit(1))
    val punctPen = lit(1.0) - least(
      (punct.cast("double") / greatest(nChars, lit(1))) * lit(10.0), lit(1.0))
    lit(100.0) * (lit(0.3) * lenSat + lit(0.4) * alphaR + lit(0.3) * punctPen)
  }

  /** The Gopher rule battery's required-stopword list (Rae et al. 2021
    * §A1.1: a document must contain at least two of these to pass).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1): per
    * document the raw integer measurements and one boolean per rule.
    * EVERY threshold comparison is done in cross-multiplied integer
    * arithmetic (`10 * n_symbols <= n_words` instead of a 0.1 ratio),
    * so the flags are engine-exact at the boundaries — no float ratio
    * ever exists to disagree about. The rules:
    *  - word count within [minWords, maxWords];
    *  - mean word length within [3, 10] chars (`3n <= sumLen <= 10n`,
    *    where sumLen is the text's non-whitespace char count — exactly
    *    the sum of token lengths, but codegen'd instead of a lambda);
    *  - symbol-to-word ratio (hash marks + non-overlapping ellipses)
    *    at most 1/10;
    *  - at least 4/5 of words contain an alphabetic character;
    *  - at least `minStops` distinct required stopwords present.
    * Narrow row-level expressions only — streams at scan speed.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 5, maxWords: Int = 100000,
                  minStops: Int = 2): DataFrame = {
    val t = lower(trim(col(textCol)))
    val toks = tokens(col(textCol))
    val nWords = size(toks).cast("long")
    val sumLen = length(regexp_replace(t, "\\s+", "")).cast("long")
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEllipsis = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
      .cast("long")
    val nAlphaWords = size(filter(toks, w => w.rlike("[a-z]"))).cast("long")
    val nStops = gopherStopwords
      .map(w => when(wordHits(col(textCol), w) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    docs.select(
      col(idCol),
      nWords.as("n_words"),
      sumLen.as("sum_word_len"),
      (nHash + nEllipsis).as("n_symbols"),
      nAlphaWords.as("n_alpha_words"),
      nStops.as("n_stopwords_present"))
    .select(
      col(idCol), col("n_words"), col("sum_word_len"), col("n_symbols"),
      col("n_alpha_words"), col("n_stopwords_present"),
      (col("n_words") >= minWords && col("n_words") <= maxWords)
        .as("word_count_ok"),
      (lit(3) * col("n_words") <= col("sum_word_len") &&
        col("sum_word_len") <= lit(10) * col("n_words")).as("mean_word_len_ok"),
      (lit(10) * col("n_symbols") <= col("n_words")).as("symbol_ratio_ok"),
      (lit(5) * col("n_alpha_words") >= lit(4) * col("n_words"))
        .as("alpha_word_ratio_ok"),
      (col("n_stopwords_present") >= minStops).as("stopword_ok"))
    .withColumn("gopher_pass",
      col("word_count_ok") && col("mean_word_len_ok") &&
        col("symbol_ratio_ok") && col("alpha_word_ratio_ok") &&
        col("stopword_ok"))
  }

  /** Token counts: whitespace tokens plus a BPE-ish sub-token estimate
    * (word pieces of <=4 chars, the standard chars/4 heuristic refined by
    * actual word lengths: ceil(len(word)/4) summed). Explode + hash-agg
    * rather than a higher-order aggregate: HOF lambdas evaluate
    * interpreted, while this shape stays in whole-stage codegen with
    * map-side partial aggregation.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        countDistinct(col("w")).as("n_distinct_words"),
        sum(ceil(length(col("w")) / 4.0)).as("n_subtokens"))

  /** Feature hashing (the hashing trick, Weinberger et al. 2009): fold
    * the unbounded vocabulary into `buckets` fixed features per
    * document — bucket = 20-bit md5 prefix of the token mod `buckets`,
    * sign = parity of the md5's 6th nibble (the standard signed variant
    * that makes collisions cancel in expectation). Emitted sparse as
    * (doc, bucket) → raw count + signed sum; one explode + one
    * map-side-combinable aggregation, and the md5-derived bucket/sign
    * are exact in any engine (the split_hash/HLL treatment applied to
    * featurization). At 100 TB this is the fixed-width featurizer that
    * needs NO vocabulary broadcast and no second pass.
    */
  def hashedBowFeatures(docs: DataFrame, idCol: String, textCol: String,
                        buckets: Int = 64): DataFrame = {
    val w = col("__w")
    docs.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .select(col(idCol),
        pmod(graft.functions.Expressions.md5_bits(w, 5), lit(buckets))
          .as("bucket"),
        (graft.functions.Expressions.md5_bits(w, 6) % 2 === 0).as("__pos"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__pos"), 1L).otherwise(-1L)).as("signed_sum"))
  }

  /** Linear quality scorer over hashed features — the fastText-style
    * learned gate that replaces hand-rolled rule batteries once weights
    * are trained offline: score = bias + Σ_b w[b] · signed_count[b] over
    * the [[hashedBowFeatures]] buckets. Weights here are a deterministic
    * INTEGER stand-in for a trained vector (w[b] = Knuth-mix(b) mod 1001
    * − 500, centered), so the distributed dot product is a sum of exact
    * integers — engine-reproducible at every boundary, like the
    * cross-multiplied gopher thresholds. Swapping in real trained weights
    * changes only the literal array, never the plan: one explode + two
    * map-side-combinable doc-keyed aggregations, no vocabulary broadcast,
    * no second pass — the same 100 TB shape as the featurizer itself.
    */
  def linearQualityScore(docs: DataFrame, idCol: String, textCol: String,
                         buckets: Int = 64, bias: Long = 0L): DataFrame = {
    val feats = hashedBowFeatures(docs, idCol, textCol, buckets)
    // deterministic centered integer weight per bucket (stand-in model)
    val w = pmod(col("bucket") * lit(2654435761L), lit(1001L)) - lit(500L)
    feats
      .select(col(idCol), (col("signed_sum") * w).as("__contrib"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_active_buckets"),
        (sum(col("__contrib")) + lit(bias)).as("score"))
      .withColumn("label_keep", col("score") >= 0L)
  }

  /** Term relevance (TF-IDF family) over the corpus: per (doc, term)
    * frequency, document frequency, and a log-free inverse-document-
    * frequency weight `tf * (N / df)`. Log-free on purpose: `ln` differs
    * across libm implementations in the last ulp, while one int-to-double
    * division and one multiply are bit-identical everywhere — the oracle
    * reproduces the score exactly. Two shuffles (doc-term counts, term
    * df), both map-side combinable; N is a broadcast scalar.
    */
  def termRelevance(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df falls out of tf for free: tf holds exactly one row per
    // (doc, term), so counting rows per term IS the document frequency —
    // no second scan + explode of the corpus
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * (col("n_docs").cast("double") / col("df")))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Quality FILTER — the consumer of [[qualityStats]]: keep documents
    * clearing a composite-score floor and a minimum token count, the
    * C4-style curation gate. Thresholding the score is engine-safe
    * because the score itself is computed in a fixed op order (the
    * oracled text_quality invariant), so both engines agree on every
    * boundary comparison.
    */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
                    minScore: Double = 60.0, minTokens: Int = 5): DataFrame =
    qualityStats(docs, idCol, textCol)
      .filter(col("quality_score") >= minScore && col("n_tokens") >= minTokens)
      .select(col(idCol), col("n_tokens"), col("quality_score"))

  /** Vocabulary induction + coverage: build the top-`vocabSize` token
    * vocabulary by corpus frequency (ties to the lexicographically
    * smallest token — deterministic on any engine), then score every
    * document's coverage against it: token count, in-vocabulary count,
    * distinct out-of-vocabulary types, and an integer OOV rate in
    * permille. The tokenizer-budget analysis a pipeline runs before
    * committing to a vocab size, and the OOV-rate filter feeding a
    * "drop documents the tokenizer can't represent" gate.
    *
    * Scale shape: token frequency is one map-side-combinable shuffle;
    * the vocabulary is top-N of it — bounded at `vocabSize` rows via
    * per-partition heap + single merge (TakeOrdered), never a global
    * sort of the term dictionary — and broadcasts; the coverage probe
    * is then a narrow pass over the exploded tokens with one final
    * per-doc aggregation. Nothing in the plan grows faster than the
    * token stream itself.
    */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive, got $vocabSize")
    val terms = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val vocab = terms.groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(true).as("__in_vocab"))
    terms.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(col("__in_vocab")).as("n_in_vocab"),
        countDistinct(when(col("__in_vocab").isNull, col("w"))).as("n_oov_types"))
      .withColumn("oov_permille",
        expr("((n_tokens - n_in_vocab) * 1000) div n_tokens"))
  }

  /** Overlapping fixed-size token chunks (the RAG / long-document
    * splitting shape): window `chunkSize` tokens, stride
    * `chunkSize - overlap`, so consecutive chunks share `overlap`
    * tokens and no token is dropped. Chunk starts are
    * `1, 1+stride, ...` up to `max(n_tokens - overlap, 1)` — a
    * document shorter than one chunk yields exactly one (short) chunk,
    * and a final partial chunk keeps the tail. Emits (id, chunk_idx,
    * start_token, n_chunk_tokens, chunk_text) with 1-based indexes.
    *
    * Pure per-row compute: tokenize once into a bound column, one
    * `sequence` of starts, one posexplode — zero shuffles, stays in
    * the scan stage at any corpus size. Chunk count per doc is
    * ceil((n - overlap) / stride), linear in document length.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(expr(
          s"sequence(1, greatest(size(__toks) - $overlap, 1), $stride)"))
          .as(Seq("__i", "__start")))
      .select(col(idCol),
        (col("__i") + 1).cast("long").as("chunk_idx"),
        col("__start").cast("long").as("start_token"),
        expr(s"size(slice(__toks, __start, $chunkSize))").cast("long")
          .as("n_chunk_tokens"),
        expr(s"concat_ws(' ', slice(__toks, __start, $chunkSize))")
          .as("chunk_text"))
  }

  /** PII scrub for training corpora: emails, URLs, and long digit runs
    * (phone/account numbers) replaced by typed placeholder tokens. Pure
    * per-row regex chain — narrow, codegen'd, no shuffle. Patterns are
    * deliberately simple/recall-oriented: at corpus scale a missed
    * obfuscated email matters less than a quadratic regex.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^\\s]+", "<URL>")
    regexp_replace(url, "[0-9][0-9 ()\\-]{6,}[0-9]", "<NUMBER>")
  }

  /** Deterministic corpus sampling: keep a document iff the leading hex
    * nibble of md5(text) falls under the sample bound (p = bound/16).
    * Content-keyed (not id-keyed) so re-crawled duplicates sample
    * identically, md5-based so every engine/run draws the same subset —
    * the reproducibility property rand()-sampling can never give a
    * training pipeline.
    */
  def sampleByContent(docs: DataFrame, textCol: String, hexNibbles: String): DataFrame =
    docs.filter(substring(md5(col(textCol)), 1, 1).isin(hexNibbles.split(""): _*))

  /** Content-defined document fingerprint: md5 of the canonical
    * normalization — byte-stable across engines, the exact-dup key.
    */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** Benchmark decontamination: for every training document, the number
    * of distinct word n-grams it shares with a held-out benchmark set —
    * the standard test-set-leakage check run before training. Returns
    * (idCol, n_hits) for contaminated documents only; anti-join the
    * result to drop them.
    *
    * Shape at 100 TB: benchmark suites are small by nature, so the
    * distinct benchmark-gram set broadcasts and the probe is a
    * shuffle-free per-row filter over the training scan; only
    * (id, gram) hit rows reach the counting aggregation. Set
    * `broadcastBench = false` if the benchmark side is genuinely large.
    */
  def contaminationFlags(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 8,
                         broadcastBench: Boolean = true): DataFrame = {
    val grams = bench
      .select(explode(Dedup.shingleArray(textCol, n)).as("gram")).distinct()
    val probe = if (broadcastBench) broadcast(grams) else grams
    train.select(col(idCol), explode(Dedup.shingleArray(textCol, n)).as("gram"))
      .join(probe, Seq("gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** BM25 retrieval (Robertson/Spärck Jones) for a fixed query-term set,
    * in exact integer-rational form so ranking is engine-reproducible at
    * every tie boundary. With k1 = 6/5 and b = 3/4, the per-term score
    *
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),  avgdl = T/N
    *
    * cross-multiplies (numerator and denominator by 10·T) into the pure
    * BIGINT fraction
    *
    *   idf_milli · 22·tf·T  /  (10·tf·T + 3·T + 9·dl·N)
    *
    * where T = total corpus tokens, N = corpus docs, dl = doc tokens,
    * and idf_milli = ((N − df)·1000) div (df + 1) is the log-free
    * Robertson idf stand-in (monotone in df, zero for stopwords present
    * in every document — the same libm-avoidance rule as
    * [[termRelevance]]). Per-term scores truncate to milli units, sum
    * per document, and the global top-k breaks ties on the id.
    *
    * Shape at 100 TB: the query-term filter lands before the (doc, term)
    * aggregation so only matching tokens shuffle; dl/T/N come from one
    * map-side-combinable doc-length pass whose tiny (N, T) summary is a
    * broadcast scalar, and df for the handful of query terms broadcasts
    * too. Final top-k is a TakeOrdered, never a full sort. The stated
    * scale bound: idf_milli·22·tf·T must stay under 2^63 — at petabyte
    * corpora drop idf to centi-units or score per shard and re-rank.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 20): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val qtf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    bm25Score(qtf, dl, idCol, k)
  }

  /** The BM25 scoring tail shared by [[bm25TopK]] (tokenize-on-query)
    * and [[bm25TopKIndexed]] (serve-from-postings): takes the
    * query-term tf table (id, term, tf) and the doc-length table
    * (id, dl) and produces the exact integer-rational top-k. Corpus
    * stats (N, T) reduce from dl; df for the handful of query terms
    * reduces from qtf; both broadcast.
    */
  private def bm25Score(qtf: DataFrame, dl: DataFrame, idCol: String,
                        k: Int): DataFrame = {
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val df = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    qtf.join(broadcast(df), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("idf_milli", expr("((n_docs - df) * 1000) div (df + 1)"))
      .withColumn("term_score_milli",
        expr("(idf_milli * 22 * tf * t_tokens) div " +
          "(10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched_terms"),
        sum(col("term_score_milli")).as("score_milli"))
      .orderBy(col("score_milli").desc, col(idCol))
      .limit(k)
  }

  /** Persist the BM25 serving index: ONE tokenize pass produces the
    * (doc, term, tf) posting table; doc lengths DERIVE from it
    * (dl = Σ tf per doc), so the corpus text is read exactly once and
    * never re-tokenized at query time. Postings are clustered by term
    * (hash-repartitioned + sorted within partitions) so a query-term
    * lookup prunes parquet row groups by the term min/max stats instead
    * of scanning the full posting table; both tables append via the
    * dedup-keyed store (idempotent re-ingest), family-stamped so a
    * reader with a different tokenizer fails loudly.
    *
    * Shape at 100 TB: the store IS the scale story — tokenization cost
    * is paid once per ingested document, a query touches |terms| posting
    * ranges plus the narrow two-column doclen table, and df/N/T reduce
    * from those. Incremental growth is append-only on (doc, term).
    *
    * `batchId` is ingest bookkeeping, the same contract a streaming
    * sink's commit log gives: when set, a batch already marked committed
    * in this store is skipped WITHOUT re-reading the corpus (the
    * underlying appendDedup would absorb a replay anyway, but only after
    * paying the full tokenize — the marker makes the no-op free). Use
    * distinct ids for distinct corpus slices; None always ingests.
    *
    * CONTRACT — doc ids are immutable once ingested: the dedup keys are
    * (doc_id, term) for postings and (doc_id) for doclens, so
    * re-ingesting a doc_id whose TEXT changed would append only its new
    * terms while keeping stale tf and dl rows — a mixed-version index
    * scoring neither text. Treat a changed document as a NEW doc_id
    * (e.g. key by content hash upstream) and retire the old id by
    * rebuilding the store; this matches how immutable training-corpus
    * snapshots version documents.
    */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     storeDir: String, batchId: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    graft.operators.Sinks.requireFamily(spark, storeDir, bm25Family)
    val marker = batchId.map { id =>
      new org.apache.hadoop.fs.Path(storeDir, s"_batch_$id")
    }
    val fs = marker.map(_.getFileSystem(spark.sparkContext.hadoopConfiguration))
    if (marker.zip(fs).exists { case (m, f) => f.exists(m) }) return
    // family stamped BEFORE the appends: postings/doclens existence is
    // checked on their own subdirs, so an early stamp cannot divert an
    // append path — and a crash between the first append and a
    // stamp-last would otherwise strand a fresh store in the
    // "data but no marker" state requireFamily rejects as rebuildable.
    // With the stamp already down, EVERY partial-crash retry re-enters
    // here, passes requireFamily, and appendDedup absorbs the partials.
    graft.operators.Sinks.stampFamily(spark, storeDir, bm25Family)
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .checkpointAt("TextAnalysis.bm25Index.tf") // one tokenize pass feeds postings AND doclens
    graft.operators.Sinks.appendDedup(
      tf.repartition(col("term")).sortWithinPartitions("term", "doc_id"),
      s"$storeDir/postings", Seq("doc_id", "term"))
    graft.operators.Sinks.appendDedup(
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
      s"$storeDir/doclens", Seq("doc_id"))
    // batch marker committed LAST: a crash before this line leaves no
    // marker, so the retry re-ingests and the dedup keys absorb it
    marker.zip(fs).foreach { case (m, f) => f.create(m, true).close() }
  }

  private val bm25Family = "bm25 tokenizer=ws-lower v1"

  /** BM25 served from the persisted posting store of [[buildBm25Index]]
    * — no tokenization anywhere on the query path: query-term tf rows
    * come straight off the term-clustered posting parquet (term IN
    * filter pushed to the scan), doc lengths off the doclen table, and
    * the scoring tail is byte-identical to [[bm25TopK]]'s, so both
    * entries satisfy one oracle.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String, queryTerms: Seq[String],
                      k: Int = 20): DataFrame = {
    graft.operators.Sinks.requireFamily(spark, storeDir, bm25Family)
    val qtf = spark.read.parquet(s"$storeDir/postings")
      .filter(col("term").isin(queryTerms: _*))
    val dl = spark.read.parquet(s"$storeDir/doclens")
    bm25Score(qtf, dl, "doc_id", k)
  }

  /** CCNet-style language-model quality bucketing (Wenzek et al. 2020)
    * with an integer unigram surprisal stand-in for the KenLM
    * perplexity: each token costs `(T·1000) div cnt(token)` milli-units
    * (inverse corpus frequency — monotone in −log p, log-free so the
    * oracle reproduces it exactly), a document's perplexity proxy is the
    * truncating mean cost over its tokens, and documents split into
    * head/middle/tail TERCILES PER SOURCE by `ntile(3)` over the total
    * order (ppl, id) — the exact CCNet head/middle/tail partitioning
    * that downstream mixing weights key on. Swapping in real LM
    * log-probs changes only the per-token cost column, never the plan.
    *
    * Shape at 100 TB: one explode feeding two map-side-combinable
    * aggregations (corpus unigram counts, per-doc cost sums). The
    * unigram table carries NO broadcast hint: it is the corpus's full
    * distinct-token dictionary — web-scale corpora push it to hundreds
    * of millions of types (typos, URLs, numbers), far past driver
    * memory — so AQE broadcasts it only when its runtime size permits
    * and the cost join otherwise shuffles both sides on the term. The
    * only other wide exchange is the per-source ntile window, which
    * partitions by source — the CCNet sharding axis.
    */
  def ccnetPplBuckets(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), col(sourceCol),
      explode(tokens(col(textCol))).as("term"))
    val unigram = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = unigram.agg(sum(col("cnt")).as("t_tokens"))
    val cost = toks.join(unigram, "term")
      .crossJoin(broadcast(total))
      .select(col(idCol), col(sourceCol),
        expr("(t_tokens * 1000) div cnt").as("surprisal_milli"))
    val perDoc = cost.groupBy(col(idCol), col(sourceCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("surprisal_milli")).as("total_cost"))
      .withColumn("ppl_milli", expr("total_cost div n_tokens"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("ppl_milli"), col(idCol))
    perDoc.select(col(idCol), col(sourceCol), col("n_tokens"),
        col("ppl_milli"), ntile(3).over(w).cast("long").as("tercile"))
      .withColumn("ppl_bucket",
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle").otherwise("tail"))
  }

  /** Inverted-index build — the retrieval-side posting-list layout:
    * per term, document frequency, collection frequency, and the head
    * of the doc-id-sorted posting list (bounded, comma-joined so the
    * artifact is a flat column). The full list never materializes on
    * the driver and the head bound caps per-term payload, so a
    * stopword's posting row stays O(headLen) — at 100 TB the long tails
    * live as doc-id-sorted shards, and this is the per-shard layout
    * pass. One (doc, term) aggregation (map-side combinable) feeding
    * one per-term aggregation.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    headLen: Int = 20): DataFrame = {
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        concat_ws(",",
          transform(slice(sort_array(collect_list(col(idCol))), 1, headLen),
            _.cast("string"))).as("postings_head"))
  }

  /** The statistics pass of one BPE merge round (Sennrich et al. 2016):
    * corpus-frequency of every adjacent character pair inside words,
    * plus the distinct-word support. A tokenizer trainer takes the
    * argmax pair, merges it, and repeats; each round is exactly this
    * aggregation over the re-segmented corpus, so this is the
    * distributed inner loop of BPE training. [[bpeMergeRounds]] drives
    * the full loop.
    *
    * Shape at 100 TB: one explode (word → its ≤ len−1 pairs, narrow per
    * row) into one aggregation; the occurrence count is map-side
    * combinable and the distinct-word support is a bounded two-level
    * aggregate (pair, word) → pair. Vocabulary of pairs is alphabet²,
    * tiny. The standard production shortcut — pre-aggregate to (word,
    * count) once and weight pairs by word count — changes the input
    * table, not this plan.
    */
  def bpePairStats(docs: DataFrame, textCol: String): DataFrame = {
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("w"),
        explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("w")).as("n_words"))
  }

  /** Full BPE training loop over [[bpePairStats]]-shaped rounds: start
    * from the character segmentation of every distinct word (weighted by
    * corpus frequency), and for `rounds` iterations merge the globally
    * most frequent adjacent symbol pair (ties to the lexicographically
    * smallest pair). Returns the ordered merge table (round, pair,
    * frequency at merge time) — the tokenizer model artifact.
    *
    * The distinct-word working set is Zipf-bounded (vocabulary, not
    * corpus, scale) so the per-round re-segmentation is a narrow map
    * over it; only the pair-count aggregate (alphabet²-bounded) and the
    * single argmax row move between rounds. The argmax collect is one
    * row per round — bounded by construction, the same driver-probe
    * budget as the Lloyd codebooks.
    *
    * `maxVocab` bounds the working set at web-corpus scale: when the
    * distinct-word table exceeds it, training keeps the `maxVocab` most
    * FREQUENT words (ties to the lexicographically smallest — fully
    * deterministic) and logs exactly what was dropped. This is the
    * standard production trainer move (SentencePiece/HF trainers cap
    * their word tables the same way): the dropped tail is the Zipf
    * long-tail whose pair mass is negligible by construction, and the
    * cap turns every round's re-segmentation cost from
    * O(distinct words) into O(maxVocab) — rounds × full-corpus passes
    * never happens. The default never triggers below 2²⁰ distinct
    * words, so small-corpus merge tables are bit-identical to the
    * uncapped trainer.
    */
  def bpeMergeRounds(docs: DataFrame, textCol: String,
                     rounds: Int, maxVocab: Int = 1 << 20): DataFrame = {
    import docs.sparkSession.implicits._
    require(maxVocab > 0, "maxVocab must be positive")
    // vocabulary with corpus frequency — the classical BPE working set
    val fullVocab = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .checkpointAt("TextAnalysis.bpe.fullVocab")
    val vocabSize = fullVocab.count()
    val working =
      if (vocabSize <= maxVocab) fullVocab
      else {
        // no silent caps: say what was dropped and by which rule
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bpeMergeRounds: capping working vocabulary $vocabSize -> " +
          s"$maxVocab most frequent words (ties lexicographic); " +
          s"${vocabSize - maxVocab} Zipf-tail words excluded from pair counts")
        fullVocab.orderBy(col("n").desc, col("w")).limit(maxVocab)
      }
    var segmented = working
      .select(split(col("w"), "").as("syms"), col("n"))
      .checkpointAt("TextAnalysis.bpe.segmented0")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val best = segmented
        // fully-merged single-symbol words contribute no pairs (and
        // sequence(1, 0) would DESCEND under the default step rule)
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(syms[i-1] as l, syms[i] as r))")).as("p"),
          col("n"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("n")).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1)
        .as[(String, String, Long)].collect()
      if (best.isEmpty) done = true
      else {
        val (l, r, freq) = best.head
        merges += ((round, l + r, freq))
        // re-segment: greedy left-to-right merge of the chosen pair
        val next = segmented.select(expr(
          s"""aggregate(syms,
             |  named_struct('acc', cast(array() as array<string>),
             |               'fused', false),
             |  (st, s) -> IF(NOT st.fused AND size(st.acc) > 0
             |                AND element_at(st.acc, -1) = ${sqlStr(l)}
             |                AND s = ${sqlStr(r)},
             |    named_struct('acc', concat(slice(st.acc, 1, size(st.acc) - 1),
             |                   array(element_at(st.acc, -1) || s)),
             |                 'fused', true),
             |    named_struct('acc', concat(st.acc, array(s)),
             |                 'fused', false)),
             |  st -> st.acc)""".stripMargin).as("syms"), col("n"))
          .checkpointAt("TextAnalysis.bpe.segmentedRound")
        segmented.unpersist()
        segmented = next
        round += 1
      }
    }
    segmented.unpersist()
    fullVocab.unpersist()
    docs.sparkSession.createDataFrame(merges.toSeq)
      .toDF("round", "pair", "freq")
  }

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Tokenizer APPLY: run an ordered BPE merge table over the corpus
    * and emit the resulting subword vocabulary statistics (token,
    * occurrence count, distinct-word support) — the inference half of
    * [[bpeMergeRounds]]'s training loop, the pass that prices "how does
    * this merge table tokenize my corpus".
    *
    * Words are segmented to characters with DOUBLE-space separators and
    * each merge `(l, r)` is one literal `replace(" l  r " → " lr ")`:
    * every match consumes one space from each flanking pair, so matches
    * can never overlap and any engine's scan-original, non-overlapping
    * replace semantics produce the identical greedy left-to-right merge
    * — the property that makes the whole chain a deterministic,
    * codegen'd column expression both engines agree on bit-for-bit
    * (single-space separators would make consecutive matches share a
    * boundary space, where engines' restart positions diverge).
    *
    * Shape at 100 TB: the merge chain is a per-row expression — the
    * scan stays narrow and shuffle-free; the only exchange is the final
    * map-side-combinable vocabulary aggregate, bounded by subword
    * vocabulary (Zipf) scale, with the distinct-word support a bounded
    * two-level aggregate.
    */
  def bpeEncode(docs: DataFrame, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need at least one merge")
    require(merges.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty && !l.contains(' ') && !r.contains(' ') },
      "merge symbols must be non-empty and space-free")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
    val charSep = concat(lit("  "),
      regexp_replace(col("w"), "(.)", "$1  "))
    val merged = merges.foldLeft(charSep) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(s" $l  $r "), lit(s" $l$r "))
    }
    words
      .select(col("w"), explode(split(trim(merged), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("w")).as("n_words"))
  }

  /** Document-level token co-occurrence with PMI-style lift, in exact
    * integer-rational milli units — the collocation/association pass
    * (pointwise mutual information's monotone log-free core):
    *
    *   lift(a, b) = P(a,b) / (P(a)·P(b))
    *              = n_ab · N / (n_a · n_b)   (document frequencies)
    *
    * emitted as `(n_ab · N · 1000) div (n_a · n_b)`. Pairs are DISTINCT
    * tokens per document (presence, not token count), canonical a < b,
    * pruned by `minSupport` co-occurring documents.
    *
    * Shape at 100 TB: the per-doc distinct-token explode self-joins
    * INSIDE the document only (bounded by per-doc vocabulary²), then
    * one map-side-combinable pair count. The unary document-frequency
    * table re-joins WITHOUT a broadcast hint: it is the corpus token
    * dictionary — vocabulary-scale, which at web scale exceeds driver
    * memory — so AQE broadcasts it only when its runtime size permits
    * and otherwise both re-joins shuffle on the term key (the pair
    * table is already minSupport-pruned by then, so the shuffled side
    * is the filtered survivor set, not the raw pair stream).
    */
  def cooccurrenceLift(docs: DataFrame, idCol: String, textCol: String,
                       minSupport: Long = 2L): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val dfTbl = toks.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    val pairs = toks.alias("a").join(toks.alias("b"),
        col(s"a.$idCol") === col(s"b.$idCol") &&
          col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(dfTbl.select(col("term").as("term_a"),
        col("n_t").as("n_a")), "term_a")
      .join(dfTbl.select(col("term").as("term_b"),
        col("n_t").as("n_b")), "term_b")
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_milli",
        expr("(n_ab * n_docs * 1000) div (n_a * n_b)"))
      .select("term_a", "term_b", "n_ab", "n_a", "n_b", "lift_milli")
  }

  /** Unsmoothed bigram language model in exact milli units: for every
    * adjacent word pair, the conditional probability estimate
    * `P(w2|w1) = count(w1 w2) / count(w1 ·)` as
    * `(n_12 · 1000) div n_1ctx`, where the context count n_1ctx counts
    * w1 as a bigram HEAD (not raw unigrams — the final token of a
    * document heads nothing, the standard LM bookkeeping). Adjacent
    * pairs come from one narrow per-row transform — no positional
    * self-join, no shuffle of the corpus — feeding one
    * map-side-combinable aggregation; context totals are a WINDOW SUM
    * over the aggregated bigram table (vocabulary-scale), not a second
    * aggregation of the corpus subtree, which would duplicate the whole
    * tokenize-and-explode scan in the plan.
    */
  def bigramLm(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__t) - 1)," +
          " i -> struct(__t[i-1] as w1, __t[i] as w2))")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_12"))
      .withColumn("n_1ctx",
        sum(col("n_12")).over(Window.partitionBy(col("w1"))))
      .withColumn("p_milli", expr("(n_12 * 1000) div n_1ctx"))
      .select("w1", "w2", "n_12", "n_1ctx", "p_milli")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) as a
    * composition of engine primitives: adjacent-token cooccurrence
    * edges (window 2, canonicalized, distinct, undirected) feed
    * [[graft.operators.Graph.pageRankScaled]]'s integer rounds, and
    * the top `topK` words by (rank_scaled desc, word) come back —
    * corpus-level salient vocabulary with zero training state. Every
    * step is already engine-exact (token split, distinct edge set,
    * integer PageRank, deterministic tie-break), so the composite
    * oracles end to end.
    *
    * Scale shape: the token stream shuffles once for the per-doc
    * adjacency window (carrying (doc, pos, token) — never full text),
    * the edge set dedups map-side, and the rank rounds are edge-linear;
    * the final top-k is an ordered LIMIT (TakeOrdered), not a global
    * sort.
    */
  def textrankKeywords(docs: DataFrame, idCol: String, textCol: String,
                       iterations: Int = 3, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val pairs = toks
      .withColumn("w2", lead(col("w"), 1).over(byDoc))
      .filter(col("w2").isNotNull && col("w") =!= col("w2"))
    val canon = pairs
      .select(least(col("w"), col("w2")).as("u"),
        greatest(col("w"), col("w2")).as("v"))
      .distinct()
    val edges = canon.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(canon.select(col("v").as("src"), col("u").as("dst")))
    val nodes = toks.select(col("w").as("node")).distinct()
    graft.operators.Graph.pageRankScaled(edges, nodes, iterations)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(topK)
      .select(col("node").as("word"), col("rank_scaled"))
  }
}
