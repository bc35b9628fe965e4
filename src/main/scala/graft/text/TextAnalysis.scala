package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID (n-gram /
  * stopword heuristic), quality scoring, token counting, document
  * fingerprinting. Pure column expressions — whole-stage-codegen'd, no UDFs,
  * embarrassingly parallel (no shuffle at all). */
object TextAnalysis {

  /** Minimal per-language stopword lists for the heuristic language
    * identifier. Deliberately tiny and deterministic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "pas", "pour", "que", "dans"))

  private def words(textCol: Column): Column = split(textCol, " ")

  /** Stopword hit count (WITH multiplicity). The HOF filter/isin form IS
    * the implementation: an equivalent one-regex-scan-per-language rewrite
    * (the r13 gopherRules recipe, `(?:^| )(?:w1|w2|…)(?= |$)`) was tried
    * and REVERTED on measurement — 9-iter same-host A/B, sf0.1: t1_langid
    * 0.36 → 0.48 s (+33%); a 10-alternative backtracking scan × 4
    * languages costs more per row than the CodegenFallback HOF does here
    * (gopherRules' signals, where the rewrite DID pay 2×, are
    * literal-replace counts and a single-class regex, not a word-list
    * alternation). The differential spec keeps BOTH forms row-identical
    * so the trade can be revisited with data. */
  private def stopwordHits(textCol: Column, lang: String): Column =
    stopwordHitsHof(textCol, lang)

  /** The HOF (filter/isin) definition — also the differential oracle for
    * [[stopwordHitsRegex]]. */
  private[text] def stopwordHitsHof(textCol: Column, lang: String): Column =
    size(filter(words(textCol), w => w.isin(stopwords(lang): _*)))

  /** The regex form, kept measurable: one `regexp_count` scan per
    * language; `(?:^| )` anchors the token start, the lookahead `(?= |$)`
    * its end WITHOUT consuming the boundary space, so adjacent stopwords
    * ("the a") both count and multiplicity is preserved. */
  private[text] def stopwordHitsRegex(textCol: Column, lang: String): Column =
    regexp_count(textCol,
      lit(s"(?:^| )(?:${stopwords(lang).mkString("|")})(?= |$$)"))

  /** Heuristic language ID: highest stopword-hit count wins (alphabetical
    * tie-break via the comparison order); 'und' (undetermined) when no list
    * matches at all. */
  def languageId(textCol: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val hits = langs.map(l => stopwordHits(textCol, l))
    val best = hits.reduce((a, b) => greatest(a, b))
    val pick = langs.zip(hits).foldRight(lit("und"): Column) { case ((l, h), acc) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
    // nested whens in foldRight order ⇒ alphabetically-first language wins ties
    pick
  }

  /** Quality-scoring feature set: length, word stats, punctuation/digit
    * ratios, stopword ratio, plus a composite keep/drop flag with the usual
    * training-data heuristics (C4-style length + symbol filters). */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    // NULL text scores as empty (all features definite, keep = false) —
    // the repo-wide convention (wordRarity, Bm25, LanguageModel): a NULL
    // keep flag fails BOTH `filter(keep)` and `filter(!keep)`, so the row
    // would vanish from both sides of a quality gate
    val t = coalesce(col(textCol), lit(""))
    val ws = words(t)
    val nWords = size(ws)
    val nChars = length(t)
    val enHits = stopwordHits(t, "en")
    df.withColumn("n_chars", nChars.cast("long"))
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("avg_word_len",
        round((nChars - (nWords - lit(1))).cast("double") / nWords, 6))
      .withColumn("uniq_word_ratio",
        round(size(array_distinct(ws)).cast("double") / nWords, 6))
      // nChars = 0 (an empty-string doc — paragraphDedup produces them)
      // must score 0.0, not throw ANSI DIVIDE_BY_ZERO
      .withColumn("digit_ratio",
        when(nChars > 0,
          round(size(regexp_extract_all(t, lit("[0-9]"), lit(0))).cast("double") / nChars, 6))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio", round(enHits.cast("double") / nWords, 6))
      .withColumn("quality_keep",
        nWords >= 5 && nWords <= 100000 && col("avg_word_len") >= 2
          && col("avg_word_len") <= 15 && col("uniq_word_ratio") > 0.1)
  }

  /** The published Gopher/MassiveText quality-rule bundle (Rae et al.
    * 2021, Table A1 — the rule set RedPajama-v2 ships as quality
    * signals), complementing [[qualityFeatures]]'s C4-style heuristics:
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio
    * (# and ...), bullet-start and ellipsis-end LINE ratios,
    * alphabetic-word ratio, the required-stopword rule (>= 2 of the 8
    * Gopher stopwords present), plus the duplicate-line fraction from the
    * repetition rules. Every signal is an in-row columnar expression —
    * zero exchanges — and since r13 every signal is CODEGEN-FRIENDLY: the
    * original higher-order filter() signals were CodegenFallback in Spark
    * 4.1 (interpreted per row) and a 10×-data A/B measured
    * the interpreted pass at ~2× the cost of the equivalent
    * literal-replace/regex forms, so line ratios count boundary needles
    * ("\n•", "...\n") by replace length-diff, the alpha ratio is one
    * whole-text regex scan over space-bounded tokens ([^ ] deliberately
    * matches \n — tokens split on SINGLE SPACES, the t3/t6 convention, so
    * "x...\ny" is one word), and stopword hits sum eight codegen'd
    * array_contains terms. TextAnalysisSpec pins the rewrite row-identical
    * to the HOF forms on fixture + adversarial rows. Every ratio is emitted at
    * round-6 with `gopher_keep` computed from the ROUNDED values, so the
    * keep decision is reproducible cross-engine (the d5/t16 posture).
    * Lines split on \n; words on single spaces. */
  def gopherRules(df: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
      maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
      minStopwords: Int = 2, maxDupLineRatio: Double = 0.3): DataFrame = {
    // NULL text evaluates as empty — definite signals, gopher_keep = false
    // (never NULL: a NULL flag fails filter(keep) AND filter(!keep), so
    // keep + drop would no longer partition the corpus)
    val t = coalesce(col(textCol), lit(""))
    val ws = words(t)
    val nWords = size(ws)
    val lines = split(t, "\n")
    val nLines = size(lines)
    // occurrence counts by length difference after LITERAL removal —
    // regex-free, so Java/RE2 semantics cannot diverge
    val nHash = length(t) - length(replace(t, lit("#"), lit("")))
    val nEllipsis = (length(t) - length(replace(t, lit("..."), lit("")))) / 3
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // non-overlapping needle counts by length difference after literal
    // removal — the same trick as the symbol counts, extended to LINE
    // boundaries: "\n•" occurrences = lines 2..n starting with •, plus the
    // first line checked directly (needles are mutually exclusive per
    // position, so the sum never double-counts)
    def occurrences(needle: String): Column =
      (length(t) - length(replace(t, lit(needle), lit("")))) / needle.length
    val bulletStarts = occurrences("\n•") + occurrences("\n- ") +
      when(t.startsWith("•") || t.startsWith("- "), 1).otherwise(0)
    val ellipsisEnds = occurrences("...\n") +
      when(t.endsWith("..."), 1).otherwise(0)
    // words containing a letter, in ONE whole-text regex scan over
    // space-padded text. [^ ] deliberately matches \n: words split on
    // SINGLE SPACES (the t3/t6 convention), so a newline-embedded token
    // like "x...\ny" is ONE word — normalizing \n first would silently
    // double-count it (TextAnalysisSpec pins the equivalence on adversarial
    // rows the fixture's vocabulary cannot produce)
    val alphaWords = size(regexp_extract_all(
      concat(lit(" "), t, lit(" ")), lit(" [^ ]*[A-Za-z][^ ]*(?= )"), lit(0)))
    df.withColumn("n_words", nWords.cast("long"))
      .withColumn("mean_word_len",
        round((length(t) - (nWords - lit(1))).cast("double") / nWords, 6))
      .withColumn("symbol_ratio",
        round((nHash + nEllipsis).cast("double") / nWords, 6))
      .withColumn("bullet_ratio",
        round(bulletStarts.cast("double") / nLines, 6))
      .withColumn("ellipsis_ratio",
        round(ellipsisEnds.cast("double") / nLines, 6))
      .withColumn("alpha_ratio", round(alphaWords.cast("double") / nWords, 6))
      .withColumn("stopword_hits",
        stops.map(s => array_contains(ws, s).cast("long")).reduce(_ + _))
      .withColumn("dup_line_ratio", round(lit(1.0) -
        size(array_distinct(lines)).cast("double") / nLines, 6))
      .withColumn("gopher_keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_ratio") <= maxBulletRatio &&
          col("ellipsis_ratio") <= maxEllipsisRatio &&
          col("alpha_ratio") >= minAlphaRatio &&
          col("stopword_hits") >= minStopwords &&
          col("dup_line_ratio") <= maxDupLineRatio)
  }

  /** Token counts: exact whitespace tokens + a BPE-ish estimate
    * (chars/4, the standard subword-token rule of thumb). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens_ws", size(words(col(textCol))).cast("long"))
      .withColumn("n_tokens_bpe", ceil(length(col(textCol)) / lit(4.0)).cast("long"))

  /** Normalized content fingerprint: md5 of lowercased, whitespace-collapsed
    * text — the exact-dedup key robust to casing/spacing noise. */
  /** Repetition scoring (the Gopher-style repetition filters): the most
    * frequent word n-gram per document and the fraction of the document's
    * n-grams it occupies — high fractions indicate boilerplate/spam. Ties
    * break lexicographically (smallest gram) for determinism.
    *
    * ZERO-SHUFFLE shape: the whole computation is per-document, so it runs
    * in-row — sort the gram array, then one linear scan finds the longest
    * run of equal neighbors (= the modal gram). O(L log L) per doc, so a
    * pathological 100k-gram spam page costs a sort, not the O(L²)
    * distinct×count matrix a naive in-row version pays. The previous
    * explode → groupBy(doc, gram) → two-window shape paid two shuffles of
    * corpus-sized exploded rows for the same result; this version is
    * partition-local end-to-end. Strict `>` on the run comparison keeps the
    * FIRST maximal run — the lexicographically smallest gram, matching the
    * oracle's tie-break. */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    val ws = split(col(textCol), " ")
    // FULL windows only (the d10/d16 convention): a doc shorter than n
    // words has no n-grams and emits NO row — the earlier greatest(...)
    // clamp emitted its truncated word run as a single "gram", scoring
    // every short doc maximally repetitive (top_fraction 1.0), which a
    // Gopher-style repetition filter then drops as boilerplate
    val starts = when(size(ws) >= n, sequence(lit(0), size(ws) - n))
      .otherwise(array().cast("array<int>"))
    val grams0 = transform(starts, i => concat_ws(" ", slice(ws, i + 1, lit(n))))
    val grams = filter(grams0, g => length(g) > 0)
    df.select(col(idCol), grams.as("__gs"))
      .filter(size(col("__gs")) > 0)
      .withColumn("__top", expr(
        """aggregate(sort_array(__gs),
          |  named_struct('prev', cast(null as string), 'run', cast(0 as bigint),
          |               'best', cast(0 as bigint), 'bestg', cast(null as string)),
          |  (a, g) -> named_struct(
          |    'prev', g,
          |    'run', if(g <=> a.prev, a.run + 1, cast(1 as bigint)),
          |    'best', if(if(g <=> a.prev, a.run + 1, cast(1 as bigint)) > a.best,
          |               if(g <=> a.prev, a.run + 1, cast(1 as bigint)), a.best),
          |    'bestg', if(if(g <=> a.prev, a.run + 1, cast(1 as bigint)) > a.best,
          |                g, a.bestg)))""".stripMargin))
      .select(col(idCol), col("__top.bestg").as("top_gram"),
        col("__top.best").as("top_count"),
        round(col("__top.best") / size(col("__gs")), 6).as("top_fraction"))
  }

  /** Split documents into fixed-size character chunks with overlap — the
    * context-window packing step of a training-data pipeline. Chunk i covers
    * `[i*stride, i*stride + chunkChars)` with `stride = chunkChars -
    * overlapChars`; the final chunk may run short. Pure per-row expressions
    * (sequence + substr) — shuffle-free fan-out. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, overlapChars: Int): DataFrame = {
    require(overlapChars >= 0 && overlapChars < chunkChars,
      "need 0 <= overlap < chunk size")
    val stride = chunkChars - overlapChars
    val len = length(col(textCol))
    val nChunks = greatest(
      ceil((len - lit(overlapChars)).cast("double") / stride).cast("int"), lit(1))
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => col(textCol).substr(i * stride + 1, lit(chunkChars)))))
      .select(col(idCol), col("pos").as("chunk_idx"), col("col").as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")))
  }

  /** Corpus-statistics word-rarity scoring — the cheap, self-contained
    * stand-in for the CCNet-style LM perplexity filter (the external KenLM
    * model is environment-bound): the corpus's own unigram counts score
    * each document. Returns per doc: `n_words`, `sum_freq` (sum of each
    * word occurrence's global corpus count — an exact integer, so the score
    * reproduces bit-for-bit in any engine; a float mean-of-logs would be
    * summation-order-dependent), `mean_freq = sum_freq / n_words`, and
    * `rare_ratio` = fraction of word occurrences whose corpus count ≤
    * `rareThreshold` (hapax/near-hapax density — high values flag OCR
    * noise, codes, gibberish; very low values flag boilerplate).
    *
    * Scale shape: one exploded-word aggregation builds the vocabulary
    * (map-side combines collapse each partition to its local vocab first),
    * one join of occurrences against the vocabulary keyed on the word
    * (AQE's skew split handles the hot-stopword keys), one per-doc
    * aggregation. The vocabulary is Zipf-bounded — far smaller than the
    * corpus — and never collected to the driver.
    *
    * Resource note: the exploded-token frame is cached (vocab agg +
    * occurrence join) and stays resident after the result materializes —
    * same `clearCache()` lifecycle as
    * [[graft.dedup.Dedup.incrementalNearDup]] for per-batch loops. */
  def wordRarity(df: DataFrame, idCol: String, textCol: String,
      rareThreshold: Long = 2): DataFrame = {
    require(rareThreshold >= 1, s"rareThreshold must be >= 1, got $rareThreshold")
    // cached: toks feeds both the vocabulary aggregation and the occurrence
    // join — uncached, the corpus-wide word explode would execute twice
    val toks = df.select(col(idCol), explode(split(coalesce(col(textCol), lit("")), " "))
        .as("__w"))
      .filter(length(col("__w")) > 0)
      .cache()
    val vocab = toks.groupBy(col("__w")).agg(count(lit(1)).as("__cnt"))
    val scored = toks.join(vocab, Seq("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__cnt")).as("sum_freq"),
        sum(when(col("__cnt") <= rareThreshold, 1L).otherwise(0L)).as("n_rare"))
    // a corpus row must never silently vanish from scoring (the repo-wide
    // Bm25/NaiveBayes/LanguageModel/Dsir convention): NULL/empty/all-space
    // docs have no tokens and no aggregate row — re-attach them zero-filled
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("mean_freq",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(round(col("sum_freq").cast("double") / col("n_words"), 6)))
      .withColumn("rare_ratio",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_rare").cast("double") / col("n_words"), 6)))
  }

  /** HTML → text extraction — the boilerplate-strip step between a WARC
    * `response` record and the `documents` table (the full-fat versions
    * are jusText/trafilatura; this is the deterministic columnar core:
    * script/style/comment removal, tag strip, the five predefined XML
    * entities, whitespace collapse). Built STRICTLY from operations with
    * identical semantics in Java regex and RE2 so the t14 oracle can
    * recompute it in DuckDB hash-exactly: non-greedy quantifiers and
    * `(?is)` flags only (no backreferences — RE2 has none), an explicit
    * whitespace class (Java's `\s` includes VT, RE2's does not), and
    * literal `replace` for entities (`&amp;` LAST, the usual one-pass
    * simplification — `&amp;lt;` decodes to `&lt;` not `<`, documented).
    * Numeric character references are out of scope (would need eval).
    * One residual engine nuance: `(?i)` folds ASCII in Java but Unicode
    * in RE2, so an exotic tag spelling like `<ſcript>` (U+017F folds to
    * 's') diverges — unreachable through the t14/c13 gates, whose only
    * tags are the fixed ASCII shell (corpus text is entity-escaped). */
  def htmlToText(textCol: Column): Column = {
    val noScript = regexp_replace(textCol, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, v)) =>
      call_function("replace", c, lit(e), lit(v)) }
    trim(regexp_replace(decoded, "[ \t\n\r\f]+", " "))
  }

  def fingerprint(textCol: Column): Column =
    md5(lower(trim(regexp_replace(textCol, "\\s+", " "))))

  /** PII-style redaction: emails, long digit runs (phone/account numbers),
    * and IPv4 literals replaced with typed placeholder tokens. Pure
    * regexp_replace chain — codegen'd, shuffle-free. */
  def redact(textCol: Column): Column = {
    val email = regexp_replace(textCol,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\d{7,}", "<NUM>")
  }

  /** Token-budget sequence packing (training-shard assignment): within each
    * `groupCol` group, documents in `idCol` order fill fixed token-budget
    * shards CONTIGUOUSLY — a document is assigned the shard its first token
    * lands in (`floor(tokens_before / budget)`). Documents are never split,
    * so a shard's total may overhang the budget by at most its last
    * document's tail; that is the streaming-friendly packing a sequential
    * shard writer produces, and it keeps the assignment a pure prefix-sum.
    *
    * 100 TB shape: ONE window partitioned by the grouping column (domain /
    * source) — a hash shuffle, then per-group running sums in parallel.
    * Deliberately NOT a global `orderBy` window, which would funnel the
    * corpus through a single task; global packing at scale is group-packing
    * over a bucketed key. Token counts use the BPE-ish chars/4 estimate
    * (see [[tokenCounts]]). */
  def packing(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(idCol)
    df.withColumn("n_tok", ceil(length(col(textCol)) / lit(4.0)).cast("long"))
      .withColumn("shard",
        floor((sum(col("n_tok")).over(w) - col("n_tok"))
          / lit(budgetTokens.toDouble)).cast("long"))
  }

  /** The MATERIALIZATION half of [[packing]]: each (group, shard) becomes
    * one training sequence — member docs concatenated in id order with a
    * separator token between them (the writer-side step that turns shard
    * assignments into actual model inputs). Returns one row per shard:
    * `(groupCol, shard, packed_text, n_docs, sum_tok)`.
    *
    * Determinism without a sort exchange: members collect per shard
    * (hash-partitioned groupBy — shards are budget-bounded, so a
    * collected shard is small by construction) and order INSIDE the row
    * via `array_sort` on (id, text) structs before joining — the same
    * one-exchange shape as packing itself, no global orderBy. */
  def packConcat(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgetTokens: Long,
      separator: String = " <eos> "): DataFrame =
    packing(df, idCol, textCol, groupCol, budgetTokens)
      .groupBy(col(groupCol), col("shard"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col(idCol).as("i"), col(textCol).as("t")))),
          s => s.getField("t")), separator).as("packed_text"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"))
}
