package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.TrackedCache.TrackedDataset

/** Text-analysis operators for training-data pipelines (north-star surface).
  * All pure built-in expressions — fully codegen'd, no UDFs, so they stay
  * inside whole-stage codegen at 100 TB.
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** Unicode NFC canonicalization (UAX #15) — native codegen expression;
    * the byte-level precondition of every hash-keyed operator in this
    * engine (the same visible text arrives precomposed OR decomposed, and
    * md5/fingerprint/gram hashes see different documents until the corpus
    * is normalized). SQL surface: `graft_nfc`. */
  def nfc(c: Column): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn.of(graft.expressions.UnicodeNormalize(GraftColumn.expr(c), "NFC"))
  }

  /** NFKC compatibility normalization: like [[nfc]] but also folds
    * compatibility equivalents (ligatures ﬁ→fi, fullwidth Ａ→A, ℕ→N) —
    * the aggressive form a tokenizer-training corpus wants. SQL:
    * `graft_nfkc`. */
  def nfkc(c: Column): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn.of(graft.expressions.UnicodeNormalize(GraftColumn.expr(c), "NFKC"))
  }

  /** Accent folding: NFD-decompose then drop combining marks (é→e, ü→u,
    * ñ→n); characters with no canonical decomposition (ø, æ) pass through.
    * SQL: `graft_strip_accents`; agrees with DuckDB's `strip_accents` on
    * Latin diacritics (pinned by q161). */
  def stripAccents(c: Column): Column = {
    import org.apache.spark.sql.GraftColumn
    GraftColumn.of(graft.expressions.StripAccents(GraftColumn.expr(c)))
  }

  /** Canonical dedup key: NFC → lowercase → accent-fold → whitespace
    * collapse + trim. The standard "same text, different bytes" equivalence
    * for exact dedup and cross-source joins — one zero-shuffle codegen
    * projection; feed the result to `Dedup.exactByContent` or `md5`. */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(stripAccents(lower(nfc(c))), "\\s+", " "))

  /** Top-k PMI collocations (pointwise mutual information over adjacent
    * word pairs — Church & Hanks 1990, the standard collocation statistic):
    * rank bigrams by `p(x,y)/(p(x)p(y)) = c_xy·N / (c_x·c_y)`, the
    * monotone image of PMI that needs NO logarithm — the ratio is three
    * correctly-rounded double ops over exact integer counts, so the
    * ranking hashes identically cross-engine where `log` would not. The
    * `minCount` floor is the classic guard against rare-pair PMI blow-up.
    * Output: (w1, w2, cxy, c1, c2, pmi_ratio), top-k by (ratio desc,
    * pair asc).
    *
    * Scale shape: one token explode + one adjacent-pair explode, each
    * collapsing through partial aggregation to vocabulary-sized counts;
    * the pair⋈unigram joins run post-aggregation (vocab-sized, Catalyst
    * broadcasts the unigram side); the top-k is TakeOrdered, never a full
    * sort. */
  def collocations(df: DataFrame, textCol: String,
      topK: Int, minCount: Long = 5): DataFrame = {
    require(topK >= 1 && minCount >= 1, s"bad topK=$topK / minCount=$minCount")
    val toks = split(col(textCol), " ")
    val uni = df.select(explode(toks).as("w")).where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").as("n"))
    val pairs = df.select(toks.as("__t1"))
      .select(col("__t1"), slice(col("__t1"), lit(2), size(col("__t1"))).as("__t2"))
      .select(explode(arrays_zip(col("__t1"), col("__t2"))).as("__p"))
      .select(col("__p.__t1").as("w1"), col("__p.__t2").as("w2"))
      .where(col("w1") =!= "" && col("w2") =!= "" && col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .where(col("cxy") >= minCount)
    val scored = pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("cxy"), col("c1"), col("c2"),
        ((col("cxy").cast("double") * col("n").cast("double"))
          / (col("c1").cast("double") * col("c2").cast("double"))).as("pmi_ratio"))
    graft.ops.TopK.global(scored, topK,
      Seq(col("pmi_ratio").desc, col("w1").asc, col("w2").asc))
  }

  /** Token frequency spectrum (counts of counts): for each occurrence
    * count, how many distinct word TYPES occur exactly that often — the
    * Zipf/heaps-law diagnostic a corpus profile reads before sizing
    * vocabularies and dedup thresholds. Two keyed aggregations, both
    * collapsing to bounded frames (vocab, then |distinct counts|). */
  def frequencySpectrum(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w")).where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("__c"))
      .groupBy(col("__c").as("occurrences")).agg(count(lit(1)).as("n_types"))

  /** Two-level public suffixes the [[registeredDomain]] heuristic keeps a
    * third label for — the high-traffic subset of the public-suffix list
    * (country-code second-level domains); callers with exotic zones pass
    * their own. */
  val DefaultTwoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "co.kr", "co.in",
    "com.au", "com.br", "com.cn", "com.mx", "co.za")

  /** Registered (apex) domain of a hostname: strip a leading `www.`, keep
    * the last two labels — or three when the two-label tail is a known
    * two-level public suffix (`a.b.co.uk` → `b.co.uk`, not `co.uk`). The
    * key for domain-level corpus policy: blocklists, per-site caps, and
    * domain mixture stats all group by THIS, never raw hostnames (every
    * subdomain would be its own group). Zero-shuffle codegen projection. */
  def registeredDomain(host: Column,
      twoLevelSuffixes: Seq[String] = DefaultTwoLevelSuffixes): Column = {
    val h = regexp_replace(host, "^www\\.", "")
    val parts = split(h, "\\.")
    val last2 = concat_ws(".", slice(parts, -2, 2))
    val last3 = concat_ws(".", slice(parts, -3, 3))
    when(size(parts) >= 3 && last2.isin(twoLevelSuffixes: _*), last3)
      .when(size(parts) >= 2, last2)
      .otherwise(h)
  }

  /** Domain blocklist gate (UT1/RefinedWeb-style URL filtering): keep only
    * rows whose [[registeredDomain]] is NOT in `blocked`. The blocklist
    * rides the filter as a literal IN set for the ≤hundreds case; for a
    * real million-domain blocklist join a broadcast table instead — both
    * shapes are map-side on the corpus. */
  def domainBlocklistFilter(df: DataFrame, hostCol: String,
      blocked: Seq[String]): DataFrame =
    df.where(!registeredDomain(col(hostCol)).isin(blocked: _*))

  /** Token-window document chunking — the context-window prep of a RAG /
    * embedding pipeline: doc text splits into overlapping windows of
    * `chunkTokens` whitespace tokens with `overlapTokens` shared between
    * consecutive chunks (stride = chunk − overlap). Chunk i starts at token
    * i·stride; the chunk count is the exact integer
    * `max(1, ceil((n − overlap) / stride))`, so the final window reaches the
    * last token and no fully-redundant tail window is emitted. Output:
    * (id, chunk_id, chunk_text, n_tokens), one row per chunk.
    *
    * Scale shape: split → `explode(sequence)` → slice/join, ALL map-side —
    * zero shuffles, zero UDFs; the only data growth is the overlap
    * duplication itself (n/stride · overlap tokens). Chunk ordering within a
    * doc is positional, so downstream per-chunk embedding jobs partition by
    * (id, chunk_id) deterministically. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlapTokens < chunkTokens, got $overlapTokens/$chunkTokens")
    val stride = chunkTokens - overlapTokens
    val toks = split(col(textCol), " ")
    val n = size(toks).cast("long")
    // integer ceil: (n - overlap + stride - 1) div stride, floored at 1
    // (double division + floor is exact here: token counts are far below
    // 2^52, where every integer is representable)
    val nChunks = greatest(lit(1L),
      floor((n - overlapTokens + (stride - 1)) / stride).cast("long"))
    val piece = slice(col("__toks"), col("chunk_id") * stride + 1, lit(chunkTokens))
    df.select(col(idCol), toks.as("__toks"), nChunks.cast("int").as("__nc"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        array_join(piece, " ").as("chunk_text"),
        size(piece).cast("long").as("n_tokens"))
  }

  /** HTML → text extraction — the first transform of any web-crawl corpus
    * (WET-style plain text out of raw markup). Deterministic regex pipeline,
    * one zero-shuffle codegen projection:
    *   1. `<script>`/`<style>` elements drop WITH their contents (code and
    *      CSS are not corpus text), then HTML comments;
    *   2. every remaining tag becomes a space (block boundaries must not
    *      glue words: `<p>a</p><p>b</p>` → "a b", never "ab");
    *   3. the 6 universally-encoded named entities decode, `&amp;` LAST —
    *      decoding it first would double-decode `&amp;lt;` into `<`.
    *      Numeric character references stay verbatim (a regex replace
    *      cannot compute a codepoint; real corpus text rarely carries
    *      them — the full general decode belongs to a decoder UDF);
    *   4. whitespace collapses and trims.
    * Every pattern uses RE2-safe syntax with inline `(?is)` flags, so the
    * identical chain runs in the DuckDB oracle (q162 pins it). Boilerplate
    * REMOVAL beyond markup (nav/footer link-density pruning) is a separate
    * policy op — this is the mechanical markup strip. */
  def stripHtml(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** BPE-ish subword estimate: whitespace tokens plus one split before every
    * vowel/digit — a deterministic, regex-portable proxy for tokenizer
    * token counts. */
  def subwordCount(text: Column): Column =
    size(split(text, " ")) +
      (length(text) - length(regexp_replace(text, "[aeiouAEIOU0-9]", "")))

  /** Exact multiset occurrence count of `words` inside token array `toks`,
    * pure codegen'd built-ins: count(w) = size(toks) - size(array_remove(toks,
    * w)), summed over the word list. `array_remove` keeps duplicates of every
    * OTHER element, so the size difference is the exact per-word hit count
    * (`array_except` would deduplicate and under-count; `filter(toks, t =>
    * array_contains(...))` is a CodegenFallback lambda with no CSE — it
    * re-evaluates the split per language per row and dominated the r5 bench).
    * Whole-stage codegen's subexpression elimination evaluates `toks` once
    * even though it appears in every term.
    *
    * COST IS O(|words| × |toks|) PER ROW — each array_remove term rescans
    * the token array. The right trade for the ≤8-word stopword profiles this
    * backs (one map-side projection, zero shuffle); for lexicons past a few
    * dozen words the per-row rescan dominates — use [[lexiconHits]], whose
    * explode + broadcast-join shape is O(|toks|) per row regardless of
    * lexicon size. */
  def multisetHits(toks: Column, words: Seq[String]): Column =
    // NOTE an aggregate()+when-chain "one-pass" form was measured 3-5x
    // SLOWER here: higher-order-function lambdas evaluate interpreted per
    // element, while array_remove is a codegen'd native scan — the
    // |words| rescans win despite the per-word array copy.
    words.map(w => size(toks) - size(array_remove(toks, lit(w)))).reduce(_ + _)

  /** [[multisetHits]] for LARGE lexicons, as a table op: per input row, the
    * exact multiset count of tokens that appear in `lexicon`. Output is the
    * input plus `outCol` (long). Row identity is positional — `idCol` must
    * be unique per row (it keys the count re-attach).
    *
    * Scale shape: tokens explode into (id, token) rows, the lexicon becomes
    * a BROADCAST frame joined on the token (per-row cost O(|toks|), never
    * O(|lexicon| × |toks|)), and one keyed count per id re-attaches via a
    * second broadcast-free join on the unique id. Crossover vs multisetHits:
    * the explode pays a shuffle of (id, count) rows, so below a few dozen
    * lexicon words the zero-shuffle multisetHits wins; past that this wins —
    * asserted value-equal to multisetHits in TextOpsSpec. */
  def lexiconHits(df: DataFrame, idCol: String, textCol: String,
                  lexicon: Seq[String], outCol: String = "lexicon_hits"): DataFrame = {
    import df.sparkSession.implicits._
    // multiplicity-preserving: multisetHits counts a word listed twice in
    // the lexicon once PER LISTING (one array_remove term each), so the
    // join side must weight each word by its listing count, not dedupe it
    val lexDf = lexicon.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.toDF("__w", "__mult")
    val counts = df
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("__t"))
      .join(broadcast(lexDf), col("__t") === col("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__mult")).as(outCol))
    df.join(counts, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(0L)))
  }

  /** Quality-score feature struct: lengths, ratios, lexical diversity.
    * Everything a fast quality filter needs, one projection. */
  def qualityFeatures(text: Column): Column = {
    val toks = split(text, " ")
    val nTok = size(toks)
    val nChar = length(text)
    val nStop = multisetHits(toks, Seq("the", "a", "of", "and", "to", "in", "is", "on"))
    val nUniq = size(array_distinct(toks))
    // \p{Punct} (Java, non-unicode-class mode) is exactly the 32 ASCII
    // punctuation characters — translate's char-table delete counts the
    // same set without the regex engine or the per-row pattern walk
    val punct = length(text) -
      length(translate(text, "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~", ""))
    struct(
      nChar.as("n_chars"),
      nTok.as("n_tokens"),
      when(nTok > 0, nChar.cast("double") / nTok.cast("double")).otherwise(lit(0.0)).as("avg_token_len"),
      when(nTok > 0, nStop.cast("double") / nTok.cast("double")).otherwise(lit(0.0)).as("stopword_ratio"),
      when(nTok > 0, nUniq.cast("double") / nTok.cast("double")).otherwise(lit(0.0)).as("uniq_ratio"),
      when(nChar > 0, punct.cast("double") / nChar.cast("double")).otherwise(lit(0.0)).as("punct_ratio"))
  }

  /** Language profiles for the n-gram-free stopword heuristic: token hits per
    * language, deterministic argmax (score desc, then language name asc). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  /** Heuristic language-ID: count profile-stopword hits per language, pick the
    * max (ties → lexicographic, no hits → "unknown"). */
  def langId(text: Column): Column = {
    val toks = split(lower(text), " ")
    val scored = langProfiles.map { case (lang, words) =>
      (lang, multisetHits(toks, words))
    }
    // argmax by (score desc, lang asc) via left fold over the ordered list
    val best = scored.sortBy(_._1).foldLeft((lit("unknown"), lit(0))) {
      case ((bl, bs), (lang, s)) => (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("unknown"))
  }

  /** Table-form language-ID with the SAME argmax semantics as [[langId]]
    * (spec-asserted equal), shaped for throughput: ONE explode over the
    * tokens, a broadcast join against the (word, lang) profile dictionary —
    * per-row cost O(|tokens|) instead of langId's O(|profiles| × |words| ×
    * |tokens|) array rescans — then per-doc conditional counts and the same
    * deterministic fold (score desc, language asc, no hits → "unknown").
    * The shuffles carry (id) and (id, one count per language), never text. */
  def langIdDf(df: DataFrame, idCol: String, textCol: String,
               outCol: String = "lang_guess"): DataFrame = {
    import df.sparkSession.implicits._
    val langs = langProfiles.map(_._1).sorted
    val dict = langProfiles.flatMap { case (lang, ws) => ws.map(w => (w, lang)) }
      .toDF("__w", "__lang")
    val scoreCols = langs.map(l => count(when(col("__lang") === l, 1)).as(s"__s_$l"))
    val hits = df.select(col(idCol), explode(Dedup.tokens(lower(col(textCol)))).as("__t"))
      .join(broadcast(dict), col("__t") === col("__w"))
      .groupBy(col(idCol))
      .agg(scoreCols.head, scoreCols.tail: _*)
    val scored = df.select(col(idCol)).join(hits, Seq(idCol), "left").na.fill(0L)
    val best = langs.foldLeft((lit("unknown"), lit(0L))) {
      case ((bl, bs), lang) =>
        (when(col(s"__s_$lang") > bs, lit(lang)).otherwise(bl),
          greatest(col(s"__s_$lang"), bs))
    }
    scored.select(col(idCol),
      when(best._2 > 0, best._1).otherwise(lit("unknown")).as(outCol))
  }

  /** Word n-grams (as strings). Delegates to the one shingling
    * implementation — hot paths should bind tokens to a column first and
    * call [[Dedup.shingleStringsFromTokens]] (interpreted HOF lambdas get
    * no CSE, so shingling straight off `split(text)` re-splits per gram). */
  def ngrams(text: Column, n: Int): Column = Dedup.shingleStrings(text, n)

  /** Document fingerprint: (full-content md5, winnowed rolling-hash minimum).
    * The winnow min is the smallest shingle hash — a cheap locality-sensitive
    * sketch: near-dup docs usually share it. Column form (per-row HOF). */
  def fingerprint(text: Column, shingleN: Int = 5): Column =
    struct(
      md5(text).as("content_md5"),
      array_min(Dedup.shingleHashes(text, shingleN)).as("winnow_min"))

  /** High-throughput fingerprint pipeline: repartition by id (the one
    * exchange — it carries each text ONCE, not a 32-char md5 string per
    * exploded gram row), then shingle, hash in a flat codegen'd projection,
    * and groupBy(id) within the established partitioning — identical output
    * to [[fingerprint]], no interpreted md5 in lambdas, no second shuffle. */
  def fingerprintDf(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 5): DataFrame =
    df.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol), md5(col(textCol)).as("content_md5"),
        Dedup.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("content_md5"),
        explode(Dedup.shingleStringsFromTokens(col("__toks"), shingleN)).as("__s"))
      .select(col(idCol), col("content_md5"),
        pmod(Dedup.md5Hash60(col("__s")), lit(Dedup.P)).as("__h"))
      .groupBy(col(idCol))
      .agg(first(col("content_md5")).as("content_md5"), min(col("__h")).as("winnow_min"))

  /** FUSED corpus profile: fingerprint (content md5 + winnow min), MinHash
    * signature, sorted distinct shingle-hash set, and Gopher-style repetition
    * stats — everything [[fingerprintDf]], [[Dedup.shingleProfiles]], and
    * [[repetitionStats]] compute separately, in ONE pass over the raw text.
    * A pipeline needing all of them (the normal case: dedup + quality filter
    * + fingerprint run together) scans a 100 TB corpus once, not four times.
    *
    * Scale shape: ONE exchange total. The frame is repartitioned by doc id
    * FIRST (the shuffle carries each text once — comparable bytes to one
    * exploded gram-hash shuffle), then shingling, hashing, the per-(doc,gram)
    * count, and the per-doc rollup all run within the established
    * partitioning: hashpartitioning(id) satisfies the clustering of BOTH
    * downstream aggregations, so Catalyst inserts no further exchange
    * (locked in PlanSpec). MinHash mins ride the per-gram level — min over
    * distinct grams equals min over the multiset.
    */
  def corpusProfile(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, numHashes: Int = 12): DataFrame = {
    val coeffs = Dedup.hashCoeffs(numHashes)
    val perGram = df.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol), md5(col(textCol)).as("content_md5"),
        Dedup.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("content_md5"),
        explode(Dedup.shingleStringsFromTokens(col("__toks"), n)).as("__s"))
      .select(col(idCol), col("content_md5"),
        pmod(Dedup.md5Hash60(col("__s")), lit(Dedup.P)).as("__h"))
      .groupBy(col(idCol), col("__h"))
      .agg(first("content_md5").as("content_md5"), count(lit(1)).as("__c"))
    val sigMins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__h") + lit(b)) % lit(Dedup.P)).as(s"__m$i")
    }
    perGram.groupBy(col(idCol))
      .agg(first("content_md5").as("content_md5"),
        (min("__h").as("winnow_min") +:
          sort_array(collect_list(col("__h"))).as("shingles") +:
          sum("__c").as("n_grams") +:
          count(lit(1)).as("distinct_grams") +:
          max("__c").as("top_gram_count") +: sigMins): _*)
      .select(col(idCol) +: col("content_md5") +: col("winnow_min") +:
        col("shingles") +:
        array(coeffs.indices.map(i => col(s"__m$i")): _*).as("minhash_sig") +:
        col("n_grams") +: col("distinct_grams") +: col("top_gram_count") +:
        ((col("n_grams") - col("distinct_grams")).cast("double")
          / col("n_grams").cast("double")).as("dup_gram_frac") +:
        (col("top_gram_count").cast("double")
          / col("n_grams").cast("double")).as("top_gram_frac") +: Nil: _*)
  }

  /** Quality gate: keep documents passing minimum-quality thresholds — the
    * standard pre-training corpus filter, one codegen'd predicate pass. */
  def qualityFilter(df: DataFrame, textCol: String,
                    minTokens: Int = 5, maxAvgTokenLen: Double = 20.0,
                    minUniqRatio: Double = 0.2, maxPunctRatio: Double = 0.3): DataFrame =
    df.withColumn("__q", qualityFeatures(col(textCol)))
      .where(col("__q.n_tokens") >= minTokens &&
        col("__q.avg_token_len") <= maxAvgTokenLen &&
        col("__q.uniq_ratio") >= minUniqRatio &&
        col("__q.punct_ratio") <= maxPunctRatio)
      .drop("__q")

  /** Gopher-style rule filter (Rae et al. 2021, arXiv:2112.11446 §A1.1):
    * the published document-quality rules as per-rule boolean REASONS plus
    * the combined accept — downstream pipelines keep the reject reasons for
    * corpus diagnostics rather than silently dropping rows ([[qualityFilter]]
    * is the threshold-tunable filter form; this is the fixed published
    * rule set with provenance). Rules kept engine-exact: every ratio is one
    * correctly-rounded division of exact integer counts, so any IEEE-754
    * engine draws identical accept decisions.
    *
    * Scale shape: a single map-side projection — zero shuffle, no UDFs
    * (higher-order `aggregate`/`filter` stay in codegen). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaRatio: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val g = gopherStruct(col(textCol), minWords, maxWords, minMeanLen,
      maxMeanLen, minAlphaRatio, minStopHits)
    df.select(col(idCol).as("id"), g.as("__g"))
      .select(col("id"), col("__g.n_words"), col("__g.mean_word_len"),
        col("__g.r_word_count"), col("__g.r_mean_word_len"),
        col("__g.r_alpha_words"), col("__g.r_stopwords"), col("__g.accept"))
  }

  /** Column form of [[gopherRules]] — the ONE implementation of the rule
    * measures, shared by the table op and [[filterPipeline]] so the fused
    * pass cannot drift from the standalone one. */
  private def gopherStruct(text: Column, minWords: Int, maxWords: Int,
                           minMeanLen: Double, maxMeanLen: Double,
                           minAlphaRatio: Double, minStopHits: Int): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val meanLen = when(n > 0, sumLen.cast("double") / n.cast("double")).otherwise(lit(0.0))
    // case-insensitive: the published rule is "at least one ALPHABETIC
    // character" — ALL-CAPS/acronym words must count (q131's oracle uses
    // the same class)
    val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]")))
    val alphaRatio = when(n > 0, nAlpha.cast("double") / n.cast("double")).otherwise(lit(0.0))
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(array_intersect(array_distinct(toks), array(gopherStops.map(lit): _*)))
    val rWord = n >= minWords && n <= maxWords
    val rMean = meanLen >= minMeanLen && meanLen <= maxMeanLen
    val rAlpha = alphaRatio >= minAlphaRatio
    val rStop = stopHits >= minStopHits
    struct(n.cast("long").as("n_words"), meanLen.as("mean_word_len"),
      rWord.as("r_word_count"), rMean.as("r_mean_word_len"),
      rAlpha.as("r_alpha_words"), rStop.as("r_stopwords"),
      (rWord && rMean && rAlpha && rStop).as("accept"))
  }

  /** Benchmark decontamination report: training docs sharing ≥ `minShared`
    * distinct word n-grams with an eval/benchmark doc, one row per
    * contaminated (train, eval) pair with the shared-n-gram count.
    *
    * Scale shape: each side reduces to a flat (id, 60-bit n-gram hash)
    * relation — the raw text never shuffles. The eval side (benchmarks, ≪
    * corpus) is broadcast, so the corpus streams through map-side; the only
    * wide operation is the keyed count aggregation on (doc, eval) pairs that
    * actually collide, not corpus × eval. */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
                          idCol: String, textCol: String,
                          evalIdCol: String, evalTextCol: String,
                          n: Int = 3, minShared: Int = 1): DataFrame = {
    def grams(df: DataFrame, id: String, text: String, outId: String) =
      df.select(col(id).as(outId), Dedup.tokens(col(text)).as("__toks"))
        .select(col(outId), explode(Dedup.shingleStringsFromTokens(col("__toks"), n)).as("__s"))
        .select(col(outId), Dedup.md5Hash60(col("__s")).as("__h"))
        .distinct()
    grams(corpus, idCol, textCol, "doc_id")
      .join(broadcast(grams(evalSet, evalIdCol, evalTextCol, "eval_id")), Seq("__h"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** Drop every training doc flagged by [[contaminationReport]] — the
    * standard pre-training decontamination pass (anti-join on doc id). */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    idCol: String, textCol: String,
                    evalIdCol: String, evalTextCol: String,
                    n: Int = 3, minShared: Int = 1): DataFrame =
    corpus.join(
      contaminationReport(corpus, evalSet, idCol, textCol, evalIdCol, evalTextCol, n, minShared)
        .select(col("doc_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Bloom-filter decontamination flagging — the 100 TB path when the eval
    * set is itself too large for [[contaminationReport]]'s exact broadcast
    * join: the eval side collapses to ONE Bloom sketch (a few MB for
    * hundreds of millions of n-grams at 1–3% fpp), the corpus side stays
    * map-side against it, and only flagged doc ids enter a keyed shuffle.
    *
    * Returns the corpus plus a `bloom_hit` boolean. The Bloom guarantee —
    * NO false negatives — makes the flag a sound pre-filter: every doc the
    * exact pass would flag has `bloom_hit = true` (q133 checks exactly this
    * implication against the oracle's exact join); false positives (≤ fpp
    * per gram) only send extra docs into whatever exact verification or
    * drop policy follows.
    *
    * Scale shape: eval grams → `bloom_filter_agg` (partial-merged, one
    * binary out); the 1-row sketch broadcasts; corpus grams filter through
    * `might_contain` map-side; the distinct-hit-ids frame (≪ corpus) joins
    * back as a broadcast/AQE-picked semi join. Corpus text never shuffles. */
  def bloomDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         evalIdCol: String, evalTextCol: String,
                         n: Int = 3, expectedEvalGrams: Long = 1000000L,
                         fpp: Double = 0.03): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    def grams(df: DataFrame, id: String, text: String, outId: String) =
      df.select(col(id).as(outId), Dedup.tokens(col(text)).as("__toks"))
        .select(col(outId), explode(Dedup.shingleStringsFromTokens(col("__toks"), n)).as("__s"))
        .select(col(outId), Dedup.md5Hash60(col("__s")).as("__h"))
    // standard Bloom sizing: m = -n ln(p) / (ln 2)^2. The aggregate and
    // probe are the engine's own runtime-filter expressions (not in the
    // public function registry — bridged via GraftColumn like Md5Hash60)
    val numBits = math.max(64L, math.ceil(
      -expectedEvalGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    import org.apache.spark.sql.GraftColumn
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bloomAgg = GraftColumn.of(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        GraftColumn.expr(col("__h")), Literal(expectedEvalGrams), Literal(numBits))
        .toAggregateExpression())
    val sketch = grams(evalSet, evalIdCol, evalTextCol, "eval_id")
      .agg(bloomAgg.as("__bloom"))
    // might_contain demands a CONSTANT/scalar-subquery bloom (the same
    // contract the engine's injected runtime filters obey) — embed the
    // sketch as a scalar subquery rather than a join column
    val mightContain = GraftColumn.of(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
          sketch.queryExecution.analyzed),
        GraftColumn.expr(col("__h"))))
    val hitIds = grams(corpus, idCol, textCol, "__cid")
      .where(mightContain)
      .select(col("__cid").as(idCol)).distinct()
    corpus.join(hitIds.withColumn("bloom_hit", lit(true)), Seq(idCol), "left")
      .withColumn("bloom_hit", coalesce(col("bloom_hit"), lit(false)))
  }

  /** Overlap-FRACTION contamination report (the PaLM/GPT-3 recipe: a
    * training doc is contaminated when a high fraction of its n-grams also
    * appear in the held-out eval set — versus [[contaminationReport]]'s
    * absolute shared-gram count per (doc, eval-doc) pair). Every n-gram
    * OCCURRENCE counts (a doc that repeats a leaked gram is more
    * contaminated than one containing it once); the eval side is a distinct
    * gram set so join multiplicity can't inflate the hit count.
    *
    * Output: one row per corpus doc —
    * `(id, n_grams, hit_grams, overlap_frac, contaminated)` with
    * `contaminated = overlap_frac >= maxOverlap`.
    *
    * Scale shape: the eval gram set collapses to a distinct 60-bit hash set
    * and BROADCASTS (for eval sets too big to broadcast, chain
    * [[bloomDecontaminate]] in front); the corpus side explodes map-side and
    * aggregates in ONE doc-keyed exchange carrying `(id, hit)` pairs — the
    * text never shuffles. */
  def overlapContamination(corpus: DataFrame, evalSet: DataFrame,
                           idCol: String, textCol: String,
                           evalIdCol: String, evalTextCol: String,
                           n: Int = 3, maxOverlap: Double = 0.5): DataFrame = {
    require(maxOverlap > 0 && maxOverlap <= 1, s"maxOverlap must be in (0,1], got $maxOverlap")
    val evalGrams = evalSet
      .select(Dedup.tokens(col(evalTextCol)).as("__toks"))
      .select(explode(Dedup.shingleStringsFromTokens(col("__toks"), n)).as("__s"))
      .select(Dedup.md5Hash60(col("__s")).as("__h"))
      .distinct()
    corpus
      .select(col(idCol).as("id"), Dedup.tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(Dedup.shingleStringsFromTokens(col("__toks"), n)).as("__s"))
      .select(col("id"), Dedup.md5Hash60(col("__s")).as("__h"))
      .join(broadcast(evalGrams.withColumn("__hit", lit(1L))), Seq("__h"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("hit_grams"))
      .select(col("id").as(idCol), col("n_grams"), col("hit_grams"))
      .withColumn("overlap_frac", col("hit_grams").cast("double") / col("n_grams"))
      .withColumn("contaminated", col("overlap_frac") >= lit(maxOverlap))
  }

  /** Gopher-style repetition signals per document: total / distinct / most
    * frequent word n-gram occurrence counts plus the derived duplicate-gram
    * and top-gram fractions (high values ⇒ boilerplate or degenerate text).
    *
    * Scale shape: ONE exchange — repartition by doc id first (the shuffle
    * carries each text once), then the explode, gram hashing, and BOTH keyed
    * aggregations (per-(doc, gram) counts, per-doc rollup) run within that
    * partitioning: hashpartitioning(id) satisfies both aggregations'
    * clustering, so no further exchange is inserted (r6 shape was two). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame =
    df.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(Dedup.shingleStringsFromTokens(col("__toks"), n)).as("__g"))
      .select(col(idCol), pmod(Dedup.md5Hash60(col("__g")), lit(Dedup.P)).as("__h"))
      .groupBy(col(idCol), col("__h")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum("__c").as("n_grams"),
        count(lit(1)).as("distinct_grams"),
        max("__c").as("top_gram_count"))
      .withColumn("dup_gram_frac",
        (col("n_grams") - col("distinct_grams")).cast("double") / col("n_grams").cast("double"))
      .withColumn("top_gram_frac",
        col("top_gram_count").cast("double") / col("n_grams").cast("double"))

  /** Concat-then-chunk sequence packing — the standard LLM pre-training
    * layout: within each shard, documents are laid out in id order and cut
    * into fixed `budget`-token context windows; a document belongs to the
    * pack where it starts (`pack_id`) at `pack_offset` tokens in (docs may
    * straddle pack boundaries, exactly like concatenated-corpus chunking).
    *
    * Scale shape: one window aggregation PARTITIONED BY the shard column —
    * never a global sort. Shards are the unit of training-data layout
    * anyway (per-source or per-file), so the window partitions match how a
    * 100 TB corpus is actually organized. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    budget: Int, shardCol: String): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
    df.withColumn("__cum", sum(col(tokensCol).cast("long")).over(w))
      .select(col(shardCol), col(idCol), col(tokensCol),
        ((col("__cum") - col(tokensCol)) / budget).cast("long").as("pack_id"),
        ((col("__cum") - col(tokensCol)) % budget).cast("long").as("pack_offset"))
  }

  /** Deterministic mixture sampling: keep a row of source `s` iff
    * md5-hash(id) mod 1e6 falls under `round(fractions(s) * 1e6)` — the
    * data-mixing primitive for hitting a target source distribution.
    * Sources absent from `fractions` are dropped. Pure map-side predicate:
    * no shuffle, no RNG state, reproducible across runs/retries/engines
    * (unlike `sample`, whose seeded RNG is partition-placement-dependent). */
  def sampleMixture(df: DataFrame, idCol: String, sourceCol: String,
                    fractions: Map[String, Double]): DataFrame = {
    val thresh = fractions.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (src, f)) =>
        when(col(sourceCol) === src, lit(math.round(f * 1000000))).otherwise(acc)
    }
    df.where(pmod(Dedup.md5Hash60(col(idCol).cast("string")), lit(1000000L)) < thresh)
  }

  /** Temperature-based mixture resampling (the mT5/XLM-R multi-source
    * recipe): target proportions q_s ∝ n_s^T flatten the source
    * distribution for T < 1; each source keeps rate r_s = (q_s/n_s) /
    * max_s(q_s/n_s) — the largest relative source keeps everything, the
    * rest downsample toward the tempered mixture (downsample-only: no row
    * duplication). Keep decisions are the deterministic per-id draw of
    * [[sampleMixture]], so the output is reproducible row-for-row.
    *
    * Cross-engine exactness: the normalizer Σ n^T cancels out of the rate
    * ratio, so every surviving operation at T = 0.5 (sqrt, divide, max,
    * floor) is IEEE correctly-rounded — an independent SQL engine derives
    * bit-identical keep thresholds; other temperatures use `pow`, whose
    * last-ulp rounding is libm-specific — fine in production, but
    * hash-exact oracles should pin T = 0.5.
    *
    * Scale shape: source sizes are ONE tiny keyed aggregation; the rate
    * table (one row per source) re-joins BROADCAST; the keep filter is
    * map-side. The corpus itself never shuffles. */
  def temperatureMixture(df: DataFrame, idCol: String, sourceCol: String,
                         temperature: Double = 0.5): DataFrame = {
    require(temperature > 0 && temperature <= 1,
      s"temperature must be in (0,1], got $temperature")
    val tempered =
      if (temperature == 0.5) sqrt(col("__n").cast("double"))
      else pow(col("__n").cast("double"), lit(temperature))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    val rates = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      // q_s/n_s ∝ n_s^(T-1); normalizing by the max makes the largest
      // relative source keep rate 1 and cancels the mixture denominator
      .withColumn("__rel", tempered / col("__n").cast("double"))
      .withColumn("__rate", col("__rel") / max(col("__rel")).over(w))
      .select(col(sourceCol), floor(col("__rate") * lit(1000000.0)).as("__thresh"))
    df.join(broadcast(rates), Seq(sourceCol))
      .where(pmod(Dedup.md5Hash60(col(idCol).cast("string")), lit(1000000L)) < col("__thresh"))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** UniMax budget-capped mixture (Chung et al. 2023, arXiv:2304.09151):
    * distribute a total DOCUMENT budget across sources as uniformly as the
    * source sizes allow — waterfilling with each source capped at its own
    * size (the one-epoch cap; no row is ever duplicated) — then keep exactly
    * the allocated count per source. Small sources are kept whole whenever
    * the remaining per-source equal share covers them; the remaining budget
    * splits evenly over the larger sources, the first `remainder` of them
    * (in ascending (size, source) order) taking one extra. All integer
    * arithmetic, so any engine derives the identical allocation.
    *
    * Selection within a source is the deterministic hash-ranked draw of
    * [[graft.ops.Stats.stratifiedSample]]: rank by (md5-draw, id) and keep
    * rank ≤ allocation — reproducible row-for-row across runs and engines.
    * NULL ids are excluded (not sampleable identities), and NULL sources
    * are excluded BEFORE the size aggregation — an unidentifiable source
    * can neither receive nor silently consume budget. `(source, id)` must
    * uniquely identify a row (the [[selectPerSource]] precondition — with
    * duplicates the kept count and the two selection routes diverge);
    * [[unimaxEpochsMixture]] inherits the same requirement.
    *
    * Scale shape: source sizes are ONE tiny keyed aggregation (collected —
    * |sources| rows, bounded); the waterfill is driver-side integer math on
    * that bounded list. Sources kept WHOLE never rank at all — a broadcast
    * semi-join keeps them map-side with zero data-sized exchange. Only the
    * budget-capped sources need per-source selection, and that routes
    * through the [[graft.expressions.ReservoirAgg]] bounded aggregate
    * (k = the largest capped allocation): each map task carries ≤ k
    * (draw, id) pairs per source, so with few sources the corpus does NOT
    * funnel through |sources| reducer partitions the way a
    * `row_number().over(partitionBy(source))` window would — partial
    * aggregation absorbs the skew, and the selected ids semi-join back on
    * the well-distributed (source, id) key. Non-integral id columns (which
    * the reservoir's int64 draw can't carry) fall back to the window form
    * for the capped sources only. */
  def unimaxMixture(df: DataFrame, idCol: String, sourceCol: String,
                    budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    val live = df.where(col(idCol).isNotNull && col(sourceCol).isNotNull)
    val sizes = sourceSizes(live, sourceCol)
    val (wholeSeq, restAlloc) = waterfill(sizes, budget)
    val srcStr = col(sourceCol).cast("string")
    val outCols = df.columns.map(col).toSeq
    // whole sources: every row survives — no rank, no data-sized exchange
    val wholeDf = spark.createDataFrame(wholeSeq).toDF("__src", "__n")
    val keptWhole = live.join(broadcast(wholeDf), srcStr === col("__src"), "left_semi")
      .select(outCols: _*)
    val alive = restAlloc.filter(_._2 > 0)
    if (alive.isEmpty) keptWhole
    else keptWhole.unionAll(
      selectPerSource(live, outCols, idCol, sourceCol, alive))
  }

  /** UniMax with the paper's FULL epoch semantics (arXiv:2304.09151): each
    * source is capped at `maxEpochs` passes over its data rather than one —
    * small sources REPEAT (up to the cap) so the mixture stays near-uniform
    * even when the budget exceeds the corpus. The waterfill runs on the
    * capped sizes `maxEpochs·n_s`; a source allocated `a` rows emits
    * `⌊a/n⌋` complete epochs of every row plus a partial epoch of the
    * `a mod n` hash-ranked-first rows. Output = the input columns plus
    * `epoch` (0-based copy index), so downstream sharding can interleave
    * epochs deterministically; `unimaxMixture` is exactly `maxEpochs = 1`
    * with the epoch column dropped. All integer arithmetic — any engine
    * derives the identical multiset.
    *
    * Scale shape: the complete epochs are a broadcast join + map-side
    * `explode(sequence)` — no data-sized exchange, no rank; only the ONE
    * partial epoch per capped source needs selection, and that rides the
    * same bounded-reservoir route as [[unimaxMixture]] (k = largest
    * partial allocation, which is < the source size by construction). */
  def unimaxEpochsMixture(df: DataFrame, idCol: String, sourceCol: String,
                          budget: Long, maxEpochs: Int = 4): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val spark = df.sparkSession
    val live = df.where(col(idCol).isNotNull && col(sourceCol).isNotNull)
    val sizes = sourceSizes(live, sourceCol)
    val nBySrc = sizes.toMap
    val (whole, restAlloc) = waterfill(
      sizes.map { case (s, n) => (s, n * maxEpochs) }, budget)
    // (source, complete epochs, partial-epoch row count)
    val fullPartial = (whole ++ restAlloc).map { case (s, a) =>
      val n = nBySrc(s); (s, a / n, a % n)
    }
    val srcStr = col(sourceCol).cast("string")
    val outCols = df.columns.map(col).toSeq
    val fpDf = spark.createDataFrame(fullPartial).toDF("__src", "__full", "__partial")
    val fullRows = live.join(broadcast(fpDf), srcStr === col("__src"))
      .where(col("__full") > 0)
      .select(outCols :+ explode(sequence(lit(0L), col("__full") - 1)).as("epoch"): _*)
    val partialAlloc = fullPartial.collect { case (s, _, p) if p > 0 => (s, p) }
    if (partialAlloc.isEmpty) fullRows
    else fullRows.unionAll(
      selectPerSource(live, outCols, idCol, sourceCol, partialAlloc)
        .join(broadcast(fpDf), srcStr === col("__src"))
        .select(outCols :+ col("__full").as("epoch"): _*))
  }

  /** Per-source row counts, collected (|sources| rows — bounded). */
  private def sourceSizes(live: DataFrame, sourceCol: String): Seq[(String, Long)] =
    live.groupBy(col(sourceCol).cast("string").as("__src"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Ascending integer waterfill shared by the UniMax forms: sources whose
    * cap fits the running equal share take the whole cap; the remaining
    * budget splits evenly over the rest, the first `remainder` of them (in
    * ascending (cap, source) order) taking one extra. Returns
    * (sources kept at cap, per-source allocations for the rest). */
  private def waterfill(caps: Seq[(String, Long)], budget: Long)
      : (Seq[(String, Long)], Seq[(String, Long)]) = {
    val sorted = caps.sortBy { case (s, c) => (c, s) }
    var remaining = budget
    var k = sorted.size
    var filling = true
    val whole = Seq.newBuilder[(String, Long)]
    val rest = Seq.newBuilder[(String, Long)]
    for ((s, c) <- sorted) {
      if (filling && c * k <= remaining) { whole += ((s, c)); remaining -= c; k -= 1 }
      else { filling = false; rest += ((s, c)) }
    }
    val restSeq = rest.result()
    val base = if (restSeq.nonEmpty) remaining / restSeq.size else 0L
    val rem = if (restSeq.nonEmpty) (remaining % restSeq.size).toInt else 0
    (whole.result(),
      restSeq.zipWithIndex.map { case ((s, _), i) => (s, base + (if (i < rem) 1L else 0L)) })
  }

  /** Deterministic hash-ranked per-source selection shared by the mixture
    * ops: keep each listed source's `alloc` smallest (md5-draw, id) rows.
    * Bounded [[graft.expressions.ReservoirAgg]] route (≤ k pairs per map
    * task — no |sources|-reducer funnel) when the id is integral and the
    * largest allocation fits an Int; per-source window rank otherwise.
    *
    * PRECONDITION: `(source, id)` uniquely identifies a row. The two routes
    * are equivalent only then — the window route ranks duplicate rows
    * individually and keeps exactly `alloc`, while the reservoir route
    * selects ids and semi-joins back, returning EVERY row of a selected id.
    * Callers (the mixture ops) state the same precondition; violating it
    * makes the output depend on the id's type. */
  private def selectPerSource(live: DataFrame, outCols: Seq[Column],
      idCol: String, sourceCol: String, alloc: Seq[(String, Long)]): DataFrame = {
    val spark = live.sparkSession
    val srcStr = col(sourceCol).cast("string")
    val maxAlloc = alloc.map(_._2).max
    val allocDf = spark.createDataFrame(alloc).toDF("__src", "__alloc")
    val rows = live.join(broadcast(allocDf), srcStr === col("__src"), "left_semi")
    val idIntegral = {
      import org.apache.spark.sql.types._
      live.schema(idCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    if (idIntegral && maxAlloc <= Int.MaxValue.toLong) {
      val selIds = Stats.stratifiedSampleBounded(rows, sourceCol, idCol, maxAlloc.toInt)
        .join(broadcast(allocDf), col(sourceCol).cast("string") === col("__src"))
        .where(col("sample_rank") <= col("__alloc"))
        .select(col(sourceCol), col(idCol))
      rows.join(selIds, Seq(sourceCol, idCol), "left_semi").select(outCols: _*)
    } else {
      val h = pmod(Dedup.md5Hash60(col(idCol).cast("string")), lit(Dedup.P))
      val w = Window.partitionBy(sourceCol).orderBy(h.asc, col(idCol).asc)
      rows.withColumn("__rank", row_number().over(w))
        .join(broadcast(allocDf), srcStr === col("__src"))
        .where(col("__rank") <= col("__alloc"))
        .select(outCols: _*)
    }
  }

  /** C4-style document heuristics (Raffel et al. 2020, arXiv:1910.10683
    * §2.2) as per-rule boolean reasons plus the combined accept — the
    * [[gopherRules]] cousin for the C4 rule family:
    *  - ≥ `minSentences` sentences (split on terminal punctuation `[.!?]`);
    *  - no line with fewer than `minWordsPerLine` words;
    *  - no "lorem ipsum" (case-insensitive), no `{` (code leakage).
    * The policy/bad-word list rules of the published filter need external
    * wordlists and are deliberately out of scope.
    *
    * Parity note: sentence and line splits avoid regex beyond the shared
    * `[.!?]` class, and empty fragments are filtered by length — identical
    * trailing-empty semantics in any engine.
    *
    * Scale shape: a single map-side projection — zero shuffle, no UDFs. */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
              minSentences: Int = 3, minWordsPerLine: Int = 5): DataFrame = {
    val c = c4Struct(col(textCol), minSentences, minWordsPerLine)
    df.select(col(idCol).as("id"), c.as("__c"))
      .select(col("id"), col("__c.n_sentences"), col("__c.n_lines"),
        col("__c.n_short_lines"), col("__c.has_lorem_ipsum"), col("__c.has_brace"),
        col("__c.r_sentences"), col("__c.r_line_words"), col("__c.r_lorem"),
        col("__c.r_brace"), col("__c.accept"))
  }

  /** Column form of [[c4Rules]] — the ONE implementation of the rule
    * measures, shared by the table op and [[filterPipeline]]. */
  private def c4Struct(t: Column, minSentences: Int, minWordsPerLine: Int): Column = {
    val sentences = filter(split(t, "[.!?]"), s => length(trim(s)) > 0)
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val lineWords = (l: Column) => size(filter(split(trim(l), " "), w => length(w) > 0))
    val shortLines = size(filter(lines, l => lineWords(l) < minWordsPerLine)).cast("long")
    val nSentences = size(sentences).cast("long")
    val hasLorem = instr(lower(t), "lorem ipsum") > 0
    val hasBrace = instr(t, "{") > 0
    val rSentences = nSentences >= minSentences
    val rLineWords = shortLines === 0
    struct(
      nSentences.as("n_sentences"),
      size(lines).cast("long").as("n_lines"),
      shortLines.as("n_short_lines"),
      hasLorem.as("has_lorem_ipsum"),
      hasBrace.as("has_brace"),
      rSentences.as("r_sentences"),
      rLineWords.as("r_line_words"),
      (!hasLorem).as("r_lorem"),
      (!hasBrace).as("r_brace"),
      (rSentences && rLineWords && !hasLorem && !hasBrace).as("accept"))
  }

  /** FUSED document-filter pipeline — the standard pre-training cleaning
    * pass (the C4/Gopher/FineWeb composition): language gate
    * ([[langId]]), quality thresholds ([[qualityFeatures]] — the same
    * predicate as [[qualityFilter]]), the published Gopher rules
    * ([[gopherRules]]), and the C4 heuristics ([[c4Rules]]), evaluated
    * TOGETHER with per-family verdicts and the combined accept. Reject
    * reasons are preserved per family (corpus diagnostics), and the rule
    * implementations are literally shared with the standalone ops
    * (spec-asserted equal), so a pipeline migrating from four passes to
    * one cannot change a single decision.
    *
    * Scale shape: ONE zero-shuffle codegen projection — the fused pass
    * reads a 100 TB corpus once where chaining the standalone ops scans
    * it four times; no UDFs, no exchange, no join. `passthrough` columns
    * ride the same projection, so a pipeline that needs the surviving
    * TEXT (not just ids) still touches the raw corpus exactly once —
    * without it the caller must semi-join the verdicts back against a
    * second corpus scan. */
  def filterPipeline(df: DataFrame, idCol: String, textCol: String,
                     wantedLangs: Seq[String] = Seq("en"),
                     minTokens: Int = 5, maxAvgTokenLen: Double = 20.0,
                     minUniqRatio: Double = 0.2, maxPunctRatio: Double = 0.3,
                     gopherMinWords: Int = 50, gopherMinStopHits: Int = 2,
                     c4MinSentences: Int = 3,
                     passthrough: Seq[String] = Nil): DataFrame = {
    require(wantedLangs.nonEmpty, "wantedLangs must not be empty")
    val t = col(textCol)
    df.select(Seq(col(idCol).as("id"), langId(t).as("lang_guess"),
        qualityFeatures(t).as("__q"),
        gopherStruct(t, gopherMinWords, 100000, 3.0, 10.0, 0.8,
          gopherMinStopHits).as("__g"),
        c4Struct(t, c4MinSentences, 5).as("__c")) ++
        passthrough.map(col): _*)
      .withColumn("n_tokens", col("__q.n_tokens").cast("long"))
      .withColumn("r_lang", col("lang_guess").isin(wantedLangs: _*))
      .withColumn("r_quality",
        col("__q.n_tokens") >= minTokens &&
          col("__q.avg_token_len") <= maxAvgTokenLen &&
          col("__q.uniq_ratio") >= minUniqRatio &&
          col("__q.punct_ratio") <= maxPunctRatio)
      .withColumn("r_gopher", col("__g.accept"))
      .withColumn("r_c4", col("__c.accept"))
      .withColumn("accept",
        col("r_lang") && col("r_quality") && col("r_gopher") && col("r_c4"))
      .select((Seq("id", "lang_guess", "n_tokens", "r_lang", "r_quality",
        "r_gopher", "r_c4", "accept") ++ passthrough).map(col): _*)
  }

  /** DSIR-style hashed n-gram importance scores (Xie et al. 2023,
    * arXiv:2302.03169): how target-like each raw document's unigram+bigram
    * distribution is. Grams hash into `buckets` slots; the target and raw
    * corpora each reduce to a bucket histogram; each bucket gets an exact
    * fixed-point likelihood-ratio score
    * `floor(1e6 · (p_b+1)/Ptot ÷ (q_b+1)/Qtot)` (Laplace-smoothed), and a
    * document's score is the occurrence-weighted SUM of its grams' bucket
    * scores. The published estimator sums per-gram LOG ratios; summing
    * fixed-point linear ratios keeps every operation exact integer
    * arithmetic (`ln` is not correctly-rounded across engines, which would
    * break hash-exact verification) — rankings agree when per-bucket ratios
    * are moderate, and the caller thresholds/ranks either way. Use the
    * scores to rank (select top-N) or threshold the raw corpus toward the
    * target distribution.
    *
    * Scale shape: the corpus tokenize+explode+md5 pass — the dominant cost
    * at scale — runs ONCE: the exploded corpus bucket frame persists
    * (TrackedCache) and feeds both the q-histogram and the scoring join.
    * Both histograms collapse to ≤ `buckets` rows under partial
    * aggregation; the per-bucket score table is computed exactly on the
    * driver (BigInt — bounded by `buckets`, never data-sized) and re-joins
    * BROADCAST; the only data-sized exchange is the final per-doc keyed
    * aggregation. Raw text never shuffles. */
  def dsirScores(corpus: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    val spark = corpus.sparkSession
    def histogram(bucketed: DataFrame): Map[Long, Long] =
      bucketed.groupBy("__b").agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the corpus explode runs ONCE: persisted, it feeds both the
    // q-histogram action and the scoring join below
    val corpusBuckets = gramBuckets(corpus, idCol, textCol, buckets).persistTracked()
    val p = histogram(gramBuckets(target, idCol, textCol, buckets))
    val q = histogram(corpusBuckets)
    val pTot = BigInt(p.values.sum) + buckets
    val qTot = BigInt(q.values.sum) + buckets
    // exact per-bucket fixed-point ratio — BigInt on the driver, so no
    // decimal-division rounding ambiguity reaches either engine
    val scores = (0L until buckets.toLong).map { b =>
      val num = BigInt(p.getOrElse(b, 0L) + 1) * qTot * 1000000
      val den = BigInt(q.getOrElse(b, 0L) + 1) * pTot
      (b, (num / den).toLong)
    }
    val scoreDf = spark.createDataFrame(scores).toDF("__b", "__s")
    corpusBuckets
      .join(broadcast(scoreDf), Seq("__b"))
      .groupBy(col("id").as(idCol)).agg(
        count(lit(1)).as("n_grams"),
        sum("__s").as("dsir_micro_sum"))
      .select(col(idCol), col("n_grams"), col("dsir_micro_sum"),
        (col("dsir_micro_sum").cast("double") / col("n_grams").cast("double"))
          .as("dsir_score"))
  }

  /** (id, bucket) pairs for every unigram+bigram of each document — the
    * hashed-feature explode shared by [[dsirScores]] and
    * [[linearGramScores]]. */
  private def gramBuckets(df: DataFrame, idCol: String, textCol: String,
                          buckets: Int): DataFrame = {
    // Rolling-hash feature buckets: ONE md5 per token (TokenHashes), then
    // unigram buckets are the token hashes mod `buckets` and bigram buckets
    // the O(1) polynomial combine — the r10 path md5-hashed every gram
    // STRING (each token digested 3×) and scanned the corpus twice through
    // a unionAll. One scan, one explode, integer-only after tokenization;
    // PolyRollHash's shingle edge rule keeps 1-token docs emitting the
    // degenerate whole-text bigram exactly like the string-shingle family.
    val m = buckets.toLong
    df.select(col(idCol).as("id"),
        Dedup.tokenHashes(Dedup.tokens(col(textCol))).as("__th"))
      .select(col("id"), explode(concat(
        Dedup.polyRollHash(col("__th"), 1, m),
        Dedup.polyRollHash(col("__th"), 2, m))).as("__b"))
  }

  /** Linear classifier scoring over hashed n-gram features — the
    * fastText-style quality/domain filter INFERENCE pass (the CCNet /
    * FineWeb-Edu shape: a trained linear model scores every document and
    * callers threshold or rank). The caller supplies the weight table
    * (`(bucket, micro_weight)` — train anywhere, hash the vocabulary with
    * [[lexiconGramWeights]] or any same-scheme md5 bucketing); a
    * document's score is the occurrence-weighted integer SUM of its
    * grams' bucket weights plus `biasMicro`, with the per-gram mean
    * exposed as a double. Integer fixed-point micro-weights keep the
    * hashed output engine-exact (same discipline as [[dsirScores]] — the
    * sigmoid, being monotone, never changes a threshold decision and is
    * left to callers who want probabilities).
    *
    * Scale shape: ONE corpus tokenize+explode; the weight table
    * (≤ `buckets` rows) joins BROADCAST; one doc-keyed aggregation; the
    * doc spine re-joins so gram-less documents still emit. Raw text never
    * shuffles. */
  def linearGramScores(corpus: DataFrame, idCol: String, textCol: String,
                       weights: DataFrame, buckets: Int = 1024,
                       biasMicro: Long = 0L): DataFrame = {
    require(buckets > 0 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    val w = weights.select(col("bucket").cast("long").as("__b"),
      col("micro_weight").cast("long").as("__w"))
    val scored = gramBuckets(corpus, idCol, textCol, buckets)
      .join(broadcast(w), Seq("__b"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        (coalesce(sum("__w"), lit(0L)) + lit(biasMicro)).as("score_micro_sum"))
    corpus.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score_micro_sum"), lit(biasMicro)).as("score_micro_sum"))
      .withColumn("score_mean", when(col("n_grams") > 0,
        col("score_micro_sum").cast("double") / col("n_grams").cast("double"))
        .otherwise(lit(0.0)))
  }

  /** Hash a `(gram, integer micro-weight)` lexicon into the bucket space
    * of [[linearGramScores]]; colliding grams SUM (the standard
    * hashing-trick fold). */
  def lexiconGramWeights(spark: org.apache.spark.sql.SparkSession,
                         lexicon: Seq[(String, Long)], buckets: Int): DataFrame = {
    require(lexicon.nonEmpty, "lexicon must not be empty")
    // same scheme as [[gramBuckets]]: an n-token gram hashes to the
    // polynomial over its per-token hashes (the fold IS the rolling-window
    // hash when the window is the whole gram). Interpreted HOF is fine on a
    // lexicon-sized frame.
    spark.createDataFrame(lexicon).toDF("__g", "micro_weight")
      .select(pmod(aggregate(
          Dedup.tokenHashes(split(col("__g"), " ")), lit(0L),
          (acc, h) => (acc * lit(Dedup.B) + h) % lit(Dedup.P)),
        lit(buckets.toLong)).as("bucket"),
        col("micro_weight"))
      .groupBy("bucket").agg(sum("micro_weight").as("micro_weight"))
  }

  /** Corpus vocabulary: the `topK` most frequent whitespace tokens with
    * total occurrences and document frequency, ordered (count desc, token
    * asc). The tokenizer-training / vocab-pruning primitive.
    *
    * Scale shape: explode + one keyed aggregation; `count_distinct(doc)`
    * rides the same shuffle (partial aggregation handles the fan-in); the
    * global top-k is TakeOrderedAndProject over the (small) distinct-token
    * set — never a full sort of the corpus. */
  def topTokens(df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    val counted = df
      .select(col(idCol).as("__doc"), explode(Dedup.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("__doc")).as("n_docs"))
    TopK.global(counted, topK, Seq(col("n_occurrences").desc, col("token").asc))
  }

  // Sentinel characters for the BPE working representation: every symbol in
  // a word's current segmentation is stored as U+0002 <symbol> U+0003 inside
  // one string, with U+0004 as the end-of-word symbol. Wrapping every
  // symbol makes greedy left-to-right pair merging EXACTLY a substring
  // replace — `<s>a<e><s>b<e>` → `<s>ab<e>` — with no shared
  // boundary characters between adjacent matches, so `replace`'s standard
  // non-overlapping left-to-right scan IS the BPE merge discipline (a plain
  // space-separated form fails: consecutive matches share the separator).
  private val BpeL = "\u0002"
  private val BpeR = "\u0003"
  private val BpeEow = "\u0004"

  /** Learn a byte-pair-encoding merge table from the corpus — the
    * tokenizer-training step (Sennrich et al. 2016, arXiv:1508.07909) that
    * a training-data pipeline runs right after dedup/filtering, feeding
    * [[subwordCount]]/[[packSequences]]-style consumers. Classic word-dict
    * BPE: whitespace words are counted once, each word starts as its
    * character sequence plus an end-of-word symbol, and `numMerges` rounds
    * each (1) count adjacent symbol pairs weighted by word frequency,
    * (2) pick the argmax pair — ties broken (count desc, left asc, right
    * asc) so the merge sequence is deterministic and engine-independent —
    * and (3) merge every greedy left-to-right occurrence corpus-wide.
    *
    * Returns the learned merge table, one row per merge:
    * `(step, left_tok, right_tok, merged, pair_count)`; fewer than
    * `numMerges` rows iff the dictionary ran out of pairs (every word fully
    * merged). Words containing the three sentinel characters (U+0002..04)
    * are excluded up front — they would corrupt the working encoding.
    *
    * `mergesPerRound` is the SCALE DIAL for industrial vocabularies: at
    * m > 1 each round counts pairs ONCE and applies the top-m pairs in
    * rank order (count desc, left asc, right asc) before recounting — a
    * 32k-merge vocabulary needs 32000/m recount rounds instead of 32000
    * (m=256 → 125 rounds). The trade is documented staleness: ranks within
    * a round come from the round-start counts, so a pair whose occurrences
    * an earlier same-round merge consumed still applies (often as a
    * no-op), and `pair_count` records the round-start count. m=1 is
    * classic exact BPE. Step ids advance k·m + j, so a partial final list
    * leaves a hole rather than renumbering — the identical scheme the
    * unrolled oracle uses.
    *
    * Scale shape: the corpus is touched ONCE (the word-count shuffle, the
    * same exchange [[topTokens]] runs); everything after runs on the word
    * DICTIONARY — vocabulary-sized, orders of magnitude smaller than a
    * 100 TB corpus. When the dict fits `graft.bpe.localDictLimit` rows
    * (default 2^17), the merge loop runs IN-DRIVER over the collected
    * dict, the way classic BPE trainers do — the bounded-collect
    * discipline of the histogram/waterfill ops, eliminating ~2 Spark jobs
    * of scheduler floor per recount round. A larger dict falls back to
    * distributed rounds: one keyed pair-count aggregation whose rank list
    * is TakeOrderedAndProject (an m-row driver collect) and a
    * broadcast-literal `replace` projection chained onto the cached dict.
    * Both routes are output-identical (spec-asserted; the local ranking
    * compares unsigned UTF-8 bytes, the engines' binary order). No corpus
    * re-read, no driver materialization beyond the dict probe. */
  def learnBpeMerges(df: DataFrame, textCol: String, numMerges: Int,
                     mergesPerRound: Int = 1): DataFrame = {
    require(numMerges > 0 && numMerges <= 65536,
      s"numMerges must be in [1, 65536], got $numMerges")
    require(mergesPerRound > 0 && mergesPerRound <= 1024,
      s"mergesPerRound must be in [1, 1024], got $mergesPerRound")
    require(numMerges <= 256 * mergesPerRound,
      s"$numMerges merges need ${(numMerges + mergesPerRound - 1) / mergesPerRound} " +
        s"recount rounds at $mergesPerRound/round; cap is 256 rounds — raise mergesPerRound")
    val spark = df.sparkSession
    val dict = df
      .select(explode(split(col(textCol), " ")).as("__w"))
      .where(col("__w") =!= "" &&
        instr(col("__w"), BpeL) === 0 && instr(col("__w"), BpeR) === 0 &&
        instr(col("__w"), BpeEow) === 0)
      .groupBy("__w").agg(count(lit(1)).as("freq"))
      .select(
        concat(regexp_replace(col("__w"), "(.)", BpeL + "$1" + BpeR),
          lit(BpeL + BpeEow + BpeR)).as("seq"),
        col("freq"))
      .persistTracked()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    // THE DICT IS VOCABULARY-SIZED — when it fits the (configurable) local
    // limit, run the merge loop in-driver over the collected dict, the way
    // every classic BPE trainer does: the DISTRIBUTED work is the corpus
    // word-count scan above; paying ~2 Spark jobs of scheduler latency per
    // recount round to re-scan a few-MB dict is pure overhead (measured:
    // the 12-round loop was 1.3-2.0 s of job floor at sf0.1 vs ~0.1 s
    // local, identical output — spec-asserted equal). A corpus whose dict
    // exceeds the limit falls back to the distributed rounds below.
    val localLimit = sys.props.get("graft.bpe.localDictLimit")
      .map(_.toInt).getOrElse(1 << 17)
    val probe = dict.limit(localLimit + 1).collect()
    if (probe.length <= localLimit) {
      // local route: same pair counting, ranking and greedy application,
      // token arrays instead of the sentinel string
      var words: Array[(Array[String], Long)] = probe.map { r =>
        (r.getString(0).split(BpeR + BpeL).map(_.stripPrefix(BpeL).stripSuffix(BpeR)),
          r.getLong(1))
      }
      var stepBase = 0
      var exhausted = false
      while (stepBase < numMerges && !exhausted) {
        val mj = math.min(mergesPerRound, numMerges - stepBase)
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((toks, freq) <- words; i <- 0 until toks.length - 1)
          counts.updateWith((toks(i), toks(i + 1)))(c => Some(c.getOrElse(0L) + freq))
        if (counts.isEmpty) exhausted = true
        else {
          // rank exactly as the distributed path / DuckDB do: count desc,
          // then UNSIGNED UTF-8 BYTE order on (left, right) — Java's
          // String.compareTo (UTF-16 units) would diverge on supplementary
          // characters
          def u8cmp(x: String, y: String): Int =
            java.util.Arrays.compareUnsigned(
              x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val ord = new Ordering[((String, String), Long)] {
            def compare(l: ((String, String), Long), r: ((String, String), Long)): Int = {
              val c = java.lang.Long.compare(r._2, l._2)
              if (c != 0) c
              else {
                val a = u8cmp(l._1._1, r._1._1)
                if (a != 0) a else u8cmp(l._1._2, r._1._2)
              }
            }
          }
          val top = counts.toSeq.sorted(ord).take(mj)
          top.zipWithIndex.foreach { case (((a, b), c), j) =>
            out += ((stepBase + j, a, b, a + b, c))
            words = words.map { case (toks, freq) =>
              if (!toks.contains(a)) (toks, freq)
              else {
                val w = new scala.collection.mutable.ArrayBuffer[String](toks.length)
                var i = 0
                while (i < toks.length) {
                  if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
                    w += a + b; i += 2
                  } else { w += toks(i); i += 1 }
                }
                (w.toArray, freq)
              }
            }
          }
          stepBase += mergesPerRound
        }
      }
    } else {
      var seqNow: Column = col("seq")
      var stepBase = 0
      var exhausted = false
      while (stepBase < numMerges && !exhausted) {
        val mj = math.min(mergesPerRound, numMerges - stepBase)
        // adjacent pairs of the CURRENT segmentation: split the working
        // string on the <e><s> seam (the inter-symbol seam), strip the outer
        // sentinels, zip against itself shifted by one (arrays_zip pads the
        // short side with null — the null-right rows are the sequence tails)
        val toks = transform(split(seqNow, BpeR + BpeL), t => trim(t, BpeL + BpeR))
        val top = dict
          .select(col("freq"), toks.as("__t1"))
          .select(col("freq"), col("__t1"),
            slice(col("__t1"), lit(2), size(col("__t1"))).as("__t2"))
          .select(col("freq"), explode(arrays_zip(col("__t1"), col("__t2"))).as("__p"))
          .select(col("freq"), col("__p.__t1").as("a"), col("__p.__t2").as("b"))
          .where(col("b").isNotNull)
          .groupBy("a", "b").agg(sum("freq").as("c"))
          .orderBy(col("c").desc, col("a").asc, col("b").asc)
          .limit(mj).collect()
        if (top.isEmpty) exhausted = true
        else {
          top.zipWithIndex.foreach { case (r, j) =>
            val a = r.getString(0)
            val b = r.getString(1)
            out += ((stepBase + j, a, b, a + b, r.getLong(2)))
            seqNow = replace(seqNow,
              lit(BpeL + a + BpeR + BpeL + b + BpeR), lit(BpeL + a + b + BpeR))
          }
          // step ids advance by the ROUND width (k*m + j), so a partial
          // last list leaves a hole rather than renumbering — keeps the id
          // scheme engine-independent (the oracle's rounds use the same)
          stepBase += mergesPerRound
        }
      }
    }
    import spark.implicits._
    out.toSeq.toDF("step", "left_tok", "right_tok", "merged", "pair_count")
  }

  /** Encode a corpus with a learned BPE merge table — the inference half of
    * [[learnBpeMerges]] (tokenize-with-trained-vocab, the step between
    * tokenizer training and [[packSequences]]-style batching). Each
    * document is rewritten into the sentinel encoding in one regexp pass
    * (every non-space char wrapped, an end-of-word symbol appended per
    * word — the inter-word SPACE stays bare, so no merge can cross a word
    * boundary: the needle's seam never matches across it), then the merges
    * apply IN LEARNED ORDER as chained literal `replace`s — each one
    * greedy left-to-right, exactly the training discipline. Output per
    * document: `bpe_text` (subwords space-joined, end-of-word rendered
    * `</w>`) and `n_subwords`.
    *
    * Scale shape: a ZERO-SHUFFLE codegen projection — the merge table is a
    * driver-side literal list (bounded by [[learnBpeMerges]]'s 256-round
    * cap), so a 100 TB corpus encodes in one map-side pass with no
    * exchange, no join, no UDF. Precondition (as in learning): text must
    * not contain the U+0002..04 sentinels. */
  def applyBpeMerges(df: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    require(merges.length <= 256, s"merge table too large: ${merges.length}")
    val enc0 = regexp_replace(
      regexp_replace(col(textCol), "([^ ]+)", "$1" + BpeEow),
      "([^ ])", BpeL + "$1" + BpeR)
    val encoded = merges.foldLeft(enc0) { case (acc, (a, b)) =>
      replace(acc, lit(BpeL + a + BpeR + BpeL + b + BpeR), lit(BpeL + a + b + BpeR))
    }
    df.select(col(idCol), encoded.as("__seq"))
      .select(col(idCol),
        replace(
          translate(replace(col("__seq"), lit(BpeR + BpeL), lit(" ")), BpeL + BpeR, ""),
          lit(BpeEow), lit("</w>")).as("bpe_text"),
        (length(col("__seq")) - length(translate(col("__seq"), BpeL, "")))
          .cast("long").as("n_subwords"))
  }

  /** [[applyBpeMerges]] over the merge table as a DataFrame (the
    * [[learnBpeMerges]] output shape): collects the ≤256-row table in
    * learned order and encodes map-side. */
  def applyBpeMerges(df: DataFrame, idCol: String, textCol: String,
                     mergesDf: DataFrame): DataFrame =
    applyBpeMerges(df, idCol, textCol,
      mergesDf.orderBy("step").select("left_tok", "right_tok")
        .collect().toSeq.map(r => (r.getString(0), r.getString(1))))

  /** The BIG-VOCAB encode route: semantics IDENTICAL to [[applyBpeMerges]]
    * (spec-asserted equal output on shared inputs) but executed as a
    * per-partition token loop instead of a `merges.length`-deep replace
    * expression chain — the chain is the right plan up to a few hundred
    * merges (fully codegen'd), while a 32k-merge production vocabulary
    * would blow past codegen method limits; here each word applies the
    * rank-ordered merges with one greedy left-to-right pass per applicable
    * rank, skipping ranks whose left symbol is absent. Still a single
    * map-side pass over the corpus: no shuffle, no join; the merge table
    * ships in the closure (≤ a few MB at 32k entries).
    *
    * `mergesPerRound` here is irrelevant — any [[learnBpeMerges]] output
    * (classic or batched) applies the same way, in step order. */
  def applyBpeMergesPartitioned(df: DataFrame, idCol: String, textCol: String,
                                merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val ms = merges.toArray
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val idField = in.schema.fields(0)
    val schema = StructType(Seq(idField,
      StructField("bpe_text", StringType), StructField("n_subwords", LongType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val text = r.getString(1)
        if (text == null) Row(r.get(0), null, null)
        else {
          val words = text.split(" ", -1)
          var nSub = 0L
          val rendered = words.map { w =>
            if (w.isEmpty) ""
            else {
              var toks: Array[String] =
                (w.map(_.toString) :+ BpeEow).toArray
              var mi = 0
              while (mi < ms.length) {
                val (a, b) = ms(mi)
                // greedy left-to-right single pass for this rank; scanning
                // resumes AFTER a merged token, the `replace` discipline
                if (toks.contains(a)) {
                  val outW = new scala.collection.mutable.ArrayBuffer[String](toks.length)
                  var i = 0
                  while (i < toks.length) {
                    if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
                      outW += a + b; i += 2
                    } else { outW += toks(i); i += 1 }
                  }
                  toks = outW.toArray
                }
                mi += 1
              }
              nSub += toks.length
              toks.map(t => t.replace(BpeEow, "</w>")).mkString(" ")
            }
          }.mkString(" ")
          Row(r.get(0), rendered, nSub)
        }
      }
    }.toDF(idCol, "bpe_text", "n_subwords")
  }

  /** Inverse of [[applyBpeMerges]]'s `bpe_text` rendering: drop the
    * inter-subword spaces, turn each `</w>` back into a word separator.
    * Exact round-trip (`bpeDecode(encode(x)) == x`, spec-asserted on the
    * fixture corpus) for CANONICALLY-spaced text — single spaces, no
    * leading/trailing space — since the rendering collapses the original
    * separator multiplicity; text containing a literal `</w>` is outside
    * the encoding's domain (as are the U+0002..04 sentinels). Zero-shuffle
    * column form. */
  def bpeDecode(bpeText: Column): Column =
    rtrim(replace(replace(bpeText, lit(" "), lit("")), lit("</w>"), lit(" ")))

  // ---- unigram-LM tokenizer (SentencePiece; Kudo arXiv:1804.10959) -------

  /** Unsigned-UTF-8-byte string order — the ONE string comparator every
    * driver-side ranking in this engine uses (Spark's UTF8String and
    * DuckDB's binary collation both compare raw bytes; Java's
    * String.compareTo compares UTF-16 units and diverges on supplementary
    * characters). */
  private[graft] def u8cmp(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Deterministic Viterbi word segmentation under a piece→weight map:
    * maximizes the PRODUCT of piece weights over the word (hard-EM unigram
    * scoring; weights are the integer micro-probs of
    * [[learnUnigramVocab]], so every DP value is a product of exact small
    * integers accumulated in IEEE doubles — one correctly-rounded multiply
    * per DP edge, bit-identical in any conforming engine). Ties prefer the
    * LONGER final piece at each position. Returns Nil when the word cannot
    * be covered by the map (callers choose the fallback). */
  private[graft] def viterbiPieces(w: String, q: scala.collection.Map[String, Long],
      maxPieceLen: Int): List[String] = {
    val n = w.length
    val dp = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    dp(0) = 1.0
    var j = 1
    while (j <= n) {
      var best = 0.0
      var bl = 0
      var l = 1
      while (l <= maxPieceLen && l <= j) {
        if (dp(j - l) > 0) {
          val qi = q.getOrElse(w.substring(j - l, j), 0L)
          if (qi > 0) {
            // micro-prob -> probability: division by 2^20 is an exact
            // exponent shift, so the product scoring keeps the unigram
            // LENGTH PENALTY (k pieces multiply k factors <= 1) without
            // losing bit-exactness
            val s = dp(j - l) * (qi.toDouble / 1048576.0)
            if (s > best || (s == best && l > bl)) { best = s; bl = l }
          }
        }
        l += 1
      }
      dp(j) = best
      back(j) = bl
      j += 1
    }
    if (n > 0 && dp(n) <= 0) Nil
    else {
      var pieces = List.empty[String]
      var pos = n
      while (pos > 0) {
        val l = back(pos)
        pieces = w.substring(pos - l, pos) :: pieces
        pos -= l
      }
      pieces
    }
  }

  /** Integer micro-probability of a piece: `max(1, (c · 2^20) div N)` —
    * exact BigInt floor division (c can exceed 2^43 on a 100 TB corpus,
    * where a long product would wrap), floored at 1 so every vocab piece
    * stays usable. The DuckDB oracle computes the identical quotient in
    * HUGEINT. */
  private def microProb(c: Long, n: BigInt): Long =
    1L.max(((BigInt(c) * 1048576L) / n).toLong)

  /** Unigram-LM tokenizer training — the OTHER half of the tokenizer
    * family next to [[learnBpeMerges]] (SentencePiece's default algorithm;
    * Kudo arXiv:1804.10959), as a deterministic hard-EM variant every
    * engine reproduces bit-for-bit:
    *
    *  1. word dict (w, f) — the ONE corpus-sized shuffle; words longer
    *     than `maxWordLen` chars don't inform training (SentencePiece's
    *     own max-piece-length discipline);
    *  2. seed vocabulary: every ≤`maxPieceLen`-char substring counted with
    *     multiplicity · word frequency; ALL single characters plus the top
    *     `seedMultiplier·vocabSize − |chars|` multi-char pieces, ranked
    *     (count desc, piece asc by unsigned UTF-8 bytes);
    *  3. `rounds` hard-EM iterations: integer micro-probs
    *     `max(1, c·2^20 div N)` → Viterbi re-segmentation of every dict
    *     word ([[viterbiPieces]] — max product of micro-probs, longer
    *     final piece on ties) → usage recount (frequency-weighted) →
    *     prune to ALL single chars + top `vocabSize − |chars|` used
    *     multi-char pieces (count desc, bytes asc);
    *  4. output (rank, piece, count, micro_prob) over the final vocab.
    *
    * Determinism rests on three legs: exact integer micro-probs (BigInt
    * floor division), IEEE-double Viterbi products (each DP edge is ONE
    * correctly-rounded multiply of exact values, identical in Spark, the
    * JVM driver and DuckDB), and unsigned-byte tie-breaks everywhere.
    * Soft-EM's expected counts (forward–backward posteriors) would put
    * engine-specific float SUMS in the hashed output; the hard-EM
    * (Viterbi-count) variant is the standard deterministic simplification
    * and keeps every hashed value integer.
    *
    * Scale shape: the corpus is touched ONCE (the word-dict shuffle).
    * Training then runs over the VOCABULARY-SIZED dict: in-driver when it
    * fits `graft.unigram.localDictLimit` (default 2^17 rows — the
    * [[learnBpeMerges]] discipline; measured there: per-round Spark-job
    * floor dominates a few-MB dict), else distributed rounds — seed
    * counting is one substring explode + keyed agg, each EM round is one
    * broadcast-map flatMap + keyed agg over the dict, never the corpus.
    * Both routes are spec-asserted identical.
    *
    * `vocabSize` bounds the MULTI-CHAR piece count on top of the alphabet:
    * single characters are always kept for coverage, so a corpus whose
    * alphabet exceeds vocabSize (large-CJK) yields an all-chars vocab
    * larger than vocabSize — size the budget above the alphabet. */
  def learnUnigramVocab(df: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 4, rounds: Int = 2, seedMultiplier: Int = 4,
      maxWordLen: Int = 16): DataFrame = {
    require(vocabSize >= 2, s"vocabSize must be >= 2, got $vocabSize")
    require(maxPieceLen >= 2 && maxPieceLen <= 16, s"maxPieceLen out of range: $maxPieceLen")
    require(rounds >= 1 && rounds <= 16, s"rounds out of range: $rounds")
    require(seedMultiplier >= 1, s"seedMultiplier must be >= 1, got $seedMultiplier")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 64,
      s"maxWordLen out of range: $maxWordLen")
    val spark = df.sparkSession
    import spark.implicits._
    val dict = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "" && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("f"))
    val localLimit = sys.props.get("graft.unigram.localDictLimit")
      .map(_.toInt).getOrElse(1 << 17)
    val probe = dict.limit(localLimit + 1).as[(String, Long)].collect()

    val byCountThenBytes = new Ordering[(String, Long)] {
      def compare(a: (String, Long), b: (String, Long)): Int = {
        val c = java.lang.Long.compare(b._2, a._2)
        if (c != 0) c else u8cmp(a._1, b._1)
      }
    }

    // vocab states are ALWAYS vocabulary-sized — the driver holds them in
    // both routes; only the dict-side work differs
    var chars: Seq[(String, Long)] = Nil
    var multis: Seq[(String, Long)] = Nil

    if (probe.length <= localLimit) {
      val words = probe
      val seed = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- words; i <- 0 until w.length;
           l <- 1 to math.min(maxPieceLen, w.length - i))
        seed.updateWith(w.substring(i, i + l))(c => Some(c.getOrElse(0L) + f))
      chars = seed.iterator.filter(_._1.length == 1).toSeq.sorted(byCountThenBytes)
      multis = seed.iterator.filter(_._1.length > 1).toSeq.sorted(byCountThenBytes)
        .take(0.max(seedMultiplier * vocabSize - chars.size))
      for (_ <- 1 to rounds) {
        val n = BigInt((chars ++ multis).map(_._2).sum)
        val q = (chars ++ multis).map { case (p, c) => p -> microProb(c, n) }.toMap
        val usage = scala.collection.mutable.HashMap.empty[String, Long]
        for ((w, f) <- words; p <- viterbiPieces(w, q, maxPieceLen))
          usage.updateWith(p)(c => Some(c.getOrElse(0L) + f))
        chars = chars.map { case (p, _) => (p, usage.getOrElse(p, 0L)) }
          .sorted(byCountThenBytes)
        multis = usage.iterator.filter(kv => kv._1.length > 1 && kv._2 > 0)
          .toSeq.sorted(byCountThenBytes)
          .take(0.max(vocabSize - chars.size))
      }
    } else {
      val dictDs = dict.as[(String, Long)].persist()
      val L = maxPieceLen
      val seedDf = dictDs.toDF("w", "f")
        .select(col("w"), col("f"),
          explode(sequence(lit(0), length(col("w")) - 1)).as("i"))
        .select(col("w"), col("f"), col("i"),
          explode(sequence(lit(1),
            least(lit(L), length(col("w")) - col("i")))).as("l"))
        .select(expr("substring(w, i + 1, l)").as("p"), col("f"))
        .groupBy("p").agg(sum("f").as("c"))
        .persist()
      chars = seedDf.where(length(col("p")) === 1)
        .as[(String, Long)].collect().toSeq.sorted(byCountThenBytes)
      multis = seedDf.where(length(col("p")) > 1)
        .orderBy(col("c").desc, col("p").asc)
        .limit(0.max(seedMultiplier * vocabSize - chars.size))
        .as[(String, Long)].collect().toSeq
      seedDf.unpersist()
      for (_ <- 1 to rounds) {
        val n = BigInt((chars ++ multis).map(_._2).sum)
        val q = (chars ++ multis).map { case (p, c) => p -> microProb(c, n) }.toMap
        val bq = spark.sparkContext.broadcast(q)
        val usageDf = dictDs
          .flatMap { case (w, f) => viterbiPieces(w, bq.value, L).map(p => (p, f)) }
          .toDF("p", "f").groupBy("p").agg(sum("f").as("c")).persist()
        val charUsage = usageDf.where(length(col("p")) === 1)
          .as[(String, Long)].collect().toMap
        chars = chars.map { case (p, _) => (p, charUsage.getOrElse(p, 0L)) }
          .sorted(byCountThenBytes)
        multis = usageDf.where(length(col("p")) > 1 && col("c") > 0)
          .orderBy(col("c").desc, col("p").asc)
          .limit(0.max(vocabSize - chars.size))
          .as[(String, Long)].collect().toSeq
        usageDf.unpersist()
      }
      dictDs.unpersist()
    }
    val finalVocab = (chars ++ multis).sorted(byCountThenBytes)
    val nFinal = BigInt(finalVocab.map(_._2).sum)
    val rows = finalVocab.zipWithIndex.map { case ((p, c), i) =>
      (i + 1L, p, c, microProb(c, nFinal))
    }
    spark.createDataFrame(rows).toDF("rank", "piece", "count", "micro_prob")
  }

  /** Encode a corpus with a trained unigram vocabulary: each whitespace
    * word Viterbi-segments under the vocab's micro-probs
    * ([[viterbiPieces]] — the same DP training used, so encode ≡ the final
    * E-step); pieces join on U+0002 within a word, words on the space.
    * Words the vocab cannot cover — unseen characters, or longer than
    * `maxWordLen` (which never informed training) — pass through WHOLE as
    * a single piece, the UNK discipline. Output (id, unigram_text,
    * n_pieces).
    *
    * Scale shape: vocab broadcasts (vocabulary-sized), the corpus encodes
    * in ONE map-side pass — no shuffle, no expression-depth limit (the
    * per-partition loop route, like `applyBpeMergesPartitioned`). */
  def encodeUnigram(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 4, maxWordLen: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val q = vocab.select(col("piece"), col("micro_prob"))
      .as[(String, Long)].collect().toMap
    val bq = spark.sparkContext.broadcast(q)
    val L = maxPieceLen
    val W = maxWordLen
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        if (t == null) (id, null: String, 0L)
        else {
          val words = t.split(" ", -1)
          var nPieces = 0L
          val sb = new java.lang.StringBuilder(t.length * 2)
          var wi = 0
          while (wi < words.length) {
            if (wi > 0) sb.append(' ')
            val w = words(wi)
            val pieces =
              if (w.isEmpty || w.length > W) Nil
              else viterbiPieces(w, bq.value, L)
            if (pieces.isEmpty) { sb.append(w); nPieces += (if (w.isEmpty) 0 else 1) }
            else {
              var first = true
              for (p <- pieces) {
                if (!first) sb.append('\u0002')
                sb.append(p)
                first = false
              }
              nPieces += pieces.length
            }
            wi += 1
          }
          (id, sb.toString, nPieces)
        }
      }
      .toDF(idCol, "unigram_text", "n_pieces")
  }

  /** Per-document top-`topK` keyword extraction. The RANKING is the
    * integer-exact lexicographic order (tf desc, df asc, token asc) — NOT
    * the tf·idf product order (lexicographic equals the product order only
    * when one factor ties; a high-tf stopword can outrank a mid-tf rare
    * word here where tf·ln(N/df) would not). The trade is deliberate:
    * product ordering needs float comparison, whose cross-engine tie cases
    * break hash-exactness, while this order is bit-identical everywhere.
    * Pair with a stopword prefilter ([[qualityFilter]]/[[lexiconHits]])
    * when the corpus has an untrimmed head; the float `tfidf` score
    * (tf · ln(N/df)) is exposed for consumers but never drives ordering.
    *
    * Scale shape: explode + two keyed aggregations; the tf⋈df join is a
    * keyed shuffle on the token (vocab-sized, not corpus-sized, after the
    * partial aggs); the per-doc top-k is a rank window on the doc key.
    */
  def keywords(df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"), explode(Dedup.tokens(col(textCol))).as("token"))
    val nDocs = df.select(col(idCol)).distinct().count()
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, token) pairs, so counting them per token IS
    // the document frequency — no second pass over the corpus
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfreq, "token")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .withColumn("tfidf", col("tf") * log(lit(nDocs.toDouble) / col("df").cast("double")))
      .select("doc_id", "rank", "token", "tf", "df", "tfidf")
  }

  /** Exact-integer BM25 retrieval: rank corpus documents for each query by
    * the BM25 relevance sum over the query's DISTINCT terms, with the log
    * in Lucene's smoothed idf replaced by its rational argument —
    * idf_rat = 1 + (N − df + ½)/(df + ½) = (2N + 2)/(2df + 1), always
    * positive — the same exactness trade [[dsirScores]] makes (linear
    * ratio instead of log-ratio): every term contribution is a ratio of
    * exact integers, so the whole ranking is bit-reproducible across
    * engines (no libm `ln` in the hashed output). k1 = 1.2 and b = 0.75
    * (the standard defaults) are cleared of fractions:
    *
    *   term_micro = ⌊10⁶·(2N+2)·22·tf·L / ((2df+1)·(10·tf·L + 3L + 9·dl·N))⌋
    *
    * with tf = term count in the doc, dl = doc token count, df = docs
    * containing the term, N = corpus docs, L = total corpus tokens
    * (avgdl = L/N cleared of its division). DECIMAL(38,0) products +
    * integral division on both engine and oracle (HUGEINT + `//`); both
    * truncate and every operand is positive, so ⌊⌋ agrees. The 38-digit
    * headroom bounds the contract at ~10¹² docs × 10¹⁵ tokens — beyond a
    * 100 TB corpus.
    *
    * Scale shape — FOUR actions total (was 6 through r13; the broadcast
    * builds are the route's floor at serving scale, r13 verdict item 1):
    * the doc-term frame aggregates ONCE keyed on (doc, term) — partial
    * aggregation collapses repeats map-side, dl bound BELOW the explode
    * (see [[bm25DocTerms]] — the r14 4-6x fix) — with the query
    * vocabulary pruning the exploded token stream BEFORE that aggregation
    * (map-side broadcast filter join), so the shuffle carries only
    * query-term postings; the pruned frame persists (df branch +
    * candidate branch both read it — AQE exchange reuse does NOT cross
    * the broadcast-build boundary, measured); df stays a term-keyed AGG
    * broadcast back over the postings (a count-over-term window looks
    * cheaper but reshuffles the whole postings frame where the agg's
    * exchange is vocab-sized — measured 1.7x worse); and the scalar
    * (N, L) stats FOLD INTO the df broadcast build (the [[bigramLmScore]]
    * one-action discipline) instead of broadcasting separately. Actions:
    * the prune-filter build (query-sized), the qTerms build (query-sized),
    * the dfStats build (materializes the doc-term cache — the one
    * corpus-scan job — plus the stats pass), and the answer pass. The
    * corpus never shuffles for candidate generation; ranking is the
    * [[TopK.perGroup]] streaming window keyed by query.
    *
    * Output: (query_id, doc_id, bm25_micro, rank), rank 1..k per query,
    * ties → smaller doc_id. Docs sharing no term with a query are absent,
    * as are queries with no terms (standard retrieval semantics). */
  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val stats = bm25Stats(corpus, textCol)
    // persisted: the query frame is read by the prune-filter build AND the
    // candidate join's broadcast — without the cache each build re-derives
    // it (a caller whose queries are a projection of a big table — the
    // bench fixture's shape — then pays a full extra scan per build)
    val qTerms = bm25TermRows(queries, col(queryIdCol), col(queryTextCol), "query_id")
      .distinct().persistTracked()
    // the query vocabulary prunes the exploded token stream BEFORE the
    // keyed aggregation (map-side broadcast join), so the shuffle carries
    // only query-term postings; persisted because BOTH the df branch and
    // the candidate branch read it — unpruned, each would re-aggregate
    // the whole corpus (measured: the duplicate explode+shuffle was the
    // bulk of the in-memory route's wall time). NOTE df must stay a
    // term-keyed AGG broadcast back over the postings — a count-over-term
    // window looks cheaper on paper but reshuffles the whole postings
    // frame where the agg's exchange is vocab-sized (measured 1.7x worse).
    val queryDocTerms = bm25DocTerms(corpus, idCol, textCol,
        termFilter = Some(qTerms.select("term").distinct()))
      .persistTracked()
    // the scalar (N, L) stats FOLD INTO the df broadcast build (the
    // bigramLmScore one-action discipline): one broadcast job carries
    // both, instead of a separate single-row broadcast action
    val dfStats = queryDocTerms.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(stats)
    val cand = queryDocTerms
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfStats), Seq("term"))
    bm25Rank(cand, k)
  }

  /** Single-space split, empty tokens dropped (the corpus-vocab rule) —
    * shared by the in-memory and indexed BM25 routes. */
  private def bm25TermRows(df: DataFrame, id: Column, text: Column,
      idName: String): DataFrame = df
    .select(id.as(idName), explode(split(text, " ")).as("term"))
    .where(col("term") =!= "")

  /** Corpus scalar stats in ONE agg-only pass: n_docs counts EVERY corpus
    * row (including empty/null-text docs, matching the oracle's
    * count(*)); l_tokens sums per-doc token counts. The split is bound to
    * a projected column BEFORE the aggregate — `sum(size(filter(split)))`
    * written inline in the agg re-evaluates the split per aggregate
    * expression walk (no CSE through the agg boundary; measured 4x on the
    * sf0.1 corpus). */
  private def bm25Stats(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(split(col(textCol), " ").as("__toks"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(filter(col("__toks"), t => t =!= lit("")))
          .cast("long")).as("l_tokens"))

  /** (doc_id, term, tf, dl) in ONE keyed aggregation — dl computed in the
    * explode projection and carried through the agg (`max` of a per-doc
    * constant), never joined in.
    *
    * PLACEMENT IS THE WHOLE COST HERE: `dl` (and the split) must be bound
    * as ATTRIBUTES in selects BELOW the explode. A
    * `select(id, dlExpr, explode(toksExpr))` written as one projection
    * analyzes to Project[id, dl, term] ABOVE the Generate — the analyzer
    * routes every non-generator expression to the upper Project — so the
    * dl expression re-evaluates PER EXPLODED TOKEN, turning an O(doclen)
    * pass into O(doclen²) per doc (and r13's inline-split form re-split
    * the text per token on top). Bound below, the Generate carries only
    * the (doc_id, dl) attributes and the upper Project is O(1)/row —
    * measured 4-6x on the sf0.1 corpus (1.3-2.3 s → 0.35 s).
    *
    * `termFilter` (a 1-column `term` frame, broadcast) prunes the
    * exploded token stream BEFORE the aggregation — per-(doc, term)
    * counts are unaffected by dropping other terms, and the shuffle then
    * carries only the filter's postings. */
  private def bm25DocTerms(corpus: DataFrame, idCol: String,
      textCol: String, termFilter: Option[DataFrame] = None): DataFrame = {
    val exploded = corpus
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"),
        size(filter(col("__toks"), t => t =!= lit(""))).cast("long").as("dl"),
        col("__toks"))
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .where(col("term") =!= "")
    termFilter.fold(exploded)(f => exploded.join(broadcast(f), Seq("term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
  }

  /** The exact-integer BM25 term contribution + per-(query, doc) rollup +
    * rank — over a candidate frame carrying (query_id, doc_id, tf, dl, df,
    * n_docs, l_tokens). ONE definition, so the indexed route is
    * arithmetic-identical to the in-memory route by construction. */
  private def bm25Rank(cand: DataFrame, k: Int): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val num = dec(lit(1000000L)) * (dec(col("n_docs")) * 2 + 2) *
      dec(col("tf")) * 22 * dec(col("l_tokens"))
    val den = (dec(col("df")) * 2 + 1) *
      (dec(col("tf")) * dec(col("l_tokens")) * 10 + dec(col("l_tokens")) * 3 +
        dec(col("dl")) * dec(col("n_docs")) * 9)
    val scored = cand
      .select(col("query_id"), col("doc_id"),
        call_function("div", num, den).as("__term_micro"))
      .groupBy("query_id", "doc_id")
      .agg(sum("__term_micro").as("bm25_micro"))
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("bm25_micro").desc, col("doc_id").asc), k, rankCol = "rank")
  }

  /** Persist a BM25 postings index into a [[graft.core.BucketedStore]] —
    * the serving path: a query batch then touches ONLY its terms' buckets
    * ([[searchIndexedBm25]]), IO independent of corpus size — the q134
    * discipline applied to text retrieval. Three tables:
    *
    *  - `<feature>_postings` (term, doc_id, tf, dl), bucketed BY TERM —
    *    dl DENORMALIZED into the posting so scoring never joins a
    *    doc-keyed length table (which would need a corpus-sized read);
    *  - `<feature>_termdf` (term, df), bucketed by term — SEPARATE from
    *    the postings so a future refresh can rewrite the vocab-sized df
    *    table without touching the corpus-sized postings;
    *  - `<feature>_stats` (n_docs, l_tokens), one row.
    *
    * The postings write is the doc-term aggregation (one keyed exchange)
    * routed to term buckets — one corpus pass. */
  def indexBm25(corpus: DataFrame, idCol: String, textCol: String,
      store: graft.core.BucketedStore, feature: String): Unit = {
    // dl rides the explode map-side (bm25DocTerms) — the build is one
    // keyed aggregation + one agg-only stats pass, no doc-keyed join
    val docTerms = bm25DocTerms(corpus, idCol, textCol).persistTracked()
    val pv = store.write(docTerms.select("term", "doc_id", "tf", "dl"),
      s"${feature}_postings", Seq("term"))
    val tv = store.write(docTerms.groupBy("term").agg(count(lit(1)).as("df")),
      s"${feature}_termdf", Seq("term"))
    val st = bm25Stats(corpus, textCol).withColumn("__sk", lit(0))
    val sv = store.write(st, s"${feature}_stats", Seq("__sk"))
    commitBm25Trio(store, feature, pv, tv, sv)
    docTerms.unpersist()
  }

  /** Publish the (postings, termdf, stats) version trio as ONE atomic
    * cursor record — the pairing [[searchIndexedBm25]] pins to. Written
    * AFTER all three tables, so a writer crash mid-append leaves readers
    * on the previous complete trio instead of a mixed one. */
  private def commitBm25Trio(store: graft.core.BucketedStore,
      feature: String, pv: Long, tv: Long, sv: Long): Unit =
    store.writeCursor(s"${feature}_bm25_trio", s"$pv\t$tv\t$sv")

  /** O(batch) growth for the persisted BM25 postings index — the
    * append-cycle contract the vector indexes already carry: the batch's
    * postings append to their term buckets only (no existing postings file
    * is read or rewritten), while the VOCAB-sized term-df table and the
    * one-row stats table add the batch's counts through
    * [[graft.core.BucketedStore.mergeAdd]] (only the batch's term buckets
    * are rewritten) — so per-batch IO is independent of corpus size
    * everywhere the corpus is big. EXACT, not approximate: a grown index
    * answers identically to one rebuilt from the full corpus (postings
    * union is row-identical, df and stats are additive) — spec-asserted. Fold appended dirs on a
    * cadence with `store.compactBuckets(s"${feature}_postings",
    * Seq("term"))`; old df/stats versions fall to `store.vacuum`. */
  def appendToBm25Index(newDocs: DataFrame, idCol: String, textCol: String,
      store: graft.core.BucketedStore, feature: String): Unit = {
    val docTerms = bm25DocTerms(newDocs, idCol, textCol).persistTracked()
    val pv = store.appendBucketed(s"${feature}_postings",
      docTerms.select("term", "doc_id", "tf", "dl"), Seq("term"))
    val tv = store.mergeAdd(s"${feature}_termdf",
      docTerms.groupBy("term").agg(count(lit(1)).as("df")), Seq("term"))
    val sv = store.mergeAdd(s"${feature}_stats",
      bm25Stats(newDocs, textCol).withColumn("__sk", lit(0)), Seq("__sk"))
    commitBm25Trio(store, feature, pv, tv, sv)
    docTerms.unpersist()
  }

  /** Serve BM25 top-k through a persisted postings index: read ONLY the
    * query terms' postings and df buckets (`readTouched` — IO =
    * |touched buckets| / numBuckets of the index, independent of corpus
    * size), score with the identical integer arithmetic ([[bm25Rank]] —
    * result ≡ [[bm25TopK]] on the same corpus, spec- and oracle-asserted),
    * rank per query. */
  def searchIndexedBm25(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, store: graft.core.BucketedStore, feature: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // persisted: read by BOTH readTouched key probes (bucket pruning) and
    // the candidate join's broadcast build — one evaluation of a possibly
    // projection-derived query frame instead of three
    val qTerms = bm25TermRows(queries, col(queryIdCol), col(queryTextCol),
      "query_id").distinct().persistTracked()
    // CONSISTENT SNAPSHOT across the three index tables: every writer
    // ([[indexBm25]], [[appendToBm25Index]], [[compactBm25Postings]])
    // publishes the (postings, termdf, stats) version trio as ONE atomic
    // cursor record AFTER its table writes, and the reader pins to that
    // recorded pairing — a concurrent append can never serve a mixed trio
    // (new postings + old df/stats scores against a corpus that never
    // existed — the torn-read class the PQ metadata cache pins against).
    // Through r13 the pairing was INFERRED from two back-to-back
    // latest-version captures agreeing, which routinely landed inside one
    // inter-table gap of a multi-second append and "stabilized" on a
    // mixed trio; the explicit commit record closes that.
    val (pv, tv, sv) = store.readCursor(s"${feature}_bm25_trio") match {
      case Some(rec) =>
        val parts = rec.trim.split('\t')
        (parts(0).toLong, parts(1).toLong, parts(2).toLong)
      case None =>
        System.err.println(s"[graft] $feature: no bm25 trio commit record " +
          s"in store ${store.root} — inferring a snapshot from latest " +
          "versions (pre-r14 index; rebuild or append once to publish the " +
          "commit record)")
        def trio() = (
          store.latestVersion(s"${feature}_postings").getOrElse(
            sys.error(s"no ${feature}_postings in store ${store.root}")),
          store.latestVersion(s"${feature}_termdf").getOrElse(
            sys.error(s"no ${feature}_termdf in store ${store.root}")),
          store.latestVersion(s"${feature}_stats").getOrElse(
            sys.error(s"no ${feature}_stats in store ${store.root}")))
        stabilizeLegacyTrio(feature, () => trio())
    }
    val postings = store.readTouched(s"${feature}_postings", Seq("term"),
      qTerms.select("term"), Some(pv))
    val termdf = store.readTouched(s"${feature}_termdf", Seq("term"),
      qTerms.select("term"), Some(tv))
    val stats = store.read(s"${feature}_stats", Seq("__sk"), Some(sv))
      .select("n_docs", "l_tokens")
    // stats fold into the termdf broadcast build (the bm25TopK one-action
    // discipline): one query-vocab-sized broadcast instead of two
    val cand = postings
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(termdf.crossJoin(stats)), Seq("term"))
    bm25Rank(cand, k)
  }

  /** Best-effort consistent-snapshot inference for a PRE-trio-commit BM25
    * index (no `<feature>_bm25_trio` record, r13 and earlier): capture the
    * latest version trio repeatedly until two consecutive captures agree —
    * an IN-FLIGHT append shows up as version movement and the loop retries
    * past it. RAISES after `maxTries` captures without stabilization (a
    * writer is appending continuously): through r14 this proceeded with
    * only a stderr warning, but silently serving a possibly-torn trio (new
    * postings scored against old df/stats — a corpus that never existed)
    * contradicts the family's loud-contract discipline. The caller either
    * pauses the writer or publishes the trio commit record (one
    * append/rebuild does it), which retires this path for good. Still
    * best-effort when it DOES stabilize: a capture can land inside one
    * multi-second inter-table write gap and agree on a mixed trio — the
    * reason the commit record replaced the inference. The READER
    * deliberately does NOT publish the record itself as a migration
    * shortcut: a reader that stabilized trio T while a writer was
    * publishing a newer trio T' could land its T record in a HIGHER slot
    * than T' and pin every future reader to the stale snapshot — writers
    * are the only principals with the context to order commits. */
  private[graft] def stabilizeLegacyTrio(feature: String,
      trio: () => (Long, Long, Long), maxTries: Int = 16): (Long, Long, Long) = {
    var snap = trio()
    var next = trio()
    var tries = 0
    while (snap != next && tries < maxTries) { snap = next; next = trio(); tries += 1 }
    if (snap != next)
      throw new IllegalStateException(
        s"searchIndexedBm25: $feature's legacy version trio never " +
          s"stabilized after $maxTries captures — a writer is appending " +
          "continuously and this pre-trio-commit index cannot be read " +
          "consistently; pause the writer, or rebuild/append once to " +
          "publish the trio commit record")
    snap
  }

  /** Fold appended BM25 posting dirs back to one file per bucket
    * ([[graft.core.BucketedStore.compactBuckets]]) and RE-PUBLISH the trio
    * commit record pointing at the compacted postings version — without
    * this, readers pinned to the trio keep reading the pre-compaction
    * version until the next append (correct but un-compacted IO).
    *
    * SINGLE-WRITER ONLY: the trio re-publication is a read-modify-write
    * of the commit record — run it from the index's one writer (the
    * ingest loop's `compactEvery` does exactly this), never concurrently
    * with an append, or the re-publication can clobber a newer trio with
    * stale termdf/stats versions (the torn pairing the record exists to
    * prevent). This is the store's standing single-writer-per-feature
    * cadence, stated here because this method is the one place the
    * cursor is rewritten outside the append path. */
  def compactBm25Postings(store: graft.core.BucketedStore,
      feature: String): Unit = {
    val pv = store.compactBuckets(s"${feature}_postings", Seq("term"))
    store.readCursor(s"${feature}_bm25_trio").foreach { rec =>
      val parts = rec.trim.split('\t')
      commitBm25Trio(store, feature, pv, parts(1).toLong, parts(2).toLong)
    }
  }

  /** Token-distribution DRIFT between two corpus snapshots — the training-
    * data monitoring primitive ("what changed between last week's crawl
    * and this one"): each token's two-sample chi-square contribution,
    *
    *   chi2_micro = ⌊10⁶ · (o_a·T_b − o_b·T_a)² / ((o_a+o_b)·T_a·T_b)⌋
    *
    * (the algebraically-reduced (O−E)²/E summed over both cells — exact
    * integers end to end, so the ranking is engine-independent; the
    * 38-digit product bounds the contract at ~10¹²-token snapshots —
    * pre-scale counts beyond that). Tokens absent from one side count 0
    * there — a token newly appearing or vanishing ranks by its full mass.
    * Output: the top-M drifted tokens (token, n_a, n_b, chi2_micro, rank),
    * rank by contribution desc, ties → token asc.
    *
    * Scale shape: one keyed count aggregation per snapshot (partial,
    * vocab-bounded exchanges), a vocab-keyed full-outer join, scalar
    * totals on a broadcast cross join, and a [[TopK.global]]
    * TakeOrderedAndProject — the corpora themselves never shuffle. */
  def tokenDrift(dfA: DataFrame, dfB: DataFrame, textCol: String,
      topM: Int): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    tokenDriftFromJoined(tokenCountsBoth(dfA, dfB, textCol, Nil), topM)
  }

  /** (token, n_a, n_b) per optional group — BOTH snapshots' occurrence
    * counts from ONE tagged-union aggregation (the [[graft.ops.Stats]]
    * ksDrift discipline): each side enters with a (1,0)/(0,1) indicator
    * pair and one vocab-keyed exchange sums both, replacing the previous
    * two per-side aggregations + full-outer join (3 exchanges → 1;
    * row-identical by construction — a token present in either side
    * appears once with both counts, absent side 0). */
  private def tokenCountsBoth(dfA: DataFrame, dfB: DataFrame,
      textCol: String, groupCols: Seq[String]): DataFrame = {
    def side(df: DataFrame, ca: Long, cb: Long) = df
      .select(groupCols.map(col) :+
        explode(split(col(textCol), " ")).as("token"): _*)
      .where(col("token") =!= "")
      .select(groupCols.map(col) :+ col("token") :+
        lit(ca).as("__ca") :+ lit(cb).as("__cb"): _*)
    side(dfA, 1L, 0L).unionByName(side(dfB, 0L, 1L))
      .groupBy((groupCols :+ "token").map(col): _*)
      .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b"))
  }

  /** The monitoring family's token-side ADDITIVE sufficient statistic:
    * per-token counts, (token, n). profile(A ∪ B) == profile(A) +(token)
    * profile(B) — exact integers, order-free — which is what makes the
    * streaming maintenance loop
    * ([[graft.streaming.Fastlane.ingestTokenProfile]]) O(batch + touched
    * buckets): each arriving batch's counts merge-add into the stored
    * profile without re-touching the corpus. One keyed aggregation;
    * whitespace tokenization, empty tokens dropped — exactly
    * [[tokenDrift]]'s count pass, so a profile-served drift is identical
    * to the direct route. */
  def tokenProfile(df: DataFrame, textCol: String): DataFrame = df
    .select(explode(split(col(textCol), " ")).as("token"))
    .where(col("token") =!= "")
    .groupBy("token").agg(count(lit(1)).as("n"))

  /** [[tokenDrift]] computed from two STORED [[tokenProfile]] frames
    * instead of the corpora — the serving read of the streaming monitor:
    * the profile's per-token n IS the count the direct route aggregates,
    * so the answer is IDENTICAL to running tokenDrift over the corpora
    * the profiles summarize (spec- and oracle-asserted; q206 shares
    * q187's oracle verbatim). Inputs are re-aggregated by token first, so
    * concatenated partial profiles are also accepted. Cost: two
    * vocab-bounded scans — the corpora are never touched. */
  def tokenDriftFromProfiles(profA: DataFrame, profB: DataFrame,
      topM: Int): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    // ONE tagged-union vocab-keyed aggregation over BOTH stored profiles
    // (the [[tokenCountsBoth]] discipline applied to the serving route):
    // replaces two per-side re-aggregations + a full-outer join —
    // row-identical (a token present in either profile appears once with
    // both counts, absent side 0), and the per-side re-aggregation of
    // concatenated partial profiles rides the same single exchange.
    tokenDriftFromJoined(
      profA.select(col("token"), col("n").as("__ca"), lit(0L).as("__cb"))
        .unionByName(
          profB.select(col("token"), lit(0L).as("__ca"), col("n").as("__cb")))
        .groupBy("token")
        .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b")), topM)
  }

  /** The chi-square tail over a joined (token, n_a, n_b) frame — the
    * direct route feeds it from the one-pass [[tokenCountsBoth]], the
    * profile-served route from the equivalent tagged-union aggregation of
    * two stored profiles. */
  private def tokenDriftFromJoined(joined0: DataFrame,
      topM: Int): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // persisted (vocab-bounded): the totals branch and the scoring branch
    // both read it — without the cache each branch re-scans BOTH corpora
    // (measured 4 parquet scans where 2 suffice); the broadcast build of
    // `totals` materializes it before the scoring stages read it
    val joined = joined0.persistTracked()
    val totals = joined.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
    val diff = dec(col("n_a")) * dec(col("t_b")) - dec(col("n_b")) * dec(col("t_a"))
    // an EMPTY snapshot (t_a or t_b = 0 — e.g. the first crawl of a
    // monitoring pair) zeroes the denominator for every token; the
    // chi-square contribution is 0 by convention there (no distribution to
    // drift from), not a DIVIDE_BY_ZERO abort
    val contrib = when(col("t_a") === 0 || col("t_b") === 0, lit(0L))
      .otherwise(call_function("div",
        dec(lit(1000000L)) * diff * diff,
        (dec(col("n_a")) + dec(col("n_b"))) * dec(col("t_a")) * dec(col("t_b"))))
    val scoredAll = joined.crossJoin(broadcast(totals))
      .select(col("token"), col("n_a"), col("n_b"), contrib.as("chi2_micro"))
    TopK.global(scoredAll, topM,
      Seq(col("chi2_micro").desc, col("token").asc))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro").desc, col("token").asc)))
  }

  /** Token-drift ATTRIBUTION — the text-side twin of
    * [[graft.ops.Similarity.embeddingDriftAttribution]] (the "inspect the
    * exemplars driving the shift" step of drift debugging — Rabanser,
    * Günnemann & Lipton, NeurIPS 2019, arXiv:1810.11953): after
    * [[tokenDrift]] says WHICH tokens moved, this says WHICH documents
    * carry the movement. For each of the top-`topM` drifted tokens,
    * `direction` = sign(n_a·t_b − n_b·t_a) (+1: the token's RELATIVE
    * frequency was higher in snapshot A — it shrank/vanished; −1: it
    * grew), and the contributors are the top-`topK` documents BY
    * OCCURRENCE COUNT of that token from the side the mass sits on —
    * snapshot A's docs for a shrinking token (the pages that carried it),
    * snapshot B's for a growing one (the pages that introduced it). Ties →
    * smaller doc id. A zero-direction token (chi-square 0 inside the
    * top-M, or an empty snapshot) has no drift to attribute and emits no
    * rows. Exact integers end to end — the chi-square and direction are
    * [[tokenDrift]]'s formulas verbatim, so the attributed token set is
    * the monitor's own ranking (spec-asserted).
    *
    * Output: (token, chi2_micro, direction, rank, doc_id, n_occ,
    * contrib_rank), rank = the token's drift rank, contrib_rank 1..topK
    * per token.
    *
    * Scale shape: the vocab-keyed count pass per snapshot (map-side
    * partial collapse, [[tokenDrift]]'s shape), the ≤ topM drifted tokens
    * BROADCAST into each snapshot's occurrence pass — the explode prunes
    * against the broadcast BEFORE the (token, doc) aggregation, so the
    * exchange carries only the drifted tokens' occurrences — and the
    * per-token rank rides a WindowGroupLimit-prefiltered exchange. Four
    * corpus scans total (two count, two occurrence), none shuffling at
    * corpus width; the count pair rides ONE tagged-union aggregation and
    * the occurrence pair ONE tagged-union pass against a single top-M
    * broadcast (the per-side direction filter is a predicate on the
    * tag), halving the exchange/broadcast count at identical output.
    * Fusing count with occurrence passes would swap the vocab-bounded
    * count exchanges for (doc, token)-keyed ones — still a worse trade,
    * still not taken. */
  def tokenDriftAttribution(dfA: DataFrame, dfB: DataFrame, idCol: String,
      textCol: String, topM: Int, topK: Int): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // persisted (vocab-bounded): totals and scoring both read it
    val joined = tokenCountsBoth(dfA, dfB, textCol, Nil).persistTracked()
    val totals = joined.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
    val diff = dec(col("n_a")) * dec(col("t_b")) - dec(col("n_b")) * dec(col("t_a"))
    val contrib = when(col("t_a") === 0 || col("t_b") === 0, lit(0L))
      .otherwise(call_function("div",
        dec(lit(1000000L)) * diff * diff,
        (dec(col("n_a")) + dec(col("n_b"))) * dec(col("t_a")) * dec(col("t_b"))))
    val scored = joined.crossJoin(broadcast(totals))
      .select(col("token"), contrib.cast("long").as("chi2_micro"),
        when(diff > 0, 1).when(diff < 0, -1).otherwise(0).as("direction"))
    // persisted (<= topM rows): BOTH occurrence passes broadcast from it
    val top = TopK.global(scored, topM,
        Seq(col("chi2_micro").desc, col("token").asc))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro").desc, col("token").asc)))
      .where(col("direction") =!= 0)
      .persistTracked()
    // ONE occurrence pass over the tagged union: each side's rows join
    // the single top-M broadcast and the per-side direction filter is the
    // tag predicate — row-identical to the former per-side pair of
    // broadcast joins (direction ∈ {+1, −1} partitions the top rows)
    def tagged(df: DataFrame, d: Int) = df
      .select(lit(d).as("__d"), col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .where(col("token") =!= "")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("token")
      .orderBy(col("n_occ").desc, col("doc_id").asc)
    tagged(dfA, 1).unionByName(tagged(dfB, -1))
      .join(broadcast(top), Seq("token"))
      .where(col("direction") === col("__d"))
      .groupBy("token", "chi2_micro", "direction", "rank", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .select(col("token"), col("chi2_micro"), col("direction"), col("rank"),
        col("doc_id"), col("n_occ"))
      .withColumn("contrib_rank", row_number().over(w))
      .where(col("contrib_rank") <= topK)
  }

  /** SEGMENTED token drift — [[tokenDrift]] per group (source, language,
    * shard…): the monitoring question at 100 TB is rarely "did the corpus
    * drift" but "WHICH source drifted". Per group, the identical exact
    * chi-square over that group's own token distribution (each group's
    * totals are its own t_a/t_b — a group is its own two-sample test),
    * top-M drifted tokens per group. A group with either side empty
    * scores 0 everywhere (tokenDrift's empty-snapshot convention, applied
    * per group).
    *
    * Scale shape: the (group, token) count aggregations key their own
    * exchanges and the full-outer join reuses that partitioning. The
    * per-group totals are a `groupBy(group)` aggregation (map-side partial
    * collapse to one row per (task, group)) BROADCAST back over the scored
    * frame — NOT a `Window.partitionBy(group)` sum, which would buffer a
    * group's ENTIRE vocab-sized (group, token) slice in one window task
    * (the r15 structural watch item: a 10⁸-token vocab × few groups
    * funnels 10⁸ rows/task). With the broadcast, the scoring stays on the
    * (group, token) partitioning — fully parallel at ANY vocab/group
    * ratio — and the only group-keyed exchanges carry (a) the totals
    * partial aggregate (≤ groups·tasks rows) and (b) the rank window's
    * WindowGroupLimit-prefiltered rows (≤ topM·tasks per group;
    * plan-locked). `maxBroadcastGroups` bounds the broadcast build by a
    * LOUD in-plan guard (the `maxBroadcastAnchors` discipline) — one row
    * per group, so the default 2²² covers any realistic segmentation. */
  def tokenDriftByGroup(dfA: DataFrame, dfB: DataFrame, textCol: String,
      groupCol: String, topM: Int,
      maxBroadcastGroups: Long = 1L << 22): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    tokenDriftByGroupScoredJoined(
      tokenCountsBoth(dfA, dfB, textCol, Seq(groupCol)),
      groupCol, topM, maxBroadcastGroups).drop("direction")
  }

  /** SEGMENTED [[tokenProfile]] — the additive sufficient statistic per
    * group: (group, token, n) counts, additive under (group, token)-keyed
    * sum exactly like the global profile, which is what lets the streaming
    * maintenance loop
    * ([[graft.streaming.Fastlane.ingestTokenProfileByGroup]]) keep a
    * per-source vocabulary profile current at O(batch + touched buckets)
    * per micro-batch. A stored pair then serves
    * [[tokenDriftByGroupFromProfiles]] without re-touching the corpora —
    * the per-source drift dashboard reads profiles, same as the global
    * monitors. One keyed aggregation; tokenization is [[tokenDrift]]'s
    * count pass verbatim (whitespace split, empty tokens dropped). */
  def tokenProfileByGroup(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = df
    .select(col(groupCol), explode(split(col(textCol), " ")).as("token"))
    .where(col("token") =!= "")
    .groupBy(groupCol, "token").agg(count(lit(1)).as("n"))

  /** [[tokenDriftByGroup]] computed from two STORED
    * [[tokenProfileByGroup]] frames instead of the corpora — the serving
    * read of the segmented streaming monitor: the profile's per-(group,
    * token) n IS the count the direct route aggregates, so the answer is
    * IDENTICAL to running tokenDriftByGroup over the corpora the profiles
    * summarize (spec- and oracle-asserted; q212 shares q207's oracle
    * verbatim). Inputs are re-aggregated by (group, token) first, so
    * concatenated partial profiles are also accepted. Cost: two
    * vocab-bounded scans — the corpora are never touched at serve time. */
  def tokenDriftByGroupFromProfiles(profA: DataFrame, profB: DataFrame,
      groupCol: String, topM: Int,
      maxBroadcastGroups: Long = 1L << 22): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    // ONE tagged-union (group, vocab)-keyed aggregation over BOTH stored
    // profiles (the [[tokenCountsBoth]] discipline applied to the serving
    // route): replaces two per-side re-aggregations + a full-outer join —
    // row-identical on non-null keys, and NULL group keys MERGE under
    // groupBy semantics exactly as the direct route's aggregation does
    // (the former full-outer join never matched NULL = NULL and silently
    // split NULL-group rows per side, breaking the spec-asserted
    // direct ≡ profile-served identity — q207/q212 share an oracle).
    tokenDriftByGroupScoredJoined(
      profA.select(col(groupCol), col("token"),
          col("n").as("__ca"), lit(0L).as("__cb"))
        .unionByName(profB.select(col(groupCol), col("token"),
          lit(0L).as("__ca"), col("n").as("__cb")))
        .groupBy(groupCol, "token")
        .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b")),
      groupCol, topM, maxBroadcastGroups).drop("direction")
  }

  /** The per-group chi-square tail over a joined (group, token, n_a, n_b)
    * frame — the direct route feeds it from the one-pass
    * [[tokenCountsBoth]], the profile-served route from the equivalent
    * tagged-union aggregation of two stored profiles; the attribution op
    * reads the scored frame (incl. direction) directly. */
  private def tokenDriftByGroupScoredJoined(joined0: DataFrame,
      groupCol: String, topM: Int, maxBroadcastGroups: Long): DataFrame = {
    require(maxBroadcastGroups >= 1,
      s"maxBroadcastGroups must be >= 1, got $maxBroadcastGroups")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // persisted (vocab-bounded): the totals aggregation and the scoring
    // join both read it — uncached each branch re-counts BOTH corpora
    val joined = joined0.persistTracked()
    // persisted (one row per group): the guard's count and the broadcast
    // rows both read it inside the one build
    val totals0 = joined.groupBy(groupCol)
      .agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
      .persistTracked()
    val ngr = totals0.agg(count(lit(1)).as("__ng"))
    val totals = totals0.crossJoin(ngr)
      .select(col(groupCol),
        (col("t_a") + when(col("__ng") > maxBroadcastGroups,
          raise_error(concat(lit("tokenDriftByGroup: "), col("__ng"),
            lit(s" groups > maxBroadcastGroups=$maxBroadcastGroups — the " +
              "per-group totals broadcast one row per group; a group " +
              "column this wide is an id, not a segmentation — raise the " +
              "cap if the executors have the memory")))).otherwise(lit(0L))).as("t_a"),
        col("t_b"))
    val diff = dec(col("n_a")) * dec(col("t_b")) - dec(col("n_b")) * dec(col("t_a"))
    val contrib = when(col("t_a") === 0 || col("t_b") === 0, lit(0L))
      .otherwise(call_function("div",
        dec(lit(1000000L)) * diff * diff,
        (dec(col("n_a")) + dec(col("n_b"))) * dec(col("t_a")) * dec(col("t_b"))))
    val wr = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(col("chi2_micro").desc, col("token").asc)
    joined.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol), col("token"), col("n_a"), col("n_b"),
        contrib.cast("long").as("chi2_micro"),
        when(diff > 0, 1).when(diff < 0, -1).otherwise(0).as("direction"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= topM)
  }

  /** Vocabulary NOVELTY per group — the corpus-freshness monitor: what
    * fraction of snapshot B's token mass sits in tokens the group never
    * produced in snapshot A (new vocabulary = new entities, new topics,
    * or an upstream format change; a standard freshness/contamination
    * tripwire). Inputs are [[tokenProfileByGroup]] frames (so the monitor
    * is PROFILE-SERVED by construction — two stored profiles answer it
    * with zero corpus scans; concatenated partials re-aggregate). Output,
    * one row per group seen in B: (group, new_types, new_mass, types_b,
    * mass_b, novelty_micro) with novelty_micro = ⌊10⁶·new_mass/mass_b⌋ —
    * exact integers end to end.
    *
    * Scale shape: one (group, token)-keyed left join of the two
    * vocab-bounded profiles + one group-keyed aggregation — the corpora
    * are never touched. */
  def vocabularyNoveltyByGroup(profA: DataFrame, profB: DataFrame,
      groupCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val a = profA.groupBy(groupCol, "token").agg(sum("n").as("n_a"))
    val b = profB.groupBy(groupCol, "token").agg(sum("n").as("n_b"))
    b.join(a, Seq(groupCol, "token"), "left")
      .groupBy(groupCol)
      .agg(
        sum(when(col("n_a").isNull, 1L).otherwise(0L)).as("new_types"),
        sum(when(col("n_a").isNull, col("n_b")).otherwise(0L)).as("new_mass"),
        count(lit(1)).as("types_b"),
        sum("n_b").as("mass_b"))
      .select(col(groupCol), col("new_types"), col("new_mass"),
        col("types_b"), col("mass_b"),
        when(col("mass_b") === 0, lit(0L))
          .otherwise(call_function("div",
            dec(lit(1000000L)) * dec(col("new_mass")), dec(col("mass_b")))
            .cast("long")).as("novelty_micro"))
  }

  /** GLOBAL vocabulary novelty — [[vocabularyNoveltyByGroup]] without
    * the segmentation: what fraction of snapshot B's token mass sits in
    * tokens the corpus never produced in snapshot A. Inputs are
    * [[tokenProfile]] frames (token, n) — profile-served by
    * construction, so two stored profiles (or two store VERSIONS of a
    * maintained profile — the q223 time-travel pattern) answer it with
    * zero corpus scans; concatenated partials re-aggregate. Output: ONE
    * row (new_types, new_mass, types_b, mass_b, novelty_micro) with
    * novelty_micro = ⌊10⁶·new_mass/mass_b⌋ exact; an empty B side scores
    * 0 (the family convention).
    *
    * Scale shape: one token-keyed left join of two vocab-bounded
    * profiles collapsing to a 1-row aggregate — the corpora are never
    * touched. */
  def vocabularyNovelty(profA: DataFrame, profB: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val a = profA.groupBy("token").agg(sum("n").as("n_a"))
    val b = profB.groupBy("token").agg(sum("n").as("n_b"))
    b.join(a, Seq("token"), "left")
      .agg(
        coalesce(sum(when(col("n_a").isNull, 1L).otherwise(0L)), lit(0L))
          .as("new_types"),
        coalesce(sum(when(col("n_a").isNull, col("n_b")).otherwise(0L)),
          lit(0L)).as("new_mass"),
        count(lit(1)).as("types_b"),
        coalesce(sum("n_b"), lit(0L)).as("mass_b"))
      .select(col("new_types"), col("new_mass"), col("types_b"),
        col("mass_b"),
        when(col("mass_b") === 0, lit(0L))
          .otherwise(call_function("div",
            dec(lit(1000000L)) * dec(col("new_mass")), dec(col("mass_b")))
            .cast("long")).as("novelty_micro"))
  }

  /** Vocabulary-novelty TIMELINE — "WHEN did the new vocabulary arrive":
    * per time bucket, [[vocabularyNovelty]]'s statistic against one fixed
    * reference [[tokenProfile]] — (bucket_start, new_types, new_mass,
    * types_b, mass_b, novelty_micro), one row per non-empty bucket, with
    * novelty_micro = ⌊10⁶·new_mass/mass_b⌋ exact. `bucketProf` is a
    * (bucket_start, token, n) frame — [[graft.ops.Events
    * .bucketCategoryProfile]] over the exploded token stream (tokens ARE
    * categories, the q284 composition), so the same stored additive
    * statistic that serves the token-drift timeline serves this leg too,
    * and [[graft.streaming.Fastlane.ingestBucketCategoryProfile]]
    * maintains it O(batch). [[graft.ops.Events.timelineAnomalies]]
    * applies to the output verbatim after renaming novelty_micro →
    * chi2_micro ("which week's vocabulary influx is abnormal").
    * Concatenated partial profiles re-aggregate on both sides.
    *
    * Scale shape: one token-keyed left join of two bounded profiles
    * (buckets·vocab and vocab), collapsing to a buckets-bounded rollup —
    * the corpora are never touched. */
  def vocabularyNoveltyTimeline(bucketProf: DataFrame,
      refProfile: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val b = bucketProf.groupBy("bucket_start", "token")
      .agg(sum("n").as("n_b"))
    val a = refProfile.groupBy("token").agg(sum("n").as("n_a"))
    b.join(a, Seq("token"), "left")
      .groupBy("bucket_start")
      .agg(
        sum(when(col("n_a").isNull, 1L).otherwise(0L)).as("new_types"),
        sum(when(col("n_a").isNull, col("n_b")).otherwise(0L)).as("new_mass"),
        count(lit(1)).as("types_b"),
        sum("n_b").as("mass_b"))
      .select(col("bucket_start"), col("new_types"), col("new_mass"),
        col("types_b"), col("mass_b"),
        when(col("mass_b") === 0, lit(0L))
          .otherwise(call_function("div",
            dec(lit(1000000L)) * dec(col("new_mass")), dec(col("mass_b")))
            .cast("long")).as("novelty_micro"))
  }

  /** SEGMENTED [[vocabularyNoveltyTimeline]] — "when did SOURCE X's new
    * vocabulary arrive": per (group, bucket) the novelty statistic
    * against the GROUP'S OWN reference [[tokenProfileByGroup]] frame
    * (groupCol, token, n). `bucketProf` is (groupCol, bucket_start,
    * token, n) — [[graft.ops.Events.bucketCategoryProfileByGroup]] over
    * the token stream. A group absent from the reference counts ALL its
    * mass as novel (the honest reading: nothing was ever seen from it).
    * [[graft.ops.Events.timelineAnomaliesByGroup]] applies verbatim
    * after the rename. Joins are group-prefixed-keyed — scales with
    * group count, no cross-group mixing. */
  def vocabularyNoveltyTimelineByGroup(bucketProf: DataFrame,
      refProfile: DataFrame, groupCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val b = bucketProf.groupBy(col(groupCol), col("bucket_start"), col("token"))
      .agg(sum("n").as("n_b"))
    val a = refProfile.groupBy(col(groupCol), col("token"))
      .agg(sum("n").as("n_a"))
    b.join(a, Seq(groupCol, "token"), "left")
      .groupBy(col(groupCol), col("bucket_start"))
      .agg(
        sum(when(col("n_a").isNull, 1L).otherwise(0L)).as("new_types"),
        sum(when(col("n_a").isNull, col("n_b")).otherwise(0L)).as("new_mass"),
        count(lit(1)).as("types_b"),
        sum("n_b").as("mass_b"))
      .select(col(groupCol), col("bucket_start"), col("new_types"),
        col("new_mass"), col("types_b"), col("mass_b"),
        when(col("mass_b") === 0, lit(0L))
          .otherwise(call_function("div",
            dec(lit(1000000L)) * dec(col("new_mass")), dec(col("mass_b")))
            .cast("long")).as("novelty_micro"))
  }

  /** SEGMENTED [[tokenDriftAttribution]] — per group the same question:
    * for each of the group's top-M drifted tokens, WHICH documents carry
    * the movement (the group's own snapshot-A docs for a shrinking token,
    * its snapshot-B docs for a growing one), ranked by occurrence count,
    * ties → smaller id. The chi-square, totals, and ranks are
    * [[tokenDriftByGroup]]'s verbatim (shared scored frame), so the
    * attributed set IS the segmented monitor's. Zero-direction tokens
    * attribute nothing. Output: (group, token, chi2_micro, direction,
    * rank, doc_id, n_occ, contrib_rank).
    *
    * Scale shape: the ≤ groups·topM drifted rows BROADCAST into each
    * snapshot's occurrence pass — the (group, token) join prunes the
    * exploded stream BEFORE its (group, token, doc) exchange, so the
    * occurrence aggregation carries only drifted-token rows; the
    * contributor rank window is (group, token)-partitioned. Four corpus
    * scans, none shuffling at corpus width — the global op's shape with
    * group keys throughout. */
  def tokenDriftAttributionByGroup(dfA: DataFrame, dfB: DataFrame,
      idCol: String, textCol: String, groupCol: String, topM: Int,
      topK: Int, maxBroadcastGroups: Long = 1L << 22): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // persisted (≤ groups·topM rows): the one tagged occurrence pass
    // broadcasts it (count pair and occurrence pair each ride ONE
    // tagged-union pass — see tokenDriftAttribution)
    val top = tokenDriftByGroupScoredJoined(
        tokenCountsBoth(dfA, dfB, textCol, Seq(groupCol)),
        groupCol, topM, maxBroadcastGroups)
      .where(col("direction") =!= 0)
      .select(col(groupCol), col("token"), col("chi2_micro"),
        col("direction"), col("rank"))
      .persistTracked()
    def tagged(df: DataFrame, d: Int) = df
      .select(lit(d).as("__d"), col(groupCol), col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .where(col("token") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("token"))
      .orderBy(col("n_occ").desc, col("doc_id").asc)
    tagged(dfA, 1).unionByName(tagged(dfB, -1))
      .join(broadcast(top), Seq(groupCol, "token"))
      .where(col("direction") === col("__d"))
      .groupBy(groupCol, "token", "chi2_micro", "direction", "rank", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .select(col(groupCol), col("token"), col("chi2_micro"),
        col("direction"), col("rank"), col("doc_id"), col("n_occ"))
      .withColumn("contrib_rank", row_number().over(w))
      .where(col("contrib_rank") <= topK)
  }

  /** PII patterns, RE2-safe (no lookahead/backreferences) so the identical
    * literal pattern runs under Java regex AND RE2-based engines. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+[0-9][0-9 -]{7,}[0-9]"

  /** PII redaction: mask emails, IPv4 addresses, and international-format
    * phone numbers with typed placeholder tokens, and emit per-row hit flags
    * for audit sampling. Replacement order (email → ip → phone) is fixed so
    * overlapping matches resolve identically everywhere.
    *
    * Scale shape: pure codegen'd regexp projections — map-side, zero
    * shuffle, runs inside the scan's whole-stage-codegen span. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("has_email", col(textCol).rlike(EmailRe))
      .withColumn("has_ip", col(textCol).rlike(Ipv4Re))
      .withColumn("has_phone", col(textCol).rlike(PhoneRe))
      .withColumn(textCol,
        regexp_replace(regexp_replace(regexp_replace(col(textCol),
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))

  /** Corpus-self bigram language-model score per document — the CCNet-style
    * "how typical is this document of the corpus" quality signal. For every
    * bigram occurrence (w1, w2) the transition probability is
    * P(w2|w1) = c(w1,w2) / Σ_w c(w1,w), estimated from the corpus itself;
    * the document score is the mean over its bigram occurrences. High score ⇒
    * templated/predictable text, low score ⇒ unusual token transitions
    * (OCR noise, code, non-target language) — filterable from either end.
    *
    * Cross-engine exactness: each probability is fixed-pointed to an integer
    * micro-probability `round(1e6 · c_b/c_p)` — IEEE division and
    * multiplication are correctly rounded and round() is half-away-from-zero
    * in both engines for positive values, so the per-doc SUM is exact integer
    * arithmetic and the final mean is one deterministic division. (A log-prob
    * formulation would hang the oracle on ln(), which no engine guarantees
    * correctly rounded.)
    *
    * Scale shape: the corpus tokenizes and hashes ONCE into a persisted
    * `(doc_id, hp, hg)` occurrence frame (20 B/occurrence, disk-backed —
    * the cache replaces the r11 shape's full occurrence SHUFFLE, which was
    * the dominant cost). Both consumers read the cache: pass 1 collapses
    * occurrences map-side into the vocab²-bounded transition table (its
    * exchange carries per-task DISTINCT grams, never occurrences) which
    * BROADCASTS back over pass 2's occurrence scan — the only
    * occurrence-sized exchange left is the final per-doc rollup, partially
    * aggregated to one row per (task, doc). `maxBroadcastTransitions` is a
    * LOUD CONTRACT (the localDictLimit discipline), enforced IN-PLAN by a
    * scalar-count guard riding the broadcast build — not by a separate
    * driver-side count job, so the whole score is ONE action (the r12
    * shape paid a count job before every answer pass just to pick the join
    * side). A corpus whose vocab² outgrows any sane broadcast opts out
    * explicitly with `maxBroadcastTransitions = 0`: the table side then
    * shuffles into the occurrence side (keyed join), still one action.
    * Gram identity is the md5-per-token polynomial
    * rolling hash (TokenHashes/PolyRollHash scheme), reproduced exactly by
    * the oracle, so the rare collision produces identical results in both.
    *
    * Output: (doc_id, lm_micro_sum, n_bigrams, lm_score), one row per doc
    * (docs shorter than 2 tokens contribute their single token as its own
    * gram, same edge rule as [[Dedup.shingleStringsFromTokens]]).
    *
    * The occurrence frame and transition table persist via TrackedCache
    * (they outlive the returned frame); long-lived sessions release them
    * with `TrackedCache.release()` after materializing. */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
      maxBroadcastTransitions: Long = 1L << 22): DataFrame = {
    require(maxBroadcastTransitions >= 0,
      s"maxBroadcastTransitions must be >= 0 (0 = keyed-join opt-out), " +
        s"got $maxBroadcastTransitions")
    // token HASHES bound to a column before the HOF: interpreted lambda
    // bodies get no CSE, so indexing off an unbound expression would
    // re-evaluate it per element (the shingleStringsFromTokens pitfall —
    // measured 3x on this operator in its string-gram form)
    val th = col("__th")
    // (prefix-hash, bigram-hash) pairs off the ONE-md5-per-token hash array
    // (TokenHashes): the prefix hash IS the token hash, the bigram hash the
    // O(1) polynomial combine. The lambda body is interpreted but
    // integer-only (element_at on a bound long array — no crypto, no
    // re-split). 1-based index idiom shared with the SQL oracle twin;
    // 1-token docs emit the degenerate whole-text bigram (hg = hp),
    // matching the string-shingle family's edge rule.
    val pairs = transform(
      sequence(lit(1), greatest(lit(1), size(th) - 1)),
      i => struct(element_at(th, i).as("p"),
        when(size(th) < 2, element_at(th, i))
          .otherwise((element_at(th, i) * lit(Dedup.B) % lit(Dedup.P) +
            element_at(th, i + 1)) % lit(Dedup.P)).as("g")))
    val occ = df
      .select(col(idCol).as("doc_id"),
        Dedup.tokenHashes(Dedup.tokens(col(textCol))).as("__th"))
      .select(col("doc_id"), explode(pairs).as("__pg"))
      .select(col("doc_id"), col("__pg.p").as("__hp"), col("__pg.g").as("__hg"))
      // null hash ⇔ null text edge; a null key could never survive the
      // inner probability join anyway
      .where(col("__hp").isNotNull && col("__hg").isNotNull)
      .persistTracked()
    // pass 1: the transition-count table — partial aggregation collapses
    // each task's occurrences to its distinct grams BEFORE the exchange,
    // so the shuffle is vocab²-bounded no matter the corpus size
    val cb = occ.groupBy("__hp", "__hg").agg(count(lit(1)).as("__cb"))
      .persistTracked()
    val cp = cb.groupBy("__hp").agg(sum("__cb").as("__cp"))
    val probs = cb.join(cp, "__hp").select(col("__hp"), col("__hg"),
      round(lit(1000000.0) * (col("__cb").cast("double") / col("__cp").cast("double")))
        .cast("long").as("__micro"))
    val probsSide =
      if (maxBroadcastTransitions == 0L) probs
      else {
        // in-plan contract guard: the transition count rides the broadcast
        // build as a scalar branch off the cached cb frame — no separate
        // driver-side count job, loud failure instead of a silent
        // driver-OOM broadcast
        val nT = cb.agg(count(lit(1)).as("__ntrans"))
        broadcast(probs.crossJoin(nT)
          .select(col("__hp"), col("__hg"),
            (col("__micro") + when(col("__ntrans") > maxBroadcastTransitions,
              raise_error(concat(lit("bigramLmScore: transition table has "),
                col("__ntrans"),
                lit(s" rows > maxBroadcastTransitions=$maxBroadcastTransitions" +
                  " — raise the cap (bigger broadcast) or pass 0 to opt out" +
                  " into the keyed join")))).otherwise(lit(0L))).as("__micro")))
      }
    // pass 2: score every occurrence against the (usually broadcast)
    // probability table; ONE doc-keyed exchange, partially aggregated
    occ.join(probsSide, Seq("__hp", "__hg"))
      .groupBy("doc_id")
      .agg(sum(col("__micro")).as("lm_micro_sum"),
        count(lit(1)).as("n_bigrams"))
      .withColumn("lm_score",
        col("lm_micro_sum").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Corpus-level quality report: one row per language with quality stats. */
  def qualityReport(df: DataFrame, textCol: String, langCol: String): DataFrame =
    df.withColumn("__q", qualityFeatures(col(textCol)))
      .groupBy(col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__q.n_tokens")).as("total_tokens"),
        avg(col("__q.uniq_ratio")).as("avg_uniq_ratio"),
        avg(col("__q.stopword_ratio")).as("avg_stopword_ratio"))
}
