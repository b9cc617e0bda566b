package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline surface
  * (BASELINE.json north star; the reference has no scalar functions at
  * all, SURVEY.md §2.7). All built from codegen'd/JVM-native Spark
  * builtins — no Scala UDFs in the hot path, so whole-stage codegen
  * spans stay wide and everything scales linearly with input splits.
  */
object TextFunctions {

  /** Canonical form used by dedup: lowercase, collapse whitespace.
    * One-pass custom expression (no regex engine); equivalent to
    * `trim(regexp_replace(lower(text), "\\s+", " "))` on ASCII text. */
  def normalize(text: Column): Column =
    graft.functions.VectorFunctions.normalize_text(text)

  /** Whitespace tokenizer (empty string → empty array, not [""]). */
  def tokens(text: Column): Column =
    filter(split(normalize(text), " "), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count heuristic: words + punctuation clusters +
    * digit runs each count as a token. */
  def subwordCount(text: Column): Column =
    size(filter(
      split(lower(text), "(?<=[a-z0-9])(?=[^a-z0-9])|(?<=[^a-z0-9])(?=[a-z0-9])|\\s+"),
      t => length(trim(t)) > 0))

  /** GPT-2-style BPE pre-tokenizer pattern, lookahead-free so the same
    * pattern string evaluates identically under Java regex and RE2
    * (both use ordered leftmost-first alternation; no lookarounds, no
    * shorthand classes whose definitions differ between engines —
    * whitespace is the explicit class [ \t\n\r]). Alternatives, in
    * match-priority order: English contraction suffixes, optionally
    * space-prefixed letter runs, digit runs, punctuation runs, then
    * bare whitespace runs. */
  val BpePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r]+|[ \\t\\n\\r]+"

  /** BPE-style pre-tokenization (the segmentation step every byte-pair
    * tokenizer runs before merges): array of pre-token strings,
    * including whitespace-run tokens. Codegen'd builtin — the regex
    * scan stays inside the scan stage. */
  def bpePretokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePretokenPattern), lit(0))

  /** k-word shingles of the normalized text: array of space-joined
    * k-grams (first-occurrence-ordered distinct; < k tokens → the
    * whole normalized text as one gram). The unit MinHash/Jaccard
    * dedup operates on. One imperative codegen'd pass
    * ([[graft.functions.VectorFunctions.WordShingles]]) — the
    * equivalent builtin-HOF formulation re-tokenizes once per window
    * position in interpreted eval, an O(tokens × normalize) blowup on
    * the hottest scan of the decontamination family. */
  def wordShingles(text: Column, k: Int): Column =
    graft.functions.VectorFunctions.word_shingles(text, k)

  /** Overlapping token-window chunks — the windowing step an
    * embedding/RAG pipeline runs before vectorizing long documents:
    * windows of `chunkTokens` tokens advancing by
    * `chunkTokens − overlap`, the last window clamped at the end
    * (shorter, never empty); documents with no tokens produce no
    * chunks. Array of chunk strings per row — callers posexplode to
    * (chunk_id, chunk). Pure scan-stage builtins, no shuffle. */
  def tokenChunks(text: Column, chunkTokens: Int,
      overlap: Int): Column = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val step = chunkTokens - overlap
    val toks = tokens(text)
    val n = size(toks)
    // ceil((n − chunk)/step) + 1 in exact integer math
    // Column `/` is double division — floor+cast recovers the exact
    // integer quotient (operands are far below 2^53)
    val nChunks = when(n <= chunkTokens, 1)
      .otherwise(
        floor((n - chunkTokens + step - 1) / step).cast("int") + 1)
    // n = 0 guarded explicitly: sequence(0, -1) would count DOWN
    when(n === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * step + 1, lit(chunkTokens)))))
  }

  /** Character n-grams of the normalized text (distinct). */
  def charNgrams(text: Column, n: Int): Column = {
    val s = normalize(text)
    array_distinct(
      when(length(s) >= n,
        transform(sequence(lit(0), length(s) - n),
          i => s.substr(i + 1, lit(n))))
        .otherwise(array(s)))
  }

  /** Document fingerprint: stable 128-bit content hash of the canonical
    * text (md5 so an external SQL oracle can reproduce it). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** 64-bit rolling-ish fingerprint for fast grouping (xxhash64). */
  def fingerprint64(text: Column): Column = xxhash64(normalize(text))

  // --- Quality scoring -------------------------------------------------

  // Ratios are built on the one-pass TextStats census (no regex passes);
  // the formulas are exactly the regexp definitions they replaced:
  // punct = chars not matching [a-z0-9\s] on the lowercased text.
  private def census(text: Column): Column =
    graft.functions.VectorFunctions.text_stats(text)

  /** Fraction of characters that are not letters/digits/whitespace. */
  def punctRatio(text: Column): Column = {
    val st = census(text)
    val total = st.getField("n_chars").cast("double")
    val stripped = (st.getField("n_chars") - st.getField("n_alnum") -
      st.getField("n_ws")).cast("double")
    when(total > 0, stripped / total).otherwise(0.0)
  }

  def digitRatio(text: Column): Column = {
    val st = census(text)
    val total = st.getField("n_chars").cast("double")
    when(total > 0,
      st.getField("n_digit").cast("double") / total)
      .otherwise(0.0)
  }

  def avgWordLen(text: Column): Column = {
    val st = census(text)
    val n = st.getField("n_words").cast("double")
    when(n > 0,
      (st.getField("n_chars") - st.getField("n_ws")).cast("double") / n)
      .otherwise(0.0)
  }

  /** Stopword-hit ratio over the token stream (English list; a rough
    * fluency signal — word-salad text scores near 0). */
  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val sw = array(englishStopwords.map(lit): _*)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(sw, t))).cast("double") /
        size(toks).cast("double"))
      .otherwise(0.0)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation/digit noise and some stopword structure. Weights are
    * heuristic; the point is a deterministic, fully-distributed scoring
    * pipeline over builtins. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5)
    val digitScore = greatest(lit(0.0), lit(1.0) - digitRatio(text) * 5)
    val swScore = least(stopwordRatio(text) * 3, lit(1.0))
    lenScore * 0.3 + punctScore * 0.3 + digitScore * 0.2 + swScore * 0.2
  }

  // --- Repetition (Gopher-style quality filters) -----------------------

  /** Word bigram INSTANCES (not distinct — repetition and collocation
    * are about instances) of the normalized token stream; empty for
    * < 2 tokens. One imperative codegen'd pass
    * ([[graft.functions.VectorFunctions.WordBigrams]]) for the same
    * reason as [[wordShingles]]: the HOF formulation re-tokenized
    * once per position. */
  def wordBigrams(text: Column): Column =
    graft.functions.VectorFunctions.word_bigrams(text)

  /** Fraction of bigram instances whose bigram occurs more than once in
    * the document — the classic repeated-n-gram quality filter. A doc
    * looping one phrase scores near 1; natural text near 0. Per-row
    * builtins only (scan-stage, no shuffle). */
  def dupBigramFrac(text: Column): Column = {
    val b = wordBigrams(text)
    when(size(b) > 0,
      (size(b) - size(array_distinct(b))).cast("double") /
        size(b).cast("double"))
      .otherwise(0.0)
  }

  /** Occurrence count of the document's most frequent token, divided by
    * the token count — near 1 for degenerate "word word word ..." docs.
    * O(distinct·n) per row via higher-order builtins; documents are
    * bounded (they're rows), so this stays scan-stage and shuffle-free. */
  def topTokenFrac(text: Column): Column =
    // one imperative pass (VectorFunctions.TopTokenFrac): the
    // declarative aggregate-over-distinct form was O(distinct·n) AND
    // re-ran the tokenizer subtree once per distinct token
    graft.functions.VectorFunctions.top_token_frac(text)

  /** Distinct-token fraction (type/token ratio): low values mean a
    * small vocabulary stretched over a long doc — repetition's other
    * face. */
  def distinctTokenFrac(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
      .otherwise(0.0)
  }

  // --- Language ID -----------------------------------------------------

  /** Tiny per-language marker lexicons (top function words). Public
    * knowledge; enough for a coarse n-gram/stopword language-ID
    * heuristic over whitespace-tokenized text. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it",
      "for", "with", "was", "on", "are", "this", "have"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se",
      "las", "por", "un", "para", "con", "una"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "von", "sie", "ist",
      "des", "sich", "mit", "dem", "dass", "ein", "auf"),
    "fr" -> Seq("le", "de", "la", "et", "les", "des", "est", "une", "dans",
      "que", "pour", "qui", "sur", "pas", "plus"),
    "zh" -> Seq("de5", "le5", "shi4", "zai4", "he2", "you3", "wo3", "ta1",
      "zhe4", "men5", "bu4", "yi1", "ge4", "shang4", "ni3"))

  /** Language ID: argmax of marker-lexicon hits per language, 'und' when
    * nothing matches. Pure builtins (array_intersect over the token set),
    * so it runs inside the scan stage — no shuffle, no UDF. */
  def langId(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val scored = langMarkers.map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  // --- URL canonicalization --------------------------------------------

  /** CommonCrawl-style canonical URL key for corpus dedup: scheme
    * dropped, host lowercased with leading `www.` and default ports
    * stripped, `utm_*` tracking params and the fragment removed,
    * `/?` collapsed and the trailing slash trimmed. The step ORDER is
    * part of the contract (fragment before query surgery; `/?`
    * collapse before the trailing-slash trim). Built entirely from
    * codegen'd regexp builtins with RE2-compatible patterns (no
    * lookaround), so an external engine can replay the identical
    * pipeline — Spark's `regexp_replace` is replace-ALL; a replayer
    * whose default is first-match-only must pass its global flag. */
  def canonicalUrl(url: Column): Column = {
    val noScheme = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    val host = regexp_extract(noFrag, "^([^/?]+)", 1)
    val rest = regexp_replace(noFrag, "^[^/?]+", "")
    val hostCanon = regexp_replace(
      regexp_replace(lower(host), "^www\\.", ""), ":(80|443)$", "")
    val noUtm = regexp_replace(rest, "[?&]utm_[A-Za-z0-9_]*=[^&#]*", "")
    // a removed leading utm param leaves "&rest" — promote the first
    // '&' back to '?' (anchored, so only the separator is touched)
    val repaired = regexp_replace(noUtm, "^([^?&]*)&", "$1?")
    val noSlashQ = regexp_replace(repaired, "/\\?", "?")
    val noEmptyQ = regexp_replace(noSlashQ, "\\?$", "")
    val noTrail = regexp_replace(noEmptyQ, "/$", "")
    concat(hostCanon, noTrail)
  }
}
