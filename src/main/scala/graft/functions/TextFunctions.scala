package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Everything here is a composition of built-in (codegen'd) Spark SQL
  * functions or one of this package's native Catalyst expressions — no
  * Scala UDFs on the hot path, so whole-stage codegen stays intact over
  * 100 TB scans.
  */
object TextFunctions {

  /** THE portable whitespace class — the cross-engine tokenization
    * contract every oracle replays. Spelled as an explicit character
    * class because `\s` is NOT portable: Java's `\s` matches vertical
    * tab `\x0B`, RE2's (DuckDB's) does not, so a `\s`-built operator
    * and its oracle disagree on any document containing `\x0B`.
    * (`\x0B` is therefore a token character on every engine here.) */
  private val WhitespaceClass = "[ \\t\\n\\r\\f]+"

  /** Lowercased, whitespace-collapsed, trimmed text — the canonical form
    * fingerprints and exact dedup key on. Portable: uses
    * [[WhitespaceClass]], replayed by DuckDB bit-for-bit. */
  def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(c, WhitespaceClass, " ")))

  /** Whitespace tokenization, empty tokens removed. Portable: splits on
    * [[WhitespaceClass]], so every tokens-derived operator (shingles,
    * DSIR grams, Gopher rules, term drift, LM scores) recomputes
    * identically in external SQL. */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), WhitespaceClass), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count estimate: word-piece chunks of <=4 chars plus
    * punctuation splits — a deterministic proxy for tokenizer budgeting
    * (`ceil(len(word)/4)` summed over words). */
  def subwordCount(c: Column): Column =
    aggregate(
      tokens(c),
      lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long")
    )

  /** Exact content fingerprint: 64-bit hash of the normalized text. */
  def fingerprint(c: Column): Column = xxhash64(normalizeText(c))

  /** Portable 60-bit hash: the first 15 hex chars of `md5(x)` as a
    * BIGINT — always positive, and reproducible bit-for-bit by any
    * engine with `md5()` (`CAST('0x' || substring(md5(x), 1, 15) AS
    * BIGINT)` in DuckDB). The single source of the cross-engine hash
    * contract used by the portable simhash kernel, source mixing, and
    * shuffle keys; prefer [[fingerprint]] (xxhash64) when nothing
    * outside Spark needs to recompute the value. */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Order-sensitive rolling (polynomial) fingerprint over tokens:
    * `h = h * FNV_PRIME + hash(token)` — unlike [[fingerprint]] it can be
    * computed incrementally and distinguishes token order without
    * re-reading the document. */
  def rollingFingerprint(c: Column): Column = {
    // two independent 31-bit polynomial hashes (different primes/moduli)
    // combined into one 62-bit value: collision-safe at corpus scale,
    // while every intermediate stays < 2^52 (Spark 4 ANSI mode makes Long
    // wraparound an error, so the classic 64-bit polynomial is out)
    val hs = transform(tokens(c), t => xxhash64(t).bitwiseAND(lit(0xffffffffL)))
    val roll = aggregate(
      hs,
      struct(lit(2166136261L).as("h1"), lit(5381L).as("h2")),
      (acc, h) => struct(
        pmod(acc.getField("h1") * lit(1000003L) + h, lit(2147483647L)).as("h1"),
        pmod(acc.getField("h2") * lit(1100101L) + h, lit(2147483629L)).as("h2"))
    )
    roll.getField("h1") * lit(2147483629L) + roll.getField("h2")
  }

  /** Word n-gram shingles of the token stream (empty array when the
    * document has fewer than `n` tokens). Delegates to the native
    * one-pass [[graft.functions.WordNgrams]] kernel: the previous
    * transform/slice formulation re-evaluated the token split per gram
    * position (the lambda body's `ts` is not the lambda argument —
    * O(tokens²) interpreted work per row; replacing it cut q143 from
    * 3.66 s to 0.45 s at sf0.1). Token semantics are unchanged —
    * [[WhitespaceClass]] split, empties dropped, lowercased. */
  def wordShingles(c: Column, n: Int): Column = wordNgrams(c, n, lowercase = true)

  /** Character n-gram shingles of the normalized text. */
  def charShingles(c: Column, n: Int): Column = {
    val s = normalizeText(c)
    when(length(s) < n, array().cast("array<string>"))
      .otherwise(
        transform(sequence(lit(1), length(s) - (n - 1)), i => substring(s, i, lit(n))))
  }

  /** MinHash signature: k affine "permutations" over a single base hash
    * per shingle, minimum per permutation. One native codegen'd pass over
    * the shingle array (`MinHashImpl`); empty-shingle docs get
    * Long.MaxValue entries (never collide). */
  def minhashSignature(shingles: Column, k: Int, seed: Long = 42L): Column =
    FunctionBridge.column(
      MinHashSignature(FunctionBridge.expression(shingles), k, seed))

  /** LSH band keys straight from the shingle set: one minhash pass plus a
    * splitmix fold per band. Two docs sharing any band key are candidate
    * duplicates. */
  def minhashBandKeys(shingles: Column, bands: Int, rows: Int, seed: Long = 42L): Column =
    FunctionBridge.column(
      MinHashBandKeys(FunctionBridge.expression(shingles), bands, rows, seed))

  /** Hash per lowercased word n-gram, straight from the text — the dedup
    * hot path (no shingle strings materialized). */
  def wordShingleHashes(text: Column, n: Int, seed: Long = 42L): Column =
    FunctionBridge.column(
      WordShingleHashes(FunctionBridge.expression(text), n, seed))

  /** Hash per character n-gram of the normalized text. */
  def charShingleHashes(text: Column, n: Int, seed: Long = 42L): Column =
    FunctionBridge.column(
      CharShingleHashes(FunctionBridge.expression(text), n, seed))

  /** The nine counts behind the Gopher quality rules as one struct
    * (fields in [[GopherImpl.Fields]]), from one native pass over the
    * text lower-cased by Spark's own `lower`. A null text gives a null
    * struct. */
  def gopherCounts(text: Column): Column =
    FunctionBridge.column(GopherCounts(FunctionBridge.expression(lower(text))))

  /** Word n-gram STRINGS (single-space joined), one native pass — the
    * corpus-mining hot path (frequent n-grams); value-identical to the
    * split/slice/array_join formulation without its per-gram interpreted
    * lambdas. */
  def wordNgrams(text: Column, n: Int, lowercase: Boolean = true): Column =
    FunctionBridge.column(
      WordNgrams(FunctionBridge.expression(text), n, lowercase))

  /** `toks` minus the 0-based indices in the sorted `drops` array — one
    * native merge walk (see [[graft.functions.SpanImpl]]). */
  def keepTokensExcept(toks: Column, drops: Column): Column =
    FunctionBridge.column(
      KeepTokensExcept(FunctionBridge.expression(toks), FunctionBridge.expression(drops)))

  /** LSH band keys from pre-hashed shingles. */
  def minhashBandKeysFromHashes(hashes: Column, bands: Int, rows: Int, seed: Long = 42L): Column =
    FunctionBridge.column(
      MinHashBandKeysFromHashes(FunctionBridge.expression(hashes), bands, rows, seed))

  /** Jaro–Winkler similarity (native codegen'd kernel; DuckDB-parity
    * byte semantics — see [[JaroWinklerImpl]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    FunctionBridge.column(
      JaroWinklerSim(FunctionBridge.expression(a), FunctionBridge.expression(b)))

  /** Plain Jaro similarity (no prefix boost). */
  def jaroSim(a: Column, b: Column): Column =
    FunctionBridge.column(
      JaroSim(FunctionBridge.expression(a), FunctionBridge.expression(b)))

  /** Distinct-element Jaccard of two `array<long>` columns (native). */
  def jaccardHashes(a: Column, b: Column): Column =
    FunctionBridge.column(
      JaccardLongs(FunctionBridge.expression(a), FunctionBridge.expression(b)))

  /** 64-bit SimHash of the document (native expression: tokenize + hash +
    * bit-vote in one codegen'd pass over the raw text). */
  def simhash(c: Column, seed: Long = 42L): Column =
    FunctionBridge.column(SimHashText(FunctionBridge.expression(c), seed))

  /** SimHash over a pre-tokenized string array. */
  def simhashTokens(toks: Column): Column =
    FunctionBridge.column(SimHash64(FunctionBridge.expression(toks)))

  /** Band keys from a packed signature — single expression so the
    * signature child evaluates once per row (CollapseProject would
    * otherwise inline it into every per-band shift). */
  def bandKeysFromSimhash(sh: Column, bandBits: Int, nBands: Int): Column =
    FunctionBridge.column(
      BandKeysFromSimhash(FunctionBridge.expression(sh), bandBits, nBands))

  /** Jaccard similarity of two string arrays (distinct-element). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val uni = size(array_union(da, db)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  // --- language identification (n-gram / stopword heuristic) ---

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un", "por", "una"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et", "un", "une", "du", "que"),
    "it" -> Seq("il", "di", "che", "la", "per", "un", "con", "del", "una", "non")
  )

  /** Heuristic language ID: CJK scripts by codepoint class, otherwise the
    * stopword profile with the highest hit count; `und` when nothing
    * matches. Deterministic, single pass, no UDF. */
  def langId(c: Column): Column = {
    val ts = tokens(c)
    val scores = langProfiles.map { case (lang, stops) =>
      lang -> size(filter(ts, t => t.isin(stops.map(x => x: Any): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    when(c.rlike("[\\p{IsHan}]"), lit("zh"))
      .when(c.rlike("[\\p{IsHiragana}\\p{IsKatakana}]"), lit("ja"))
      .when(c.rlike("[\\p{IsHangul}]"), lit("ko"))
      .when(c.rlike("[\\p{IsCyrillic}]"), lit("ru"))
      .otherwise(pick)
  }

  // --- quality scoring ---

  /** Ratio of alphabetic characters to total length (0 for empty). */
  def alphaRatio(c: Column): Column = {
    val len = length(c).cast("double")
    when(len === 0.0, lit(0.0))
      .otherwise(length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") / len)
  }

  /** Ratio of punctuation characters to total length. */
  def punctRatio(c: Column): Column = {
    val len = length(c).cast("double")
    when(len === 0.0, lit(0.0))
      .otherwise(
        length(regexp_replace(c, "[^.,;:!?'\"()\\[\\]-]", "")).cast("double") / len)
  }

  /** Fraction of tokens that are common-English stopwords — a fluency
    * proxy (garbage text has near-zero stopword density). */
  def stopwordRatio(c: Column): Column = {
    val stops = langProfiles.flatMap(_._2).distinct
    val ts = tokens(c)
    when(size(ts) === 0, lit(0.0))
      .otherwise(
        size(filter(ts, t => t.isin(stops.map(x => x: Any): _*))).cast("double") /
          size(ts).cast("double"))
  }

  def meanWordLength(c: Column): Column = {
    val ts = tokens(c)
    when(size(ts) === 0, lit(0.0))
      .otherwise(
        aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          size(ts).cast("double"))
  }

  /** Composite document-quality score in [0,1]: length sufficiency,
    * alphabetic density, sane mean word length, low punctuation noise.
    * Deterministic; thresholds follow common web-corpus filters
    * (Gopher/C4-style rules, re-expressed as smooth ratios). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val lengthOk = least(nTok / 50.0, lit(1.0)) // saturates at 50 tokens
    val alpha = alphaRatio(c)
    val mwl = meanWordLength(c)
    val mwlOk = when(mwl >= 3.0 && mwl <= 10.0, lit(1.0)).otherwise(lit(0.0))
    val punctOk = lit(1.0) - least(punctRatio(c) * 4.0, lit(1.0))
    round((lengthOk * 0.3 + alpha * 0.3 + mwlOk * 0.2 + punctOk * 0.2), 6)
  }

  // --- repetition signals (Gopher/C4-style quality filters) ---

  /** Fraction of word occurrences that are repeats of an earlier word in
    * the same document: `1 − distinct/total` — near 0 for natural prose,
    * near 1 for keyword-stuffed or looping generations. The 1-gram case
    * of [[dupNgramFraction]], so both signals share ONE tokenizer (the
    * native hashed-shingle kernel — single codegen'd pass, no
    * interpreted higher-order functions on the scan path). */
  def dupWordFraction(c: Column): Column = dupNgramFraction(c, 1)

  /** Same signal over word n-grams (default 3): repeated PHRASES, the
    * stronger degeneracy marker (boilerplate, template spam, decoding
    * loops), computed on the hashed-shingle kernel — no n-gram strings
    * materialize. */
  def dupNgramFraction(c: Column, n: Int = 3): Column = {
    val sh = wordShingleHashes(c, n)
    val cnt = size(sh).cast("double")
    when(cnt === 0.0, lit(0.0))
      .otherwise(round(lit(1.0) - size(array_distinct(sh)) / cnt, 6))
  }

  // --- PII redaction ---

  /** Email address pattern — deliberately lookahead-free so the same
    * pattern runs identically under Java regex (Spark) and RE2 (DuckDB,
    * Hyperscan-style scanners at scale). */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-number-ish pattern: international prefix optional, 7+ digits
    * with common separators. Conservative on purpose — a corpus scrubber
    * prefers false positives over leaked numbers. */
  val phonePattern: String = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Redact emails then phone numbers with `token` — the minimal
    * column-level PII scrub (2 classes, one untyped token) for inline
    * use in expressions. The OPERATOR-level audit —
    * [[graft.operators.Quality.piiScan]]/`piiRedact` — covers 5 classes
    * with typed placeholders and per-class counts; this stays the
    * lightweight expression form. Pure column expression (codegen'd
    * `regexp_replace`), no UDF. */
  def redactPII(c: Column, token: String = "[PII]"): Column =
    regexp_replace(
      regexp_replace(c, lit(emailPattern), lit(token)),
      lit(phonePattern), lit(token))

  /** Count of PII matches per document (emails + phones) — the audit
    * metric that decides whether a source needs review. Emails are
    * blanked with `;` — a character OUTSIDE the phone charclass
    * `[0-9()\- ]`, so digit runs on either side of a removed email can
    * never merge into one phone match (a space WOULD merge them, and
    * would disagree with [[redactPII]], whose `[PII]` token also blocks
    * merging). Pass order mirrors [[redactPII]]. */
  def piiCount(c: Column): Column =
    regexp_count(c, lit(emailPattern)) +
      regexp_count(regexp_replace(c, lit(emailPattern), lit(";")), lit(phonePattern))

  // --- URL / domain signals (web-corpus provenance) ---

  /** URL pattern — lookahead-free like [[emailPattern]] so Java regex and
    * RE2 agree character-for-character. */
  val urlPattern: String = "https?://[A-Za-z0-9.-]+[A-Za-z0-9./_%-]*"

  /** All URLs in the document as `array<string>` (codegen'd
    * `regexp_extract_all`). */
  def urls(c: Column): Column = regexp_extract_all(c, lit(urlPattern), lit(0))

  /** Host/domain of a single URL column (empty string when malformed) —
    * pair with `explode(urls(c))` so the regex runs codegen'd per URL,
    * not interpreted inside a lambda. */
  def urlDomain(u: Column): Column =
    lower(regexp_extract(u, "https?://([A-Za-z0-9.-]+)", 1))


  /** Shannon entropy (nats) of the document's unigram distribution — the
    * cheap gibberish/repetition signal: near-0 for "spam spam spam",
    * ≈ log(n_tokens) for all-distinct text. Native codegen'd single
    * hash-map pass; tokenization matches [[tokens]] (lowercased explicit
    * whitespace class, empties dropped) so DuckDB replays it by
    * unnest-group-sum. */
  def unigramEntropy(c: Column): Column =
    FunctionBridge.column(UnigramEntropy(FunctionBridge.expression(c)))

  /** Type-token ratio (distinct/total tokens; 0 for empty docs) — the
    * classic lexical-diversity quality signal, pure column expression. */
  def typeTokenRatio(c: Column): Column = {
    val ts = tokens(c)
    when(size(ts) === 0, lit(0.0))
      .otherwise(size(array_distinct(ts)).cast("double") / size(ts).cast("double"))
  }

  /** Every parent-domain suffix of a dotted hostname — `a.b.example.com`
    * → `[a.b.example.com, b.example.com, example.com, com]` — the shape
    * domain blocklists match on (listing `example.com` blocks every
    * subdomain). Pure array expression over the already-extracted
    * [[urlDomain]]; empty/dotless input yields the input itself. */
  def domainSuffixes(domain: Column): Column = {
    val parts = split(domain, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
  }

  /** Unicode normalization (UAX #15) — the canonical-form pass that must
    * run before ANY text hashing: precomposed "é" (U+00E9) and
    * "e"+U+0301 are byte-different, so exact dedup, minhash shingles and
    * token counts silently disagree on un-normalized text. `form` is one
    * of NFC/NFD/NFKC/NFKD (NFC for dedup keys; NFKC additionally folds
    * compatibility forms — ligatures, fullwidth letters, superscripts —
    * for token-level matching). Codegen'd native expression with an
    * allocation-free already-normalized fast path. */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column = {
    val ord = java.text.Normalizer.Form.valueOf(form.toUpperCase).ordinal
    FunctionBridge.column(UnicodeNormalize(FunctionBridge.expression(c), ord))
  }

  /** U+FFFD replacement characters — each one is a byte sequence some
    * upstream decoder could not read (a hard decode failure, not a
    * style issue). Codegen'd regexp count; the literal is RE2-safe. */
  def replacementCharCount(c: Column): Column =
    regexp_count(c, lit("�")).cast("long")

  /** Classic UTF-8-read-as-Latin-1/cp1252 mojibake digraphs ("Ã©" for
    * é, "â€™" for ', "Â°" for °, …): the high-frequency artifacts of
    * the single most common encoding mistake in web corpora. A curated
    * alternation of literal digraphs — lookahead-free, so Java regex
    * and RE2 count identically code-point for code-point. */
  val mojibakePattern: String = "Ã[©¨¤¶¼±§³ª]|â€[™œ“”–—]|Â[°»«·]"

  def mojibakeCount(c: Column): Column =
    regexp_count(c, lit(mojibakePattern)).cast("long")

  /** C0/C1 control characters (excluding \t \n \r \f, which the
    * tokenizer treats as whitespace) — binary junk that leaked into a
    * text column. */
  val controlCharPattern: String =
    "[\\x00-\\x08\\x0B\\x0E-\\x1F\\x{007F}-\\x{009F}]"

  def controlCharCount(c: Column): Column =
    regexp_count(c, lit(controlCharPattern)).cast("long")

  /** Any encoding anomaly present — the pre-training sweep predicate
    * (route suspects to re-decoding or drop them). */
  def encodingSuspect(c: Column): Column =
    (replacementCharCount(c) > 0) || (mojibakeCount(c) > 0) ||
      (controlCharCount(c) > 0)

  /** Canonical form of a single URL column — THE key for URL-level
    * dedup of a web corpus (the same page crawled twice differs only in
    * tracking params, fragment, host case, or a default port):
    *
    *  1. scheme+host lowercased (path/query case preserved);
    *  2. `#fragment` dropped;
    *  3. tracking params dropped case-insensitively (`utm_*`, `fbclid`,
    *     `gclid`, `msclkid`, `igshid`, `mc_cid`, `mc_eid` — `UTM_SOURCE`
    *     is the same tracker) with separator cleanup, other params left
    *     in their original order;
    *  4. default ports dropped (`:80` for http, `:443` for https);
    *  5. a bare-root trailing slash dropped (`http://a.com/` →
    *     `http://a.com`).
    *
    * Pure chained `regexp_replace` — codegen'd, zero UDFs, and every
    * pattern is lookahead-free so RE2 (DuckDB) replays it
    * character-for-character. Non-URL input passes through with only
    * the fragment/separator cleanups applied (garbage stays garbage —
    * filter with [[urls]] upstream). */
  def canonicalizeUrl(u: Column): Column = {
    val pfx = "(?i)^(https?://[^/?#]+)"
    val lowered = concat(lower(regexp_extract(u, pfx, 1)),
      regexp_replace(u, pfx, ""))
    val noFrag = regexp_replace(lowered, "#.*", "")
    // (?i): trackers are matched case-insensitively like the scheme/host
    // normalization — 'UTM_SOURCE=x' is the same tracker as 'utm_source=x'
    // (inline flag is RE2-safe, so DuckDB replays it identically)
    val noTrack = regexp_replace(noFrag,
      "(?i)([?&])(?:utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid)=[^&#]*",
      "$1")
    val sep1 = regexp_replace(noTrack, "\\?&+", "?")
    val sep2 = regexp_replace(sep1, "&&+", "&")
    val sep3 = regexp_replace(sep2, "[?&]+$", "")
    val port1 = regexp_replace(sep3, "^(http://[^/?#:]+):80([/?]|$)", "$1$2")
    val port2 = regexp_replace(port1, "^(https://[^/?#:]+):443([/?]|$)", "$1$2")
    regexp_replace(port2, "^(https?://[^/?#]+)/$", "$1")
  }
}
