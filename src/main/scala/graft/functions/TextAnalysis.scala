package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines
  * (SURVEY.md §7.6.3 + north-star mandate): language ID, quality scoring,
  * token counting, fingerprinting.
  *
  * Everything here is a pure `Column` expression built from
  * `org.apache.spark.sql.functions` — codegen'd, whole-stage-compatible, no
  * UDFs — so a 100 TB scan stays a single narrow pipelined stage.
  */
object TextAnalysis {

  /** Canonical normalization: lowercase, collapse every non-alphanumeric
    * run to a single space, trim. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword-piece count: words, digit runs, and individual
    * punctuation marks each count as a piece — the usual pre-tokenizer
    * regex shape (letters | digits | single non-space symbol). */
  def bpeIshTokenCount(c: Column): Column =
    coalesce(regexp_count(c, lit("""[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]""")), lit(0))

  /** Distinct word n-gram shingles of the normalized text (the unit of
    * n-gram Jaccard / MinHash dedup). Guarded: Spark's `sequence(1, n)`
    * with n < 1 would produce a DESCENDING range, so short texts map to an
    * empty array explicitly. */
  def shingles(c: Column, n: Int): Column = {
    val t = tokens(c)
    val grams = transform(
      sequence(lit(1), size(t) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(t, i + lit(o))): _*))
    array_distinct(when(size(t) >= n, grams).otherwise(array()))
  }

  /** Deterministic content fingerprint of normalized text (md5 hex —
    * portable across engines, used by exact content-dedup). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** 64-bit rolling-hash fingerprint (xxhash64) — cheaper join key than the
    * hex md5 when the fingerprint only needs to be compared, not displayed. */
  def fingerprint64(c: Column): Column = xxhash64(normalizeText(c))

  // ── language ID ───────────────────────────────────────────────────────

  /** Stopword lists per language — the [[LangProfiles]] single source
    * (oracle SQL for the stopword-based gates is GENERATED from it —
    * no-drift). Kept as an alias: older call sites and the gopher rule
    * generator read `TextAnalysis.stopwords`. */
  private[graft] val stopwords: Map[String, Seq[String]] = LangProfiles.stopwords

  /** Tracked-script codepoint ratio (script-rule family). */
  private def scriptRatio(c: Column, javaClass: String): Column =
    coalesce(regexp_count(c, lit(s"[$javaClass]")), lit(0)).cast("double") /
      greatest(length(c), lit(1))

  /** Per-language stopword hit count (multiplicity-aware: filter, not
    * set-intersect — "the the the" is 3 English votes). */
  private def stopwordHits(toks: Column, lang: String): Column = {
    val stops = array(stopwords(lang).map(lit): _*)
    size(filter(toks, t => array_contains(stops, t)))
  }

  /** Heuristic language ID — the Column REFERENCE form of the
    * [[LangIdUtil]] kernel (TextAnalysisSpec pins the equivalence), both
    * generated from [[LangProfiles]]: the ordered script-ratio rules
    * decide first (ja/ko/zh/ru/ar/he/el/hi/th — scripts no word
    * tokenizer can vote on; ja before zh because Japanese carries
    * Han), then argmax of stopword votes over the SCRIPT-AWARE tokens
    * (ml ≡ Latin on ASCII; diacritic Latin languages vote on their true
    * words — see the kernel's note). Deterministic ties: highest vote,
    * then language code; "und" when nothing matches. Requires
    * [[GraftFunctions.register]] (the ml tokenizer is a registered
    * kernel). */
  def langId(c: Column): Column = {
    val toks = GraftFunctions.normTokensMl(c)
    val scored = array(stopwords.keys.toSeq.sorted.map { lang =>
      struct(stopwordHits(toks, lang).as("score"), lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    val voted = when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
    LangProfiles.scriptRules.foldRight(voted) { (r, acc) =>
      when(scriptRatio(c, r.javaClass) > r.threshold, lit(r.code)).otherwise(acc)
    }
  }

  // ── PII redaction ─────────────────────────────────────────────────────

  /** Patterns kept to the regex subset whose semantics agree between Java's
    * engine and RE2-family engines (character classes, word boundaries,
    * greedy bounded repetition — no backrefs, no lookaround), so the same
    * redaction can be cross-checked in any SQL engine. Order matters:
    * emails and URLs are consumed first so their digit runs can't be
    * re-matched downstream; SSN-shaped ids before phones (an SSN is also a
    * phone-shaped digit run); placeholders contain no digits, so earlier
    * replacements never feed later patterns. The URL class stops at ANY
    * whitespace (`[^\s]` — a bare `[^ ]` would swallow text across
    * newlines/tabs).
    *
    * The email LOCAL part is bounded at RFC 5321's 64-char maximum — not
    * (only) for fidelity, for TIME: an unbounded `[…]+@` makes Java's
    * backtracking engine re-consume the tail of every alphanumeric run
    * from each start position when no `@` follows, O(n²) over the run —
    * and base64 blobs are pure email-local-class characters (measured:
    * 204 s on a 200 KB run; a 1 MB blob ≈ an hour of one executor core).
    * Bounded at 64 the scan is O(64·n). The domain side stays unbounded:
    * its scan stops at the next `@`-free run boundary, so its total cost
    * is linear. The phone class is also safe as written: an all-digit
    * run MATCHES (consumed, scan advances), so there is no quadratic
    * failure tail (measured 0 ms on the same sizes). */
  private[graft] val piiClasses: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^\\s]+"                                -> "<URL>",
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"            -> "<IP>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"                -> "<SSN>",
    "\\+?[0-9][0-9()\\- ]{6,}[0-9]"                   -> "<PHONE>")

  /** Word-BLOCKLIST gate (the C4-style badwords filter): TRUE iff the
    * normalized token stream contains ANY word from `words`. Token-exact
    * membership — "class" never trips a "lass" entry, unlike the naive
    * substring/regex-alternation form, which also goes quadratic on long
    * lists — computed as `arrays_overlap` between the native tokenizer's
    * output and a literal array: a narrow codegen'd predicate in the
    * scan stage, no shuffle, no regex engine anywhere. Filter with
    * `df.where(!containsBlockedWord(col, words))`.
    *
    * Every entry is normalized under the SAME rule as the tokenizer
    * (Locale.ROOT lowercase, non-[a-z0-9] stripped) — an entry the
    * tokenizer could never emit would otherwise sit silently inert in
    * the list. Entries that normalize to multiple tokens ("blue waffle")
    * or to nothing are REJECTED loudly: single-token membership cannot
    * express phrase matches, and pretending otherwise passes exactly the
    * documents the list exists to stop. Uses the registry-resolved
    * `norm_tokens` kernel: call [[GraftFunctions.register]] on the
    * session first (idempotent), as every native-kernel consumer does. */
  def containsBlockedWord(c: Column, words: Seq[String],
      tok: Tok = Tok.Latin): Column = {
    require(words.nonEmpty, "containsBlockedWord: empty blocklist")
    // entries normalize through the SAME kernel the stream uses (driver-
    // side call — guaranteed agreement; under Tok.Ml a zh entry is its
    // per-codepoint token, so single-ideograph entries gate exactly)
    val normed = words.map { w =>
      val ts = kernelTokens(w, tok)
      require(ts.length == 1,
        s"containsBlockedWord: entry '$w' normalizes to " +
          s"[${ts.mkString(" ")}] — not a single token; the gate matches " +
          "single normalized tokens only (split phrases into their " +
          "rarest token or use a span check)")
      ts.head
    }
    arrays_overlap(tok.tokens(c), lit(normed.toArray))
  }

  /** Driver-side normalization of a blocklist entry via the SAME kernel
    * the gate's stream column evaluates — agreement by construction. */
  private def kernelTokens(w: String, tok: Tok): Seq[String] = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(w)
    (tok match {
      case Tok.Ml => ShingleUtil.normTokensMl(u)
      case _ => ShingleUtil.normTokens(u)
    }).toSeq.map(_.toString)
  }

  /** PHRASE-blocklist gate — the span check [[containsBlockedWord]]'s
    * contract points multi-token entries at: TRUE iff the normalized
    * token stream contains ANY listed phrase as a CONTIGUOUS token run.
    * Same exactness guarantees as the word gate ("blue waffle" never
    * trips on "blue waffles iron" — the run must match token-for-token;
    * no substring false hits, no regex engine), computed as
    * `arrays_overlap` between the native n-gram stream and a literal
    * phrase array, ONE pass per distinct phrase LENGTH in the list (a
    * list of 500 two-word phrases is one array check; mixed lengths add
    * one check per length). Entries normalize under the tokenizer's
    * rule; single-token entries are accepted (n=1 degrades to the word
    * gate) and entries that normalize to nothing are rejected loudly.
    * Narrow codegen'd predicate — same scan-stage shape as the word
    * gate. Filter with `df.where(!containsBlockedPhrase(col, phrases))`. */
  def containsBlockedPhrase(c: Column, phrases: Seq[String],
      tok: Tok = Tok.Latin): Column = {
    require(phrases.nonEmpty, "containsBlockedPhrase: empty blocklist")
    val normed = phrases.map { p =>
      val ts = kernelTokens(p, tok)
      require(ts.nonEmpty,
        s"containsBlockedPhrase: entry '$p' normalizes to nothing — it " +
          "could never match any tokenizer output")
      ts.mkString(" ")
    }
    normed.groupBy(_.count(_ == ' ') + 1).toSeq.sortBy(_._1)
      .map { case (n, group) =>
        val stream =
          if (n == 1) tok.tokens(c)
          else tok.ngrams(c, n)
        arrays_overlap(stream, lit(group.distinct.toArray))
      }
      .reduce(_ || _)
  }

  /** Redact emails, URLs, IP addresses, SSN-shaped ids, and phone-shaped
    * digit runs to typed placeholder tokens — the standard pre-training
    * scrub pass. Pure codegen'd `regexp_replace` chain: one narrow scan at
    * corpus scale. */
  def redactPii(c: Column): Column =
    piiClasses.foldLeft(c) { case (acc, (re, tag)) => regexp_replace(acc, re, tag) }

  /** Count of PII matches a redaction pass would replace (audit metric) —
    * each class counted on the text with all EARLIER classes already
    * redacted, mirroring [[redactPii]]'s consumption order. */
  def piiMatchCount(c: Column): Column =
    piiClasses.indices.map { i =>
      val prior = piiClasses.take(i).foldLeft(c) {
        case (acc, (re, tag)) => regexp_replace(acc, re, tag)
      }
      coalesce(regexp_count(prior, lit(piiClasses(i)._1)), lit(0))
    }.reduce(_ + _)

  // ── HTML stripping / text normalization ──────────────────────────────

  /** Ordered (pattern, replacement) stages of [[stripHtml]] — one table
    * drives BOTH the Spark chain and the DuckDB oracle (the piiClasses
    * discipline: generated, so they cannot drift). Patterns stay in the
    * Java ∩ RE2 regex subset (inline `(?is)` flags, non-greedy `.*?`, no
    * backrefs/lookaround). Order is load-bearing:
    *  - script/style blocks (CONTENT included) go first — their bodies
    *    legally contain `<`/`>` that must not be parsed as tags (`var x =
    *    1 < 2`), and a generic tag pass would strip only their markers;
    *  - an UNTERMINATED script/style block (truncated crawl) then strips
    *    to end-of-input — browser semantics: everything after the opener
    *    is script, not content (without this, a truncated page's whole
    *    script tail survived as "text");
    *  - comments next (may contain tag-shaped text);
    *  - then every remaining tag, open or close. The attribute part
    *    matches quoted values as units (`"[^"]*"|'[^']*'|[^>"']`), so a
    *    `>` INSIDE an attribute value (`<a title="a>b">`) stays part of
    *    the tag instead of terminating it early. The catch-all class
    *    EXCLUDES quote characters — the alternatives are genuinely
    *    disjoint on their first character, so an unterminated tag
    *    containing quotes (a truncated crawl page) fails to match in
    *    linear time instead of backtracking exponentially (a bare
    *    `[^>]` catch-all overlaps the quote branches: each quote then
    *    doubles the search space, ~2^(k/2) steps for k quotes);
    *  - entities decode LAST, `&amp;` after the angle-bracket entities —
    *    single-decode semantics: `&amp;lt;` means the four characters
    *    `&lt;`, not `<`, exactly as a browser renders it. Decoding after
    *    tag removal also means a decoded `&lt;p&gt;` can never be eaten
    *    by the tag pass.
    *
    * Known limits of the regex subset (deliberate — a streaming HTML5
    * parser is not expressible as a regexp chain): CDATA sections and
    * malformed nesting degrade to the generic tag pass; an unquoted
    * attribute value containing `>` terminates its tag early; a tag
    * whose quote is never closed before `>` does not match at all and
    * survives as text (the price of the disjoint classes above — the
    * right trade, since the alternative is an executor stalled for
    * hours on one truncated page). */
  private[graft] val htmlStripStages: Seq[(String, String)] = Seq(
    "(?is)<script\\b[^>]*>.*?</script\\s*>"          -> " ",
    "(?is)<style\\b[^>]*>.*?</style\\s*>"            -> " ",
    "(?is)<script\\b[^>]*>.*"                        -> " ", // unterminated: to EOF
    "(?is)<style\\b[^>]*>.*"                         -> " ",
    "(?s)<!--.*?-->"                                 -> " ",
    "(?s)<[!/]?[A-Za-z](\"[^\"]*\"|'[^']*'|[^>\"'])*>" -> " ", // tags + <!DOCTYPE …>
    "&lt;"                                  -> "<",
    "&gt;"                                  -> ">",
    "&quot;"                                -> "\"",
    "&#39;"                                 -> "'",
    "&apos;"                                -> "'",
    "&nbsp;"                                -> " ",
    "&amp;"                                 -> "&")

  /** Strip HTML down to its text content: script/style/comment blocks
    * removed wholesale, tags replaced by spaces, the common named/numeric
    * entities decoded. A codegen'd `regexp_replace` chain — one narrow
    * scan stage at corpus scale, the web-crawl preprocessing step that
    * precedes every quality/dedup pass. Follow with
    * [[collapseWhitespace]] to fold the leftover runs. */
  def stripHtml(c: Column): Column =
    htmlStripStages.foldLeft(c) { case (acc, (re, repl)) =>
      regexp_replace(acc, re, repl)
    }

  /** Collapse all whitespace runs to single spaces and trim — the
    * canonical post-[[stripHtml]] cleanup (also useful alone). */
  def collapseWhitespace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** NEWLINE-PRESERVING whitespace collapse: horizontal runs fold to one
    * space and spaces hugging a newline are dropped, but the line
    * structure survives — the post-[[stripHtml]] cleanup to use when a
    * LINE-level stage (boilerplate line dedup) runs downstream, where
    * [[collapseWhitespace]] would weld every line into one. */
  def collapseLineWhitespace(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "[ \\t]*\\n[ \\t]*", "\n"), "[ \\t]+", " "))

  // ── URL canonicalization (crawl-pipeline URL-level dedup key) ─────────

  /** Query parameter names dropped by [[canonicalizeUrl]] — client-side
    * tracking decoration that never changes the fetched content (the
    * `utm_*` campaign family plus the common click ids). Shared with the
    * oracle restatement. */
  private[graft] val trackingParamAlt = "utm_[A-Za-z0-9_]*|fbclid|gclid|ref"

  /** Canonical form of a URL for corpus-level URL dedup (the CCNet-shape
    * "one document per URL" pass works on THIS key, not the raw string):
    *
    *  - scheme and host lowercase (RFC 3986 §6.2.2.1: both are
    *    case-insensitive; path/query case is PRESERVED — it is not);
    *  - leading `www.` dropped from the host;
    *  - default ports stripped (`:80` for http, `:443` for https);
    *  - the `#fragment` dropped (never sent to the server);
    *  - tracking parameters removed ([[trackingParamAlt]]), with the
    *    query separator repaired when the first parameter was tracking
    *    (`/p?utm_x=1&q=2` → `/p?q=2`) and a dangling `?`/`&` trimmed;
    *  - an empty path becomes `/` (`http://a.com` ≡ `http://a.com/`).
    *
    * A string with no `scheme://` prefix is not a URL this pass can parse
    * — it passes through trimmed but otherwise untouched (opaque ids stay
    * distinct rather than being mangled). Pure regexp/string Column
    * expressions in the Java ∩ RE2 subset (no lookaround, no backrefs in
    * PATTERNS; the one replacement backref is `$1`/`\1` per dialect) —
    * linear-time, codegen'd, restatable in any SQL engine. */
  def canonicalizeUrl(c: Column): Column = {
    val u = trim(c)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://.*", 1))
    val hostport = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*", 1))
    val host0 = regexp_replace(hostport, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val rest = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val noFrag = regexp_replace(rest, "#.*", "")
    val noTrack = regexp_replace(noFrag, s"[?&]($trackingParamAlt)=[^&#]*", "")
    val fixedSep = regexp_replace(noTrack, "^([^?&]*)&", "$1?")
    val noTrail = regexp_replace(fixedSep, "[?&]$", "")
    val path = when(noTrail === "", lit("/")).otherwise(noTrail)
    when(scheme === "", u).otherwise(concat(scheme, lit("://"), host, path))
  }

  // ── C4-style line/page cleaning (Raffel et al. 2020) ─────────────────

  /** Per-line keep predicate of the C4 cleaning pass (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning with a Unified
    * Text-to-Text Transformer", JMLR §2.2 — public literature; rules are
    * that section's):
    *
    *  - the line ends in a terminal punctuation mark (period, exclamation
    *    mark, question mark, or end quotation mark) after trailing
    *    whitespace is dropped;
    *  - the line has at least 3 whitespace words;
    *  - the line does not contain "javascript" (case-insensitive
    *    substring, the common reimplementation of the paper's "any line
    *    with the word Javascript" — enable-JS boilerplate).
    *
    * Pure string/regexp Column expressions (restatable in any SQL
    * engine); the regex subset is Java ∩ RE2 (a character class and `$`),
    * linear-time on any input. */
  def c4LineKeep(line: Column): Column =
    rtrim(line).rlike("[.!?”\"]$") &&
      size(split(trim(line), "\\s+")) >= 3 &&
      !lower(line).contains("javascript")

  /** C4 line-level clean: drop every line failing [[c4LineKeep]], keep
    * survivor order, reassemble with newlines (empty string when nothing
    * survives). A narrow per-row expression — no shuffle at any scale.
    * Feed text through [[stripHtml]] + [[collapseLineWhitespace]] first
    * when it arrives as raw HTML (the newline-preserving collapse keeps
    * the line structure this pass needs). */
  def c4LineClean(c: Column): Column =
    concat_ws("\n", filter(split(c, "\n"), l => c4LineKeep(l)))

  /** C4 page-level gates, evaluated AFTER the line clean (each TRUE = the
    * page passes that rule):
    *
    *  - no_curly_ok:      the RAW page contains no '{' (the paper drops
    *    pages with a curly bracket — a code-not-prose proxy);
    *  - no_lorem_ok:      no "lorem ipsum" (case-insensitive) in the raw
    *    page;
    *  - min_sentences_ok: the CLEANED text has ≥ 5 sentences, counted as
    *    terminal-punctuation runs (`[.!?]+` — "..." is one boundary).
    *
    * The paper's fourth page rule — the bad-word list — is
    * [[containsBlockedWord]]; compose it alongside these flags with the
    * deployment's own list. */
  def c4PageFlags(c: Column): Column = {
    val cleaned = c4LineClean(c)
    struct(
      (!c.contains("{")).as("no_curly_ok"),
      (!lower(c).contains("lorem ipsum")).as("no_lorem_ok"),
      c4MinSentencesOk(cleaned).as("min_sentences_ok"))
  }

  /** The two C4 page rules that read the RAW page (no curly bracket, no
    * "lorem ipsum") — the cheap contains-gates a pipeline runs BEFORE the
    * line clean so they push into the scan. */
  def c4RawPagePass(c: Column): Column =
    !c.contains("{") && !lower(c).contains("lorem ipsum")

  /** The C4 page sentence floor over ALREADY-cleaned text — split out so
    * a pipeline that computes the cleaned column once can gate on the
    * attribute instead of re-deriving the clean inside the flag. */
  def c4MinSentencesOk(cleaned: Column): Column =
    coalesce(regexp_count(cleaned, lit("[.!?]+")), lit(0)) >= 5

  /** Conjunction of all [[c4PageFlags]] — the page survives the C4 page
    * gate (bad-word list aside, see [[c4PageFlags]]). */
  def c4PagePass(c: Column): Column = {
    val f = c4PageFlags(c)
    Seq("no_curly_ok", "no_lorem_ok", "min_sentences_ok")
      .map(f.getField).reduce(_ && _)
  }

  // ── quality scoring ───────────────────────────────────────────────────

  /** Alphabetic-character ratio of the raw text. */
  def alphaRatio(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") /
      greatest(length(c), lit(1))

  /** Mean token length of the normalized text. */
  def meanTokenLength(c: Column): Column = {
    val t = tokens(c)
    (length(concat_ws("", t))).cast("double") / greatest(size(t), lit(1))
  }

  /** English stopword ratio — high-quality running prose sits roughly in
    * [0.2, 0.6]; word salad and boilerplate fall outside. */
  def stopwordRatio(c: Column): Column = {
    val t = tokens(c)
    stopwordHits(t, "en").cast("double") / greatest(size(t), lit(1))
  }

  /** Gopher-style rule-based quality gates (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training Gopher",
    * table A1 — public literature; thresholds below are that table's).
    * One struct of booleans per document, TRUE = the document PASSES that
    * rule; `gopherPass` is their conjunction. All components are plain
    * string/regexp Column expressions so the same gates restate in any
    * SQL engine (the DuckDB oracle re-derives every rule):
    *
    *  - word_count_ok:      50 ≤ whitespace words ≤ 100,000
    *  - mean_word_len_ok:   mean normalized-token length in [3, 10]
    *  - symbol_ratio_ok:    (# '#' + # '…'-as-'...') / words ≤ 0.1
    *  - bullet_ratio_ok:    ≤ 90% of lines start with a bullet mark
    *  - ellipsis_ratio_ok:  ≤ 30% of lines end with '...'
    *  - alpha_word_ratio_ok: ≥ 80% of words contain an alphabetic char
    *  - stopword_ok:        ≥ 2 DISTINCT English stopwords present
    */
  def gopherFlags(c: Column): Column = {
    val toks = tokens(c)
    val nTok = size(toks)
    val words = split(trim(c), "\\s+")
    val nWords = greatest(size(words), lit(1))
    val nSymbols = coalesce(regexp_count(c, lit("#")), lit(0)) +
      coalesce(regexp_count(c, lit("\\.\\.\\.")), lit(0))
    val lines = split(c, "\n")
    val nLines = greatest(size(lines), lit(1))
    val bulletLines = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val enStops = array(stopwords("en").map(lit): _*)
    val distinctStops = size(array_intersect(array_distinct(toks), enStops))
    struct(
      nTok.between(50, 100000).as("word_count_ok"),
      meanTokenLength(c).between(3.0, 10.0).as("mean_word_len_ok"),
      (nSymbols.cast("double") / nWords <= 0.1).as("symbol_ratio_ok"),
      (bulletLines.cast("double") / nLines <= 0.9).as("bullet_ratio_ok"),
      (ellipsisLines.cast("double") / nLines <= 0.3).as("ellipsis_ratio_ok"),
      (alphaWords.cast("double") / nWords >= 0.8).as("alpha_word_ratio_ok"),
      (distinctStops >= 2).as("stopword_ok"))
  }

  /** Conjunction of all [[gopherFlags]] — the document survives the
    * Gopher rule gate. */
  def gopherPass(c: Column): Column = {
    val f = gopherFlags(c)
    Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ratio_ok",
      "stopword_ok").map(f.getField).reduce(_ && _)
  }

  // ── per-script quality gating (multilingual Gopher) ───────────────────

  /** Fraction of the text's characters the ml tokenizer KEEPS (tracked-
    * script letters + digits) — the multilingual analog of [[alphaRatio]]
    * (which counts only [A-Za-z] and would gate every CJK/Cyrillic/RTL
    * document to zero). Codepoint-exact: simple lowercasing never changes
    * length, separators simply drop out of the concatenated tokens.
    * Session must be [[GraftFunctions.register]]ed (callers do). */
  def tokenCharRatio(c: Column): Column =
    length(concat_ws("", GraftFunctions.normTokensMl(c))).cast("double") /
      greatest(length(c), lit(1))

  /** The per-language stopword array for the ml stopword floor: the
    * langId's OWN list when one exists, else the English list ("und" and
    * unlisted codes fall back — unidentified text is gated like English,
    * the conservative default). A literal CASE chain over the generated
    * [[LangProfiles.stopwords]] table. */
  private def stopsForLang(lang: Column): Column = {
    val en = array(stopwords("en").map(lit): _*)
    stopwords.toSeq.sortBy(_._1).foldLeft(when(lit(false), en)) {
      case (acc, (code, words)) =>
        acc.when(lang === code, array(words.map(lit): _*))
    }.otherwise(en)
  }

  /** SCRIPT-AWARE Gopher gates — [[gopherFlags]] recalibrated for the
    * multilingual tokenizer, branched on the ALREADY-COMPUTED language id
    * (`lang` — the pipeline computes it once for routing; "und" gates
    * like English). Same seven flags, same names, TRUE = pass:
    *
    *  - word_count_ok:      50 ≤ ml tokens ≤ 100,000 (for CJK that is a
    *    character floor — Gopher's 50-word English floor ≈ 50 ideographs)
    *  - mean_word_len_ok:   mean ml-token length ∈ [3, 10]; VACUOUS for
    *    [[LangProfiles.noWordShapeLangs]] (per-codepoint tokens are
    *    length 1, Thai runs are phrase-length — not word shapes)
    *  - symbol_ratio_ok:    (# '#' + # '...') / ml tokens ≤ 0.1 (the
    *    denominator is ml tokens, not whitespace words — a zh document
    *    is ONE whitespace word, which would make any symbol fatal)
    *  - bullet_ratio_ok / ellipsis_ratio_ok: unchanged (line shape is
    *    script-agnostic)
    *  - alpha_word_ratio_ok: ≥ 80% of ml tokens are not pure digit runs
    *    (ml tokens are letter/digit runs by construction, so "contains a
    *    letter" ≡ "not all digits" — restatable without \p classes);
    *    vacuous for noWordShapeLangs
    *  - stopword_ok:        ≥ 2 distinct stopwords from the LANGUAGE'S
    *    OWN list ([[stopsForLang]]); vacuous for noWordShapeLangs AND
    *    [[LangProfiles.scriptWordLangs]] (script-routed languages carry
    *    no list — the router already identified them positively; the LM
    *    and model gates own prose-vs-salad there)
    *
    * On pure-ASCII English text the ml tokens equal the Latin tokens, so
    * word_count / mean_word_len / stopword agree with [[gopherFlags]]
    * exactly; symbol_ratio and alpha_word_ratio differ only in the
    * denominator (ml tokens vs whitespace words). */
  def gopherFlagsMl(c: Column, lang: Column): Column = {
    val toks = GraftFunctions.normTokensMl(c)
    val nTok = size(toks)
    val nTokF = greatest(nTok, lit(1))
    val noShape = lang.isin(LangProfiles.noWordShapeLangs.toSeq: _*)
    val noStops = noShape ||
      lang.isin(LangProfiles.scriptWordLangs.toSeq: _*)
    val nSymbols = coalesce(regexp_count(c, lit("#")), lit(0)) +
      coalesce(regexp_count(c, lit("\\.\\.\\.")), lit(0))
    val lines = split(c, "\n")
    val nLines = greatest(size(lines), lit(1))
    val bulletLines = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val meanLen =
      length(concat_ws("", toks)).cast("double") / nTokF.cast("double")
    val nonDigit = size(filter(toks, t => !t.rlike("^[0-9]+$")))
    val distinctStops =
      size(array_intersect(array_distinct(toks), stopsForLang(lang)))
    struct(
      nTok.between(50, 100000).as("word_count_ok"),
      (noShape || meanLen.between(3.0, 10.0)).as("mean_word_len_ok"),
      (nSymbols.cast("double") / nTokF <= 0.1).as("symbol_ratio_ok"),
      (bulletLines.cast("double") / nLines <= 0.9).as("bullet_ratio_ok"),
      (ellipsisLines.cast("double") / nLines <= 0.3).as("ellipsis_ratio_ok"),
      (noShape || nonDigit.cast("double") / nTokF >= 0.8).as("alpha_word_ratio_ok"),
      (noStops || distinctStops >= 2).as("stopword_ok"))
  }

  /** Conjunction of all [[gopherFlagsMl]]. */
  def gopherPassMl(c: Column, lang: Column): Column = {
    val f = gopherFlagsMl(c, lang)
    Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ratio_ok",
      "stopword_ok").map(f.getField).reduce(_ && _)
  }

  /** Composite quality score in [0,1] — mean of clamped component signals
    * (length, alpha ratio, mean word length band, stopword presence).
    * Heuristic by design; each component is also exposed individually. */
  def qualityScore(c: Column): Column = {
    val lengthScore = least(tokenCount(c).cast("double") / lit(100.0), lit(1.0))
    val alphaScore = least(alphaRatio(c) / lit(0.7), lit(1.0))
    val wordLen = meanTokenLength(c)
    val wordLenScore = when(wordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.3))
    val stopScore = least(stopwordRatio(c) / lit(0.2), lit(1.0))
    (lengthScore + alphaScore + wordLenScore + stopScore) / lit(4.0)
  }
}
