package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, all pure
  * built-in `Column` expressions (codegen'd, no UDFs): token counting,
  * language-ID heuristic, quality scoring, document fingerprinting.
  * Each has a `SparkEntry.queries` entry with a DuckDB oracle where the
  * function set is SQL-portable (see SparkEntry.oracleSql).
  */
object TextOps {

  /** Whitespace token count; empty/null-safe (0 for empty). */
  def tokenCount(c: Column): Column =
    when(c.isNull || length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** Stopword-set language-ID heuristic: tokenize ONCE ([^a-z]+ split over
    * lowered text), then score per language = number of DISTINCT stopwords
    * present (`array_intersect` against each 4-word set — codegen'd, no HOF
    * lambdas); argmax wins, "und" (undetermined) when no stopword fires.
    *
    * One string pass total — the round-1 version did one `replace` pass per
    * stopword (16 passes over `text` per row, the slowest q-entry at 2.15 s);
    * whole-stage codegen's subexpression elimination evaluates the shared
    * split exactly once per row.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "los", "y", "es"))

  /** Single tokenization pass shared by all four language scores. */
  def langTokens(c: Column): Column =
    split(lower(coalesce(c, lit(""))), "[^a-z]+")

  def langScores(tokens: Column): Seq[(String, Column)] =
    stopwords.toSeq.sortBy(_._1).map { case (lang, ws) =>
      lang -> size(array_intersect(tokens, array(ws.map(lit): _*)))
    }

  /** Argmax as a linear when-chain (later language wins ties: fr > es > en >
    * de; "und" when no stopword fired). The chain repeats each score a
    * constant number of times — fine (subexpression elimination runs them
    * once; an array_min-over-structs variant was measured SLOWER warm, the
    * per-row struct allocation costs more than the smaller codegen saves).
    * Never fold argmax as `when(b > a, b).otherwise(a)` over Columns — that
    * doubles the tree per step (see PLANS.md, IVF assignment).
    */
  def langId(c: Column): Column = {
    val scores = langScores(langTokens(c))
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1]: blends length band, alpha ratio, mean token
    * length band, and repetition (distinct-token ratio). The heuristic-scoring
    * analog of the reference's format checks — same compile-to-predicate
    * architecture, scalar-valued.
    */
  def qualityScore(c: Column): Column = {
    val t = coalesce(c, lit(""))
    val len = length(t).cast("double")
    val nTok = tokenCount(t).cast("double")
    val alpha =
      length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") /
        greatest(len, lit(1.0))
    val meanTokLen = len / greatest(nTok, lit(1.0))
    val lenBand = when(len >= 20 && len <= 10000, lit(1.0))
      .when(len > 0, lit(0.5)).otherwise(lit(0.0))
    val tokBand = when(meanTokLen >= 2 && meanTokLen <= 12, lit(1.0))
      .otherwise(lit(0.4))
    val distinctRatio =
      size(array_distinct(split(trim(t), "\\s+"))).cast("double") /
        greatest(nTok, lit(1.0))
    round(
      lenBand * 0.3 + alpha * 0.3 + tokBand * 0.2 +
        least(distinctRatio * 2, lit(1.0)) * 0.2, 4)
  }

  /** Exact-rational quality score, scaled ×10⁴ to a BIGINT in [0, 10000].
    *
    * Same blend as [[qualityScore]] (length band 0.3 + alpha ratio 0.3 +
    * mean-token-length band 0.2 + distinct-token ratio 0.2) but every step
    * is INTEGER arithmetic: the score is the rational
    * `numer / (100·len'·ntok')` with all-integer numerator, and the 4-dp
    * half-up rounding is one integral division
    * `(numer·20000 + D) div (2·D)`. No double exists anywhere, so two
    * engines computing it can never disagree by a ulp — [[qualityScore]]'s
    * `round(Σ double-terms, 4)` sits on a rounding boundary for ~1 in 10⁴
    * documents and hash-mismatches cross-engine (observed: q73 gate,
    * oracle 0.9513 vs spark 0.9512 on one row of 5000). Use THIS form
    * whenever per-document scores are compared, ranked, or hashed;
    * [[qualityScore]] remains for aggregate reporting where averaging
    * absorbs boundary ulps. The band conditions are also integer-exact
    * (`len ≥ 2·ntok'` instead of `len/ntok' ≥ 2.0`), which at 10¹²-doc
    * scale additionally means the band never flips on a division ulp.
    */
  def qualityScoreScaled(c: Column): Column = {
    val t = coalesce(c, lit(""))
    val len = length(t).cast("long")
    val ntok = tokenCount(t).cast("long")
    val ndtok = size(array_distinct(split(trim(t), "\\s+"))).cast("long")
    val nalpha = length(regexp_replace(t, "[^\\p{L}]", "")).cast("long")
    val lp = greatest(len, lit(1L))
    val np = greatest(ntok, lit(1L))
    val lenBand10 = when(len >= 20 && len <= 10000, lit(10L))
      .when(len > 0, lit(5L)).otherwise(lit(0L))
    val tokBand10 =
      when(len >= np * 2 && len <= np * 12, lit(10L)).otherwise(lit(4L))
    val numer = (lenBand10 * 3 + tokBand10 * 2) * lp * np +
      nalpha * np * 30 + least(ndtok * 2, np) * lp * 20
    val denom = lp * np * 100
    call_function("div", numer * 20000 + denom, denom * 2)
  }

  /** BPE-ish pre-tokenizer regex — the RE2-compatible core of the GPT-2 /
    * cl100k pre-tokenization pattern (word / number / punctuation runs, each
    * carrying its leading space; no contraction or lookahead branches, which
    * RE2 — and therefore the DuckDB oracle — cannot express). Every
    * character lands in exactly one token, so concatenating the tokens
    * reconstructs the input byte-for-byte (spec-asserted).
    */
  val bpeTokenRe: String = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  private def bpeTokens(c: Column): Column =
    regexp_extract_all(coalesce(c, lit("")), lit(bpeTokenRe), lit(0))

  /** BPE-ish token count (the scale stand-in for the reference's tiktoken
    * `len(encode(text))`, `genai_model.py:27-34` — the real BPE merge table
    * only shrinks counts further; this is the deterministic, codegen'd
    * upper-bound variant).
    */
  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  /** Token-budget truncation — reference `reduce_input_size`
    * (`genai_model.py:27-40`: encode, keep first max_tokens, decode). Tokens
    * carry their leading whitespace, so joining the kept slice reconstructs
    * the exact character prefix — a pure column expression, no tokenizer
    * library.
    */
  def truncateToTokens(c: Column, maxTokens: Int): Column =
    array_join(slice(bpeTokens(c), 1, maxTokens), "")

  /** Symbol terminator / pre-token boundary markers for the learned-merge
    * rewrite below. In-band by necessity; both are C0 controls the
    * pipeline's canonicalize stage strips anyway, and the functions strip
    * them defensively first so boundaries stay unambiguous on raw input.
    */
  private val SEP = "\u0001" // terminates every symbol
  private val BND = "\u0002" // separates pre-tokens (merges never cross it)

  /** LEARNED-merge token stream: pre-tokenize with [[bpeTokenRe]], then
    * apply the learned merge list in order within each pre-token (the
    * [[graft.ops.Bpe]] rewrite rule, left-to-right non-overlapping) —
    * closing the reference `reduce_input_size` tokenizer-parity gap: the
    * budget now counts REAL BPE symbols from a learned table
    * ([[graft.ops.Bpe.learnMerges]] / [[graft.ops.Bpe.learnMergesBatched]]),
    * not just pre-token runs. Merges only concatenate adjacent characters,
    * so joining the symbols reconstructs the (control-stripped) input
    * byte-for-byte (lossless, spec-asserted).
    *
    * Shape: the symbol sequence is ONE string with every symbol WRAPPED
    * in separators ("␁t␁␁h␁␁e␁", pre-tokens fenced by ␂ so merges cannot
    * cross them) and each merge (a,b) is a single `replace` of "␁a␁␁b␁"
    * with "␁ab␁" — string replace scans left-to-right non-overlapping,
    * which IS the BPE rule. The wrap must cover BOTH sides: a
    * trailing-only separator lets "e␁r␁" falsely match the SUFFIX of
    * symbol "the" (caught by the scalar-replica spec), and a
    * leading-only one the symmetric prefix case; double-sided anchors
    * make a pattern match exactly a whole-symbol pair. Everything is
    * codegen'd string ops (one regexp per row, then a replace chain);
    * the first cut used a per-pre-token interpreted `aggregate` fold and
    * cost 4.6× this form warm on the q134 probe (10.8 → 2.3 s at sf0.1 —
    * the interpreted-HOF lesson, again). Expression depth grows with the merge count — sized for
    * modest merge lists (budgets, audits); a production encoder compiles
    * the table into one custom Expression.
    */
  def bpeTokensLearned(c: Column, merges: Seq[(String, String)]): Column = {
    val s = bpeSymbolStream(c, merges)
    // symbols are non-empty, so inter-symbol "␁␁" collapses to "␁"
    // unambiguously; strip the outer wrap and split
    val collapsed = replace(s, lit(SEP + SEP), lit(SEP))
    val inner = collapsed.substr(lit(2), greatest(length(collapsed) - 2, lit(0)))
    when(length(collapsed) === 0, array().cast("array<string>"))
      .otherwise(split(inner, SEP, -1))
  }

  /** The merged ␁-wrapped-symbol string over ␂-fenced pre-tokens, fences
    * removed after the merge chain runs.
    */
  private def bpeSymbolStream(
      c: Column, merges: Seq[(String, String)]): Column = {
    val clean = translate(coalesce(c, lit("")), SEP + BND, "")
    val joined = array_join(
      regexp_extract_all(clean, lit(bpeTokenRe), lit(0)), BND)
    val chars = regexp_replace(joined, "(?s)(.)", SEP + "$1" + SEP)
    val merged = merges.foldLeft(chars) { case (acc, (a, b)) =>
      replace(acc, lit(SEP + a + SEP + SEP + b + SEP), lit(SEP + a + b + SEP))
    }
    replace(merged, lit(SEP + BND + SEP), lit(""))
  }

  /** Learned-merge token count — bounded between [[bpeTokenCount]]'s
    * pre-token run count (every pre-token yields ≥ 1 symbol) and the
    * character count (merges only fuse, never split), converging down
    * toward the run count as the merge table grows — the real-tokenizer
    * behavior the run-count stand-in approximates from below.
    */
  def bpeTokenCountLearned(c: Column, merges: Seq[(String, String)]): Column = {
    // every symbol carries exactly two ␁ (fences already removed) —
    // count symbols as #␁ / 2, no split allocation
    val seq = bpeSymbolStream(c, merges)
    call_function("div",
      (length(seq) - length(translate(seq, SEP, ""))).cast("long"), lit(2L))
      .cast("int")
  }

  /** Learned-merge token-budget truncation: keep the first `maxTokens`
    * LEARNED symbols — still an exact character prefix of the input.
    */
  def truncateToTokensLearned(
      c: Column, maxTokens: Int, merges: Seq[(String, String)]): Column =
    array_join(slice(bpeTokensLearned(c, merges), 1, maxTokens), "")

  /** Strip markdown code fences — reference `clean_json_string`
    * (`src/utils/utils.py:20-27`): remove leading ```json / ``` fences and
    * trailing ``` then trim.
    */
  def stripCodeFences(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(coalesce(c, lit("")), "^\\s*```(?:json)?\\s*", ""),
      "\\s*```\\s*$", ""))

  /** Date → ISO midnight Z string — reference zod-form conversion
    * (`src/core/models.py:398-401`: date becomes "YYYY-MM-DDT00:00:00Z").
    */
  def isoMidnightZ(c: Column): Column =
    date_format(c.cast("date").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Null-dropping JSON form — the reference's zod-form conversion drops
    * null fields recursively (`models.py:419`); columnar equivalent:
    * `to_json(struct, ignoreNullFields=true)`.
    */
  def toCleanJson(s: Column): Column =
    to_json(s, Map("ignoreNullFields" -> "true"))

  /** Duplicate-line fraction (Gopher-style repetition signal): share of
    * lines that are repeats of an earlier line. 0 for empty/null text.
    * One split pass; `array_distinct` is codegen'd — no shuffle, no UDF.
    */
  def dupLineFraction(c: Column): Column = {
    val lines = split(coalesce(c, lit("")), "\n")
    val n = size(lines).cast("double")
    when(coalesce(c, lit("")) === "", lit(0.0))
      .otherwise((n - size(array_distinct(lines)).cast("double")) / n)
  }

  /** Duplicate-token fraction: share of whitespace tokens that repeat an
    * earlier token — high values mark boilerplate / keyword-stuffed docs.
    */
  def dupTokenFraction(c: Column): Column = {
    val t = coalesce(c, lit(""))
    val toks = split(trim(t), "\\s+")
    val n = size(toks).cast("double")
    when(length(trim(t)) === 0, lit(0.0))
      .otherwise((n - size(array_distinct(toks)).cast("double")) / n)
  }

  /** 64-bit document fingerprint over whitespace-normalized lowercase text.
    * xxhash64 — content-defined identity for exact-dup detection at scale
    * (hash-compare instead of byte-compare in the first pass).
    */
  def fingerprint(c: Column): Column =
    xxhash64(lower(regexp_replace(coalesce(c, lit("")), "\\s+", " ")))

  // PII patterns, ASCII-only on purpose: Java regex (Spark) and RE2
  // (DuckDB oracle) agree on these constructs — character classes, bounded
  // repetition, and ASCII \b — so the q67 redaction byte-matches across
  // engines. Order matters: emails first (an email host that LOOKS like an
  // address, user@192.168.0.1, deliberately survives to the IP pass).
  private val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val piiNumber = "\\b\\d{13,16}\\b" // card-length runs; \b keeps
  // 17+-digit runs (no PII format) untouched

  /** PII scrub for pre-training corpora: emails, IPv4 addresses, and
    * card-length digit runs replaced by typed placeholder tokens. Map-only,
    * codegen'd `regexp_replace` chain — no UDF, no shuffle; at 100 TB this
    * is a pure scan-speed pass like the other TextOps.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(coalesce(c, lit("")), piiEmail, "<EMAIL>"),
        piiIpv4, "<IP>"),
      piiNumber, "<NUMBER>")

  /** Per-kind PII hit counts — STAGED, mirroring [[redactPii]]'s pass order
    * exactly: n_email on the original text, n_ipv4 on the email-redacted
    * text, n_number on the email+IP-redacted text. Each count therefore
    * equals the number of replacements the corresponding redaction pass
    * actually performs (a 13-16-digit run inside an email local part is
    * redacted as part of `<EMAIL>` and must NOT also count as n_number).
    * struct(n_email, n_ipv4, n_number).
    */
  def piiCounts(c: Column): Column = {
    val t = coalesce(c, lit(""))
    val afterEmail = regexp_replace(t, piiEmail, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, piiIpv4, "<IP>")
    struct(
      regexp_count(t, lit(piiEmail)).as("n_email"),
      regexp_count(afterEmail, lit(piiIpv4)).as("n_ipv4"),
      regexp_count(afterIp, lit(piiNumber)).as("n_number"))
  }

  /** Text canonicalization for corpus builds: strip C0/DEL control
    * characters (keeping tab/LF/CR), Unicode NFC (native codegen
    * expression, [[graft.functions.NfcNormalize]]), unify CRLF/CR to LF,
    * squeeze runs of spaces/tabs to one space, trim. Mixed-normal-form
    * crawl text hashes, dedups, and shingles differently until this runs —
    * it belongs BEFORE fingerprint/minhash in the funnel. Map-only,
    * codegen'd end to end; ASCII-only regex patterns so Java (Spark) and
    * RE2 (DuckDB `nfc_normalize` + `regexp_replace` oracle, q77) agree
    * byte-for-byte.
    *
    * Stage order is load-bearing for idempotence (spec-pinned by a
    * randomized law): controls strip BEFORE NFC — a control char sitting
    * between a base letter and a combining mark blocks composition, so
    * stripping it after NFC would surface a new decomposed pair that only
    * a second pass could compose. The later stages can't reintroduce the
    * problem: EOL-unify and squeeze replace spans (never remove them
    * entirely) and trim only eats string edges, so no base↔mark adjacency
    * is ever newly created after NFC runs.
    */
  def canonicalize(c: Column): Column = {
    val noCtl = regexp_replace(coalesce(c, lit("")),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val nfc = graft.functions.NfcNormalize.nfcNormalize(noCtl)
    val oneEol = regexp_replace(nfc, "\\r\\n?", "\n")
    trim(regexp_replace(oneEol, "[ \\t]+", " "))
  }

  /** How `target` looks after the classic mojibake round-trip: its UTF-8
    * bytes re-decoded as windows-1252 (the real-world path — browsers and
    * legacy pipelines treat "latin-1" as cp1252; the five cp1252-undefined
    * bytes fall back to C1 controls, which is exactly what the JVM
    * charset does). Deterministic, so both the fix table and the planted
    * q87 input derive from it instead of fragile source literals full of
    * soft hyphens and C1 controls.
    */
  def utf8AsCp1252(target: String): String =
    new String(target.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.Charset.forName("windows-1252"))

  /** Mojibake fix table: (broken, fixed), longest keys first so the
    * 3-char `â€x` family never gets half-eaten by a 2-char rule. Covers
    * the high-frequency Latin-1 Supplement + General Punctuation set that
    * dominates real crawl mojibake (the ftfy top table); UTF-8-as-cp1252
    * NBSP additionally folds to a plain space.
    */
  val mojibakeTable: Seq[(String, String)] = {
    val targets = Seq(
      "’", "‘", "“", "”", "–", "—", "…", "•", "€", "™",
      "á", "é", "í", "ó", "ú", "ñ", "ü", "ö", "ä", "ç",
      "è", "ê", "à", "â", "ô", "û", "ï", "ß", "É", "Ç",
      "«", "»", "°", "·")
    targets.map(t => utf8AsCp1252(t) -> t).sortBy(-_._1.length) :+
      (utf8AsCp1252("\u00A0") -> " ")
  }

  /** Repair UTF-8-read-as-cp1252 mojibake via the [[mojibakeTable]] fold —
    * a pure `replace` chain (codegen'd, map-only). Sequences outside the
    * table pass through unchanged, so the fix is safe to run on clean
    * text; [[mojibakeMarkers]] before/after quantifies what it did.
    */
  def fixMojibake(c: Column): Column =
    mojibakeTable.foldLeft(coalesce(c, lit(""))) { case (acc, (k, v)) =>
      replace(acc, lit(k), lit(v))
    }

  /** Count of mojibake marker sequences (`Ã`, `â€`, `Â` — the lead chars
    * every UTF-8-as-cp1252 two/three-byte sequence starts with). A rate
    * of markers per char is the detection signal; near zero on clean text.
    */
  def mojibakeMarkers(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit("Ã|â€|Â"))

  /** C4 line-quality cleaning (Raffel et al. 2020 §2.2, the published
    * rules): keep only lines that end in terminal punctuation, have at
    * least `minWords` words, and mention neither "javascript" nor a curly
    * brace; a PAGE survives when at least `minLines` lines remain and the
    * page never says "lorem ipsum". Returns a struct
    * (text, n_lines, n_kept, page_ok) — the cleaned text is the kept
    * lines rejoined, so the caller filters on `page_ok` and keeps `text`.
    * Map-only; the per-line lambda runs once per line (the split is on
    * the trimmed LINE, never re-tokenizing the document per rule).
    */
  def c4Clean(c: Column, minWords: Int = 5, minLines: Int = 3): Column = {
    val raw = coalesce(c, lit(""))
    val lines = split(raw, "\n")
    val kept = filter(lines, l => {
      val t = trim(l)
      t.rlike("[.!?\"]$") &&
        size(split(t, "\\s+")) >= minWords &&
        !contains(lower(t), lit("javascript")) &&
        !contains(t, lit("{"))
    })
    struct(
      array_join(kept, "\n").as("text"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      (size(kept) >= minLines &&
        !contains(lower(raw), lit("lorem ipsum"))).as("page_ok"))
  }

  /** Gopher document-quality rule gate (Rae et al. 2021, table A1 — the
    * published thresholds): word count in [minWords, maxWords], mean word
    * length in [3, 10], symbol-to-word ratio (# and …) ≤ 0.1, ≤ 90% of
    * lines bullet-started, ≤ 30% ellipsis-ended, ≥ 80% of words carrying
    * an alphabetic character, and ≥ 2 distinct English stopwords present.
    *
    * EVERY threshold is evaluated in exact integer arithmetic (3·W ≤ C ≤
    * 10·W instead of 3 ≤ C/W ≤ 10, etc.) — no ratio ever exists as a
    * double, so no engine can flip a boundary document on a division ulp
    * (the qualityScoreScaled lesson, applied to a boolean gate). Map-only;
    * the word array materializes once and the char total is
    * `length(array_join(words, ""))` — no per-word lambda arithmetic.
    */
  def gopherGate(c: Column, minWords: Long = 50L,
      maxWords: Long = 100000L): Column = {
    val t = coalesce(c, lit(""))
    val w = split(trim(t), "\\s+")
    val nW = when(length(trim(t)) === 0, lit(0L))
      .otherwise(size(w).cast("long"))
    val wSafe = greatest(nW, lit(1L))
    val nChars = length(array_join(w, "")).cast("long")
    val nAlphaW = size(filter(w, x => x.rlike("\\p{L}"))).cast("long")
    val nSym = regexp_count(t, lit("#|\\.\\.\\.")).cast("long")
    val lines = split(t, "\n")
    val nL = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      trim(l).rlike("^[-*•]"))).cast("long")
    val nEllip = size(filter(lines, l =>
      trim(l).endsWith("..."))).cast("long")
    val nStop = size(array_intersect(langTokens(t),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .map(lit): _*))).cast("long")
    val okWords = nW >= minWords && nW <= maxWords
    val okWordLen = nChars >= wSafe * 3L && nChars <= wSafe * 10L
    val okSymbols = nSym * 10L <= wSafe
    val okBullets = nBullet * 10L <= nL * 9L
    val okEllipsis = nEllip * 10L <= nL * 3L
    val okAlpha = nAlphaW * 5L >= nW * 4L
    val okStop = nStop >= 2L
    struct(
      nW.as("n_words"),
      okWords.as("ok_words"), okWordLen.as("ok_wordlen"),
      okSymbols.as("ok_symbols"), okBullets.as("ok_bullets"),
      okEllipsis.as("ok_ellipsis"), okAlpha.as("ok_alpha"),
      okStop.as("ok_stop"),
      (okWords && okWordLen && okSymbols && okBullets && okEllipsis &&
        okAlpha && okStop).as("gopher_ok"))
  }

  /** Flesch reading-ease score in exact-floor milli-points — the classic
    * readability gate (educational-corpus routing, "too telegraphic /
    * too convoluted" quality cuts). Syllables are approximated as vowel
    * GROUPS (`[aeiouy]+` runs over lowered text) — the standard regex
    * proxy; sentences as `[.!?]+` runs, floored at 1; words as whitespace
    * tokens, floored at 1 (empty docs surface NULL, not a fake score).
    *
    * Parity: the chain `206.835 − 1.015·(W/S) − 84.6·(Y/W)` is evaluated
    * in that literal order on exact-integer W/S/Y cast to double, then
    * `floor(·1000)` — the q104 pinned-double-chain recipe, mirrored
    * verbatim in the DuckDB twin. Map-only codegen, zero shuffle.
    */
  def fleschMilli(c: Column): Column = {
    val t = coalesce(c, lit(""))
    val words = tokenCount(t).cast("long")
    val w = greatest(words, lit(1L)).cast("double")
    val s = greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("double")
    val y = regexp_count(lower(t), lit("[aeiouy]+")).cast("double")
    when(words === 0, lit(null).cast("long")).otherwise(
      floor((lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w))
        * lit(1000.0)).cast("long"))
  }

  /** Per-document Unicode script distribution — floor-ppm fractions of
    * codepoints in the major script classes (Latin letters, digits,
    * CJK ideographs+kana, Cyrillic, pinned whitespace). Script MIXING is a
    * spam/boilerplate/mojibake signal lang-id alone misses (a "Latin" page
    * stuffed with CJK SEO spam keeps a confident Latin trigram profile),
    * and the per-script masses drive per-language tokenizer/quality
    * routing. Map-only codegen regexp chain, zero shuffle.
    *
    * Parity: every class is a literal BMP character-class regex valid in
    * BOTH Java regex and RE2 (no \\s/\\w shorthands — Java and RE2
    * disagree on their exact sets); counts are per-codepoint in both
    * engines; ppm = floor(n·10⁶/chars) over exact integers, length() being
    * codepoint-counting in both (q88 rule).
    */
  def scriptSignals(c: Column): Column = {
    val t = coalesce(c, lit(""))
    val chars = length(t).cast("long")
    def ppm(pattern: String): Column = {
      val n = regexp_count(t, lit(pattern)).cast("long")
      when(chars === 0, lit(0L))
        .otherwise(floor(n * lit(1000000L) / chars).cast("long"))
    }
    struct(
      chars.as("n_chars"),
      ppm("[A-Za-z]").as("latin_ppm"),
      ppm("[0-9]").as("digit_ppm"),
      ppm("[\u4E00-\u9FFF\u3040-\u30FF]").as("cjk_ppm"),
      ppm("[\u0400-\u04FF]").as("cyrillic_ppm"),
      ppm("[ \t\n\r]").as("space_ppm"))
  }
}
