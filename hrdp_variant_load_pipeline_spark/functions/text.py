"""Text-analysis column expressions for large-scale corpus pipelines.

All JVM-side (whole-stage codegen) — no Python UDFs in the hot path. These
are the engine extensions beyond the reference surface (BASELINE.json
north-star: language-ID, quality scoring, token counting, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny in-expression stopword list (quality scoring)
STOPWORDS = ("the", "a", "of", "and", "to", "in")

#: per-language marker words for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "a", "is", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_ratio(text: Column) -> Column:
    t = tokens(text)
    return F.round(F.size(F.array_distinct(t)).cast("double") / F.size(t), 4)


def _word_count(text: Column, words: tuple[str, ...]) -> Column:
    """Count whitespace-delimited tokens of ``text`` that equal one of
    ``words`` — regexp_count with boundary lookarounds on space-padded
    text, exactly equivalent to filtering ``split(text, ' ')`` but
    evaluated as one codegen'd JVM regex pass instead of an interpreted
    lambda per token (~1.6x faster on 2 KB docs)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return F.regexp_count(padded, F.lit("(?<= )(" + "|".join(words) + ")(?= )"))


def stopword_ratio(text: Column) -> Column:
    return F.round(
        _word_count(text, STOPWORDS).cast("double") / F.size(tokens(text)), 4
    )


def avg_word_len(text: Column) -> Column:
    t = tokens(text)
    total_chars = F.length(F.replace(text, F.lit(" "), F.lit("")))
    return F.round(total_chars.cast("double") / F.size(t), 4)


def lang_score(text: Column, lang: str) -> Column:
    return _word_count(text, LANG_MARKERS[lang])


def lang_predict(text: Column) -> Column:
    """Argmax language by marker-word count, ties resolved in en>de>fr>es
    order (deterministic)."""
    scores = {lang: lang_score(text, lang) for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):  # build when-chain in priority order
        pred = F.when(scores[lang] == best, lang).otherwise(pred)
    return F.when(best == 0, "unknown").otherwise(pred)


#: BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_count(text: Column) -> Column:
    """Token count under a BPE-style pre-tokenization regex (letter runs /
    digit runs / punctuation singletons) — the usual proxy for LLM token
    budgeting when the real tokenizer is unavailable cluster-side."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


#: every character ``punct_ratio`` does NOT count as punctuation
_ALNUM_SPACE = " ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"


def punct_ratio(text: Column) -> Column:
    """Fraction of non-space characters that are not alphanumeric.

    ``translate`` deletes the ASCII alphanumerics and spaces in one native
    char-map pass, so the punctuation count is the surviving length —
    value-identical to a ``[^A-Za-z0-9]`` regex over de-spaced text but
    ~12x faster on 2 KB docs (the regex char-class scan dominated the
    whole quality score)."""
    n_chars = F.length(F.replace(text, F.lit(" "), F.lit("")))
    n_punct = F.length(F.translate(text, _ALNUM_SPACE, ""))
    return F.round(
        n_punct.cast("double") / F.greatest(n_chars, F.lit(1)),
        4,
    )


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0,1]: rewards mid-length
    docs, low punctuation noise, healthy stopword presence, lexical
    diversity. Pure column arithmetic — portable to any SQL oracle."""
    n_tok = token_count(text).cast("double")
    length_term = F.least(n_tok / 20.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    diversity_term = distinct_token_ratio(text)
    score = (
        0.25 * length_term + 0.25 * punct_term + 0.25 * stop_term + 0.25 * diversity_term
    )
    # floor(x*1e4+0.5)/1e4 rather than F.round: the quarter-weighted sum
    # lands on exact .5 ties at the 5th decimal constantly, and Spark's
    # BigDecimal HALF_UP disagrees with exact-binary rounding there
    return F.floor(score * 10000 + 0.5) / 10000


def fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    lowercase token set (classic shingle-free near-dup prefilter)."""
    norm = F.array_join(F.array_sort(F.array_distinct(tokens(F.lower(text)))), " ")
    return F.md5(norm)


def char_codes(text: Column) -> Column:
    """Unicode code point per character, as ``array<int>``.

    ``split('')`` yields the char array in one linear pass; per-character
    ``substring(t, i, 1)`` would re-seek the UTF-8 string from the start
    each call (O(n²) on long docs). Both Spark and DuckDB split an empty
    string to ``['']`` with ``ascii('') = 0``, so the edge case agrees.
    """
    return F.transform(F.split(text, ""), lambda ch: F.ascii(ch))


def gram_code_hashes(codes: Column, k: int = 5) -> Column:
    """Polynomial base-31 hash of every char ``k``-gram, as
    ``array<bigint>`` — the winnowing gram hash.

    Replaces one md5 call PER GRAM (≈ one per character: md5 dominated the
    whole document profile, ~50M digests at sf1 and a DuckDB DNF) with
    five multiply-adds of the precomputed code-point array. Max value
    0x10FFFF·31⁴ ≈ 1e12 fits bigint with no modulus, so the value is
    bit-identical in any engine. Out-of-range positions (docs shorter
    than ``k``) hash as code 0 — same convention both engines.

    The out-of-range guard is hoisted OUT of the per-element taps (r15):
    when ``size >= k`` every ``get`` in the sequence ``1..size-k+1`` is
    in range by construction, so the common path runs ``k`` bare array
    reads per gram with no per-tap ``coalesce`` null-branch; only the
    short-doc branch (one element) keeps the guarded taps. Measured
    −28% on the gram column at sf1 (1.129 → 0.816 s), value-identical
    (the coalesce could only ever fire on the short-doc branch).

    PRECONDITION (r15 ADVICE): ``codes`` must contain no null ELEMENTS
    — the fast path's bare ``get`` reads propagate a null element into
    a null gram hash where the old per-tap ``coalesce`` mapped it to 0.
    Every in-repo caller feeds :func:`char_codes` output (``ascii`` is
    null-free on non-null input), and the branch equivalence across the
    length boundary is pinned in tests/test_text_gram.py; callers with
    possibly-null elements must coalesce them before hashing.
    """
    n = F.size(codes)

    def gram_fast(i: Column) -> Column:
        h = F.get(codes, i - 1).cast("bigint")
        for j in range(1, k):
            h = h * 31 + F.get(codes, i - 1 + j)
        return h

    def gram_guarded(i: Column) -> Column:
        h = F.coalesce(F.get(codes, i - 1), F.lit(0)).cast("bigint")
        for j in range(1, k):
            h = h * 31 + F.coalesce(F.get(codes, i - 1 + j), F.lit(0))
        return h

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), gram_fast)
    ).otherwise(F.transform(F.sequence(F.lit(1), F.lit(1)), gram_guarded))


def winnow_fp(gram_hashes: Column, window: int = 8) -> Column:
    """Winnowing fingerprint (Schleimer et al., SIGMOD'03) as ONE row-local
    column: min gram-hash per sliding window, md5 digest of the sorted
    distinct selections.

    The window minimum is a ``least`` over ``window`` direct ``get`` reads
    of the hash array — the array is a bound column, so it is computed once
    per row, each window costs ``window`` O(1) element reads, and NO
    per-window array is materialized (the earlier ``array_min(slice(...))``
    form allocated an 8-element copy per window — the allocation, not the
    comparisons, was ~2.5x the whole column's cost at sf1). ``least``
    skips nulls, so out-of-range reads on docs shorter than ``window``
    degrade to the truncated-window minimum — the same value the
    slice-truncation form produced (verified value-identical at sf1).
    No explode, no per-doc window shuffle, no join-back: the round-2
    formulation shuffled every (doc, gram) row twice to sort-and-min
    per doc.
    """
    m = F.size(gram_hashes)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (window - 1), F.lit(1))),
        lambda j: F.least(*[F.get(gram_hashes, j - 1 + k) for k in range(window)]),
    )
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(wins)).cast("array<string>"), "")
    )


#: masking patterns for pre-tokenization normalization. URL first (an URL
#: may embed @-text that must mask as part of the URL, not as an email),
#: then email. Case-insensitive ((?i)) because masking runs BEFORE
#: lowercasing — an uppercase-scheme URL must not escape into the
#: lowercased output.
URL_RE = r"(?i)(https?://|www\.)[^\s]+"
EMAIL_RE = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"


def normalize_text(text: Column) -> Column:
    """Standard pre-tokenization cleanup as one codegen'd expression chain:
    mask URLs and emails to stable placeholder tokens, lowercase, collapse
    whitespace runs, trim.

    Masking replaces each match with ``<url>`` / ``<email>`` so downstream
    token counts, shingles, and dedup signatures treat all concrete
    instances as one vocabulary item — the usual way training corpora stop
    URL/id churn from defeating near-dup detection. Numbers are kept: they
    carry real signal in code/math-heavy corpora.

    Row-local, order-fixed (URL before email: an URL's ``user@host`` part
    masks as the URL), no Python UDFs — at 100 TB this rides the same scan
    as every other column expression.
    """
    out = F.regexp_replace(text, URL_RE, "<url>")
    out = F.regexp_replace(out, EMAIL_RE, "<email>")
    return F.trim(F.regexp_replace(F.lower(out), r"\s+", " "))


#: PII redaction rules, applied IN THIS ORDER (order is semantic:
#: emails first — their local parts contain digits a later rule could
#: shred; card numbers before phones — a 4-4-4-4 grouped card would
#: otherwise part-match the phone shape; IPs last — their 1-3 digit
#: octet groups cannot satisfy the earlier digit-run patterns). All
#: patterns are RE2-compatible (no lookaround), so the same literals
#: run on Spark (Java regex) and any RE2 engine used for verification.
_PII_RULES: tuple = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # 13-19 digits with optional single separators: the full PAN length
    # range (13-digit legacy Visa through 19-digit UnionPay). Recall-
    # leaning by design: any bare 13-19 digit run (e.g. an epoch-millis
    # timestamp) is scrubbed too — a false <CC> beats a leaked prefix.
    ("cc", r"\b\d(?:[- ]?\d){12,18}\b", "<CC>"),
    # optional 1-2 digit country code (with or without '+') so an
    # 11-12 digit number redacts WHOLE — a 10-digit-only core match
    # would leave the leading country digits in the "scrubbed" text
    ("phone", r"(\+?\d{1,2}[-. ]?)?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(text: Column, kinds: tuple | None = None) -> Column:
    """Replace personally-identifying spans with typed placeholder
    tokens — the standard pre-release scrub stage of a training-data
    pipeline (emails → ``<EMAIL>``, card-shaped digit runs → ``<CC>``,
    NANP-ish phone numbers → ``<PHONE>``, dotted-quad IPs → ``<IP>``).
    ``kinds`` restricts which rules run (default: all), but the applied
    rules always keep the canonical _PII_RULES order — see the order
    note there; redaction is deliberately recall-leaning (better to
    scrub a fake card number than leak a real one).

    Unknown names in ``kinds`` raise: a typo ("ip" for "ipv4") that
    silently applied zero rules would SHIP UNSCRUBBED DATA — the one
    failure mode a scrub stage must make loud.

    Pure chained ``regexp_replace`` Column expression: whole-stage
    codegen, zero UDFs, composes into any scan for free at 100 TB.
    Null text stays null.
    """
    if kinds is not None:
        known = {name for name, _, _ in _PII_RULES}
        unknown = set(kinds) - known
        if unknown:
            raise ValueError(
                f"redact_pii: unknown kinds {sorted(unknown)} "
                f"(expected a subset of {sorted(known)})"
            )
    out = text
    for name, pat, repl in _PII_RULES:
        if kinds is None or name in kinds:
            out = F.regexp_replace(out, pat, repl)
    return out


#: Gopher-rule stopword list (Rae et al. 2021 §A1.1 use a small "must
#: contain N of these" English function-word set; this is that idea with
#: the battery's cross-engine-stable spellings)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


#: C4 line-drop phrases (Raffel et al. 2020 §2.2: lines with the word
#: "Javascript" are removed; boilerplate policy lines likewise). Matched
#: case-insensitively as substrings of the lowercased line.
C4_LINE_DROP_PHRASES = (
    "javascript",
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
)

#: a line "ends in terminal punctuation" (C4: period / exclamation /
#: question mark / closing quotation mark), allowing trailing whitespace
_C4_TERMINAL_LINE_RE = "[.!?\"']\\s*$"

#: sentence boundary ≈ terminal punct (+ optional closing quote) then
#: whitespace; callers append one space so a final sentence counts
_C4_SENTENCE_RE = "[.!?][\"']?\\s"


def c4_kept_lines(
    text: Column,
    min_words: int = 3,
    drop_phrases: tuple[str, ...] = C4_LINE_DROP_PHRASES,
) -> Column:
    """The lines of ``text`` that survive C4's line-level filters
    (Raffel et al. 2020 §2.2, arXiv:1910.10683), as ``array<string>``
    in original order: a line is kept iff it ends in terminal
    punctuation, has at least ``min_words`` whitespace words, and
    contains none of ``drop_phrases`` (case-insensitive). Row-local —
    at 100 TB this composes into the scan like every other gate here.
    """
    lines = F.split(text, r"\r\n|\r|\n")

    def keep(l: Column) -> Column:
        lw = F.lower(l)
        ok = l.rlike(_C4_TERMINAL_LINE_RE)
        ok = ok & (
            F.size(F.filter(F.split(l, r"\s+"), lambda t: t != ""))
            >= min_words
        )
        for p in drop_phrases:
            ok = ok & ~lw.contains(p)
        return ok

    return F.filter(lines, keep)


def c4_clean(
    text: Column,
    min_words: int = 3,
    drop_phrases: tuple[str, ...] = C4_LINE_DROP_PHRASES,
) -> Column:
    """``text`` rebuilt from its C4-surviving lines (newline-joined;
    empty string when no line survives)."""
    return F.array_join(c4_kept_lines(text, min_words, drop_phrases), "\n")


def c4_page_rules(
    text: Column,
    cleaned: Column,
    min_sentences: int = 5,
) -> Column:
    """C4's page-level rules over the original text and its line-cleaned
    form (Raffel et al. 2020 §2.2): one struct of per-rule booleans
    (True = rule PASSES) mirroring :func:`gopher_rules`'s shape:

      no_brace        the page contains no '{' (code-page proxy)
      no_lorem        no 'lorem ipsum' placeholder text (case-insensitive)
      enough_sentences  the CLEANED text still holds >= min_sentences
                        sentences (terminal punct + whitespace boundary;
                        the paper's "at least 5 sentences" retention rule)
      passes          AND of the above
      n_sentences     the boundary count (long)

    The paper's bad-word blocklist is deliberately NOT bundled — pass
    extra phrases through ``c4_kept_lines(drop_phrases=...)`` or filter
    upstream; shipping a word list is a policy decision, not an engine
    default.
    """
    n_sent = F.regexp_count(
        F.concat(cleaned, F.lit(" ")), F.lit(_C4_SENTENCE_RE)
    )
    no_brace = ~text.contains("{")
    no_lorem = ~F.lower(text).contains("lorem ipsum")
    enough = n_sent >= min_sentences
    return F.struct(
        no_brace.alias("no_brace"),
        no_lorem.alias("no_lorem"),
        enough.alias("enough_sentences"),
        (no_brace & no_lorem & enough).alias("passes"),
        n_sent.cast("long").alias("n_sentences"),
    )


def gopher_rules(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1, the
    repetition-free subset; C4's terminal-punctuation line rules are folded
    into the line-shape checks). One struct column of per-rule booleans
    (True = rule PASSES) plus the word count:

      words_ok      min_words <= n_words <= max_words
      avg_len_ok    mean word length in [min_avg_word_len, max_avg_word_len]
      symbol_ok     (# + ellipsis occurrences) / n_words <= max_symbol_word_ratio
      bullet_ok     fraction of lines starting with a bullet <= max_bullet_line_frac
      ellipsis_ok   fraction of lines ending in an ellipsis <= max_ellipsis_line_frac
      alpha_ok      fraction of words containing a letter >= min_alpha_word_frac
      stopword_ok   >= min_stopword_hits Gopher stopword occurrences
      passes        AND of all of the above
      n_words       the whitespace-token count (long)

    Word-denominated rules FAIL on empty/whitespace-only docs (an empty
    doc is never keepable under Gopher); the line-shape rules pass
    vacuously there. Everything is one row-local codegen'd expression
    tree — no shuffle, no UDF; filtering 100 TB with this composes into
    the scan.
    """
    w = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    n = F.size(w)
    # guarded denominator: AND is not guaranteed to short-circuit in
    # Spark, and ANSI mode turns 0/0 into a runtime error — with n=0 the
    # numerators are all 0, so /1 yields 0 ratios and the has_words
    # conjunct still fails the word rules
    nd = F.greatest(n, F.lit(1)).cast("double")
    has_words = n > 0
    avg_len = F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / nd
    symbol_ratio = F.regexp_count(text, F.lit(r"#|\.\.\.|…")).cast("double") / nd
    lines = F.split(text, r"\r\n|\r|\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•‣▪]")))
        .cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
        .cast("double")
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(w, lambda t: t.rlike("[A-Za-z]"))).cast("double") / nd
    )
    stop_hits = _word_count(text, GOPHER_STOPWORDS)
    return F.struct(
        ((n >= min_words) & (n <= max_words)).alias("words_ok"),
        (has_words & (avg_len >= min_avg_word_len) & (avg_len <= max_avg_word_len)).alias("avg_len_ok"),
        (has_words & (symbol_ratio <= max_symbol_word_ratio)).alias("symbol_ok"),
        (bullet_frac <= max_bullet_line_frac).alias("bullet_ok"),
        (ellipsis_frac <= max_ellipsis_line_frac).alias("ellipsis_ok"),
        (has_words & (alpha_frac >= min_alpha_word_frac)).alias("alpha_ok"),
        (stop_hits >= min_stopword_hits).alias("stopword_ok"),
        (
            (n >= min_words) & (n <= max_words)
            & (avg_len >= min_avg_word_len) & (avg_len <= max_avg_word_len)
            & (symbol_ratio <= max_symbol_word_ratio)
            & (bullet_frac <= max_bullet_line_frac)
            & (ellipsis_frac <= max_ellipsis_line_frac)
            & (alpha_frac >= min_alpha_word_frac)
            & (stop_hits >= min_stopword_hits)
        ).alias("passes"),
        n.cast("long").alias("n_words"),
    )
