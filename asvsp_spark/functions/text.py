"""Text-analysis column functions for large-scale corpus processing:
tokenization, token counts, quality scoring, language-ID heuristic,
document fingerprinting.

All pure JVM-side column expressions (pyspark.sql.functions only — no
Python UDFs), so they stay inside whole-stage codegen and run at scan
speed over 100TB of documents. Beyond-parity extension per SURVEY §7.5.

Determinism: ratios divide exact integer counts, so results are
bit-identical across engines; the DuckDB oracle mirrors each expression
(plans/oracle_text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Stopword marker sets for the language heuristic. The fixed priority
# order breaks count ties deterministically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("la", "el", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("的", "是", "了", "在", "和"),
}
LANG_PRIORITY = ("en", "es", "de", "fr", "zh")

STOPWORDS = ("the", "a", "of", "and", "is", "in", "to")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (regex split, trailing empties dropped by
    trimming first). The split class is the EXPLICIT Java∩RE2
    whitespace set — identical to RE2's \\s, which the DuckDB oracles
    keep writing as '\\s+' — because Java's \\s additionally matches
    vertical tab (\\x0B): a VT-bearing document would otherwise
    tokenize differently between engines (r9 review, empirically
    divergent). Every Spark-side whitespace split in the engine uses
    this same class. The DuckDB twin must write ``trim(text, ' ')``,
    never bare ``trim(text)``: DuckDB's default trim strips Unicode Zs
    (NBSP etc.) where F.trim strips ASCII space only (r10 property
    suite, empirically divergent on NBSP-edged docs)."""
    return F.split(F.trim(text), r"[ \t\n\f\r]+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def quality_score_expr(n_tokens: Column, n_stop: Column) -> Column:
    """The engine's canonical blended heuristic quality score:
    (length term + stopword ratio) / 2, unrounded — wrap in round_fixed
    at the call site. This is THE formula; every consumer (text_quality
    / text_profile queries, the pipeline's quality gate, the
    classifier's label bootstrap) must use this helper so they can
    never drift. try_divide keeps a zero-token doc NULL (dropped by any
    >= gate) instead of raising under ANSI mode; the DuckDB oracles are
    unaffected because their inputs never carry zero-token docs and
    NULL comparisons drop rows in both engines."""
    return (F.least(n_tokens, F.lit(500)) / 500.0
            + F.try_divide(n_stop, n_tokens)) / 2


# GPT-2-style pre-tokenizer, restricted to the Java/RE2 regex
# intersection (no lookahead — the original's \s+(?!\S) tail branch is
# RE2-illegal and only matters for trailing-space tokens, which a
# counter can ignore): contractions first so they win the leftmost-
# first alternation in BOTH engines, then space-prefixed letter runs,
# digit runs, and punctuation runs.
BPE_PRETOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+"


def subword_tokens(text: Column) -> Column:
    """BPE-ish pre-tokens (GPT-2 pre-tokenizer classes). Real BPE then
    only SPLITS these further, so this count is a lower bound on (and
    in practice within ~25-40% of) a trained tokenizer's token count —
    the standard cheap token-budget estimator when the tokenizer model
    is not shippable into the engine. Pure regexp_extract_all: one
    projection, whole-stage codegen, identical matches in DuckDB (RE2
    and java.util.regex are both leftmost-first here)."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_PATTERN), 0)


def subword_token_count(text: Column) -> Column:
    return F.size(subword_tokens(text))


def stopword_count(toks_col_name: str, words: tuple[str, ...] = STOPWORDS) -> Column:
    wordlist = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter({toks_col_name}, t -> t IN ({wordlist})))")


def token_ngrams(toks_col_name: str, n: int) -> Column:
    """Adjacent token n-grams as an array column (space-joined), built
    with ``transform`` over ``sequence`` — no explode, no shuffle; the
    whole computation stays inside one projection."""
    parts = " || ' ' || ".join(
        f"{toks_col_name}[i + {k}]" for k in range(n))
    # Spark subscripts are 0-based (DuckDB lists are 1-based — the oracle
    # shifts); sequence(0, -1) would DESCEND and ANSI mode rejects
    # out-of-bounds subscripts, so guard docs shorter than n tokens.
    return F.expr(
        f"IF(size({toks_col_name}) >= {n}, "
        f"transform(sequence(0, size({toks_col_name}) - {n}), "
        f"i -> {parts}), array())")


def repetition_features(toks_col_name: str) -> dict[str, Column]:
    """Gopher/C4-style within-document repetition signals, computed as
    pure array expressions (one projection, scan speed):

    - ``dup_token_ratio``: fraction of tokens that are repeats of an
      earlier token (1 - distinct/total),
    - ``dup_trigram_ratio``: fraction of adjacent token 3-grams that are
      repeats — the classic boilerplate / template detector.

    Both divide exact integer counts, so the DuckDB oracle is
    bit-identical.
    """
    toks = F.col(toks_col_name)
    n_toks = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    tri = token_ngrams(toks_col_name, 3)
    n_tri = F.size(tri)
    n_tri_uniq = F.size(F.array_distinct(tri))
    return {
        "n_tokens": n_toks,
        "n_unique_tokens": n_uniq,
        "n_trigrams": n_tri,
        "n_unique_trigrams": n_tri_uniq,
        "dup_token_ratio": F.when(
            n_toks > 0, 1.0 - n_uniq / n_toks).otherwise(F.lit(0.0)),
        "dup_trigram_ratio": F.when(
            n_tri > 0, 1.0 - n_tri_uniq / n_tri).otherwise(F.lit(0.0)),
    }


def token_entropy(toks_col_name: str) -> Column:
    """Shannon entropy (nats) of the within-document unigram
    distribution — the standard low-information / template-spam signal
    (near-zero entropy = one token repeated; ln(n) = all distinct).

    Computed SHUFFLE-FREE from the token array alone: sort the array,
    then one ``aggregate`` fold accumulates run lengths and
    sum(c * ln c) over the runs, so H = ln(N) - sum(c ln c)/N comes out
    of a single projection at parquet-scan speed — no explode, no
    (doc_id, token) shuffle, however large the corpus. The DuckDB
    oracle uses the classic unnest + GROUP BY formulation; both compute
    the identical formula and round after all float math.
    """
    # fold state: (prev token, current run length, sum of c*ln(c) over
    # closed runs). array_sort puts equal tokens adjacent; the finish
    # lambda closes the last run.
    run_sum = F.expr(
        f"aggregate(array_sort({toks_col_name}), "
        "struct(CAST(NULL AS STRING) AS prev, 0L AS run, "
        "CAST(0.0 AS DOUBLE) AS acc), "
        "(s, x) -> IF(x <=> s.prev, "
        "struct(x AS prev, s.run + 1L AS run, s.acc AS acc), "
        "struct(x AS prev, 1L AS run, "
        "s.acc + IF(s.run > 0, s.run * ln(s.run), 0.0D) AS acc)), "
        "s -> s.acc + IF(s.run > 0, s.run * ln(s.run), 0.0D))")
    n = F.size(F.col(toks_col_name))
    return F.when(n > 0, F.log(n.cast("double")) - run_sum / n) \
            .otherwise(F.lit(0.0))


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def lower_ascii(text: Column) -> Column:
    """ASCII-only case folding via translate — the cross-engine-stable
    subset of lower(). Full Unicode case mapping is ENGINE-DIVERGENT:
    Java's toLowerCase applies contextual rules (final sigma: 'ΣΙΓΜΑΣ'
    -> 'σιγμας') and multi-codepoint mappings (Turkish 'İ' -> 'i' +
    U+0307) where DuckDB's utf8proc does simple 1:1 mapping ('σιγμασ',
    'i') — found empirically by the r10 adversarial property suite.
    Every case-insensitive canonicalization shared with a DuckDB twin
    must use this helper, mirrored as translate() in the oracle SQL."""
    return F.translate(text, _ASCII_UPPER, _ASCII_LOWER)


def fingerprint(text: Column) -> Column:
    """Canonical-form content fingerprint: ASCII-case-fold, collapse
    whitespace, md5. Identical in DuckDB (md5 of the same normalized
    string; case folding is lower_ascii — see its engine-divergence
    note)."""
    return F.md5(lower_ascii(
        F.regexp_replace(F.trim(text), r"[ \t\n\f\r]+", " ")))


def lang_scores(toks_col_name: str) -> dict[str, Column]:
    """Per-language marker-token counts over a tokens array column."""
    return {
        lang: stopword_count(toks_col_name, markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_pick(score_cols: dict[str, Column]) -> Column:
    """argmax over language scores with fixed priority tie-break;
    'und' (undetermined) when every score is zero."""
    best = F.greatest(*[score_cols[lang] for lang in LANG_PRIORITY])
    expr: Column = F.lit("und")
    # build the CASE in reverse priority so earlier languages win ties
    for lang in reversed(LANG_PRIORITY):
        expr = F.when(
            (score_cols[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(expr)
    return expr


# PII scrubbing — the redaction pass every public-web training corpus
# runs before anything else ships (emails, phone numbers, IP addresses,
# SSN-shaped ids). Patterns stay in the Java-regex / RE2 dialect
# intersection (no lookarounds, no backrefs), so DuckDB reproduces the
# exact same matches — redaction is auditable cross-engine, which
# matters because a silent dialect divergence here IS a privacy bug.
# the Java∩RE2 word-boundary emulation: Java's \b is UNICODE-aware
# regardless of flags ('β123' has no \b between β and 1) while RE2's
# is ASCII ('β' is a boundary) — found empirically by the r10
# adversarial property suite ('β123-45-6789' counted 0 vs 1). No \b
# may appear in a shared pattern; boundaries are consumed one-char
# ASCII non-word context groups instead (the r7 phone-guard trick,
# generalized), with \z — not $ — as the end anchor (the r9 lesson).
# Deliberate residual of consumed context: two PII matches separated
# by a SINGLE character share that character, so a single pass misses
# the second (identically in both engines) — pii_scrub defaults to TWO
# passes for exactly this; pii_counts still under-counts such adjacent
# pairs by one, in both engines alike.
_NW = "[^0-9A-Za-z_]"

PII_PATTERNS: dict[str, str] = {
    # ordering matters for pii_scrub (sequential replacement: an email
    # is redacted whole before the digit patterns can see its
    # fragments). pii_counts applies each pattern to the RAW text
    # independently, so a PII-shaped fragment inside another match
    # (an SSN-shaped run in an email local part) counts under both
    # kinds — per-kind counts can overlap by design.
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # boundary groups keep the 3-3-4 shape from matching inside longer
    # digit runs ('123-456-78901' / '...9123-456-7890')
    "ssn": rf"(^|{_NW})(\d{{3}}-\d{{2}}-\d{{4}})(\z|{_NW})",
    # Two branches (leftmost-first in both engines), because the char
    # BEFORE an explicit '+' may be anything non-digit-non-dot (even a
    # letter: 'x+555-...' is a phone) while a BARE number must not
    # follow a word char. Each branch's prefix alternatives: start,
    # one-char non-digit[-non-word] context, a dot preceded by a
    # non-digit ('call.555-...' still matches), or a dot AT string
    # start. RE2 has no lookbehind, so the "(?<!\d)(?<!\d\.)" guard (a
    # 3-3-4 run embedded in a longer DOTTED number like
    # '1.234.567.8901' is not a phone) stays a consumed context group;
    # the digit-dot prefix ('1.555-123-4567') remains the documented
    # under-redaction, the price of not redacting version strings
    # wholesale. Groups: 1/3 = branch-A context, 2 = '+'-phone;
    # 4/6 = branch-B context, 5 = bare phone — pii_replacement
    # re-emits all four context groups (non-participating -> empty in
    # both engines, verified).
    "phone": (rf"(^|[^.\d]|[^\d]\.|^\.)(\+\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}})(\z|{_NW})"
              rf"|(^|[^.0-9A-Za-z_]|[^\d]\.|^\.)(\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}})(\z|{_NW})"),
    "ipv4": rf"(^|{_NW})(\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}})(\z|{_NW})",
}

# per-kind (prefix groups, suffix groups) the redaction must re-emit
# around the tag (Java backrefs are $n, RE2/DuckDB are \n; a group
# from the non-matching alternation branch substitutes as empty in
# both engines)
_PII_REPL_GROUPS: dict[str, tuple[tuple[int, ...], tuple[int, ...]]] = {
    "email": ((), ()),
    "ssn": ((1,), (3,)),
    "phone": ((1, 4), (3, 6)),
    "ipv4": ((1,), (3,)),
}


def pii_replacement(kind: str, engine: str = "java") -> str:
    """Redaction replacement template for PII_PATTERNS[kind] in the
    given regex dialect ('java' for Spark, 're2' for DuckDB)."""
    tag = f"<{kind.upper()}>"
    pre, suf = _PII_REPL_GROUPS[kind]
    ref = (lambda n: f"${n}") if engine == "java" else (lambda n: rf"\{n}")
    return ("".join(ref(n) for n in pre) + tag
            + "".join(ref(n) for n in suf))


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (regexp_count — one scan, JVM-side)."""
    return {f"n_{kind}": F.regexp_count(text, F.lit(pat))
            for kind, pat in PII_PATTERNS.items()}


def pii_scrub(text: Column, passes: int = 2) -> Column:
    """Redact every PII match with a typed placeholder (<EMAIL>, <SSN>,
    <PHONE>, <IPV4>), applied in PII_PATTERNS order so overlapping
    shapes resolve deterministically.

    ``passes=2`` (default) because the boundary groups CONSUME one
    context character: two matches separated by a single char share it,
    so pass 1 redacts only the first ('123-45-6789 999-99-9999' ->
    '<SSN> 999-99-9999'); the replacement re-emits the context, so
    pass 2 catches the straggler. Two passes suffice for any input —
    a pass-2 miss would need a NEW single-char-separated pair, whose
    left side pass 2 just redacted. A redaction tag never matches any
    pattern, so extra passes are no-ops (idempotent), and a
    no-PII-adjacency corpus is byte-identical under passes=1."""
    out = text
    for _ in range(passes):
        for kind, pat in PII_PATTERNS.items():
            out = F.regexp_replace(out, pat, pii_replacement(kind))
    return out


def gopher_features(text: Column, toks_col_name: str) -> dict[str, Column]:
    """Gopher data-quality rule inputs (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1 — the public rule set modern
    pretraining pipelines start from), as PURE INTEGER counts so every
    downstream flag is an exact integer comparison (ratio bounds become
    cross-multiplications: mean word length in [3, 10] is
    ``3*n <= sum_len AND sum_len <= 10*n``) — nothing to round, nothing
    an engine can drift on.

    Line-structure counts are single-pass ``regexp_count`` over the raw
    text ((^|\\n) groups rather than a multiline flag: Spark's Java
    regex and DuckDB's RE2 agree on those, and RE2 has no lookahead so
    patterns stay in the common subset). Word-level counts reuse the
    tokens array with JVM higher-order filters (tens of elements per
    row — the interpreted-HOF cost that bites at per-(row, centroid)
    scale is negligible at per-doc scale, same trade as
    stopword_count)."""
    t = toks_col_name
    return {
        "n_words": F.expr(f"size({t})"),
        "sum_word_len": F.expr(
            f"aggregate({t}, 0L, (acc, w) -> acc + length(w))"),
        "n_alpha_words": F.expr(
            f"size(filter({t}, w -> w rlike '[A-Za-z]'))"),
        "n_stop_distinct": F.expr(
            f"size(array_intersect(array_distinct({t}), array("
            + ", ".join(f"'{w}'" for w in STOPWORDS) + ")))"),
        "n_symbols": (F.regexp_count(text, F.lit("#"))
                      + F.regexp_count(text, F.lit(r"\.\.\.|…"))),
        "n_lines": F.regexp_count(text, F.lit("\n")) + 1,
        "n_bullet_lines": F.regexp_count(
            text, F.lit(r"(^|\n)[ \t]*[-*•]")),
        "n_ellipsis_end": F.regexp_count(
            # \z, not $: Java's non-MULTILINE '$' also matches BEFORE a
            # final line terminator (CR, NEL, LS, PS) while RE2's
            # matches only at end-of-text (r9 review, empirically
            # divergent on CR-terminated docs); \z is absolute end in
            # both engines
            text, F.lit(r"(\.\.\.|…)[ \t]*(\n|\z)")),
    }


def c4_line_keep_expr(lines_col_name: str) -> Column:
    """C4's line-level keep rule (Raffel et al. 2020 §2.2, the public
    cleaning recipe behind the C4 corpus): a line survives when it has
    >= 5 whitespace-separated words AND ends in terminal punctuation
    (. ! ? or a closing quote). Array HOF over the doc's own lines —
    per-doc element counts, the same interpreted-HOF trade as
    stopword_count. Anchoring is '\\z' (absolute end), NOT '$': after
    splitting on \\n a CRLF document's elements keep their trailing
    \\r, and Java's '$' matches BEFORE a final line terminator while
    RE2's does not (r9 review, empirically divergent) — with \\z both
    engines consistently DROP CR-terminated lines (strip \\r upstream
    if CRLF text should pass). The whitespace class is the explicit
    Java∩RE2 set (== RE2's \\s; Java's adds \\x0B)."""
    t = lines_col_name
    return F.expr(
        f"filter({t}, l -> size(split(trim(l), '[ \\\\t\\\\n\\\\f\\\\r]+')) >= 5"
        " AND l rlike '[.!?\"][ \\t]*\\\\z')")


def c4_features(text: Column, lines_col_name: str) -> dict[str, Column]:
    """C4 page-level rule inputs as exact integers/booleans: kept-line
    counts (via c4_line_keep_expr), sentence terminators within the
    KEPT text (C4 drops pages with < 3 sentences after line cleaning),
    and the lorem-ipsum / curly-brace page gates."""
    kept = c4_line_keep_expr(lines_col_name)
    kept_text = F.array_join(kept, "\n")
    return {
        "n_lines": F.expr(f"size({lines_col_name})"),
        "n_kept_lines": F.size(kept),
        "n_sentences": F.regexp_count(kept_text, F.lit("[.!?]")),
        # lower_ascii, not lower: Java's Unicode lowercasing diverges
        # from DuckDB's (see lower_ascii) — 'LOREM İPSUM' would match
        # in one engine and not the other
        "has_lorem": F.contains(lower_ascii(text), F.lit("lorem ipsum")),
        "has_brace": F.contains(text, F.lit("{")),
    }
