"""Text-analysis expression builders for the LLM-data-pipeline surface
(north-star extension; SURVEY.md §2.3 E14 and §7 step 6).

All hot-path logic is built-in Column expressions (split / regexp / md5 /
higher-order array functions) so it runs JVM-side under whole-stage codegen —
no Python UDFs. At 100 TB the documents table is the biggest input; every
function here is a narrow map (no shuffle).

Shingles are built only from staged tokens: a caller projects
``tokens(text).alias("toks")`` first and applies ``shingles_of_tokens`` to
that column, so the tokenizer runs once per document, not once per shingle.
There is no shingle builder that takes the text itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal built-in stopword inventories for the language-ID heuristic.
# Deliberately tiny + deterministic; real deployments would swap in fastText.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "es": ["el", "la", "de", "y", "los", "que", "un", "una", "es", "en"],
}


def normalize(text: Column) -> Column:
    r"""Lowercase + collapse whitespace — canonical form for hashing/dedup.

    The collapse class is spelled explicitly — ASCII whitespace
    [ \t\n\x0B\f\r] plus \p{Z} (all Unicode spaces incl. NBSP/EM
    SPACE, and the Zl/Zp separators) — NEVER via \s: Java's \s includes
    \x0B where RE2's does not, and neither includes Unicode spaces while
    DuckDB's trim() strips them, so both bare-\s forms diverged between
    engine and oracle (found by fuzzing; the corpus is pure ASCII so gate
    hashes never saw it). With every space collapsed to ' ' first, the
    trailing trim() is ASCII-only in BOTH engines, and a multilingual
    corpus normalizes the way a human expects. NEL (\x85) and the Cc
    separators (\x1c-\x1f) are deliberately NOT whitespace here — they
    are control chars in both dialects' class semantics.

    Case-folding contract (probe-verified): Java's lower() is
    context/locale-aware where DuckDB's utf8proc is simple-mapped — the
    known divergent inputs are Turkish dotted İ (U+0130: Java emits
    i + combining dot, DuckDB plain i) and Greek word-final Σ (Java ς,
    DuckDB σ). Oracle hash parity is therefore guaranteed for text
    without those two uppercase forms; the engine's behavior (the
    linguistically correct one) wins where they differ."""
    return F.trim(F.regexp_replace(F.lower(text), r"[ \t\n\x0B\f\r\p{Z}]+", " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    return F.split(normalize(text), " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (reference-style cheap tokenizer)."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored proxy count: word pieces of <=4 chars.

    ceil(len(word)/4) summed over words — a deterministic stand-in for a
    subword tokenizer's piece count, computed entirely with higher-order
    array functions (no UDF).
    """
    return F.aggregate(
        tokens(text),
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 (not xxhash) so any engine — including the DuckDB oracle — derives
    the identical key; this is the exact-dedup join key.
    """
    return F.md5(normalize(text))


def md5_60(col: Column) -> Column:
    """First 60 bits of md5(col) as a non-negative bigint — the
    engine-portable hash both Spark (conv(substring(md5,1,15),16,10)) and
    the DuckDB oracles (('0x'||substring(md5,1,15))::BIGINT) derive
    identically. THE single source for every hash-split bucket
    (train/test splits, shard assignment, deterministic sampling): its
    SQL twin is dedup._SQL_BUCKET, and a change here that misses one
    inline copy silently breaks that query's split — which is why the
    inline copies were consolidated (review finding)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_bucket(col: Column, mod: int = 100) -> Column:
    """md5_60(col as string) % mod — the q75/q102 hash-split bucket."""
    return md5_60(col.cast("string")) % mod


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Number of tokens that are in `words` (language-ID signal)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(arr, t)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax over per-language stopword hit counts,
    'und' (undetermined) when no stopword matches at all.

    Shaped as array_max over (hits, -order, lang) structs rather than a
    when-chain fold: the fold nests every earlier hits-expression inside
    each comparison (the tree grows quadratically with languages), while
    the struct array evaluates each hits count exactly once. Lexicographic
    struct max = highest hits, ties to the LOWEST order index — identical
    first-max-wins semantics to the original fold (and the q32 oracle)."""
    entries = [
        F.struct(
            stopword_hits(text, words).alias("h"),
            F.lit(-i).alias("neg_order"),
            F.lit(lang).alias("l"),
        )
        for i, (lang, words) in enumerate(STOPWORDS.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["h"] > 0, best["l"]).otherwise(F.lit("und"))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (quality signal)."""
    n = F.length(text)
    # explicit whitespace set (never \s): Java's \s includes \x0B where
    # RE2's does not — same divergence normalize() avoids. \p{L}\p{N}
    # alongside ASCII \w so non-ASCII letters/digits (é, 漢, ٣) are NOT
    # punctuation (\w alone would skew quality_score against exactly
    # the multilingual corpora normalize() supports); both
    # Java regex and RE2 support \p{L}/\p{N} in classes, so the q33
    # oracle mirrors the class verbatim.
    n_punct = n - F.length(
        F.regexp_replace(text, r"[^\w\p{L}\p{N} \t\n\x0B\f\r\p{Z}]", "")
    )
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Stopword tokens / total tokens (quality signal)."""
    nt = token_count(text)
    return F.when(nt > 0, stopword_hits(text, STOPWORDS[lang]) / nt).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite document-quality score in [0, 1].

    Mirrors the reference's weighted-score idiom (`Sol_2.ipynb:373-380`)
    applied to text-quality signals: length (saturating at 500 chars),
    low punctuation, and presence of stopwords (fluency proxy).
    """
    len_component = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(5.0), F.lit(1.0))
    stop_component = F.least(stopword_ratio(text) * F.lit(5.0), F.lit(1.0))
    # no round(): raw double math is bit-identical across engines
    return len_component * 0.4 + punct_component * 0.3 + stop_component * 0.3


# PII regex inventory for redact_pii. Kept to constructs with identical
# semantics in Java regex and RE2 (literal classes, bounded repeats, no
# backreferences/lookaround) so an oracle engine could mirror them.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # Three phone shapes, ORDERED longest-coverage-first (alternation is
    # leftmost-branch-first, so the NANP branch last keeps it from eating
    # only the first 10 digits of a longer run), and chosen so generic
    # numeric text survives:
    #  - +CC international: '+' REQUIRED, >= 10 digits, any single [-. ]
    #    separators including spaces ("+44 20 7946 0958");
    #  - bare long run: >= 11 CONTIGUOUS digits, no separators at all
    #    (a [-.]-tolerant form would mask dotted version
    #    strings "1.2.3.4.5.6.7.8.9.10.1" and dash-joined date ranges
    #    "2023-01-01-2024-12-31" as phones; separator-joined phone
    #    recall is the NANP/+CC branches' job);
    #  - NANP-ish: optional +CC, 3-3-4 digit groups, at most ONE
    #    separator between groups ("(415) 555-0199", "4155550199").
    # "2023-01-01 2024-12-31", "2023-01-01-2024-12-31",
    # "1.2.3.4.5.6.7.8.9.10.1" and "1.5 2.3 4.5 6.7 8.9 0.1" match no
    # branch; "123456789012345" is masked WHOLE by the bare-run branch.
    "phone": (
        r"\+([0-9][-. ]?){9,}[0-9]"
        r"|[0-9]{11,}"
        r"|(\+[0-9]{1,3}[-. ]?)?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
    ),
    "digit_run": r"[0-9]{6,}",
}
PII_MASK = "<pii>"


def redact_pii(text: Column) -> Column:
    """Mask emails, phone-like sequences, and long digit runs with a
    sentinel. Chained regexp_replace — per-row, JVM-side, no shuffle; the
    pattern order matters (emails first, so their digits never half-match
    the phone pattern). The dictionary-driven variant (deny-list term
    masking) is plans/curation.q129_term_mask."""
    out = text
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, PII_MASK)
    return out


def pii_hits(text: Column) -> Column:
    """Total count of PII pattern matches (audit signal). Counts along the
    same progressive-redaction chain as redact_pii, so a digit run inside
    an already-masked email is never double-counted."""
    n = F.lit(0)
    cur = text
    for pat in PII_PATTERNS.values():
        # coalesce: regexp_extract_all(NULL) is NULL and size(NULL) is NULL
        # under default sizeOfNull, which would turn a null-text row's
        # count into NULL and silently drop it from audit sums
        n = n + F.coalesce(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))), F.lit(0)
        )
        cur = F.regexp_replace(cur, pat, PII_MASK)
    return n


def shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles of a pre-tokenized array column -> array<string>
    (distinct); the only shingle builder. Documents shorter than k words
    yield their whole text as the single shingle.

    ``toks`` MUST be a plain column reference: select
    ``tokens(text).alias("toks")`` in a prior projection and shingle that
    column. The tokenizer *expression* passed here would be inlined into
    size() and every transform element, re-running the normalize+split
    regex once per shingle. CollapseProject keeps the staging projection
    because the alias is referenced more than once, so the tokens evaluate
    exactly once per row (measured ~8x on q102's shingle build at sf0.1).
    Explode the result with ``explode_outer``: a plain explode lets
    InferFiltersFromGenerate re-inline the shingle expression below the
    staging projection."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )
