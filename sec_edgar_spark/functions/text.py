"""Text-analysis Column helpers for the LLM-data-pipeline operators.

Design constraints:

- Everything is built from JVM-side builtins (split/transform/filter/
  aggregate/regexp_*) so the hot path stays inside whole-stage codegen —
  no Python UDFs for tokenization, hashing, or scoring.
- All hashing is **md5-based** (``conv(substr(md5(x),1,15),16,10)``)
  rather than ``xxhash64`` so results are engine-independent: the DuckDB
  oracle computes the identical 60-bit integer via
  ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``.  At cluster scale md5 is
  marginally slower than xxhash64 but still fully codegen'd and
  shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "zh": ["de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"],
}

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

ROLLING_HASH_MOD = 2147483647  # 2^31 - 1, keeps the fold overflow-free


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def md5_hash64(c: Column | str) -> Column:
    """Deterministic 60-bit integer hash of a string (engine-portable).

    First 15 hex chars of md5 → bigint in [0, 2^60).
    """
    return F.conv(F.substring(F.md5(_col(c).cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )


def tokens(c: Column | str) -> Column:
    """Whitespace tokens with empties dropped (array<string>).

    NULL text tokenizes to the EMPTY array, not NULL: downstream
    counts/shingles/ranks treat a missing document as zero tokens, the
    same contract as the oracle's _TOKENS fragment — NULL propagation
    here made every token statistic engine-divergent on NULL-text rows
    (engines disagree on NULL ordering/aggregation corners, POISON.md).
    """
    return F.filter(
        F.split(F.coalesce(_col(c), F.lit("")), r"\s+"), lambda t: t != ""
    )


def bpe_tokens(c: Column | str) -> Column:
    """BPE-ish pre-tokenization via regexp_extract_all (NULL-safe, same
    empty-array contract as :func:`tokens`)."""
    return F.regexp_extract_all(
        F.coalesce(_col(c), F.lit("")), F.lit(BPE_TOKEN_PATTERN), 0
    )


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def bpe_token_count(c: Column | str) -> Column:
    return F.size(bpe_tokens(c))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a TOKEN-ARRAY column (array<string>,
    space-joined, distinct).

    Prefer passing a token array materialized in its OWN projection
    when performance matters: higher-order lambdas evaluate
    interpreted, so an inlined split expression re-evaluates per array
    element (the recompute trap documented at operators/dedup.py
    shingle_rows and SCALE.md).

    Short arrays are safe: with fewer than ``n`` tokens the shingle
    count is 0 and ``F.sequence(1, 0)`` DESCENDS into an invalid
    ``slice(toks, 0, n)`` — guarded here with an empty-array branch
    (code review r8; previously every call site needed its own
    ``size >= n`` filter or it errored at runtime).
    """
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>, space-joined, distinct).

    Built with sequence+transform over the token array — no
    explode/shuffle needed to *form* shingles.  The lambda body is ONE
    slice + ONE array_join per shingle: higher-order lambdas evaluate
    interpreted (not codegen), so the earlier n-way
    ``concat_ws(element_at × n)`` body cost n interpreted calls per
    shingle and measured 6× slower at n=8 on sf0.1 (17.9s → 2.9s for
    the form+agg stage).  A posexplode + window-lead formation is ~3×
    faster still locally but shuffles the whole token stream by doc —
    the wrong trade at 100 TB; this stays zero-shuffle.
    """
    return shingles_from_tokens(tokens(c), n)


def rolling_fingerprint(c: Column | str) -> Column:
    """Polynomial rolling hash over the token stream, mod 2^31-1.

    fold: acc = (acc*31 + (md5_hash64(token) % M)) % M, left-to-right —
    an order-sensitive document fingerprint (unlike the minhash set
    signature).
    """
    toks = tokens(c)
    hashed = F.transform(toks, lambda t: md5_hash64(t) % ROLLING_HASH_MOD)
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % ROLLING_HASH_MOD,
    )


def alpha_chars(c: Column | str) -> Column:
    return F.length(F.regexp_replace(_col(c), r"[^A-Za-z]", ""))


def punct_chars(c: Column | str) -> Column:
    return F.length(F.regexp_replace(_col(c), r"[A-Za-z0-9\s]", ""))


def stopword_count(token_col: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    arr = F.lit(list(words))  # one Literal node, not len(words) CreateArray children
    return F.size(F.filter(token_col, lambda t: F.array_contains(arr, F.lower(t))))


def lang_scores(token_col: Column) -> dict[str, Column]:
    """Stopword-hit count per language — argmax is the lang-ID guess."""
    return {lang: stopword_count(token_col, lang) for lang in STOPWORDS}


def lang_id(token_col: Column) -> Column:
    """Argmax language by stopword hits; ties broken by lang code order;
    all-zero → 'und' (undetermined)."""
    scores = lang_scores(token_col)
    langs = sorted(STOPWORDS)  # deterministic tie order
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("int")
    # Fold right-to-left so earlier langs win ties via strict '>'.
    for lang in reversed(langs):
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def canonicalize_url(c: Column | str) -> Column:
    """URL canonical form (codegen regex chain, shared by the batch
    dedup query and the streaming intake gate): lowercase, strip the
    #fragment, strip utm_* tracking params KEEPING their '?'/'&'
    delimiter (capture-group replacement — no strip-and-repair step,
    so a literal '&' in a query-less path like 'http://x/a&b' is never
    rewritten into a '?'; ADVICE r10), collapse the delimiter runs the
    strip leaves ('?&&page' -> '?page'), strip trailing '?'/'&' runs
    and a trailing '/'.  The regex subset (anchors, capture groups,
    character classes) behaves identically in Java and RE2; the DuckDB
    oracle replays the chain verbatim (replacement backref spelled
    '$1' here, '\\1' there)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower(_col(c)), "#.*$", ""),
                    "([?&])utm_[a-z_]+=[^&#]*",
                    "$1",
                ),
                "([?&])&+",
                "$1",
            ),
            "[?&]+$",
            "",
        ),
        "/$",
        "",
    )
