"""Text expression builders for the LLM-data-pipeline operators
(SURVEY.md §2.11 / north_star): tokenization, shingling, quality
features, language-ID, fingerprinting.

Everything here is built-in Catalyst expressions (split / regexp /
transform / md5 / xxhash64) — no Python UDFs — so the 100 TB documents
scan stays inside whole-stage codegen. The DuckDB oracles replicate the
same formulas, which is why the heuristics are deliberately simple
closed-form expressions rather than model calls.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny stopword inventories for the language-ID heuristic: function words
# that are near-unique per language. Deliberately small + public-domain.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "las", "es", "y"),
}

EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# Java regex \s (no UNICODE flag) is exactly [ \t\n\x0B\f\r]; the punct
# class [!-/:-@\[-`{-~] is exactly the 32 non-alphanumeric printable
# ASCII chars. Enumerating them lets hot-path expressions use
# ``translate`` (a per-char table lookup) instead of the regex engine —
# provably value-identical to the oracle's regex formulas for ANY input,
# not just ASCII corpora, because both sides only ever count these
# ASCII code points.
ASCII_WS = " \t\n\x0b\x0c\r"
ASCII_PUNCT = "".join(chr(c) for c in range(0x21, 0x7F) if not chr(c).isalnum())


def len_no_ws(text: Column) -> Column:
    """Length of the text with all (ASCII) whitespace removed == sum of
    whitespace-token lengths; translate-based twin of the oracle's
    ``length(regexp_replace(lower(text), '\\s', '', 'g'))``."""
    return F.length(F.translate(F.lower(text), ASCII_WS, ""))


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased). ``regexp_extract_all('\\S+')``
    rather than split-on-whitespace so leading/trailing runs can't create
    empty tokens and the DuckDB oracle can run the identical regex."""
    return F.regexp_extract_all(F.lower(text), F.lit(r"\S+"), F.lit(0))


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish sub-word segmentation: split on word/number/punct
    boundaries (letter runs, digit runs, single punct marks) — the
    regex analog of a byte-pair pre-tokenizer's coarse pass."""
    return F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
    )


def norm_text(text: Column) -> Column:
    """Whitespace-collapsed lowercase text — the shingling base.

    Kept as a separate projection on purpose: an outer column referenced
    inside a higher-order-function lambda is inlined as a full expression
    tree and re-evaluated PER ELEMENT, so shingling directly over
    ``regexp_replace(...)`` runs the regex ~L times per document
    (measured ~50 ms/doc). Materialize this behind an exchange (e.g.
    ``partitioning.spread``) before calling ``char_shingles`` on it.
    """
    return F.regexp_replace(F.lower(text), r"\s+", " ")


def char_shingles(norm: Column, n: int = 5) -> Column:
    """Character n-gram shingle set (distinct) for MinHash/Jaccard over
    an already-normalized text column (see ``norm_text``). Built with
    sequence+transform+substring — pure Catalyst, no UDF."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(n))))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), joined with single spaces.
    Sub-n documents shingle to the whole text; EMPTY documents shingle
    to the empty array — NOT [''], which would make all contentless
    docs Jaccard-1.0 near-dups of each other."""
    return shingles_of_tokens(ws_tokens(text), n, _inline=True)


def shingles_of_tokens(toks: Column, n: int = 3, _inline: bool = False) -> Column:
    """Word n-gram shingles (distinct) of a token-array column. Same
    edge semantics as :func:`word_shingles`.

    Gram construction is formulation-sensitive inside the interpreted
    HOF (A/B at sf1, 50k docs): over a MATERIALIZED token column,
    n unrolled ``element_at`` reads beat ``concat_ws(slice(…))`` 2.5×
    (0.32 s vs 0.79 s — slice allocates a fresh n-array per shingle);
    over an INLINE ``ws_tokens(text)`` expression the ranking flips
    (3.8 s vs 1.8 s — each ``element_at`` reference re-evaluates the
    tokenize subtree), so ``word_shingles`` keeps the slice form via
    ``_inline`` and per-corpus pipelines should tokenize in their own
    projection step and call this with the attribute."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    if _inline:
        lam = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    else:
        lam = lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + 1 + j) for j in range(n)]
        )
    return (
        F.when(cnt == 0, F.array().cast("array<string>"))
        .when(cnt < n, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.array_distinct(F.transform(idx, lam)))
    )


def trigrams_of_tokens(toks: Column) -> Column:
    """ALL word 3-grams of a TOKEN-ARRAY column (with duplicates —
    unlike ``word_shingles`` this is the multiset, so a repetition
    ratio can be derived). Empty array below 3 tokens; the sequence
    bound is guarded because Spark's ``sequence(1, n)`` happily steps
    BACKWARDS for n < 1.

    Three ``element_at`` lookups per gram, NOT ``concat_ws(slice(...))``
    — ``slice`` allocates a fresh 3-element array per gram inside the
    interpreted HOF (higher-order functions are CodegenFallback), which
    A/B-measured 5× slower at sf1 (2.0 s → 0.4 s for the repetition
    pipeline); ``element_at`` is an O(1) read of the existing ArrayData.
    Pass a MATERIALIZED token column (own projection step), not an
    inline ``ws_tokens(text)`` expression — every reference of the
    lambda re-evaluates an inline subtree."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), cnt - 2)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    return F.when(cnt < 3, F.array().cast("array<string>")).otherwise(grams)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    md5 (not xxhash64) because DuckDB computes the identical digest, so
    the oracle can check it; xxhash64 is used engine-internally where no
    oracle parity is needed (minhash seeds)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = ws_tokens(text)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / F.size(toks).cast("double")
    )


def punct_ratio(text: Column) -> Column:
    # length minus length-with-punct-stripped == count of chars in the
    # oracle's [!-/:-@\[-`{-~] class (see ASCII_PUNCT note).
    n_punct = F.length(text) - F.length(F.translate(text, ASCII_PUNCT, ""))
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(text).cast("double")
    )


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """Count of marker-word occurrences (word-bounded) in the text."""
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), F.lit(0)))


def hex_fold(md5_col: Column, start: int, width: int = 14) -> Column:
    """Fold ``width`` hex chars of an md5-hex column (1-based ``start``)
    into a BIGINT with positional base-16 weights. Pure built-ins on
    both sides (substring / instr ↔ substr / strpos), so a DuckDB
    oracle reproduces the value bit-for-bit — unlike xxhash64, which is
    engine-internal.

    Building block of the portable Kirsch-Mitzenmacher hash family used
    by the oracle-checked MinHash variant: ONE md5 per value, two
    56-bit folds h1 (chars 1-14) and h2 (chars 15-28), then
    ``h_i = h1 + i*h2`` (i < 8 keeps the sum under 2^59 — no int64
    overflow, which DuckDB raises on rather than wrapping). Apply the
    folds in their own projection so the 14-op chains appear once in
    the plan, not once per family member. The scale path keeps xxhash64
    (one JVM hash, no string folding).

    SQL twin: ``registry.hex_fold_sql``.

    Implemented as ONE ``conv(substring(...), 16, 10)`` — bit-identical
    to the positional digit fold (verified on 100k md5s, all widths in
    use, with matching NULL propagation) but a 3-node expression instead
    of a 14-op ``instr``/``substring`` chain. The chain form made
    k-hash plans (Bloom/MinHash/CMS: 2 folds × k positions, each
    inlined per reference) balloon to thousands of Catalyst nodes —
    ~1.3 s of pure ANALYSIS time per fresh bloom plan at any data size,
    and it re-expanded through projections into interpreted scan-side
    filters. DuckDB has no conv(), so the SQL twin keeps the digit
    fold — same value, engine-appropriate form on each side.
    """
    return F.conv(F.substring(md5_col, start, width), 16, 10).cast("long")
