"""Text-analysis primitives for the training-data pipeline surface.

All pure Column expressions (JVM-side array/lambda functions, zero
Python UDFs): tokenization, shingling, token statistics, a
deterministic quality score, stopword-based language ID, and document
fingerprinting over portable md5 hashes. Every function here has an
exact DuckDB-expressible twin so the oracle differential covers it.

Scale note: these run as per-row projections — no shuffle, fully
parallel, and whole-stage-codegen-friendly. At 100 TB the cost is one
scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from personal_health_etl_pipeline_spark.functions.hashing import md5_long

WHITESPACE = r"\s+"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once and pass it to ``fn`` as a lambda variable.

    Higher-order-function lambdas are interpreted, and a child
    EXPRESSION referenced k times inside one is re-evaluated k times —
    ``word_shingles`` over a raw ``tokens(col)`` expression re-runs the
    regex tokenizer ~7x per row (2 sizes + n slices + the guard). A
    lambda VARIABLE is a cheap bound-attribute read, so routing the
    expression through a 1-element ``transform`` evaluates it exactly
    once. Pure plan-level rewrite: same result, same nullability.
    """
    return F.transform(F.array(expr), fn)[0]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal."""
    return F.filter(F.split(_col(col), WHITESPACE), lambda x: x != F.lit(""))


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_shingles(tokens_col: Column, n: int = 3, sep: str = " ") -> Column:
    """Overlapping word n-grams of a token array (order-preserving).

    Shingle i = tokens[i..i+n-1] joined by ``sep``, built as a
    ``zip_with`` fold over ``n`` shifted slices of the token array.
    This keeps the cost O(tokens): interpreted higher-order-function
    lambdas re-evaluate child expressions on *every* element access,
    so the naive per-index ``element_at(tokens, i+j)`` form re-runs
    the whole tokenizer per shingle part — O(tokens^2) per document.
    Slices evaluate the tokenizer a constant ``n`` times instead.
    """
    m = (F.size(tokens_col) - n + 1).cast("int")
    parts = [F.slice(tokens_col, k + 1, m) for k in range(n)]
    zipped = parts[0]
    for p in parts[1:]:
        zipped = F.zip_with(zipped, p, lambda a, b: F.concat(a, F.lit(sep), b))
    return F.when(F.size(tokens_col) >= n, zipped).otherwise(
        F.array().cast("array<string>")
    )


def distinct_shingles(col: Column | str, n: int = 3) -> Column:
    return F.array_distinct(_once(tokens(col), lambda t: word_shingles(t, n)))


def has_min_tokens(col: Column | str, n: int) -> Column:
    """``size(tokens(col)) >= n`` — true iff the doc's word n-shingle
    set is non-empty (``word_shingles`` emits ``size(tokens) - n + 1``
    shingles, so non-empty ⟺ at least ``n`` tokens).

    Use THIS below the shingle projection instead of
    ``.where(F.size(shingles) > 0)`` above it: a filter on a derived
    column is pushed below its projection with the alias SUBSTITUTED,
    so the predicate re-evaluates the full shingle expression per row —
    and the substitution defeats the ``_once`` tokenizer guard, so the
    filter copy re-runs the regex tokenizer per slice reference
    (measured r16 at sf1: 0.45 s -> 2.94 s for the shingle projection,
    ~6.5x). A tokenizer-only predicate below the projection costs one
    cheap tokenize pass and leaves the expensive expression evaluated
    exactly once, in the projection."""
    return F.size(tokens(col)) >= n


def sum_token_lengths(tokens_col: Column) -> Column:
    return F.aggregate(
        tokens_col, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )


def avg_token_length(col: Column | str, round_to: int = 6) -> Column:
    return _once(
        tokens(col),
        lambda t: F.round(
            sum_token_lengths(t).cast("double") / F.size(t), round_to
        ),
    )


def type_token_ratio(col: Column | str, round_to: int = 6) -> Column:
    return _once(
        tokens(col),
        lambda t: F.round(
            F.size(F.array_distinct(t)).cast("double") / F.size(t), round_to
        ),
    )


def quality_score(col: Column | str, round_to: int = 6) -> Column:
    """Deterministic document-quality heuristic in [0, 1].

    0.3 * min(n_tokens/100, 1)   — length credit
    0.4 * type_token_ratio       — lexical diversity
    0.3 * min(avg_token_len/8,1) — word-length credit

    Rounding is EXACT RATIONAL half-up, not double-then-round: with
    n tokens, d distinct tokens and s total token characters, the
    score is the rational N/D with

        N = 6*n*min(n,100) + 800*d + 75*min(s, 8*n),   D = 2000*n

    (the three weighted terms over the common denominator), and the
    emitted value is round_half_up(N/D, round_to) computed in bigint:
    q_scaled = (2*N*10^r + D) div (2*D), then ONE double division by
    10^r. The r11 cross-sf parity sweep caught the old recipe
    (assemble in doubles, then ROUND(x, 6)) diverging from DuckDB by
    one 6th-decimal digit at sf0.1: both engines computed the same
    double, but Spark's BigDecimal half-up and DuckDB's multiply-rint
    disagree when the true value sits on a rounding boundary that the
    binary double straddles. Integer arithmetic removes the boundary:
    both engines divide the same exact integers. The quotient uses
    Spark's native integral division (``div``, IntegralDivide — exact
    for any bigint), so there is no sub-2^53 envelope to document or
    enforce (ADVICE-r11: the earlier (A - A mod B)/B double recipe was
    exact only for docs under ~2e6 tokens). Docs with zero tokens
    yield NULL (previously NaN; unreachable on the shipped corpora —
    every document has text)."""

    def _scaled(t: Column) -> Column:
        n = F.size(t).cast("bigint")
        d = F.size(F.array_distinct(t)).cast("bigint")
        s = sum_token_lengths(t)
        num = (
            F.lit(6) * n * F.least(n, F.lit(100))
            + F.lit(800) * d
            + F.lit(75) * F.least(s, F.lit(8) * n)
        )
        den = F.lit(2000) * n
        a = F.lit(2) * num * F.lit(10 ** round_to) + den
        b = F.lit(2) * den
        q_scaled = F.call_function("div", a, b)
        return F.when(
            n > 0, q_scaled.cast("double") / F.lit(float(10 ** round_to))
        )

    return _once(tokens(col), _scaled)


# --- language ID (stopword-overlap heuristic) -------------------------

STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "it", "for", "on", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
    "de": ("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "ist"),
    "fr": ("le", "la", "et", "les", "des", "en", "un", "du", "une", "est"),
}


def lang_id(col: Column | str) -> Column:
    """argmax of stopword scores with deterministic tie-break
    (alphabetical language order); no hits at all -> 'unknown'.

    Token array and score array are both bound via :func:`_once` — the
    naive expression tree re-tokenizes per language and re-scores per
    tie-break branch (~8 tokenizer evaluations per row)."""
    langs = sorted(STOPWORDS)

    def _pick(arr: Column) -> Column:
        best = F.array_max(arr)
        result = F.lit("unknown")
        # reverse alphabetical fold => alphabetical priority on ties
        for i in range(len(langs) - 1, -1, -1):
            result = F.when(arr[i] == best, F.lit(langs[i])).otherwise(result)
        return F.when(best > 0, result).otherwise(F.lit("unknown"))

    return _once(
        distinct_tokens(col),
        lambda toks: _once(
            F.array(
                *[
                    F.size(
                        F.array_intersect(
                            toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])
                        )
                    )
                    for lang in langs
                ]
            ),
            _pick,
        ),
    )


# --- fingerprinting ----------------------------------------------------

def fingerprint(col: Column | str, n: int = 3) -> Column:
    """Document fingerprint: minimum portable hash over word n-gram
    shingles (the k=1 MinHash / winnowing-style sketch). Equal
    fingerprints => near-identical leading content; used as a cheap
    first-pass dedup key.
    """
    sh = distinct_shingles(col, n)
    hashes = F.transform(sh, lambda s: md5_long(s))
    return F.array_min(hashes)


# GPT-2-style pre-tokenizer, minus the trailing-space lookahead (RE2 —
# hence the DuckDB oracle — has no lookahead; Java regex agrees on this
# subset, so both engines tokenize identically): contractions, then
# space-prefixed letter runs, digit runs, punctuation runs, whitespace.
BPE_PATTERN = r"'(?:s|d|m|t|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish subword pre-tokenization (regex, JVM-side).

    The unit a byte-pair encoder would merge within; counting these
    approximates LLM token counts far better than whitespace words
    (punctuation splits off, contractions split, digits separate).
    """
    return F.regexp_extract_all(_col(col), F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_tokens(col))
