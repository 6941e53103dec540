"""Text-analysis column expressions (SURVEY.md §2.11 extension surface).

All JVM-side: split/filter/transform/aggregate higher-order functions, no
Python UDFs. These feed the dedup and text-quality operators and the
`documents`-table queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Let-binding for column expressions: evaluate `value` ONCE per row
    and hand it to `body` as a bound lambda variable.

    Higher-order-function lambdas re-evaluate any captured expression
    subtree on every invocation (lambdas are interpreted, and a captured
    `tokens(text)` is an expression, not a value). Binding through a
    1-element array turns the expression into a lambda variable — an O(1)
    slot read. This is the difference between O(len) and O(len²) per row
    for shingling-style expressions.
    """
    return F.element_at(F.transform(F.array(value), body), 1)

# THE one explicit whitespace class shared by every cross-engine
# tokenization pass (BPE, substring dedup, BM25). The engines' \s
# dialects disagree on the margins — Java \s is ASCII incl. \x0B,
# DuckDB's RE2 \s excludes \x0B, and Python str.split() is full
# Unicode whitespace — so any corpus text with \x0B or \xa0 would make
# Spark, the DuckDB oracle, and Python-side twins diverge.
# [ \t\n\r]+ parses identically in Java regex, RE2, and Python re.
# Defined ONCE here so the tokenizers can never desync (the
# whitespace-dialect lesson of tests/test_bpe.py).
WORD_SPLIT_RE = "[ \\t\\n\\r]+"

# Tiny function-word list used by quality scoring and the lang-id heuristic.
STOPWORDS = ("a", "the")

# BPE-ish tokenizer: letter runs, digit runs, single non-alnum marks.
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty strings dropped."""
    return F.filter(F.split(text, "\\s+"), lambda t: t != "")


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined), for MinHash/Jaccard dedup.

    Pure expression. Each shingle is built from O(1) element_at accesses —
    NOT slice(), which copies O(len) per position and makes shingling
    O(len²) per document (a 10x slowdown measured at sf0.1). Docs shorter
    than n words yield a single whole-doc shingle so they still
    participate in dedup. element_at beyond the array end returns NULL and
    concat_ws skips NULLs, but the sequence bound already prevents that.
    """
    def build(toks: Column) -> Column:
        n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            )
        )

    # let() binds the token array once; element_at on a bound variable is
    # an O(1) slot read instead of a per-shingle re-tokenization.
    return let(tokens(text), build)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex tokenizer."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, sw / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    stripped = F.regexp_replace(text, "[a-zA-Z0-9\\s]", "")
    return F.when(
        F.length(text) > 0, F.length(stripped) / F.length(text)
    ).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic.

    Rewards mid-length docs and lexical diversity, penalizes punctuation
    noise. The exact formula is the engine's own contract (the reference
    has no text operators); the oracle SQL replicates it term-for-term.
    """
    toks = tokens(text)
    n = F.size(toks)
    diversity = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.5) * diversity
        + F.lit(0.3) * length_term
        + F.lit(0.2) * (1.0 - punct_ratio(text))
    )
    # +5e-10 bias before round: keeps tie rounding identical to the SQL
    # oracle (see plans/catalog.ROUND_BIAS).
    return F.round(score + F.lit(5e-10), 4) + F.lit(0.0)


def top_token_frac(text: Column) -> Column:
    """Fraction of tokens taken by the single most frequent token.

    A Gopher/MassiveText-style repetition signal: boilerplate and
    keyword-stuffed documents concentrate mass on one token. Pure
    expression — the per-distinct-token count is O(n·distinct) of O(1)
    lambda-variable reads (both arrays are let-bound), which at document
    scale (~1e2–1e4 tokens) stays far cheaper than an explode + shuffle
    per document and keeps the filter embarrassingly parallel at 100 TB.
    """

    def build(toks: Column) -> Column:
        n = F.size(toks)
        mx = let(
            toks,
            lambda t: F.array_max(
                F.transform(
                    F.array_distinct(t),
                    lambda d: F.size(F.filter(t, lambda x: x == d)),
                )
            ),
        )
        return F.when(n > 0, mx / n).otherwise(F.lit(0.0))

    return let(tokens(text), build)


def dup_token_frac(text: Column) -> Column:
    """Fraction of token instances that are repeats: 1 - distinct/total."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    ).otherwise(F.lit(0.0))


def word_ngrams(text: Column, n: int = 2) -> Column:
    """ALL n-word grams in order (duplicates kept, unlike word_shingles).

    Needed by repetition metrics, where the duplicate fraction IS the
    signal. Docs shorter than n words yield one whole-doc gram.
    """

    def build(toks: Column) -> Column:
        n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )

    return let(tokens(text), build)


def dup_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of n-gram instances that are repeats of an earlier one."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    return F.when(
        total > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / total
    ).otherwise(F.lit(0.0))
