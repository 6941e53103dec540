"""Byte-pair-encoding (BPE) merge training + tokenization at scale.

The training-data-pipeline operator the token-counting queries stop
short of: LEARN a subword vocabulary from the corpus (Sennrich et al.
2016, the standard word-histogram formulation every production BPE
trainer uses), then tokenize with it. Reference scope note: the
reference repo (pandas/requests ETL, /root/reference/src) has no text
pipeline at all — this extends the LLM-curation surface the build plan
demands.

Scale design (the 100 TB story):
- **Training operates on the WORD HISTOGRAM, not the corpus.** One
  distributed shuffle (split → explode → groupBy word) reduces any
  corpus to its distinct-word frequency table; merge learning then
  touches only that histogram. This is how real trainers work — the
  corpus size drops out of the iteration cost entirely.
- **The histogram collect is vocab-bounded and documented**: top
  `max_words` words by (count desc, word) — the same bounded-collect
  doctrine as plans/text4.py's vocabulary passes. The truncated tail
  (logged via the returned stats) only perturbs low-rank merges, the
  standard trade-off; at corpus scale the top-64Ki word histogram is
  a few MB regardless of input size.
- **Merge learning is exactly deterministic**: argmax over weighted
  adjacent-symbol pairs with (count desc, pair lexicographic)
  tie-break, so the learned merge table is reproducible — the
  catalog query's rows-only hash is stable and the FIRST merge is
  independently recomputable by DuckDB (the invariant query's
  cross-engine anchor: rank-1 merge == the corpus's most frequent
  adjacent character pair including the </w> sentinel).
- **Tokenization is Arrow-batched** (pandas UDF over documents),
  per-row independent — the same decode shape as the codec lanes.

Invariants the tokenizer must satisfy (certified by
inv_bpe_conservation):
- reconstruction: concatenating a word's tokens reproduces the word +
  '</w>' exactly, for every word of every document;
- conservation: each merge application reduces the symbol count by
  exactly one, so tokens_after == initial_symbols − applications;
- monotonicity: tokens_after <= initial_symbols.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from economic_data_etl_spark.functions.text import WORD_SPLIT_RE

END = "</w>"


def split_words(text: str) -> list[str]:
    """Python-side twin of WORD_SPLIT_RE (NOT str.split(), whose full-
    Unicode whitespace class diverges from the Spark/DuckDB passes)."""
    import re

    return [w for w in re.split(WORD_SPLIT_RE, text) if w]


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed word-frequency table: split on the explicit
    whitespace class (the corpus's own tokenization, shared with the
    DuckDB oracles), explode, groupBy. One shuffle, output size =
    distinct words."""
    return (
        docs.select(
            F.explode(
                F.split(F.col(text_col), WORD_SPLIT_RE)
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 30,
    max_words: int = 65536,
) -> list[tuple[str, str, int]]:
    """Learn `num_merges` BPE merges from the corpus. Returns
    [(left, right, pair_count)] in merge order. Deterministic: pair
    selection is (count desc, pair lexicographic). The histogram
    collect is bounded by `max_words` (top words by count — see module
    docstring for why this is the scale-correct shape)."""
    hist = (
        word_histogram(docs, text_col)
        .orderBy(F.desc("cnt"), "word")
        .limit(max_words)
        .collect()  # vocab-bounded by construction (max_words rows)
    )
    words: dict[tuple[str, ...], int] = {}
    for row in hist:
        syms = tuple(row["word"]) + (END,)
        words[syms] = words.get(syms, 0) + int(row["cnt"])
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
        if not pair_counts:
            break
        (a, b), best = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((a, b, best))
        ab = a + b
        new_words: dict[tuple[str, ...], int] = {}
        for syms, c in words.items():
            if a in syms:
                out: list[str] = []
                i = 0
                n = len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        out.append(ab)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = tuple(out)
            new_words[syms] = new_words.get(syms, 0) + c
        words = new_words
    return merges


def encode_word(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Tokenize one word with learned merges: repeatedly apply the
    LOWEST-RANK applicable merge to all its (left-to-right,
    non-overlapping) occurrences — the standard greedy BPE encoder."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (syms[i], syms[i + 1])
        if best_rank is None:
            break
        a, b = best_pair
        ab = a + b
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(ab)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def tokenize_stats(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """Arrow-batched tokenization audit: per document, the initial
    symbol count (chars + one </w> per word), the post-BPE token
    count, the number of merge applications, and whether every word's
    tokens concatenate back to word + '</w>' exactly. Per-row
    independent — embarrassingly parallel at corpus scale."""
    ranks = {(a, b): i for i, (a, b, _c) in enumerate(merges)}
    schema = (
        "doc_id long, n_words long, initial_symbols long, "
        "tokens_after long, applications long, reconstruction_ok boolean"
    )

    def batch(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = split_words(str(text))
                initial = sum(len(w) + 1 for w in words)
                total_tokens = 0
                ok = True
                for w in words:
                    toks = encode_word(w, ranks)
                    total_tokens += len(toks)
                    if "".join(toks) != w + END:
                        ok = False
                rows.append(
                    (
                        int(doc_id),
                        len(words),
                        initial,
                        total_tokens,
                        initial - total_tokens,
                        ok,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_words", "initial_symbols",
                    "tokens_after", "applications", "reconstruction_ok",
                ],
            )

    cols = docs.select("doc_id", F.col(text_col).alias("text"))
    spark = docs.sparkSession
    return cols.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(batch, schema)
