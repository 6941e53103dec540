"""BM25 ranked retrieval over the document corpus — ad-hoc and
standing-index (incremental) forms.

The classic lexical search primitive (Robertson/Lucene BM25 with the
non-negative idf variant ln(1 + (N - df + 0.5)/(df + 0.5))), in two
serving shapes:

- `bm25_scores` — one-shot over raw documents: one token explode feeds
  both the per-(doc, term) term frequencies and the per-term document
  frequencies, corpus stats (N, avgdl) are a two-double broadcast, and
  scoring is a pure JVM expression — no UDFs, one shuffle for tf, one
  tiny one for df. The tf aggregation is the only corpus-sized shuffle
  and it is pre-filtered to the QUERY'S terms at the scan (predicate
  pushed into the explode stream), so shuffle volume is O(matching
  postings), not O(corpus tokens).

- `build_postings` + `append_to_index` + `bm25_from_index` — the
  standing inverted index (the real serving shape for corpus search):
  the corpus is tokenized ONCE, per-(doc, token) tf rows plus per-doc
  lengths persist as the index, batches APPEND incrementally (an
  anti-join against the doc-length table keeps appends idempotent —
  an already-indexed document contributes nothing on redelivery), and
  each query touches only its own terms' postings. At 100 TB the
  postings table is written partitioned/bucketed by token so a query's
  postings lookup prunes to its terms' buckets.

Equivalence contract: scoring from an index built over the same
corpus reproduces `bm25_scores` exactly (same tf/df/dl/stats values,
same score expression tree — pinned in tests/test_textstats.py).

No reference counterpart; extends the text surface next to TF hashing
and the trained-LM quality score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The shared explicit whitespace class (functions/text.py) — one
# definition so the Spark, DuckDB, and Python tokenizers cannot desync.
from economic_data_etl_spark.functions.text import WORD_SPLIT_RE as WORD_SPLIT


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score): BM25 of each document containing >= 1 query term.

    score = sum over query terms t of
        ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
        * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.col(text_col), WORD_SPLIT), lambda t: t != ""
        ).alias("w"),
    )
    dl = toks.select(id_col, F.size("w").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    ex = toks.select(
        id_col, F.explode("w").alias("token")
    ).filter(F.col("token").isin(terms))
    tf = ex.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    df = ex.groupBy("token").agg(
        F.countDistinct(id_col).alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_term = (
        F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(df, "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(idf * tf_term).alias("score"))
    )


def _token_arrays(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.col(text_col), WORD_SPLIT), lambda t: t != ""
        ).alias("w"),
    )


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Build the standing inverted index from raw documents:
    (postings, doclens) with postings = (id, token, tf) and
    doclens = (id, dl).

    This pays the one O(corpus tokens) shuffle an inverted index
    costs to build; every query afterwards reads only its own terms'
    postings. tf is the same COUNT the ad-hoc path computes, so
    index-served scores match `bm25_scores` exactly.
    """
    toks = _token_arrays(docs, id_col, text_col)
    doclens = toks.select(
        id_col, F.size("w").cast("long").alias("dl")
    )
    postings = (
        toks.select(id_col, F.explode("w").alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return postings, doclens


def append_to_index(
    doclens: DataFrame,
    batch_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental index append: the batch's postings + doclens rows,
    RESTRICTED to documents not already indexed (anti-join on the
    doc-length table — the index's one-row-per-doc membership set).

    Idempotence: a redelivered batch (or one overlapping an earlier
    drop) contributes exactly nothing for its already-indexed docs, so
    the standing index is convergent under at-least-once delivery.
    Per-batch cost is O(batch tokens) plus one membership anti-join;
    the corpus-sized index is never re-tokenized and never self-joins.
    """
    fresh = batch_docs.join(
        doclens.select(F.col(id_col)), id_col, "left_anti"
    )
    return build_postings(fresh, id_col, text_col)


def bm25_from_index(
    postings: DataFrame,
    doclens: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score): BM25 served from the standing index.

    Identical score expression to `bm25_scores`; tf/df come from the
    postings table filtered to the query's terms (at scale: partition
    pruning on token), N/avgdl from one tiny doclens aggregate.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = postings.filter(F.col("token").isin(terms)).select(
        id_col, "token", "tf"
    )
    df = tf.groupBy("token").agg(
        F.countDistinct(id_col).alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_term = (
        F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(df, "token")
        .join(doclens, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(idf * tf_term).alias("score"))
    )


def phrase_occurrences(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_matches, first_pos): documents containing the exact
    m-word phrase, with 0-indexed token positions — Lucene-style
    positional phrase search expressed relationally.

    One posexplode scan feeds a broadcast join against the m-row
    (offset, term) phrase table: a term matching phrase offset i at
    position p votes for candidate start p - i, and a start where all
    m DISTINCT offsets voted is a phrase occurrence (countDistinct on
    the offset handles repeated words in the phrase — 'the X the'
    needs offsets {0,2} from 'the', not two votes from one position).
    Shuffle volume is O(matching postings) — positions of the phrase's
    terms only, never the corpus token stream; the same inverted-index
    access shape as bm25_scores, extended with positions the way a
    positional postings list would be.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    m = len(phrase)
    spark = docs.sparkSession
    ph = spark.createDataFrame(
        [(i, t) for i, t in enumerate(phrase)], "off int, term string"
    )
    toks = _token_arrays(docs, id_col, text_col)
    ex = toks.select(
        id_col, F.posexplode("w").alias("pos", "token")
    ).filter(F.col("token").isin(phrase))
    cand = ex.join(
        F.broadcast(ph), F.col("token") == F.col("term")
    ).select(
        id_col, (F.col("pos") - F.col("off")).alias("start"), "off"
    )
    occ = (
        cand.filter(F.col("start") >= 0)
        .groupBy(id_col, "start")
        .agg(F.countDistinct("off").alias("__k"))
        .filter(F.col("__k") == m)
    )
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("start").cast("long").alias("first_pos"),
    )


def build_positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings: (id, token, pos) — the Lucene-style index
    layout that serves PHRASE queries without re-tokenizing the
    corpus. One tokenize + posexplode scan; at 100 TB written
    partitioned/bucketed by token like the tf postings. Stored
    positions are 0-indexed token offsets, exactly what
    phrase_occurrences computes on the fly."""
    toks = _token_arrays(docs, id_col, text_col)
    return toks.select(
        id_col, F.posexplode("w").alias("pos", "token")
    ).select(id_col, "token", F.col("pos").cast("long").alias("pos"))


def append_positional(
    index_doclens: DataFrame,
    batch_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental positional-index append: the batch's (id, token,
    pos) rows plus (id, dl) doclens rows, restricted to documents not
    already indexed — the same membership anti-join (and therefore the
    same idempotence and append-order contract) as append_to_index."""
    fresh = batch_docs.join(
        index_doclens.select(F.col(id_col)), id_col, "left_anti"
    )
    toks = _token_arrays(fresh, id_col, text_col)
    doclens = toks.select(id_col, F.size("w").cast("long").alias("dl"))
    return build_positional_postings(fresh, id_col, text_col), doclens


def phrase_from_index(
    postings: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_matches, first_pos) served from the standing positional
    index: identical alignment join as phrase_occurrences — a term at
    position p matching phrase offset i votes for start p - i, all m
    distinct offsets must vote — but reading stored (id, token, pos)
    rows, filtered to the phrase's terms at the scan (partition
    pruning on token at scale), instead of re-tokenizing raw text."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    m = len(phrase)
    spark = postings.sparkSession
    ph = spark.createDataFrame(
        [(i, t) for i, t in enumerate(phrase)], "off int, term string"
    )
    cand = (
        postings.filter(F.col("token").isin(phrase))
        .join(F.broadcast(ph), F.col("token") == F.col("term"))
        .select(
            id_col, (F.col("pos") - F.col("off")).alias("start"), "off"
        )
    )
    occ = (
        cand.filter(F.col("start") >= 0)
        .groupBy(id_col, "start")
        .agg(F.countDistinct("off").alias("__k"))
        .filter(F.col("__k") == m)
    )
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("start").cast("long").alias("first_pos"),
    )
