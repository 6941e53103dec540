"""Corpus-wide duplicate-substring (k-gram span) detection and removal.

Spark-native realization of exact substring deduplication in the style of
Lee et al., "Deduplicating Training Data Makes Language Models Better"
(ACL 2022): any k-token gram that occurs more than once in the corpus
marks its non-first occurrences (corpus order = (doc_id, pos)) as
duplicated; overlapping or adjacent duplicated grams merge into maximal
per-document spans, which can then be counted or excised.

The published implementation is a single-node suffix-array batch job; a
suffix array does not distribute, but the k-gram formulation is exactly
equivalent for a FIXED minimum match length k and maps onto Spark as:

  1. tokenize JVM-side on the explicit class ``[ \\t\\n\\r]+`` (shared
     verbatim with the DuckDB oracles — see the whitespace-dialect
     lesson pinned in tests/test_bpe.py),
  2. build k-grams with a NARROW higher-order ``transform`` over the
     token array (no shuffle, whole-stage codegen),
  3. ``posexplode`` to (doc_id, pos, gram) occurrences,
  4. shuffle 1 — ONE window partitioned by the gram string computes the
     corpus-wide occurrence count and the (doc_id, pos) rank together;
     rank > 1 with count > 1 marks a duplicated occurrence (see
     duplicate_occurrences for why this beats a hash-prefilter plan),
  5. shuffle 2 — one window per document merges duplicated gram
     intervals [pos, pos+k) into maximal spans (classic prev-max-end
     scan); this shuffle carries only the duplicated occurrences.

Every stage is linear in corpus token count; nothing is collected to the
driver. Reference scope: the pandas pipeline (src/transform.py) has no
dedup surface at all — this module is part of the training-data
extension mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The shared explicit whitespace class (functions/text.py) — one
# definition so the Spark, DuckDB, and Python tokenizers cannot desync.
from economic_data_etl_spark.functions.text import WORD_SPLIT_RE as WORD_SPLIT


def word_array(text: Column) -> Column:
    """Token array: split on the explicit whitespace class, drop empties
    (a leading separator yields one empty first element in both Spark
    and DuckDB)."""
    return F.filter(F.split(text, WORD_SPLIT), lambda t: t != "")


def kgram_occurrences(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, gram) for every k-token window of every document.

    Narrow: the gram array is built per row with transform+slice (no
    shuffle); docs shorter than k tokens contribute nothing. ``pos`` is
    the 0-based index of the gram's first token.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Materialize the token array behind a projection boundary FIRST:
    # higher-order-function lambdas get no common-subexpression
    # elimination, so slicing a raw filter(split(text)) expression
    # re-splits the whole document once per gram (O(n^2) regex work per
    # doc, measured 8x slower at sf0.1).
    toks = docs.select(
        F.col(id_col), word_array(F.col(text_col)).alias("w")
    )
    w = F.col("w")
    grams = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.array_join(F.slice(w, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    )


def duplicate_occurrences(occ: DataFrame, id_col: str) -> DataFrame:
    """Non-first occurrences of grams that repeat corpus-wide.

    ONE shuffle: a single window partitioned by the gram string carries
    both the corpus-wide occurrence count and the (id, pos) rank, so
    the occurrence stream is built once and shuffled once. Corpus order
    for "first" is (id, pos) — deterministic and engine-independent.

    Scale notes: the alternative "find repeated xxhash64(gram) first,
    join back" plan shuffles 8-byte keys for the pre-aggregation but
    then needs EITHER a broadcast of the repeated-hash set (10^10 × 8 B
    at corpus scale — infeasible) or a second full-row shuffle of every
    occurrence for the join, ON TOP of recomputing the gram build for
    the join side. Shuffle bytes here are dominated by the row payload
    (the gram string rides along in both plans), so the single
    window-shuffle is strictly cheaper. A skewed gram (one string
    repeated millions of times) lands in one partition either way;
    rank>1 only needs the first row, so a pathological partition is
    sort-bound, and Lee et al. observe long verbatim duplicates are a
    small corpus fraction.
    """
    w = Window.partitionBy("gram")
    rn = F.row_number().over(w.orderBy(F.col(id_col), F.col("pos")))
    cnt = F.count(F.lit(1)).over(w)
    return (
        occ.select(
            id_col, "pos", rn.alias("rn"), cnt.alias("cnt")
        )
        .filter((F.col("cnt") > 1) & (F.col("rn") > 1))
        .select(id_col, "pos")
    )


def merge_spans(dups: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge duplicated gram intervals [pos, pos+k) into maximal spans.

    Overlapping OR adjacent intervals merge (pos <= running max end).
    One window per document; output (id, span_start, span_end) with
    span_end exclusive.
    """
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_span = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
    ).otherwise(0)
    marked = dups.withColumn("new_span", new_span)
    span_id = F.sum("new_span").over(w)
    return (
        marked.withColumn("span_id", span_id)
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            F.max(F.col("pos") + k).alias("span_end"),
        )
        .drop("span_id")
    )


def duplicate_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, span_start, span_end) maximal duplicated spans per doc."""
    occ = kgram_occurrences(docs, id_col, text_col, k)
    dups = duplicate_occurrences(occ, id_col)
    return merge_spans(dups, id_col, k)


def duplicate_span_stats(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Per-document duplication accounting over ALL docs (zeros kept):
    (id, n_tokens, n_dup_spans, dup_tokens). ``dup_tokens`` counts
    tokens inside merged spans — the exact number substring dedup
    would delete from that document."""
    spans = duplicate_spans(docs, id_col, text_col, k)
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(word_array(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
        )
    )


def substring_incremental_dups(
    index_grams: DataFrame,
    batch_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact-substring dedup: mark the batch's duplicated
    occurrences against a standing gram index, without re-touching the
    corpus behind the index.

    Semantics match the global batch pass when batches arrive in corpus
    order: a batch occurrence whose gram is already indexed is a
    duplicate at ANY position (the retained first occurrence lives
    behind the index); grams new to the index follow the batch-local
    first-occurrence rule. Returns (duplicated (id, pos) occurrences,
    new distinct grams to append to the index).

    Per-batch cost is O(batch tokens) plus one join against the index —
    the index side never self-joins. Duplicate rows in the index (e.g.
    from an at-least-once redelivery) are harmless: semi/anti joins are
    set-semantics.
    """
    occ = kgram_occurrences(batch_docs, id_col, text_col, k)
    hit = occ.join(index_grams, "gram", "left_semi").select(id_col, "pos")
    miss = occ.join(index_grams, "gram", "left_anti")
    batch_dups = duplicate_occurrences(miss, id_col)
    new_grams = miss.select("gram").distinct()
    return hit.unionByName(batch_dups), new_grams


def substring_incremental_dups_prov(
    index: DataFrame,
    batch_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> tuple[DataFrame, DataFrame]:
    """Replay-idempotent incremental variant: the index carries each
    gram's RETAINED FIRST occurrence — rows (gram, first_id,
    first_pos) — and an occurrence is a duplicate iff it is not that
    retained first.

    This makes the whole step safe under at-least-once redelivery: a
    replayed batch finds its own grams indexed with ITSELF as the
    retained first, so its original output is reproduced bit-for-bit
    instead of its first occurrences being demoted to duplicates (the
    failure mode of a bare gram-set index). ``new_firsts`` — the batch
    firsts of index-new grams — is empty on replay, so the index
    converges too.
    """
    occ = kgram_occurrences(batch_docs, id_col, text_col, k)
    j = occ.join(index, "gram", "left")
    is_first = (F.col("first_id") == F.col(id_col)) & (
        F.col("first_pos") == F.col("pos")
    )
    hit = j.filter(F.col("first_id").isNotNull() & ~is_first).select(
        id_col, "pos"
    )
    miss = j.filter(F.col("first_id").isNull()).select(
        id_col, "pos", "gram"
    )
    batch_dups = duplicate_occurrences(miss, id_col)
    first_struct = F.min(
        F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
    ).alias("f")
    new_firsts = (
        miss.groupBy("gram")
        .agg(first_struct)
        .select(
            "gram",
            F.col("f.i").alias("first_id"),
            F.col("f.p").alias("first_pos"),
        )
    )
    return hit.unionByName(batch_dups), new_firsts


def gram_index_firsts(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """The standing provenance gram index of a corpus: one row per
    distinct gram carrying its retained first occurrence —
    (gram, first_id, first_pos), corpus order (id, pos)."""
    occ = kgram_occurrences(docs, id_col, text_col, k)
    first_struct = F.min(
        F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
    ).alias("f")
    return (
        occ.groupBy("gram")
        .agg(first_struct)
        .select(
            "gram",
            F.col("f.i").alias("first_id"),
            F.col("f.p").alias("first_pos"),
        )
    )


def erase_substring_index(
    index: DataFrame,
    spans: DataFrame,
    revoked: DataFrame,
    surviving_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Propagate a right-to-be-forgotten request through the standing
    exact-substring state: the provenance gram index (gram, first_id,
    first_pos) and the merged duplicated-span table. Returns the
    (index, spans) a FROM-SCRATCH rebuild on the reduced corpus would
    produce — without re-processing the corpus.

    The sharp part is FIRST-OCCURRENCE REASSIGNMENT: a revoked doc can
    BE the retained first of a gram, and merely deleting its index rows
    would make the gram look never-seen (future occurrences would be
    promoted to firsts a rebuild would call duplicates). Erasure
    therefore moves each affected gram's first to its earliest
    SURVIVING occurrence, exactly as a rebuild would:

    1. affected grams = index rows whose first_id is revoked (anything
       else is untouched — erasure only removes occurrences, so firsts
       can only move LATER, never into an unaffected gram);
    2. new firsts = min (id, pos) over the surviving corpus's
       occurrences of the affected grams — ONE gram-build pass over the
       surviving corpus semi-joined on the affected-gram set (broadcast
       when revocations are few, the normal shape); grams with no
       surviving occurrence leave the index;
    3. span reassembly: only docs that own a NEW first can change
       (exactly one occurrence per affected gram flips duplicate →
       first; every other surviving occurrence keeps its status), so
       those docs' spans are recomputed against the corrected index via
       the prov-rule (duplicate iff not the retained first — the
       corrected index covers every surviving gram, so the rule is
       total) while revoked docs' spans are dropped and every other
       doc's spans are kept verbatim.

    Cost: O(revoked + new-first docs) text re-processing plus one
    surviving-corpus gram pass filtered to affected grams; nothing
    corpus² and no full re-tokenization of unaffected documents' state.
    Rebuild equivalence is value-checked by the
    governance_erasure_substring oracle.
    """
    new_firsts, redo_spans = substring_erasure_patch(
        index, revoked, surviving_docs, id_col, text_col, k
    )
    rev_first = revoked.select(
        F.col(revoked.columns[0]).alias("first_id")
    )
    index2 = (
        index.join(rev_first, "first_id", "left_anti")
        .unionByName(new_firsts)
        .select("gram", "first_id", "first_pos")
    )
    redo_ids = new_firsts.select(
        F.col("first_id").alias(id_col)
    ).distinct()
    rev_ids = revoked.select(F.col(revoked.columns[0]).alias(id_col))
    spans2 = (
        spans.join(rev_ids, id_col, "left_anti")
        .join(redo_ids, id_col, "left_anti")
        .unionByName(redo_spans)
        .select(id_col, "span_start", "span_end")
    )
    return index2, spans2


def substring_erasure_patch(
    index: DataFrame,
    revoked: DataFrame,
    surviving_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """The REPLACEMENT rows an erasure must graft onto the standing
    substring state (steps 2–3 of erase_substring_index, exposed
    separately so a standing index can persist them as patch tables
    before its tombstone commit point):

    - new firsts: for each gram whose retained first occurrence lives
      in a revoked doc, the earliest surviving occurrence (absent when
      the gram no longer occurs);
    - redo spans: the full recomputed span set of every doc that owns a
      new first (those docs' spans are the only surviving ones a
      rebuild would change).
    """
    rev_first = revoked.select(
        F.col(revoked.columns[0]).alias("first_id")
    )
    affected = index.join(rev_first, "first_id", "left_semi").select(
        "gram"
    )
    kept_index = index.join(rev_first, "first_id", "left_anti")
    occ_surv = kgram_occurrences(surviving_docs, id_col, text_col, k)
    first_struct = F.min(
        F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
    ).alias("f")
    new_firsts = (
        occ_surv.join(affected, "gram", "left_semi")
        .groupBy("gram")
        .agg(first_struct)
        .select(
            "gram",
            F.col("f.i").alias("first_id"),
            F.col("f.p").alias("first_pos"),
        )
    )
    index2 = kept_index.unionByName(new_firsts)
    redo_ids = new_firsts.select(
        F.col("first_id").alias(id_col)
    ).distinct()
    redo_docs = surviving_docs.join(redo_ids, id_col, "left_semi")
    redo_dups, _ = substring_incremental_dups_prov(
        index2, redo_docs, id_col, text_col, k
    )
    redo_spans = merge_spans(redo_dups, id_col, k)
    return new_firsts, redo_spans


def remove_duplicate_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Documents with duplicated spans excised: tokens whose 0-based
    index falls inside any merged span are dropped, survivors re-join
    with single spaces. Adds ``clean_text`` and ``n_clean_tokens``."""
    spans = duplicate_spans(docs, id_col, text_col, k)
    return excise_spans(docs, spans, id_col, text_col)


def excise_spans(
    docs: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Excise token ranges from documents: given (id, span_start,
    span_end) rows (end exclusive, token indices), drop the covered
    tokens and re-join survivors with single spaces. Adds
    ``clean_text`` and ``n_clean_tokens``. Shared by duplicate-span
    removal and contamination excision.

    The reassembly is a narrow index-aware ``filter`` over the token
    array against the doc's (small) span list — no re-explode, no
    order-fragile collect_list."""
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = docs.join(span_lists, id_col, "left")
    sp = F.coalesce(
        "_spans",
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    # Two projection boundaries: (1) materialize the token array so the
    # index-filter lambda doesn't re-split the text per token, then
    # (2) materialize the kept array so join/size don't re-run the
    # filter (no CSE inside higher-order functions).
    with_toks = joined.select(
        *[c for c in docs.columns],
        word_array(F.col(text_col)).alias("_w"),
        sp.alias("_sp"),
    )
    keep = F.filter(
        F.col("_w"),
        lambda t, i: ~F.exists(
            F.col("_sp"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    with_keep = with_toks.select(
        *[c for c in docs.columns], keep.alias("_keep")
    )
    return with_keep.select(
        *[c for c in docs.columns],
        F.array_join("_keep", " ").alias("clean_text"),
        F.size("_keep").cast("long").alias("n_clean_tokens"),
    )
