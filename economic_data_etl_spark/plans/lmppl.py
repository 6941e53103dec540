"""Word n-gram language model with Stupid Backoff: the CCNet-style
perplexity quality filter, self-trained and scored in two corpus passes.

CCNet (Wenzek et al., LREC 2020) orders crawled documents by the
perplexity of a KenLM trained on a reference corpus. The distributed
shape of that pipeline is exactly two passes:

  pass 1 — n-gram counts (orders 1..3) over the tokenized corpus in ONE
           map-side-combinable groupBy (every position emits its
           unigram/bigram/trigram into a single (order, gram) key space,
           so the model build is one shuffle, not three);
  pass 2 — broadcast the PRUNED model back onto the corpus and score
           every position with three broadcast hash joins — the corpus
           itself never shuffles for scoring.

Scoring uses **Stupid Backoff** (Brants et al., EMNLP 2007 — "Large
Language Models in Machine Translation"), the score Google used at
terascale precisely because it needs no discounting statistics and
stays mergeable: S(w | ctx) = count ratio at the longest matched order,
backing off with a fixed 0.4 multiplier per order skipped:

    S(w_i) = c3(w_{i-2..i}) / c2(w_{i-2..i-1})        if trigram seen
           = 0.4  * c2(w_{i-1..i}) / c1(w_{i-1})      elif bigram seen
           = 0.16 * c1(w_i) / N                       elif unigram seen
           = 0.16 / N                                 else (OOV floor)

Early positions (i < 3) have no trigram and take the same backoff
chain — the boundary convention is documented here and replayed by the
oracle verbatim.

**Pruning is the scale lever**: word-gram vocabularies grow with the
corpus (unlike the charset³-bounded trigram LM of plans/text4.py), so
each order is cut to its top-K grams by (count desc, gram asc) — a
TakeOrderedAndProject, never a global sort — making the broadcast size
a CONFIG bound, independent of SF. That mirrors production KenLM
pruning; everything outside the pruned model scores through the
backoff chain, exactly as an unpruned hit below the cut would at the
next order down.

Determinism: counts are integers, the prune cut breaks ties on the
gram string, every log argument is the same integer-ratio expression
on both engines, and per-doc averages are rounded 4dp only at the
output. Order-usage counters (tri/big/uni/OOV hits) are pure integers
— the semantic fingerprint of the backoff chain that the value hash
checks exactly.

Reference parity: the reference has no text analytics; this extends
the curation stack next to text_lm_quality_score (char-trigram LM) and
training_curriculum_order (CCNet tiering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.functions.text import WORD_SPLIT_RE
from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table

# Top-K grams kept per order. A config bound: the broadcastability of
# the model NEVER depends on corpus size.
_K_PRUNE = 2000
_BACKOFF = 0.4
# One backoff step = 0.4; two steps = 0.16 as a LITERAL on both engines
# (0.4 * 0.4 is not exactly 0.16 in binary — computing it would diverge
# from DuckDB's literal parse).
_BACKOFF2 = 0.16

def oracle_sql(doc_where: str = "") -> str:
    """The one-shot replay, parameterized over the document universe —
    the erasure lane reuses it with the revoked source excluded."""
    return _ORACLE_TEMPLATE.replace("__DOC_WHERE__", doc_where)


_ORACLE_TEMPLATE = f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text),
                   '[ \\t\\n\\r]+'), x -> x <> '') AS w
        FROM documents __DOC_WHERE__
    ), toks1 AS (
        SELECT * FROM toks WHERE len(w) >= 1
    ), pos AS (
        SELECT doc_id, source,
               CASE WHEN i >= 3 THEN w[i-2] || ' ' || w[i-1] || ' ' || w[i]
                    END AS tri,
               CASE WHEN i >= 2 THEN w[i-1] || ' ' || w[i] END AS big,
               w[i] AS uni
        FROM toks1, UNNEST(range(1, len(w) + 1)) AS t(ii),
             LATERAL (SELECT CAST(ii AS INTEGER) AS i)
    ), cnt AS (
        SELECT ord, g, COUNT(*) AS c FROM (
            SELECT 1 AS ord, uni AS g FROM pos
            UNION ALL SELECT 2, big FROM pos WHERE big IS NOT NULL
            UNION ALL SELECT 3, tri FROM pos WHERE tri IS NOT NULL
        ) GROUP BY 1, 2
    ), tot AS (
        SELECT SUM(c) AS s FROM cnt WHERE ord = 1
    ), m3 AS (
        SELECT p.g, LN(p.c / b.c) AS lp
        FROM (SELECT g, c FROM cnt WHERE ord = 3
              ORDER BY c DESC, g LIMIT {_K_PRUNE}) p
        JOIN (SELECT g, c FROM cnt WHERE ord = 2) b
          ON regexp_replace(p.g, ' [^ ]+$', '') = b.g
    ), m2 AS (
        SELECT p.g, LN({_BACKOFF} * p.c / u.c) AS lp
        FROM (SELECT g, c FROM cnt WHERE ord = 2
              ORDER BY c DESC, g LIMIT {_K_PRUNE}) p
        JOIN (SELECT g, c FROM cnt WHERE ord = 1) u
          ON regexp_replace(p.g, ' [^ ]+$', '') = u.g
    ), m1 AS (
        SELECT p.g, LN({_BACKOFF2} * p.c / tot.s) AS lp
        FROM (SELECT g, c FROM cnt WHERE ord = 1
              ORDER BY c DESC, g LIMIT {_K_PRUNE}) p
        CROSS JOIN tot
    ), scored AS (
        SELECT pos.doc_id, pos.source,
               COALESCE(m3.lp, m2.lp, m1.lp,
                        (SELECT LN({_BACKOFF2} / s) FROM tot)) AS lp,
               CASE WHEN m3.lp IS NOT NULL THEN 3
                    WHEN m2.lp IS NOT NULL THEN 2
                    WHEN m1.lp IS NOT NULL THEN 1
                    ELSE 0 END AS ord_used
        FROM pos
        LEFT JOIN m3 ON pos.tri = m3.g
        LEFT JOIN m2 ON pos.big = m2.g
        LEFT JOIN m1 ON pos.uni = m1.g
    ), doc AS (
        SELECT doc_id, source,
               COUNT(*) AS n_pos,
               AVG(lp) AS doc_lp,
               SUM(CASE WHEN ord_used = 3 THEN 1 ELSE 0 END) AS h3,
               SUM(CASE WHEN ord_used = 2 THEN 1 ELSE 0 END) AS h2,
               SUM(CASE WHEN ord_used = 1 THEN 1 ELSE 0 END) AS h1,
               SUM(CASE WHEN ord_used = 0 THEN 1 ELSE 0 END) AS h0
        FROM scored
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pos) AS BIGINT) AS n_positions,
           CAST(SUM(h3) AS BIGINT) AS tri_hits,
           CAST(SUM(h2) AS BIGINT) AS big_hits,
           CAST(SUM(h1) AS BIGINT) AS uni_hits,
           CAST(SUM(h0) AS BIGINT) AS oov_hits,
           ROUND(5e-10 + AVG(doc_lp), 4) AS avg_doc_lp
    FROM doc
    GROUP BY source
    ORDER BY source
"""

_ORACLE = oracle_sql()


def _token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_arrays(load_table(spark, sf_dir, "documents"))


def token_arrays(docs: DataFrame) -> DataFrame:
    """Per-doc token arrays behind a projection boundary (the lambda-CSE
    rule: HOFs below must never re-split the document), lazily
    checkpointed because BOTH the count pass and the scoring pass
    consume it — without the checkpoint the regex tokenization runs
    once per consumer (no CSE across joins)."""
    lowered = docs.select(
        "doc_id", "source", F.lower(F.col("text")).alias("lt")
    )
    toks = lowered.select(
        "doc_id",
        "source",
        F.filter(
            F.split(F.col("lt"), WORD_SPLIT_RE), lambda t: t != ""
        ).alias("w"),
    ).filter(F.size("w") >= 1)
    return toks.localCheckpoint(eager=False)


def _positions(toks: DataFrame) -> DataFrame:
    """One in-row pass builds every position's (tri, big, uni) from the
    materialized token array — neighbors come from O(1) element_at
    probes, no window/lag shuffle — then a single explode."""
    w = F.col("w")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w)),
        lambda i: F.struct(
            F.when(
                i >= 3,
                F.concat_ws(
                    " ",
                    F.element_at(w, i - 2),
                    F.element_at(w, i - 1),
                    F.element_at(w, i),
                ),
            ).alias("tri"),
            F.when(
                i >= 2,
                F.concat_ws(
                    " ", F.element_at(w, i - 1), F.element_at(w, i)
                ),
            ).alias("big"),
            F.element_at(w, i).alias("uni"),
        ),
    )
    return toks.select(
        "doc_id", "source", F.explode(grams).alias("g")
    ).select(
        "doc_id",
        "source",
        F.col("g.tri").alias("tri"),
        F.col("g.big").alias("big"),
        F.col("g.uni").alias("uni"),
    )


def _gram_counts(pos: DataFrame) -> DataFrame:
    """All three orders in ONE shuffle: each position emits its grams
    into a unified (ord, g) key space; partial aggregation collapses
    every map task to its local vocabulary before the exchange."""
    og = pos.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("ord"), F.col("uni").alias("g")
                ),
                F.struct(F.lit(2).alias("ord"), F.col("big").alias("g")),
                F.struct(F.lit(3).alias("ord"), F.col("tri").alias("g")),
            )
        ).alias("og")
    ).select("og.ord", "og.g")
    return (
        og.filter(F.col("g").isNotNull())
        .groupBy("ord", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _pruned(cnt: DataFrame, order: int) -> DataFrame:
    """Top-K grams of one order by (count desc, gram asc): compiles to
    TakeOrderedAndProject — a bounded collect-to-K, never a global
    sort. K is config, so the model broadcast is SF-independent."""
    return (
        cnt.filter(F.col("ord") == order)
        .select("g", "c")
        .orderBy(F.desc("c"), "g")
        .limit(_K_PRUNE)
    )


_CTX_RE = " [^ ]+$"  # strip the last token: gram -> its context prefix


@register(
    "text_perplexity_backoff",
    oracle=_ORACLE,
    doc="Self-trained word-trigram LM with Stupid Backoff (Brants et "
    "al., EMNLP 2007), the CCNet-style perplexity quality signal: "
    "pass 1 counts orders 1-3 in ONE unified (order, gram) groupBy; "
    "each order is pruned to its top-2000 grams (count desc, gram "
    "asc — a TakeOrderedAndProject, so the model stays broadcastable "
    "at ANY corpus size); pass 2 scores every token position with "
    "three BROADCAST hash joins and the fixed 0.4-per-order backoff "
    "chain, so the corpus never shuffles for scoring. Output is the "
    "per-source mean document log-score plus exact integer counters "
    "of which order served each position (the backoff chain's "
    "semantic fingerprint). Oracle replays tokenization, the unified "
    "counts, the prune cut, both conditional-ratio models, the OOV "
    "floor, and the coalesce chain verbatim.",
)
def text_perplexity_backoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return backoff_score(_token_arrays(spark, sf_dir))


def backoff_score(toks: DataFrame) -> DataFrame:
    """Train + score Stupid Backoff over a (doc_id, source, w) token
    frame; see the registered query's doc for the full design."""
    pos = _positions(toks)
    cnt = _gram_counts(pos).localCheckpoint(eager=False)
    return score_with_counts(pos, cnt)


def score_with_counts(pos: DataFrame, cnt: DataFrame) -> DataFrame:
    """Score a (doc_id, source, tri, big, uni) position frame against a
    (ord, g, c) count table — the serve half of the pipeline, shared
    with the standing incremental index (streaming/incremental_lm.py):
    counts are ADDITIVE, so a count table folded batch-by-batch scores
    identically to the one-shot build."""
    # N = total token instances (the unigram mass), a 1-row bounded
    # collect — embedded as a literal so the OOV floor and the unigram
    # denominator are the SAME double expression on both engines.
    total = (
        cnt.filter(F.col("ord") == 1).agg(F.sum("c").alias("s")).collect()
    )[0]["s"]

    c2_full = cnt.filter(F.col("ord") == 2).select(
        F.col("g").alias("ctx"), F.col("c").alias("cctx")
    )
    c1_full = cnt.filter(F.col("ord") == 1).select(
        F.col("g").alias("ctx"), F.col("c").alias("cctx")
    )
    # Pruned side broadcasts; the full count table streams past it.
    m3 = (
        F.broadcast(
            _pruned(cnt, 3).withColumn(
                "ctx", F.regexp_replace("g", _CTX_RE, "")
            )
        )
        .join(c2_full, "ctx")
        .select("g", F.log(F.col("c") / F.col("cctx")).alias("lp"))
    )
    m2 = (
        F.broadcast(
            _pruned(cnt, 2).withColumn(
                "ctx", F.regexp_replace("g", _CTX_RE, "")
            )
        )
        .join(c1_full, "ctx")
        .select(
            "g",
            F.log(F.lit(_BACKOFF) * F.col("c") / F.col("cctx")).alias(
                "lp"
            ),
        )
    )
    m1 = _pruned(cnt, 1).select(
        "g",
        F.log(F.lit(_BACKOFF2) * F.col("c") / F.lit(total)).alias("lp"),
    )
    oov_lp = F.log(F.lit(_BACKOFF2) / F.lit(total))

    scored = (
        pos.join(
            F.broadcast(m3.select(F.col("g").alias("tri_g"),
                                  F.col("lp").alias("lp3"))),
            pos["tri"] == F.col("tri_g"),
            "left",
        )
        .join(
            F.broadcast(m2.select(F.col("g").alias("big_g"),
                                  F.col("lp").alias("lp2"))),
            pos["big"] == F.col("big_g"),
            "left",
        )
        .join(
            F.broadcast(m1.select(F.col("g").alias("uni_g"),
                                  F.col("lp").alias("lp1"))),
            pos["uni"] == F.col("uni_g"),
            "left",
        )
        .select(
            "doc_id",
            "source",
            F.coalesce("lp3", "lp2", "lp1", oov_lp).alias("lp"),
            F.when(F.col("lp3").isNotNull(), 3)
            .when(F.col("lp2").isNotNull(), 2)
            .when(F.col("lp1").isNotNull(), 1)
            .otherwise(0)
            .alias("ord_used"),
        )
    )
    doc = scored.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.avg("lp").alias("doc_lp"),
        F.sum(F.when(F.col("ord_used") == 3, 1).otherwise(0)).alias("h3"),
        F.sum(F.when(F.col("ord_used") == 2, 1).otherwise(0)).alias("h2"),
        F.sum(F.when(F.col("ord_used") == 1, 1).otherwise(0)).alias("h1"),
        F.sum(F.when(F.col("ord_used") == 0, 1).otherwise(0)).alias("h0"),
    )
    return (
        doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pos").alias("n_positions"),
            F.sum("h3").alias("tri_hits"),
            F.sum("h2").alias("big_hits"),
            F.sum("h1").alias("uni_hits"),
            F.sum("h0").alias("oov_hits"),
            biased_round(F.avg("doc_lp")).alias("avg_doc_lp"),
        )
        .orderBy("source")
    )


_LMI_SPLIT1 = 150
_LMI_SPLIT2 = 300


@register(
    "text_incremental_perplexity",
    oracle=_ORACLE,
    doc="INCREMENTAL Stupid Backoff (streaming/incremental_lm.py): "
    "n-gram counts are ADDITIVE, so the standing (order, gram, count) "
    "table folded batch-by-batch equals the one-shot build exactly. "
    f"Three disjoint document batches (doc_id < {_LMI_SPLIT1}, "
    f"[{_LMI_SPLIT1}, {_LMI_SPLIT2}), >= {_LMI_SPLIT2}) fold through "
    "the union+sum merge (fold_counts), and the "
    "merged table serves the full-corpus scoring pass "
    "(score_with_counts — prune, conditional ratios, backoff chain). "
    "The oracle is the UNCHANGED one-shot replay: a green row proves "
    "fold == one-shot at the value level, the additivity argument "
    "made checkable.",
)
def text_incremental_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.streaming.incremental_lm import (
        fold_counts,
    )

    # Tokenize ONCE: the three batch folds and the scoring pass share
    # the one self-checkpointed token table (previously each batch AND
    # the scorer re-ran the regex tokenization on its own subset — 4
    # passes' worth for 1 corpus). Filtering the tokenized table by
    # doc_id is row-identical to tokenizing the filtered subset, so the
    # fold semantics (batch-by-batch count merge) are unchanged.
    toks = _token_arrays(spark, sf_dir)
    batches = [
        toks.filter(F.col("doc_id") < _LMI_SPLIT1),
        toks.filter(
            (F.col("doc_id") >= _LMI_SPLIT1)
            & (F.col("doc_id") < _LMI_SPLIT2)
        ),
        toks.filter(F.col("doc_id") >= _LMI_SPLIT2),
    ]
    standing = None
    for b in batches:
        bc = _gram_counts(_positions(b))
        standing = bc if standing is None else fold_counts(standing, bc)
    cnt = standing.localCheckpoint(eager=False)
    return score_with_counts(_positions(toks), cnt)
