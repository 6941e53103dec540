"""Multinomial Naive Bayes language classifier + ROC-AUC evaluation.

The supervised-classifier shape every large-scale curation pipeline
runs: CCNet/fastText-style language identification and GPT-3-style
quality classifiers are linear models over token counts, trained on a
labeled slice and applied to the whole corpus. The distributed form of
multinomial NB is ideal for that scale because TRAINING IS ONE
AGGREGATION: the sufficient statistics are per-(class, word) token
counts — a single map-side-combinable groupBy whose output is
vocab-bounded, never corpus-bounded — and SCORING IS A PURE PROJECTION:
the smoothed log-prob table enters as one constant-folded map literal
(the operators/unigram.py pattern) and each document folds its own
token array in-row, so the corpus never shuffles to score.

Design at 100 TB:
- the vocabulary is cut to a top-K by (total count desc, word asc) — a
  TakeOrderedAndProject, making the broadcast model a CONFIG bound at
  any corpus size (the lmppl.py prune lever). Out-of-vocab tokens score
  through a per-class OOV bucket that is itself estimated from the
  train counts (c_oov = n_l - sum of in-vocab counts), so total
  probability mass is exactly 1 and the prune changes the model, not
  the algebra.
- every driver collect is bounded: K vocab rows, K x classes count
  rows, classes-sized priors.
- with a large configured K the in-row map-literal lookup (a linear
  scan inside Catalyst's GetMapValue) should yield to the lmppl-style
  broadcast-hash-join scoring; at the default K the literal fold wins
  because zero corpus rows move.

Cross-engine determinism (the house rules): the train/test split is
the md5 hash bucket of operators/training.py (bit-identical SQL spell
in the oracle); smoothed log-probs are computed driver-side with C-libm
math.log over exact integer ratios — the same libm DuckDB's LN calls —
so both engines add identical doubles; the Spark fold accumulates from
0.0 in token order and adds the prior LAST, mirroring the oracle's
`prior + SUM(term ORDER BY position)`; and the argmax binds on
BIASED-ROUNDED scores with a lang-ascending tie-break on both sides
(rounded-gate rule: a raw-float argmax could flip a document across
engines, and a flipped count is unabsorbable by output rounding).

ROC-AUC (`ml_auc_roc`) evaluates a scalar score as a binary classifier
without materializing per-row ranks: group rows by the biased-rounded
score (bounded distinct values), then AUC is the tie-corrected
Mann-Whitney sum  sum_s pos_s * (neg_below_s + neg_s / 2) / (P * N)
over the GROUPED table — integers until the final division, so the
value check is exact. The cumulative negative count rides
operators/rank.py:with_global_cumsum (boundary-literal prefix sum, no
single-partition window) so the plan holds when the score has many
distinct values.

Fixture honesty: the synthetic corpus draws tokens independently of
the `lang` label, so held-out accuracy hovers near the majority-class
rate and AUC near 0.5 — the value checks exercise the priors,
smoothing, OOV mass, rounding and tie-breaks exactly (the operator is
the deliverable); the planted tests in tests/test_classify.py pin that
a separable corpus is actually learned.

Reference parity: the reference has no ML surface; this extends the
curation/ML lane next to ml_logreg_gd (trained gate) and
text_lm_quality_score (unsupervised gate).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.functions.text import WORD_SPLIT_RE
from economic_data_etl_spark.operators.rank import with_global_cumsum
from economic_data_etl_spark.operators.training import hash_bucket
from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table

_NB_SALT = "nb-v1"
_NB_CUT = 52428  # int(0.8 * 65536): bucket < cut -> train, else test
_NB_K = 2000  # vocabulary prune: top-K words by (total desc, word asc)

_NB_OUT_SCHEMA = (
    "lang string, n_test long, n_correct long, accuracy double"
)

_NB_ORACLE = f"""
    WITH toksrc AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text),
                   '[ \\t\\n\\r]+'), x -> x <> '') AS w
        FROM documents
    ), toks AS (
        SELECT *,
               ('0x' || substring(md5('{_NB_SALT}'
                   || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS bkt
        FROM toksrc WHERE len(w) >= 1
    ), trainpos AS (
        SELECT lang, unnest(w) AS wd FROM toks WHERE bkt < {_NB_CUT}
    ), cnt_lw AS (
        SELECT lang, wd, COUNT(*) AS c FROM trainpos GROUP BY 1, 2
    ), vocab AS (
        SELECT wd FROM (
            SELECT wd, SUM(c) AS tot FROM cnt_lw GROUP BY wd
        ) ORDER BY tot DESC, wd ASC LIMIT {_NB_K}
    ), vsz AS (SELECT COUNT(*) AS v FROM vocab
    ), nl AS (
        SELECT lang, SUM(c) AS n_l FROM cnt_lw GROUP BY lang
    ), dl AS (
        SELECT lang, COUNT(*) AS d_l FROM toks
        WHERE bkt < {_NB_CUT} GROUP BY lang
    ), dd AS (SELECT SUM(d_l) AS d FROM dl
    ), model AS (
        SELECT n.lang, v.wd,
               LN((COALESCE(c.c, 0) + 1) * 1.0
                  / (n.n_l + vz.v + 1)) AS lp
        FROM nl n CROSS JOIN vocab v CROSS JOIN vsz vz
        LEFT JOIN cnt_lw c ON c.lang = n.lang AND c.wd = v.wd
    ), floors AS (
        SELECT n.lang,
               LN((n.n_l - COALESCE(iv.cin, 0) + 1) * 1.0
                  / (n.n_l + vz.v + 1)) AS flp,
               LN(d.d_l * 1.0 / (SELECT d FROM dd)) AS prior
        FROM nl n CROSS JOIN vsz vz
        JOIN dl d ON d.lang = n.lang
        LEFT JOIN (
            SELECT lang, SUM(c) AS cin FROM cnt_lw
            WHERE wd IN (SELECT wd FROM vocab) GROUP BY lang
        ) iv ON iv.lang = n.lang
    ), testpos AS (
        SELECT doc_id, lang AS true_lang, i, w[i] AS wd
        FROM (SELECT * FROM toks WHERE bkt >= {_NB_CUT}),
             UNNEST(range(1, len(w) + 1)) AS t(ii),
             LATERAL (SELECT CAST(ii AS INTEGER) AS i)
    ), scores AS (
        SELECT p.doc_id, p.true_lang, f.lang,
               ROUND(5e-10 + f.prior
                     + SUM(COALESCE(m.lp, f.flp) ORDER BY p.i),
                     4) AS sc
        FROM testpos p
        CROSS JOIN floors f
        LEFT JOIN model m ON m.lang = f.lang AND m.wd = p.wd
        GROUP BY p.doc_id, p.true_lang, f.lang, f.prior, f.flp
    ), pred AS (
        SELECT doc_id, true_lang, lang AS pred_lang,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY sc DESC, lang ASC
               ) AS rn
        FROM scores
    )
    SELECT true_lang AS lang,
           COUNT(*) AS n_test,
           CAST(SUM(CASE WHEN pred_lang = true_lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           ROUND(5e-10 + SUM(CASE WHEN pred_lang = true_lang
                                  THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS accuracy
    FROM pred WHERE rn = 1
    GROUP BY true_lang
    ORDER BY lang
"""


def _lang_token_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, w, bkt) token arrays behind a projection boundary
    (lambda-CSE rule), lazily checkpointed: the train-count pass and the
    test-scoring pass both consume it."""
    toks = (
        docs.select(
            "doc_id", "lang", F.lower(F.col("text")).alias("lt")
        )
        .select(
            "doc_id",
            "lang",
            F.filter(
                F.split(F.col("lt"), WORD_SPLIT_RE), lambda t: t != ""
            ).alias("w"),
        )
        .filter(F.size("w") >= 1)
        .withColumn("bkt", hash_bucket(F.col("doc_id"), _NB_SALT))
    )
    return toks.localCheckpoint(eager=False)


def nb_counts(train: DataFrame) -> DataFrame:
    """The NB sufficient statistics as a distributed (lang, wd, c)
    table — ONE map-side-combinable corpus shuffle. ADDITIVE across
    disjoint batches (like the LM gram counts), which is what the
    incremental twin folds (streaming/incremental_nb.py)."""
    pos = train.select("lang", F.explode("w").alias("wd"))
    return pos.groupBy("lang", "wd").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def nb_doc_counts(train: DataFrame) -> DataFrame:
    """(lang, dc) per-class document counts — the prior's sufficient
    statistic, additive like the token counts."""
    return train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("dc")
    )


def model_from_counts(
    cnt_lw: DataFrame, d_l: dict, k_vocab: int = _NB_K
):
    """Build the driver-side model (langs, priors, floors, lp) from a
    standing (lang, wd, c) count table plus per-class doc counts —
    shared by the one-shot trainer and the incremental twin, so fold
    == batch at the model level is true by construction.

    Everything operates on the vocab-bounded count table. Collects are
    K-, K x classes-, or classes-sized — config bounds, never corpus
    bounds."""
    spark = cnt_lw.sparkSession
    cnt_lw = cnt_lw.localCheckpoint(eager=False)  # 3 consumers below
    vocab = [
        r["wd"]
        for r in (
            cnt_lw.groupBy("wd")
            .agg(F.sum("c").alias("tot"))
            .orderBy(F.desc("tot"), F.asc("wd"))
            .limit(k_vocab)
            .collect()
        )
    ]
    vdf = spark.createDataFrame([(v,) for v in vocab], "wd string")
    in_rows = cnt_lw.join(F.broadcast(vdf), "wd", "left_semi").collect()
    n_l = {
        r["lang"]: r["n"]
        for r in cnt_lw.groupBy("lang")
        .agg(F.sum("c").alias("n"))
        .collect()
    }
    langs = sorted(n_l)
    c_lw = {(r["lang"], r["wd"]): r["c"] for r in in_rows}
    big_d = sum(d_l.values())
    v = len(vocab)
    priors = [math.log(d_l[lang] / big_d) for lang in langs]
    floors = []
    for lang in langs:
        in_vocab = sum(
            c for (lg, _), c in c_lw.items() if lg == lang
        )
        floors.append(
            math.log(
                (n_l[lang] - in_vocab + 1) / (n_l[lang] + v + 1)
            )
        )
    lp = {
        wd: [
            math.log(
                (c_lw.get((lang, wd), 0) + 1) / (n_l[lang] + v + 1)
            )
            for lang in langs
        ]
        for wd in vocab
    }
    return langs, priors, floors, lp


def train_nb_model(train: DataFrame, k_vocab: int = _NB_K):
    """One-shot fit: counts + doc counts from the tokenized train
    docs, then the shared model builder."""
    d_l = {
        r["lang"]: r["dc"] for r in nb_doc_counts(train).collect()
    }
    return model_from_counts(nb_counts(train), d_l, k_vocab)


def nb_score_predict(
    test: DataFrame, langs, priors, floors, lp
) -> DataFrame:
    """(true_lang, pred_lang) per test document: the model enters as ONE
    constant-folded map literal, each doc folds its token array in-row
    (accumulate from 0.0 in token order, prior added LAST — the
    oracle's `prior + SUM(... ORDER BY i)` association), and the argmax
    binds on biased-rounded scores with a lang-asc tie-break
    (array_position returns the FIRST maximum of the lang-sorted
    array)."""
    items: list = []
    for wd in sorted(lp):
        items.append(F.lit(wd))
        items.append(F.array(*[F.lit(float(x)) for x in lp[wd]]))
    lp_map = F.create_map(*items)
    floors_arr = F.array(*[F.lit(float(x)) for x in floors])
    priors_arr = F.array(*[F.lit(float(x)) for x in priors])
    langs_arr = F.array(*[F.lit(x) for x in langs])
    zero_arr = F.array(*[F.lit(0.0) for _ in langs])

    folded = F.aggregate(
        F.col("w"),
        zero_arr,
        lambda acc, t: F.zip_with(
            acc,
            F.coalesce(F.element_at(lp_map, t), floors_arr),
            lambda a, b: a + b,
        ),
    )
    scored = test.select(
        F.col("lang").alias("true_lang"),
        F.transform(
            F.zip_with(priors_arr, folded, lambda a, b: a + b),
            lambda s: biased_round(s),
        ).alias("scr"),
    )
    return scored.select(
        "true_lang",
        F.element_at(
            langs_arr,
            F.array_position(
                F.col("scr"), F.array_max(F.col("scr"))
            ).cast("int"),
        ).alias("pred_lang"),
    )


@register(
    "ml_naive_bayes_langid",
    oracle=_NB_ORACLE,
    doc="Multinomial Naive Bayes language identification, trained on "
    "the 80% md5-bucket split and evaluated on the held-out 20%: "
    "training is ONE map-side-combinable (class, word) groupBy (output "
    "vocab-bounded, pruned to a top-K config bound with an exact OOV "
    "bucket absorbing the pruned mass), scoring is a pure in-row fold "
    "under a constant-folded model literal — the corpus never shuffles "
    "to score. Log-probs are C-libm logs over exact integer ratios on "
    "both engines; the per-document argmax binds on biased-rounded "
    "scores with a lang-asc tie-break (rounded-gate rule). Output: "
    "per-language held-out document counts, correct counts, accuracy.",
)
def ml_naive_bayes_langid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks = _lang_token_arrays(load_table(spark, sf_dir, "documents"))
    train = toks.filter(F.col("bkt") < _NB_CUT)
    test = toks.filter(F.col("bkt") >= _NB_CUT)
    langs, priors, floors, lp = train_nb_model(train)
    if not langs:  # empty corpus: untyped empty literals can't score
        return spark.createDataFrame([], _NB_OUT_SCHEMA)
    pred = nb_score_predict(test, langs, priors, floors, lp)
    return (
        pred.groupBy("true_lang")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.col("pred_lang") == F.col("true_lang"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            F.col("true_lang").alias("lang"),
            "n_test",
            "n_correct",
            biased_round(
                F.col("n_correct") / F.col("n_test")
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# ROC-AUC

_AUC_STOP = ("the", "a", "data", "of", "and")

_AUC_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text),
                   '[ \\t\\n\\r]+'), x -> x <> '') AS w
        FROM documents
    ), scored AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               ROUND(5e-10 + len(list_filter(w,
                   x -> x IN {_AUC_STOP!r})) * 1.0 / len(w), 4) AS s
        FROM toks WHERE len(w) >= 1
    ), grp AS (
        SELECT s, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM scored GROUP BY s
    ), cum AS (
        SELECT s, pos, neg,
               CAST(SUM(neg) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_neg
        FROM grp
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(neg) AS BIGINT) AS n,
               SUM(pos * (2 * (cum_neg - neg) + neg)) AS twice_u
        FROM cum
    )
    SELECT p AS n_pos, n AS n_neg,
           ROUND(5e-10 + twice_u * 1.0 / (2 * p * n), 4) AS auc,
           ROUND(5e-10 + twice_u * 1.0 / (p * n) - 1.0, 4) AS gini
    FROM tot
"""


@register(
    "ml_auc_roc",
    oracle=_AUC_ORACLE,
    doc="Tie-corrected ROC-AUC of the stopword-fraction score as a "
    "predictor of lang='en', computed WITHOUT per-row ranks: rows "
    "group by their biased-rounded score (bounded distinct values — "
    "the rounding defines the tie groups identically on both "
    "engines), the cumulative negative count rides the two-phase "
    "boundary-literal prefix sum (operators/rank.py — no "
    "single-partition window at any cardinality), and AUC is the "
    "Mann-Whitney sum  sum_s pos_s * (neg_below + neg_s/2) / (P*N) "
    "in pure integers until the final division (2U kept integral so "
    "the half-tie credit never touches floats). Gini = 2*AUC - 1.",
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", "lang", F.lower(F.col("text")).alias("lt")
        )
        .select(
            "doc_id",
            "lang",
            F.filter(
                F.split(F.col("lt"), WORD_SPLIT_RE), lambda t: t != ""
            ).alias("w"),
        )
        .filter(F.size("w") >= 1)
    )
    stop_arr = F.array(*[F.lit(s) for s in _AUC_STOP])
    scored = toks.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        biased_round(
            F.size(
                F.filter(
                    F.col("w"),
                    lambda x: F.array_contains(stop_arr, x),
                )
            )
            / F.size(F.col("w"))
        ).alias("s"),
    )
    grp = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    cum = with_global_cumsum(grp, ["s"], ["neg"])
    tot = cum.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum("neg").cast("long").alias("n"),
        F.sum(
            F.col("pos")
            * (
                2 * (F.col("cum_neg") - F.col("neg"))
                + F.col("neg")
            )
        ).alias("twice_u"),
    )
    return tot.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        biased_round(
            F.col("twice_u") / (2 * F.col("p") * F.col("n"))
        ).alias("auc"),
        biased_round(
            F.col("twice_u") / (F.col("p") * F.col("n")) - 1.0
        ).alias("gini"),
    )


@register(
    "ml_incremental_naive_bayes",
    oracle=_NB_ORACLE,
    doc="INCREMENTAL Naive Bayes: the train split arrives as 3 "
    "disjoint micro-batches whose (class, word) token counts and "
    "per-class doc counts — both ADDITIVE sufficient statistics — "
    "are folded into a standing state table "
    "(streaming/incremental_nb.py), then the model is built from the "
    "standing counts (model_from_counts: prune, smoothing, OOV "
    "bucket, priors) and the held-out split classified. The oracle is "
    "the UNCHANGED one-shot replay: a green row proves fold == "
    "one-shot at the value level — continuous classifier retraining "
    "with no gradient state.",
)
def ml_incremental_naive_bayes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.streaming.incremental_nb import (
        batch_state,
        fold_state,
    )

    toks = _lang_token_arrays(load_table(spark, sf_dir, "documents"))
    train = toks.filter(F.col("bkt") < _NB_CUT)
    test = toks.filter(F.col("bkt") >= _NB_CUT)
    standing = None
    for i in range(3):
        b = batch_state(train.filter(F.col("doc_id") % 3 == i))
        standing = b if standing is None else fold_state(standing, b)
    standing = standing.localCheckpoint(eager=False)
    cnt_lw = standing.filter(F.col("kind") == "w").select(
        "lang", "wd", "c"
    )
    d_l = {
        r["lang"]: r["c"]
        for r in standing.filter(F.col("kind") == "d").collect()
    }
    langs, priors, floors, lp = model_from_counts(cnt_lw, d_l)
    if not langs:  # empty corpus: untyped empty literals can't score
        return spark.createDataFrame([], _NB_OUT_SCHEMA)
    pred = nb_score_predict(test, langs, priors, floors, lp)
    return (
        pred.groupBy("true_lang")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.col("pred_lang") == F.col("true_lang"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            F.col("true_lang").alias("lang"),
            "n_test",
            "n_correct",
            biased_round(
                F.col("n_correct") / F.col("n_test")
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )
