"""Mergeable-sketch aggregates (Apache DataSketches HLL, Spark 3.5+).

The 100 TB pattern: COUNT(DISTINCT) re-shuffles raw keys for every
grouping level — the single most expensive aggregate in a rollup
hierarchy. A mergeable sketch is aggregated ONCE at the finest grain;
every coarser level is a cheap union of tiny binary sketches (bytes, not
keys), which is also what makes incremental/continuous rollups possible:
yesterday's sketches merge with today's without touching yesterday's
rows. sketch-of-union == union-of-sketches is proven exactly in
tests/test_sketches.py, alongside a <5% relative-error bound against the
exact distinct count.

Rows-only driver check: DuckDB's approx_distinct uses a different sketch
implementation, so estimates are engine-specific by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.plans.catalog import register
from economic_data_etl_spark.sources.tables import load_table


def per_type_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finest-grain sketch table: one HLL of user_id per event_type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )


@register(
    "sketch_hll_distinct_rollup",
    oracle=None,
    doc="Distinct users per event_type AND overall from ONE pass of "
    "sketching: per-type HLL sketches (hll_sketch_agg), overall = "
    "hll_union_agg over the per-type sketches — the raw user_id keys "
    "are never re-shuffled for the coarser level. Rows-only check "
    "(estimates are sketch-implementation-specific); merge-exactness "
    "and <5% error vs exact are pinned in tests/test_sketches.py.",
)
def sketch_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sketches = per_type_user_sketches(spark, sf_dir)
    per_type = sketches.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    overall = sketches.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    return per_type.unionByName(overall).orderBy("event_type")


# --------------------------------------------------------------------------
# Exact heavy hitters via Misra-Gries candidate pruning.
# --------------------------------------------------------------------------
_HH_K = 1000  # threshold n/k: above-average bigrams over the ~930-bigram vocab


@register(
    "sketch_heavy_hitters_bigrams",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), g0 AS (
          SELECT doc_id, w,
                 unnest(CASE WHEN len(w) >= 2
                             THEN generate_series(1, len(w) - 1)
                             ELSE [] END) AS i
          FROM toks
        ), bg AS (
          SELECT array_to_string(w[i:i+1], ' ') AS bigram FROM g0
        ), tot AS (SELECT COUNT(*) AS n FROM bg),
        cnt AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram)
        SELECT bigram, CAST(c AS BIGINT) AS freq
        FROM cnt, tot
        WHERE c * {_HH_K} > n
        ORDER BY freq DESC, bigram
    """,
    doc=f"EXACT heavy hitters (bigram freq > n/{_HH_K}) by Misra-Gries "
    "candidate pruning + exact recount (operators/heavyhitters.py): one "
    "scan emits a bounded (<= k rows/partition) MG summary whose "
    "pigeonhole guarantee provably contains every true heavy hitter, a "
    "broadcast semi-join recounts only candidates — so the output is "
    "exact and SQL-checkable, while the shuffle never carries the full "
    "frequency table. Completes the sketch family next to the HLL "
    "rollup.",
)
def sketch_heavy_hitters_bigrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )
    from economic_data_etl_spark.operators.substring import (
        kgram_occurrences,
    )

    docs = load_table(spark, sf_dir, "documents")
    bigrams = kgram_occurrences(docs, "doc_id", "text", 2).select(
        F.col("gram").alias("bigram")
    )
    return heavy_hitters_exact(bigrams, "bigram", _HH_K).orderBy(
        F.desc("freq"), "bigram"
    )


# --------------------------------------------------------------------------
# Mergeable Misra-Gries certificate (streaming/heavyhitters.py:_mg_merge
# folded batch by batch, driver-checkable).
# --------------------------------------------------------------------------
_MG_K = 30  # threshold n/30
_MG_BATCHES = 4


@register(
    "inv_mg_mergeable_bounds",
    oracle=f"""
        WITH items AS (
          SELECT CASE WHEN event_id % 2 = 0
                      THEN 'h' || CAST(event_id % 24 AS VARCHAR)
                      ELSE 's' || CAST(event_id AS VARCHAR) END AS item
          FROM events
        ), tot AS (SELECT COUNT(*) AS n FROM items),
        cnt AS (SELECT item, COUNT(*) AS c FROM items GROUP BY item)
        SELECT item, CAST(c AS BIGINT) AS freq,
               TRUE AS present, TRUE AS bounds_ok
        FROM cnt, tot
        WHERE c * {_MG_K} > n
        ORDER BY item
    """,
    doc="Mergeable Misra-Gries certificate (the weighted MG merge — "
    "streaming/heavyhitters.py:_mg_merge): a "
    "deterministic skewed item stream derived from event_id (12 heavy "
    "items h0..h22 at ~n/24 each, n/2 singletons — scale-free, so real "
    f"summary trims happen at every SF) is folded in {_MG_BATCHES} "
    "batches through per-partition bounded MG summaries and the "
    "weighted driver merge at capacity 2k+1. For every TRUE heavy "
    f"hitter (freq * {_MG_K} > n, recomputed exactly by both engines) "
    "the certificate emits present (the item survived every trim — "
    "the mergeability guarantee, err <= n/(k+1) < n/k) and bounds_ok "
    "(stored weight <= freq <= weight + err). Expected constant TRUE; "
    "any breach flips the driver's value hash.",
)
def inv_mg_mergeable_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.heavyhitters import mg_summaries
    from economic_data_etl_spark.streaming.heavyhitters import _mg_merge

    cap = 2 * _MG_K + 1
    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        F.col("event_id"),
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.lit("h"), (F.col("event_id") % 24).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s"), F.col("event_id").cast("string"))
        )
        .alias("item"),
    )
    # fold in batches (event_id % _MG_BATCHES) through the mergeable
    # summary — each collect is <= cap x partitions rows (k-bounded,
    # never stream-bounded)
    counters: dict[str, int] = {}
    n_total, err = 0, 0
    for b in range(_MG_BATCHES):
        batch = items.filter(F.col("event_id") % _MG_BATCHES == b)
        bc: dict[str, int] = {}
        bn = 0
        for r in mg_summaries(batch, "item", cap).collect():
            if r.is_count:
                bn += r.weight
            else:
                bc[r.item] = bc.get(r.item, 0) + r.weight
        counters, m = _mg_merge(counters, bc, cap)
        err += m + bn // (cap + 1)
        n_total += bn
    # exact frequencies (distributed groupBy) restricted to true hitters
    freq = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") * _MG_K > F.lit(n_total))
    )
    # counters is <= cap entries: broadcast-join the summary weights
    w_df = spark.createDataFrame(
        [(t, w) for t, w in counters.items()] or [(None, None)],
        "item string, w long",
    ).filter(F.col("item").isNotNull())
    return (
        freq.join(F.broadcast(w_df), "item", "left")
        .select(
            "item",
            "freq",
            F.col("w").isNotNull().alias("present"),
            (
                F.col("w").isNotNull()
                & (F.col("w") <= F.col("freq"))
                & (F.col("freq") <= F.col("w") + F.lit(err))
            ).alias("bounds_ok"),
        )
        .orderBy("item")
    )


# --------------------------------------------------------------------------
# Count-Min Sketch: point-frequency estimates, fully SQL-replayable.
# --------------------------------------------------------------------------
_CMS_DEPTH, _CMS_WIDTH = 3, 1024


@register(
    "sketch_cms_frequency",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '') AS w
          FROM documents
        ), g0 AS (
          SELECT doc_id, w,
                 unnest(CASE WHEN len(w) >= 2
                             THEN generate_series(1, len(w) - 1)
                             ELSE [] END) AS i
          FROM toks
        ), bg AS (
          SELECT array_to_string(w[i:i+1], ' ') AS bigram FROM g0
        ), rws AS (
          SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS rw
        ), h AS (
          SELECT r.rw,
                 CAST(('0x' || substr(md5(CAST(r.rw AS VARCHAR) || ':'
                       || bg.bigram), 1, 8)) AS BIGINT)
                     % {_CMS_WIDTH} AS bucket
          FROM bg CROSS JOIN rws r
        ), sk AS (
          SELECT rw, bucket, COUNT(*) AS cnt FROM h GROUP BY rw, bucket
        ), q AS (
          SELECT DISTINCT bigram FROM bg
        ), qh AS (
          SELECT q.bigram, r.rw,
                 CAST(('0x' || substr(md5(CAST(r.rw AS VARCHAR) || ':'
                       || q.bigram), 1, 8)) AS BIGINT)
                     % {_CMS_WIDTH} AS bucket
          FROM q CROSS JOIN rws r
        ), est AS (
          SELECT bigram, MIN(COALESCE(sk.cnt, 0)) AS est
          FROM qh LEFT JOIN sk USING (rw, bucket)
          GROUP BY bigram
        ), cnt AS (
          SELECT bigram, COUNT(*) AS freq FROM bg GROUP BY bigram
        )
        SELECT c.bigram,
               CAST(c.freq AS BIGINT) AS freq,
               CAST(e.est AS BIGINT) AS est,
               TRUE AS no_undercount
        FROM cnt c JOIN est e USING (bigram)
        ORDER BY bigram
    """,
    doc=f"Count-Min Sketch ({_CMS_DEPTH} md5 hash rows x {_CMS_WIDTH} "
    "buckets, operators/cms.py) built over the corpus bigram stream; "
    "every distinct bigram is then point-queried against the sketch "
    "next to its exact count. The md5 bucketing is the repo's standard "
    "cross-engine hash, so DuckDB replays the ENTIRE build and every "
    "estimate — est is a full value check, and no_undercount pins the "
    "sketch's deterministic one-sided guarantee (est >= freq always; "
    "counts only add, every occurrence lands in its bucket in every "
    "row). Sketch size is depth x width regardless of corpus size and "
    "sketches ADD across partitions/days (linearity pinned in "
    "tests/test_cms.py).",
)
def sketch_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )
    from economic_data_etl_spark.operators.substring import (
        kgram_occurrences,
    )

    docs = load_table(spark, sf_dir, "documents")
    bigrams = kgram_occurrences(docs, "doc_id", "text", 2).select(
        F.col("gram").alias("bigram")
    )
    sketch = cms_build(bigrams, "bigram", _CMS_DEPTH, _CMS_WIDTH)
    freq = bigrams.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("freq")
    )
    est = cms_estimate(
        sketch, bigrams, "bigram", _CMS_DEPTH, _CMS_WIDTH
    ).withColumnRenamed("item", "bigram")
    return (
        freq.join(est, "bigram")
        .select(
            "bigram",
            "freq",
            "est",
            (F.col("est") >= F.col("freq")).alias("no_undercount"),
        )
        .orderBy("bigram")
    )


@register(
    "sketch_cms_join_size",
    oracle=f"""
        WITH keys AS (
          SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
        ), rws AS (
          SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS rw
        ), h AS (
          SELECT r.rw,
                 CAST(('0x' || substr(md5(CAST(r.rw AS VARCHAR) || ':'
                       || keys.k), 1, 8)) AS BIGINT)
                     % {_CMS_WIDTH} AS bucket
          FROM keys CROSS JOIN rws r
        ), sk AS (
          SELECT rw, bucket, COUNT(*) AS cnt FROM h GROUP BY rw, bucket
        ), ip AS (
          SELECT rw, SUM(cnt * cnt) AS ip FROM sk GROUP BY rw
        ), ex AS (
          SELECT SUM(c * c) AS exact
          FROM (SELECT COUNT(*) AS c FROM keys GROUP BY k)
        )
        SELECT CAST(exact AS BIGINT) AS exact_join_size,
               CAST((SELECT MIN(ip) FROM ip) AS BIGINT)
                   AS est_join_size,
               TRUE AS no_undercount
        FROM ex
    """,
    doc="Join-cardinality estimation from sketches (Cormode/"
    "Muthukrishnan — the optimizer's use of CMS): the self-join size "
    "of lineitem on l_partkey (= the second frequency moment "
    "sum f(k)², the quantity a planner needs to size a skewed join's "
    "output) estimated as min over hash rows of the bucket-wise "
    "inner product of the sketch with itself — collisions only add "
    "non-negative cross terms, so the estimate NEVER undercounts "
    "(deterministic one-sided bound, pinned as the constant-TRUE "
    "verdict). Exact value and estimate are both replayed in SQL; two "
    "constant-size summaries answer what would otherwise need a "
    "corpus-wide groupBy.",
)
def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.cms import (
        cms_build,
        cms_join_size_estimate,
    )

    keys = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("k")
    )
    sketch = cms_build(keys, "k", _CMS_DEPTH, _CMS_WIDTH)
    est = cms_join_size_estimate(sketch, sketch)
    exact = (
        keys.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact_join_size"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("exact_join_size").cast("long"),
        F.col("est_join_size").cast("long"),
        (F.col("est_join_size") >= F.col("exact_join_size")).alias(
            "no_undercount"
        ),
    )


# --------------------------------------------------------------------------
# From-scratch deterministic compactor quantile sketch (operators/kll.py).
# --------------------------------------------------------------------------
_KLL_QS = (0.01, 0.25, 0.5, 0.75, 0.99)


@register(
    "sketch_kll_quantiles",
    oracle=None,  # estimates are sketch-specific; certified by
    # inv_kll_rank_error (measured rank error vs the sketch's own bound)
    doc="Quantiles of the event-value stream from the from-scratch "
    "deterministic compactor sketch (MRL-family, operators/kll.py): "
    "one mapInPandas pass builds per-partition sketches, one "
    "summary-sized merge task folds them, and the quantile read-out "
    "runs over O(k log(n/k)) rows. The sketch reports its own "
    "worst-case rank-error bound (sum of 2^level per compaction) and "
    "conserves total weight exactly. The mergeable alternative to "
    "exact percentile_cont when the column won't fit a sort at 100 TB.",
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.kll import (
        kll_quantiles,
        kll_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    # summary-sized collect: O(k log(n/k)) rows regardless of data size
    pdf = kll_sketch(ev, "value").toPandas()
    rows = kll_quantiles(pdf, list(_KLL_QS))
    return spark.createDataFrame(
        rows, "q double, est double, n long, err_bound long"
    ).orderBy("q")


@register(
    "inv_kll_rank_error",
    oracle="""
        SELECT CAST(q AS DOUBLE) AS q, CAST(ok AS INT) AS within_bound
        FROM (VALUES (-1.0, 1), (0.01, 1), (0.25, 1), (0.5, 1),
                     (0.75, 1), (0.99, 1)) t(q, ok)
        ORDER BY q
    """,
    doc="Certificate for the compactor quantile sketch: for every "
    "reported quantile, the MEASURED rank error |true_rank(est) - q*n| "
    "must lie within the sketch's self-reported bound plus one "
    "top-level weight of read-out discretization; the q = -1 row "
    "certifies exact total-weight conservation (sketch weight == "
    "row count). The oracle is the constant all-TRUE table, so any "
    "bound violation at sf0.01 fails the driver's value hash.",
)
def inv_kll_rank_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.kll import (
        kll_quantiles,
        kll_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    pdf = kll_sketch(ev, "value").toPandas()  # summary-sized
    res = kll_quantiles(pdf, list(_KLL_QS))
    total, bound = res[0][2], res[0][3]
    item_levels = pdf.loc[pdf["level"] >= 0, "level"]
    # empty input: no items, no compactions — every check is trivially
    # true with unit read-out granularity
    w_max = 1 << int(item_levels.max()) if len(item_levels) else 1
    # ONE exact pass measures every true rank (conditional aggregates).
    # The conservation count matches the sketch's stated contract —
    # NULL and NaN values are dropped before sketching — so it counts
    # exactly the sketched rows, not COUNT(*): on data with NULLs the
    # raw row count would falsely fail the certificate.
    aggs = [
        F.sum((F.col("value") <= float(est)).cast("long")).alias(f"r{i}")
        for i, (_, est, _, _) in enumerate(res)
    ] + [
        F.sum(
            (F.col("value").isNotNull() & ~F.isnan("value")).cast("long")
        ).alias("n_rows")
    ]
    row = ev.agg(*aggs).collect()[0]
    out = [(-1.0, int(total == (row["n_rows"] or 0)))]
    for i, (q, _, _, _) in enumerate(res):
        # SUM over zero rows is NULL: an empty table has rank 0
        err = abs((row[f"r{i}"] or 0) - q * total)
        out.append((q, int(err <= bound + w_max + 1)))
    return spark.createDataFrame(
        out, "q double, within_bound int"
    ).orderBy("q")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch: the VALUE-CHECKED twin of the HLL
# rollup, plus the set-operation estimates HLL cannot provide.
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_HASH_RANGE_SQL = "1152921504606846976.0"  # 2^60


def _kmv_rollup_oracle() -> str:
    from economic_data_etl_spark.operators.kmv import KMV_HASH_SQL

    h = KMV_HASH_SQL.format(key="user_id")
    return f"""
        WITH dh AS (
            SELECT DISTINCT event_type AS grp, {h} AS h
            FROM events WHERE user_id IS NOT NULL
        ), sk AS (
            SELECT grp, h, rn FROM (
                SELECT grp, h,
                       ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h)
                           AS rn
                FROM dh
            ) WHERE rn <= {_KMV_K}
        ), allsk AS (
            SELECT 'ALL' AS grp, h, rn FROM (
                SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
                FROM (SELECT DISTINCT h FROM sk)
            ) WHERE rn <= {_KMV_K}
        ), est AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_sketch,
                   CASE WHEN COUNT(*) < {_KMV_K}
                        THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE {_KMV_K - 1}.0 / MAX(CASE WHEN rn = {_KMV_K}
                             THEN (h + 1) / {_KMV_HASH_RANGE_SQL} END)
                   END AS est
            FROM (SELECT * FROM sk UNION ALL SELECT * FROM allsk)
            GROUP BY grp
        ), exact AS (
            SELECT event_type AS grp,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT)
            FROM events
        )
        SELECT e.grp AS event_type, s.n_sketch,
               ROUND(5e-10 + s.est, 4) AS approx_users,
               e.exact_users
        FROM est s JOIN exact e USING (grp)
        ORDER BY event_type
    """


@register(
    "sketch_kmv_distinct_rollup",
    oracle=_kmv_rollup_oracle(),
    doc="KMV (k-minimum-values, Beyer et al. 2007) distinct-user "
    "rollup — the VALUE-CHECKED twin of sketch_hll_distinct_rollup: "
    f"per event_type the {_KMV_K} smallest distinct md5 user hashes, "
    "estimate (k-1)/U_k (exact below k); the overall level merges the "
    "per-type sketches (k smallest of their union) WITHOUT re-touching "
    "raw keys — the mergeable-rollup property, but with every sketch "
    "row and estimate replayed by DuckDB because the hash is the "
    "repo's portable md5 and the long->double normalization rounds "
    "IEEE-identically on both engines (HLL's estimates are "
    "implementation-specific; KMV's are bit-portable). Scale: distinct "
    "collapses map-side, rank<=k compiles to WindowGroupLimit, merges "
    "read k-bounded sketch rows only.",
)
def sketch_kmv_distinct_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.kmv import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch_by,
    )
    from economic_data_etl_spark.plans.catalog import biased_round

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch_by(ev, "user_id", "event_type", _KMV_K)
    ests = kmv_estimate(sk, _KMV_K).unionByName(
        kmv_estimate(kmv_merge(sk, _KMV_K), _KMV_K)
    )
    exact = (
        ev.groupBy(F.col("event_type").alias("grp"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .unionByName(
            ev.agg(
                F.countDistinct("user_id").alias("exact_users")
            ).select(F.lit("ALL").alias("grp"), "exact_users")
        )
    )
    return (
        ests.join(exact, "grp")
        .select(
            F.col("grp").alias("event_type"),
            "n_sketch",
            biased_round(F.col("est")).alias("approx_users"),
            F.col("exact_users").cast("long"),
        )
        .orderBy("event_type")
    )


@register(
    "inv_kmv_error_bound",
    oracle="""
        SELECT grp, CAST(1 AS INT) AS within_bound
        FROM (SELECT unnest(['ALL', 'click', 'error', 'purchase',
                             'signup', 'view']) AS grp)
        ORDER BY grp
    """,
    doc="Certificate for the KMV sketch: at every rollup level the "
    "measured relative error |est - exact| / exact must stay within "
    f"3/sqrt(k-2) (~{3 / (62 ** 0.5):.3f} at k={_KMV_K} — three "
    "standard deviations of the Beyer et al. estimator; groups below "
    "k distinct are exact, error 0). The oracle is the constant "
    "all-TRUE table, so a bound violation at sf0.01 fails the "
    "driver's value hash — the statistical-quality claim the "
    "value-equality check alone cannot express (both engines would "
    "agree on a BAD estimate).",
)
def inv_kmv_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.kmv import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch_by,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch_by(ev, "user_id", "event_type", _KMV_K)
    ests = kmv_estimate(sk, _KMV_K).unionByName(
        kmv_estimate(kmv_merge(sk, _KMV_K), _KMV_K)
    )
    exact = (
        ev.groupBy(F.col("event_type").alias("grp"))
        .agg(F.countDistinct("user_id").alias("exact"))
        .unionByName(
            ev.agg(F.countDistinct("user_id").alias("exact")).select(
                F.lit("ALL").alias("grp"), "exact"
            )
        )
    )
    bound = 3.0 / float((_KMV_K - 2) ** 0.5)
    return (
        ests.join(exact, "grp")
        .select(
            "grp",
            F.when(
                F.abs(F.col("est") - F.col("exact")) / F.col("exact")
                <= F.lit(bound),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("within_bound"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# KMV set operations: union / intersection / Jaccard from two sketches.
# ---------------------------------------------------------------------------
_KMV_SO_K = 128
_KMV_PRIOS = ("1-URGENT", "2-HIGH")


def _kmv_overlap_oracle() -> str:
    from economic_data_etl_spark.operators.kmv import KMV_HASH_SQL

    h = KMV_HASH_SQL.format(key="o_custkey")
    y_a, y_b = _KMV_PRIOS
    k = _KMV_SO_K
    return f"""
        WITH keys AS (
            SELECT o_orderpriority AS grp, o_custkey, {h} AS h
            FROM orders
            WHERE o_orderpriority IN ('{y_a}', '{y_b}')
        ), dh AS (
            SELECT DISTINCT grp, h FROM keys
        ), sk AS (
            SELECT grp, h, rn FROM (
                SELECT grp, h,
                       ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h)
                           AS rn
                FROM dh
            ) WHERE rn <= {k}
        ), comb AS (
            SELECT h, rn FROM (
                SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
                FROM (SELECT DISTINCT h FROM sk)
            ) WHERE rn <= {k}
        ), marked AS (
            SELECT c.h, c.rn,
                   CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END
                   * CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS in_both
            FROM comb c
            LEFT JOIN (SELECT h FROM sk WHERE grp = '{y_a}') a
                   ON c.h = a.h
            LEFT JOIN (SELECT h FROM sk WHERE grp = '{y_b}') b
                   ON c.h = b.h
        ), est AS (
            SELECT COUNT(*) AS n_comb,
                   SUM(in_both) AS n_both,
                   CASE WHEN COUNT(*) < {k}
                        THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE {k - 1}.0 / MAX(CASE WHEN rn = {k}
                             THEN (h + 1) / {_KMV_HASH_RANGE_SQL} END)
                   END AS est_union
            FROM marked
        ), exact AS (
            SELECT
              CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_union,
              CAST(COUNT(DISTINCT CASE WHEN in_a AND in_b
                                       THEN o_custkey END) AS BIGINT)
                  AS exact_intersect
            FROM (
              SELECT o_custkey,
                     BOOL_OR(o_orderpriority = '{y_a}') AS in_a,
                     BOOL_OR(o_orderpriority = '{y_b}') AS in_b
              FROM orders
              WHERE o_orderpriority IN ('{y_a}', '{y_b}')
              GROUP BY o_custkey
            )
        )
        SELECT ROUND(5e-10 + e.est_union, 4) AS est_union,
               ROUND(5e-10 + e.n_both * 1.0 / e.n_comb, 4)
                   AS est_jaccard,
               ROUND(5e-10 + (e.n_both * 1.0 / e.n_comb) * e.est_union,
                     4) AS est_intersect,
               x.exact_union, x.exact_intersect
        FROM est e, exact x
    """


@register(
    "sketch_kmv_set_overlap",
    oracle=_kmv_overlap_oracle(),
    doc="KMV multiset operations (Beyer et al. 2007) — the estimates "
    "an HLL cannot provide without inclusion-exclusion error blowup: "
    f"customers with {_KMV_PRIOS[0]} vs {_KMV_PRIOS[1]} orders are "
    f"sketched (k={_KMV_SO_K} smallest distinct md5 customer hashes "
    "each; the fixture sets genuinely part-overlap, Jaccard ~0.76), "
    "union sketch is the k smallest of the two sketches' union, "
    "Jaccard = |combined AND in-both| / |combined|, and the "
    "intersection estimate is Jaccard x union estimate. Exact "
    "union/intersection computed alongside for the visible-error "
    "report; DuckDB replays sketches and every estimate value-for-"
    "value (the md5 hash and the long->double normalization are "
    "bit-portable). Scale: only sketch rows (k-bounded) ever join; "
    "the raw part keys collapse map-side in the distinct.",
)
def sketch_kmv_set_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.kmv import (
        HASH_RANGE,
        kmv_merge,
        kmv_sketch_by,
    )
    from economic_data_etl_spark.plans.catalog import biased_round

    y_a, y_b = _KMV_PRIOS
    k = _KMV_SO_K
    li = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(*_KMV_PRIOS))
        .select(
            F.col("o_orderpriority").alias("grp"),
            "o_custkey",
        )
    )
    sk = kmv_sketch_by(li, "o_custkey", "grp", k)
    comb = kmv_merge(sk, k)
    a_h = sk.filter(F.col("grp") == y_a).select(
        "h", F.lit(1).alias("ina")
    )
    b_h = sk.filter(F.col("grp") == y_b).select(
        "h", F.lit(1).alias("inb")
    )
    marked = (
        comb.join(F.broadcast(a_h), "h", "left")
        .join(F.broadcast(b_h), "h", "left")
        .select(
            "h",
            "rn",
            (F.coalesce("ina", F.lit(0)) * F.coalesce("inb", F.lit(0))
             ).alias("both"),
        )
    )
    est = marked.agg(
        F.count(F.lit(1)).alias("n_comb"),
        F.sum("both").alias("n_both"),
        F.when(
            F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
        )
        .otherwise(
            F.lit(float(k - 1))
            / F.max(
                F.when(
                    F.col("rn") == k,
                    (F.col("h") + 1) / F.lit(HASH_RANGE),
                )
            )
        )
        .alias("est_union"),
    )
    exact = (
        li.groupBy("o_custkey")
        .agg(
            F.max(F.col("grp") == y_a).alias("in_a"),
            F.max(F.col("grp") == y_b).alias("in_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("exact_union"),
            F.sum(
                (F.col("in_a") & F.col("in_b")).cast("long")
            ).cast("long").alias("exact_intersect"),
        )
    )
    jac = F.col("n_both") / F.col("n_comb")
    return est.crossJoin(F.broadcast(exact)).select(
        biased_round(F.col("est_union")).alias("est_union"),
        biased_round(jac).alias("est_jaccard"),
        biased_round(jac * F.col("est_union")).alias("est_intersect"),
        "exact_union",
        "exact_intersect",
    )


_KMVI_SPLIT = 600
_KMVI_OVERLAP = 400


@register(
    "sketch_kmv_incremental",
    oracle=_kmv_rollup_oracle(),
    doc="INCREMENTAL KMV: per-group "
    "k-minimum-values state is mergeable exactly like the weighted "
    "reservoir — the k smallest distinct hashes of a union come from "
    "the k smallest of each side, and the md5 hash is deterministic "
    "per key. A standing sketch is built from events below event_id "
    f"{_KMVI_SPLIT}, a batch covering event_id >= {_KMVI_OVERLAP} "
    "folds in through a union+distinct+trim merge (the overlap is a "
    "simulated redelivery, a no-op by the math), and the served "
    "rollup estimates are compared "
    "against the FULL-corpus one-shot KMV oracle — a green row proves "
    "sketch-merge == batch sketch at the value level, per group AND "
    "at the merged ALL level.",
)
def sketch_kmv_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.kmv import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch_by,
    )
    from economic_data_etl_spark.plans.catalog import biased_round
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sk0 = kmv_sketch_by(
        ev.filter(F.col("event_id") < _KMVI_SPLIT),
        "user_id",
        "event_type",
        _KMV_K,
    )
    sk_batch = kmv_sketch_by(
        ev.filter(F.col("event_id") >= _KMVI_OVERLAP),
        "user_id",
        "event_type",
        _KMV_K,
    )
    merged = (
        sk0.select("grp", "h")
        .unionByName(sk_batch.select("grp", "h"))
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("grp").orderBy("h"))
    sk = merged.select("grp", "h", rn.alias("rn")).filter(
        F.col("rn") <= _KMV_K
    )
    ests = kmv_estimate(sk, _KMV_K).unionByName(
        kmv_estimate(kmv_merge(sk, _KMV_K), _KMV_K)
    )
    exact = (
        ev.groupBy(F.col("event_type").alias("grp"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .unionByName(
            ev.agg(
                F.countDistinct("user_id").alias("exact_users")
            ).select(F.lit("ALL").alias("grp"), "exact_users")
        )
    )
    return (
        ests.join(exact, "grp")
        .select(
            F.col("grp").alias("event_type"),
            "n_sketch",
            biased_round(F.col("est")).alias("approx_users"),
            F.col("exact_users").cast("long"),
        )
        .orderBy("event_type")
    )
