"""Econometric analytics over the warehouse tables — the reference's
actual domain (economic time series: seasonally adjusted indicators,
price indices, revision audits; see /root/reference/src/transform.py's
pct-change/rebase shapes) pushed to the operations national-statistics
pipelines run at scale.

Every query is a pure window/aggregate composition (no UDFs, no driver
loops); each states its shuffle shape for the 100 TB reading.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table


def _r(col):
    return biased_round(col)


def _daily_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE daily pre-aggregation (one shuffle on (event_type, day) that
    collapses the raw stream to a days x types table) — one definition,
    shared with the incremental Holt-Winters fold:
    operators/cusum.py:daily_totals."""
    from economic_data_etl_spark.operators.cusum import daily_totals

    return daily_totals(load_table(spark, sf_dir, "events"))


# Day-of-week as pure integer arithmetic (days since 1970-01-01 mod 7,
# so 0=Thursday) — the oracle twin of operators/seasonal.py:dow_index;
# portable across engines, unlike dayofweek()/weekday() whose origin
# conventions differ between Spark and DuckDB.
_DOW_SQL = "DATE_DIFF('day', DATE '1970-01-01', CAST(day AS DATE)) % 7"


# The decomposition CTE core shared by the decomposition oracle and the
# anomaly oracle — ONE SQL twin of operators/seasonal.py, so the two
# oracles can never drift apart.
_SEASONAL_CORE = f"""
        daily AS (
            SELECT event_type,
                   CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
                   SUM(value) AS total
            FROM events GROUP BY 1, 2
        ), t AS (
            SELECT event_type, day, total,
                   CASE WHEN COUNT(*) OVER w7 = 7
                        THEN AVG(total) OVER w7 END AS trend
            FROM daily
            WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), d AS (
            SELECT *, {_DOW_SQL} AS dow, total - trend AS detr FROM t
        ), s0 AS (
            SELECT event_type, dow, AVG(detr) AS raw
            FROM d WHERE detr IS NOT NULL GROUP BY 1, 2
        ), s AS (
            SELECT event_type, dow,
                   raw - AVG(raw) OVER (PARTITION BY event_type) AS seasonal
            FROM s0
        ), rec AS (
            -- LEFT: a series younger than one full window has no
            -- seasonal index yet; its days must appear (NULL columns),
            -- not vanish.
            SELECT d.event_type, d.day, d.dow, d.total, d.trend,
                   s.seasonal, d.total - d.trend - s.seasonal AS residual
            FROM d LEFT JOIN s USING (event_type, dow)
        )"""


@register(
    "ts_seasonal_decompose",
    oracle=f"""
        WITH {_SEASONAL_CORE}
        SELECT event_type, day, dow,
               ROUND(5e-10 + total, 4) AS total,
               ROUND(5e-10 + trend, 4) AS trend,
               ROUND(5e-10 + seasonal, 4) AS seasonal,
               ROUND(5e-10 + residual, 4) AS residual
        FROM rec
        ORDER BY event_type, day
    """,
    doc="Classical additive seasonal decomposition (the moving-average "
    "core of X-11, the method behind every 'seasonally adjusted' BLS "
    "series): trend = centered 7-day moving average (full windows only), "
    "day-of-week seasonal indices = mean detrended value normalized to "
    "sum zero per series, residual = remainder. One shuffle builds the "
    "daily table; every later pass windows over the tiny days x types "
    "aggregate, so the raw-event volume never moves again.",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.seasonal import (
        seasonal_from_daily,
    )

    # The decomposition is two passes over the daily table (the seasonal
    # indices derive from the detrended table, then join BACK to it), so
    # without a lineage break the raw event volume would be scanned once
    # per branch. localCheckpoint materializes the tiny days x types
    # aggregate; events are scanned exactly ONCE.
    daily = _daily_totals(spark, sf_dir).localCheckpoint()
    return seasonal_from_daily(daily, round_fn=biased_round)


# Anomaly gate: |residual| beyond this many residual standard
# deviations flags the day.
_ANOM_SIGMA = 2.0


@register(
    "ts_seasonal_anomalies",
    oracle=f"""
        WITH {_SEASONAL_CORE}, z AS (
            SELECT event_type, day, total, residual,
                   STDDEV_SAMP(residual)
                       OVER (PARTITION BY event_type) AS sd
            FROM rec
        )
        SELECT event_type, day,
               ROUND(5e-10 + total, 4) AS total,
               ROUND(5e-10 + residual, 4) AS residual,
               ROUND(5e-10 + residual / sd, 4) AS z
        FROM z
        -- the membership gate binds on BIASED-ROUNDED values: raw
        -- residual/sd differ across engines at float-noise level, and
        -- a borderline day flipping in/out changes the row SET, which
        -- no output rounding can absorb
        WHERE ABS(ROUND(5e-10 + residual, 4))
              > {_ANOM_SIGMA} * ROUND(5e-10 + sd, 4)
        ORDER BY event_type, day
    """,
    doc="Seasonal-residual anomaly detection — the monitoring query run "
    "on every seasonally adjusted series: a day is anomalous when its "
    "decomposition residual (what trend AND day-of-week cannot "
    f"explain) exceeds {_ANOM_SIGMA} residual standard deviations. "
    "Flagging on the raw total would alert every weekend; flagging on "
    "the residual alerts only genuine breaks. One extra window pass "
    "over the decomposition's days x types table.",
)
def ts_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.seasonal import (
        seasonal_from_daily,
    )

    daily = _daily_totals(spark, sf_dir).localCheckpoint()
    rec = seasonal_from_daily(daily)  # unrounded: the gate needs raw sd
    sd = F.stddev_samp("residual").over(Window.partitionBy("event_type"))
    z = rec.select("event_type", "day", "total", "residual", sd.alias("sd"))
    # membership binds on biased-rounded values — see the oracle comment
    return (
        z.filter(
            F.abs(_r(F.col("residual")))
            > F.lit(_ANOM_SIGMA) * _r(F.col("sd"))
        )
        .select(
            "event_type",
            "day",
            _r(F.col("total")).alias("total"),
            _r(F.col("residual")).alias("residual"),
            _r(F.col("residual") / F.col("sd")).alias("z"),
        )
        .orderBy("event_type", "day")
    )


def _party_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE (partkey, yr, unit value, quantity) table both index queries
    consume. It feeds several consumers each time; localCheckpoint
    materializes it so lineitem is scanned exactly ONCE per query."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.year("l_shipdate").cast("int").alias("yr"),
    ).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").alias("q"),
    ).localCheckpoint()


@register(
    "agg_price_index_fisher",
    oracle="""
        WITH py AS (
            SELECT l_partkey AS partkey,
                   CAST(YEAR(l_shipdate) AS INT) AS yr,
                   SUM(l_extendedprice) / SUM(l_quantity) AS p,
                   SUM(l_quantity) AS q
            FROM lineitem GROUP BY 1, 2
        ), b AS (
            SELECT partkey, p AS p0, q AS q0 FROM py
            WHERE yr = (SELECT MIN(yr) FROM py)
        ), m AS (
            SELECT t.yr,
                   COUNT(*) AS n_parts,
                   SUM(t.p * b.q0) AS ptq0, SUM(b.p0 * b.q0) AS p0q0,
                   SUM(t.p * t.q) AS ptqt, SUM(b.p0 * t.q) AS p0qt
            FROM py t JOIN b USING (partkey)
            GROUP BY t.yr
        ), nom AS (
            -- nominal revenue derives from py (p*q = unit value x
            -- quantity restores the part-year revenue), so lineitem is
            -- scanned exactly once
            SELECT yr, SUM(p * q) / 1e6 AS nom_m FROM py GROUP BY 1
        )
        SELECT m.yr, m.n_parts,
               ROUND(5e-10 + m.ptq0 / m.p0q0, 4) AS laspeyres,
               ROUND(5e-10 + m.ptqt / m.p0qt, 4) AS paasche,
               ROUND(5e-10 + SQRT((m.ptq0 / m.p0q0) * (m.ptqt / m.p0qt)),
                     4) AS fisher,
               ROUND(5e-10 + nom.nom_m, 4) AS nominal_rev_m,
               ROUND(5e-10 + nom.nom_m
                     / SQRT((m.ptq0 / m.p0q0) * (m.ptqt / m.p0qt)),
                     4) AS real_rev_m
        FROM m JOIN nom USING (yr)
        ORDER BY m.yr
    """,
    doc="Price index numbers — the CPI computation: per-part unit values "
    "and quantities by ship year, Laspeyres (base-year basket), Paasche "
    "(current basket), Fisher ideal (their geometric mean), then nominal "
    "yearly revenue DEFLATED by the Fisher index to real terms (the "
    "reference's rebase-to-index shape, src/transform.py). Shuffle "
    "shape: one (partkey, yr) aggregation over lineitem, then a "
    "partkey-keyed join of the year table against the base-year basket "
    "(parts-sized, bucketable); the index arithmetic runs on a "
    "years-sized table.",
)
def agg_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.prices import price_indices

    py = _party_table(spark, sf_dir)
    idx = price_indices(py)  # unrounded: real revenue needs raw fisher
    nom = py.groupBy("yr").agg(
        (F.sum(F.col("p") * F.col("q")) / F.lit(1e6)).alias("nom_m")
    )
    return (
        idx.join(nom, "yr")
        .select(
            "yr",
            "n_parts",
            _r(F.col("laspeyres")).alias("laspeyres"),
            _r(F.col("paasche")).alias("paasche"),
            _r(F.col("fisher")).alias("fisher"),
            _r(F.col("nom_m")).alias("nominal_rev_m"),
            _r(F.col("nom_m") / F.col("fisher")).alias("real_rev_m"),
        )
        .orderBy("yr")
    )


@register(
    "agg_price_index_chained",
    oracle="""
        WITH py AS (
            SELECT l_partkey AS partkey,
                   CAST(YEAR(l_shipdate) AS INT) AS yr,
                   SUM(l_extendedprice) / SUM(l_quantity) AS p,
                   SUM(l_quantity) AS q
            FROM lineitem GROUP BY 1, 2
        ), lk AS (
            SELECT t.yr,
                   COUNT(*) AS n_parts_link,
                   SUM(t.p * b.q) AS ptq0, SUM(b.p * b.q) AS p0q0,
                   SUM(t.p * t.q) AS ptqt, SUM(b.p * t.q) AS p0qt
            FROM py t JOIN py b
              ON b.partkey = t.partkey AND b.yr = t.yr - 1
            GROUP BY t.yr
        ), links AS (
            SELECT yr, n_parts_link,
                   ptq0 / p0q0 AS l_link,
                   ptqt / p0qt AS p_link,
                   SQRT((ptq0 / p0q0) * (ptqt / p0qt)) AS f_link
            FROM lk
        ), yrs AS (
            SELECT DISTINCT yr FROM py
        ), ch AS (
            SELECT y.yr,
                   COALESCE(l.n_parts_link, 0) AS n_parts_link,
                   l.f_link,
                   EXP(SUM(COALESCE(LN(l.l_link), 0)) OVER w) AS cl,
                   EXP(SUM(COALESCE(LN(l.p_link), 0)) OVER w) AS cp,
                   EXP(SUM(COALESCE(LN(l.f_link), 0)) OVER w) AS cf
            FROM yrs y LEFT JOIN links l USING (yr)
            WINDOW w AS (ORDER BY y.yr
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        )
        SELECT yr, CAST(n_parts_link AS BIGINT) AS n_parts_link,
               ROUND(5e-10 + f_link, 4) AS fisher_link,
               ROUND(5e-10 + cl, 4) AS chained_laspeyres,
               ROUND(5e-10 + cp, 4) AS chained_paasche,
               ROUND(5e-10 + cf, 4) AS chained_fisher
        FROM ch ORDER BY yr
    """,
    doc="CHAIN-LINKED price indices — the variant statistical agencies "
    "publish: each year's Laspeyres/Paasche/Fisher link uses the "
    "PREVIOUS year's basket (new and exiting parts affect only the one "
    "link they straddle, fixing the fixed-base matched-sample "
    "attrition), and the chained index is the running product of "
    "links, computed as exp of an ordered log-sum window over the "
    "years-sized link table. Same scale shape as the fixed-base query: "
    "one (partkey, yr) aggregation, one partkey-keyed self-join "
    "shifted by one year, then years-sized arithmetic.",
)
def agg_price_index_chained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.prices import (
        chained_price_indices,
    )

    return chained_price_indices(
        _party_table(spark, sf_dir), round_fn=biased_round
    )


@register(
    "agg_quantity_index_fisher",
    oracle="""
        WITH py AS (
            SELECT l_partkey AS partkey,
                   CAST(YEAR(l_shipdate) AS INT) AS yr,
                   SUM(l_extendedprice) / SUM(l_quantity) AS p,
                   SUM(l_quantity) AS q
            FROM lineitem GROUP BY 1, 2
        ), b AS (
            SELECT partkey, p AS p0, q AS q0 FROM py
            WHERE yr = (SELECT MIN(yr) FROM py)
        ), m AS (
            SELECT t.yr,
                   COUNT(*) AS n_parts,
                   SUM(b.p0 * t.q) AS p0qt, SUM(b.p0 * b.q0) AS p0q0,
                   SUM(t.p * t.q) AS ptqt, SUM(t.p * b.q0) AS ptq0
            FROM py t JOIN b USING (partkey)
            GROUP BY t.yr
        )
        SELECT yr, n_parts,
               ROUND(5e-10 + p0qt / p0q0, 4) AS laspeyres_q,
               ROUND(5e-10 + ptqt / ptq0, 4) AS paasche_q,
               ROUND(5e-10 + SQRT((p0qt / p0q0) * (ptqt / ptq0)),
                     4) AS fisher_q,
               ROUND(5e-10 + ptqt / p0q0, 4) AS value_ratio
        FROM m ORDER BY yr
    """,
    doc="Quantity (volume) indices — the industrial-production twin of "
    "the price index: Laspeyres_q holds base-year PRICES fixed, "
    "Paasche_q current prices, Fisher_q their geometric mean, with the "
    "value ratio alongside. Fisher price x Fisher quantity equals the "
    "value ratio ALGEBRAICALLY (the factor-reversal test Fisher's "
    "'ideal' label refers to) — pinned exactly in the planted tests. "
    "Same one-aggregation + partkey-keyed basket-join shape as the "
    "price queries.",
)
def agg_quantity_index_fisher(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.prices import quantity_indices

    return quantity_indices(
        _party_table(spark, sf_dir), round_fn=biased_round
    )


@register(
    "dq_benford_first_digit",
    oracle="""
        WITH d AS (
            SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders WHERE o_totalprice >= 1.0
        ), c AS (
            SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total FROM c
        )
        SELECT digit, n,
               ROUND(5e-10 + n * 1.0 / total, 4) AS obs_frac,
               ROUND(5e-10 + LOG10(1.0 + 1.0 / digit), 4) AS benford_frac,
               ROUND(5e-10 + POWER(n - total * LOG10(1.0 + 1.0 / digit), 2)
                     / (total * LOG10(1.0 + 1.0 / digit)), 4) AS chisq_term
        FROM c, tot ORDER BY digit
    """,
    doc="Benford's-law first-digit audit of order totals — the forensic "
    "data-quality screen run on economic aggregates (fabricated figures "
    "fail it). First significant digit extracted via EXACT integer "
    "decimal-string arithmetic (floor to BIGINT, leading digit of its "
    "base-10 print), not floating log10, so both engines bin "
    "identically; observed fractions vs log10(1+1/d) expectations with "
    "per-digit chi-square contributions. One scan, one 9-bucket "
    "aggregation; the total joins back as a broadcast scalar.",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = (
        orders.filter(F.col("o_totalprice") >= 1.0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.agg(F.sum("n").cast("bigint").alias("total"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        c.join(F.broadcast(tot))
        .select(
            "digit",
            "n",
            _r(F.col("n") * F.lit(1.0) / F.col("total")).alias("obs_frac"),
            _r(expected).alias("benford_frac"),
            _r(
                F.pow(F.col("n") - F.col("total") * expected, F.lit(2.0))
                / (F.col("total") * expected)
            ).alias("chisq_term"),
        )
        .orderBy("digit")
    )


# ONE full-data CUSUM oracle shared by the batch query and its
# incremental twin (whose whole point is matching this SQL) — the
# _SEASONAL_CORE pattern, so the two specs can never drift.
_CUSUM_SQL = """
        WITH daily AS (
            SELECT event_type,
                   CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
                   SUM(value) AS total
            FROM events GROUP BY 1, 2
        ), st AS (
            SELECT event_type, day, total,
                   AVG(total) OVER (PARTITION BY event_type) AS mu,
                   STDDEV_SAMP(total) OVER (PARTITION BY event_type) AS sd,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_days
            FROM daily
        ), cs AS (
            SELECT event_type, day, n_days, sd,
                   SUM(total - mu) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS s
            FROM st
        ), rk AS (
            SELECT event_type, day, n_days, s, sd,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ABS(s) DESC, day) AS rn
            FROM cs
        )
        SELECT event_type, n_days, day AS cp_day,
               ROUND(5e-10 + ABS(s), 4) AS s_max,
               ROUND(5e-10 + ABS(s) / (sd * SQRT(n_days)), 4) AS cusum_stat
        FROM rk WHERE rn = 1 ORDER BY event_type
    """


@register(
    "ts_cusum_changepoint",
    oracle=_CUSUM_SQL,
    doc="CUSUM mean-shift changepoint estimation per series: cumulative "
    "sum of deviations from the series mean, changepoint = the day of "
    "maximum |S_t| (the classic CUSUM estimator), plus the "
    "|S|/(sd*sqrt(n)) statistic Brownian-bridge thresholds bind on. "
    "Everything after the daily pre-aggregation is window passes over "
    "the days x types table; the argmax is a WindowGroupLimit "
    "(row_number = 1), never a collect.",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.cusum import cusum_from_daily

    return cusum_from_daily(
        _daily_totals(spark, sf_dir), round_fn=biased_round
    )


# The in-plan incremental twin splits events into three simulated
# micro-batches on event_id and REDELIVERS the middle one.
_CUSUM_BATCHES = 3


@register(
    "ts_incremental_cusum",
    oracle=_CUSUM_SQL,
    doc="INCREMENTAL CUSUM over a standing daily-totals index: events "
    f"arrive in {_CUSUM_BATCHES} simulated micro-batches (split on "
    "event_id), each folded into per-batch (batch_id, series, day) "
    "partial aggregates; the middle batch is REDELIVERED and the "
    "batch-id-keyed dedup drops the replay (high-water-mark "
    "semantics in driver-checkable form). The merged index then "
    "serves the changepoint scan. The "
    "oracle is the FULL-DATA CUSUM SQL, so a green row proves the "
    "batch-wise fold equals the one-shot build at the value level — "
    "daily totals are additive, which is the whole trick: per batch "
    "the work is O(batch) map-side-combined to its local days x "
    "types, and the standing index never exceeds days x types rows.",
)
def ts_incremental_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.cusum import (
        cusum_from_daily,
        daily_totals,
    )

    ev = load_table(spark, sf_dir, "events")
    partials = []
    for b in range(_CUSUM_BATCHES):
        batch = ev.filter(F.col("event_id") % _CUSUM_BATCHES == b)
        part = daily_totals(batch).withColumn("batch_id", F.lit(b))
        partials.append(part)
        if b == 1:  # redelivered micro-batch: same id, same content
            partials.append(part)
    appended = partials[0]
    for p in partials[1:]:
        appended = appended.unionByName(p)
    # batch-id-keyed dedup: a replayed batch's partial rows are exact
    # copies, so any one row per (batch_id, series, day) is correct.
    merged = (
        appended.dropDuplicates(["batch_id", "event_type", "day"])
        .groupBy("event_type", "day")
        .agg(F.sum("total").alias("total"), F.sum("n").alias("n"))
    )
    return cusum_from_daily(merged, round_fn=biased_round)


@register(
    "ts_granger_lead_test",
    oracle="""
        WITH daily AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
                   SUM(CASE WHEN event_type = 'view' THEN value END) AS x,
                   SUM(CASE WHEN event_type = 'purchase' THEN value END)
                       AS y
            FROM events WHERE event_type IN ('view', 'purchase')
            GROUP BY 1
        ), lagged AS (
            SELECT y,
                   LAG(y) OVER (ORDER BY day) AS ylag,
                   LAG(x) OVER (ORDER BY day) AS xlag
            FROM daily
        ), kept AS (
            SELECT * FROM lagged
            WHERE y IS NOT NULL AND ylag IS NOT NULL AND xlag IS NOT NULL
        ), mo AS (
            SELECT COUNT(*) AS n,
                   VAR_SAMP(y) AS syy,
                   VAR_SAMP(ylag) AS s11, VAR_SAMP(xlag) AS s22,
                   COVAR_SAMP(ylag, xlag) AS s12,
                   COVAR_SAMP(ylag, y) AS s1y,
                   COVAR_SAMP(xlag, y) AS s2y
            FROM kept
        ), fit AS (
            SELECT n, syy, s1y, s2y,
                   (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12)
                       AS b1,
                   (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12)
                       AS b2,
                   (s1y * s1y) / (s11 * syy) AS r2_ar
            FROM mo
        )
        SELECT n,
               ROUND(5e-10 + b1, 4) AS b_ylag,
               ROUND(5e-10 + b2, 4) AS b_xlag,
               ROUND(5e-10 + r2_ar, 4) AS r2_ar,
               ROUND(5e-10 + (b1 * s1y + b2 * s2y) / syy, 4) AS r2_full,
               ROUND(5e-10 +
                   ((b1 * s1y + b2 * s2y) / syy - r2_ar)
                   / ((1 - (b1 * s1y + b2 * s2y) / syy) / (n - 3)),
                   4) AS f_stat
        FROM fit
    """,
    doc="Granger-style lead test: does yesterday's 'view' activity "
    "improve the prediction of today's 'purchase' value beyond its own "
    "lag? Restricted model y_t ~ y_{t-1} vs full model y_t ~ y_{t-1} + "
    "x_{t-1}, both solved in CLOSED FORM from sample moments (the 2x2 "
    "normal equations invert symbolically), with the F statistic for "
    "the added regressor. One daily pre-aggregation, one lag window, "
    "one moment aggregation — the regression itself never sees a row. "
    "Sample-vs-population moment variants cancel in every ratio.",
)
def ts_granger_lead_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from economic_data_etl_spark.operators.granger import granger_lead_fit

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.col("value"))
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
        ).alias("y"),
    )
    return granger_lead_fit(daily, round_fn=biased_round)


# IPF raking spec: the high-value-order sample is calibrated to the full
# population's priority x status margins in _IPF_ITERS row/column sweeps.
_IPF_CUT = 100000.0
_IPF_ITERS = 4


def _ipf_oracle() -> str:
    steps = []
    prev = "t0"
    for k in range(1, _IPF_ITERS + 1):
        steps.append(
            f", r{k} AS (SELECT pri, st, n, rt, ctg, "
            f"w * rt / SUM(w) OVER (PARTITION BY pri) AS w FROM {prev})"
        )
        steps.append(
            f", c{k} AS (SELECT pri, st, n, rt, ctg, "
            f"w * ctg / SUM(w) OVER (PARTITION BY st) AS w FROM r{k})"
        )
        prev = f"c{k}"
    return f"""
        WITH cells AS (
            SELECT o_orderpriority AS pri, o_orderstatus AS st,
                   COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS w
            FROM orders WHERE o_totalprice > {_IPF_CUT} GROUP BY 1, 2
        ), rm AS (
            SELECT o_orderpriority AS pri, CAST(COUNT(*) AS DOUBLE) AS pop_r
            FROM orders GROUP BY 1
        ), cm AS (
            SELECT o_orderstatus AS st, CAST(COUNT(*) AS DOUBLE) AS pop_c
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT (SELECT SUM(w) FROM cells) AS n_samp,
                   (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS n_pop
        ), t0 AS (
            SELECT c.pri, c.st, c.n, c.w,
                   r.pop_r * (SELECT n_samp FROM tot)
                       / (SELECT n_pop FROM tot) AS rt,
                   x.pop_c * (SELECT n_samp FROM tot)
                       / (SELECT n_pop FROM tot) AS ctg
            FROM cells c
            JOIN rm r ON r.pri = c.pri
            JOIN cm x ON x.st = c.st
        ){"".join(steps)}
        SELECT pri, st, n,
               ROUND(5e-10 + w, 4) AS raked,
               ROUND(5e-10 + w / n, 4) AS weight
        FROM {prev} ORDER BY pri, st
    """


@register(
    "ml_ipf_raking",
    oracle=_ipf_oracle(),
    doc="Survey raking (iterative proportional fitting) — the national-"
    "statistics calibration method: the high-value-order sample's "
    f"priority x status cells are alternately scaled ({_IPF_ITERS} "
    "row/column sweeps, unrolled for determinism) until their margins "
    "match the FULL population's margins rescaled to the sample total. "
    "Output is the raked cell mass and the per-record calibration "
    "weight. Shuffle shape: two margin aggregations plus one cell "
    "aggregation over orders; every IPF sweep is a window pass over "
    "the cells table (|priority| x |status| rows), so iteration count "
    "never touches stream-scale data — at 100 TB the sweeps cost "
    "nothing and the one-pass aggregations dominate.",
)
def ml_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.filter(F.col("o_totalprice") > _IPF_CUT)
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w", F.col("n").cast("double"))
    )
    rm = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("double").alias("pop_r")
    )
    cm = orders.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.count(F.lit(1)).cast("double").alias("pop_c")
    )
    tot = cells.agg(F.sum("w").alias("n_samp")).crossJoin(
        orders.agg(F.count(F.lit(1)).cast("double").alias("n_pop"))
    )
    t = (
        cells.join(F.broadcast(rm), "pri")
        .join(F.broadcast(cm), "st")
        .crossJoin(F.broadcast(tot))
        .select(
            "pri",
            "st",
            "n",
            "w",
            (F.col("pop_r") * F.col("n_samp") / F.col("n_pop")).alias(
                "rt"
            ),
            (F.col("pop_c") * F.col("n_samp") / F.col("n_pop")).alias(
                "ctg"
            ),
        )
    )
    from economic_data_etl_spark.operators.ipf import ipf_rake

    t = ipf_rake(t, _IPF_ITERS)
    return t.select(
        "pri",
        "st",
        "n",
        _r(F.col("w")).alias("raked"),
        _r(F.col("w") / F.col("n")).alias("weight"),
    ).orderBy("pri", "st")


@register(
    "agg_herfindahl_concentration",
    oracle="""
        WITH sup AS (
            SELECT CAST(YEAR(l_shipdate) AS INT) AS yr, l_suppkey,
                   SUM(l_extendedprice) AS rev
            FROM lineitem GROUP BY 1, 2
        ), m AS (
            SELECT yr, COUNT(*) AS n_suppliers,
                   SUM(rev) AS tot, SUM(rev * rev) AS ss
            FROM sup GROUP BY yr
        )
        SELECT yr, n_suppliers,
               ROUND(5e-10 + ss / (tot * tot), 4) AS hhi,
               ROUND(5e-10 + (tot * tot) / ss, 4) AS effective_suppliers
        FROM m ORDER BY yr
    """,
    doc="Herfindahl-Hirschman market-concentration index per ship year: "
    "HHI = sum of squared supplier revenue shares, computed in MOMENT "
    "form (sum(rev^2) / sum(rev)^2) so shares never materialize — one "
    "(yr, suppkey) aggregation then a years-sized reduce; the "
    "reciprocal is the 'effective number of suppliers' "
    "(perplexity-style). The antitrust-screen counterpart of the Gini "
    "lane.",
)
def agg_herfindahl_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = li.groupBy(
        F.year("l_shipdate").cast("int").alias("yr"), "l_suppkey"
    ).agg(F.sum("l_extendedprice").alias("rev"))
    m = sup.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").alias("tot"),
        F.sum(F.col("rev") * F.col("rev")).alias("ss"),
    )
    return m.select(
        "yr",
        "n_suppliers",
        _r(F.col("ss") / (F.col("tot") * F.col("tot"))).alias("hhi"),
        _r((F.col("tot") * F.col("tot")) / F.col("ss")).alias(
            "effective_suppliers"
        ),
    ).orderBy("yr")


@register(
    "ts_cross_correlation_lags",
    oracle="""
        WITH daily AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
                   SUM(CASE WHEN event_type = 'view' THEN value END) AS x,
                   SUM(CASE WHEN event_type = 'purchase' THEN value END)
                       AS y
            FROM events WHERE event_type IN ('view', 'purchase')
            GROUP BY 1
        ), lags AS (
            SELECT unnest(generate_series(-3, 3)) AS lag
        ), j AS (
            SELECT CAST(l.lag AS INT) AS lag, a.x, b.y
            FROM daily a
            CROSS JOIN lags l
            JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
            WHERE a.x IS NOT NULL AND b.y IS NOT NULL
        )
        SELECT lag, COUNT(*) AS n_pairs,
               ROUND(5e-10 + CORR(x, y), 4) AS r
        FROM j GROUP BY lag ORDER BY lag
    """,
    doc="Lead/lag cross-correlation between two daily series (does "
    "'view' activity LEAD 'purchase' value, the standard leading-"
    "indicator probe): Pearson r of x_t against y_{t+lag} for lags "
    "-3..+3. The lag dimension is a broadcast 7-row literal table "
    "crossed against the tiny daily aggregate; the shifted join is "
    "exact date arithmetic. corr is scale-invariant, so sample vs "
    "population variants agree by construction.",
)
def ts_cross_correlation_lags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.col("value"))
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
        ).alias("y"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.select("day", "x").filter(F.col("x").isNotNull())
    b = daily.select(
        F.col("day").alias("day_y"), F.col("y")
    ).filter(F.col("y").isNotNull())
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_y") == F.date_add(F.col("day"), F.col("lag")))
    )
    return (
        j.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            _r(F.corr("x", "y")).alias("r"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# Holt-Winters forecasting (the engine's first true forecaster).
# --------------------------------------------------------------------------
_HW_H = 7


def _hw_oracle() -> str:
    from economic_data_etl_spark.operators.holtwinters import (
        ALPHA,
        BETA,
        GAMMA,
        ONE_M_ALPHA,
        ONE_M_BETA,
        ONE_M_GAMMA,
    )

    ys = [f"y{i}" for i in range(1, 15)]
    pivot = ",\n                   ".join(
        f"MAX(CASE WHEN p = {i} THEN total END) AS y{i}"
        for i in range(1, 15)
    )
    sum1 = "(" * 6 + "+".join([]) or ""
    # explicit left-associated sums, matching the Spark fold exactly
    def lsum(names):
        expr = names[0]
        for nm in names[1:]:
            expr = f"({expr}+{nm})"
        return expr

    l0 = f"{lsum(ys[:7])}/7.0"
    b0 = f"(({lsum(ys[7:14])}/7.0) - ({l0}))/7.0"
    s_init = ",\n                   ".join(
        f"y{j + 1} - ({l0}) AS s{j}" for j in range(7)
    )
    s_j = (
        "CASE s.t % 7 "
        + " ".join(f"WHEN {j} THEN s.s{j}" for j in range(7))
        + " END"
    )
    l_new = f"{ALPHA}*(r.total - {s_j}) + {ONE_M_ALPHA}*(s.l + s.b)"
    s_cols = ",\n                   ".join(
        f"CASE WHEN s.t % 7 = {j} "
        f"THEN {GAMMA}*(r.total - ({l_new})) + {ONE_M_GAMMA}*({s_j}) "
        f"ELSE s.s{j} END AS s{j}"
        for j in range(7)
    )
    s_fc = (
        "CASE (f.n + h.h - 1) % 7 "
        + " ".join(f"WHEN {j} THEN f.s{j}" for j in range(7))
        + " END"
    )
    return f"""
        WITH RECURSIVE daily AS (
            SELECT event_type,
                   CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
                   SUM(value) AS total
            FROM events GROUP BY 1, 2
        ), rn AS (
            SELECT event_type, day, total,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY day) AS p,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   MAX(day) OVER (PARTITION BY event_type) AS last_day
            FROM daily
        ), keys AS (
            SELECT event_type, MAX(n) AS n, MAX(last_day) AS last_day
            FROM rn GROUP BY 1 HAVING MAX(n) >= 14
        ), piv AS (
            SELECT event_type,
                   {pivot}
            FROM rn WHERE p <= 14 GROUP BY event_type
        ), init AS (
            SELECT p.event_type,
                   {l0} AS l,
                   {b0} AS b,
                   {s_init}
            FROM piv p JOIN keys USING (event_type)
        ), state AS (
            SELECT event_type, 7 AS t, l, b, s0, s1, s2, s3, s4, s5, s6
            FROM init
            UNION ALL
            SELECT s.event_type, s.t + 1,
                   {l_new} AS l,
                   {BETA}*(({l_new}) - s.l) + {ONE_M_BETA}*s.b AS b,
                   {s_cols}
            FROM state s JOIN rn r
              ON r.event_type = s.event_type AND r.p = s.t + 1
        ), fitted AS (
            SELECT s.* , k.n, k.last_day
            FROM state s JOIN keys k
              ON k.event_type = s.event_type AND s.t = k.n
        )
        SELECT f.event_type,
               CAST(h.h AS INT) AS h,
               CAST(CAST(f.last_day AS DATE) + CAST(h.h AS INT) AS TIMESTAMP) AS forecast_day,
               ROUND(5e-10 + f.l + h.h * f.b + {s_fc}, 4) AS yhat
        FROM fitted f
        CROSS JOIN (SELECT unnest(generate_series(1, {_HW_H})) AS h) h
        ORDER BY f.event_type, h.h
    """


@register(
    "ts_holt_winters_forecast",
    oracle=_hw_oracle(),
    doc="Additive Holt-Winters (triple exponential smoothing) 7-day "
    "forecast per event_type over the daily totals — the engine's "
    "first true FORECASTER next to the descriptive seasonal/CUSUM/"
    "trend lanes (operators/holtwinters.py). Level/trend/weekly-"
    "seasonal recurrence with fixed (0.3, 0.1, 0.2) smoothing and "
    "classical first-two-weeks init, every sum written left-"
    "associated and every 1-x complement passed as its own literal so "
    "the DuckDB oracle — which replays the ENTIRE recurrence as a "
    "recursive CTE — reproduces each IEEE double bit-for-bit. Scale "
    "shape: one (key, day) shuffle collapses the stream, then the "
    "whole fit is a Catalyst aggregate-fold over a days-sized array "
    "per key — zero Python, zero further shuffles, parallel across "
    "keys.",
)
def ts_holt_winters_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.holtwinters import (
        holt_winters_forecast,
    )

    daily = _daily_totals(spark, sf_dir).select(
        "event_type", "day", "total"
    )
    fc = holt_winters_forecast(daily, horizon=_HW_H)
    return fc.select(
        "event_type",
        "h",
        # TIMESTAMP, not DATE: Spark DATE reaches pandas as object
        # while DuckDB DATE lands datetime64 — the driver hashes after
        # the pandas conversion, so the kinds must match.
        F.col("forecast_day").cast("timestamp").alias("forecast_day"),
        _r(F.col("yhat")).alias("yhat"),
    ).orderBy("event_type", "h")


@register(
    "ts_incremental_holt_winters",
    oracle=_hw_oracle(),
    doc="INCREMENTAL Holt-Winters: the forecaster served from the "
    "SAME standing daily-totals index the CUSUM and seasonal lanes "
    f"maintain — events arrive in {_CUSUM_BATCHES} simulated "
    "micro-batches (one REDELIVERED, dropped by the batch-id-keyed "
    "dedup), the additive fold rebuilds days x types, and the "
    "Catalyst-fold recurrence fits on the folded index. The oracle is "
    "the FULL-DATA recursive-CTE replay, so a green row proves "
    "fold-then-forecast equals one-shot-forecast at the value level — "
    "one standing index now serves changepoint, seasonal, and "
    "forecasting without re-touching the event stream.",
)
def ts_incremental_holt_winters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.cusum import daily_totals
    from economic_data_etl_spark.operators.holtwinters import (
        holt_winters_forecast,
    )

    ev = load_table(spark, sf_dir, "events")
    partials = []
    for b in range(_CUSUM_BATCHES):
        batch = ev.filter(F.col("event_id") % _CUSUM_BATCHES == b)
        part = daily_totals(batch).withColumn("batch_id", F.lit(b))
        partials.append(part)
        if b == 1:  # redelivered micro-batch: same id, same content
            partials.append(part)
    appended = partials[0]
    for p in partials[1:]:
        appended = appended.unionByName(p)
    merged = (
        appended.dropDuplicates(["batch_id", "event_type", "day"])
        .groupBy("event_type", "day")
        .agg(F.sum("total").alias("total"))
    )
    fc = holt_winters_forecast(merged, horizon=_HW_H)
    return fc.select(
        "event_type",
        "h",
        F.col("forecast_day").cast("timestamp").alias("forecast_day"),
        _r(F.col("yhat")).alias("yhat"),
    ).orderBy("event_type", "h")


def _hw_backtest_oracle() -> str:
    """The _hw_oracle recurrence fitted on daily totals TRUNCATED at
    (global max day - 7 days), with the held-out week joined back as
    actuals and summarized per key."""
    from economic_data_etl_spark.operators.holtwinters import (
        ALPHA,
        BETA,
        GAMMA,
        ONE_M_ALPHA,
        ONE_M_BETA,
        ONE_M_GAMMA,
    )

    ys = [f"y{i}" for i in range(1, 15)]
    pivot = ",\n                   ".join(
        f"MAX(CASE WHEN p = {i} THEN total END) AS y{i}"
        for i in range(1, 15)
    )

    def lsum(names):
        expr = names[0]
        for nm in names[1:]:
            expr = f"({expr}+{nm})"
        return expr

    l0 = f"{lsum(ys[:7])}/7.0"
    b0 = f"(({lsum(ys[7:14])}/7.0) - ({l0}))/7.0"
    s_init = ",\n                   ".join(
        f"y{j + 1} - ({l0}) AS s{j}" for j in range(7)
    )
    s_j = (
        "CASE s.t % 7 "
        + " ".join(f"WHEN {j} THEN s.s{j}" for j in range(7))
        + " END"
    )
    l_new = f"{ALPHA}*(r.total - {s_j}) + {ONE_M_ALPHA}*(s.l + s.b)"
    s_cols = ",\n                   ".join(
        f"CASE WHEN s.t % 7 = {j} "
        f"THEN {GAMMA}*(r.total - ({l_new})) + {ONE_M_GAMMA}*({s_j}) "
        f"ELSE s.s{j} END AS s{j}"
        for j in range(7)
    )
    s_fc = (
        "CASE (f.n + h.h - 1) % 7 "
        + " ".join(f"WHEN {j} THEN f.s{j}" for j in range(7))
        + " END"
    )
    return f"""
        WITH RECURSIVE alldaily AS (
            SELECT event_type,
                   CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
                   SUM(value) AS total
            FROM events GROUP BY 1, 2
        ), cut AS (
            SELECT MAX(day) - INTERVAL 7 DAY AS cutoff FROM alldaily
        ), daily AS (
            SELECT a.* FROM alldaily a, cut WHERE a.day <= cut.cutoff
        ), rn AS (
            SELECT event_type, day, total,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY day) AS p,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   MAX(day) OVER (PARTITION BY event_type) AS last_day
            FROM daily
        ), keys AS (
            SELECT event_type, MAX(n) AS n, MAX(last_day) AS last_day
            FROM rn GROUP BY 1 HAVING MAX(n) >= 14
        ), piv AS (
            SELECT event_type,
                   {pivot}
            FROM rn WHERE p <= 14 GROUP BY event_type
        ), init AS (
            SELECT p.event_type,
                   {l0} AS l,
                   {b0} AS b,
                   {s_init}
            FROM piv p JOIN keys USING (event_type)
        ), state AS (
            SELECT event_type, 7 AS t, l, b, s0, s1, s2, s3, s4, s5, s6
            FROM init
            UNION ALL
            SELECT s.event_type, s.t + 1,
                   {l_new} AS l,
                   {BETA}*(({l_new}) - s.l) + {ONE_M_BETA}*s.b AS b,
                   {s_cols}
            FROM state s JOIN rn r
              ON r.event_type = s.event_type AND r.p = s.t + 1
        ), fitted AS (
            SELECT s.* , k.n, k.last_day
            FROM state s JOIN keys k
              ON k.event_type = s.event_type AND s.t = k.n
        ), fc AS (
            SELECT f.event_type, h.h,
                   CAST(f.last_day AS DATE) + CAST(h.h AS INT)
                       AS forecast_day,
                   f.l + h.h * f.b + {s_fc} AS yhat,
                   f.n
            FROM fitted f
            CROSS JOIN (SELECT unnest(generate_series(1, {_HW_H}))
                        AS h) h
        ), scored AS (
            SELECT c.event_type, c.n, c.yhat, a.total
            FROM fc c JOIN alldaily a
              ON a.event_type = c.event_type
             AND CAST(a.day AS DATE) = c.forecast_day
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_train,
               CAST(COUNT(*) AS BIGINT) AS n_scored,
               ROUND(5e-10 + AVG(ABS(yhat - total)), 4) AS mae,
               ROUND(5e-10 + SUM(ABS(yhat - total))
                     / SUM(ABS(total)), 4) AS wape
        FROM scored
        GROUP BY event_type
        ORDER BY event_type
    """


@register(
    "ts_forecast_backtest",
    oracle=_hw_backtest_oracle(),
    doc="Forecast BACKTESTING — the evaluation half every forecaster "
    "needs: Holt-Winters is fitted on the daily totals truncated at "
    "(global max day - 7 days), the held-out week is forecast, and "
    "per-key MAE and WAPE (sum |err| / sum |actual| — no per-row "
    "division blow-ups) are reported against the actuals. The oracle "
    "replays the truncated fit with the same recursive CTE plus the "
    "holdout join, so the skill claim ('the forecaster would have "
    "predicted last week this well') is value-checked cross-engine, "
    "not self-reported.",
)
def ts_forecast_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    from economic_data_etl_spark.operators.holtwinters import (
        holt_winters_forecast,
    )

    daily = _daily_totals(spark, sf_dir).select(
        "event_type", "day", "total"
    )
    max_day = daily.agg(F.max("day").alias("m")).collect()[0]["m"]
    if max_day is None:  # empty events table: nothing to backtest
        return spark.createDataFrame(
            [],
            "event_type string, n_train long, n_scored long, "
            "mae double, wape double",
        )
    cutoff = max_day - datetime.timedelta(days=7)
    train = daily.filter(F.col("day") <= F.lit(cutoff))
    fc = holt_winters_forecast(train, horizon=_HW_H).withColumnRenamed(
        "h", "hh"
    )
    # training length per key for the report (the fit's n)
    n_train = train.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_train")
    )
    scored = fc.join(
        daily.select(
            "event_type",
            F.col("day").cast("date").alias("forecast_day"),
            "total",
        ),
        ["event_type", "forecast_day"],
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            _r(F.avg(F.abs(F.col("yhat") - F.col("total")))).alias(
                "mae"
            ),
            _r(
                F.sum(F.abs(F.col("yhat") - F.col("total")))
                / F.sum(F.abs(F.col("total")))
            ).alias("wape"),
        )
        .join(n_train, "event_type")
        .select(
            "event_type",
            F.col("n_train").cast("long"),
            "n_scored",
            "mae",
            "wape",
        )
        .orderBy("event_type")
    )


@register(
    "ts_streaming_holt_winters",
    oracle=_hw_oracle(),
    doc="INCREMENTAL Holt-Winters — the true per-key fold state "
    "(streaming/incremental_holtwinters.py): the daily totals arrive "
    "in three day-ordered batches, each batch folds through the SAME "
    "hw_step Catalyst expression the one-shot fit uses, starting from "
    "the stored (level, trend, seasonals, position) state — keys still "
    "inside the two-week classical init window buffer raw values until "
    "the threshold, then init + fold the remainder. The oracle is the "
    "one-shot recursive-CTE replay over the FULL data, so a green row "
    "proves fold == batch at the value level (the pytest twin pins "
    "it bit-for-bit, plus warm-up and out-of-order rejection). State "
    "is key-sized: the daily series collapses to a handful of doubles "
    "per key.",
)
def ts_streaming_holt_winters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from economic_data_etl_spark.operators.holtwinters import (
        forecast_from_state,
    )
    from economic_data_etl_spark.streaming.incremental_holtwinters import (
        STATE_SCHEMA,
        _fold_batch,
    )

    # days-sized table consumed 4x (the day-boundary collect + three
    # batch folds, each its own action): checkpoint once so the events
    # aggregation does not re-run per consumer (guide §5).
    daily = (
        _daily_totals(spark, sf_dir)
        .select("event_type", "day", "total")
        .localCheckpoint(eager=False)
    )
    days = [
        r.day
        for r in daily.select("day").distinct().orderBy("day").collect()
    ]
    state = spark.createDataFrame([], STATE_SCHEMA)
    if days:
        n3 = max(len(days) // 3, 1)
        bounds = [days[n3 - 1], days[min(2 * n3, len(days)) - 1], None]
        lo = None
        for hi in bounds:
            b = daily
            if lo is not None:
                b = b.filter(F.col("day") > F.lit(lo))
            if hi is not None:
                b = b.filter(F.col("day") <= F.lit(hi))
            # localCheckpoint: each fold's plan otherwise nests the
            # previous fold's full expression tree (3x blowup)
            state = _fold_batch(state, b).localCheckpoint(eager=True)
            lo = hi
    fitted = state.filter(F.col("level").isNotNull())
    fc = forecast_from_state(fitted, horizon=_HW_H)
    return fc.select(
        "event_type",
        "h",
        F.col("forecast_day").cast("timestamp").alias("forecast_day"),
        _r(F.col("yhat")).alias("yhat"),
    ).orderBy("event_type", "h")


def _model_select_oracle() -> str:
    """Three-candidate ETS-lite holdout selection, fully replayed:
    additive Holt-Winters, damped-trend Holt-Winters, and SES are each
    re-fitted on the truncated series as recursive CTEs (sharing the
    train/pivot/init scaffolding), scored on the held-out week, and
    the argmin taken over the BIASED-ROUNDED MAEs — the selection
    binds on rounded values on both engines (raw-float argmins flip
    borderline keys across engines), with fixed tie-break priority
    holt_winters > damped_trend > ses."""
    from economic_data_etl_spark.operators.holtwinters import (
        ALPHA,
        BETA,
        DAMP_SUM,
        GAMMA,
        ONE_M_ALPHA,
        ONE_M_BETA,
        ONE_M_GAMMA,
        PHI,
    )

    ys = [f"y{i}" for i in range(1, 15)]
    pivot = ",\n                   ".join(
        f"MAX(CASE WHEN p = {i} THEN total END) AS y{i}"
        for i in range(1, 15)
    )

    def lsum(names):
        expr = names[0]
        for nm in names[1:]:
            expr = f"({expr}+{nm})"
        return expr

    l0 = f"{lsum(ys[:7])}/7.0"
    b0 = f"(({lsum(ys[7:14])}/7.0) - ({l0}))/7.0"
    s_init = ",\n                   ".join(
        f"y{j + 1} - ({l0}) AS s{j}" for j in range(7)
    )
    s_j = (
        "CASE s.t % 7 "
        + " ".join(f"WHEN {j} THEN s.s{j}" for j in range(7))
        + " END"
    )

    def recurrence(trend_term: str) -> tuple[str, str, str]:
        """(l_new, b_new, s_cols) with the given trend contribution
        (s.b for additive, PHI*s.b for damped)."""
        l_new = (
            f"{ALPHA}*(r.total - {s_j}) "
            f"+ {ONE_M_ALPHA}*(s.l + {trend_term})"
        )
        b_new = (
            f"{BETA}*(({l_new}) - s.l) + {ONE_M_BETA}*({trend_term})"
        )
        s_cols = ",\n                   ".join(
            f"CASE WHEN s.t % 7 = {j} "
            f"THEN {GAMMA}*(r.total - ({l_new})) "
            f"+ {ONE_M_GAMMA}*({s_j}) "
            f"ELSE s.s{j} END AS s{j}"
            for j in range(7)
        )
        return l_new, b_new, s_cols

    l_hw, b_hw, sc_hw = recurrence("s.b")
    l_dp, b_dp, sc_dp = recurrence(f"{PHI}*s.b")
    s_fc = (
        "CASE (f.n + h.h - 1) % 7 "
        + " ".join(f"WHEN {j} THEN f.s{j}" for j in range(7))
        + " END"
    )
    damp = (
        "CASE h.h "
        + " ".join(
            f"WHEN {i + 1} THEN {DAMP_SUM[i]!r}" for i in range(7)
        )
        + " END"
    )
    return f"""
        WITH RECURSIVE alldaily AS (
            SELECT event_type,
                   CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
                   SUM(value) AS total
            FROM events GROUP BY 1, 2
        ), cut AS (
            SELECT MAX(day) - INTERVAL 7 DAY AS cutoff FROM alldaily
        ), daily AS (
            SELECT a.* FROM alldaily a, cut WHERE a.day <= cut.cutoff
        ), rn AS (
            SELECT event_type, day, total,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY day) AS p,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   MAX(day) OVER (PARTITION BY event_type) AS last_day
            FROM daily
        ), keys AS (
            SELECT event_type, MAX(n) AS n, MAX(last_day) AS last_day
            FROM rn GROUP BY 1 HAVING MAX(n) >= 14
        ), piv AS (
            SELECT event_type,
                   {pivot}
            FROM rn WHERE p <= 14 GROUP BY event_type
        ), init AS (
            SELECT p.event_type,
                   {l0} AS l,
                   {b0} AS b,
                   {s_init}
            FROM piv p JOIN keys USING (event_type)
        ), state_hw AS (
            SELECT event_type, 7 AS t, l, b, s0, s1, s2, s3, s4, s5, s6
            FROM init
            UNION ALL
            SELECT s.event_type, s.t + 1,
                   {l_hw} AS l,
                   {b_hw} AS b,
                   {sc_hw}
            FROM state_hw s JOIN rn r
              ON r.event_type = s.event_type AND r.p = s.t + 1
        ), state_dp AS (
            SELECT event_type, 7 AS t, l, b, s0, s1, s2, s3, s4, s5, s6
            FROM init
            UNION ALL
            SELECT s.event_type, s.t + 1,
                   {l_dp} AS l,
                   {b_dp} AS b,
                   {sc_dp}
            FROM state_dp s JOIN rn r
              ON r.event_type = s.event_type AND r.p = s.t + 1
        ), state_ses AS (
            SELECT r.event_type, 1 AS t, r.total AS l
            FROM rn r JOIN keys USING (event_type) WHERE r.p = 1
            UNION ALL
            SELECT s.event_type, s.t + 1,
                   {ALPHA}*r.total + {ONE_M_ALPHA}*s.l AS l
            FROM state_ses s JOIN rn r
              ON r.event_type = s.event_type AND r.p = s.t + 1
        ), fit_hw AS (
            SELECT s.*, k.n, k.last_day FROM state_hw s JOIN keys k
              ON k.event_type = s.event_type AND s.t = k.n
        ), fit_dp AS (
            SELECT s.*, k.n, k.last_day FROM state_dp s JOIN keys k
              ON k.event_type = s.event_type AND s.t = k.n
        ), fit_ses AS (
            SELECT s.*, k.n, k.last_day FROM state_ses s JOIN keys k
              ON k.event_type = s.event_type AND s.t = k.n
        ), hs AS (
            SELECT unnest(generate_series(1, 7)) AS h
        ), fc AS (
            SELECT f.event_type, 'hw' AS model,
                   CAST(f.last_day AS DATE) + CAST(h.h AS INT)
                       AS forecast_day,
                   f.l + h.h * f.b + {s_fc} AS yhat
            FROM fit_hw f CROSS JOIN hs h
            UNION ALL
            SELECT f.event_type, 'dp' AS model,
                   CAST(f.last_day AS DATE) + CAST(h.h AS INT),
                   f.l + ({damp}) * f.b + {s_fc}
            FROM fit_dp f CROSS JOIN hs h
            UNION ALL
            SELECT f.event_type, 'ses' AS model,
                   CAST(f.last_day AS DATE) + CAST(h.h AS INT),
                   f.l
            FROM fit_ses f CROSS JOIN hs h
        ), scored AS (
            SELECT c.event_type, c.model,
                   ABS(c.yhat - a.total) AS err
            FROM fc c JOIN alldaily a
              ON a.event_type = c.event_type
             AND CAST(a.day AS DATE) = c.forecast_day
        ), mae AS (
            SELECT event_type,
                   ROUND(5e-10 + AVG(CASE WHEN model = 'hw'
                                          THEN err END), 4) AS mae_hw,
                   ROUND(5e-10 + AVG(CASE WHEN model = 'dp'
                                          THEN err END), 4)
                       AS mae_damped,
                   ROUND(5e-10 + AVG(CASE WHEN model = 'ses'
                                          THEN err END), 4) AS mae_ses
            FROM scored GROUP BY event_type
        )
        SELECT event_type, mae_hw, mae_damped, mae_ses,
               CASE WHEN mae_hw <= mae_damped AND mae_hw <= mae_ses
                    THEN 'holt_winters'
                    WHEN mae_damped <= mae_ses THEN 'damped_trend'
                    ELSE 'ses' END AS best_model,
               LEAST(mae_hw, mae_damped, mae_ses) AS best_mae
        FROM mae
        ORDER BY event_type
    """


@register(
    "ts_forecast_model_select",
    oracle=_model_select_oracle(),
    doc="ETS-lite MODEL SELECTION — the step a real forecasting user "
    "hits after the backtest: three candidate models (additive "
    "Holt-Winters, phi-damped-trend Holt-Winters, level-only SES — "
    "operators/holtwinters.py) are each fitted on the daily totals "
    "truncated at max-day - 7, scored on the held-out week, and the "
    "per-key argmin MAE picked. The selection binds on BIASED-ROUNDED "
    "MAEs with fixed tie-break priority (hw > damped > ses) so both "
    "engines choose identically; the oracle replays ALL THREE "
    "recursive-CTE fits, the holdout joins, and the argmin. The "
    "damped forecast multipliers (phi + ... + phi^h) are computed "
    "once in Python and passed to both engines as the same literals. "
    "Scale shape: three Catalyst folds over the same per-key "
    "days-sized array — one (key, day) shuffle total, parallel across "
    "keys.",
)
def ts_forecast_model_select(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    from economic_data_etl_spark.operators.holtwinters import (
        holt_winters_damped_forecast,
        holt_winters_forecast,
        ses_forecast,
    )

    daily = _daily_totals(spark, sf_dir).select(
        "event_type", "day", "total"
    )
    max_day = daily.agg(F.max("day").alias("m")).collect()[0]["m"]
    if max_day is None:
        return spark.createDataFrame(
            [],
            "event_type string, mae_hw double, mae_damped double, "
            "mae_ses double, best_model string, best_mae double",
        )
    cutoff = max_day - datetime.timedelta(days=7)
    train = daily.filter(F.col("day") <= F.lit(cutoff))
    actuals = daily.select(
        "event_type",
        F.col("day").cast("date").alias("forecast_day"),
        "total",
    )

    def mae_of(fc: DataFrame, name: str) -> DataFrame:
        scored = fc.join(actuals, ["event_type", "forecast_day"])
        return scored.groupBy("event_type").agg(
            _r(F.avg(F.abs(F.col("yhat") - F.col("total")))).alias(
                name
            )
        )

    m_hw = mae_of(holt_winters_forecast(train, _HW_H), "mae_hw")
    m_dp = mae_of(
        holt_winters_damped_forecast(train, _HW_H), "mae_damped"
    )
    m_ses = mae_of(ses_forecast(train, _HW_H), "mae_ses")
    joined = m_hw.join(m_dp, "event_type").join(m_ses, "event_type")
    best_model = (
        F.when(
            (F.col("mae_hw") <= F.col("mae_damped"))
            & (F.col("mae_hw") <= F.col("mae_ses")),
            F.lit("holt_winters"),
        )
        .when(
            F.col("mae_damped") <= F.col("mae_ses"),
            F.lit("damped_trend"),
        )
        .otherwise(F.lit("ses"))
    )
    return joined.select(
        "event_type",
        "mae_hw",
        "mae_damped",
        "mae_ses",
        best_model.alias("best_model"),
        F.least("mae_hw", "mae_damped", "mae_ses").alias("best_mae"),
    ).orderBy("event_type")
