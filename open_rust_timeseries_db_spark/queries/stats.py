"""Statistical analysis staples (round 12, batch 2).

The reference's consumer analytics stop at fold-style aggregates
(reference src/tests/integration_test.rs:221-288); the next layer a
tick/metrics store's users reach for is inferential and structural
statistics over the same streams: trend fits (is this metric drifting?),
autocorrelation (is it self-similar / seasonal?), state-transition
structure (what follows what?), calendar seasonality profiles, two-sample
tests (did the experiment move the metric?), and digit-distribution
audits (is this data fabricated?). All follow the registry's
determinism conventions:

- moments are assembled from fixed-point BIGINT sums (dsum: exact,
  associative, order-insensitive) and combined with an IEEE op sequence
  written identically in both engines — never built-in var/corr, whose
  accumulation order differs per engine;
- log() is banned (not correctly rounded, engines disagree in the last
  ulp): the Benford expectation enters as nine PINNED double literals,
  and correlation/t statistics use only +,-,*,/ and SQRT (correctly
  rounded IEEE everywhere);
- the total tick order is ``ord = ts_us*1000 + event_id % 1000``
  (totality pinned by tests/test_ord_uniqueness.py);
- calendar buckets are pure integer arithmetic on epoch-µs
  (1970-01-01 was a Thursday => dow = (day + 4) % 7), no timezone
  functions.

Every query is one or two shuffles with map-side partials,
embarrassingly parallel across its group key; windows only ever run
over post-aggregation tables bounded by key cardinality (168 calendar
cells, 25 transition pairs, per-user bar counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.queries.helpers import (
    _scaled_long,
    dsum,
    events_us,
    sql_dsum,
)
from open_rust_timeseries_db_spark.queries.registry import query
from open_rust_timeseries_db_spark.sources.catalog import load_table
from open_rust_timeseries_db_spark.sources.layout import DAY_US, HOUR_US

# 2024-01-01 00:00:00 UTC in epoch-µs: the pinned x-axis origin for the
# trend fit (any fixed literal works; this one keeps |x| small so the
# fixed-point x·y products stay far inside the dsum per-row bound).
_X0_US = 1_704_067_200_000_000

_ORD_SQL = "epoch_us(ts) * 1000 + event_id % 1000"


@query(
    "q_ols_trend",
    f"""
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) - {_X0_US} AS DOUBLE) / 3600000000.0 AS x,
             value AS y
      FROM events
    ), s AS (
      SELECT user_id,
             COUNT(*) AS n,
             {sql_dsum("x")} AS sx,
             {sql_dsum("y")} AS sy,
             {sql_dsum("x * x")} AS sxx,
             {sql_dsum("x * y")} AS sxy,
             {sql_dsum("y * y")} AS syy
      FROM e GROUP BY user_id
    )
    SELECT user_id, n,
           (sxy / n - (sx / n) * (sy / n))
             / (sxx / n - (sx / n) * (sx / n)) AS slope_per_hour,
           sy / n - (sxy / n - (sx / n) * (sy / n))
             / (sxx / n - (sx / n) * (sx / n)) * (sx / n) AS intercept,
           (sxy / n - (sx / n) * (sy / n)) * (sxy / n - (sx / n) * (sy / n))
             / ((sxx / n - (sx / n) * (sx / n))
                * (syy / n - (sy / n) * (sy / n))) AS r2
    FROM s
    WHERE n >= 2 AND sxx / n - (sx / n) * (sx / n) > 0
      AND syy / n - (sy / n) * (sy / n) > 0
    """,
    doc="Per-symbol OLS trend fit of value against time (slope per "
    "hour, intercept at the pinned 2024-01-01 origin, R²) — 'is this "
    "metric drifting and how fast', the first inferential question "
    "over any metric stream. Closed-form normal equations from ONE "
    "scan and five fixed-point sums (Σx, Σy, Σx², Σxy, Σy²) — exact, "
    "associative, map-side-combined, one shuffle, embarrassingly "
    "parallel across symbols; the x axis is hours since a fixed "
    "literal so per-row x·y stays ~1e5 and the per-group micro-unit "
    "sum holds to ~1e11 rows/symbol (past that: fx_resum two-phase, "
    "see helpers.dsum). R² = cov²/(varx·vary) — the sqrt-free form. "
    "Degenerate groups (constant x or y) are excluded by exact "
    "variance predicates.",
    tags=("stats", "regression", "agg"),
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir)
    e = ev.select(
        "user_id",
        (
            (F.col("ts_us") - F.lit(_X0_US)).cast("double")
            / F.lit(3600000000.0)
        ).alias("x"),
        F.col("value").alias("y"),
    )
    s = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    covar = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    var_x = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    var_y = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    slope = covar / var_x
    return s.filter((n >= 2) & (var_x > 0) & (var_y > 0)).select(
        "user_id",
        "n",
        slope.alias("slope_per_hour"),
        (F.col("sy") / n - slope * (F.col("sx") / n)).alias("intercept"),
        (covar * covar / (var_x * var_y)).alias("r2"),
    )


_ACF_LAGS = 5


@query(
    "q_acf",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {HOUR_US} AS bucket_hour,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vfx
      FROM events
    ), bars AS (
      SELECT user_id, bucket_hour,
             CAST(CAST(SUM(vfx) AS BIGINT) AS DOUBLE) / 1000000.0
               / COUNT(*) AS v
      FROM e GROUP BY 1, 2
    ), lagged AS (
      SELECT user_id, v,
             {", ".join(
                 f"LAG(v, {k}) OVER (PARTITION BY user_id "
                 f"ORDER BY bucket_hour) AS l{k}"
                 for k in range(1, _ACF_LAGS + 1)
             )}
      FROM bars
    ), pairs AS (
      {" UNION ALL ".join(
          f"SELECT user_id, CAST({k} AS BIGINT) AS lag_k, v AS x, l{k} AS y "
          f"FROM lagged WHERE l{k} IS NOT NULL"
          for k in range(1, _ACF_LAGS + 1)
      )}
    ), s AS (
      SELECT user_id, lag_k,
             COUNT(*) AS n_pairs,
             {sql_dsum("x")} AS sx,
             {sql_dsum("y")} AS sy,
             {sql_dsum("x * x")} AS sxx,
             {sql_dsum("x * y")} AS sxy,
             {sql_dsum("y * y")} AS syy
      FROM pairs GROUP BY 1, 2
    )
    SELECT user_id, lag_k, n_pairs,
           (sxy / n_pairs - (sx / n_pairs) * (sy / n_pairs))
             / SQRT((sxx / n_pairs - (sx / n_pairs) * (sx / n_pairs))
                    * (syy / n_pairs - (sy / n_pairs) * (sy / n_pairs)))
             AS acf
    FROM s
    WHERE n_pairs >= 2
      AND sxx / n_pairs - (sx / n_pairs) * (sx / n_pairs) > 0
      AND syy / n_pairs - (sy / n_pairs) * (sy / n_pairs) > 0
    """,
    doc="Autocorrelation function per symbol at bar lags 1..5 over the "
    "HOURLY-mean bar series — the self-similarity / seasonality probe "
    "(an hourly-periodic metric shows acf peaking at its period). "
    "Ticks collapse to one mean bar per (symbol, hour) first — the "
    "indicator-over-continuous-aggregate shape — so every window is "
    "bounded by symbol × hours, never tick volume; lag is a ROW lag "
    "over observed bars (the standard form for regularly-sampled "
    "series; empty hours simply don't produce bars). All five lag "
    "columns share ONE window sort, the pair table is a 5-arm stack "
    "(linear fan-out, no self-join), and each (symbol, lag) cell "
    "reduces to the same five fixed-point moment sums as q_ols_trend "
    "— Pearson form with the identical IEEE sequence both engines. "
    "Shape: two hash-agg shuffles + one bounded window sort.",
    tags=("stats", "timeseries", "window"),
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir)
    bars = (
        ev.select(
            "user_id",
            F.expr(f"ts_us div {HOUR_US}").alias("bucket_hour"),
            _scaled_long(F.col("value")).alias("vfx"),
        )
        .groupBy("user_id", "bucket_hour")
        .agg(
            (
                F.sum("vfx").cast("bigint").cast("double")
                / F.lit(1_000_000.0)
                / F.count(F.lit(1))
            ).alias("v")
        )
    )
    w = Window.partitionBy("user_id").orderBy("bucket_hour")
    lagged = bars.select(
        "user_id",
        "v",
        *[F.lag("v", k).over(w).alias(f"l{k}") for k in range(1, _ACF_LAGS + 1)],
    )
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), l{k}" for k in range(1, _ACF_LAGS + 1)
    )
    pairs = lagged.selectExpr(
        "user_id", "v AS x", f"stack({_ACF_LAGS}, {stack_args}) AS (lag_k, y)"
    ).filter(F.col("y").isNotNull())
    s = pairs.groupBy("user_id", "lag_k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_pairs")
    covar = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    var_x = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    var_y = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    return s.filter((n >= 2) & (var_x > 0) & (var_y > 0)).select(
        "user_id",
        "lag_k",
        "n_pairs",
        (covar / F.sqrt(var_x * var_y)).alias("acf"),
    )


@query(
    "q_markov_transitions",
    f"""
    WITH e AS (
      SELECT user_id, event_type, {_ORD_SQL} AS ord FROM events
    ), t AS (
      SELECT user_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ord)
               AS prev_type,
             event_type AS next_type
      FROM e
    ), c AS (
      SELECT prev_type, next_type, COUNT(*) AS n
      FROM t WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)
             AS prob
    FROM c
    """,
    doc="First-order Markov transition matrix over each user's event "
    "stream: for every (prev event_type -> next event_type) pair, the "
    "transition count and row-normalized probability — the behavioral "
    "structure question ('what follows a click?') and the generative "
    "model behind session simulation. Adjacency comes from ONE lag "
    "over the total tick order per user (one window sort, "
    "embarrassingly parallel across users); the count table is at "
    "most |event_type|² = 25 rows, so the normalizing window is "
    "driver-trivial at any scale. Counts stay exact BIGINT; the one "
    "float op is the final cast-divide, identical both engines.",
    tags=("stats", "window", "agg"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id",
        "event_type",
        (F.col("ts_us") * 1000 + F.col("event_id") % 1000).alias("ord"),
    )
    w = Window.partitionBy("user_id").orderBy("ord")
    t = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    )
    c = (
        t.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_prev = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(w_prev).cast("double")
        ).alias("prob"),
    )


@query(
    "q_hourofweek_profile",
    f"""
    WITH e AS (
      SELECT ((epoch_us(ts) // {DAY_US}) + 4) % 7 AS dow,
             (epoch_us(ts) % {DAY_US}) // {HOUR_US} AS hour_of_day,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vfx
      FROM events
    ), cells AS (
      SELECT dow, hour_of_day, COUNT(*) AS n_events,
             CAST(SUM(vfx) AS BIGINT) AS sfx
      FROM e GROUP BY 1, 2
    )
    SELECT dow, hour_of_day, n_events,
           CAST(sfx AS DOUBLE) / 1000000.0 / n_events AS mean_value,
           (CAST(n_events AS DOUBLE)
              / CAST(SUM(n_events) OVER () AS BIGINT))
             * CAST(SUM(1) OVER () AS BIGINT) AS activity_index
    FROM cells
    """,
    doc="Hour-of-week seasonality profile: event count, mean value, "
    "and activity index (cell share of events × number of observed "
    "cells — 1.0 = a perfectly flat week) for each of the ≤168 "
    "(day-of-week, hour) cells. Calendar buckets are PURE INTEGER "
    "arithmetic on epoch-µs (epoch day 0 was a Thursday => dow = "
    "(day+4) % 7) — no timezone functions, no locale, identical in "
    "every engine. One map-side-combined hash agg over the raw "
    "stream; the normalizing windows run over the 168-row cell table. "
    "The index's exact-integer operands (cell count, total count, "
    "cell count) make it bit-stable cross-engine.",
    tags=("stats", "seasonality", "agg"),
)
def q_hourofweek_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir)
    cells = (
        ev.select(
            (
                (F.expr(f"ts_us div {DAY_US}") + F.lit(4)) % F.lit(7)
            ).alias("dow"),
            F.expr(f"(ts_us % {DAY_US}) div {HOUR_US}").alias(
                "hour_of_day"
            ),
            _scaled_long(F.col("value")).alias("vfx"),
        )
        .groupBy("dow", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vfx").cast("bigint").alias("sfx"),
        )
    )
    w_all = Window.partitionBy()
    return cells.select(
        "dow",
        "hour_of_day",
        "n_events",
        (
            F.col("sfx").cast("double") / F.lit(1_000_000.0)
            / F.col("n_events")
        ).alias("mean_value"),
        (
            (
                F.col("n_events").cast("double")
                / F.sum("n_events").over(w_all).cast("bigint")
            )
            * F.sum(F.lit(1)).over(w_all).cast("bigint")
        ).alias("activity_index"),
    )


@query(
    "q_welch_ttest",
    f"""
    WITH s AS (
      SELECT user_id,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS na,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS nb,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) END)
                  AS BIGINT) AS sxa,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * value * 1000000 + 0.5) AS BIGINT)
                  END) AS BIGINT) AS sxxa,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) END)
                  AS BIGINT) AS sxb,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(FLOOR(value * value * 1000000 + 0.5) AS BIGINT)
                  END) AS BIGINT) AS sxxb
      FROM events
      WHERE event_type IN ('purchase', 'click')
      GROUP BY user_id
    ), m AS (
      SELECT user_id, na, nb,
             CAST(sxa AS DOUBLE) / 1000000.0 / na AS ma,
             CAST(sxb AS DOUBLE) / 1000000.0 / nb AS mb,
             (CAST(sxxa AS DOUBLE) / 1000000.0 / na
                - (CAST(sxa AS DOUBLE) / 1000000.0 / na)
                  * (CAST(sxa AS DOUBLE) / 1000000.0 / na)) * na / (na - 1)
               AS va,
             (CAST(sxxb AS DOUBLE) / 1000000.0 / nb
                - (CAST(sxb AS DOUBLE) / 1000000.0 / nb)
                  * (CAST(sxb AS DOUBLE) / 1000000.0 / nb)) * nb / (nb - 1)
               AS vb
      FROM s WHERE na >= 2 AND nb >= 2
    )
    SELECT user_id, na, nb, ma AS mean_purchase, mb AS mean_click,
           (ma - mb) / SQRT(va / na + vb / nb) AS t_stat,
           (va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)) AS dof
    FROM m WHERE va / na + vb / nb > 0
    """,
    doc="Welch's unequal-variance t-test per user between purchase and "
    "click values — the A/B-experiment staple ('did the treatment "
    "move the metric?') in its robust form (no pooled-variance "
    "assumption), with the Welch–Satterthwaite degrees of freedom. "
    "ONE conditional-aggregate pass produces both groups' counts and "
    "fixed-point Σx/Σx² (map-side combined, single shuffle, no "
    "self-join or pivot); means, sample variances, t, and dof are "
    "then closed-form with the identical IEEE sequence in both "
    "engines (sqrt is correctly rounded everywhere; no log, no "
    "built-in variance). Groups need n ≥ 2 on both sides and a "
    "positive pooled standard error — exact predicates.",
    tags=("stats", "ab-test", "agg"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "click")
    )
    is_a = F.col("event_type") == "purchase"
    is_b = F.col("event_type") == "click"
    v = F.col("value")
    s = ev.groupBy("user_id").agg(
        F.count(F.when(is_a, 1)).alias("na"),
        F.count(F.when(is_b, 1)).alias("nb"),
        F.sum(F.when(is_a, _scaled_long(v))).cast("bigint").alias("sxa"),
        F.sum(F.when(is_a, _scaled_long(v * v))).cast("bigint").alias("sxxa"),
        F.sum(F.when(is_b, _scaled_long(v))).cast("bigint").alias("sxb"),
        F.sum(F.when(is_b, _scaled_long(v * v))).cast("bigint").alias("sxxb"),
    )
    na, nb = F.col("na"), F.col("nb")
    ma = F.col("sxa").cast("double") / F.lit(1_000_000.0) / na
    mb = F.col("sxb").cast("double") / F.lit(1_000_000.0) / nb
    # The (n-1) divisions live inside when(): Catalyst merges the
    # na/nb >= 2 filter with downstream predicates, and under ANSI a
    # hoisted common subexpression would hit DIVIDE_BY_ZERO on an n=1
    # group before the conjunct short-circuits (same hazard q_rsi hit;
    # when() branches are guaranteed lazy).
    va = F.when(
        na >= 2,
        (
            F.col("sxxa").cast("double") / F.lit(1_000_000.0) / na - ma * ma
        ) * na / (na - 1),
    )
    vb = F.when(
        nb >= 2,
        (
            F.col("sxxb").cast("double") / F.lit(1_000_000.0) / nb - mb * mb
        ) * nb / (nb - 1),
    )
    m = s.filter((na >= 2) & (nb >= 2)).select(
        "user_id", "na", "nb",
        ma.alias("ma"), mb.alias("mb"), va.alias("va"), vb.alias("vb"),
    )
    sea = F.col("va") / F.col("na")
    seb = F.col("vb") / F.col("nb")
    return m.filter(sea + seb > 0).select(
        "user_id",
        "na",
        "nb",
        F.col("ma").alias("mean_purchase"),
        F.col("mb").alias("mean_click"),
        ((F.col("ma") - F.col("mb")) / F.sqrt(sea + seb)).alias("t_stat"),
        (
            (sea + seb) * (sea + seb)
            / (
                sea * sea / (F.col("na") - 1)
                + seb * seb / (F.col("nb") - 1)
            )
        ).alias("dof"),
    )


# log10(1 + 1/d) for d = 1..9, pinned as double literals (repr-exact):
# the ONLY place Benford's law needs a logarithm, folded to constants so
# neither engine evaluates log() (whose last ulp is engine-dependent).
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

_BENFORD_CASE_SQL = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items())
    + " END"
)


@query(
    "q_benford_digits",
    f"""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), c AS (
      SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY digit
    ), t AS (
      SELECT digit, n_orders,
             CAST(SUM(n_orders) OVER () AS BIGINT) AS total,
             {_BENFORD_CASE_SQL} AS benford_p
      FROM c
    )
    SELECT digit, n_orders,
           CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           benford_p,
           CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) - benford_p
             AS excess,
           (CAST(n_orders AS DOUBLE) - CAST(total AS DOUBLE) * benford_p)
             * (CAST(n_orders AS DOUBLE) - CAST(total AS DOUBLE) * benford_p)
             / (CAST(total AS DOUBLE) * benford_p) AS chi2_term
    FROM t
    """,
    doc="Benford first-digit audit over order totals: observed share "
    "per leading digit vs the Benford expectation, the excess, and "
    "the per-digit χ² term (Σ of which is the fraud/fabrication test "
    "statistic) — the classic forensic data-quality staple. The digit "
    "is exact integer/string arithmetic (floor → BIGINT → first "
    "character), the Benford probabilities are nine PINNED double "
    "literals (log() never evaluated — module determinism note), and "
    "every derived column is arithmetic on exact integer counts with "
    "the identical IEEE sequence both engines. One map-side-combined "
    "hash agg to ≤9 rows; the normalizing window is over those 9.",
    tags=("stats", "quality", "agg"),
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    w_all = Window.partitionBy()
    benford_p = F.element_at(
        F.create_map(
            *[
                x
                for dd, p in _BENFORD_P.items()
                for x in (F.lit(dd).cast("bigint"), F.lit(float(p)))
            ]
        ),
        F.col("digit"),
    )
    t = c.select(
        "digit",
        "n_orders",
        F.sum("n_orders").over(w_all).cast("bigint").alias("total"),
        benford_p.alias("benford_p"),
    )
    nd = F.col("n_orders").cast("double")
    td = F.col("total").cast("double")
    return t.select(
        "digit",
        "n_orders",
        (nd / td).alias("share"),
        "benford_p",
        (nd / td - F.col("benford_p")).alias("excess"),
        (
            (nd - td * F.col("benford_p"))
            * (nd - td * F.col("benford_p"))
            / (td * F.col("benford_p"))
        ).alias("chi2_term"),
    )
