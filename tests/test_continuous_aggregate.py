"""Incremental refresh of the OHLC continuous aggregate must be exact.

The materialized hourly bars carry mergeable partials (open_ord /
close_ord, fixed-point volume), which is what licenses incremental
maintenance: ohlc_increment(bars(history), batch) must equal the full
rebuild over history+batch ROW FOR ROW — including the ord partials,
so a later increment on the incremented table stays exact too. Also
pins the incrementality itself: bars outside the batch's keys pass
through without re-aggregation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.queries.helpers import events_us
from open_rust_timeseries_db_spark.queries.timeseries import ohlc_increment
from open_rust_timeseries_db_spark.sources.layout import HOUR_US

SF_DIR = "/root/testdata/sf0.01"


def _full_build(ticks):
    k = ticks.select(
        "user_id",
        F.expr(f"ts_us div {HOUR_US}").alias("bucket_hour"),
        "value",
        (F.col("ts_us") * 1000 + F.col("event_id") % 1000).alias("ord"),
    )
    from open_rust_timeseries_db_spark.queries.helpers import dsum

    return k.groupBy("user_id", "bucket_hour").agg(
        (F.first("bucket_hour") * HOUR_US).alias("bucket_start_us"),
        F.min_by("value", "ord").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", "ord").alias("close_v"),
        F.min_by("ord", "ord").alias("open_ord"),
        F.max_by("ord", "ord").alias("close_ord"),
        F.count(F.lit(1)).alias("n_ticks"),
        dsum("value").alias("volume"),
    )


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_increment_equals_full_rebuild(spark):
    ev = events_us(spark, SF_DIR).select(
        "user_id", "ts_us", "value", "event_id"
    )
    cut = ev.approxQuantile("ts_us", [0.8], 0.0)[0]
    history = ev.filter(F.col("ts_us") <= cut)
    batch = ev.filter(F.col("ts_us") > cut)
    assert batch.count() > 0 and history.count() > 0
    incremental = ohlc_increment(_full_build(history), batch)
    full = _full_build(ev)
    assert _rows(incremental) == _rows(full)


def test_increment_is_chainable(spark):
    """A second increment on an incremented table stays exact — the
    partials survive the merge, so maintenance compounds."""
    ev = events_us(spark, SF_DIR).select(
        "user_id", "ts_us", "value", "event_id"
    )
    c1, c2 = ev.approxQuantile("ts_us", [0.6, 0.8], 0.0)
    bars = _full_build(ev.filter(F.col("ts_us") <= c1))
    bars = ohlc_increment(
        bars, ev.filter((F.col("ts_us") > c1) & (F.col("ts_us") <= c2))
    )
    bars = ohlc_increment(bars, ev.filter(F.col("ts_us") > c2))
    assert _rows(bars) == _rows(_full_build(ev))


def test_untouched_bars_pass_through_unaggregated(spark):
    """Incrementality contract: only bars whose (user_id, bucket_hour)
    appear in the batch re-enter aggregation; the rest pass through an
    anti join. Checked from the work itself: a batch touching ONE bar
    must produce a merged row set where every other bar is
    value-identical to the input object (same row, not a re-agg that
    happens to agree)."""
    ev = events_us(spark, SF_DIR).select(
        "user_id", "ts_us", "value", "event_id"
    )
    bars = _full_build(ev)
    one = ev.orderBy(F.desc("ts_us")).limit(1).collect()[0]
    batch = spark.createDataFrame(
        [
            (
                one["user_id"],
                one["ts_us"] + 1,
                123.45,
                one["event_id"] + 10_000_000,
            )
        ],
        "user_id bigint, ts_us bigint, value double, event_id bigint",
    )
    out = ohlc_increment(bars, batch)
    key = (one["user_id"], (one["ts_us"] + 1) // HOUR_US)
    before = {
        (r["user_id"], r["bucket_hour"]): r for r in bars.collect()
    }
    after = {(r["user_id"], r["bucket_hour"]): r for r in out.collect()}
    changed = [k for k in after if after[k] != before.get(k)]
    assert changed == [key], changed
    if key in before:
        assert after[key]["n_ticks"] == before[key]["n_ticks"] + 1


def test_increment_random_splits_match_full_rebuild(spark):
    """Randomized split sweep: ANY partition of the ticks into
    history+batch must merge back to the full rebuild — including
    splits that cut inside an hour bucket, the case where the merge
    must re-derive open/close across the boundary via the ord
    partials."""
    import random

    rng = random.Random(190816)
    ev = events_us(spark, SF_DIR).select(
        "user_id", "ts_us", "value", "event_id"
    )
    full_rows = _rows(_full_build(ev))
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    for _ in range(4):
        cut = rng.randint(lo, hi)
        history = ev.filter(F.col("ts_us") <= cut)
        batch = ev.filter(F.col("ts_us") > cut)
        if batch.isEmpty():
            continue
        got = _rows(ohlc_increment(_full_build(history), batch))
        assert got == full_rows, f"cut={cut}"
