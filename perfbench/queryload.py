"""Closed-loop query workloads: ``tick_query``, ``corpus_prep`` and the
query probe of ``tick_ingest``.

One client runs, in a fresh session: the workload's cache builds, a
cold pass (the first call of every timed query), untimed warm-up cycles,
then timed warm cycles until ``--seconds`` have passed and at least
:data:`MIN_WARM_SAMPLES` warm calls were made. The seed shuffles the
query order of every pass.

The warm-up is there because the JVM is still compiling the engine's
hot paths long after the cold pass: on a 4-core host a small query's
latency falls by a third over its first 20 s of repeated calls. Timing
those calls would measure how far the JIT got, which depends on how
fast the host ran, rather than the query. The warm-up is timed, not
counted, so that a slow stretch of the host cannot stretch a run past
the time the benchmark's runs must fit in.

A call is ``spec.fn(spark, sf_dir).toPandas()``: plan build, Catalyst,
execution and the result on the client, as the engine's driver contract
runs it. Results are checked after the timed region: the cold result
against the query's DuckDB oracle, and the last warm result against the
cold one, both with ``scripts/driver_sim.py``'s value hash.
"""

from __future__ import annotations

import math
import random
import time

from harness import DATA_DIR, Ledger, above, frame_digest, median, percentile
from mixes import (
    CORPUS_PREP_BUILDERS,
    CORPUS_PREP_TIMED,
    TICK_INGEST_PROBE,
    TICK_INGEST_PROBE_BUILDERS,
    TICK_QUERY_BUILDERS,
    TICK_QUERY_TIMED,
)

# At least 10 samples above p95 need at least 200 samples.
MIN_WARM_SAMPLES = 200
WARMUP_S = 12.0

WORKLOADS = {
    "tick_query": (TICK_QUERY_BUILDERS, TICK_QUERY_TIMED),
    "corpus_prep": (CORPUS_PREP_BUILDERS, CORPUS_PREP_TIMED),
    "tick_ingest": (TICK_INGEST_PROBE_BUILDERS, TICK_INGEST_PROBE),
}


def check_result(got: tuple, want: tuple) -> str | None:
    """``scripts/driver_sim.py``'s comparison of two :func:`frame_digest`
    results: row count, column set, value hash. Returns the mismatch, or
    None."""
    g_rows, g_cols, g_hash = got
    w_rows, w_cols, w_hash = want
    if g_rows != w_rows:
        return f"rows {g_rows} != {w_rows}"
    if g_cols != w_cols:
        return f"columns {list(g_cols)} != {list(w_cols)}"
    if g_hash != w_hash:
        return "value hash differs"
    return None


def _call(spark, spec, sf_dir: str, tracer, warm: bool):
    with tracer.span("queries", spec.name):
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
    tracer.plan_phases(df)
    if tracer.enabled and "streaming" in spec.tags:
        from open_rust_timeseries_db_spark.streaming.run import LAST_DRAIN_PROGRESS

        tracer.add_progress(LAST_DRAIN_PROGRESS)
    tracer.add("queries.build_warm_s" if warm else "queries.build_cold_s", t1 - t0)
    return t2 - t0, pdf


def run(workload: str, spark, queries, seed: int, seconds: float, tracer,
        ledger: Ledger, warmup_s: float = WARMUP_S) -> dict:
    from open_rust_timeseries_db_spark.queries.cache_builds import cache_builders

    builder_names, names = WORKLOADS[workload]
    sf_dir = str(DATA_DIR)
    rng = random.Random(seed)

    # Cache builds: the first part of the cold pass.
    builders = cache_builders(spark, sf_dir)
    build_s: dict[str, float] = {}
    for b in builder_names:
        ledger.attempt()
        with tracer.span("cache_builds", b):
            t0 = time.perf_counter()
            try:
                builders[b]()
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                ledger.fail("build", b, f"{type(exc).__name__}: {exc}")
            build_s[b] = time.perf_counter() - t0
        tracer.add(f"cache_builds.{b}_s", build_s[b])
        tracer.add("cache_builds.total_s", build_s[b])

    # Cold pass.
    cold_s: dict[str, float] = {}
    cold_digest: dict[str, tuple] = {}
    order = list(names)
    rng.shuffle(order)
    for name in order:
        ledger.attempt()
        try:
            cold_s[name], pdf = _call(spark, queries[name], sf_dir, tracer, warm=False)
        except Exception as exc:  # noqa: BLE001
            ledger.fail("cold", name, f"{type(exc).__name__}: {exc}")
            continue
        cold_digest[name] = frame_digest(pdf)

    # Warm-up, then the timed warm cycles.
    live = [n for n in names if n in cold_s]
    _cycles(spark, queries, live, sf_dir, rng, tracer, ledger, warmup_s, 1)
    min_cycles = math.ceil(MIN_WARM_SAMPLES / max(1, len(live)))
    samples, last_warm, cycles = _cycles(
        spark, queries, live, sf_dir, rng, tracer, ledger, seconds, min_cycles)

    # Checks, outside every timed region.
    check_against_oracles(queries, cold_digest, ledger)
    for name, pdf in last_warm.items():
        reason = check_result(frame_digest(pdf), cold_digest[name])
        if reason:
            ledger.fail("warm-check", name, f"warm result differs from cold: {reason}")

    warm_all = [s for v in samples.values() for s in v]
    p95 = percentile(warm_all, 0.95) if warm_all else 0.0
    return {
        "metrics": {
            "cold_pass_s": sum(build_s.values()) + sum(cold_s.values()),
            "warm_pass_s": sum(median(v) for v in samples.values() if v),
            "query_p50_ms": percentile(warm_all, 0.5) * 1e3 if warm_all else 0.0,
            "query_p95_ms": p95 * 1e3,
        },
        "detail": {
            "queries": len(names),
            "cycles": cycles,
            "warm_samples": len(warm_all),
            "warm_samples_above_p95": above(warm_all, p95),
            "build_s": {k: round(v, 4) for k, v in build_s.items()},
            "cold_s": {k: round(v, 4) for k, v in sorted(cold_s.items())},
            "warm_median_s": {
                k: round(median(v), 4) for k, v in sorted(samples.items()) if v
            },
        },
    }


def _cycles(spark, queries, live: list[str], sf_dir: str, rng, tracer,
            ledger: Ledger, seconds: float, min_cycles: int):
    """Warm cycles over ``live`` until ``seconds`` have passed and at
    least ``min_cycles`` ran. Returns (samples, last result, cycles)."""
    samples: dict[str, list[float]] = {n: [] for n in live}
    last: dict = {}
    deadline = time.perf_counter() + seconds
    cycles = 0
    while live and (cycles < min_cycles or time.perf_counter() < deadline):
        order = live[:]
        rng.shuffle(order)
        for name in order:
            ledger.attempt()
            try:
                dt, pdf = _call(spark, queries[name], sf_dir, tracer, warm=True)
            except Exception as exc:  # noqa: BLE001
                ledger.fail("warm", name, f"{type(exc).__name__}: {exc}")
                continue
            samples[name].append(dt)
            last[name] = pdf
        cycles += 1
    return samples, last, cycles


def check_against_oracles(queries, digests: dict[str, tuple], ledger: Ledger) -> None:
    import duckdb

    from open_rust_timeseries_db_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for table in TABLES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{DATA_DIR}/{table}.parquet'")
    for name, got in sorted(digests.items()):
        oracle = queries[name].oracle
        if oracle is None:
            continue
        try:
            want = con.sql(oracle).df()
        except Exception as exc:  # noqa: BLE001
            ledger.fail("oracle", name, f"oracle raised {type(exc).__name__}: {exc}")
            continue
        reason = check_result(got, frame_digest(want))
        if reason:
            ledger.fail("check", name, reason)
    con.close()
