"""The driver checks only the first 50 registry entries per round, so
the registry must order queries least-recently-checked first (derived
from committed CORRECTNESS_r*.json) — the self-rotating coverage window.
No Spark needed: ordering is a pure function of the registry + committed
correctness files.
"""

from __future__ import annotations

from open_rust_timeseries_db_spark.queries import all_queries
from open_rust_timeseries_db_spark.queries.registry import (
    REWRITE_ROUND,
    _last_checked_round,
)


def _effective_round(last: dict[str, int], n: str) -> int:
    if n not in last:
        return -2
    if last[n] < REWRITE_ROUND.get(n, 0):
        return -1  # rewritten since its last driver check
    return last[n]


def test_rotation_orders_least_recently_checked_first():
    last = _last_checked_round()
    names = list(all_queries())
    rounds = [_effective_round(last, n) for n in names]
    assert rounds == sorted(rounds), (
        "registry order must be non-decreasing in effective last-checked "
        f"round; got {list(zip(names, rounds))[:10]}..."
    )


def test_unchecked_rewrites_sit_inside_the_window():
    # A query rewritten after its last driver hash check must land in
    # the next round's 50-entry correctness window (until the check
    # happens, at which point the flag self-expires).
    last = _last_checked_round()
    names = list(all_queries())
    pending = [
        n for n, rnd in REWRITE_ROUND.items() if last.get(n, -1) < rnd
    ]
    for n in pending:
        assert names.index(n) < 50, f"{n} rewritten but outside the window"


def test_never_checked_queries_lead_the_window():
    last = _last_checked_round()
    names = list(all_queries())
    never = [n for n in names if n not in last]
    if never:
        # every never-checked query must sit inside the 50-entry window
        # (assuming fewer than 50 land in one round)
        assert all(names.index(n) < 50 for n in never[:50])


def test_plan_memo_skips_streaming_and_iterative_tags():
    """The prepared-plan memo must never wrap queries that do real work
    at build time: 'streaming' (the drain IS the query) and 'iterative'
    (driver-side loops) are tag-guarded even if the author forgets
    memo_plan=False (round-5 advice: q_dedup_clusters needed a manual
    opt-out despite carrying the tag)."""
    from open_rust_timeseries_db_spark.queries import all_queries

    qs = all_queries()
    for spec in qs.values():
        if {"streaming", "iterative"} & set(spec.tags):
            assert not hasattr(spec.fn, "__wrapped__"), (
                f"{spec.name}: memoized despite {spec.tags}"
            )


def test_plan_memo_is_bounded():
    """The per-query plans dict must not grow without bound across
    sf_dirs (round-5 advice): after touching >4 distinct sf_dir keys,
    only the most recent 4 are retained."""
    from open_rust_timeseries_db_spark.queries.registry import (
        REGISTRY,
        query,
    )

    calls = []

    try:
        @query("q_memo_bound_probe", oracle=None, tags=("test",))
        def probe(spark, sf_dir):
            calls.append(sf_dir)
            return object()  # stand-in; memo never inspects the value

        fn = REGISTRY["q_memo_bound_probe"].fn

        class _SC:
            applicationId = "app-memo-bound"

        class _Spark:
            sparkContext = _SC()

        s = _Spark()
        for i in range(6):
            fn(s, f"/tmp/sfdir{i}")
        assert len(calls) == 6
        # Oldest two evicted; re-requesting dir 0 rebuilds (miss), the
        # newest four hit the memo.
        fn(s, "/tmp/sfdir5")
        assert len(calls) == 6, "newest entry should hit the memo"
        fn(s, "/tmp/sfdir0")
        assert len(calls) == 7, "evicted entry should rebuild"
    finally:
        REGISTRY.pop("q_memo_bound_probe", None)
