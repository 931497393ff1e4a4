"""Catalyst phases are counted once per plan, and for every distinct plan."""

from __future__ import annotations

import itertools
from types import SimpleNamespace

from tracing import Tracer

_IDS = itertools.count()


class _Some:
    def __init__(self, ms: float) -> None:
        self.ms = ms

    def isDefined(self) -> bool:
        return True

    def get(self):
        return SimpleNamespace(durationMs=lambda: self.ms)


def _jdf(ms: float):
    """A Java Dataset stand-in whose plan reports ``ms`` for every
    phase, with a fresh py4j object id like a newly built DataFrame's."""
    phases = {p: _Some(ms) for p in ("analysis", "optimization", "planning")}
    qe = SimpleNamespace(tracker=lambda: SimpleNamespace(phases=lambda: phases))
    return SimpleNamespace(_target_id=f"o{next(_IDS)}", queryExecution=lambda: qe)


def test_short_lived_plans_are_each_counted():
    tracer = Tracer(True)
    for jdf in [_jdf(5.0), _jdf(5.0)]:
        # Each wrapper is freed after its call, as a non-memoized
        # query's DataFrame is, so the second one gets the first's id().
        tracer.plan_phases(SimpleNamespace(_jdf=jdf))
    assert tracer.totals["catalyst.analysis_ms"] == 10.0
    assert tracer.totals["catalyst.planning_ms"] == 10.0


def test_a_memoized_plan_is_counted_once():
    tracer = Tracer(True)
    df = SimpleNamespace(_jdf=_jdf(5.0))
    tracer.plan_phases(df)
    tracer.plan_phases(df)
    assert tracer.totals["catalyst.optimization_ms"] == 5.0
