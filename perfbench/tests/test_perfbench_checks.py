"""A wrong result is counted as a failed operation, never a crash or a pass."""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd

import harness
import ingest
import queryload


def test_corrupted_oracle_result_counts_as_failure(tables):
    got = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    queries = {
        "q_right": SimpleNamespace(
            oracle="SELECT * FROM (VALUES (1, 0.5), (2, 1.5), (3, 2.5)) t(k, v)"
        ),
        # One value changed: same rows and columns, different hash.
        "q_corrupt": SimpleNamespace(
            oracle="SELECT * FROM (VALUES (1, 0.5), (2, 1.5), (3, 9.5)) t(k, v)"
        ),
        "q_short": SimpleNamespace(oracle="SELECT 1 AS k, 0.5 AS v"),
    }
    digests = {name: harness.frame_digest(got) for name in queries}
    ledger = harness.Ledger()
    queryload.check_against_oracles(queries, digests, ledger)
    failed = {f["name"]: f["reason"] for f in ledger.failures}
    assert set(failed) == {"q_corrupt", "q_short"}
    assert failed["q_corrupt"] == "value hash differs"
    assert failed["q_short"].startswith("rows 3 != 1")
    assert ledger.failed == 2


def _bars():
    return pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "win_start_us": [0, 60_000_000, 0],
            "open_v": [1.0, 2.0, 3.0],
            "high_v": [4.0, 5.0, 6.0],
            "low_v": [0.5, 1.5, 2.5],
            "close_v": [2.0, 3.0, 4.0],
            "n_ticks": [3, 4, 5],
            "volume": [7.0, 8.0, 9.0],
        }
    )


def test_corrupted_ingest_bars_count_as_failures():
    want = _bars()
    assert ingest.compare_bars(_bars(), want) == (3, 0)
    changed = _bars()
    changed.loc[1, "close_v"] = 3.25
    assert ingest.compare_bars(changed, want) == (3, 1)
    dropped = _bars().iloc[[0, 2]]
    assert ingest.compare_bars(dropped, want) == (3, 1)
    extra = pd.concat([_bars(), _bars().iloc[[0]].assign(user_id=9)])
    assert ingest.compare_bars(extra, want) == (3, 1)
