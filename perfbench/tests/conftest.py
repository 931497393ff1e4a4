"""Shared fixtures for the benchmark's own tests.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import harness  # noqa: E402


@pytest.fixture(scope="session")
def tables() -> str:
    return str(harness.DATA_DIR)
