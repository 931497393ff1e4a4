"""The benchmark runs the engine as shipped, from any directory."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import harness

BENCH = harness.BENCH_DIR
DUMP = """
import json
sc = spark.sparkContext
confs = {k: v for k, v in sc.getConf().getAll()
          if k.startswith("spark.sql.") or k in ("spark.master", "spark.driver.memory",
                                                  "spark.driver.extraJavaOptions")}
for k in list(confs):
    confs[k] = spark.conf.get(k, confs[k])
print(json.dumps(confs))
spark.stop()
"""
# Redirected into the checkout so a run writes nowhere else; a path,
# not a behaviour.
PATH_CONFS = {"spark.sql.warehouse.dir"}


def _dump(prelude: str, env: dict, tmp_path: Path) -> dict:
    """Run ``prelude`` (which binds ``spark``) and return its confs."""
    out = subprocess.run(
        [sys.executable, "-c", prelude + DUMP],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_benchmark_session_confs_match_plain_get_spark(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT", "SPARK_LOCAL", "SPARK_DRIVER"))}
    env["PYTHONPATH"] = str(harness.ROOT)
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    bench = _dump(
        f"import sys, pathlib\n"
        f"sys.path.insert(0, {str(BENCH)!r})\n"
        f"import harness\n"
        f"harness.prepare_env(harness.nproc(), pathlib.Path({str(tmp_path / 'work')!r}))\n"
        f"spark = harness.start_session()[0]\n",
        env, tmp_path,
    )
    plain = _dump(
        "from open_rust_timeseries_db_spark.session import get_spark\n"
        "spark = get_spark()\n",
        dict(env, SPARK_GRAFT_CPUS=str(harness.nproc())), tmp_path,
    )
    assert bench["spark.master"] == plain["spark.master"]
    for k in PATH_CONFS:
        bench.pop(k, None)
        plain.pop(k, None)
    assert bench == plain


def _last_json(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def test_runs_from_another_directory(tmp_path):
    """corpus_prep runs pandas UDFs in Python workers, which must import
    the engine even when the run starts outside the checkout."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", "corpus_prep",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = _last_json(out.stdout)
    assert result["correct"] is True and result["failed"] == 0, out.stdout[-3000:]
    assert set(result["metrics"]) >= {"setup_s", "cold_pass_s", "peak_rss_mb"}


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    shutil.copy(harness.ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tick_query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert _last_json(out.stdout) is None
