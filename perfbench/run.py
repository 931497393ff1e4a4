"""Benchmark entry point.

    python3 perfbench/run.py --workload tick_query --seed 1 --seconds 10 --trace 0

Workloads: ``tick_query``, ``corpus_prep`` (closed-loop query mixes,
``queryload.py``) and ``tick_ingest`` (open-loop tick ingest,
``ingest.py``). ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of ``tracing.py`` and writes the full
trace to ``perfbench/.out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
from tracing import Tracer, layer_specs  # noqa: E402

WORKLOADS = ("tick_query", "corpus_prep", "tick_ingest")
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "ingest_drain_rows_per_s": "rows/s",
    "ingest_latency_p50_ms": "ms",
    "ingest_latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}
OUT_DIR = harness.BENCH_DIR / ".out"
# tick_ingest's query probe times 200 calls of one ~20 ms query. It
# warms up longer than the query workloads, because that query reaches
# its steady latency only after 15-45 s of repeated calls.
PROBE_WARMUP_S = 18.0


def run_workload(args, work: Path, tracer: Tracer, ledger: harness.Ledger) -> dict:
    import ingest
    import queryload

    cpus = harness.nproc() - 1 if args.workload == "tick_ingest" else harness.nproc()
    harness.prepare_env(max(1, cpus), work)
    spark, queries, setup_s = harness.start_session()
    tracer.attach(spark)
    tracer.add("session.start_s", setup_s)
    out: dict = {"host": harness.host_facts(spark, cpus, args.seed)}
    metrics = {"setup_s": setup_s}
    # Each workload reports the other kind's metrics from a short probe
    # run after its own work, in the same session.
    if args.workload == "tick_ingest":
        ing = ingest.run(spark, work / "ingest", args.seed, args.seconds, tracer, ledger)
        qry = queryload.run("tick_ingest", spark, queries, args.seed, 0, tracer, ledger,
                            warmup_s=PROBE_WARMUP_S)
        metrics.update(
            cold_pass_s=ing["cold_s"],
            warm_pass_s=statistics.fmean(ing["batch_ms"]) / 1e3,
        )
        out["detail"], out["query_probe"] = ing["detail"], qry["detail"]
    else:
        qry = queryload.run(args.workload, spark, queries, args.seed, args.seconds,
                            tracer, ledger)
        ing = ingest.probe(spark, work / "probe", args.seed, tracer, ledger)
        metrics.update(
            cold_pass_s=qry["metrics"]["cold_pass_s"],
            warm_pass_s=qry["metrics"]["warm_pass_s"],
        )
        out["detail"] = qry["detail"]
    metrics.update(
        query_p50_ms=qry["metrics"]["query_p50_ms"],
        query_p95_ms=qry["metrics"]["query_p95_ms"],
        ingest_drain_rows_per_s=ing["drain_rows_per_s"],
        ingest_latency_p50_ms=ing["latency"]["p50_ms"],
        ingest_latency_p99_ms=ing["latency"]["p99_ms"],
    )
    out["samples"] = {
        "query_p50_ms": qry["detail"]["warm_samples"],
        "query_p95_ms": qry["detail"]["warm_samples"],
        "query_above_p95": qry["detail"]["warm_samples_above_p95"],
        "ingest_latency_events": ing["latency"]["events"],
        "ingest_latency_above_p99": ing["latency"]["events_above_p99"],
    }
    spark.stop()
    out["metrics"] = metrics
    return out


def local1_baseline(work: Path, seed: int) -> float:
    """The phase-1 drain rate of a ``local[1]`` session in a fresh
    process: the single-threaded baseline for ``ingest_drain_rows_per_s``."""
    code = (
        "import json, pathlib, sys\n"
        f"sys.path.insert(0, {str(harness.BENCH_DIR)!r})\n"
        "import harness, ingest, tracing\n"
        f"work = pathlib.Path({str(work / 'local1')!r})\n"
        "harness.prepare_env(1, work)\n"
        "spark = harness.start_session()[0]\n"
        "_, pipe, s = ingest.drain_backlog(spark, work, "
        f"{seed}, tracing.Tracer(False), ingest.BACKLOG_ROWS, ingest.BACKLOG_FILES)\n"
        "pipe.stop()\n"
        "spark.stop()\n"
        "harness.stop_jvm()\n"
        "print(json.dumps(ingest.BACKLOG_ROWS / s))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=170, check=True)
    return float(out.stdout.strip().splitlines()[-1])


def tracing_overhead(workload: str, seed: int, seconds: float, traced: dict) -> dict:
    """Traced minus untraced, per end-to-end metric, against the untraced
    record of the same workload, seed and ``--seconds``."""
    path = OUT_DIR / f"{workload}-seed{seed}-trace0.json"
    untraced = json.loads(path.read_text()) if path.exists() else None
    if untraced is None or untraced["seconds"] != seconds:
        return {"untraced_result": None,
                "note": "no untraced run with this workload, seed and --seconds on record"}
    return {
        "untraced_result": path.name,
        "traced_minus_untraced": {k: traced[k] - untraced["metrics"][k] for k in END_TO_END},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        harness.require_engine()
    except harness.MissingEngine as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    work = harness.WORK_ROOT / f"run-{os.getpid()}"
    janitor = harness.ShmJanitor()
    tracer = Tracer(bool(args.trace))
    ledger = harness.Ledger()
    wall0 = time.perf_counter()
    try:
        with harness.RssSampler() as rss:
            out = run_workload(args, work, tracer, ledger)
            harness.stop_jvm()
        harness.wait_children()
        # Only after the sampler has stopped and the run's JVM has
        # exited, so the baseline's processes count in no metric.
        if args.trace and args.workload == "tick_ingest":
            out["local1_drain_rows_per_s"] = local1_baseline(work, args.seed)
    finally:
        janitor.clean()
        shutil.rmtree(work, ignore_errors=True)
        harness.wait_children()
    metrics = out.pop("metrics")
    metrics["peak_rss_mb"] = rss.peak / 2**20

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": time.perf_counter() - wall0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "failures": ledger.failures[:50],
        "metrics": metrics,
        **out,
    }
    if args.trace:
        layer = tracer.report()
        record["per_layer"] = {
            name: {"value": layer[name], "unit": unit, "moves": moves, "workloads": where}
            for name, (unit, moves, where) in layer_specs().items()
        }
        record["tracing_overhead"] = tracing_overhead(
            args.workload, args.seed, args.seconds, metrics)
        record["spans"] = tracer.spans
        reported = {n: {"value": v["value"], "unit": v["unit"]}
                    for n, v in record["per_layer"].items()}
    else:
        reported = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END.items()}
    OUT_DIR.mkdir(exist_ok=True)
    path = OUT_DIR / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(record, indent=1, default=str))

    print(f"perfbench: {args.workload} seed={args.seed} wall={record['wall_s']:.1f}s "
          f"host={json.dumps(record['host'])}")
    print(f"perfbench: samples {json.dumps(record['samples'])}")
    for name, unit in END_TO_END.items():
        print(f"perfbench: {name} = {metrics[name]:.6g} {unit}")
    if ledger.failures:
        print(f"perfbench: failures {json.dumps(ledger.failures[:10])}")
    print(f"perfbench: failed {ledger.failed}/{ledger.attempted} operations; "
          f"full record in {path.relative_to(harness.ROOT)}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": reported,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
