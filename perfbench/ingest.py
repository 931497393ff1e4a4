"""Open-loop tick ingest: generator thread -> file source -> OHLC -> sink.

The generator is a Python thread that writes ``events``-schema parquet
files with pyarrow (not Spark) into a watched directory. Each row's
``ts`` is its creation stamp in epoch nanoseconds; the open loop stamps
rows on a fixed schedule, so a pipeline that falls behind shows as
latency instead of slowing the producer down. The other columns are
rows drawn, by the seed, from the fixture ``events`` table, so keys and
values follow the table the engine's queries are verified on.

The pipeline is the engine's own: a file source built from
``TABLES["events"]`` the way ``streaming.sources.events_file_stream``
builds one, ``streaming.pipelines.windowed_ohlc`` (per user, 1-minute
windows), update output mode, and ``streaming.run.write_batch_idempotent``
as the per-batch sink (``foreach_batch_parquet`` starts its query in the
default append mode, which holds every window until the watermark
passes it). The query runs on a fixed processing-time trigger, so each
open-loop batch covers the same span of input however long the batch
before it took.

Phase 1 writes a fixed backlog, starts the query and times the drain.
Phase 2 runs the generator at :data:`RATE` rows/s for ``--seconds`` and
records, per event, the sink commit time minus the creation stamp.
The check recomputes every bar with pandas from the generated files.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from pathlib import Path
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import DATA_DIR, median

# The reference demo's 2 producers x 20k msgs/s.
RATE = 40_000
TICK_S = 0.1
TRIGGER_S = 1
TRIGGER = f"{TRIGGER_S} second"
BACKLOG_ROWS = 400_000
BACKLOG_FILES = 20
# Timed backlog probes in the query workloads.
PROBE_RUNS = 3
WINDOW_US = 60_000_000


class TickGenerator:
    """Writes tick files atomically (hidden temp name, then rename)."""

    def __init__(self, watch_dir: Path, seed: int | list[int]) -> None:
        self.dir = watch_dir
        self.dir.mkdir(parents=True, exist_ok=True)
        self.rng = np.random.default_rng(seed)
        self.source = pq.read_table(DATA_DIR / "events.parquet").drop(["event_id", "ts"])
        self.next_id = 0
        self.files: list[tuple[str, np.ndarray, int]] = []  # (path, stamps, written ns)
        self._thread: threading.Thread | None = None
        self.behind_s = 0.0

    def write(self, stamps_ns: np.ndarray) -> None:
        n = len(stamps_ns)
        rows = self.source.take(self.rng.integers(0, self.source.num_rows, n))
        table = pa.Table.from_arrays(
            [
                pa.array(np.arange(self.next_id, self.next_id + n), pa.int64()),
                pa.array(stamps_ns.astype(np.int64), pa.int64()),
                *rows.columns,
            ],
            names=["event_id", "ts", *rows.column_names],
        )
        name = f"ticks-{len(self.files):06d}.parquet"
        tmp = self.dir / f".{name}.tmp"
        pq.write_table(table, tmp)
        os.rename(tmp, self.dir / name)
        self.files.append((str(self.dir / name), stamps_ns, time.time_ns()))
        self.next_id += n

    def backlog(self, rows: int, files: int) -> None:
        """Rows stamped 1 µs apart, ending at the moment of each write."""
        per = rows // files
        for _ in range(files):
            now = time.time_ns()
            self.write(now - (per - np.arange(per)) * 1_000)

    def start_open_loop(self, rate: int, seconds: float) -> None:
        self._thread = threading.Thread(
            target=self._loop, args=(rate, seconds), name="tick-generator", daemon=True
        )
        self._thread.start()

    def _loop(self, rate: int, seconds: float) -> None:
        per_tick = int(rate * TICK_S)
        t0 = time.time_ns()
        step_ns = 1e9 / rate
        for k in range(int(round(seconds / TICK_S))):
            due = t0 + int((k + 1) * TICK_S * 1e9)
            wait = (due - time.time_ns()) / 1e9
            if wait > 0:
                time.sleep(wait)
            else:
                self.behind_s = max(self.behind_s, -wait)
            idx = k * per_tick + np.arange(per_tick)
            self.write(t0 + (idx * step_ns).astype(np.int64))

    def join(self, every_half_second=lambda: None) -> None:
        """Wait for the open loop to end, calling ``every_half_second``."""
        while self._thread is not None and self._thread.is_alive():
            self._thread.join(0.5)
            every_half_second()


class Pipeline:
    """The engine's OHLC pipeline over the watched directory."""

    def __init__(self, spark, work: Path, tracer) -> None:
        from pyspark.sql import functions as F

        from open_rust_timeseries_db_spark.sources.catalog import TABLES
        from open_rust_timeseries_db_spark.streaming import pipelines
        from open_rust_timeseries_db_spark.streaming import run as stream_run

        self.watch = work / "ticks"
        self.out = work / "bars"
        self.ckpt = work / "ckpt"
        self.commit_ns: dict[int, int] = {}
        self.progress: dict[int, dict] = {}
        self.tracer = tracer
        stream = spark.readStream.schema(TABLES["events"]).parquet(str(self.watch))
        stream = stream.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
            "ts_ts", F.timestamp_micros(F.col("ts_us"))
        )
        self.bars = pipelines.windowed_ohlc(stream)
        self._write = stream_run.write_batch_idempotent

    def _sink(self, batch_df, batch_id: int) -> None:
        with self.tracer.span("streaming", f"sink:{batch_id}"):
            t0 = time.perf_counter()
            self._write(batch_df, batch_id, str(self.out))
            self.tracer.add("streaming.sink_write_ms", (time.perf_counter() - t0) * 1e3)
        self.commit_ns[batch_id] = time.time_ns()

    def start(self):
        self.query = (
            self.bars.writeStream.outputMode("update")
            .trigger(processingTime=TRIGGER)
            .foreachBatch(self._sink)
            .option("checkpointLocation", str(self.ckpt))
            .start()
        )
        return self.query

    def poll(self) -> None:
        for p in self.query.recentProgress:
            rec = json.loads(p.json) if hasattr(p, "json") else dict(p)
            self.progress[rec["batchId"]] = rec

    def drain(self) -> None:
        self.query.processAllAvailable()
        self.poll()

    def stop(self) -> None:
        self.poll()
        self.query.stop()

    def file_batches(self) -> dict[str, int]:
        """File path -> id of the batch that read it.

        The source log keys each file by the file source's own offset,
        which a no-data batch does not advance, so offsets are mapped to
        batch ids through the offset range in each progress record."""
        batch_of_offset: dict[int, int] = {}
        for batch, rec in self.progress.items():
            src = rec["sources"][0]
            start = (src["startOffset"] or {"logOffset": -1})["logOffset"]
            for offset in range(start + 1, src["endOffset"]["logOffset"] + 1):
                batch_of_offset[offset] = batch
        out: dict[str, int] = {}
        for path in glob.glob(str(self.ckpt / "sources" / "0" / "*")):
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        entry = json.loads(line)
                        out[urlparse(entry["path"]).path] = batch_of_offset[entry["batchId"]]
        return out


def event_latencies_ms(gen: TickGenerator, pipe: Pipeline, files: range) -> np.ndarray:
    batch_of = pipe.file_batches()
    parts = []
    for path, stamps, _ in (gen.files[i] for i in files):
        committed = pipe.commit_ns[batch_of[path]]
        parts.append((committed - stamps) / 1e6)
    return np.concatenate(parts)


def input_lag_files(gen: TickGenerator, pipe: Pipeline, batches: list[int]) -> list[int]:
    """Files written but not yet read, at each batch's commit."""
    batch_of = pipe.file_batches()
    read_by = sorted(batch_of.values())
    written = sorted(w for _, _, w in gen.files)
    lags = []
    for b in batches:
        t = pipe.commit_ns[b]
        n_written = int(np.searchsorted(written, t, side="right"))
        n_read = int(np.searchsorted(read_by, b, side="right"))
        lags.append(max(0, n_written - n_read))
    return lags


def expected_bars(watch_dir: Path):
    """OHLC bars recomputed with pandas from the generated files."""
    import pandas as pd

    ev = pq.read_table(str(watch_dir)).to_pandas()
    ts_us = ev["ts"].to_numpy() // 1000
    ev["win_start_us"] = ts_us - ts_us % WINDOW_US
    ev["_ord"] = ts_us * 1000 + ev["event_id"].to_numpy() % 1000
    ev["_fx"] = np.floor(ev["value"].to_numpy() * 1_000_000 + 0.5).astype(np.int64)
    ev = ev.sort_values(["user_id", "win_start_us", "_ord"], kind="mergesort")
    g = ev.groupby(["user_id", "win_start_us"], sort=True)
    out = pd.DataFrame(
        {
            "open_v": g["value"].first(),
            "high_v": g["value"].max(),
            "low_v": g["value"].min(),
            "close_v": g["value"].last(),
            "n_ticks": g["value"].size().astype(np.int64),
            "volume": g["_fx"].sum().astype(np.float64) / 1_000_000.0,
        }
    )
    return out.reset_index()


def sink_bars(out_dir: Path):
    """Final bar per (user, window): the update from the latest batch."""
    import pyarrow.dataset as ds

    got = ds.dataset(str(out_dir), format="parquet", partitioning="hive").to_table().to_pandas()
    got = got.sort_values("batch_id", kind="mergesort")
    got = got.drop_duplicates(["user_id", "win_start_us"], keep="last")
    return got.drop(columns=["batch_id"]).reset_index(drop=True)


def compare_bars(got, want) -> tuple[int, int]:
    """(expected bars, bars missing or different or unexpected)."""
    key = ["user_id", "win_start_us"]
    cols = ["open_v", "high_v", "low_v", "close_v", "n_ticks", "volume"]
    m = want.merge(got, on=key, how="outer", suffixes=("_want", "_got"), indicator=True)
    bad = (m["_merge"] != "both").to_numpy()
    both = ~bad
    for c in cols:
        w = m[f"{c}_want"].to_numpy()
        g = m[f"{c}_got"].to_numpy()
        bad[both] |= w[both].astype(np.float64) != g[both].astype(np.float64)
    return len(want), int(bad.sum())


def latency_summary(lat_ms: np.ndarray) -> dict:
    return {
        "events": int(lat_ms.size),
        "p50_ms": float(np.percentile(lat_ms, 50)),
        "p99_ms": float(np.percentile(lat_ms, 99)),
        "events_above_p99": int((lat_ms > np.percentile(lat_ms, 99)).sum()),
    }


def drain_backlog(spark, work: Path, seed: int | list[int], tracer, rows: int,
                  files: int):
    """Phase 1: write the backlog, start the query, wait until drained.

    Returns (generator, pipeline, seconds from start to drained)."""
    gen = TickGenerator(work / "ticks", seed)
    gen.backlog(rows, files)
    pipe = Pipeline(spark, work, tracer)
    t0 = time.perf_counter()
    pipe.start()
    pipe.drain()
    return gen, pipe, time.perf_counter() - t0


def batch_ms(pipe: Pipeline, batch: int) -> float:
    """Trigger start (from the batch's progress record) to sink commit."""
    from datetime import datetime

    start = datetime.fromisoformat(pipe.progress[batch]["timestamp"].replace("Z", "+00:00"))
    return pipe.commit_ns[batch] / 1e6 - start.timestamp() * 1e3


def _check(pipe: Pipeline, ledger) -> None:
    """Every bar in the sink must equal the pandas recomputation."""
    expected, bad = compare_bars(sink_bars(pipe.out), expected_bars(pipe.watch))
    ledger.attempt(expected)
    if bad:
        ledger.fail("ingest", "bars", "missing from or different in the sink", bad)


def probe(spark, work: Path, seed: int, tracer, ledger, rows: int = 100_000,
          files: int = 10, runs: int = PROBE_RUNS) -> dict:
    """Phase 1 alone, for the query workloads' ingest metrics: a backlog
    drain whose per-event latency runs from each row's creation (just
    before the query starts) to its batch's sink commit.

    The drain is one or two micro-batches, so one probe gives one sample
    of each figure. It runs ``runs`` times, each with a new pipeline,
    after one untimed probe of a fifth of the rows that takes the JVM
    through the streaming code paths for the first time (a first drain
    is about 2.5x slower than the ones after it). The figures are
    medians over the timed probes; every probe's bars are checked."""
    timed = []
    for i in range(runs + 1):
        n_rows, n_files = (rows, files) if i else (rows // 5, max(1, files // 5))
        gen, pipe, drain_s = drain_backlog(
            spark, work / f"probe{i}", [seed, i], tracer, n_rows, n_files)
        pipe.stop()
        batches = sorted(pipe.progress)
        tracer.add_progress([pipe.progress[b] for b in batches])
        lat = event_latencies_ms(gen, pipe, range(len(gen.files)))
        _check(pipe, ledger)
        if i:
            timed.append((rows / drain_s, latency_summary(lat), len(batches)))
    lats = [t[1] for t in timed]
    return {
        "drain_rows_per_s": median([t[0] for t in timed]),
        "latency": {
            "events": sum(x["events"] for x in lats),
            "p50_ms": median([x["p50_ms"] for x in lats]),
            "p99_ms": median([x["p99_ms"] for x in lats]),
            "events_above_p99": sum(x["events_above_p99"] for x in lats),
        },
        "probes": runs,
        "batches": [t[2] for t in timed],
    }


def run(spark, work: Path, seed: int, seconds: float, tracer, ledger) -> dict:
    """The tick_ingest workload: phase 1 backlog drain, phase 2 open loop.

    Its only query is the pipeline: the cold pass is query start until
    the backlog is committed, and each full phase-2 micro-batch (one
    trigger's input) is one warm execution of the incremental plan."""
    gen, pipe, cold_s = drain_backlog(spark, work, seed, tracer, BACKLOG_ROWS, BACKLOG_FILES)
    backlog_batches = sorted(pipe.progress)
    n_backlog_files = len(gen.files)

    gen.start_open_loop(RATE, seconds)
    gen.join(pipe.poll)
    pipe.drain()
    pipe.stop()

    # Phase-2 batches that read input and reached the sink; the full
    # ones (at least 90% of one trigger's input) are the warm executions.
    batches = [b for b in sorted(pipe.progress)
               if b not in backlog_batches and b in pipe.commit_ns
               and pipe.progress[b]["numInputRows"] > 0]
    full = [b for b in batches if pipe.progress[b]["numInputRows"] >= 0.9 * RATE * TRIGGER_S]
    tracer.add_progress([pipe.progress[b] for b in sorted(pipe.progress)])
    durations_ms = [batch_ms(pipe, b) for b in full or batches]
    lat = event_latencies_ms(gen, pipe, range(n_backlog_files, len(gen.files)))
    lags = input_lag_files(gen, pipe, batches)
    if lags:
        tracer.peak("streaming.input_lag_files", max(lags))
    # Flat backlog: the last third of phase 2 lags no more files behind
    # than the first third plus one second of input.
    third = max(1, len(lags) // 3)
    flat = not lags or (
        np.mean(lags[-third:]) <= np.mean(lags[:third]) + 1 / TICK_S
    )
    ledger.attempt()
    if not flat:
        ledger.fail("ingest", "backlog", f"input lag grew: {lags[:third]} -> {lags[-third:]}")
    _check(pipe, ledger)
    return {
        "cold_s": cold_s,
        "drain_rows_per_s": BACKLOG_ROWS / cold_s,
        "latency": latency_summary(lat),
        "batch_ms": durations_ms,
        "detail": {
            "backlog_rows": BACKLOG_ROWS,
            "backlog_batches": len(backlog_batches),
            "open_loop_rows": RATE * seconds,
            "open_loop_batches": len(batches),
            "open_loop_full_batches": len(full),
            "open_loop_batch_ms": [round(x, 1) for x in durations_ms],
            "input_lag_files": {"first_third": lags[:third], "last_third": lags[-third:]},
            "generator_behind_s": round(gen.behind_s, 4),
        },
    }
