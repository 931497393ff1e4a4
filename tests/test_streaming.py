"""Streaming-layer tests for what the oracle can't check: the live
rate-source feed, watermarked dedup state eviction, and the durable
foreachBatch parquet sink.

(The windowed/VWAP/dedup/latency pipelines themselves ARE oracle-checked
— see queries/streaming_q.py — because availableNow over the file
source is a bounded, exactly-once drain.)
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.streaming.pipelines import stream_dedup
from open_rust_timeseries_db_spark.streaming.run import (
    foreach_batch_parquet,
    run_available_now_to_memory,
    write_batch_idempotent,
)
from open_rust_timeseries_db_spark.streaming.sources import (
    events_file_stream,
    market_data_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def test_market_data_stream_live(spark):
    """The rate-source demo feed produces schema-correct rows live."""
    stream = market_data_stream(spark, producers=2, rows_per_second=1000)
    assert set(stream.columns) == {
        "symbol_id", "price", "quantity", "ts", "exchange_id", "seq",
    }
    q = (
        stream.writeStream.format("memory")
        .queryName("mkt_live")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.table("mkt_live").count()
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0, "rate source produced no rows in 30s"
        row = spark.table("mkt_live").filter(F.col("seq") % 2 == 0).first()
        # Reference demo formulas (reference src/main.rs:43-56).
        assert row.symbol_id == 100 + row.exchange_id
        assert row.quantity == 100 + (row.seq // 2) % 100
    finally:
        q.stop()


def test_watermarked_dedup_bounded_state(spark):
    """dropDuplicatesWithinWatermark drains the bounded replay to the
    exact distinct key set (state evicted by event time as it goes)."""
    stream = events_file_stream(spark, SF_DIR)
    deduped = stream_dedup(
        stream, keys=["user_id"], ts_col="ts_ts", watermark="10 minutes"
    )
    got = run_available_now_to_memory(spark, deduped, mode="append")
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = batch.select("user_id").distinct().count()
    # Within-watermark dedup may re-emit a key seen again after its
    # state expired; on this replay order it must be >= exact-distinct
    # and <= total rows, and every distinct key must appear.
    n = got.count()
    assert want <= n <= batch.count()
    assert got.select("user_id").distinct().count() == want


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """Durable sink: full drain lands every source row exactly once."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = events_file_stream(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = foreach_batch_parquet(stream, out, ckpt)
    try:
        # availableNow isn't part of foreach_batch_parquet's contract
        # (live sink); for the test, wait until the bounded source is
        # fully committed.
        deadline = time.time() + 60
        src_n = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= src_n:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == src_n
    assert got.select("event_id").distinct().count() == src_n


@pytest.mark.parametrize("bad", ["not_a_column"])
def test_stream_dedup_rejects_unknown_key(spark, bad):
    stream = events_file_stream(spark, SF_DIR)
    with pytest.raises(Exception):
        stream_dedup(stream, keys=[bad]).explain()


def test_kafka_source_options_mapping():
    """The ring->topic option mapping is fixed: capacity-shaped intake
    bound, drop-oldest analog, explicit start position."""
    from open_rust_timeseries_db_spark.streaming.sources import (
        kafka_market_stream_options,
    )

    opts = kafka_market_stream_options("broker:9092", "ticks")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "ticks"
    # reference integration ring capacity (16,384/field) is the default
    # bounded-intake role of maxOffsetsPerTrigger
    assert opts["maxOffsetsPerTrigger"] == "16384"
    assert opts["failOnDataLoss"] == "false"
    custom = kafka_market_stream_options(
        "b:1", "t", max_offsets_per_trigger=8192, starting_offsets="earliest"
    )
    assert custom["maxOffsetsPerTrigger"] == "8192"
    assert custom["startingOffsets"] == "earliest"


def test_write_batch_idempotent_replay(spark, tmp_path):
    """foreachBatch is at-least-once: a crash replays the last batch id.
    The batch-id-keyed overwrite must make the replay a no-op instead of
    an append-duplicate."""
    out = str(tmp_path / "idem")
    batch = spark.range(100).withColumn("v", F.col("id") * 2)
    write_batch_idempotent(batch, 0, out)
    write_batch_idempotent(batch, 0, out)  # replay of the same batch id
    write_batch_idempotent(batch, 1, out)  # a genuinely new batch
    got = spark.read.parquet(out)
    assert got.count() == 200  # not 300: the replay overwrote, not appended
    assert got.filter(F.col("batch_id") == 0).count() == 100


def test_drain_timeout_raises_instead_of_returning_partial_rows(spark):
    """A drain that outlives its timeout must fail loud: the query is
    stopped and TimeoutError names it, instead of the partial memory-sink
    rows coming back as if they were the result."""
    # One aggregate row per micro-batch, and each emitted row sleeps 3 s
    # in the JVM: the drain cannot finish inside the 1 s timeout.
    slow = (
        events_file_stream(spark, SF_DIR)
        .groupBy()
        .count()
        .select(
            "count",
            F.expr("reflect('java.lang.Thread', 'sleep', CAST(3000 AS BIGINT))")
            .alias("slept"),
        )
    )
    before = {t.name for t in spark.catalog.listTables()}
    with pytest.raises(TimeoutError, match=r"mem_\w+ did not finish within 1 s"):
        run_available_now_to_memory(spark, slow, mode="complete", timeout_s=1)
    assert not [q for q in spark.streams.active if q.name.startswith("mem_")]
    assert {t.name for t in spark.catalog.listTables()} == before
