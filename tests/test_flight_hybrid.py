"""Hybrid backfill->realtime over the Flight wire: one do_get delivers
historical batches, then buffered realtime, then live rows — the
reference's subscription behavior (SubscriptionTest.java:124-145)
observed at the protocol level."""

from __future__ import annotations

import json
import threading

import pyarrow.flight as flight
import pytest

from web3_flight_rpc_server_spark.schemas import LOGS_SCHEMA
from web3_flight_rpc_server_spark.serving import EngineFlightServer


def _log_row(block, idx=0):
    return ("0xaaa", "0x", ["0xT1"], block, f"h{block}", 0, f"b{block}", idx, False)


def _write(spark, path, rows):
    spark.createDataFrame(rows, LOGS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.fixture()
def hybrid_server(spark, tmp_path):
    stream_dir = str(tmp_path / "rt")
    batch_logs = spark.createDataFrame(
        [_log_row(100), _log_row(101)], LOGS_SCHEMA
    )
    _write(spark, stream_dir, [_log_row(999)])  # buffered during backfill
    srv = EngineFlightServer(
        "grpc://0.0.0.0:0", spark, logs=batch_logs,
        stream_dir=stream_dir,
        checkpoint_root=str(tmp_path / "ckpt"),
        realtime_max_batches=2,
        realtime_poll_timeout_s=60.0,
    )
    yield srv, stream_dir
    srv.shutdown()


def test_hybrid_over_the_wire(spark, hybrid_server):
    srv, stream_dir = hybrid_server
    client = flight.FlightClient(f"grpc://localhost:{srv.port}")
    ticket = flight.Ticket(
        json.dumps({"dataset": "logs", "startBlock": 100}).encode()
    )

    seen: list[list[int]] = []
    done = threading.Event()

    def consume():
        reader = client.do_get(ticket)
        while True:
            try:
                chunk = reader.read_chunk()
            except StopIteration:
                break
            if chunk.data is None:
                break
            blocks = chunk.data.column("blockNumber").to_pylist()
            if blocks:
                seen.append(sorted(blocks))
                if len(seen) >= 2 and not done.is_set():
                    # after backfill + buffered 999: inject a live row
                    _write(spark, stream_dir, [_log_row(1000)])
                    done.set()
        done.set()

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    t.join(timeout=180)
    assert not t.is_alive(), "wire stream did not terminate"
    flat = [b for chunk in seen for b in chunk]
    # the reference's ordering: historical [100,101], buffered [999],
    # then live [1000]
    assert flat[:2] == [100, 101]
    assert flat[2] == 999
    assert flat[3] == 1000


def test_unbounded_without_stream_source_fails_fast(spark, tmp_path):
    srv = EngineFlightServer(
        "grpc://0.0.0.0:0", spark,
        logs=spark.createDataFrame([_log_row(1)], LOGS_SCHEMA),
    )
    try:
        client = flight.FlightClient(f"grpc://localhost:{srv.port}")
        with pytest.raises(Exception, match="realtime source|stream_dir"):
            client.do_get(
                flight.Ticket(json.dumps({"dataset": "logs"}).encode())
            ).read_all()
    finally:
        srv.shutdown()


def test_multi_wave_backfill_then_live_exactly_once(spark, tmp_path, waves,
                                                    monkeypatch):
    """A backfill too large for one wave (the budget is forced to one
    partition per wave) streams wave by wave, never collected on the
    driver in one piece, in block order, and the live rows still follow
    it exactly once."""
    from web3_flight_rpc_server_spark.serving import flight_server

    monkeypatch.setattr(flight_server, "_wave_budget", lambda sc: 0)
    parts = 3 * spark.sparkContext.defaultParallelism
    rows = spark.range(0, 600, numPartitions=parts).selectExpr(
        "'0xaaa' AS address", "'0x' AS data", "array('0xT1') AS topics",
        "100 + id DIV 2 AS blockNumber", "concat('h', id) AS transactionHash",
        "0 AS transactionIndex", "concat('b', id DIV 2) AS blockHash",
        "CAST(id % 2 AS INT) AS logIndex", "false AS removed",
    )
    # nullable like the live leg's rows, which share the stream's schema
    batch_logs = spark.createDataFrame(rows.rdd, LOGS_SCHEMA)
    stream_dir = str(tmp_path / "rt")
    _write(spark, stream_dir, [_log_row(999), _log_row(999, 1)])
    srv = EngineFlightServer(
        "grpc://0.0.0.0:0", spark, logs=batch_logs, stream_dir=stream_dir,
        checkpoint_root=str(tmp_path / "ckpt"), realtime_max_batches=1,
        realtime_poll_timeout_s=60.0,
    )
    try:
        client = flight.FlightClient(f"grpc://localhost:{srv.port}")
        got = client.do_get(flight.Ticket(
            json.dumps({"dataset": "logs", "startBlock": 150}).encode()
        )).read_all()
    finally:
        srv.shutdown()
    keys = list(zip(got.column("blockNumber").to_pylist(),
                    got.column("logIndex").to_pylist()))
    backfill = [(b, i) for b in range(150, 400) for i in (0, 1)]
    assert keys[:len(backfill)] == backfill
    assert sorted(keys[len(backfill):]) == [(999, 0), (999, 1)]
    assert len(waves) > 1
    assert [p for w in waves for p in w["parts"]] == list(range(parts))
