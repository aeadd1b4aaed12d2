from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from web3_flight_rpc_server_spark.session import get_spark

    spark = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def waves(monkeypatch):
    """Every Arrow wave job the Flight server starts: its partitions,
    the FAIR pool it was submitted under, the thread that ran it and
    the Arrow bytes it returned (counted as they are served)."""
    import threading

    from web3_flight_rpc_server_spark.serving import flight_server

    calls = []
    run_wave = flight_server._run_wave

    def record(sc, jrdd, parts):
        call = {"parts": list(parts),
                "pool": sc.getLocalProperty("spark.scheduler.pool"),
                "thread": threading.get_ident(), "bytes": 0}
        calls.append(call)
        frames = run_wave(sc, jrdd, parts)

        def counted():
            for frame in frames:
                call["bytes"] += len(frame)
                yield frame
        return counted()

    monkeypatch.setattr(flight_server, "_run_wave", record)
    return calls
