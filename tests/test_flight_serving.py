"""Wire-protocol parity tests: the reference notebook's client flow
(flight connect -> do_get(JSON ticket) -> read_all -> pandas) against
the engine's Flight server (notebook cells 5/16; Producer.java:38-69)."""

from __future__ import annotations

import json
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.flight as flight
import pytest
from pyspark.sql import functions as F

from web3_flight_rpc_server_spark.schemas import LOGS_SCHEMA
from web3_flight_rpc_server_spark.serving import EngineFlightServer, flight_server

BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"
POOL = "spark.scheduler.pool"

LOG_ROWS = [
    ("0xAAA", "0x", ["0xT1", "0xE1"], 10, "h1", 0, "b1", 0, False),
    ("0xbbb", "0x", ["0xT2"], 20, "h2", 1, "b2", 1, False),
    ("0xccc", "0x", [], 30, "h3", 2, "b3", 2, False),
    ("0xAAA", "0x", ["0xT3"], 40, "h4", 3, "b4", 3, True),
]


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    logs = spark.createDataFrame(LOG_ROWS, LOGS_SCHEMA)
    blocks = spark.createDataFrame([(n,) for n in range(5, 10)], "number long")
    srv = EngineFlightServer("grpc://0.0.0.0:0", spark, logs=logs,
                             blocks=blocks, sf_dir=sf_dir)
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    return flight.FlightClient(f"grpc://localhost:{server.port}")


def _get(client, ticket_obj):
    reader = client.do_get(flight.Ticket(json.dumps(ticket_obj).encode()))
    return reader.read_all().to_pandas()


def test_bounded_logs_ticket(client):
    # the notebook's flow: {"dataset":"logs","startBlock":..,"endBlock":..}
    df = _get(client, {"dataset": "logs", "startBlock": 10, "endBlock": 30})
    assert sorted(df["blockNumber"]) == [10, 20, 30]
    assert list(df.columns) == [f.name for f in LOGS_SCHEMA.fields]


def test_ticket_filters_apply(client):
    df = _get(
        client,
        {"dataset": "logs", "startBlock": 0, "endBlock": 100,
         "contractAddresses": ["0xaaa"]},
    )
    assert sorted(df["blockNumber"]) == [10, 40]  # case-insensitive match
    df2 = _get(
        client,
        {"dataset": "logs", "startBlock": 0, "endBlock": 100,
         "topics": ["0xT1"]},
    )
    # topic0 match + empty-topics escape hatch (LogSubscription quirk)
    assert sorted(df2["blockNumber"]) == [10, 30]


def test_blocks_ticket_and_degenerate_mode(client):
    df = _get(client, {"dataset": "blocks", "startBlock": 6, "endBlock": 8})
    assert sorted(df["number"]) == [6, 7, 8]
    # degenerate blocks mode: start := end (BlocksService.java:106)
    df2 = _get(client, {"dataset": "blocks", "endBlock": 7})
    assert sorted(df2["number"]) == [7]


def test_unbounded_ticket_fails_fast(client):
    # the engine's ValueError crosses gRPC as an ArrowInvalid whose
    # message preserves the reason
    with pytest.raises(Exception, match="unbounded"):
        _get(client, {"dataset": "logs", "startBlock": 5})


def test_declared_query_over_flight(client):
    df = _get(client, {"dataset": "query", "name": "q_value_counts"})
    assert set(df.columns) == {"event_type", "n", "n_high"}
    assert df["n"].sum() > 0


def test_get_flight_info_echoes_command(client):
    cmd = json.dumps({"dataset": "logs"}).encode()
    info = client.get_flight_info(flight.FlightDescriptor.for_command(cmd))
    # Producer.java:66-69: one endpoint, echoed ticket, unknown stats
    # (unbounded ticket -> no sharding)
    assert len(info.endpoints) == 1
    assert info.endpoints[0].ticket.ticket == cmd
    assert info.total_records == -1
    assert info.total_bytes == -1


def test_bounded_scan_shards_into_multiple_endpoints(client):
    """Large bounded scans are served through >1 endpoint, each a
    narrowed sub-range ticket, so no single do_get materializes the
    full result on the driver; the shard union equals the unsharded
    read and shard ranges are disjoint."""
    cmd = {"dataset": "logs", "startBlock": 0, "endBlock": 100,
           "shardBlocks": 30}
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
    )
    assert len(info.endpoints) == 4  # ceil(101/30)
    assert info.total_records == -1 and info.total_bytes == -1
    ranges = []
    frames = []
    for ep in info.endpoints:
        t = json.loads(ep.ticket.ticket)
        assert t["dataset"] == "logs" and "shardBlocks" not in t
        ranges.append((t["startBlock"], t["endBlock"]))
        frames.append(client.do_get(ep.ticket).read_all().to_pandas())
    # contiguous, disjoint, covering [0, 100]
    ranges.sort()
    assert ranges[0][0] == 0 and ranges[-1][1] == 100
    assert all(ranges[i][1] + 1 == ranges[i + 1][0] for i in range(3))
    import pandas as pd

    sharded = pd.concat(frames, ignore_index=True)
    full = _get(client, {"dataset": "logs", "startBlock": 0, "endBlock": 100})
    key = ["blockNumber", "logIndex"]
    assert (
        sharded.sort_values(key).reset_index(drop=True)[key].values.tolist()
        == full.sort_values(key).reset_index(drop=True)[key].values.tolist()
    )


def test_concurrent_tickets_share_the_scheduler(client, server, spark):
    """Parallel do_get requests are served concurrently and correctly:
    each handler thread tags its jobs with a private FAIR pool, so one
    client's scan doesn't head-of-line-block another's (the reference
    runs one virtual thread per subscription). Correctness under
    concurrency is the assertion; fairness itself is a scheduler
    property we only smoke here via the FAIR-mode conf."""
    from concurrent.futures import ThreadPoolExecutor

    tickets = [
        {"dataset": "logs", "startBlock": 10, "endBlock": 30},
        {"dataset": "logs", "startBlock": 20, "endBlock": 40},
        {"dataset": "blocks", "startBlock": 5, "endBlock": 9},
        {"dataset": "logs", "startBlock": 0, "endBlock": 100},
    ]
    with ThreadPoolExecutor(max_workers=len(tickets)) as pool:
        frames = list(pool.map(lambda t: _get(client, t), tickets))
    assert [len(f) for f in frames] == [3, 3, 5, 4]
    # the engine session opts into FAIR scheduling (pool tags are
    # inert under FIFO, so this documents the intended deployment)
    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FAIR"


def test_handler_pool_tags_are_set_and_bounded(client, server, spark):
    """Handler threads tag their jobs with a per-THREAD pool name: the
    tag is observed from inside the handler (local properties are
    per-thread, so checking from the pytest thread would be vacuous),
    and repeated requests must REUSE names — a per-request name (the
    old uuid scheme) leaks one scheduler pool per ticket forever,
    because Spark never removes on-demand pools from rootPool."""
    seen = []
    orig = EngineFlightServer._do_get

    def probe(self, context, ticket):
        seen.append(
            spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        )
        return orig(self, context, ticket)

    EngineFlightServer._do_get = probe
    try:
        for _ in range(12):
            _get(client, {"dataset": "blocks", "startBlock": 5, "endBlock": 9})
    finally:
        EngineFlightServer._do_get = orig
    assert len(seen) == 12
    assert all(s and s.startswith("flight-") for s in seen)
    # bounded: strictly fewer distinct pool names than requests proves
    # names are keyed by handler thread, not minted per request
    assert len(set(seen)) < 12


def test_large_query_result_streams_in_bounded_batches(client, server, spark,
                                                       sf_dir):
    """A scan-shaped query ticket must NOT be driver-materialized in one
    piece: it is served as multiple Arrow batches of at most
    spark.sql.execution.arrow.maxRecordsPerBatch rows. The batch size is
    shrunk so the fixture-scale q_scan_project (~hundreds of rows at
    sf0.001) spans many batches; content must match the direct query
    result exactly."""
    old = spark.conf.get(BATCH_ROWS)
    spark.conf.set(BATCH_ROWS, "64")
    try:
        reader = client.do_get(flight.Ticket(json.dumps(
            {"dataset": "query", "name": "q_scan_project"}
        ).encode()))
        batches = [chunk.data for chunk in reader]
    finally:
        spark.conf.set(BATCH_ROWS, old)
    assert len(batches) > 1
    assert all(b.num_rows <= 64 for b in batches)
    served = pa.Table.from_batches(batches).to_pandas()
    from web3_flight_rpc_server_spark.registry import all_queries

    direct = all_queries()["q_scan_project"].fn(spark, sf_dir).toPandas()
    assert len(served) == len(direct) > 64
    key = sorted(served.columns)
    assert (
        served.sort_values(key).reset_index(drop=True)[key].equals(
            direct.sort_values(key).reset_index(drop=True)[key]
        )
    )


# -- wave streaming ------------------------------------------------------

def _wide(spark, sf_dir=None):
    """3000 rows over three partitions per core, in id order."""
    parts = 3 * spark.sparkContext.defaultParallelism
    return spark.range(0, 3000, numPartitions=parts).selectExpr(
        "id", "concat('row-', id) AS label"
    )


def _sorted(spark, sf_dir=None):
    return _wide(spark).orderBy(F.col("id").desc())


@pytest.fixture()
def wave_queries(monkeypatch, spark):
    """Registers the queries above as query tickets, and lets ORDER BY
    results keep one shuffle partition per range bucket (three per core)
    instead of AQE's coalesced handful."""
    from web3_flight_rpc_server_spark import registry

    registry.all_queries()
    for name, fn in (("t_wide", _wide), ("t_sorted", _sorted),
                     ("t_empty", lambda s, d: s.range(0).selectExpr(
                         "id", "CAST(id AS STRING) AS label"))):
        monkeypatch.setitem(registry.REGISTRY, name,
                            registry.Query(name, fn, None, "", False))
    confs = {"spark.sql.shuffle.partitions":
             str(3 * spark.sparkContext.defaultParallelism),
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def _ticket(name):
    return flight.Ticket(json.dumps({"dataset": "query", "name": name}).encode())


def _budget(monkeypatch, nbytes):
    monkeypatch.setattr(flight_server, "_wave_budget", lambda sc: nbytes)


@pytest.mark.parametrize("name,fn", [("t_wide", _wide), ("t_sorted", _sorted)])
def test_multi_wave_result_is_served_in_order(client, spark, wave_queries,
                                              waves, monkeypatch, name, fn):
    """A result with more partitions than defaultParallelism is one job
    while it fits the wave budget. With a budget between one partition's
    Arrow bytes and the whole result's it is served over several waves:
    the first sized by the plan's estimate, every later one by the bytes
    measured so far and never over the budget. Either way the stream is
    in partition order and equal to toArrow(), row order included."""
    direct = fn(spark).toArrow()
    n = 3 * spark.sparkContext.defaultParallelism
    assert client.do_get(_ticket(name)).read_all().equals(direct)
    assert [w["parts"] for w in waves] == [list(range(n))]
    _budget(monkeypatch, 0)  # one partition per wave: measures each
    waves.clear()
    client.do_get(_ticket(name)).read_all()
    budget = int(2.5 * max(w["bytes"] for w in waves))
    assert budget < sum(w["bytes"] for w in waves)
    _budget(monkeypatch, budget)
    waves.clear()
    assert client.do_get(_ticket(name)).read_all().equals(direct)
    assert [p for w in waves for p in w["parts"]] == list(range(n))
    assert len(waves) > 2
    assert all(w["bytes"] <= budget for w in waves[1:])
    # a narrowed stream stays narrow, but no narrower than it needs
    assert all(len(w["parts"]) >= 2 for w in waves[1:-1])


def test_empty_results_keep_the_toarrow_schema(client, server, spark,
                                               wave_queries):
    """No rows, zero partitions or filtered-out partitions alike: the
    stream still carries toArrow()'s schema."""
    from web3_flight_rpc_server_spark import registry

    empty = client.do_get(_ticket("t_empty")).read_all()
    direct = registry.REGISTRY["t_empty"].fn(spark, None).toArrow()
    assert empty.num_rows == 0 and empty.schema == direct.schema
    ticket = {"dataset": "logs", "startBlock": 1000, "endBlock": 2000}
    none = client.do_get(flight.Ticket(json.dumps(ticket).encode())).read_all()
    assert none.num_rows == 0
    assert none.schema == server._logs.where("false").toArrow().schema


def test_wave_over_budget_narrows_to_one_partition(client, spark, wave_queries,
                                                   waves, monkeypatch):
    """When one partition's bytes exceed the driver budget, every wave,
    the first included, is a single partition (toLocalIterator's
    bound); content and order are unchanged."""
    _budget(monkeypatch, 0)
    served = client.do_get(_ticket("t_sorted")).read_all()
    assert served.equals(_sorted(spark).toArrow())
    n = 3 * spark.sparkContext.defaultParallelism
    assert [c["parts"] for c in waves] == [[p] for p in range(n)]


def test_cancel_after_first_batch_starts_no_further_wave(client, spark,
                                                         wave_queries,
                                                         monkeypatch):
    """A client that cancels after its first batch stops the stream at
    the wave boundary: no further wave job starts, and the query
    ticket's release_caches runs exactly once."""
    from web3_flight_rpc_server_spark.operators import dedup

    _budget(monkeypatch, 0)  # one wave per partition

    released = []
    monkeypatch.setattr(dedup, "release_caches",
                        lambda: released.append(1) or 0)
    written, cancelled = threading.Event(), threading.Event()
    calls = []
    run_wave = flight_server._run_wave

    def gated(sc, jrdd, partitions):
        # the wave's frames fit the transport's buffers, so all of them
        # are written before the client cancels; the server then reaches
        # the wave boundary only after the cancel has arrived
        calls.append(list(partitions))
        frames = run_wave(sc, jrdd, partitions)

        def then_wait():
            yield from frames
            written.set()
            cancelled.wait(30)
            time.sleep(0.5)
        return then_wait()

    monkeypatch.setattr(flight_server, "_run_wave", gated)
    old = spark.conf.get(BATCH_ROWS)
    spark.conf.set(BATCH_ROWS, "64")
    try:
        reader = client.do_get(_ticket("t_wide"))
        assert reader.read_chunk().data.num_rows > 0
        assert written.wait(30)
        reader.cancel()
        cancelled.set()
        deadline = time.monotonic() + 30
        while not released and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(1.0)  # a wrongly started wave would show up here
    finally:
        spark.conf.set(BATCH_ROWS, old)
    assert len(calls) == 1
    assert released == [1]


# -- concurrent tickets ----------------------------------------------------

@pytest.fixture(scope="module")
def chain(spark):
    """A logs table of 1500 blocks (two logs each) over three partitions
    per core, stored in block order, plus a server over it."""
    parts = 3 * spark.sparkContext.defaultParallelism
    logs = spark.range(0, 3000, numPartitions=parts).selectExpr(
        "CASE id % 3 WHEN 0 THEN '0xAAA' WHEN 1 THEN '0xbbb' ELSE '0xccc' END"
        " AS address",
        "'0x' AS data",
        "IF(id % 5 = 0, CAST(array() AS array<string>),"
        " array(IF(id % 2 = 0, '0xT1', '0xT2'), '0xE1')) AS topics",
        "id DIV 2 AS blockNumber",
        "concat('h', id) AS transactionHash",
        "CAST(id % 7 AS INT) AS transactionIndex",
        "concat('b', id DIV 2) AS blockHash",
        "CAST(id % 2 AS INT) AS logIndex",
        "false AS removed",
    )
    srv = EngineFlightServer("grpc://0.0.0.0:0", spark, logs=logs)
    yield srv, logs.toArrow()
    srv.shutdown()


def _expected(rows: pa.Table, t: dict) -> pa.Table:
    """The ticket's rows by pyarrow alone, in storage (block) order."""
    block = rows["blockNumber"]
    mask = pc.and_(pc.greater_equal(block, t["startBlock"]),
                   pc.less_equal(block, t["endBlock"]))
    if "contractAddresses" in t:
        wanted = pa.array([a.lower() for a in t["contractAddresses"]])
        mask = pc.and_(mask, pc.is_in(pc.utf8_lower(rows["address"]),
                                      value_set=wanted))
    if "topics" in t:
        empty = pc.equal(pc.list_value_length(rows["topics"]), 0)
        topic0 = pa.array([ts[0] if ts else None
                           for ts in rows["topics"].to_pylist()])
        mask = pc.and_(mask, pc.or_(empty, pc.is_in(
            topic0, value_set=pa.array(t["topics"]))))
    return rows.filter(mask)


def test_concurrent_lookups_and_scan_are_exact_and_pooled(spark, chain, waves,
                                                          monkeypatch):
    """Two lookup clients and one scan client at once against a table
    with more partitions than cores: every result equals the pyarrow
    filter of the same rows, in block order, and every Spark job a
    handler starts — its lazily pulled waves included — runs in that
    handler's flight-<thread> FAIR pool. The wave budget is a quarter
    of the table, so full scans take several waves."""
    srv, rows = chain
    _budget(monkeypatch, rows.nbytes // 4)
    handlers = []
    orig = EngineFlightServer._do_get

    def tagged(self, context, ticket):
        handlers.append((threading.get_ident(),
                         spark.sparkContext.getLocalProperty(POOL)))
        return orig(self, context, ticket)

    monkeypatch.setattr(EngineFlightServer, "_do_get", tagged)
    lookups = [
        {"dataset": "logs", "startBlock": s, "endBlock": s + 99,
         "contractAddresses": ["0xaaa"]} for s in (0, 700, 1400)
    ] + [
        {"dataset": "logs", "startBlock": s, "endBlock": s + 99,
         "topics": ["0xT1"]} for s in (100, 800, 1300)
    ]
    scans = [{"dataset": "logs", "startBlock": 0, "endBlock": 1499},
             {"dataset": "logs", "startBlock": 250, "endBlock": 1249}] * 2

    def run(tickets):
        client = flight.FlightClient(f"grpc://localhost:{srv.port}")
        try:
            return [(t, client.do_get(flight.Ticket(
                json.dumps(t).encode())).read_all()) for t in tickets]
        finally:
            client.close()

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        jobs = [pool.submit(run, lookups[0::2]), pool.submit(run, lookups[1::2]),
                pool.submit(run, scans)]
        results = [r for job in jobs for r in job.result(timeout=300)]
    for t, got in results:
        want = _expected(rows, t)
        assert got.num_rows == want.num_rows > 0, t
        assert got.equals(want), t
    assert len(handlers) == len(lookups) + len(scans)
    assert all(pool == f"flight-{thread}" for thread, pool in handlers)
    # the full-range scans span every partition, so they pull waves
    # after do_get has returned
    assert len(waves) > len(handlers)
    assert all(w["pool"] == f"flight-{w['thread']}" for w in waves)
