"""Arrow Flight serving layer — wire-protocol parity with the
reference server (reference server/src/main/java/net/broscorp/web3/
server/FlightRpcServer.java:22-38, producer/Producer.java:38-69).

A thin pyarrow FlightServer over the engine: clients submit the SAME
JSON ticket the reference accepts ({dataset, startBlock, endBlock,
contractAddresses, topics}) and receive Arrow record batches; the
notebook's `client.do_get(Ticket(json)).read_all()` flow works
unchanged. Spark plans and executes; executors encode Arrow batches
that the driver forwards without re-encoding.

Parity notes:
- get_flight_info echoes the descriptor command back as a
  one-endpoint ticket with unknown stats (-1, -1) — exactly
  Producer.java:66-69.
- hybrid/realtime tickets are served over the SAME do_get call when
  the server is constructed with a realtime source (stream_dir): the
  client receives the bounded backfill batches first, then live
  batches as they arrive — the reference's BACKFILLING->STREAMING
  hand-off (Subscription.java:34-149) re-expressed as a Flight
  GeneratorStream fed by a foreachBatch queue. Without a realtime
  source, unbounded tickets fail fast with a clear error.
- an extra ticket form {"dataset": "query", "name": <declared query>,
  "sf_dir": ...} exposes the whole SURVEY §2 inventory over Flight —
  beyond-reference capability, same transport.

Scale notes: every bounded, query and hybrid-backfill result leaves
Spark as executor-encoded Arrow batches of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, in partition
order (ORDER BY stays ordered), one job per wave of partitions sized
to half of ``spark.driver.maxResultSize`` (``arrow_waves``): a result
that fits is one job, a larger one never sits on the driver whole. The
first wave runs inside do_get, so errors reach the client before any
batch; later waves run as the client pulls. Wave jobs carry the
handler's FAIR pool but no SQL execution id (nothing reads it: the
Spark UI is off).
Bounded scans can also shard: get_flight_info splits the block range
into endpoints, each the ticket narrowed to a sub-range (the
reference's maxBlockRange paging on the Flight metadata plane), pulled
in parallel. Range-sharding beats physical-partition tickets because
each shard re-enters Catalyst as a narrowed predicate (row-group
pruning per shard) and any server over the same storage can serve it.
"""

from __future__ import annotations

import json
import queue
import threading
import uuid
from typing import Callable, Iterator

import pyarrow as pa
import pyarrow.flight as flight

from pyspark import SparkContext
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import _load_from_socket

from ..plans.requests import ClientRequest, RequestMode, plan_request

POOL = "spark.scheduler.pool"


def arrow_schema(df: DataFrame) -> pa.Schema:
    """The schema ``df.toArrow()`` returns, read off the plan without
    running a Spark job (the same call DataFrame.toArrow makes)."""
    return to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def _wave_budget(sc: SparkContext) -> int:
    """Arrow bytes one wave may bring to the driver: half of
    ``spark.driver.maxResultSize`` (0 there means unlimited)."""
    conf = sc._jsc.sc().conf()
    limit = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    return limit // 2 if limit else 1 << 62


def _size_estimate(df: DataFrame) -> int:
    """Arrow bytes ``df`` may come to: 4x Catalyst's size estimate, as
    parquet inputs count compressed bytes (Arrow ran 3-4.5x on fixture
    queries), capped at its inputs' because the size-only estimator
    multiplies join sides (3.5e23 B on q_multi_join)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    inputs = sum(leaves.apply(i).stats().sizeInBytes()
                 for i in range(leaves.size()))
    return 4 * min(plan.stats().sizeInBytes(), inputs)


def _run_wave(sc: SparkContext, jrdd, parts: list[int]) -> Iterator[bytes]:
    """One Spark job over partitions ``parts`` of an Arrow batch RDD;
    once it has run, its IPC frames stream off a local socket in order."""
    sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, parts)
    return _load_from_socket(sock_info, NoOpSerializer())


def arrow_waves(df: DataFrame, cancelled: Callable[[], bool],
                on_done: Callable[[], object] | None = None
                ) -> Iterator[pa.RecordBatch]:
    """``df``'s rows as Arrow record batches in partition order, one
    Spark job per wave of consecutive partitions.

    A wave takes as many partitions as fit ``_wave_budget``: the first
    by ``_size_estimate``, each later one by the mean Arrow bytes per
    partition of all waves before it, so a result that fits is one job
    and a narrowed stream stays narrow. A low estimate or skewed
    partitions can push a wave over the budget; up to 2x it still stays
    under maxResultSize. The first wave runs before this returns, so
    its errors raise here; later ones run as the iterator is pulled, in
    the FAIR pool set at this call, and none once ``cancelled()``.
    ``on_done`` runs once the stream ends, fails or is closed."""
    sc = df.sparkSession.sparkContext
    schema, pool = arrow_schema(df), sc.getLocalProperty(POOL)
    budget, on_done = _wave_budget(sc), on_done or (lambda: None)

    def fit(parts: int, nbytes: int) -> int:  # partitions, at least one
        return max(1, int(budget * parts / max(nbytes, 1)))

    def run(lo: int, hi: int) -> Iterator[bytes]:
        sc.setLocalProperty(POOL, pool)
        try:
            return _run_wave(sc, jrdd, list(range(lo, hi)))
        finally:
            sc.setLocalProperty(POOL, None)

    try:
        jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()
        n = jrdd.getNumPartitions()
        hi = min(n, fit(n, _size_estimate(df)))
        frames = run(0, hi)
    except BaseException:
        on_done()
        raise

    def generate(hi: int, frames: Iterator[bytes]):
        size = 0  # Arrow bytes of partitions [0, hi)
        try:
            while True:
                for frame in frames:
                    size += len(frame)
                    yield pa.ipc.read_record_batch(pa.py_buffer(frame), schema)
                if hi == n or cancelled():
                    return
                lo, hi = hi, min(n, hi + fit(hi, size))
                frames = run(lo, hi)
        finally:
            on_done()

    return generate(hi, frames)


class EngineFlightServer(flight.FlightServerBase):
    """do_get(JSON ticket) -> Arrow stream, reference-compatible."""

    def __init__(self, location: str, spark: SparkSession,
                 logs: DataFrame | None = None,
                 blocks: DataFrame | None = None,
                 sf_dir: str | None = None,
                 stream_dir: str | None = None,
                 checkpoint_root: str | None = None,
                 realtime_max_batches: int | None = None,
                 realtime_poll_timeout_s: float = 30.0,
                 realtime_trigger_ms: int | None = None):
        super().__init__(location)
        self._realtime_trigger_ms = realtime_trigger_ms
        self._spark = spark
        self._logs = logs
        self._blocks = blocks
        self._sf_dir = sf_dir
        self._stream_dir = stream_dir
        self._checkpoint_root = checkpoint_root or "/tmp/flight_ckpt"
        self._realtime_max_batches = realtime_max_batches
        self._realtime_poll_timeout_s = realtime_poll_timeout_s

    # -- Flight surface -------------------------------------------------
    def do_get(self, context, ticket: flight.Ticket):
        # Each gRPC handler thread tags its Spark jobs with a private
        # FAIR pool, so concurrent tickets time-share the cluster instead
        # of queueing behind an earlier large scan (the reference's
        # one-virtual-thread-per-subscription model, Subscription.java).
        # Local properties are per-thread; under a FIFO session the tag
        # is inert. Pools are keyed by thread, not by request: Spark
        # never removes on-demand pools, so their count stays bounded by
        # the gRPC thread pool. Waves pulled after this returns re-set
        # the pool themselves.
        sc = self._spark.sparkContext
        sc.setLocalProperty(POOL, f"flight-{threading.get_ident()}")
        try:
            return self._do_get(context, ticket)
        finally:
            sc.setLocalProperty(POOL, None)

    def _do_get(self, context, ticket: flight.Ticket):
        # map engine errors to FlightServerError uniformly so clients
        # get the reason, not a serialized traceback
        try:
            obj = json.loads(ticket.ticket)
        except ValueError as e:
            raise flight.FlightServerError(f"malformed ticket JSON: {e}")
        try:
            if obj.get("dataset") == "query":
                df = self._declared_query(obj)
            else:
                req = ClientRequest.from_json(ticket.ticket)
                if req.mode in (RequestMode.HYBRID, RequestMode.REALTIME):
                    return self._serve_unbounded(context, req, obj)
                df = plan_request(req, logs=self._logs, blocks=self._blocks)
        except ValueError as e:
            raise flight.FlightServerError(str(e))
        # A query ticket drops its dedup intermediates once its stream
        # ends or is cancelled, never while a later wave may read them.
        # The ledger is process-global, so a concurrent query's release
        # can still drop them mid-stream, and later waves then recompute
        # them through lineage (ROADMAP direction D).
        from ..operators.dedup import release_caches

        done = release_caches if obj.get("dataset") == "query" else None
        return flight.GeneratorStream(
            arrow_schema(df), arrow_waves(df, context.is_cancelled, done))

    def _serve_unbounded(self, context, req: ClientRequest,
                         obj: dict | None = None) -> flight.GeneratorStream:
        """The reference's hybrid hand-off over one do_get: historical
        batches first, then live micro-batches as they arrive
        (Subscription.java BACKFILLING->STREAMING). Ordering matches
        its subscription test: backfill, buffered realtime, live.

        Latency knob: the ticket's ``triggerMs`` (or the server-level
        ``realtime_trigger_ms``) sets the micro-batch processing-time
        trigger of the tail query. Arrival lag is bounded by trigger
        interval + batch execution — the micro-batch analog of the
        reference's push latency; omit for as-fast-as-possible
        replanning (lag = execution time only)."""
        if self._logs is None or self._stream_dir is None:
            raise flight.FlightServerError(
                "unbounded tickets need a server configured with a "
                "realtime source (stream_dir) — bounded tickets only"
            )
        from ..streaming.backfill import plan_hybrid
        from ..streaming.sources import logs_stream

        plan = plan_hybrid(
            req, self._logs, logs_stream(self._spark, self._stream_dir)
        )
        schema = arrow_schema(self._logs)
        backfill = (() if plan.backfill is None
                    else arrow_waves(plan.backfill, context.is_cancelled))
        batches: queue.Queue = queue.Queue()

        def sink(df: DataFrame, epoch: int) -> None:
            table = df.toArrow()
            if table.num_rows:
                batches.put(table)

        def generate():
            yield from backfill
            if plan.tail is None:
                return
            ckpt = f"{self._checkpoint_root}/{uuid.uuid4().hex}"
            writer = (
                plan.tail.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
            )
            trigger_ms = (obj or {}).get("triggerMs", self._realtime_trigger_ms)
            if trigger_ms:
                writer = writer.trigger(
                    processingTime=f"{int(trigger_ms)} milliseconds"
                )
            q = writer.start()
            served = 0
            try:
                while (
                    self._realtime_max_batches is None
                    or served < self._realtime_max_batches
                ):
                    try:
                        table = batches.get(
                            timeout=self._realtime_poll_timeout_s
                        )
                    except queue.Empty:
                        break  # idle past the poll timeout: end stream
                    for batch in table.to_batches():
                        yield batch
                    served += 1
            finally:
                # client cancel or batch budget reached: tear down the
                # per-subscription query (A16 idempotent close)
                q.stop()

        return flight.GeneratorStream(schema, generate())

    DEFAULT_SHARD_BLOCKS = 10_000
    MAX_ENDPOINTS = 16

    def get_flight_info(self, context, descriptor: flight.FlightDescriptor):
        try:
            obj = json.loads(descriptor.command)
        except ValueError:
            obj = None
        if isinstance(obj, dict) and obj.get("dataset") in ("logs", "blocks"):
            try:
                req = ClientRequest.from_json(descriptor.command)
            except ValueError:
                req = None
            if req is not None and req.mode is RequestMode.BOUNDED:
                return self._sharded_info(descriptor, obj, req)
        # non-scan / unbounded tickets: echo the command as one endpoint
        # with unknown stats — exactly Producer.java:66-69
        endpoint = flight.FlightEndpoint(descriptor.command, [])
        schema = pa.schema([])
        return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    def _sharded_info(self, descriptor: flight.FlightDescriptor, obj: dict,
                      req: ClientRequest) -> flight.FlightInfo:
        """Bounded scans shard into per-sub-range endpoints that clients
        pull in parallel: each endpoint's do_get plans only its slice
        (row-group pruning per shard). Locations are empty = 'this
        server'; stats stay -1/-1 (unknown, as in the reference)."""
        df = plan_request(req, logs=self._logs, blocks=self._blocks)
        schema = arrow_schema(df)
        span = req.end_block - req.start_block + 1
        shard = int(obj.get("shardBlocks") or self.DEFAULT_SHARD_BLOCKS)
        n = max(1, min(self.MAX_ENDPOINTS, -(-span // shard)))
        endpoints = []
        for i in range(n):
            lo = req.start_block + i * span // n
            hi = req.start_block + (i + 1) * span // n - 1
            t = dict(obj)
            t["startBlock"], t["endBlock"] = lo, hi
            t.pop("shardBlocks", None)
            endpoints.append(
                flight.FlightEndpoint(json.dumps(t).encode(), [])
            )
        return flight.FlightInfo(schema, descriptor, endpoints, -1, -1)

    def list_flights(self, context, criteria):
        for name in ("logs", "blocks"):
            descriptor = flight.FlightDescriptor.for_command(
                json.dumps({"dataset": name}).encode()
            )
            yield flight.FlightInfo(pa.schema([]), descriptor, [], -1, -1)

    # -- helpers --------------------------------------------------------
    def _declared_query(self, obj: dict) -> DataFrame:
        from ..registry import all_queries

        name = obj.get("name")
        registry = all_queries()
        if name not in registry:
            raise flight.FlightServerError(f"unknown query: {name!r}")
        sf_dir = obj.get("sf_dir") or self._sf_dir
        if not sf_dir:
            raise flight.FlightServerError("no sf_dir configured")
        return registry[name].fn(self._spark, sf_dir)

