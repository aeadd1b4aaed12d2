"""The system under test: one process owning the Spark session, the
engine's ``EngineFlightServer`` and, for the live workload, the ingest
schedule.

    python3 perfbench/server.py CONFIG_JSON

writes the bound port to the config's ``port_file``, then serves until
the benchmark kills its process group. The benchmark's control actions
ride on Flight ``do_action``; ``do_get`` is the engine's own.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow.flight as flight  # noqa: E402

from web3_flight_rpc_server_spark import registry, session  # noqa: E402
from web3_flight_rpc_server_spark.serving import EngineFlightServer  # noqa: E402
from web3_flight_rpc_server_spark.sources import tables  # noqa: E402
from web3_flight_rpc_server_spark.sources.ethereum_rpc import EthereumLogsDataSource  # noqa: E402

import tracing  # noqa: E402


def _progress_listener(records: list):
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append({"at": time.monotonic(), "batch": p.batchId,
                            "rows": p.numInputRows, "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class BenchServer(EngineFlightServer):
    """Adds the benchmark's control actions; serving is inherited."""

    def __init__(self, location, spark, cfg, tracer, **kw):
        super().__init__(location, spark, **kw)
        self.cfg = cfg
        self.tracer = tracer
        self.pages: list[dict] = []
        self.progress: list[dict] = []
        self.writer: threading.Thread | None = None

    def ingest(self, lo: int, hi: int) -> dict:
        """Ingest blocks ``[lo, hi)`` through the ``ethereum_logs``
        source (mock transport) as one parquet drop in stream_dir."""
        start = time.monotonic()
        page = (self._spark.read.format("ethereum_logs")
                .option("startBlock", lo).option("endBlock", hi - 1)
                .option("transport", "mock").load())
        page.coalesce(1).write.mode("append").parquet(self.cfg["stream_dir"])
        return {"lo": lo, "hi": hi, "start": start, "committed": time.monotonic()}

    def _run_writer(self, t0: float, period: float, pages: list) -> None:
        for k, (lo, hi) in enumerate(pages):
            due = t0 + k * period
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            rec = self.ingest(lo, hi)
            rec["due"] = due
            self.pages.append(rec)

    def _spark_since(self, after: int) -> dict:
        st = self._spark.sparkContext.statusTracker()
        ids = [j for j in st.getJobIdsForGroup(None) if j > after]
        tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return {"max_job": max(ids, default=after), "jobs": len(ids), "tasks": tasks}

    def do_action(self, context, action):
        body = json.loads(action.body.to_pybytes() or b"null")
        kind = action.type
        if kind == "ingest":
            out = self.ingest(*body)
        elif kind == "live_start":
            self.pages = []
            self.writer = threading.Thread(
                target=self._run_writer,
                args=(body["t0"], body["period"], body["pages"]), daemon=True)
            self.writer.start()
            out = True
        elif kind == "live_report":
            if self.writer is not None:
                self.writer.join()
            out = self.pages
        elif kind == "streams_active":
            out = len(self._spark.streams.active)
        elif kind == "oracle":
            out = registry.all_queries()[body].oracle
        elif kind == "spark_since":
            out = self._spark_since(body)
        elif kind == "trace":
            self.tracer.enabled = bool(body)
            out = {"spans": self.tracer.take(), "progress": self.progress[:]}
            self.progress.clear()
        else:
            raise flight.FlightServerError(f"unknown action {kind!r}")
        yield flight.Result(json.dumps(out).encode())


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    tracer = tracing.Tracer()
    tracer.enabled = cfg["trace"]
    if cfg["trace"]:
        tracing.install(tracer)
    spark = session.get_spark("perfbench", cpus=cfg["cpus"])
    kw = {}
    if cfg["workload"] == "analytics":
        kw["sf_dir"] = cfg["data_dir"]
    else:
        kw["logs"] = tables.load_table(spark, cfg["data_dir"], "logs")
        kw["blocks"] = tables.load_table(spark, cfg["data_dir"], "blocks")
    if cfg["workload"] == "live":
        spark.dataSource.register(EthereumLogsDataSource)
        os.makedirs(cfg["stream_dir"], exist_ok=True)
        kw.update(stream_dir=cfg["stream_dir"], checkpoint_root=cfg["ckpt_dir"],
                  realtime_poll_timeout_s=cfg["poll_timeout_s"])
    with tracer.span("serving.bind", "setup"):
        server = BenchServer("grpc://127.0.0.1:0", spark, cfg, tracer, **kw)
    if cfg["trace"]:
        spark.streams.addListener(_progress_listener(server.progress))
    tmp = cfg["port_file"] + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.port))
    os.replace(tmp, cfg["port_file"])
    server.serve()


if __name__ == "__main__":
    main()
