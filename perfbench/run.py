"""Benchmark entry point: one workload against the engine's Flight server.

    python3 perfbench/run.py --workload tickets|analytics|live \
        --seed N --seconds S --trace 0|1

This process is the load generator. It writes the workload's tables
from the seed, starts the system under test (``server.py``) as a
separate process, times set-up, drives the workload for ``--seconds``,
checks every result, and prints a human-readable report followed by
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans recorded in the server process.

Everything it writes lives under ``.perfbench_work/`` in the current
directory and is removed on exit. See README.md for the workloads and
the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.flight as flight

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

WORKLOADS = ("tickets", "analytics", "live")
STOP_TIMEOUT_S = 30
START_TIMEOUT_S = 120


class Server:
    """One system-under-test process and a Flight client to it."""

    def __init__(self, work: str, cfg: dict):
        port_file = os.path.join(work, "port")
        cfg_path = os.path.join(work, "server.json")
        with open(cfg_path, "w") as f:
            json.dump(dict(cfg, port_file=port_file), f)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, TMPDIR=tmp,
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        self.client = None
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), cfg_path],
            stdout=self.log, stderr=subprocess.STDOUT, cwd=work, env=env,
            start_new_session=True)
        deadline = time.monotonic() + START_TIMEOUT_S
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.stop()
                raise RuntimeError(f"server did not start; see {self.log.name}")
            time.sleep(0.005)
        with open(port_file) as f:
            self.location = f"grpc://127.0.0.1:{int(f.read())}"
        self.client = flight.FlightClient(self.location)

    def action(self, kind: str, body=None):
        results = list(self.client.do_action(
            flight.Action(kind, json.dumps(body).encode())))
        return json.loads(results[0].body.to_pybytes())

    def stop(self) -> None:
        """Kill the server's process group (the server, its JVM and Python
        workers) and wait until it is gone. Nothing it wrote outlives the
        run's work directory, so there is nothing to shut down cleanly."""
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            self.proc.poll()
            if self.proc.returncode is not None and not running_in_group(self.proc.pid):
                break  # only zombies left, which their new parent reaps
            time.sleep(0.02)
        self.proc.wait()
        if self.client is not None:
            self.client.close()
        self.log.close()


def running_in_group(pgid: int) -> bool:
    """True while a process of group ``pgid`` has not exited (Linux
    /proc; zombies count as exited)."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def box_record() -> dict:
    """Core count, load average, and the time of a fixed pure-Python
    loop: a box that runs slow shows here as well as in the metrics."""
    t0 = time.monotonic()
    sum(i * i for i in range(2_000_000))
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "cpu_probe_s": time.monotonic() - t0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink data and run length for smoke tests (0 < scale <= 1)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "web3_flight_rpc_server_spark", "__init__.py")):
        print("perfbench: engine package not found next to perfbench/", file=sys.stderr)
        return 2
    import workloads

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    box_before = box_record()
    started = time.monotonic()
    try:
        wl = workloads.make(args.workload, args.seed, work, args.scale)
        datagen_s = time.monotonic() - started
        result = run(wl, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    box = {"before": box_before, "after": box_record(), **result.pop("box"),
           "datagen_s": datagen_s, "run_wall_s": time.monotonic() - started}
    for line in result.pop("report"):
        print(line)
    print("box:", json.dumps(box))
    print(json.dumps(result))
    return 0


def run(wl, work: str, args) -> dict:
    """Set up, measure, check, and shape the result."""
    cfg = {"workload": args.workload, "trace": bool(args.trace),
           "cpus": os.cpu_count(), **wl.server_config()}
    t0 = time.monotonic()
    server = Server(work, cfg)
    try:
        wl.warm_up(server)
        setup_s = time.monotonic() - t0
        outcome = wl.measure(server, args.seconds * args.scale, bool(args.trace))
    finally:
        server.stop()
    failed = len(outcome.failures)
    report = [f"workload {args.workload} seed {args.seed}: "
              f"{outcome.attempted} operations, {failed} failed"]
    report += [f"  FAILED {msg}" for msg in outcome.failures[:20]]
    metrics = dict(outcome.per_layer if args.trace else outcome.end_to_end)
    if not args.trace:
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    report += [f"  {k} = {v['value']:.6g} {v['unit']}" for k, v in sorted(metrics.items())]
    report += [f"  (report) {k} = {v:.6g}" for k, v in sorted(outcome.extra.items())]
    return {"correct": failed == 0, "attempted": outcome.attempted, "failed": failed,
            "metrics": metrics, "report": report, "box": {"lateness": outcome.lateness}}


if __name__ == "__main__":
    sys.exit(main())
