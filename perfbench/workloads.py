"""The three workloads: traffic, result checks and metric extraction.

Each workload object offers ``server_config()``, ``warm_up(server)``
(one operation of every class it times; counted in ``setup_s``) and
``measure(server, seconds, trace)`` returning an ``Outcome``.

End-to-end metrics have the same names on every workload; each name
reads one homogeneous operation class per workload (README.md has the
table):

- ``op_p50_s``   tickets: lookup ticket wall; analytics: one full pass
                 over the query list; live: page lag (due -> last row
                 received by the subscriber).
- ``ops_per_s``  tickets: scan tickets per second of scan-client time;
                 analytics: query tickets per second; live: blocks
                 delivered per second.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.flight as flight

import datagen
import tracing

P90_MIN_SAMPLES = 100
_ids = itertools.count(1)


@dataclass
class Outcome:
    attempted: int
    failures: list[str]
    end_to_end: dict
    per_layer: dict
    extra: dict = field(default_factory=dict)
    lateness: dict = field(default_factory=dict)


@dataclass
class Read:
    """One ticket as the client saw it."""

    ticket: dict
    issued: float
    first: float
    end: float
    batches: list

    @property
    def wall(self) -> float:
        return self.end - self.issued

    @property
    def rows(self) -> int:
        return sum(b.num_rows for b in self.batches)

    @property
    def nbytes(self) -> int:
        return sum(b.nbytes for b in self.batches)


def read_ticket(client: flight.FlightClient, ticket: dict) -> Read:
    ticket = dict(ticket, benchId=next(_ids))
    issued = time.monotonic()
    reader = client.do_get(flight.Ticket(json.dumps(ticket).encode()))
    batches, first = [], None
    while True:
        try:
            chunk = reader.read_chunk()
        except StopIteration:
            break
        if first is None:
            first = time.monotonic()
        batches.append(chunk.data)
    end = time.monotonic()
    return Read(ticket, issued, first or end, end, batches)


def m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float | None:
    xs = sorted(xs)
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= P90_MIN_SAMPLES else None


def block_range(batches) -> tuple[int | None, int | None]:
    if not batches or not sum(b.num_rows for b in batches):
        return None, None
    mm = pc.min_max(pa.chunked_array([b.column("blockNumber") for b in batches]))
    return mm["min"].as_py(), mm["max"].as_py()


# -- span helpers -------------------------------------------------------

def children(spans: list[dict]) -> dict:
    """span id -> its direct child spans."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def by_request(spans: list[dict]) -> dict:
    """request id -> {"do_get": span, "direct": its direct child spans}."""
    kids = children(spans)
    return {s["request"]: {"do_get": s, "direct": kids.get(s["id"], [])}
            for s in spans if s["name"] == "serving.do_get" and s["request"] is not None}


def dur(s: dict) -> float:
    return s["end"] - s["start"]


def setup_layers(spans: list[dict]) -> dict:
    def total(name):
        return sum(dur(s) for s in spans if s["name"] == name)
    return {
        "session.start_s": m(total("session.get_spark"), "s"),
        "serving.bind_s": m(total("serving.bind"), "s"),
        "tables.load_s": m(total("tables.load_table"), "s"),
    }


PER_LAYER_DEFAULTS: dict[str, str] = {
    "session.start_s": "s", "serving.bind_s": "s", "tables.load_s": "s",
    "ethereum_rpc.first_page_s": "s",
    "plans.plan_request_s": "s", "serving.do_get_s": "s", "spark.probe_s": "s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "serving.wait_s": "s", "spark.spill_write_s": "s", "serving.stream_s": "s",
    "serving.bytes_per_ticket": "bytes", "serving.batches_per_ticket": "count",
    "serving.spill_share": "ratio",
    "operators.caches_released": "count", "operators.release_caches_s": "s",
    "ethereum_rpc.page_s": "s", "live.writer_late_s": "s",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.delivery_s": "s", "streaming.plan_hybrid_s": "s",
    "streaming.backfill_first_batch_s": "s", "streaming.tail_start_s": "s",
    "trace.overhead_s": "s",
}


def per_layer(found: dict) -> dict:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    names = dict(PER_LAYER_DEFAULTS)
    for q in Analytics.QUERIES:
        names[f"queries.build_s.{q}"] = "s"
        names[f"queries.execute_s.{q}"] = "s"
    return {k: found.get(k, m(0.0, unit)) for k, unit in names.items()}


def alternate(server, run_slice, more) -> tuple[list, list, list]:
    """Call ``run_slice`` while ``more(i)``, with spans off and on in
    turn (off first), so a trend across the window cancels out of the
    traced-minus-untraced difference. Returns (untraced results, traced
    results, spans)."""
    out: dict = {False: [], True: []}
    spans: list = []
    i = 0
    while more(i):
        on = i % 2 == 1
        spans += server.action("trace", on)["spans"]
        out[on].append(run_slice())
        i += 1
    spans += server.action("trace", False)["spans"]
    return out[False], out[True], spans


def jobs_per_op(server, ops) -> tuple[float, float]:
    """Run ``ops`` (callables) one at a time and count the Spark jobs
    and tasks each starts."""
    last = server.action("spark_since", -1)["max_job"]
    jobs = tasks = 0
    for op in ops:
        op()
        got = server.action("spark_since", last)
        jobs, tasks, last = jobs + got["jobs"], tasks + got["tasks"], got["max_job"]
    return jobs / len(ops), tasks / len(ops)


# -- tickets -----------------------------------------------------------

class Tickets:
    """Two lookup clients and one scan client, closed loop, against
    bounded logs tickets (ROADMAP direction D: heavy and light tickets
    served concurrently)."""

    LOOKUP_BLOCKS = 100
    ADDRESSES = [f"0x{c}{d}" for c in "ab" for d in range(7)]
    # Untimed traffic after set-up: on a 4-core box lookup and scan
    # walls keep falling for ~15 s of this mix (0.18 -> 0.12 s and
    # 0.79 -> 0.54 s, JIT warm-up) and timing that made the per-run
    # median drift. 12 s leaves a few percent of drift and fits the
    # run budget.
    STEADY_S = 12.0

    def __init__(self, seed: int, work: str, scale: float):
        self.seed = seed
        self.steady_s = self.STEADY_S * scale
        self.n_blocks = max(20_000, int(200_000 * scale))
        self.scan_blocks = max(6_000, int(50_000 * scale))
        self.data_dir = os.path.join(work, "data")
        self.logs = datagen.write_chain(self.data_dir, self.n_blocks)

    def server_config(self) -> dict:
        return {"data_dir": self.data_dir}

    def lookup(self, rng: random.Random) -> dict:
        start = rng.randrange(0, self.n_blocks - self.LOOKUP_BLOCKS)
        t = {"dataset": "logs", "startBlock": start,
             "endBlock": start + self.LOOKUP_BLOCKS - 1}
        kind = rng.choice(("address", "topic", "both"))
        if kind != "topic":
            t["contractAddresses"] = [
                a.upper().replace("0X", "0x") if rng.random() < 0.5 else a
                for a in rng.sample(self.ADDRESSES, rng.randint(1, 2))]
        if kind != "address":
            t["topics"] = rng.choice(
                ([datagen.TRANSFER], [datagen.APPROVAL], [datagen.TRANSFER, datagen.APPROVAL]))
        return t

    def scan(self, rng: random.Random) -> dict:
        start = rng.randrange(0, self.n_blocks - self.scan_blocks)
        return {"dataset": "logs", "startBlock": start, "endBlock": start + self.scan_blocks - 1}

    def warm_up(self, server) -> None:
        rng = random.Random(self.seed)
        read_ticket(server.client, self.lookup(rng))
        read_ticket(server.client, self.scan(rng))

    def expected(self, t: dict) -> tuple[int, int | None, int | None]:
        """Row count and block range by the generator's own filter."""
        lo, hi = t["startBlock"], t["endBlock"]
        rows = self.logs.slice(datagen.LOGS_PER_BLOCK * lo,
                               datagen.LOGS_PER_BLOCK * (hi - lo + 1))
        mask = pa.array([True] * rows.num_rows)
        if "contractAddresses" in t:
            wanted = pa.array([a.lower() for a in t["contractAddresses"]])
            mask = pc.and_(mask, pc.is_in(pc.utf8_lower(rows["address"]), value_set=wanted))
        if "topics" in t:
            topic0 = pc.list_element(rows["topics"], 0)
            empty = pc.equal(pc.list_value_length(rows["topics"]), 0)
            mask = pc.and_(mask, pc.or_(empty, pc.is_in(topic0, value_set=pa.array(t["topics"]))))
        hit = rows.filter(mask)
        return hit.num_rows, *block_range(hit.to_batches())

    def _drive(self, server, seconds: float) -> tuple[list, list]:
        deadline = time.monotonic() + seconds
        lookups, scans, errors = [], [], []

        def loop(out, make, rng):
            client = flight.FlightClient(server.location)
            try:
                while time.monotonic() < deadline:
                    out.append(read_ticket(client, make(rng)))
            except Exception as e:  # reported as a failed operation
                errors.append(repr(e))
            finally:
                client.close()

        base = self.seed * 1000 + next(_ids)
        threads = [threading.Thread(target=loop, args=(lookups, self.lookup, random.Random(base + i)))
                   for i in range(2)]
        threads.append(threading.Thread(target=loop, args=(scans, self.scan, random.Random(base + 2))))
        for t in threads:
            t.start()
        for t in threads:
            t.join(seconds + 120)
        return lookups, scans, errors

    def _check(self, reads: list[Read]) -> list[str]:
        bad = []
        for r in reads:
            got = (r.rows, *block_range(r.batches))
            want = self.expected(r.ticket)
            if got != want:
                bad.append(f"ticket {r.ticket}: got rows/min/max {got}, want {want}")
        return bad

    def measure(self, server, seconds: float, trace: bool) -> Outcome:
        if trace:
            setup = server.action("trace", False)["spans"]
        steady = self._drive(server, self.steady_s)
        if trace:
            off, on, spans = alternate(server, lambda: self._drive(server, seconds / 4),
                                       lambda i: i < 4)
            lookups0, scans0, err0 = (sum(x, []) for x in zip(*off))
            lookups, scans, errors = (sum(x, []) for x in zip(*on))
            errors += err0
            everything = lookups0 + scans0 + lookups + scans
        else:
            lookups, scans, errors = self._drive(server, seconds)
            everything = lookups + scans
        everything += steady[0] + steady[1]
        errors += steady[2]
        failures = errors + self._check(everything)
        attempted = len(everything) + len(errors)
        lookup_wall = [r.wall for r in lookups]
        scan_wall = [r.wall for r in scans]
        e2e = {"op_p50_s": m(median(lookup_wall), "s"),
               "ops_per_s": m(len(scans) / sum(scan_wall) if scans else 0.0, "1/s")}
        extra = {
            "lookup_p50_s": median(lookup_wall), "lookups": len(lookups),
            "scan_p50_s": median(scan_wall), "scans": len(scans),
            "scan_first_batch_p50_s": median(r.first - r.issued for r in scans),
            "scan_mb_per_s": median(r.nbytes / r.wall / 1e6 for r in scans),
            "tickets_per_s": (len(lookups) + len(scans)) / seconds,
        }
        if p90(lookup_wall) is not None:
            extra["lookup_p90_s"] = p90(lookup_wall)
        layers = {}
        if trace:
            layers = self._layers(server, setup, spans, lookups, scans)
            untraced = median(r.wall for r in lookups0)
            layers["trace.overhead_s"] = m(median(lookup_wall) - untraced, "s")
            extra["untraced_lookup_p50_s"] = untraced
        return Outcome(attempted, failures, e2e, per_layer(layers), extra)

    def _layers(self, server, setup, spans, lookups, scans) -> dict:
        req = by_request(spans)
        kids = children(spans)

        def under(r: Read, name: str) -> list[dict]:
            got = req.get(r.ticket["benchId"])
            return [c for c in got["direct"] if c["name"] == name] if got else []

        def do_get(r: Read) -> float:
            got = req.get(r.ticket["benchId"])
            return dur(got["do_get"]) if got else 0.0

        plan = [tracing.self_time(s, kids.get(s["id"], []))
                for r in lookups for s in under(r, "plans.plan_request")]
        probe = [dur(s) for r in lookups for s in under(r, "spark.toArrow")]
        spill = [dur(s) for r in scans for s in under(r, "spark.write_parquet")]
        gets = list(req.values())
        spilled = [g for g in gets if any(c["name"] == "spark.write_parquet" for c in g["direct"])]
        rng = random.Random(self.seed)
        jobs, tasks = jobs_per_op(server, [lambda: read_ticket(server.client, self.lookup(rng))] * 5)
        return {
            **setup_layers(setup),
            "plans.plan_request_s": m(median(plan), "s"),
            "serving.do_get_s": m(median(do_get(r) for r in lookups), "s"),
            "spark.probe_s": m(median(probe), "s"),
            "spark.jobs_per_op": m(jobs, "count"),
            "spark.tasks_per_op": m(tasks, "count"),
            "serving.wait_s": m(median(r.wall - do_get(r) - (r.end - r.first) for r in lookups), "s"),
            "spark.spill_write_s": m(median(spill), "s"),
            "serving.stream_s": m(median(r.end - r.first for r in scans), "s"),
            "serving.bytes_per_ticket": m(median(r.nbytes for r in scans), "bytes"),
            "serving.batches_per_ticket": m(median(len(r.batches) for r in scans), "count"),
            "serving.spill_share": m(len(spilled) / len(gets) if gets else 0.0, "ratio"),
        }


# -- analytics ---------------------------------------------------------

class Analytics:
    """One client cycling through a fixed, ordered list of declared
    queries as ``{"dataset": "query"}`` tickets."""

    QUERIES = ("q_value_counts", "q_multi_join", "q_window_funcs", "q_sessionize",
               "q_minhash_lsh", "q_winnow_overlap", "q_cosine_topk", "q_langid")
    # Untimed passes after set-up: on a 4-core box a pass keeps getting
    # faster until about the fifth (4.0 s -> 2.85 s, JIT warm-up), and
    # timing those passes made the per-run median drift.
    STEADY_PASSES = 4

    def __init__(self, seed: int, work: str, scale: float):
        self.data_dir = os.path.join(work, "corpus")
        datagen.write_corpus(self.data_dir, seed)
        self.steady_passes = round(self.STEADY_PASSES * scale)
        self.reference: dict[str, pa.Table] = {}

    def server_config(self) -> dict:
        return {"data_dir": self.data_dir}

    def cycle(self, client) -> list[tuple[str, Read]]:
        return [(q, read_ticket(client, {"dataset": "query", "name": q})) for q in self.QUERIES]

    def warm_up(self, server) -> None:
        self.reference = {q: pa.Table.from_batches(r.batches) if r.batches else None
                          for q, r in self.cycle(server.client)}

    def _oracle_check(self, server) -> list[str]:
        from tests.oracle_harness import duckdb_connection, normalize

        con = duckdb_connection(self.data_dir)
        bad = []
        for q, table in self.reference.items():
            if table is None:
                bad.append(f"{q}: no batches")
                continue
            want = con.execute(server.action("oracle", q)).df()
            got = table.to_pandas()
            if sorted(got.columns) != sorted(want.columns) or normalize(got) != normalize(want):
                bad.append(f"{q}: differs from its DuckDB oracle "
                           f"({len(got)} rows vs {len(want)})")
        con.close()
        return bad

    @staticmethod
    def _digest(batches) -> tuple[int, int]:
        from tests.oracle_harness import normalize

        table = pa.Table.from_batches(batches)
        return table.num_rows, hash(normalize(table.to_pandas()))

    def _drive(self, server, seconds: float) -> list[list[tuple[str, Read]]]:
        cycles = []
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline or not cycles:
            cycles.append(self.cycle(server.client))
        return cycles

    def measure(self, server, seconds: float, trace: bool) -> Outcome:
        if trace:
            setup = server.action("trace", False)["spans"]
        failures = self._oracle_check(server)
        for _ in range(self.steady_passes):
            self.cycle(server.client)
        if trace:
            deadline = time.monotonic() + seconds
            cycles0, cycles, spans = alternate(
                server, lambda: self.cycle(server.client),
                lambda i: i < 2 or i % 2 == 1 or time.monotonic() < deadline)
            everything = cycles0 + cycles
        else:
            cycles = everything = self._drive(server, seconds)
        want = {q: self._digest(t.to_batches()) for q, t in self.reference.items() if t is not None}
        for c in everything:
            for q, r in c:
                if self._digest(r.batches) != want.get(q):
                    failures.append(f"{q}: a timed repetition differs from the checked result")
        walls = [c[-1][1].end - c[0][1].issued for c in cycles]
        n_tickets = sum(len(c) for c in cycles)
        e2e = {"op_p50_s": m(median(walls), "s"),
               "ops_per_s": m(n_tickets / sum(walls), "1/s")}
        extra = {"cycle_p50_s": median(walls), "cycles": len(cycles)}
        for i, q in enumerate(self.QUERIES):
            extra[f"{q}_p50_s"] = median(c[i][1].wall for c in cycles)
        layers = {}
        if trace:
            layers = self._layers(server, setup, spans, cycles)
            untraced = median(c[-1][1].end - c[0][1].issued for c in cycles0)
            layers["trace.overhead_s"] = m(median(walls) - untraced, "s")
            extra["untraced_cycle_p50_s"] = untraced
        attempted = sum(len(c) for c in everything) + len(self.reference)
        return Outcome(attempted, failures, e2e, per_layer(layers), extra)

    def _layers(self, server, setup, spans, cycles) -> dict:
        req = by_request(spans)
        build: dict = {q: [] for q in self.QUERIES}
        execute: dict = {q: [] for q in self.QUERIES}
        release, released, per_cycle = [], [], []
        for c in cycles:
            total = 0.0
            for q, r in c:
                got = req.get(r.ticket["benchId"])
                if got is None:
                    continue
                b = sum(dur(s) for s in got["direct"] if s["name"] == f"queries.build.{q}")
                rel = [s for s in got["direct"] if s["name"] == "operators.release_caches"]
                build[q].append(b)
                execute[q].append(dur(got["do_get"]) - b - sum(dur(s) for s in rel))
                release += [dur(s) for s in rel]
                released += [s["attrs"].get("released", 0) for s in rel]
                total += dur(got["do_get"])
            per_cycle.append(total)
        jobs, tasks = jobs_per_op(server, [lambda: self.cycle(server.client)])
        out = {
            **setup_layers(setup),
            "serving.do_get_s": m(median(per_cycle), "s"),
            "spark.jobs_per_op": m(jobs, "count"),
            "spark.tasks_per_op": m(tasks, "count"),
            "operators.caches_released": m(sum(released) / max(1, len(cycles)), "count"),
            "operators.release_caches_s": m(median(release), "s"),
        }
        for q in self.QUERIES:
            out[f"queries.build_s.{q}"] = m(median(build[q]), "s")
            out[f"queries.execute_s.{q}"] = m(median(execute[q]), "s")
        return out


# -- live --------------------------------------------------------------

class Live:
    """An open-loop writer in the server process ingests one page of
    blocks per period through the ``ethereum_logs`` source into the
    server's stream directory; one hybrid Flight subscriber, started
    inside the historical table, receives backfill then live rows."""

    PAGE_BLOCKS = 10
    PERIOD_S = 1.0
    POLL_TIMEOUT_S = 2.0

    def __init__(self, seed: int, work: str, scale: float):
        rng = random.Random(seed)
        self.n_blocks = max(20_000, int(200_000 * scale))
        self.data_dir = os.path.join(work, "data")
        self.stream_dir = os.path.join(work, "stream")
        self.ckpt_dir = os.path.join(work, "ckpt")
        self.logs = datagen.write_chain(self.data_dir, self.n_blocks)
        # every block carries exactly one log of each topic, so either
        # filter delivers one row per block on every seed
        self.topic = rng.choice((datagen.TRANSFER, datagen.APPROVAL))
        self.backfill_blocks = rng.randint(500, 1500)
        self.next_block = self.n_blocks
        self.first_page: dict = {}

    def server_config(self) -> dict:
        return {"data_dir": self.data_dir, "stream_dir": self.stream_dir,
                "ckpt_dir": self.ckpt_dir, "poll_timeout_s": self.POLL_TIMEOUT_S}

    def ticket(self, start: int) -> dict:
        return {"dataset": "logs", "startBlock": start, "topics": [self.topic]}

    def _page(self) -> tuple[int, int]:
        lo = self.next_block
        self.next_block += self.PAGE_BLOCKS
        return lo, self.next_block

    def warm_up(self, server) -> None:
        """One page ingested, then one subscription that receives a
        little backfill and that page."""
        lo, hi = self._page()
        self.first_page = server.action("ingest", [lo, hi])
        sub = Subscription(server, self.ticket(self.n_blocks - 10))
        sub.wait_for_block(hi - 1, timeout=120)
        sub.cancel()

    def _idle(self, server) -> None:
        deadline = time.monotonic() + 30
        while server.action("streams_active") and time.monotonic() < deadline:
            time.sleep(0.05)

    def _drive(self, server, seconds: float) -> dict:
        self._idle(server)
        start = self.n_blocks - self.backfill_blocks
        sub = Subscription(server, self.ticket(start))
        sub.wait_for_block(self.next_block - 1, timeout=120)
        n = max(2, int(seconds / self.PERIOD_S))
        pages = [self._page() for _ in range(n)]
        t0 = time.monotonic() + 0.1
        server.action("live_start", {"t0": t0, "period": self.PERIOD_S, "pages": pages})
        records = server.action("live_report")
        sub.join(timeout=self.POLL_TIMEOUT_S + 60)
        return {"sub": sub, "start": start, "pages": records, "scheduled": n}

    def _check(self, run: dict) -> tuple[int, list[str]]:
        """Exactly once, in block order, no gap or duplicate at the
        backfill/live seam; returns (operations, failures)."""
        sub, start, pages = run["sub"], run["start"], run["pages"]
        end = pages[-1]["hi"]
        hist = self.logs.slice(datagen.LOGS_PER_BLOCK * start,
                               datagen.LOGS_PER_BLOCK * (self.n_blocks - start))
        live = datagen.logs_rows(self.n_blocks, end)
        want = []
        for t in (hist, live):
            keep = t.filter(pc.equal(pc.list_element(t["topics"], 0), self.topic))
            want += list(zip(keep["blockNumber"].to_pylist(), keep["logIndex"].to_pylist()))
        got = sub.keys()
        failures = []
        if sub.error:
            failures.append(f"subscription failed: {sub.error}")
        if len(pages) < run["scheduled"]:
            failures.append(f"writer ingested {len(pages)} of {run['scheduled']} pages")
        if got != want:
            seen, dup = set(), 0
            for k in got:
                dup += k in seen
                seen.add(k)
            missing = set(want) - seen
            order = sum(1 for a, b in zip(got, got[1:]) if b[0] < a[0])
            failures.append(f"hybrid stream: {len(missing)} rows missing, {dup} duplicated, "
                            f"{order} out of block order (of {len(want)})")
        return run["scheduled"] + 1, failures

    def _lags(self, run: dict) -> tuple[list[float], list[float]]:
        """Per scheduled page: due -> last row received, and committed ->
        last row received."""
        arrival = run["sub"].arrival()
        lag, delivery = [], []
        for p in run["pages"]:
            got = arrival.get(p["hi"] - 1)
            if got is not None:
                lag.append(got - p["due"])
                delivery.append(got - p["committed"])
        return lag, delivery

    def _rate(self, run: dict) -> float:
        arrival = run["sub"].arrival()
        got = [arrival[p["hi"] - 1] for p in run["pages"] if p["hi"] - 1 in arrival]
        if len(got) < 2:
            return 0.0
        return (len(got) - 1) * self.PAGE_BLOCKS / (max(got) - min(got))

    def measure(self, server, seconds: float, trace: bool) -> Outcome:
        if trace:
            setup = server.action("trace", False)["spans"]
            run0 = self._drive(server, seconds / 2)
            self._idle(server)
            server.action("trace", True)
            run = self._drive(server, seconds / 2)
            traced = server.action("trace", False)
            runs = [run0, run]
        else:
            run = self._drive(server, seconds)
            runs = [run]
        attempted, failures = 0, []
        for r in runs:
            n, bad = self._check(r)
            attempted += n
            failures += bad
        lag, delivery = self._lags(run)
        late = [p["start"] - p["due"] for p in run["pages"]]
        e2e = {"op_p50_s": m(median(lag), "s"), "ops_per_s": m(self._rate(run), "1/s")}
        extra = {"lag_p50_s": median(lag), "pages": len(lag),
                 "delivered_blocks_per_s": self._rate(run),
                 "page_ingest_p50_s": median(p["committed"] - p["start"] for p in run["pages"])}
        if p90(lag) is not None:
            extra["lag_p90_s"] = p90(lag)
        lateness = {"writer_late_p50_s": median(late), "writer_late_max_s": max(late, default=0.0)}
        layers = {}
        if trace:
            layers = self._layers(server, setup, traced, run, delivery, late)
            untraced = median(self._lags(run0)[0])
            layers["trace.overhead_s"] = m(median(lag) - untraced, "s")
            extra["untraced_lag_p50_s"] = untraced
        return Outcome(attempted, failures, e2e, per_layer(layers), extra, lateness)

    def _layers(self, server, setup, traced, run, delivery, late) -> dict:
        spans, progress = traced["spans"], traced["progress"]
        busy = [p for p in progress if p["rows"] > 0]
        sub = run["sub"]
        jobs, tasks = jobs_per_op(
            server, [lambda: server.action("ingest", list(self._page()))] * 3)
        first = self.first_page
        return {
            **setup_layers(setup),
            "ethereum_rpc.first_page_s": m(first["committed"] - first["start"], "s"),
            "ethereum_rpc.page_s": m(median(p["committed"] - p["start"] for p in run["pages"]), "s"),
            "live.writer_late_s": m(median(late), "s"),
            "spark.jobs_per_op": m(jobs, "count"),
            "spark.tasks_per_op": m(tasks, "count"),
            "serving.do_get_s": m(median(dur(s) for s in spans if s["name"] == "serving.do_get"), "s"),
            "streaming.trigger_ms": m(median(p["ms"].get("triggerExecution", 0) for p in busy), "ms"),
            "streaming.add_batch_ms": m(median(p["ms"].get("addBatch", 0) for p in busy), "ms"),
            "streaming.batches": m(len(busy), "count"),
            "streaming.rows_per_batch": m(median(p["rows"] for p in busy), "count"),
            "streaming.delivery_s": m(median(delivery), "s"),
            "streaming.plan_hybrid_s": m(median(dur(s) for s in spans if s["name"] == "streaming.plan_hybrid"), "s"),
            "streaming.backfill_first_batch_s": m(sub.first_batch_s(), "s"),
            "streaming.tail_start_s": m(median(dur(s) for s in spans if s["name"] == "streaming.start"), "s"),
        }


class Subscription:
    """A hybrid Flight ticket read on its own thread; every chunk is
    kept with its arrival time."""

    def __init__(self, server, ticket: dict):
        self.ticket = dict(ticket, benchId=next(_ids))
        self.client = flight.FlightClient(server.location)
        self.chunks: list[tuple[float, pa.RecordBatch]] = []
        self.issued = time.monotonic()
        self.error: str | None = None
        self.reader = None
        self._cv = threading.Condition()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        try:
            self.reader = self.client.do_get(flight.Ticket(json.dumps(self.ticket).encode()))
            while True:
                try:
                    chunk = self.reader.read_chunk()
                except StopIteration:
                    break
                with self._cv:
                    self.chunks.append((time.monotonic(), chunk.data))
                    self._cv.notify_all()
        except flight.FlightCancelledError:
            pass
        except Exception as e:  # reported by the workload's check
            self.error = repr(e)
        finally:
            with self._cv:
                self._cv.notify_all()

    def wait_for_block(self, block: int, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        with self._cv:
            while not self._has(block):
                left = deadline - time.monotonic()
                if left <= 0 or not self._thread.is_alive():
                    raise RuntimeError(f"subscription never delivered block {block}: {self.error}")
                self._cv.wait(left)

    def _has(self, block: int) -> bool:
        return any(b.num_rows and pc.max(b.column("blockNumber")).as_py() >= block
                   for _, b in self.chunks[-3:])

    def cancel(self) -> None:
        if self.reader is not None:
            self.reader.cancel()
        self.join(timeout=30)

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            self.error = self.error or "stream did not end"
        self.client.close()

    def keys(self) -> list[tuple[int, int]]:
        out = []
        for _, b in self.chunks:
            out += zip(b.column("blockNumber").to_pylist(), b.column("logIndex").to_pylist())
        return out

    def arrival(self) -> dict[int, float]:
        """block -> time its (last) row arrived."""
        out = {}
        for at, b in self.chunks:
            for blk in b.column("blockNumber").to_pylist():
                out[blk] = at
        return out

    def first_batch_s(self) -> float:
        return self.chunks[0][0] - self.issued if self.chunks else 0.0


def make(name: str, seed: int, work: str, scale: float):
    return {"tickets": Tickets, "analytics": Analytics, "live": Live}[name](seed, work, scale)
