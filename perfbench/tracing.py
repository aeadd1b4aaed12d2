"""Spans around the engine's layer boundaries, recorded from outside.

``install`` replaces module attributes and methods at each boundary
with timing wrappers; nothing inside the engine package changes. A span
is ``(id, name, start, end, parent, request, attrs)`` with monotonic
times; spans of one Flight ticket share the request id the ticket
carries as ``benchId``. Spans stay in memory until the benchmark asks
for them.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, request=None, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent["request"] if parent else None),
            "attrs": attrs, "start": time.monotonic(),
        }
        stack.append(rec)
        try:
            yield attrs
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def spanned(self, inner, name: str, request_of=None, on_result=None):
        """``inner`` with each call recorded as a span. ``request_of``
        maps the call's arguments to a request id; ``on_result`` adds
        attributes from the result."""
        tracer = self

        def wrapped(*args, **kwargs):
            request = request_of(*args, **kwargs) if request_of else None
            with tracer.span(name, request) as attrs:
                result = inner(*args, **kwargs)
                if on_result is not None:
                    attrs.update(on_result(result))
                return result

        wrapped.__wrapped__ = inner
        return wrapped

    def wrap(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self.spanned(getattr(owner, attr), name, **kw))

    def take(self) -> list[dict]:
        with self._lock:
            out, self.spans = self.spans, []
        return out


def _ticket_request(server, context, ticket):
    try:
        return json.loads(ticket.ticket).get("benchId")
    except ValueError:
        return None


def install(tracer: Tracer) -> None:
    """Wrap every boundary the benchmark reports on."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from web3_flight_rpc_server_spark import registry, session
    from web3_flight_rpc_server_spark.operators import dedup
    from web3_flight_rpc_server_spark.serving import flight_server
    from web3_flight_rpc_server_spark.sources import tables
    from web3_flight_rpc_server_spark.streaming import backfill

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(tables, "load_table", "tables.load_table")
    # flight_server binds plan_request by name at import
    tracer.wrap(flight_server, "plan_request", "plans.plan_request")
    tracer.wrap(backfill, "plan_hybrid", "streaming.plan_hybrid")
    tracer.wrap(dedup, "release_caches", "operators.release_caches",
                on_result=lambda n: {"released": n})
    tracer.wrap(flight_server.EngineFlightServer, "do_get", "serving.do_get",
                request_of=_ticket_request)
    tracer.wrap(DataFrame, "toArrow", "spark.toArrow")
    tracer.wrap(DataFrameWriter, "parquet", "spark.write_parquet")
    tracer.wrap(DataStreamWriter, "start", "streaming.start")
    registry.all_queries()
    for name, q in list(registry.REGISTRY.items()):
        registry.REGISTRY[name] = dataclasses.replace(
            q, fn=tracer.spanned(q.fn, f"queries.build.{name}"))


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    covered, cursor = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], cursor), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return (span["end"] - span["start"]) - covered
