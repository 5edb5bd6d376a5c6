"""Query lifecycle: status, restart policy, and a health endpoint for the
five concurrently-running StreamingQueries.

Reference parity:
- ABBankStreamsApp.java:55-68 installs an uncaught-exception handler with a
  REPLACE_THREAD restart policy — here ``PipelineSupervisor.poll_once``
  restarts a failed query from its checkpoint (Structured Streaming's
  checkpoint makes the restart at-least-once safe, same guarantee as the
  reference's task redelivery).
- HealthServer.java:40-52 serves liveness/readiness off the Streams state —
  here ``healthz()`` folds per-query state into one (http_code, body) pair
  and ``serve_health`` exposes it on a stdlib HTTP server thread.

The supervisor deals in *builders* (callables returning a started
StreamingQuery), not query objects: a restart must construct a NEW query
against the same checkpoint dir — a stopped StreamingQuery cannot be
restarted in place.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable
from typing import Any

from pyspark.sql.streaming import StreamingQuery


def _progress_summary(p: dict[str, Any] | None) -> dict[str, Any] | None:
    """Operator-facing slice of a StreamingQuery ``lastProgress`` dict:
    the fields that distinguish a healthy pipeline from a stuck one.
    None until the first micro-batch completes. Listener-bus metrics are
    per-batch AGGREGATES (a handful of numbers regardless of data size),
    so this is free at any scale."""
    if not p:
        return None
    return {
        "batch_id": p.get("batchId"),
        "timestamp": p.get("timestamp"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
        "batch_duration_ms": p.get("batchDuration"),
        "state_rows_total": sum(
            # `or 0`, not a default: a non-stateful operator entry can
            # carry an explicit null for numRowsTotal (r9 ADVICE) and
            # int(None) would break status()/healthz
            int(op.get("numRowsTotal") or 0)
            for op in p.get("stateOperators") or []
        ),
    }


class PipelineSupervisor:
    """Supervises named streaming pipelines with a bounded restart policy."""

    def __init__(self, max_restarts: int = 3):
        self.max_restarts = max_restarts
        self._builders: dict[str, Callable[[], StreamingQuery]] = {}
        self._queries: dict[str, StreamingQuery] = {}
        self._restarts: dict[str, int] = {}
        self._last_error: dict[str, str | None] = {}

    def register(self, name: str, builder: Callable[[], StreamingQuery]) -> None:
        self._builders[name] = builder
        self._restarts[name] = 0
        self._last_error[name] = None

    def start_all(self) -> None:
        for name, builder in self._builders.items():
            if name not in self._queries:
                self._queries[name] = builder()

    def status(self) -> dict[str, dict[str, Any]]:
        """Per-query view of the StreamingQuery status/exception surface,
        including a ``progress`` summary of ``lastProgress`` (rows/sec,
        batch duration, state rows). The reference's HealthServer is
        liveness-only; surfacing throughput here lets an operator see a
        STUCK-but-alive pipeline (rate 0, stale timestamp) from the same
        endpoint — the StreamingQuery.status/lastProgress surface Scala
        users poll, folded into /healthz (r8 verdict task 5)."""
        out: dict[str, dict[str, Any]] = {}
        for name, q in self._queries.items():
            exc = q.exception()
            out[name] = {
                "id": str(q.id),
                "active": q.isActive,
                "exception": str(exc) if exc else None,
                "last_error": self._last_error[name],
                "restarts": self._restarts[name],
                "progress": _progress_summary(q.lastProgress),
            }
        return out

    def poll_once(self) -> list[str]:
        """One supervision pass: restart every failed query that still has
        restart budget. Returns the names restarted this pass."""
        restarted: list[str] = []
        for name, q in list(self._queries.items()):
            if q.isActive or q.exception() is None:
                continue
            self._last_error[name] = str(q.exception())
            if self._restarts[name] >= self.max_restarts:
                continue
            self._restarts[name] += 1
            self._queries[name] = self._builders[name]()
            restarted.append(name)
        return restarted

    def await_all(self, timeout_s: float = 120.0, poll_s: float = 0.5) -> None:
        """Wait until every query has terminated (availableNow semantics),
        supervising failures along the way."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            self.poll_once()
            if all(not q.isActive for q in self._queries.values()) and not any(
                q.exception() is not None and self._restarts[n] < self.max_restarts
                for n, q in self._queries.items()
            ):
                return
            time.sleep(poll_s)

    def healthz(self) -> tuple[int, str]:
        """(http_code, json_body): 200 iff no query sits in a failed state
        with exhausted restart budget (HealthServer.java:40-52 analog)."""
        st = self.status()
        unhealthy = {
            n: s
            for n, s in st.items()
            if not s["active"]
            and s["exception"] is not None
            and s["restarts"] >= self.max_restarts
        }
        code = 503 if unhealthy else 200
        return code, json.dumps(
            {"status": "DOWN" if unhealthy else "UP", "queries": st}
        )

    def stop_all(self) -> None:
        for q in self._queries.values():
            if q.isActive:
                q.stop()


def serve_health(
    supervisor: PipelineSupervisor, port: int = 0
) -> tuple[Any, int, threading.Thread]:
    """Expose supervisor.healthz() at GET /healthz on a daemon thread.
    Returns (server, bound_port, thread); call server.shutdown() to stop."""
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            if self.path != "/healthz":
                self.send_response(404)
                self.end_headers()
                return
            code, body = supervisor.healthz()
            payload = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *args):  # silence per-request stderr noise
            return

    server = HTTPServer(("127.0.0.1", port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, server.server_address[1], thread
