"""Pipeline health/status + supervised restart — the reference's process
lifecycle surface mapped onto StreamingQuery.

- health_snapshot / serve_healthz ≅ the /healthz endpoint
  (/root/reference/cmd/cdc2vec/main.go:136-144 serving
  internal/pipeline/pipeline.go:280-289 Status()): {status, last_offset,
  batch_size, timestamp}. Spark already tracks all of it —
  StreamingQuery.status + lastProgress replace the hand-rolled counters.
- run_supervised ≅ the reconnect-forever loop
  (internal/cdc/postgres/postgres.go:67-82: on any replication error,
  retry after 5s until stopped). Spark retries *tasks* natively; this
  helper restarts the whole *query* (source connection loss, sink
  outage), resuming from the checkpoint — so unlike the reference, a
  restart never replays acknowledged work into a non-idempotent sink.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.streaming import StreamingQuery


def health_snapshot(query: StreamingQuery) -> dict:
    """{status, last_offset, batch_size, timestamp} for a running query
    (field-parity with pipeline.go:280-289; batch_size is the last
    micro-batch's input rows — the closest Spark analogue of the
    reference's pending-batch length)."""
    progress = query.lastProgress  # dict | None (no batch completed yet)
    status = query.status or {}
    return {
        "status": "ok" if query.isActive else "stopped",
        "is_data_available": bool(status.get("isDataAvailable", False)),
        "last_offset": ((progress or {}).get("sources") or [{}])[0].get("endOffset"),
        "batch_size": int((progress or {}).get("numInputRows", 0)),
        "timestamp": (progress or {}).get("timestamp")
        or time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def serve_healthz(
    query: StreamingQuery,
    port: int = 0,
    extra: Callable[[], dict] | None = None,
) -> ThreadingHTTPServer:
    """Start a daemon-thread HTTP server answering GET /healthz with the
    snapshot JSON (main.go:136-151 parity). Returns the server; its bound
    port is ``server.server_address[1]``; call ``server.shutdown()`` to
    stop (the reference's graceful HTTP shutdown, main.go:171-178).

    ``extra`` (engine extension): a callable returning additional payload
    fields — runner.boot passes its per-batch pipeline metrics (epoch,
    points_out, branch_ms — each fan-out branch's wall time, so the sink
    that sets the batch's critical path is visible — and batch_wall_ms)
    so operators see the engine-side batch outcome next to Spark's own
    input counters."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path != "/healthz":
                self.send_response(404)
                self.end_headers()
                return
            snap = health_snapshot(query)
            if extra is not None:
                try:
                    snap.update(extra() or {})
                except Exception:  # noqa: BLE001 — health must never 500
                    pass
            body = json.dumps(snap).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence per-request stderr noise
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def run_supervised(
    start_query: Callable[[], StreamingQuery],
    *,
    retry_delay_s: float = 5.0,
    max_restarts: int | None = None,
    stop: threading.Event | None = None,
) -> StreamingQuery:
    """Start a streaming query and restart it on failure (postgres.go:67-82
    semantics: retry after a fixed delay until stopped).

    ``start_query`` must create the query with a checkpointLocation so a
    restart resumes exactly where the failed attempt committed. Returns
    the first query handle that terminates cleanly; raises after
    ``max_restarts`` consecutive failures (None = retry forever, the
    reference's behavior)."""
    stop = stop or threading.Event()
    failures = 0
    while not stop.is_set():
        query = start_query()
        try:
            query.awaitTermination()
            return query  # clean stop
        except Exception:
            failures += 1
            if max_restarts is not None and failures > max_restarts:
                raise
            if stop.wait(retry_delay_s):
                return query
    raise RuntimeError("supervisor stopped before the query started")
