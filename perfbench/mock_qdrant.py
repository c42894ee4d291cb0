"""Mock Qdrant server, run as its own process.

Speaks the REST subset ``cdc2vec_spark/sinks/qdrant.py`` uses: collection
info/create, ``PUT .../points`` upserts and ``POST .../points/delete``
deletes by id. It keeps only the live point-id set: upsert bodies are
scanned for point ids with a regex instead of being parsed, so vectors
are never decoded and the mock stays cheap next to the engine.

``GET /stats`` returns the request, point and non-2xx counters and the
process's own CPU seconds, ``GET /live`` the live point ids, and
``POST /reset`` clears the state.

Run: ``python3 perfbench/mock_qdrant.py`` — prints the bound port on its
first stdout line and serves until stdin closes or SIGTERM.
"""

from __future__ import annotations

import http.server
import json
import re
import signal
import sys
import threading
import time

_POINT_ID = re.compile(rb'\{"id":(\d+),')


class State:
    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.collections: dict[str, int] = {}
        self.live: set[int] = set()
        self.requests = 0
        self.points = 0
        self.errors = 0


class Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    state: State

    def log_message(self, *args) -> None:
        pass

    def _reply(self, code: int, doc: dict) -> None:
        body = json.dumps(doc).encode()
        if code >= 300 and "/points" in self.path:
            self.state.errors += 1
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> bytes:
        return self.rfile.read(int(self.headers.get("Content-Length") or 0))

    def _collection(self) -> str:
        parts = self.path.split("?")[0].strip("/").split("/")
        return parts[1] if len(parts) > 1 and parts[0] == "collections" else ""

    def do_GET(self) -> None:
        st = self.state
        if self.path == "/stats":
            self._reply(200, {
                "requests": st.requests, "points": st.points, "errors": st.errors,
                "cpu_s": time.process_time(),
            })
            return
        if self.path == "/live":
            self._reply(200, {"live": sorted(st.live)})
            return
        dim = st.collections.get(self._collection())
        if dim is None:
            self._reply(404, {"status": {"error": "Not found"}})
        else:
            self._reply(200, {"result": {"config": {"params": {"vectors": {"size": dim}}}}})

    def do_PUT(self) -> None:
        st, body = self.state, self._body()
        name = self._collection()
        if "/points" not in self.path:
            st.collections[name] = int(json.loads(body)["vectors"]["size"])
            self._reply(200, {"result": True})
            return
        st.requests += 1
        if name not in st.collections:
            self._reply(404, {"status": {"error": "collection not found"}})
            return
        ids = [int(m) for m in _POINT_ID.findall(body)]
        st.live.update(ids)
        st.points += len(ids)
        self._reply(200, {"result": {"status": "completed"}})

    def do_POST(self) -> None:
        st, body = self.state, self._body()
        if self.path == "/reset":
            st.reset()
            self._reply(200, {"result": True})
            return
        if "/points/delete" not in self.path:
            self._reply(404, {"status": {"error": "unsupported"}})
            return
        st.requests += 1
        ids = json.loads(body).get("points")
        if self._collection() not in st.collections or ids is None:
            self._reply(400, {"status": {"error": "bad delete"}})
            return
        st.live.difference_update(int(i) for i in ids)
        st.points += len(ids)
        self._reply(200, {"result": {"status": "completed"}})


def main() -> None:
    Handler.state = State()
    # single-threaded on purpose: requests apply in arrival order
    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    print(srv.server_address[1], flush=True)

    def stop(*_):
        threading.Thread(target=srv.shutdown, daemon=True).start()

    signal.signal(signal.SIGTERM, stop)
    # the parent holds our stdin open; EOF means it is gone
    threading.Thread(target=lambda: (sys.stdin.read(), stop()), daemon=True).start()
    srv.serve_forever(poll_interval=0.1)
    srv.server_close()


if __name__ == "__main__":
    main()
