"""HTTP ingress/egress for the engine — the reference's ACTUAL
service surface (S7/S8), as a real socket, stdlib-only.

The reference exposes ``POST /p1``: the polling variant starts a
Step Functions execution and answers only when the pipeline reaches
a terminal state — 200 for SUCCEEDED, 400 for FAILED, 500 when the
20 s request budget lapses or the poll errors
(``/root/reference/svcsample/pollingsvc.js:126-141`` and the
kinesis-correlated twin ``svcsample/svckinesis.js:102-124,157-165``).
Rounds 1–3 declared the listener a non-goal and shipped the library
verb (``Engine.submit``); this module closes that gap with
``http.server`` (no dependency — the container allows no installs):

* ``POST /p1``             — submit, await terminal, answer
  200/400/500 exactly like the reference (body carries txn_id +
  status JSON either way).  The submit publishes one request file
  atomically and runs no Spark job; the held request wakes on each
  state-store commit, not on a timer.  A body over
  ``MAX_BODY_BYTES`` answers 413, a negative or malformed
  ``Content-Length`` 400, before anything is read;
* ``POST /p1?mode=async``  — submit and answer 202 immediately with
  the txn id (the affordance the reference lacks: its client holds
  the socket for the whole pipeline);
* ``GET  /status/<txn>``   — the describeExecution read
  (pollingsvc.js:95-111): 200 with the status, 404 for an unknown or
  still-unstarted txn;
* ``GET  /state/<txn>``    — the whole enriched S3 state document
  (aprocess.js:21-24).

Threading: ``ThreadingHTTPServer`` on a daemon thread; each request
thread calls Engine verbs, which are thread-safe and run no Spark job
(an atomic one-row file publish, a keyed pyarrow read of the state
store under its commit lock, or a wait on that lock's commit
condition).  At scale
this facade stays O(1) per request exactly like the library verbs;
the HTTP layer is a veneer, never a data plane.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlparse

from sfs3_kinesis_spark.engine import Engine

#: reference request budget (pollingsvc.js:133 — timeout(20*1000))
REQUEST_BUDGET_S = 20.0

#: largest ``POST /p1`` body read.  A body becomes one request row,
#: so it also bounds the Engine's driver-side micro-batch pull at
#: ``MAX_BATCH_ROWS`` (256) x 1 MiB = 256 MiB of request payload.
MAX_BODY_BYTES = 1 << 20


class EngineHttpService:
    """Bind an :class:`Engine` to an HTTP listener.

    ``port=0`` binds an ephemeral port; read it back from
    :attr:`port` after :meth:`start`.
    """

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        request_budget_s: float = REQUEST_BUDGET_S,
    ):
        self.engine = engine
        self._host, self._port = host, port
        self.budget = request_budget_s
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        if self._server is None:
            raise RuntimeError("service not started")
        return self._server.server_address[1]

    def start(self) -> int:
        service = self

        class Handler(BaseHTTPRequestHandler):
            # bound socket-read timeout: a client that under-sends its
            # declared Content-Length otherwise pins this handler
            # thread in rfile.read() forever (one thread per request
            # under ThreadingHTTPServer — unbounded accumulation)
            timeout = REQUEST_BUDGET_S + 10.0

            def log_message(self, fmt, *args):  # silence per-request stderr
                pass

            def _reply(self, code: int, payload: dict) -> None:
                # default=str: state documents carry timestamps etc.
                body = json.dumps(payload, default=str).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                # any Engine-verb failure must surface as the contract's
                # 500 (pollingsvc.js:126-131 routes poll errors to 500),
                # never a dropped connection with a server-side traceback
                try:
                    self._post()
                except Exception as exc:  # noqa: BLE001
                    try:
                        self._reply(500, {"error": str(exc)})
                    except OSError:
                        pass  # client already gone

            def _post(self):
                url = urlparse(self.path)
                if url.path != "/p1":
                    self._reply(404, {"error": "unknown path"})
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                except ValueError:
                    self._reply(400, {"error": "bad Content-Length"})
                    return
                # checked before any read: a negative n reads to EOF
                if n < 0:
                    self._reply(400, {"error": "negative Content-Length"})
                    return
                if n > MAX_BODY_BYTES:
                    self._reply(413, {"error": f"body over {MAX_BODY_BYTES} bytes"})
                    return
                raw = self.rfile.read(n).decode("utf-8") if n else "{}"
                try:
                    json.loads(raw)  # malformed JSON → 400 before submit
                except ValueError:
                    self._reply(400, {"error": "request body is not JSON"})
                    return
                txn_id = service.engine.submit(raw)
                if "mode=async" in (url.query or ""):
                    self._reply(202, {"txn_id": txn_id, "status": "RUNNING"})
                    return
                status = service.engine.await_completion(txn_id, timeout_s=service.budget)
                # the reference's terminal routing (svckinesis.js:102-124):
                # SUCCEEDED → 200, FAILED → 400, budget lapse → 500
                code = {"SUCCEEDED": 200, "FAILED": 400}.get(status, 500)
                self._reply(code, {"txn_id": txn_id, "status": status})

            def do_GET(self):
                try:
                    self._get()
                except Exception as exc:  # noqa: BLE001
                    try:
                        self._reply(500, {"error": str(exc)})
                    except OSError:
                        pass

            def _get(self):
                parts = urlparse(self.path).path.strip("/").split("/")
                if len(parts) == 2 and parts[0] == "status":
                    status = service.engine.status(parts[1])
                    if status is None:
                        self._reply(404, {"txn_id": parts[1], "status": None})
                    else:
                        self._reply(200, {"txn_id": parts[1], "status": status})
                elif len(parts) == 2 and parts[0] == "state":
                    doc = service.engine.state_document(parts[1])
                    if doc is None:
                        self._reply(404, {"txn_id": parts[1]})
                    else:
                        self._reply(200, doc)
                else:
                    self._reply(404, {"error": "unknown path"})

        self._server = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="engine-http", daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
