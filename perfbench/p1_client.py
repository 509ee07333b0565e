"""Closed-loop load generator of the ``p1_service`` workload.

Runs in its own process, apart from the engine.  All ``--threads``
clients start together.  Each sends a synchronous ``POST /p1`` with its
next seeded payload, holds the socket until the terminal answer, and
after a 200 reads the state document with ``GET /state/<txn>``; then it
sends the next one.

The window's ramp-up ends when every client has finished its first
request (the clients' first requests arrive as one burst).  A client
stops once ``--seconds`` have passed since then and the clients
together have finished at least ``MIN_REQUESTS`` requests since then
(or once ``MAX_SECONDS`` have passed since the start).

Prints one JSON object: the window start and one record per request.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import p1_payloads  # noqa: E402

#: a held request may take the engine's 20 s budget plus queueing
HTTP_TIMEOUT_S = 60.0
#: requests the clients finish at least after the ramp-up, however slow
#: the engine, so that the window yields a median
MIN_REQUESTS = 8
#: no client starts a request after this many seconds
MAX_SECONDS = 120.0


def _call(port: int, method: str, path: str, body: bytes | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
    try:
        headers = {"Content-Type": "application/json"} if body is not None else {}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def run(port: int, seed: int, seconds: float, threads: int) -> dict:
    records: list[dict] = []
    lock = threading.Lock()
    t0 = time.time()

    def ramp_end() -> float | None:
        firsts: dict[int, float] = {}
        for r in records:
            firsts.setdefault(r["client"], r["t_done"])
        return max(firsts.values()) if len(firsts) == threads else None

    def client(i: int) -> None:
        payloads = p1_payloads(seed, i)
        while True:
            now = time.time()
            with lock:
                t_ramp = ramp_end()
                done = sum(1 for r in records if t_ramp is not None and r["t_done"] > t_ramp)
            if now >= t0 + MAX_SECONDS or (t_ramp is not None and now >= t_ramp + seconds
                                           and done >= MIN_REQUESTS):
                return
            poison, body = next(payloads)
            rec: dict = {"client": i, "poison": poison}
            ts = time.time()
            try:
                code, reply = _call(port, "POST", "/p1", body)
                rec.update(code=code, status=(reply or {}).get("status"), txn=(reply or {}).get("txn_id"))
            except (OSError, http.client.HTTPException, ValueError) as exc:
                rec.update(code=0, status=None, txn=None, error=repr(exc))
            rec["t_start"], rec["t_end"] = ts, time.time()
            if rec["code"] == 200 and rec["txn"]:
                tg = time.time()
                try:
                    gcode, doc = _call(port, "GET", f"/state/{rec['txn']}")
                except (OSError, http.client.HTTPException, ValueError) as exc:
                    gcode, doc = 0, {"error": repr(exc)}
                rec.update(get_ms=(time.time() - tg) * 1000.0, get_code=gcode, doc=doc)
            rec["t_done"] = time.time()
            with lock:
                records.append(rec)

    workers = [threading.Thread(target=client, args=(i,), name=f"client-{i}") for i in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return {"t0": t0, "records": records}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()
    out = run(a.port, a.seed, a.seconds, a.threads)
    sys.stdout.write(json.dumps(out, default=str))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
