"""Run the full corpus against the DuckDB oracle at a given sf dir —
the local twin of the driver's CORRECTNESS gate.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
(extra args restrict the run to queries whose name starts with any
of the given prefixes; a ``-prefix`` argument EXCLUDES matching
names — used at sf0.1 to skip the handful of O(n^2)-by-design
DuckDB oracles documented in SCALE.md, whose ORACLE side takes tens
of minutes at 5000 docs while the engine's pruned plan is seconds)

``--times-out=PATH`` additionally writes a per-query timing ledger
(build/collect/oracle wall seconds + row counts + host context) —
the full-registry visibility artifact of r06 verdict next-round #4:
most registry queries are never bench-timed, so a regression in one
of them was previously invisible until it hit an oracle timeout.
Compare ledgers round-over-round and chase >1.5x moves (after
reading the noise-band notes in BASELINE.md).

``--threads=N`` runs N queries concurrently (default 1 = the
driver's serial behavior).  Each worker gets its OWN DuckDB
connection (a connection is not safe for concurrent cursors); Spark
job submission is thread-safe and local[32] interleaves the jobs.
Measured: the full 315-query sf0.01 sweep 25 min serial -> 65 s at
--threads=8 (serial time is dominated by per-query scheduler idle —
single queries rarely fill 32 cores — which concurrency packs).
Concurrency also doubles as a standing soak of the engine's
process-global state (the keyed-frame LRU, the retry-demo store
bookkeeping — the r06-verdict races locked down in round 7): a
thread-safety regression shows up here as a FAIL long before a
driver runs two streaming queries at once.  Per-query wall times
under --threads overlap, so don't feed a threaded run's ledger into
round-over-round timing comparisons — use --threads=1 for ledgers.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, ".")

from sfs3_kinesis_spark.plans import REGISTRY  # noqa: E402
from sfs3_kinesis_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duck_connection  # noqa: E402


def run_one(spark, sf_dir: str, name: str, con) -> tuple[str, bool | None, str, dict]:
    """Build + compare one query; returns (name, ok, detail, timings).
    ok=None marks a rows-only entry (no oracle)."""
    spec = REGISTRY[name]
    timings: dict = {}
    t0 = time.time()
    try:
        tb = time.time()
        df = spec.spark(spark, sf_dir)
        timings["build_s"] = round(time.time() - tb, 3)
        if spec.oracle is None:
            tc = time.time()
            n = df.count()
            timings["spark_s"] = round(time.time() - tc, 3)
            timings["rows"] = n
            timings["total_s"] = round(time.time() - t0, 3)
            return name, None, f"rows-only ({n} rows)", timings
        ok, detail = compare(df, con, spec.oracle, timings=timings)
    except Exception as exc:  # noqa: BLE001
        ok, detail = False, f"exception: {exc}"
    timings["total_s"] = round(time.time() - t0, 3)
    return name, ok, detail, timings


def run_all(spark, sf_dir: str, names, threads: int = 1):
    """Yield :func:`run_one` results for ``names``, in order.  With
    ``threads > 1`` the queries run on a thread pool; each worker
    thread owns one DuckDB connection."""
    if threads == 1:
        con = duck_connection(sf_dir)
        for name in names:
            yield run_one(spark, sf_dir, name, con)
        return
    tls = threading.local()

    def worker(name: str):
        con = getattr(tls, "con", None)
        if con is None:
            con = tls.con = duck_connection(sf_dir)
        return run_one(spark, sf_dir, name, con)

    with ThreadPoolExecutor(max_workers=threads) as pool:
        yield from pool.map(worker, names)


def main() -> int:
    args = list(sys.argv[1:])
    times_out = None
    threads = 1
    for a in list(args):
        if a.startswith("--times-out="):
            times_out = a.split("=", 1)[1]
            args.remove(a)
        elif a.startswith("--threads="):
            threads = max(1, int(a.split("=", 1)[1]))
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    includes = tuple(a for a in args[1:] if not a.startswith("-"))
    excludes = tuple(a[1:] for a in args[1:] if a.startswith("-"))
    names = sorted(
        n
        for n in REGISTRY
        if (not includes or n.startswith(includes))
        and not (excludes and n.startswith(excludes))
    )
    spark = get_spark("oracle-check")
    failures = 0
    ledger: dict[str, dict] = {}

    for name, ok, detail, timings in run_all(spark, sf_dir, names, threads):
        ledger[name] = timings
        if ok is None:
            print(f"  {name:40s} {detail} [{timings['total_s']:.1f}s]")
            continue
        if not ok:
            failures += 1
        status = "OK " if ok else "FAIL"
        print(f"  {name:40s} {status} {detail} [{timings['total_s']:.1f}s]")

    if times_out:
        try:
            load_1m = round(os.getloadavg()[0], 2)
        except OSError:
            load_1m = None
        with open(times_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(names),
                    "failures": failures,
                    "threads": threads,
                    "load_1m": load_1m,
                    "queries": ledger,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"timing ledger -> {times_out}")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {len(names) - failures}/{len(names)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
