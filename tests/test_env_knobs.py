"""The package reads only a fixed set of environment variables (no JVM).

Every env var the engine reads is a setting that tests and benchmarks
must cover; a tuning knob added for one experiment and never removed
doubles that surface.  Deployment settings (core count, heap, the
stub stream root) and the two adaptive-strategy thresholds that tests
and ``scripts/plan_audit.py`` force to 0 are the whole list.
"""

from __future__ import annotations

import pathlib
import re

import sfs3_kinesis_spark

ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_KINESIS_STUB_ROOT",
    "SFS3K_DRIVER_CC_MAX_EDGES",
    "SFS3K_DRIVER_DBSCAN_MAX_CELLS",
}

_READ = re.compile(r"""(?:environ\.get\(|getenv\(|environ\[)\s*["'](\w+)["']""")


def test_package_reads_only_allowed_env_vars():
    root = pathlib.Path(sfs3_kinesis_spark.__file__).parent
    bad = []
    for p in sorted(root.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if not re.search(r"\benviron\b|\bgetenv\b", line):
                continue
            names = _READ.findall(line)
            # a read whose name is not a literal cannot be checked
            if not names or set(names) - ALLOWED_ENV:
                bad.append(f"{p.relative_to(root)}:{i}: {line.strip()}")
    assert bad == []
