"""SparkSession defaults that must fit whatever box runs them (no JVM)."""

from __future__ import annotations

import pytest

from sfs3_kinesis_spark import session


@pytest.mark.parametrize(
    "phys_gib, heap",
    [(15.6, "7g"), (16, "8g"), (2, "1g"), (1, "1g"), (0.5, "1g"), (96, "48g"), (512, "48g")],
)
def test_default_driver_memory_is_half_the_box(monkeypatch, phys_gib, heap):
    page = 4096
    pages = int(phys_gib * 2**30) // page
    monkeypatch.setattr(
        session.os, "sysconf", {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}.__getitem__
    )
    assert session.default_driver_memory() == heap
