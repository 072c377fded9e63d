"""SparkSession factory defaults that need no JVM to check."""

from __future__ import annotations

import os

from database_syncer_spark import session


def test_driver_memory_default_fits_the_host(monkeypatch):
    """In local mode the driver heap is the executors' heap too; a
    default above physical memory lets the JVM grow until the kernel
    OOM-kills it. On a 15 GiB host the default is half of it, and
    SPARK_GRAFT_DRIVER_MEM still wins when set."""
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (15 << 30) // page}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    default = session._driver_memory()
    assert default.endswith("m") and int(default[:-1]) <= 7.5 * 1024
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"


def test_driver_memory_default_capped_at_48g(monkeypatch):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (512 << 30) // page}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_memory() == f"{48 << 10}m"
