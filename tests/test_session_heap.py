"""The driver heap default `session.driver_mem`: an explicit
SPARK_DRIVER_MEM wins; otherwise 48g (24g with pretouch), capped at half
of physical RAM.  No JVM is started."""

from __future__ import annotations

import pytest

from document_processor_spark import session

PAGE = 4096


@pytest.fixture()
def host(monkeypatch):
    """Set the host's physical RAM in GiB, with SPARK_DRIVER_MEM unset."""
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)

    def set_ram(gib):
        pages = gib * 2**30 // PAGE
        monkeypatch.setattr(session.os, "sysconf", lambda name: {
            "SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": pages}[name])
    return set_ram


@pytest.mark.parametrize("gib, pretouch, heap", [
    (256, False, "48g"), (256, True, "24g"),
    (96, False, "48g"), (64, False, "32768m"), (64, True, "24g"),
    (16, False, "8192m"), (16, True, "8192m"),
])
def test_default_heap_is_capped_at_half_of_ram(host, gib, pretouch, heap):
    host(gib)
    assert session.driver_mem(pretouch) == heap


@pytest.mark.parametrize("pretouch", [False, True])
def test_explicit_driver_mem_wins(host, monkeypatch, pretouch):
    host(16)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "60g")
    assert session.driver_mem(pretouch) == "60g"
