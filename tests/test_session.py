"""Driver-memory default of get_spark (fastlink_spark/session.py)."""

import os

from fastlink_spark import session


def test_default_driver_mem_is_half_of_ram_capped(monkeypatch):
    page = 4096

    def sysconf(total_bytes):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": total_bytes // page}
        return lambda name: sizes[name]

    monkeypatch.setattr(os, "sysconf", sysconf(15 * 2**30))
    assert session._default_driver_mem() == f"{15 * 1024 // 2}m"
    monkeypatch.setattr(os, "sysconf", sysconf(256 * 2**30))
    assert session._default_driver_mem() == f"{24 * 1024}m"
