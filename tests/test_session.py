"""Session defaults that depend on the machine."""

import os

import pytest

from gdal2mbtiles_spark import session


@pytest.mark.parametrize("phys_gib, want", [
    (1, "1g"), (16, "6g"), (15.716, "6g"), (64, "25g"), (512, "32g")])
def test_default_driver_memory_fits_box(monkeypatch, phys_gib, want):
    # 40% of physical memory, clamped to [1g, 32g]
    pages = int(phys_gib * 2 ** 30 / 4096)
    monkeypatch.setattr(os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}[name])
    assert session.default_driver_memory() == want
