"""Session defaults that are pure functions of the host (no JVM)."""

from __future__ import annotations

from qcflow.session import default_driver_memory

GiB = 1024**3


def test_driver_memory_is_half_of_ram_capped_at_48g():
    assert default_driver_memory(16 * GiB) == "8192m"
    assert default_driver_memory(int(15.7 * GiB)) == f"{int(15.7 * GiB) // 2 // 2**20}m"
    assert default_driver_memory(96 * GiB) == "49152m"  # the cap: 48g
    assert default_driver_memory(512 * GiB) == "49152m"
    assert default_driver_memory(2 * GiB) == "1024m"


def test_driver_memory_defaults_to_this_host():
    import os

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = int(default_driver_memory().rstrip("m"))
    assert 0 < mb <= min(phys // 2**20 // 2, 48 * 1024)
