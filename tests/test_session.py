"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from webfilter.session import default_driver_mem


def test_default_driver_mem_fits_host_ram():
    """The heap default derives from the host's RAM, never a fixed
    size a small host cannot back."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) << 20 <= ram
