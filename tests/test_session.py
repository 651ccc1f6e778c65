"""Session setup: defaults that depend on the host, and shipping the
package to executors."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from webfilter.session import default_driver_mem


def test_default_driver_mem_fits_host_ram():
    """The heap default derives from the host's RAM, never a fixed
    size a small host cannot back."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) << 20 <= ram


def test_ship_package_refuses_changed_package_under_live_context():
    """Spark refuses a same-named zip with different bytes; that must
    fail the ship with a restart hint, not surface later as task
    failures on a stale package."""
    from webfilter.session import ship_package

    class _Ctx:
        def addPyFile(self, path):
            raise Exception(
                f"File webfilter_pkg.zip exists and does not match contents of file:{path}"
            )

    class _Spark:
        sparkContext = _Ctx()

    with pytest.raises(RuntimeError, match="restart the Spark session"):
        ship_package(_Spark())


def test_ship_package_staging_dir_is_removed_at_exit():
    """Each ship stages a ~1 MB zip in a fresh temp dir. The context
    serves it while it lives, so the dir goes at interpreter exit,
    and no dir outlives the process."""
    code = (
        "import os\n"
        "from webfilter.session import ship_package\n"
        "class _Ctx:\n"
        "    def addPyFile(self, path):\n"
        "        print(os.path.isfile(path), path)\n"
        "class _Spark:\n"
        "    sparkContext = _Ctx()\n"
        "ship_package(_Spark())\n"
    )
    root = Path(__file__).resolve().parent.parent
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, timeout=60, check=True,
    )
    existed, path = res.stdout.split()
    staged = Path(path)
    assert existed == "True", res.stdout
    assert staged.name == "webfilter_pkg.zip", res.stdout
    assert staged.parent.name.startswith("webfilter_pyfiles_")
    assert not staged.parent.exists()
