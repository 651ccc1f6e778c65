"""Every webfilter module imports without a SparkSession.

Jobs, executors and the AST guard import modules before any session
exists, so nothing may need one at import time (e.g. a decorated
``@pandas_udf`` with a DDL-string type at module level). Each module
is imported in a fresh interpreter: this test process may already
hold a session, which would hide the failure.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

MODULES = sorted(
    ".".join(p.relative_to(REPO).with_suffix("").parts).removesuffix(".__init__")
    for p in (REPO / "webfilter").rglob("*.py")
)


@pytest.mark.parametrize("module", MODULES)
def test_module_imports_without_spark_session(module):
    r = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
