"""Physical-plan text for the plan-shape gates, and the one way they
count its nodes."""

from __future__ import annotations

import contextlib
import io
import re


def formatted(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes(plan: str, kind: str) -> int:
    """Physical ``kind`` nodes in a formatted plan. Its details section
    lists each node once, as "(<id>) <Node>", so a node is not counted
    twice through the tree section, and "Exchange" does not count a
    "BroadcastExchange"."""
    return len(re.findall(rf"^\(\d+\) {kind}\b", plan, re.M))
