"""Physical-plan text for the plan-shape gates, and the one way they
count and read its nodes."""

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


def final_plan(plan: str) -> str:
    """The details of the nodes under "== Final Plan ==" of a formatted
    plan taken after the frame ran. Its details section also lists the
    nodes of the initial plan, which the executed query replaced."""
    tree, _, details = plan.partition("\n\n\n")
    ids = set(re.findall(r"\((\d+)\)", tree.split("== Initial Plan ==")[0]))
    return "\n\n".join(
        b for b in details.split("\n\n")
        if (m := re.match(r"\((\d+)\) ", b)) and m.group(1) in ids
    )


def blocks(plan: str, kind: str) -> dict[int, str]:
    """Node id -> details block of each physical ``kind`` node in a
    formatted plan. Its details section lists each node once, as
    "(<id>) <Node>", so a node is not read twice through the tree
    section, and "Exchange" does not match a "BroadcastExchange".
    Ids count up from the leaves: a node with one child has the id
    after that child's."""
    return {
        int(m.group(1)): m.group(0)
        for m in re.finditer(rf"^\((\d+)\) {kind}\b.*?(?=\n\n|\Z)", plan, re.M | re.S)
    }


def nodes(plan: str, kind: str) -> int:
    """Physical ``kind`` nodes in a formatted plan (see ``blocks``)."""
    return len(blocks(plan, kind))
