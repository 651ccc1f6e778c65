"""Three determinism-critical constructions have exactly one spelling
each:

* the k-gram builder — ``rules.sliding`` is the only ``arrays_zip``
  call in webfilter/ (its docstring says why the shifted-slice form
  is the only fast one);
* the cross-engine md5-prefix hash — ``sketches.md5_prefix_hash`` is
  the only ``conv(substring(md5(...)))`` in webfilter/ and jobs/
  (every DuckDB oracle replays it bit for bit);
* the char-n-gram featurizer's codepoint layout — ``kernels/mix.py``
  is the only module in webfilter/ that encodes to utf-32-le, so
  langid and the quality classifier train and score on one layout;
* the plan-node count — ``tests/_plan.py`` ``nodes`` is the only
  ``.count("...Exchange...")`` in tests/: a raw substring count of
  plan text reads each node of a formatted plan twice, counts a
  BroadcastExchange as an Exchange, and reads 0 whatever the plan
  once the spelling it counts is no longer printed.

Pure AST, so comments and docstrings do not count: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _callee(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _is_md5_prefix(node: ast.AST) -> bool:
    """conv(substring(md5(...), ...), ...) — any spelling of the calls."""
    for name in ("conv", "substring", "md5"):
        if _callee(node) != name:
            return False
        node = node.args[0] if node.args else None
    return True


def _is_utf32_encode(node: ast.AST) -> bool:
    if _callee(node) != "encode":
        return False
    args = node.args[:1] + [k.value for k in node.keywords if k.arg == "encoding"]
    return any(
        isinstance(a, ast.Constant) and isinstance(a.value, str)
        and a.value.lower().replace("_", "-") == "utf-32-le"
        for a in args
    )


def _is_exchange_count(node: ast.AST) -> bool:
    return (
        _callee(node) == "count"
        and isinstance(node.func, ast.Attribute)
        and any(
            isinstance(a, ast.Constant) and isinstance(a.value, str) and "Exchange" in a.value
            for a in node.args
        )
    )


def _offenders(dirs: tuple[str, ...], owner: str, hit) -> list[str]:
    out = []
    for d in dirs:
        for path in sorted((REPO / d).rglob("*.py")):
            rel = path.relative_to(REPO).as_posix()
            if rel == owner:
                continue
            tree = ast.parse(path.read_text(), filename=rel)
            out += [f"{rel}:{n.lineno}" for n in ast.walk(tree) if hit(n)]
    return out


def test_arrays_zip_only_in_rules_sliding():
    found = _offenders(
        ("webfilter",), "webfilter/rules.py", lambda n: _callee(n) == "arrays_zip"
    )
    assert not found, f"build k-grams with rules.sliding, not arrays_zip: {found}"


def test_md5_prefix_only_in_sketches():
    found = _offenders(("webfilter", "jobs"), "webfilter/sketches.py", _is_md5_prefix)
    assert not found, f"use sketches.md5_prefix_hash: {found}"


def test_utf32_encode_only_in_featurizer():
    found = _offenders(("webfilter",), "webfilter/kernels/mix.py", _is_utf32_encode)
    assert not found, f"featurize with kernels.mix.codepoints: {found}"


def test_plan_nodes_counted_only_by_plan_helper():
    found = _offenders(("tests",), "tests/_plan.py", _is_exchange_count)
    assert not found, f"count plan nodes with _plan.nodes: {found}"
