"""Every option in webfilter/ is set by some call site, or it is a
constant.

An option is a defaulted parameter of a top-level function or of a
method of a top-level class, or a defaulted field of a top-level
dataclass. It counts as set when a call of its name in webfilter/,
jobs/, perfbench/, bench*.py, __spark_entry__.py or tests/ passes it
by keyword, passes a positional argument at its index (a bound
``self``/``cls`` is not counted), or passes any ``*``/``**`` argument.
``Class(...)`` resolves to ``Class.__init__`` and to the dataclass's
fields. Names resolve by bare identifier across modules, as
test_reachability.py does: that over-approximates "set", so the guard
never flags a live option. Pure AST: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _caller_files() -> list[Path]:
    return [
        *(p for d in ("webfilter", "jobs", "perfbench", "tests") for p in (REPO / d).rglob("*.py")),
        *REPO.glob("bench*.py"),
        REPO / "__spark_entry__.py",
    ]


def _fn_options(qual: str, names: tuple[str, ...], fn, bound: bool):
    """(qualname, call names, param, positional index or None) per
    defaulted parameter of ``fn``; ``bound`` drops self/cls."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args][1 if bound else 0:]
    for i, p in enumerate(pos):
        if i >= len(pos) - len(a.defaults):
            yield f"{qual}({p.arg})", names, p.arg, i
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield f"{qual}({p.arg})", names, p.arg, None


def _decorators(node) -> set[str]:
    out = set()
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        out.add(d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", None))
    return out


def options(sources: dict[str, str]):
    """Every option defined in ``sources`` (module name -> source)."""
    out = []
    for mod, src in sources.items():
        for st in ast.parse(src).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out += _fn_options(f"{mod}.{st.name}", (st.name,), st, False)
            elif isinstance(st, ast.ClassDef):
                fields = []
                for m in st.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        names = (m.name, st.name) if m.name == "__init__" else (m.name,)
                        bound = "staticmethod" not in _decorators(m)
                        out += _fn_options(f"{mod}.{st.name}.{m.name}", names, m, bound)
                    elif isinstance(m, ast.AnnAssign) and isinstance(m.target, ast.Name):
                        fields.append(m)
                if "dataclass" in _decorators(st):
                    for i, m in enumerate(fields):
                        if m.value is not None:
                            name = m.target.id
                            out.append((f"{mod}.{st.name}.{name}", (st.name,), name, i))
    return out


def calls(sources: list[str]) -> dict[str, list[tuple[int, bool, set[str]]]]:
    """Call name -> (positional args before any ``*``, any ``*``/``**``,
    keyword names) per call site."""
    out: dict[str, list] = {}
    for src in sources:
        for n in ast.walk(ast.parse(src)):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name is None:
                continue
            star = [isinstance(a, ast.Starred) for a in n.args]
            npos = star.index(True) if any(star) else len(n.args)
            spread = any(star) or any(k.arg is None for k in n.keywords)
            out.setdefault(name, []).append((npos, spread, {k.arg for k in n.keywords}))
    return out


def unset(defs: dict[str, str], callers: list[str]) -> list[str]:
    """The options of ``defs`` that no call in ``callers`` sets."""
    sites = calls(callers)
    return sorted(
        qual
        for qual, names, param, idx in options(defs)
        if not any(
            spread or param in kws or (idx is not None and idx < npos)
            for name in names
            for npos, spread, kws in sites.get(name, ())
        )
    )


def _webfilter() -> dict[str, str]:
    root = REPO / "webfilter"
    return {
        ".".join(p.relative_to(root).with_suffix("").parts): p.read_text()
        for p in sorted(root.rglob("*.py"))
    }


def test_every_option_is_set_by_some_caller():
    dead = unset(_webfilter(), [p.read_text() for p in _caller_files()])
    assert not dead, (
        f"{len(dead)} options no call site sets; make each a constant and "
        f"delete the code only a non-default value reaches: {dead}"
    )


def test_planted_unset_option_is_flagged():
    """Positive control: the guard can fail."""
    src = (
        "from dataclasses import dataclass\n"
        "def f(x, n=3, *, strict=True):\n    return x\n"
        "def g(x, k=1):\n    return x\n"
        "class C:\n    def m(self, a, b=2):\n        return a\n"
        "@dataclass\nclass D:\n    a: int\n    b: int = 1\n    c: int = 2\n"
    )
    caller = "f(1, 2)\ng(*xs)\nC().m(1)\nD(1, 2)\n"
    assert unset({"m": src}, [src, caller]) == [
        "m.C.m(b)", "m.D.c", "m.f(strict)",
    ]
