"""Every top-level definition and every method of a top-level class
(``module.Class.method``) in webfilter/ and jobs/ is reached from a
real entry point, or is listed in KEEP with the reason it stays.

Roots: each job's ``main``, ``entry_queries.REGISTRY``, module-level
statements that are not plain definitions (e.g.
``REGISTRY["dq_verify"] = ...``), every name the benchmark
(``perfbench/``), the bench scripts and ``__spark_entry__.py`` use, and
the KEEP entries themselves (so their helpers count as reached).
Names resolve by bare identifier across all modules. That
over-approximates reach, so the guard can miss dead code but never
flags live code. Pure AST: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCALING = 'SCALING.md "{}"'
# methods a framework calls by protocol, never by name
_PROTOCOL = {"eval"}

# "module.name" -> why it stays although no entry point reaches it.
# A reason is a SCALING.md section, the Iceberg DDL, or the test that
# uses the definition as a reference implementation or fixture.
KEEP: dict[str, str] = {
    # SCALING.md claims
    "dedup.auto_n_planes": _SCALING.format("Dedup family"),
    "warc.stream_wet": _SCALING.format("Web-transport & compliance"),
    "tables.merge_upsert_pages": _SCALING.format("Snapshot table format"),
    "snaptable.SnapshotTable.merge_upsert": _SCALING.format("Snapshot table format"),
    "tables.ParquetCatalog.compact": _SCALING.format("Layout & retrieval"),
    "streaming.upsert_batch": _SCALING.format("Streaming"),
    "streaming.run_ingest_stream": _SCALING.format("Streaming"),
    "streaming.windowed_ingest_metrics": _SCALING.format("Streaming"),
    "streaming.run_metrics_stream": _SCALING.format("Streaming"),
    "streaming.stateful_url_dedup": _SCALING.format("Streaming"),
    "streaming.run_stateful_dedup_stream": _SCALING.format("Streaming"),
    "streaming.streaming_sessionized_counts": _SCALING.format("Streaming"),
    "streaming.run_sessionized_stream": _SCALING.format("Streaming"),
    # the Iceberg north star
    "tables.ICEBERG_DDL": "Iceberg DDL",
    "tables.MERGE_INTO_SQL": "Iceberg DDL",
    "tables.iceberg_available": "Iceberg DDL",
    # references and fixtures that tests compare against
    "kernels.perplexity.tokenize": "tests/test_kernels.py word-split reference",
    "kernels.extract._HSPACE": "tests/test_kernels.py whitespace-collapse reference",
    "clustering.exact_assign_col": "tests/test_clustering.py exact-assign reference",
    "clustering.exact_min_key_col": "tests/test_clustering.py exact-assign reference",
    "boilerplate.final_classes_col": "tests/test_boilerplate.py map-vs-window reference",
    "caching.cached_count": "tests/test_advice_r5.py cache-leak regression probe",
    "dq.refresh": "tests/test_dq.py differential refresh (ICDE 2019), "
    "which ROADMAP Direction 2 builds on",
}


def _names(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _class_defs(qual: str, cls: ast.ClassDef) -> dict[str, set[str]]:
    """``qual`` -> names its bases, decorators, class-level statements
    and protocol methods use, plus ``qual.method`` -> names for every
    other method. Protocol methods (dunders, the UDTF ``eval``) are
    called by the framework, never by name, so they count as reached
    with their class."""
    out = {qual: set()}
    for n in (*cls.bases, *cls.keywords, *cls.decorator_list):
        out[qual] |= _names(n)
    for st in cls.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
            st.name in _PROTOCOL or st.name.startswith("__")
        ):
            out[f"{qual}.{st.name}"] = _names(st)
        else:
            out[qual] |= _names(st)
    return out


def _scan():
    """(defs: qualname -> names it references, roots: set of names)."""
    defs: dict[str, set[str]] = {}
    roots = {"REGISTRY"}
    for pkg in ("webfilter", "jobs"):
        for path in sorted((REPO / pkg).rglob("*.py")):
            mod = ".".join(path.relative_to(REPO / pkg).with_suffix("").parts)
            if pkg == "jobs":
                mod = f"jobs.{mod}"
                roots.add("main")
            for st in ast.parse(path.read_text()).body:
                targets = (
                    st.targets if isinstance(st, ast.Assign)
                    else [st.target] if isinstance(st, ast.AnnAssign)
                    else []
                )
                if isinstance(st, ast.ClassDef):
                    defs.update(_class_defs(f"{mod}.{st.name}", st))
                elif isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs[f"{mod}.{st.name}"] = _names(st)
                elif targets and all(isinstance(t, ast.Name) for t in targets):
                    # NAME = value defines NAME; REGISTRY[k] = ... is a root
                    for t in targets:
                        defs.setdefault(f"{mod}.{t.id}", set()).update(
                            _names(st.value) if st.value is not None else set()
                        )
                elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                    roots |= _names(st)
    for path in [
        *REPO.glob("bench*.py"),
        REPO / "__spark_entry__.py",
        *(REPO / "perfbench").rglob("*.py"),
    ]:
        roots |= _names(ast.parse(path.read_text()))
    return defs, roots


def _unreached(keep: dict[str, str]) -> list[str]:
    defs, roots = _scan()
    by_name: dict[str, list[str]] = {}
    for q in defs:
        by_name.setdefault(q.rsplit(".", 1)[1], []).append(q)
    seen = {q for q in keep if q in defs}
    todo = list(roots) + [n for q in seen for n in defs[q]]
    while todo:
        for q in by_name.get(todo.pop(), ()):
            if q not in seen:
                seen.add(q)
                todo.extend(defs[q])
    return sorted(
        q for q in defs if q not in seen and not q.rsplit(".", 1)[1].startswith("__")
    )


def test_every_definition_is_reached_or_kept():
    dead = _unreached(KEEP)
    assert not dead, (
        "top-level definitions no job, registry query or benchmark "
        f"reaches; delete them with their tests, or add a KEEP reason: {dead}"
    )


def test_keep_entries_are_live_and_justified():
    """A KEEP entry must exist, must not be reached anyway (then it
    needs no entry), and its reason must point at something real."""
    defs, _ = _scan()
    scaling = (REPO / "SCALING.md").read_text()
    sections = [ln[2:].lstrip("#").strip() for ln in scaling.splitlines() if ln.startswith("## ")]
    unkept = set(_unreached({}))
    for q, why in KEEP.items():
        assert q in defs, f"KEEP names a definition that no longer exists: {q}"
        assert q in unkept, f"{q} is reached from an entry point; drop it from KEEP"
        name = q.rsplit(".", 1)[1]
        if why.startswith("SCALING.md"):
            sec = why.split('"')[1]
            assert any(s.startswith(sec) for s in sections), (q, why)
        elif why.startswith("tests/"):
            test_file = REPO / why.split()[0]
            assert name in test_file.read_text(), (q, why)
        else:
            assert why == "Iceberg DDL", (q, why)
