"""jobs/ab_pinned.py's comparison, on synthetic perfbench records
summarized by perfbench's own ``summarize``: no Spark, no git."""

import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
BENCH = json.loads((REPO / "BENCHMARK.json").read_text())


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


ab = _load("ab_pinned", REPO / "jobs" / "ab_pinned.py")
perfbench = _load("perfbench_run", REPO / "perfbench" / "run.py")


def _run(cpus: list, n_input: int = 1000) -> dict:
    """One untraced run: a warm-up operation, then one per CPU-seconds
    value (None: the operation failed)."""
    ops = [{"i": 0, "ok": True, "cpu_s": 20.0, "wall_s": 20.0}] + [
        {"i": i, "ok": c is not None, "cpu_s": c, "wall_s": c, "peak_rss_mb": 1000.0,
         "keep_f1": 1.0, "text_exact_frac": 1.0}
        for i, c in enumerate(cpus, 1)
    ]
    rec = {"trace": 0, "ops": ops, "probes": {}, "prep": {}, "setup": {"setup_s": 10.0},
           "n_input": n_input}
    return ab.digest(rec, perfbench.summarize(rec))


def test_metrics_directions_and_bounds_come_from_benchmark_json():
    pairs = [(_run([10.0, 10.0]), _run([10.0, 10.0]))]
    names = [m["name"] for m in BENCH["end_to_end"]]
    assert list(ab.compare(BENCH, pairs)) == names + ["op_cpu_s@1-2"]
    bench = {"end_to_end": [
        {"name": "docs_per_cpu_s", "better": "higher", "bound": 0.25},
        {"name": "op_cpu_s", "better": "lower", "bound": 0.05},
    ]}
    pairs = [(_run([10.0, 10.0]), _run([11.0, 11.0])) for _ in range(ab.PAIRS)]
    rows = ab.compare(bench, pairs)
    assert set(rows) == {"docs_per_cpu_s", "op_cpu_s", "op_cpu_s@1-2"}
    assert rows["docs_per_cpu_s"]["within_bound"] is True  # -9% against 25%
    assert rows["op_cpu_s"]["within_bound"] is False  # +10% against 5%
    assert rows["op_cpu_s@1-2"]["within_bound"] is None  # not gated
    assert rows["op_cpu_s"]["wins"] == rows["docs_per_cpu_s"]["wins"] == 0
    rows = ab.compare(bench, [(c, p) for p, c in pairs])
    assert rows["op_cpu_s"]["wins"] == rows["docs_per_cpu_s"]["wins"] == ab.PAIRS
    assert rows["op_cpu_s"]["gain"] and rows["docs_per_cpu_s"]["gain"]


def test_gain_needs_ten_pairs_and_no_more_failures():
    parent, change = _run([10.0, 10.0]), _run([9.0, 9.0])
    assert ab.PAIRS == 10
    assert ab.compare(BENCH, [(parent, change)] * 10)["op_cpu_s"]["gain"]
    assert not ab.compare(BENCH, [(parent, change)] * 3)["op_cpu_s"]["gain"]  # 3/3
    crashed = {"metrics": {}, "ops": 0, "error": "exit 1: boom"}
    rows = ab.compare(BENCH, [(parent, change)] * 9 + [(parent, crashed)])
    assert rows["op_cpu_s"]["wins"] == 9 and not rows["op_cpu_s"]["gain"]
    failed_check = _run([9.0, 9.0, None])  # cheaper, but one operation failed
    rows = ab.compare(BENCH, [(parent, change)] * 9 + [(parent, failed_check)])
    assert rows["op_cpu_s"]["wins"] == 10 and not rows["op_cpu_s"]["gain"]


def test_bound_is_unresolved_when_the_parent_spreads_wider():
    bench = {"end_to_end": [{"name": "op_cpu_s", "better": "lower", "bound": 0.05}]}
    spread = [_run([c, c]) for c in (8.0, 9.0, 10.0, 11.0, 12.0)]
    near = ab.compare(bench, [(p, _run([10.0, 10.0])) for p in spread])["op_cpu_s"]
    assert near["parent_iqr"] > 0.05 * near["parent"]
    assert near["within_bound"] == "unresolved"
    apart = ab.compare(bench, [(p, _run([7.0, 7.0])) for p in spread])["op_cpu_s"]
    assert apart["within_bound"] is True  # every change run beats every parent run
    out = ab.report("near_dedup", bench, [(p, _run([10.0, 10.0])) for p in spread])
    assert not out["ok"] and not out["failed"]


def test_ties_count_for_neither_side():
    same = _run([10.0, 10.0])
    rows = ab.compare(BENCH, [(same, same), (same, _run([9.0, 9.0]))])
    assert (rows["op_cpu_s"]["wins"], rows["op_cpu_s"]["ties"]) == (1, 1)
    assert (rows["ok_frac"]["wins"], rows["ok_frac"]["ties"]) == (0, 2)
    assert not rows["op_cpu_s"]["gain"]  # 1 win in 2 pairs


def test_same_position_cpu_uses_operations_one_and_two():
    """A change that fits a third, warmer operation reads a lower
    op_cpu_s median at the same cost per position."""
    parent, change = _run([8.0, 6.0]), _run([8.0, 6.0, 4.0])
    assert (parent["ops"], change["ops"]) == (3, 4)
    rows = ab.compare(BENCH, [(parent, change)])
    assert (rows["op_cpu_s"]["parent"], rows["op_cpu_s"]["change"]) == (7.0, 6.0)
    assert rows["op_cpu_s"]["wins"] == 1
    pos = rows["op_cpu_s@1-2"]
    assert (pos["parent"], pos["change"], pos["wins"], pos["ties"]) == (7.0, 7.0, 0, 1)


def test_failed_run_is_reported_and_loses(capsys):
    ok = _run([10.0, 10.0])
    crashed = {"metrics": {}, "ops": 0, "error": "exit 1: boom"}
    out = ab.report("near_dedup", BENCH, [(ok, crashed), (ok, ok)])
    assert out["failed"] == [{"seed": 1, "side": "change", "error": "exit 1: boom"}]
    assert not out["ok"] and ab.report("near_dedup", BENCH, [(ok, ok)])["ok"]
    assert out["ops"] == {"parent": [3, 3], "change": [0, 3]}
    ok_frac = out["metrics"]["ok_frac"]
    assert (ok_frac["wins"], ok_frac["ties"]) == (0, 1)
    assert "FAILED seed=1 change: exit 1: boom" in capsys.readouterr().out
    bad = _run([10.0, None])
    assert bad["error"] == "1 of 3 checks failed"
    assert bad["metrics"]["op_cpu_s@1-2"] is None
    out = ab.report("near_dedup", BENCH, [(ok, bad)])
    assert out["failed"][0]["side"] == "change"


def test_differing_input_rows_fail_the_pair():
    pair = (_run([10.0, 10.0]), _run([10.0, 10.0], n_input=998))
    out = ab.report("near_dedup", BENCH, [pair])
    assert out["failed"] == [{"seed": 1, "side": "both",
                              "error": "the input row counts differ"}]
    assert not out["ok"]


def test_differing_benchmark_trees_are_refused(tmp_path):
    trees = [tmp_path / "parent", tmp_path / "change"]
    for t in trees:
        (t / "perfbench").mkdir(parents=True)
        (t / "webfilter").mkdir()
        (t / "BENCHMARK.json").write_text("{}")
        (t / "perfbench" / "run.py").write_text("print(1)\n")
        (t / "webfilter" / "pipeline.py").write_text(t.name)
    assert ab.bench_diff(*trees) == []  # only the program differs
    (trees[1] / "perfbench" / "run.py").write_text("print(2)\n")
    (trees[1] / "perfbench" / "extra.py").write_text("")
    (trees[0] / "BENCHMARK.json").write_text('{"run_seconds": 5}')
    assert ab.bench_diff(*trees) == [
        "BENCHMARK.json", "perfbench/extra.py", "perfbench/run.py"]


def test_inputs_generated_differently_are_told_apart(tmp_path):
    """Identical perfbench/ files can still feed the two sides different
    pages or golden labels: synth lives in the program.  The digest is
    taken of what each tree generates, not of its source."""
    trees = [tmp_path / "parent", tmp_path / "change"]
    for t in trees:
        (t / "perfbench").mkdir(parents=True)
        (t / "webfilter").mkdir()
        (t / "perfbench" / "run.py").write_text(
            'SCALES = dict.fromkeys(["full", "tiny"], {"docs": {"w": 3}, '
            '"group_docs": {"w": 3}})\n')
        (t / "perfbench" / "inputs.py").write_text(
            "import pandas as pd\nfrom webfilter import synth\n\n"
            "def gen_corpus(seed, n, group_docs, procs):\n"
            "    ids = range(seed * 10, seed * 10 + n)\n"
            "    return pd.DataFrame({'keep': [synth.label(i) for i in ids]})\n")
        (t / "webfilter" / "__init__.py").write_text("")
        (t / "webfilter" / "synth.py").write_text(
            "def label(i):\n    return i % 2 == 0\n")
    assert ab.bench_diff(*trees) == []
    assert len(ab.corpus(trees[0], "w").split()) == ab.PAIRS
    assert ab.corpus(trees[0], "w") == ab.corpus(trees[1], "w")
    (trees[1] / "webfilter" / "synth.py").write_text(  # a refactor: same labels
        "def label(i):\n    return not i % 2\n")
    assert ab.corpus(trees[0], "w") == ab.corpus(trees[1], "w")
    (trees[1] / "webfilter" / "synth.py").write_text(
        "def label(i):\n    return i % 3 == 0\n")
    assert ab.bench_diff(*trees) == []
    assert ab.corpus(trees[0], "w") != ab.corpus(trees[1], "w")
