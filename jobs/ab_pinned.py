"""Paired A/B of the benchmark between two source trees.

    python jobs/ab_pinned.py [--parent HEAD] [--change REF] [--workload W]

Both refs are ``git archive``d into a temporary directory removed at
exit; the change defaults to the working tree's tracked and staged
content.  Pair k of 10 runs ``perfbench/run.py --seed k --trace 0`` in
each tree in turn, the first side alternating by pair.  Not at once:
perfbench sizes Spark from the cores it may use, so two sides pinned
side by side on a 4-core host would each measure a 2-core machine.

Per ``end_to_end`` metric it prints both medians, the parent IQR, change
wins (ties count for neither side), the bound verdict ("unresolved" when
the parent IQR is wider than the bound and not every change run beats
every parent run) and the gain verdict (>= 9/10 wins, a median gap above
the parent IQR, no more failed runs or checks).  ``op_cpu_s`` is a median over
however many operations fit the loop, and operations get cheaper as the
JVM compiles, so a tree that fits one more reads lower at the same cost:
``op_cpu_s@1-2`` compares operations 1-2, which every run has.  The last
line is one JSON object; nothing is written into the repository.  Exit 2
if the benchmark or the inputs it generates differ between the trees, or
the change tree would miss untracked files under webfilter/ or jobs/;
exit 1 if a run failed or a metric is out of bound or unresolved.
"""

from __future__ import annotations

import argparse
import json
import statistics
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PAIRS = 10  # per workload: fewer cannot show 9 wins in 10
POSITIONS = (1, 2)  # operations every run has: 0 is the warm-up, two follow
SIDES = ("parent", "change")
#: run in a tree: a digest of the pages and golden labels of seeds 1..argv[2]
CORPUS = """import hashlib, os, sys
sys.path[:0] = ["perfbench", "."]
import inputs, run
s, w = run.SCALES[os.environ.get("PERFBENCH_SCALE", "full")], sys.argv[1]
for seed in range(1, int(sys.argv[2]) + 1):
    wide = inputs.gen_corpus(seed, s["docs"][w], s["group_docs"][w], os.cpu_count())
    print(hashlib.sha256(wide.to_csv().encode()).hexdigest())"""


def _git(*args: str) -> str:
    cmd = ["git", "-C", str(REPO), *args]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return out.stdout.strip()


def bench_diff(a: Path, b: Path) -> list[str]:
    """The benchmark's files (perfbench/, BENCHMARK.json) that differ between trees."""
    fa, fb = ({p.relative_to(t).as_posix(): p.read_bytes()
               for p in [t / "BENCHMARK.json", *(t / "perfbench").rglob("*")]
               if p.is_file()} for t in (a, b))
    return sorted(k for k in fa.keys() | fb.keys() if fa.get(k) != fb.get(k))


def corpus(tree: Path, workload: str) -> str:
    """The input digests of seeds 1..PAIRS as ``tree``'s program generates them."""
    cmd = [sys.executable, "-c", CORPUS, workload, str(PAIRS)]
    out = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True, check=True)
    return out.stdout


def digest(rec: dict, summary: dict) -> dict:
    """One run from its .out record and the summary perfbench printed for it."""
    cpu = [o["cpu_s"] for o in rec["ops"] if o["i"] in POSITIONS and o.get("ok")]
    metrics = {k: m["value"] for k, m in summary["metrics"].items()}
    full = len(cpu) == len(POSITIONS)
    metrics["op_cpu_s@1-2"] = statistics.fmean(cpu) if full else None
    out = {"metrics": metrics, "ops": len(rec["ops"]), "n_input": rec["n_input"],
           "failed_checks": summary["failed"]}
    if not summary["correct"]:
        out["error"] = f"{summary['failed']} of {summary['attempted']} checks failed"
    return out


def run(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    rec = tree / "perfbench" / ".out" / f"{workload}-seed{seed}-trace0.json"
    try:
        p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=900)
        if p.returncode == 0:
            summary = json.loads(p.stdout.splitlines()[-1])
            return digest(json.loads(rec.read_text()), summary)
        error = f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    except (subprocess.TimeoutExpired, OSError, ValueError, IndexError) as e:
        error = f"{type(e).__name__}: {e}"
    return {"metrics": {}, "ops": 0, "error": error}


def compare(bench: dict, pairs: list[tuple[dict, dict]]) -> dict:
    """Per end_to_end metric of ``bench``, then op_cpu_s@1-2 (ungated)."""
    # (failed runs, failed checks) of the parent, then of the change
    fails = [(sum("error" in r for r in rs), sum(r.get("failed_checks", 0) for r in rs))
             for rs in zip(*pairs)]
    no_worse = all(c <= p for p, c in zip(*fails))
    metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    rows = {}
    for name, better, bound in metrics + [("op_cpu_s@1-2", "lower", None)]:
        sign = 1 if better == "higher" else -1
        vals = [(p["metrics"].get(name), c["metrics"].get(name)) for p, c in pairs]
        ps, cs = ([v[i] for v in vals if v[i] is not None] for i in (0, 1))
        pm, cm = (statistics.median(xs) if xs else None for xs in (ps, cs))
        q = statistics.quantiles(ps, n=4) if len(ps) > 1 else [0.0] * 3
        iqr = q[2] - q[0]
        wins = sum(c is not None and (p is None or sign * (c - p) > 0) for p, c in vals)
        gap = None if pm is None or cm is None else sign * (cm - pm)
        within = None if bound is None else gap is not None and gap >= -bound * pm
        apart = ps and cs and min(sign * c for c in cs) > max(sign * p for p in ps)
        if bound is not None and ps and iqr > bound * pm and not apart:
            within = "unresolved"
        rows[name] = {"parent": pm, "change": cm, "parent_iqr": iqr, "wins": wins,
                      "ties": sum(p == c for p, c in vals), "within_bound": within,
                      "gain": len(pairs) >= PAIRS and wins >= 0.9 * len(pairs)
                      and no_worse and gap is not None and gap > iqr}
    return rows


def report(workload: str, bench: dict, pairs: list[tuple[dict, dict]]) -> dict:
    rows = compare(bench, pairs)
    ops = {s: [pair[i]["ops"] for pair in pairs] for i, s in enumerate(SIDES)}
    failed = [{"seed": k, "side": s, "error": r["error"]}
              for k, pair in enumerate(pairs, 1) for s, r in zip(SIDES, pair)
              if "error" in r]
    failed += [{"seed": k, "side": "both", "error": "the input row counts differ"}
               for k, (p, c) in enumerate(pairs, 1)
               if "n_input" in p and "n_input" in c and p["n_input"] != c["n_input"]]
    print(f"## {workload}: {len(pairs)} pairs, change against parent")
    for name, r in rows.items():
        print(f"{name:<16} {json.dumps(r)}")
    print(f"ops parent={ops['parent']} change={ops['change']}")
    for f in failed:
        print(f"FAILED seed={f['seed']} {f['side']}: {f['error']}")
    ok = not failed and all(r["within_bound"] in (True, None) for r in rows.values())
    return {"metrics": rows, "ops": ops, "failed": failed, "ok": ok}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--change", help="default: the tracked and staged working tree")
    ap.add_argument("--workload", help="default: every BENCHMARK.json workload")
    args = ap.parse_args()
    untracked = ["ls-files", "--others", "--exclude-standard", "webfilter", "jobs"]
    if args.change is None and _git(*untracked):
        print(f"refused: untracked files:\n{_git(*untracked)}", file=sys.stderr)
        return 2
    refs = [args.parent, args.change or _git("stash", "create") or "HEAD"]
    refs = {s: _git("rev-parse", "--verify", f"{r}^{{commit}}")
            for s, r in zip(SIDES, refs)}
    with tempfile.TemporaryDirectory(prefix="ab_pinned_") as tmp:
        trees = {s: Path(tmp) / s for s in SIDES}
        for s, ref in refs.items():
            _git("archive", "-o", f"{tmp}/{s}.tar", ref)
            shutil.unpack_archive(f"{tmp}/{s}.tar", trees[s], filter="data")
        bench = json.loads((trees["parent"] / "BENCHMARK.json").read_text())
        names = [args.workload] if args.workload else [
            w["name"] for w in bench["workloads"]]
        differ = bench_diff(trees["parent"], trees["change"]) or [
            f"{w} inputs" for w in names
            if corpus(trees["parent"], w) != corpus(trees["change"], w)]
        if differ:
            print(f"refused: differing between the trees: {differ}", file=sys.stderr)
            return 2
        result = {**refs, "pairs": PAIRS, "workloads": {}}
        for w in names:
            pairs = []
            for seed in range(1, PAIRS + 1):
                order = SIDES if seed % 2 else SIDES[::-1]
                runs = {s: run(trees[s], w, seed, bench["run_seconds"]) for s in order}
                pairs.append((runs["parent"], runs["change"]))
                print(f"# {w} seed={seed} first={order[0]}", flush=True)
            result["workloads"][w] = report(w, bench, pairs)
    result["ok"] = all(r["ok"] for r in result["workloads"].values())
    print(json.dumps(result))
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
