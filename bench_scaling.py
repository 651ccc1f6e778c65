"""Two-cluster-size scaling evidence (BASELINE.md §2).

No real cluster exists in this sandbox, so — per the measurement
protocol in BASELINE.md — the same job runs at two parallelism
levels (local[N] vs local[4N]) on the same pre-generated input, each
in a fresh JVM (subprocess spark-submit), and we report throughput
at both plus efficiency = (thr_4N / thr_N) / 4.

Writes BENCH/BASELINE.md. Usage:
    python bench_scaling.py [--docs 120000] [--n 8]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent

# Everything after this marker in BENCH/BASELINE.md is hand-written
# evidence (operator bench refreshes, triangle-counting runs, ...) and
# is carried verbatim across regenerations of the measured sections.
MANUAL_MARKER = "<!-- MANUAL SECTIONS"


def efficiency_valid(eff: float) -> bool:
    """Contention validity gate: super-linear scaling (eff >> 1) is
    physically impossible for this fixed job — it means every long
    N-level run landed in a co-tenant contention window while the
    short 4N runs found a clean slot (the N runs have ~wall_N/wall_4N
    times the per-attempt contention exposure), so best-of-k failed
    asymmetrically. Such a measurement must not replace the recorded
    baseline."""
    return 0.2 <= eff <= 1.1


def merge_manual(new_md: str, old_md: str | None) -> str:
    """Carry the hand-written sections (everything from MANUAL_MARKER
    to EOF in the existing file) verbatim into the regenerated
    document."""
    if old_md:
        idx = old_md.find(MANUAL_MARKER)
        if idx >= 0:
            return new_md.rstrip("\n") + "\n\n" + old_md[idx:]
    return new_md


_PKG_ZIP: str | None = None


def run_level(pages: str, out: str, cores: int, buckets: int) -> dict:
    shutil.rmtree(out, ignore_errors=True)
    cmd = [
        "spark-submit", "--driver-memory", "48g",
        *( ["--py-files", _PKG_ZIP] if _PKG_ZIP else [] ),
        str(REPO / "jobs" / "run_filter.py"),
        "--pages", pages, "--out", out,
        "--buckets", str(buckets), "--cores", str(cores),
        "--run-id", f"scale{cores}", "--warmup",
    ]
    # Pin the whole process tree (JVM + python UDF workers) to exactly
    # `cores` host cores. local[N] caps concurrent TASKS at N, but GC,
    # shuffle/netty threads and the python workers otherwise float
    # across all host cores — the small level silently uses >N cores
    # and the measured N-vs-4N efficiency reads low. taskset makes
    # each level an honest N-core machine (the cluster-size analogy
    # the protocol stands in for).
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        # numpy kernels must not secretly multi-thread past the budget
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    res = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=3600)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-2000:])
        raise RuntimeError(f"level {cores} failed")
    line = [l for l in res.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def _scaling_8v32_section() -> str:
    """Supplementary wide-level measurement (8 vs 32 cores at the
    SAME per-core document load), recorded by a --sidecar run."""
    p = REPO / "BENCH" / "scaling_8v32.json"
    if not p.exists():
        return ""
    try:
        d = json.loads(p.read_text())
    except (OSError, json.JSONDecodeError):
        return ""
    he = d.get("host_evidence", {})
    extra = ""
    if he:
        bw = he["membw_gbps"]
        cpu = he["pure_cpu_units_per_s"]
        quad = he["four_concurrent_8core_jobs_docs_per_s"]
        extra = f"""
Why the wide level flattens — the HOST, not the job (measured):

* **Memory bandwidth is the binding cap**: a numpy stream test
  measures this VM at {bw['1_proc']} GB/s for one process and an
  aggregate ceiling of {bw['8_procs']} GB/s that is ALREADY saturated
  by 8 concurrent streams ({bw['32_procs']} GB/s at 32). A text
  pipeline streams every byte through decode/regex/Arrow several
  times, so ~8 cores of it saturate the memory subsystem.
  CAVEAT (round 4): the ceiling is TIME-VARYING — the same probe has
  measured 0.2 to 5.7 GB/s single-stream on this VM depending on
  co-tenant load (bench.py now records a probe per timed run), so
  these host-evidence numbers describe the window they were taken
  in, and wide-level (32-core) results are only comparable between
  runs whose recorded probe bandwidth is similar.
* **It is not a core limit**: a cache-resident pure-CPU benchmark
  (md5 over a 4 KB buffer) scales {cpu['ratio']}x from 8 to 32
  pinned procs on the same host.
* **It is not a single-JVM/Spark limit**: 4 CONCURRENT 8-core jobs
  on disjoint pinned core ranges and corpus quarters (the "4
  executors x 8 cores" cluster topology) each drop to
  ~{sum(quad) / len(quad):,.0f} docs/s — aggregate
  {sum(quad):,.0f} docs/s, no better than the one 32-core JVM
  ({he['single_32core_docs_per_s']:,.0f}); a lone 8-core job reaches
  {he['single_8core_docs_per_s']:,.0f} by itself. The ceiling is
  topology-independent host bandwidth.

A real cluster adds memory controllers with every executor, so the
bandwidth-per-core a 1000-node fleet sees is the PRIMARY table's
2-vs-8 regime (per-executor widths), not this VM's saturated wide
end — which is why the two-cluster-size criterion is evidenced at
N=2 vs 4N=8 above.
"""
    return f"""
## Supplementary: 8 vs 32 cores, constant per-core load

Same protocol at the wide end of the sandbox ({d['docs']:,} docs so
each of 32 cores carries the same per-core document load as the
primary table's big level):

| level | cores | docs/sec (best of {d['repeats']}) | all runs |
| --- | --- | --- | --- |
| N | {d['n']} | {d['thr_n']:,.1f} | {", ".join(f"{r:,.0f}" for r in d['runs_n'])} |
| 4N | {d['n'] * 4} | {d['thr_4n']:,.1f} | {", ".join(f"{r:,.0f}" for r in d['runs_4n'])} |

Efficiency = **{d['efficiency']:.3f}**.
{extra}"""


def _pagerank_section() -> str:
    """Surface the jobs/bench_pagerank.py measurement (non-toy graph,
    VERDICT r3 #4) if it has been recorded."""
    p = REPO / "BENCH" / "pagerank.json"
    if not p.exists():
        return ""
    try:
        d = json.loads(p.read_text())
    except (OSError, json.JSONDecodeError):
        return ""
    s, b = d["small"], d["big"]
    return f"""
## PageRank per-iteration cost (non-toy graph)

`jobs/bench_pagerank.py` (deterministic power-law graph, cubic
in-degree skew, {d['cores']} pinned cores, warmup excluded):

| graph | edges | nodes | s/iteration ({s['iters']} iters) |
| --- | --- | --- | --- |
| small | {s['edges']:,} | {s['nodes']:,} | {s['s_per_iter']} |
| 4x | {b['edges']:,} | {b['nodes']:,} | {b['s_per_iter']} |

s/iter ratio at a 4x-bigger web = **{d['per_iter_ratio_4x_graph']}**
(scheduler-bound would be ~1, pure-data-bound 4): the per-iteration
cost is the edges⋈ranks shuffle plus the node-keyed rank update, not
round overhead. Rank sum stays 1.0 at both scales; the top-ranked
node is the skew target. The loop lazily checkpoints the one
expensive frame (post-shuffle contribs) every round and derives
dangling mass as 1 - Σcontrib, so no plan segment is ever recomputed
across rounds (re-measured: the previous two-pass/cadence-4 shape
cost 6.3 s/iter at 1M edges vs 0.9 now).
"""


def _zorder_section() -> str:
    """Surface the jobs/bench_zorder.py data-skipping measurement if
    it has been recorded."""
    p = REPO / "BENCH" / "zorder.json"
    if not p.exists():
        return ""
    try:
        d = json.loads(p.read_text())
    except (OSError, json.JSONDecodeError):
        return ""
    b2, ys = d["box_2d"], d["y_slice"]
    return f"""
## Z-order layout: row groups a box predicate must read

`jobs/bench_zorder.py` ({d['rows']:,} uniform 2-D points, {d['files']}
files, {d['row_group_bytes'] // 1024} KiB row groups so pruning
resolution comes from the layout, not the file count; hit counts read
from the parquet footers with pyarrow — engine-independent ground
truth):

| probe | selectivity | linear rg hit | z-order rg hit | gain |
| --- | --- | --- | --- | --- |
| 2-D box | {b2['selectivity']:.4f} | {b2['linear']['row_groups_hit']}/{b2['linear']['row_groups']} | {b2['zorder']['row_groups_hit']}/{b2['zorder']['row_groups']} | **{b2['rg_pruning_gain']}x** |
| y-only slice | {ys['selectivity']:.4f} | {ys['linear']['row_groups_hit']}/{ys['linear']['row_groups']} | {ys['zorder']['row_groups_hit']}/{ys['zorder']['row_groups']} | **{ys['rg_pruning_gain']}x** |

The x-sorted (linear) layout prunes only its sort column: the 2-D box
still reads every row group the x-range admits, and the y-only slice
reads ALL of them. The z-ordered layout (webfilter/zorder.py — exact
integer binning + Morton interleave, one range shuffle) keeps both
dims compact per row group, so min/max skipping works on every
clustered dimension at once. At 100 TB this is the difference between
a (host, ts)-box query scanning the full table and scanning ~1/{int(ys['rg_pruning_gain'])}
of it — layout work done once at write time, paid back on every read.
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    # defaults reproduce the PRIMARY protocol table (N=2 vs 4N=8,
    # 600k docs) — a bare `python bench_scaling.py` must regenerate
    # the same table BASELINE.md documents, not the supplementary
    # wide pair (8v32 saturates the host's memory bandwidth and
    # measures the HOST, not the job; that run takes --n 8 --sidecar)
    ap.add_argument("--docs", type=int, default=600_000)
    ap.add_argument("--n", type=int, default=2, help="small level N (big = 4N)")
    # work dir on tmpfs: the sandbox's single virtual disk would
    # otherwise serialize table I/O across parallelism levels
    ap.add_argument(
        "--work",
        default="/dev/shm/webfilter_scaling"
        if os.path.isdir("/dev/shm")
        else "/tmp/webfilter_scaling",
    )
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument(
        "--reuse-gen", action="store_true",
        help="reuse an existing generated corpus under --work/gen",
    )
    ap.add_argument(
        "--sidecar",
        help="record this run as BENCH/<sidecar>.json instead of "
        "rewriting BASELINE.md (used for the supplementary 8-vs-32 "
        "constant-per-core-load measurement; the main template "
        "surfaces it when present)",
    )
    args = ap.parse_args()

    work = Path(args.work)
    pages = str(work / "gen" / "_synth" / "pages.parquet")
    gen_meta = work / "gen" / "_gen_meta.json"
    if args.reuse_gen and Path(pages).is_dir():
        # the reused corpus defines the measurement's input: a stale
        # --docs would misdocument BASELINE.md and compare against
        # baselines at a different per-core load (code-review r4c10
        # finding #8)
        if gen_meta.exists():
            recorded = json.loads(gen_meta.read_text())["docs"]
            if recorded != args.docs:
                print(
                    f"[reuse-gen] corpus was generated with --docs "
                    f"{recorded}; overriding requested {args.docs}",
                    file=sys.stderr,
                )
                args.docs = recorded
    else:
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        # generate once, read by both levels
        gen = subprocess.run(
            [
                "spark-submit", "--driver-memory", "48g",
                str(REPO / "jobs" / "run_filter.py"),
                "--synth", str(args.docs), "--out", str(work / "gen"),
                "--buckets", "4", "--cores", "32",
            ],
            capture_output=True, text=True,
            env=dict(os.environ, PYTHONPATH=str(REPO)), timeout=3600,
        )
        if gen.returncode != 0:
            sys.stderr.write(gen.stderr[-2000:])
            raise RuntimeError("generation failed")
        gen_meta.write_text(json.dumps({"docs": args.docs}))

    # build AFTER the work-dir reset; measured levels then run from
    # the --py-files zip, the north-rule ship form
    from webfilter.session import package_zip

    global _PKG_ZIP
    _PKG_ZIP = str(package_zip(work))

    # the sandbox host is shared (load spikes from other tenants show
    # up with zero local processes) — run the levels alternately
    # `repeats` times and take the best throughput per level, which
    # estimates the uncontended rate
    smalls, bigs = [], []
    for _ in range(args.repeats):
        smalls.append(run_level(pages, str(work / f"out{args.n}"), args.n, buckets=64))
        bigs.append(run_level(pages, str(work / f"out{args.n * 4}"), args.n * 4, buckets=64))
    small = max(smalls, key=lambda r: r["docs_per_s"])
    big = max(bigs, key=lambda r: r["docs_per_s"])

    thr_s, thr_b = small["docs_per_s"], big["docs_per_s"]
    eff = (thr_b / thr_s) / 4.0
    stamp = datetime.now(timezone.utc).isoformat(timespec="seconds")

    # Refuse to overwrite the recorded baseline with a
    # contention-invalidated measurement (see efficiency_valid);
    # park the raw numbers in a sidecar instead.
    if not args.sidecar and not efficiency_valid(eff):
        (REPO / "BENCH").mkdir(exist_ok=True)
        invalid = REPO / "BENCH" / "scaling_invalid_last.json"
        invalid.write_text(json.dumps({
            "reason": "efficiency outside [0.2, 1.1] — contention-invalidated",
            "n": args.n, "docs": args.docs, "repeats": args.repeats,
            "thr_n": thr_s, "thr_4n": thr_b, "efficiency": round(eff, 3),
            "runs_n": [r["docs_per_s"] for r in smalls],
            "runs_4n": [r["docs_per_s"] for r in bigs],
            "stamp": stamp,
        }, indent=1))
        print(json.dumps({"thr_n": thr_s, "thr_4n": thr_b,
                          "efficiency": round(eff, 3),
                          "invalid": True, "kept": "BASELINE.md unchanged",
                          "sidecar": str(invalid)}))
        return

    if args.sidecar:
        (REPO / "BENCH").mkdir(exist_ok=True)
        (REPO / "BENCH" / f"{args.sidecar}.json").write_text(
            json.dumps(
                {
                    "n": args.n, "docs": args.docs, "repeats": args.repeats,
                    "thr_n": thr_s, "thr_4n": thr_b,
                    "efficiency": round(eff, 3),
                    "runs_n": [r["docs_per_s"] for r in smalls],
                    "runs_4n": [r["docs_per_s"] for r in bigs],
                    "stamp": stamp,
                },
                indent=1,
            )
        )
        print(json.dumps({"thr_n": thr_s, "thr_4n": thr_b, "efficiency": round(eff, 3), "sidecar": args.sidecar}))
        return

    md = f"""# BENCH — measured baseline numbers

Generated by `bench_scaling.py` at {stamp}.

## Scaling efficiency (N vs 4N parallelism)

Protocol (BASELINE.md §2): same job (`jobs/run_filter.py`, the full
extract→score→rules→scrub→write pipeline), same pre-generated
{args.docs:,}-doc synthetic pages corpus, two parallelism levels in
fresh JVMs — local[{args.n}] standing in for N executors and
local[{args.n * 4}] for 4N (no real cluster in this sandbox). Each
level's process tree (JVM + python UDF workers) is PINNED to exactly
its core budget with `taskset -c` and single-threaded numpy, so the
small level cannot leak GC/worker threads onto spare host cores —
without the pin, local[N] caps only concurrent tasks and the measured
efficiency understates true cluster scaling.

| level | cores | wall s (best) | docs/sec (best of {args.repeats}) | all runs (docs/sec) |
| --- | --- | --- | --- | --- |
| N | {args.n} | {small["wall_s"]} | {thr_s:,.1f} | {", ".join(f"{r['docs_per_s']:,.0f}" for r in smalls)} |
| 4N | {args.n * 4} | {big["wall_s"]} | {thr_b:,.1f} | {", ".join(f"{r['docs_per_s']:,.0f}" for r in bigs)} |

Levels are run alternately {args.repeats}x each and the best
throughput per level is reported: the sandbox host is shared with
other tenants (load spikes appear with zero local processes), so
best-of-k estimates the uncontended rate at each parallelism.

**Scaling efficiency = (docs/sec @4N ÷ docs/sec @N) ÷ 4 =
{eff:.3f}** (target ≥ 0.8).

Wall time is the steady-state run (each level first runs the full
pipeline once into a scratch dir for JVM-JIT / python-worker warmup,
then the timed run), measured inside the job: read → window-dedup →
fused extract+score UDF → rules → scrub → decisions/audit/manifest
writes. All I/O and shuffles included; session boot excluded.

## Notes

* Input: deterministic synthetic corpus (webfilter/synth.py, seed
  fixed), ~35% of rows on 3 hot hosts (skew exercised).
* Per-level outputs byte-agree with the golden labels (enforced by
  tests/test_golden_e2e.py; decisions fingerprints are
  parallelism-invariant by construction).
{_scaling_8v32_section()}{_pagerank_section()}{_zorder_section()}"""
    (REPO / "BENCH").mkdir(exist_ok=True)
    target = REPO / "BENCH" / "BASELINE.md"
    md = merge_manual(md, target.read_text() if target.exists() else None)
    target.write_text(md)
    print(json.dumps({"thr_n": thr_s, "thr_4n": thr_b, "efficiency": round(eff, 3)}))


if __name__ == "__main__":
    main()
