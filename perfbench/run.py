"""webfilter benchmark: one command per workload run.

    python3 perfbench/run.py --workload filter_html --seed 1 --seconds 10 --trace 0

Run from the root of a repository checkout.  The run generates its
inputs from ``--seed`` under ``perfbench/.work`` (removed on exit),
starts a local Spark session on every core this process may use, and
drives the workload's operation in a closed loop for ``--seconds``
(a warm-up operation and at least two more), checking every output.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations after the warm-up, then runs the
per-layer probes and prints the per-layer metrics.  Every metric is printed by name with its unit; the
last line is one JSON object.  The full record (operations, host
evidence, spans, ledger) is written to ``perfbench/.out``.

``PERFBENCH_SCALE=tiny`` shrinks the inputs for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: (name, unit, better) of every end-to-end metric an untraced run prints.
#: Operations are measured in CPU-seconds, not wall: on a shared host the
#: wall of a whole run follows the steal of other tenants (correlation
#: 0.97 over ten runs), the CPU-seconds far less.  Walls are printed too.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_cpu_s", "s", "lower"),
    ("docs_per_cpu_s", "docs/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("ok_frac", "frac", "higher"),
    ("keep_f1", "frac", "higher"),
    ("text_exact_frac", "frac", "higher"),
]

#: url buckets of every run_filter / run_near_dedup call
BUCKETS = 4
#: scale factor of the sf-shaped tables the registry probe reads
SF = 0.01
SCALES = {
    # docs: pages per corpus.  filter_html is sized so the fused UDF's
    # kernels are a resolvable share of op_wall_s (at 1500 pages the
    # fixed per-job cost is ~95% of it); group_docs 200 plants all of
    # near_dedup's near-duplicates in one hot cluster.  Both sizes and
    # min_ops (timed operations after the warm-up one) are set so an
    # untraced run takes about a minute on 4 cores.
    "full": {"docs": {"filter_html": 6000, "near_dedup": 1000},
             "group_docs": {"filter_html": 6000, "near_dedup": 200},
             "min_ops": 2, "kernel_docs": 600},
    "tiny": {"docs": {"filter_html": 300, "near_dedup": 300},
             "group_docs": {"filter_html": 300, "near_dedup": 100},
             "min_ops": 1, "kernel_docs": 100},
}
#: stop starting operations after this long, whatever --seconds says,
#: so a slow host still exits well inside the per-run limit
MAX_LOOP_S = 100.0


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["filter_html", "near_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def _environment(work: Path, cores: int) -> None:
    """Keep every file the run writes inside the checkout, size the
    driver heap from host RAM, and keep numpy single-threaded."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "WEBFILTER_NO_SHM": "1",
        "WEBFILTER_DRIVER_MEM": f"{max(1024, min(4096, ram_mb // 16))}m",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
    })
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        os.environ[v] = "1"


def main() -> int:
    args = _parse()
    if not (ROOT / "webfilter" / "__init__.py").is_file():
        print("perfbench: no webfilter package next to perfbench/; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    scale = SCALES[os.environ.get("PERFBENCH_SCALE", "full")]
    cores = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    _environment(work, cores)
    sys.path.insert(0, str(ROOT))
    try:
        record = _run(args, scale, cores, str(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = HERE / ".out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    _print(record)
    return 0


def _run(args, scale: dict, cores: int, work: str) -> dict:
    import inputs
    import workloads as wl
    from spans import RssSampler, Tracer

    phases: dict = {}
    t0 = time.perf_counter()
    docs = scale["docs"][args.workload]
    wide = inputs.gen_corpus(args.seed, docs, scale["group_docs"][args.workload], cores)
    pages = f"{work}/pages"
    inputs.write_pages(wide, pages, cores)
    gold = inputs.golden(wide)
    corpus_gen_s = time.perf_counter() - t0

    tracer = Tracer(bool(args.trace))
    mark = time.perf_counter()
    cls = wl.WORKLOADS[args.workload]
    sample = wl.seeded_sample(wide, 8 * cores, args.seed) if cls.runs_udf else None
    spark, setup = wl.set_up(cores, work, sample)
    try:
        workload = cls(spark, pages, gold, len(wide), work, BUCKETS)
        phases["session_s"], mark = time.perf_counter() - mark, time.perf_counter()
        prep = workload.prep()
        phases["prep_s"], mark = time.perf_counter() - mark, time.perf_counter()
        ops = []
        with RssSampler() as rss:
            t_loop = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - t_loop
                # op 0 is the warm-up, part of the set-up; a traced run
                # times one untraced and one traced op after it
                min_ops = 1 + (2 if args.trace else scale["min_ops"])
                if (elapsed >= args.seconds and len(ops) >= min_ops) or (
                    elapsed >= MAX_LOOP_S and ops
                ):
                    break
                ops.append(_one_op(workload, tracer, rss, cores, spark, args.trace, len(ops)))
        phases["loop_s"], mark = time.perf_counter() - mark, time.perf_counter()
        probes: dict = {}
        if args.trace:
            probes = _probes(args, scale, spark, tracer, workload, wide, ops, work)
        phases["probes_s"] = time.perf_counter() - mark
    finally:
        mark = time.perf_counter()
        wl.shutdown(spark)
        phases["shutdown_s"] = time.perf_counter() - mark
    # set-up: session start, first UDF pass and the warm-up operation
    # (prep, which only near_dedup has, is not part of it)
    setup["warm_op_s"] = ops[0]["wall_s"]
    setup["setup_s"] = setup["get_spark_s"] + setup["first_udf_s"] + setup["warm_op_s"]
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "docs": docs, "n_input": workload.n_input,
        "corpus_gen_s": corpus_gen_s, "phases": phases, "setup": setup, "prep": prep,
        "ops": ops, "probes": probes, "spans": tracer.to_json(),
    }


def _one_op(workload, tracer, rss, cores, spark, trace, i) -> dict:
    """One operation with its host evidence and output check; in a
    traced run even operations after the warm-up also get spans and
    stage counters."""
    from spans import host_window, last_stage, stage_counters

    traced = bool(trace) and i > 0 and i % 2 == 0  # op 0 is never traced
    span = tracer.span if traced else (lambda *a, **k: nullcontext())
    rec: dict = {"i": i, "traced": traced}
    stage0 = last_stage(spark) if trace else None
    with span("op", op=tracer.new_op()):
        with host_window(cores, rec):
            rss.reset()
            t0 = time.perf_counter()
            try:
                with span(f"{workload.name}.run_op"):
                    res = workload.run_op()
                rec["wall_s"] = time.perf_counter() - t0
            except Exception as e:  # a failed operation counts, the loop goes on
                rec.update(wall_s=time.perf_counter() - t0, ok=False,
                           error=f"{type(e).__name__}: {e}")
                return rec
            rec["peak_rss_mb"] = rss.peak()
        with span("check"):
            rec.update(workload.check(res))
    rec["result"] = {k: v for k, v in res.items() if k != "run_id"}
    rec["run_id"] = res.get("run_id")
    if trace:
        rec["stages"] = stage_counters(spark, stage0)
    return rec


def _probes(args, scale, spark, tracer, workload, wide, ops, work) -> dict:
    import inputs
    import layers
    from workloads import seeded_sample

    out: dict = {}
    if args.workload == "filter_html":
        sample = seeded_sample(wide, scale["kernel_docs"], args.seed)
        with tracer.span("kernels", op=tracer.new_op()):
            out["kernels"] = layers.kernel_costs(sample["html"])
        out["filter"], out["filter_walls"] = layers.filter_ledger(
            spark, tracer, workload.pages, BUCKETS
        )
    else:
        last = [o for o in ops if o.get("run_id")][-1]
        out["dedup"], out["dedup_walls"] = layers.dedup_ledger(
            spark, tracer, workload.out, last["run_id"]
        )
    # each traced run passes over half of the registry queries, so
    # neither comes near the per-run time limit
    sf = f"{work}/sf"
    inputs.write_sf_tables(sf, SF)
    out["registry"], out["registry_rows"] = layers.registry_pass(
        spark, tracer, sf, args.seed, layers.REGISTRY_SPLIT[args.workload]
    )
    return out


# --------------------------------------------------------------- report


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _registry_ok(rows: dict) -> bool:
    want = json.loads((HERE / "registry_rows.json").read_text())
    return rows == {q: want[q] for q in rows}


def summarize(rec: dict) -> dict:
    """The final JSON object: correctness and the metrics of this mode."""
    ops = rec["ops"]
    attempted, failed = len(ops), sum(1 for o in ops if not o.get("ok"))
    probes = rec["probes"]
    if "registry_rows" in probes:
        attempted += 1
        failed += 0 if _registry_ok(probes["registry_rows"]) else 1
    if "filter_walls" in probes:
        # the boilerplate path's JVM scrub against the Python scrubber
        attempted += 1
        failed += 1 if probes["filter_walls"]["boilerplate_scrub_mismatch"] else 0
    if not rec["prep"].get("filter_ok", True):
        failed += 1
        attempted += 1
    if rec["trace"] == 0:
        op_cpu = _median(o.get("cpu_s") for o in ops[1:] if o.get("ok"))
        values = {
            "setup_s": rec["setup"]["setup_s"],
            "op_cpu_s": op_cpu,
            "docs_per_cpu_s": rec["n_input"] / op_cpu if op_cpu else 0.0,
            "peak_rss_mb": _median(o.get("peak_rss_mb") for o in ops[1:]),
            "ok_frac": (attempted - failed) / attempted,
            "keep_f1": _median(o.get("keep_f1") for o in ops),
            "text_exact_frac": _median(o.get("text_exact_frac") for o in ops),
        }
        spec = END_TO_END
    else:
        values = _layer_values(rec)
        from layers import PER_LAYER as spec
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u, _b in spec},
    }


def _layer_values(rec: dict) -> dict:
    ops = [o for o in rec["ops"] if o.get("ok")]
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"] and o["i"] > 0]
    probes = rec["probes"]
    v: dict = {}
    v.update(probes.get("kernels", {}))
    v.update(probes.get("filter", {}))
    v.update(probes.get("dedup", {}))
    v.update(probes.get("registry", {}))
    for k in ("get_spark_s", "first_udf_s", "warm_op_s"):
        v[f"session.{k}"] = rec["setup"][k]
    plain_wall = _median(o["wall_s"] for o in plain)
    v["op_wall_s"] = plain_wall
    v["docs_per_s"] = rec["n_input"] / plain_wall if plain_wall else 0.0
    op_wall = _median(o["wall_s"] for o in traced)
    v["trace.op_wall_s"] = op_wall
    v["trace.overhead_s"] = op_wall - plain_wall
    for k in ("mem_bw_gbps", "steal_frac", "loadavg", "own_util"):
        v[f"host.{k}"] = _median(o.get(k) for o in rec["ops"])
    v["prep.corpus_gen_s"] = rec["corpus_gen_s"]
    v["tables.spill_bytes"] = _median(o["stages"]["spill_bytes"] for o in traced)
    v["tables.bytes_written_per_doc"] = (
        _median(o["stages"]["output_bytes"] for o in traced) / rec["n_input"]
    )
    if "filter" in probes:
        t = {k: _median(o["result"]["timings"][k] for o in traced)
             for k in ("write_decisions", "audit", "host_audit")}
        ff = probes["filter_walls"]["pipeline.filtered_frame"]
        v["tables.write_decisions_s"] = max(0.0, t["write_decisions"] - ff)
        v["pipeline.audit_s"] = t["audit"]
        v["pipeline.host_audit_s"] = t["host_audit"]
        kern = sum(v[f"kernels.{k}.us_per_doc"] for k in
                   ("extract", "langid", "perplexity", "qualityclf", "scrubber"))
        udf_cpu_s = kern * 1e-6 * rec["docs"] / rec["cores"]
        v["scoring.kernel_share"] = (
            udf_cpu_s / v["scoring.fused_udf_s"] if v["scoring.fused_udf_s"] else 0.0
        )
        # kernel_share x fused_udf_s / op wall: the share of an operation
        # a kernel speed-up can remove
        v["scoring.kernel_op_share"] = udf_cpu_s / op_wall if op_wall else 0.0
        layer_sum = (
            v["tables.scan_s"] + v["tables.latest_per_url_s"]
            + v["scoring.fused_udf_s"] + v["rules.decision_s"]
            + v["tables.write_decisions_s"] + t["audit"] + t["host_audit"]
        )
    else:
        v["dedup.dup_recall"] = _median(o.get("dup_recall") for o in ops)
        layer_sum = v["dedup.minhash_pairs_s"] + v["dedup.survivor_write_s"]
    v["pipeline.ledger_residual_frac"] = 1.0 - layer_sum / op_wall if op_wall else 0.0
    return v


def _print(rec: dict) -> None:
    res = summarize(rec)
    print(f"# perfbench workload={rec['workload']} seed={rec['seed']} "
          f"trace={rec['trace']} cores={rec['cores']} docs={rec['docs']} "
          f"input_rows={rec['n_input']} ops={len(rec['ops'])}")
    print(f"# prep corpus_gen_s={rec['corpus_gen_s']:.3f} "
          + " ".join(f"{k}={v}" for k, v in rec["prep"].items()))
    print("# setup " + " ".join(f"{k}={v:.3f}" for k, v in rec["setup"].items()))
    for o in rec["ops"]:
        keys = ("wall_s", "cpu_s", "ok", "traced", "peak_rss_mb", "mem_bw_gbps",
                "steal_frac", "loadavg", "own_util", "keep_f1",
                "text_exact_frac", "pii_scrub_frac", "pii_scrub_mismatch",
                "dup_recall", "pairs", "error")
        print(f"# op {o['i']} " + " ".join(f"{k}={o[k]}" for k in keys if k in o))
    wall = _median(o["wall_s"] for o in rec["ops"][1:] if o.get("ok"))
    print(f"# op_wall_s={wall} s docs_per_s={rec['n_input'] / wall if wall else 0.0} docs/s")
    print(f"# failed_frac={res['failed'] / res['attempted']} "
          f"attempted={res['attempted']} failed={res['failed']}")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']!r} {m['unit']}")
    print(json.dumps(res))


if __name__ == "__main__":
    sys.exit(main())
