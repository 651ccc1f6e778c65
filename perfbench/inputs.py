"""Seeded benchmark inputs: the synthetic pages corpus with its golden
labels, and the fixed sf-shaped tables the registry probe reads.

The program under test sees only the files written here.  Pages come
from the public ``webfilter.synth.gen_batch`` on doc ids offset by the
seed, so every seed gives a different corpus of the same mix and the
golden labels come along with it.
"""

from __future__ import annotations

import multiprocessing as mp
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: doc ids of seed s start at s * SEED_STRIDE, so seeds never share a doc
SEED_STRIDE = 10_000_000


def _gen_chunk(args: tuple[np.ndarray, int]) -> pd.DataFrame:
    from webfilter import synth

    return synth.gen_batch(*args)


def gen_corpus(seed: int, n: int, group_docs: int, procs: int) -> pd.DataFrame:
    """Wide frame (pages + golden columns) for ``n`` docs of ``seed``.

    ``group_docs`` is the corpus size synth sizes its near-duplicate
    clusters for (one cluster per 200 of it): passing less than ``n``
    plants fewer, larger clusters.  Each doc depends only on its id, so
    ``procs`` forked processes generate contiguous id ranges and the
    concatenation equals one ``gen_batch`` call."""
    lo = seed * SEED_STRIDE
    chunks = [(ids, group_docs) for ids in
              np.array_split(np.arange(lo, lo + n, dtype=np.int64), procs)]
    pool = mp.get_context("fork").Pool(procs)
    try:
        parts = pool.map(_gen_chunk, chunks)
    finally:
        pool.close()
        pool.join()
    return pd.concat(parts, ignore_index=True)


def write_pages(wide: pd.DataFrame, path: str, n_files: int) -> None:
    """Pages columns as ``n_files`` parquet files (so the scan splits)."""
    from webfilter.synth import PAGES_COLUMNS

    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(wide[PAGES_COLUMNS], preserve_index=False)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            tbl.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


def golden(wide: pd.DataFrame) -> pd.DataFrame:
    return wide[wide["row_kind"] == "main"].set_index("url")


# ------------------------------------------------------ registry tables


def write_sf_tables(out: str, sf: float) -> None:
    """The six tables the registry probe's queries read, at scale
    ``sf``.  documents/embeddings/events come from the repository's
    sf synthesizer; customer/orders/lineitem are generated here with
    the TPC-H schemas the queries expect.  Fixed seeds: the same tables for
    every benchmark seed, so row counts can be checked exactly."""
    from jobs import synth_sf

    os.makedirs(out, exist_ok=True)
    synth_sf.gen_documents(int(sf * 50_000), out)
    synth_sf.gen_embeddings(int(sf * 20_000), out)
    synth_sf.gen_events(int(sf * 1_000_000), int(sf * 15_000), out)

    rng = np.random.default_rng(730_001)
    n_cust, n_ord = int(sf * 150_000), int(sf * 1_500_000)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    cust = pa.table(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, len(segs), n_cust)],
        }
    )
    day = np.timedelta64(1, "D")
    base = np.datetime64("1992-01-01T00:00:00", "us")
    odate = base + rng.integers(0, 2405, n_ord) * day
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table(
        {
            "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_ord), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": prio[rng.integers(0, len(prio), n_ord)],
        }
    )
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), per)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(1, int(sf * 200_000) + 1, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, int(sf * 10_000) + 1, n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                np.repeat(odate, per) + rng.integers(1, 122, n_li) * day,
                pa.timestamp("us"),
            ),
        }
    )
    for name, tbl in (("customer", cust), ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
