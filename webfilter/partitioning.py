"""url-hash bucketing + explicit skew salting.

The reference's only physical hint is a blind ``repartition(64)``
before its expensive per-row stage
(python/biomed_genai/retriever/pubmed_wf/pmc.py:152). We replace it
with:

* deterministic url-hash buckets (``pmod(xxhash64(url), N)``) — the
  unit of checkpointing, lineage and idempotent overwrite; at 10^12
  docs N is sized so one bucket ~ a few hundred GB of input
  (N=4096-16384), while tests use N=16-64;
* a salt column for skewed keys: host-level aggregations use
  two-phase (salted partial -> final) aggregation so one hot host
  (FIXTURES.md demands ~35% of rows on 3 hosts) cannot pin a single
  reducer. AQE skew-join handles join-side skew; salting handles
  groupBy/UDF-stage skew, which AQE does not rebalance when the cost
  is in Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_col(url: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    return df.withColumn("bucket_id", bucket_col(F.col(url_col), n_buckets))


def salt_col(row_entropy: Column, n_salts: int) -> Column:
    """Per-ROW salt. ``row_entropy`` must vary *within* a hot group
    key (a finer-grained column like url, or a synthetic per-row id)
    — a salt derived from the group key itself would assign every row
    of a hot key the same salt and mitigate nothing."""
    return F.pmod(F.xxhash64(row_entropy, F.lit(0x5A17)), F.lit(n_salts)).cast("int")


def default_row_entropy() -> Column:
    """Fallback per-row entropy when no finer column exists:
    partition-local row ids. Deterministic given a fixed input
    partitioning; aggregation results are salt-invariant either way."""
    return F.monotonically_increasing_id()


def salted_count_by_key(
    df: DataFrame,
    key: str,
    n_salts: int = 16,
    aggs: dict[str, Column] | None = None,
    salt_from: Column | str | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation: partial per (key, salt), then
    final per key. Default output is the row count (``n_rows``); pass
    ``aggs`` as {name: sum-able Column} for more, and ``salt_from``
    as a per-row-varying column (e.g. url when key=host) so hot keys
    actually spread across n_salts reducers.

    At 100 TB this turns one 35%-of-the-data reducer into n_salts
    parallel partials — map-side combine does most of the work and
    the final shuffle moves only n_keys * n_salts rows.
    """
    aggs = aggs or {}
    ent = F.col(salt_from) if isinstance(salt_from, str) else salt_from
    ent = default_row_entropy() if ent is None else ent
    salted = df.withColumn("_salt", salt_col(ent, n_salts))
    partial = salted.groupBy(key, "_salt").agg(
        F.count(F.lit(1)).alias("_pc"),
        *[v.alias(f"_p_{k}") for k, v in aggs.items()],
    )
    final = partial.groupBy(key).agg(
        F.sum("_pc").alias("n_rows"),
        *[F.sum(f"_p_{k}").alias(k) for k in aggs],
    )
    return final
