"""url-hash bucketing.

The reference's only physical hint is a blind ``repartition(64)``
before its expensive per-row stage
(python/biomed_genai/retriever/pubmed_wf/pmc.py:152). We replace it
with deterministic url-hash buckets (``pmod(xxhash64(url), N)``) — the
unit of checkpointing, lineage and idempotent overwrite; at 10^12
docs N is sized so one bucket ~ a few hundred GB of input
(N=4096-16384), while tests use N=16-64.

Hot keys need no salt in count/sum aggregations: Spark plans a
partial HashAggregate before the exchange, so a host holding ~35% of
the rows (FIXTURES.md) sends at most one partial row per map task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_col(url: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket_id", bucket_col(F.col("url"), n_buckets))
