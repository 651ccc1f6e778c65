"""Z-order (Morton) clustering for multi-dimensional data skipping.

Parquet/Iceberg scans prune files and row groups from column
min/max statistics. A layout sorted on ONE column prunes only
predicates on that column; a 100 TB table queried by (host, ts) or
(user, event) boxes needs its row groups tight in BOTH dimensions.
Z-ordering interleaves the bits of rank-binned dimension values so
that rows close in the multi-dim space land in the same row groups,
making min/max pruning effective for every interleaved dimension at
once — the same layout step Delta's OPTIMIZE ZORDER BY and Iceberg's
rewrite_data_files(sort_order => zorder(...)) perform.

Everything here is Column algebra (bit shifts + masks, JVM-side,
whole-stage-codegen friendly):

* integer dims are min/max-binned to ``bits`` bits with EXACT integer
  arithmetic — ``((x - min) * (2^bits - 1)) div (max - min)`` — so an
  independent engine (the DuckDB oracle) reproduces the key
  bit-for-bit; no floats anywhere.
* the global (min, max) per dimension comes from one tiny aggregate
  broadcast-cross-joined onto the scan (the established action-free
  scalar pattern) — at 10^12 rows that is one map-side-combined agg,
  not a driver collect.
* the write path is ``repartitionByRange(zval)`` +
  ``sortWithinPartitions(zval)``: one range shuffle total, each
  output file covers a compact z-range, row groups inside stay
  sorted. Skew in z-space is handled by range partitioning's
  sampling, not hashing.

Reference precedent: the reference's only layout control is a blind
``repartition(64)`` before its expensive stage (pmc.py:152); a
web-scale Iceberg table needs layout that serves the read side too.
Measured pruning evidence lives in ``jobs/bench_zorder.py`` (row
groups touched by a 2-D box filter, z-ordered vs linear layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["binned_col", "interleave_bits", "with_zorder", "zorder_write"]


def _int_div(a: Column, b: Column) -> Column:
    """Exact floor division for non-negative bigints: (a - a % b) / b
    stays integral, so the double division is exact below 2^53."""
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def binned_col(x: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map integer ``x`` in [cmin, cmax] to [0, 2^bits) with exact
    integer arithmetic (bigint mul then floor-div; both engines agree
    bit-for-bit). Degenerate range (cmin == cmax) bins to 0.

    The floor-div is exact only while span * (2^bits-1) < 2^53 (the
    double mantissa); beyond that (e.g. microsecond-timestamp dims
    spanning decades at bits=12) bins would silently come out
    off-by-one and break the promised oracle equality — so the range
    is GUARDED: an over-wide span raises at run time instead of
    mis-binning (code-review r4c7 finding #6; rescale such dims —
    e.g. to seconds — before z-ordering)."""
    top = F.lit((1 << bits) - 1).cast("bigint")
    span = (cmax.cast("bigint") - cmin.cast("bigint"))
    scaled = (x.cast("bigint") - cmin.cast("bigint")) * top
    ok = span <= F.lit((1 << 53) // ((1 << bits) - 1)).cast("bigint")
    guard = F.assert_true(
        ok,
        F.lit(
            f"zorder bin overflow: span * (2^{bits}-1) exceeds the "
            "2^53 exact-double range; rescale the dimension"
        ),
    )
    return F.when(span <= 0, F.lit(0).cast("bigint")).otherwise(
        F.coalesce(guard.cast("bigint"), _int_div(scaled, span))
    )


def interleave_bits(dims: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits`` low bits of each dim column into a
    single bigint: dim j contributes bit i at position
    ``i * n_dims + j`` (dim 0 owns the LOW bit of each group, so with
    two dims the classic (y<<1 | x) per bit-pair). Pure shift/mask
    Column algebra — 2 * bits * n_dims JVM ops per row, no UDF."""
    n = len(dims)
    total = bits * n
    if total > 62:
        raise ValueError(f"zorder key would need {total} bits (> 62)")
    z = F.lit(0).cast("bigint")
    for j, d in enumerate(dims):
        for i in range(bits):
            bit = F.shiftright(d, i).bitwiseAND(F.lit(1).cast("bigint"))
            z = z + F.shiftleft(bit, i * n + j)
    return z


def with_zorder(
    df: DataFrame,
    cols: list[str],
    bits: int = 12,
) -> DataFrame:
    """Append the z-order key ``zval`` for integer columns ``cols``.

    One broadcast scalar agg supplies each dim's (min, max); the big
    side is map-only. Column order matters only for tie-layout, not
    correctness — every dim's predicate prunes either way."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("bigint")).alias(f"_zmin_{c}"),
            F.max(F.col(c).cast("bigint")).alias(f"_zmax_{c}"),
        ]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    binned = [
        binned_col(F.col(c), F.col(f"_zmin_{c}"), F.col(f"_zmax_{c}"), bits)
        for c in cols
    ]
    out = out.withColumn("zval", interleave_bits(binned, bits))
    return out.drop(*[f"_zmin_{c}" for c in cols], *[f"_zmax_{c}" for c in cols])


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    n_files: int = 32,
    options: dict[str, str] | None = None,
) -> None:
    """Write ``df`` parquet clustered by z-order on ``cols``: one
    range shuffle on zval (sampling absorbs z-space skew), files
    sorted within, key column dropped from the payload — skipping
    works off the DIMENSION columns' min/max, which the clustering
    tightens; the zval itself need not be stored. ``options`` passes
    writer knobs through (e.g. parquet.block.size to size row
    groups)."""
    w = (
        with_zorder(df, cols, bits=bits)
        .repartitionByRange(n_files, F.col("zval"))
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
    )
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.parquet(path)
