"""Temporal join operators the reference lacks (SURVEY §2.3 notes no
theta/range/as-of joins exist there) but a web-scale event pipeline
needs: an as-of join, composed of existing DataFrame ops — no custom
physical operator.

Scale posture: one shuffle on (by-key) with sorted-window processing
inside each partition — the same cost profile as any keyed window; no
cross product materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str = "ts",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """For every left row, attach the most recent right row with
    right.ts <= left.ts within the same ``by`` key (NULLs when no
    right row precedes); right columns come out suffixed ``_r``.

    Implementation: union both sides with a side tag, one window per
    by-key ordered by (ts, side) carrying last(right ROW STRUCT,
    ignoreNulls) forward, then keep the left rows. Exactly one
    shuffle (the window partitionBy); never a range cross-join. Ties
    (equal ts) resolve to the right row (right sorts before left at
    the same ts), matching DuckDB's ASOF JOIN <= semantics; among
    equal-ts right rows the LAST in (ts, tiebreak) order wins.

    The right columns travel as ONE struct (NULL struct on left-tagged
    rows), not as independent last(col, ignorenulls) carries: per-
    column carries would skip a genuinely-NULL field on the most
    recent right row (attaching a stale older value) and could stitch
    fields from different right rows into a row that never existed
    (ADVICE r2). A non-NULL struct with NULL fields is carried intact,
    so all output right columns come from the same — most recent —
    right row, NULL fields preserved.
    """
    from pyspark.sql import types as T

    right_cols = right_cols or [c for c in right.columns if c not in (by, ts)]
    r_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType, True) for c in right_cols]
    )
    l_tag = left.select(
        F.col(by), F.col(ts), F.lit(1).alias("_side"),
        F.lit(None).cast(r_type).alias("_rrow"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
    )
    r_tag = right.select(
        F.col(by), F.col(ts), F.lit(0).alias("_side"),
        F.struct(*[F.col(c).alias(c) for c in right_cols]).alias("_rrow"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
    )
    u = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(ts), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "_side", "_lrow", F.last("_rrow", ignorenulls=True).over(w).alias("_rrow")
    )
    out = carried.filter(F.col("_side") == 1)
    return out.select(
        *[F.col("_lrow").getField(c).alias(c) for c in left.columns],
        *[F.col("_rrow").getField(c).alias(f"{c}_r") for c in right_cols],
    )
