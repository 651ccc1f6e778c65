"""Differential data-quality verification on partitioned data.

Deequ-style declarative constraint verification (Schelter et al.,
VLDB 2018; differential form: ICDE 2019 "Differential Data Quality
Verification on Partitioned Data" — retrieved paper list, PAPERS.md)
re-expressed Spark-first for the url-hash-bucketed corpus model this
engine already uses everywhere (pipeline DECISION buckets, manifest
granularity):

* A **constraint suite** (completeness, range compliance, predicate
  compliance, approximate uniqueness) compiles to ONE grouped
  aggregation producing a per-bucket STATE row — every metric is an
  algebraic/mergeable aggregate (sums, counts, HLL register maxes),
  so bucket states combine by plain re-aggregation.
* **Verification** runs on the merged state, not the data: at 10^12
  docs the state is n_buckets rows (+ n_buckets x 256 HLL register
  rows per uniqueness constraint), so re-checking a table costs a
  metadata-sized job.
* **Differential refresh** (the paper's contribution): when a write
  touches k of n buckets, only those k bucket states are recomputed
  from data and swapped in; the other n-k states are reused
  verbatim.  `tests/test_dq.py` proves refresh == full recompute —
  the algebraic-state property that makes this sound.
* **Append-only accumulation** (the streaming shape): state tables
  may hold MULTIPLE partial rows per bucket — one per ingestion
  epoch — because `verify()` re-aggregates sums and re-merges
  register maxes; the union of every epoch's partial state verifies
  identically to one full-corpus state (tested), so online
  monitoring appends a tiny state delta per epoch and never re-reads
  earlier data.

Uniqueness reuses the cross-engine md5 HLL register algebra from
`webfilter/sketches.py` (hash-checked against DuckDB by the
`hll_distinct_terms` registry query), so even the approximate
constraint is deterministic and independently replayable.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketches import hll_estimate, hll_reg_rho, md5_prefix_hash


@dataclass(frozen=True)
class Complete:
    """Fraction of non-null values in ``col`` must be >= min_fraction."""

    col: str
    min_fraction: float

    @property
    def label(self) -> str:
        return f"complete_{self.col}"


@dataclass(frozen=True)
class InRange:
    """Fraction of non-null values OUTSIDE [lo, hi] must be <=
    max_violation_fraction (either bound may be None = unbounded)."""

    col: str
    lo: float | None = None
    hi: float | None = None
    max_violation_fraction: float = 0.0

    @property
    def label(self) -> str:
        return f"in_range_{self.col}"


@dataclass(frozen=True)
class Satisfies:
    """Fraction of rows satisfying the SQL boolean ``expr`` must be
    >= min_fraction (NULL counts as not satisfied)."""

    name: str
    expr: str
    min_fraction: float

    @property
    def label(self) -> str:
        return f"satisfies_{self.name}"


@dataclass(frozen=True)
class Unique:
    """Approx-distinct(col) / rows must be >= min_ratio (HLL m=256,
    ~6.5% relative error — the mergeable path; exact uniqueness at
    10^12 keys would shuffle the whole key universe)."""

    col: str
    min_ratio: float

    @property
    def label(self) -> str:
        return f"unique_{self.col}"


Constraint = Complete | InRange | Satisfies | Unique


def default_suite() -> list[Constraint]:
    """The production decision-table suite shared by the batch job
    (``run_filter(dq_check=True)``) and the streaming monitor
    (``filter_batch(dq_check=True)``) — one definition so the two
    modes can never drift.

    The scrub-invariant constraint re-runs the email/SSN patterns
    over the SHIPPED text: a wrong-order pattern edit or a scrub
    regression shows up as a red audit row on the very next run
    (escapes doubled: Spark SQL literals consume one backslash
    level).  unique_url is 0.80, not ~1.0: urls ARE unique per run
    (latest-per-url window), but the m=256 HLL has ~6.5% relative
    std error — a threshold 1.5 sigma under truth would false-red
    ~1 run in 20 and train operators to ignore the audit; 0.80 is
    ~3 sigma."""
    _email = r"[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}"
    _ssn = r"\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
    return [
        Complete("url", 1.0),
        Complete("keep", 1.0),
        InRange("langid_conf", 0.0, 1.0),
        Satisfies(
            "pii_scrubbed",
            "scrubbed_text IS NULL OR (scrubbed_text NOT RLIKE "
            f"'{_email}' AND scrubbed_text NOT RLIKE '{_ssn}')",
            1.0,
        ),
        Unique("url", 0.80),
    ]


def _scalar_aggs(constraints: list[Constraint]) -> list[Column]:
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(constraints):
        if isinstance(c, Complete):
            aggs.append(F.count(F.col(c.col)).alias(f"m{i}"))
        elif isinstance(c, InRange):
            conds = []
            if c.lo is not None:
                conds.append(F.col(c.col) < F.lit(c.lo))
            if c.hi is not None:
                conds.append(F.col(c.col) > F.lit(c.hi))
            assert conds, "InRange needs at least one bound"
            viol = conds[0]
            for extra in conds[1:]:
                viol = viol | extra
            aggs.append(
                F.sum(
                    F.when(F.col(c.col).isNotNull() & viol, 1).otherwise(0)
                ).alias(f"m{i}")
            )
            # the contract is the fraction of NON-NULL values outside
            # the range — dividing by total rows diluted the metric
            # on sparse columns (code-review r4c5 finding #2)
            aggs.append(F.count(F.col(c.col)).alias(f"c{i}"))
        elif isinstance(c, Satisfies):
            aggs.append(
                F.sum(
                    F.coalesce(F.expr(c.expr), F.lit(False)).cast("int")
                ).alias(f"m{i}")
            )
        elif isinstance(c, Unique):
            pass  # register state, not a scalar
        else:  # pragma: no cover
            raise TypeError(f"unknown constraint {c!r}")
    return aggs


def bucket_state(
    df: DataFrame,
    constraints: list[Constraint],
    part_col: str = "bucket_id",
) -> tuple[DataFrame, DataFrame]:
    """Per-bucket mergeable state: (scalars, hll_regs).

    ``scalars``: one row per bucket — n plus one sum/count per
    scalar constraint.  ``hll_regs``: (part, cname, reg, m_j) rows
    per Unique constraint (<= n_buckets x n_unique x 256 rows total).
    Both come from map-side-combining grouped aggs; with the input
    already bucket-clustered (the pipeline's layout) the scalar agg
    inserts no exchange."""
    scalars = df.groupBy(F.col(part_col).alias("part")).agg(
        *_scalar_aggs(constraints)
    )
    uniq = [c for c in constraints if isinstance(c, Unique)]
    if not uniq:
        regs = df.sparkSession.createDataFrame(
            [], "part bigint, cname string, reg int, m_j int"
        )
        return scalars, regs
    parts = []
    for c in uniq:
        reg, rho = hll_reg_rho(md5_prefix_hash(F.col(c.col).cast("string")))
        parts.append(
            df.filter(F.col(c.col).isNotNull())
            .select(
                F.col(part_col).alias("part"),
                F.lit(c.label).alias("cname"),
                reg.cast("int").alias("reg"),
                rho.cast("int").alias("rho"),
            )
            .groupBy("part", "cname", "reg")
            .agg(F.max("rho").alias("m_j"))
        )
    regs = parts[0]
    for p in parts[1:]:
        regs = regs.unionByName(p)
    return scalars, regs


def refresh(
    state: tuple[DataFrame, DataFrame],
    df_changed: DataFrame,
    constraints: list[Constraint],
    changed: list,
) -> tuple[DataFrame, DataFrame]:
    """Kept for the ICDE 2019 differential refresh that the ROADMAP
    item "Fold the dq scalars into the audit" builds on.

    Differential update: recompute state ONLY for the buckets in
    ``changed`` (from ``df_changed``, which must hold exactly those
    buckets' current rows) and reuse every other bucket's state rows
    verbatim.  Sound because every metric is algebraic over buckets —
    proven equal to a full recompute in tests/test_dq.py."""
    scalars, regs = state

    def _in_changed(col: Column) -> Column:
        # null-safe membership: isin() is NULL for a NULL key, which
        # a plain ~ filter would silently DROP (code-review r4
        # finding #6); a NULL bucket is changed only if None is
        # explicitly listed
        non_null = [c for c in changed if c is not None]
        m = col.isin(non_null) if non_null else F.lit(False)
        if any(c is None for c in changed):
            m = m | col.isNull()
        return F.coalesce(m, F.lit(False))

    new_scalars, new_regs = bucket_state(
        df_changed.filter(_in_changed(F.col("bucket_id"))), constraints
    )
    keep = ~_in_changed(F.col("part"))
    return (
        scalars.filter(keep).unionByName(new_scalars),
        regs.filter(keep).unionByName(new_regs),
    )


def dedupe_state_runs(
    scalars: DataFrame,
    regs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Crash-retry tolerance for BATCH state accumulation: a run that
    crashed after persisting a bucket's state but before marking the
    bucket done gets that bucket reprocessed under a new run_id, so
    the state tables can hold two rows for one part.  Keep only the
    NEWEST run's rows per part (processed_at descending, run_id as
    the deterministic tiebreak) — sound because batch runs recompute
    a bucket's state WHOLE, never partially.

    Do NOT use for streaming epoch states: there, multiple partial
    rows per part across epochs are the accumulation model itself
    (epoch idempotency comes from dynamic partition overwrite on
    run_id instead)."""
    from pyspark.sql import Window

    w = Window.partitionBy("part").orderBy(
        F.col("processed_at").desc(), F.col("run_id").desc()
    )
    scal = (
        scalars.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    winners = scal.select(
        F.col("part").alias("_w_part"), F.col("run_id").alias("_w_run")
    )
    # NULL-safe on part: a NULL bucket is a supported state (refresh
    # handles changed=[None]); a plain equi-semi-join would drop its
    # register rows while the scalars window kept its counts,
    # corrupting the corpus uniqueness estimate (code-review r4c5
    # finding #1)
    cond = F.col("part").eqNullSafe(F.col("_w_part")) & (
        F.col("run_id") == F.col("_w_run")
    )
    return scal, regs.join(F.broadcast(winners), cond, "left_semi")


def verify(
    state: tuple[DataFrame, DataFrame],
    constraints: list[Constraint],
) -> DataFrame:
    """(constraint, metric, threshold, passed) per constraint, from
    the MERGED state — one tiny agg over n_buckets rows plus one
    register merge per uniqueness constraint; the data is never
    touched."""
    scalars, regs = state
    agg = [F.sum("n").alias("n")]
    for i, c in enumerate(constraints):
        if isinstance(c, Unique):
            continue
        agg.append(F.sum(f"m{i}").alias(f"m{i}"))
        if isinstance(c, InRange):
            agg.append(F.sum(f"c{i}").alias(f"c{i}"))
    merged = scalars.agg(*agg)
    results = []
    for i, c in enumerate(constraints):
        if isinstance(c, Unique):
            continue
        frac = F.col(f"m{i}") / F.col("n")
        if isinstance(c, Complete):
            thr, passed = c.min_fraction, frac >= F.lit(c.min_fraction)
        elif isinstance(c, InRange):
            # violations over the NON-NULL count (0 non-null values
            # = vacuously compliant)
            frac = F.when(F.col(f"c{i}") == 0, F.lit(0.0)).otherwise(
                F.col(f"m{i}") / F.col(f"c{i}")
            )
            thr = c.max_violation_fraction
            passed = frac <= F.lit(c.max_violation_fraction)
        else:
            thr, passed = c.min_fraction, frac >= F.lit(c.min_fraction)
        results.append(
            F.struct(
                F.lit(c.label).alias("constraint"),
                F.round(frac, 6).alias("metric"),
                F.lit(float(thr)).alias("threshold"),
                passed.alias("passed"),
            )
        )
    if results:
        out = merged.select(
            F.explode(F.array(*results)).alias("r"), F.col("n")
        ).select("r.*", "n")
    else:
        # Unique-only suite: F.array() of zero structs cannot be
        # star-expanded, so start from an empty frame of the right
        # shape (code-review r4 finding #4)
        out = merged.select(
            F.lit("").alias("constraint"),
            F.lit(0.0).alias("metric"),
            F.lit(0.0).alias("threshold"),
            F.lit(True).alias("passed"),
            F.col("n"),
        ).limit(0)
    uniq = [c for c in constraints if isinstance(c, Unique)]
    if uniq:
        est = hll_estimate(
            regs.groupBy("cname", "reg").agg(F.max("m_j").alias("m_j")),
            group_col="cname",
        ).select("cname", "hll_estimate")
        thr_rows = F.array(
            *[
                F.struct(
                    F.lit(c.label).alias("cname"),
                    F.lit(float(c.min_ratio)).alias("threshold"),
                )
                for c in uniq
            ]
        )
        dim = (
            scalars.agg(F.sum("n").alias("n"))
            .select(F.explode(thr_rows).alias("t"), "n")
            .select("t.*", "n")
        )
        # LEFT join from the constraint dim: a Unique row must never
        # silently vanish when its register state is empty — it
        # surfaces with NULL metric and passed=False. `passed` is
        # coalesced because JSON consumers test `passed is False`;
        # a NULL there would read as not-failed and let missing
        # register state pass as green (ADVICE r4)
        u = (
            dim.join(est, "cname", "left")
            .select(
                F.col("cname").alias("constraint"),
                F.round(F.col("hll_estimate") / F.col("n"), 6).alias(
                    "metric"
                ),
                "threshold",
                F.coalesce(
                    F.col("hll_estimate") / F.col("n")
                    >= F.col("threshold"),
                    F.lit(False),
                ).alias("passed"),
                "n",
            )
        )
        out = out.unionByName(u)
    return out.drop("n")
