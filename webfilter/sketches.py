"""Mergeable sketch algebra behind the HLL and Count-Min registry
queries.

Everything here is PURE Column algebra over the cross-engine
md5-prefix hash (conv(substr(md5(x),1,15),16,10) — replayable in
DuckDB as ('0x'||substr(md5(x),1,15))::BIGINT), so results are
hash-checked against an independent engine. The HLL state (group, register, max rank) is
MERGEABLE: max is idempotent/commutative/associative, so partial
states from partitions, days, or micro-batch epochs combine by a
plain groupBy-max — arrival order and replays cannot change it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rules import sliding, tokens_col

#: register count (p=8 -> m=256) — the documented estimate error is
#: ~1.04/sqrt(m) = 6.5%
HLL_M = 256
#: usable hash bits after the register index (60-bit md5 prefix - 8)
_W_BITS = 52


def md5_prefix_hash(s: Column, n_hex: int = 15) -> Column:
    """THE cross-engine bigint hash, spelled only here: first n_hex
    hex chars of md5 as a base-16 int (15 hex = 60 bits for the
    sketches; 8 hex = 32 bits for samples, splits, buckets and shard
    routing; positive in int64 on both engines). Every DuckDB oracle
    replays it bit for bit as ('0x' || substr(md5(s),1,n_hex))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, n_hex), 16, 10).cast("bigint")


def shingles3_lower(text_col: Column) -> Column:
    """Word 3-grams over lowercase whitespace tokens as array<string>."""
    toks = tokens_col(F.lower(text_col))
    n = F.size(toks)
    grams = sliding(toks, 3, lambda *t: F.concat_ws(" ", *t))
    # zero tokens -> NO shingles (an empty-string shingle would count
    # a phantom distinct element for every whitespace-only doc, and
    # the DuckDB replay NULLs out instead — text-fuzz finding); 1-2
    # tokens -> the whole doc as one shingle
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < 3, F.array(F.concat_ws(" ", toks)))
        .otherwise(grams)
    )


def hll_reg_rho(h: Column) -> tuple[Column, Column]:
    """(register index, leading-zero rank) for one 60-bit md5-prefix
    hash: reg = low 8 bits, rho = rank of the remaining 52 bits via
    length(bin(w)) integer algebra.  THE single definition of the
    register algebra — every consumer (hll_registers here, the dq
    uniqueness constraint) builds from it, so the cross-engine DuckDB
    replay cannot diverge between consumers."""
    w = F.shiftright(h, 8)
    reg = h.bitwiseAND(F.lit(HLL_M - 1))
    rho = F.when(w == 0, F.lit(_W_BITS + 1)).otherwise(
        _W_BITS + 1 - F.length(F.bin(w))
    )
    return reg, rho


def hll_registers(df: DataFrame) -> DataFrame:
    """(lang, reg, m_j) HLL register state over the 3-gram shingle
    universe of ``text`` (register algebra: hll_reg_rho).  One
    map-side-combining groupBy; at most n_langs * 256 output rows regardless
    of corpus size."""
    e = (
        df.filter(F.length(F.trim(F.col("text"))) > 0)
        .select("lang", F.explode(shingles3_lower(F.col("text"))).alias("tok"))
    )
    reg, rho = hll_reg_rho(md5_prefix_hash(F.col("tok")))
    t = e.select("lang", reg.alias("reg"), rho.alias("rho"))
    return t.groupBy("lang", "reg").agg(F.max("rho").alias("m_j"))


def hll_estimate(
    regs: DataFrame, group_col: str = "lang", with_raw: bool = False
) -> DataFrame:
    """(group, regs_hit, v_zero, s_denom, hll_estimate) from a
    register state. The harmonic denominator is the EXACT integer
    sum(2^(53-m_j)) + V*2^53 (fits int64); the only float ops are one
    IEEE-deterministic multiply/divide plus the standard
    linear-counting small-range correction.

    with_raw=True appends `_raw_est` (the corrected estimate BEFORE
    rounding) for callers deriving further ratios — e.g. the registry
    query's rel_err, whose oracle uses the unrounded value."""
    state = regs.groupBy(group_col).agg(
        F.count("*").alias("regs_hit"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_W_BITS + 1} - m_j)")).alias(
            "s_hit"
        ),
    )
    state = state.select(
        group_col,
        "regs_hit",
        (F.lit(HLL_M) - F.col("regs_hit")).alias("v_zero"),
        (
            F.col("s_hit")
            + (F.lit(HLL_M).cast("bigint") - F.col("regs_hit"))
            * F.lit(1 << (_W_BITS + 1)).cast("bigint")
        ).alias("s_denom"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    raw = (
        F.lit(alpha)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(1 << (_W_BITS + 1)))
        / F.col("s_denom").cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("v_zero") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v_zero").cast("double")),
    ).otherwise(raw)
    cols = [
        group_col, "regs_hit", "v_zero", "s_denom",
        F.round(est, 2).alias("hll_estimate"),
    ]
    if with_raw:
        cols.append(est.alias("_raw_est"))
    return state.select(*cols)


def cms_cells(df: DataFrame) -> DataFrame:
    """(r, col, cell_n) Count-Min cells over the 3-gram shingle
    universe — 4 rows x 512 columns of md5-derived counters, one
    map-side-combining groupBy (constant 4*512 state regardless of
    corpus size). Unlike HLL registers, CMS cells merge by SUM —
    NOT idempotent, so incremental/streaming use must dedupe epochs
    before merging."""
    e = (
        df.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(shingles3_lower(F.col("text"))).alias("tok"))
    )
    rc = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda r: md5_prefix_hash(
                F.concat_ws("#", F.col("tok"), r.cast("string"))
            ) % 512,
        )
    ).alias("r", "col")
    return (
        e.select("tok", rc)
        .groupBy("r", "col")
        .agg(F.count("*").alias("cell_n"))
    )


def rademacher_sign(t: int, p: int, j: int) -> int:
    """+/-1 from one md5 hex digit of 'pl|t|p|j' — the cross-engine
    hyperplane family. DuckDB replay:
    CASE WHEN ('0x'||substr(md5('pl|'||t||'|'||p||'|'||j),1,1))::INT >= 8
    THEN 1 ELSE -1 END."""
    import hashlib

    h = hashlib.md5(f"pl|{t}|{p}|{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) >= 8 else -1


def md5_lsh_buckets(df: DataFrame) -> DataFrame:
    """(vec_id, table_id, bucket): 2-table x 6-plane hyperplane-LSH
    sign buckets of the 64-dim ``embedding`` under the cross-engine
    family. Vectors are QUANTIZED to
    round(x*1000) int64 before the plane dot product so the sign bits
    are integer arithmetic — a float sum's last-ulp difference can
    never flip a near-zero dot across engines. Plane signs come from
    rademacher_sign and fold in as literals (Spark) / recompute as
    md5 (DuckDB, see _SQL_MD5_LSH_BUCKETS)."""
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1000).cast("bigint")
    )

    def bucket(t: int) -> Column:
        b = F.lit(0)
        for p in range(6):
            plane = F.array(
                *[F.lit(rademacher_sign(t, p, j)) for j in range(64)]
            )
            d = F.aggregate(
                F.zip_with(F.col("qv"), plane, lambda x, y: x * y.cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            b = b + F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        return b

    return df.select("vec_id", qv.alias("qv")).select(
        "vec_id",
        F.posexplode(F.array(*[bucket(t) for t in range(2)])).alias(
            "table_id", "bucket"
        ),
    )


#: DuckDB replay of md5_lsh_buckets (2 tables x 6 planes x dim 64) —
#: CTEs `planes`, `qv`, `dots`, `buckets(vec_id, table_id, bucket)`;
#: prepend inside a WITH chain.
SQL_MD5_LSH_BUCKETS = """planes AS (
  SELECT t, p, j,
    CASE WHEN ('0x' || substr(md5('pl|' || t::VARCHAR || '|' || p::VARCHAR
                                 || '|' || j::VARCHAR), 1, 1))::INT >= 8
         THEN 1 ELSE -1 END AS s
  FROM range(2) tt(t) CROSS JOIN range(6) pp(p) CROSS JOIN range(64) jj(j)),
qv AS (
  SELECT vec_id,
    list_transform(embedding::DOUBLE[], x -> round(x * 1000)::BIGINT) AS q
  FROM embeddings),
dots AS (
  SELECT vec_id, t, p, sum(q[j + 1] * s) AS d
  FROM qv CROSS JOIN planes GROUP BY vec_id, t, p),
buckets AS (
  SELECT vec_id, t AS table_id,
    sum(CASE WHEN d >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::INT AS bucket
  FROM dots GROUP BY vec_id, t)"""
