"""Training-data preparation operators beyond the reference's surface:
benchmark decontamination, guaranteed-superset frequent terms, bloom-
prefiltered anti-join, sequence packing, deterministic dataset splits.

These are the ops a 100 TB pretraining pipeline runs after quality
filtering (the reference stops at curation + chunking,
03_process_and split_dataset.py; everything here is beyond-reference
scope, designed Spark-first):

* every operator is exact — sketches/filters only generate CANDIDATE
  supersets that are then verified with an exact join, so each one is
  DuckDB-oracle-checkable;
* nothing collects unbounded data to the driver, and nothing runs a
  Spark action at DataFrame-construction time (plan-composition only);
* the only Python crossing is the bloom bitmap builder (numpy batch
  kernel behind mapInPandas — the map-side-combine shape); membership
  probes, n-gram generation, packing and splits are pure Column
  algebra that stays inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rules import sliding, tokens_col
from .sketches import md5_prefix_hash

__all__ = [
    "ngram_strings_col",
    "decontaminate",
    "frequent_terms",
    "bloom_anti_join",
    "pack_sequences",
    "dataset_split_col",
    "dsir_log_ratio_table",
    "dsir_scores",
    "gumbel_topk_sample",
]


def ngram_strings_col(text: Column, n: int) -> Column:
    """Distinct word n-grams of lower(text) as space-joined strings
    (rules.sliding). Docs with < n tokens, and NULL text, yield [] —
    a doc too short to contain a full n-gram cannot be contaminated
    by one.
    """
    toks = tokens_col(F.lower(text))
    grams = sliding(toks, n, lambda *t: F.concat_ws(" ", *t))
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(empty)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for each corpus doc, count distinct
    word n-grams it shares with any benchmark document (the
    GPT-3/PaLM-style n-gram-overlap test used to drop eval leakage
    from pretraining corpora).

    Returns (id_col, n_contaminated) for docs with >= 1 hit.

    Scale shape: benchmark suites are tiny next to the corpus (10^4-5
    docs vs 10^12), so the distinct benchmark-gram set is BROADCAST
    and the corpus-side explode feeds a broadcast semi-join + partial
    count — the 100 TB side never shuffles; the only wide exchange is
    the per-doc hit count over the (rare) contaminated rows. At even
    larger benchmark sets, hash grams to int64 first (xxhash64) to
    cut broadcast bytes ~6x; the string form is kept here because it
    is cross-engine checkable.
    """
    bench_grams = (
        benchmark.select(
            F.explode(ngram_strings_col(F.col("text"), n)).alias("gram")
        )
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(ngram_strings_col(F.col("text"), n)).alias("gram"),
    )
    hits = doc_grams.join(F.broadcast(bench_grams), "gram", "inner")
    # grams are already distinct per doc (array_distinct upstream), so
    # a plain count IS the distinct-gram count — no second dedup pass
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contaminated")
    )


def frequent_terms(
    docs: DataFrame,
    min_per_mille: int = 1,
    max_broadcast_candidates: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters: terms occurring in >= min_per_mille/1000
    of all token occurrences, with exact counts — without ever
    shuffling the full vocabulary.

    Two phases (SpaceSaving-style candidates + exact verify):

    1. candidates: within each batch, keep terms with local count
       >= f * batch_tokens (f = min_per_mille/1000). Pigeonhole
       guarantee: if a term's GLOBAL frequency >= f, some batch has
       local frequency >= f (if count_i < f*N_i for every i, summing
       gives count < f*N). So candidates ⊇ true heavy hitters, and
       each batch emits <= 1/f candidates (bounded, tiny).
    2. verify: broadcast the candidate set, semi-join the exploded
       token stream against it, and count exactly. Only candidate
       occurrences reach the shuffle — the full vocabulary (zipf
       tail, billions of rare terms at 100 TB) never does.

    The threshold compare is integer math (cnt * 1000 >= total), so
    it is bit-exact across engines — the oracle recomputes both sides
    from scratch with a full GROUP BY and must agree row-for-row.
    """
    f = min_per_mille / 1000.0
    toks = tokens_col(F.lower(F.col("text")))
    terms = docs.select(
        F.explode(F.when(F.length(F.trim(F.col("text"))) > 0, toks)).alias("term")
    )

    def local_heavy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            counts = b["term"].value_counts()
            keep = counts[counts >= f * len(b)]
            if len(keep):
                yield pd.DataFrame({"term": keep.index})

    candidates = (
        terms.mapInPandas(local_heavy, "term string").distinct()
    )
    # the per-batch pigeonhole bounds candidates per Arrow batch
    # (<= 1000/min_per_mille), but the distinct UNION across batches
    # is not globally bounded: at ~10^6 heterogeneous shards it can
    # outgrow a driver broadcast (code-review r4c4 finding #7).
    # Construction must stay action-free (the registry gate), so the
    # demotion is opt-in: pass max_broadcast_candidates at real scale
    # and the join falls back to shuffle above it — same result, no
    # driver OOM.
    cand_side = F.broadcast(candidates)
    if max_broadcast_candidates is not None:
        # routed through the shared caching registry so the one
        # release point (caching.release_cached, called by pipeline /
        # bench / jobs after materializing) frees it — a bare
        # .persist() here leaked across long-lived sessions
        # (ADVICE r4)
        from .caching import persist_tracked

        candidates = persist_tracked(candidates)
        if candidates.count() > max_broadcast_candidates:
            cand_side = candidates
    total = terms.agg(F.count(F.lit(1)).alias("_total_tokens"))
    exact = (
        terms.join(cand_side, "term", "inner")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 1000 >= F.lit(min_per_mille) * F.col("_total_tokens"))
        .select("term", "cnt")
    )


# ------------------------------------------------------------- bloom

_BLOOM_K = 5  # hash functions


def _bloom_positions(key: Column, m_bits: int) -> list[Column]:
    """k bit positions for a key — xxhash64(key, i) mod m, computed
    JVM-side so build and probe use the identical hash family (no
    Python reimplementation of Spark's XXH64 to keep in sync)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)).cast("long")
        for i in range(_BLOOM_K)
    ]


def bloom_anti_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    m_bits: int = 1 << 17,
) -> DataFrame:
    """probe ANTI JOIN build on `key`, EXACTLY — but routed through a
    Bloom filter so only probe rows the filter cannot clear pay for
    the real join.

    Why this matters at 100 TB: a plain anti-join shuffles the entire
    probe side on the key. Here the bloom's "definitely absent"
    verdict (no false negatives) lets ~all unmatched rows exit
    map-side; only the maybe-present sliver (true matches + false
    positives, tunable via m_bits) is exactly anti-joined. This is
    the runtime-row-level-filtering idea Spark applies to equi-joins,
    expressed as a reusable operator for anti semantics.

    Plan shape (no driver action, no collect):
      build:  JVM hash positions -> numpy batch kernel sets bits ->
              one partial bitmap row per Arrow batch (map-side
              combine) -> single-row OR-reduce via aggregate/zip_with
      probe:  crossJoin(single bitmap row — auto-broadcast) -> pure
              Column bit tests -> definite-misses kept directly;
              maybes exactly anti-joined -> union.

    NULL probe keys are kept (anti-join semantics: NULL never equals
    any build key).
    """
    if m_bits % 64 != 0 or m_bits <= 0:
        # positions past n_words*64 would index out of bounds on the
        # build side and probe as NULL (dropped from BOTH outputs)
        # on the read side (code-review r4c4 finding #4)
        raise ValueError(
            f"m_bits must be a positive multiple of 64, got {m_bits}"
        )
    n_words = m_bits // 64
    pos_df = build.select(F.array(*_bloom_positions(F.col(key), m_bits)).alias("pos"))

    def build_bitmap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            if not len(b):
                continue
            bitmap = np.zeros(n_words, dtype=np.uint64)
            pos = np.concatenate(b["pos"].to_numpy()).astype(np.uint64)
            np.bitwise_or.at(
                bitmap, (pos >> np.uint64(6)), np.uint64(1) << (pos & np.uint64(63))
            )
            yield pd.DataFrame({"bitmap": [bitmap.astype(np.int64).tolist()]})

    partials = pos_df.mapInPandas(build_bitmap, "bitmap array<long>")
    zeros = F.array_repeat(F.lit(0).cast("long"), n_words)
    bloom = partials.agg(
        F.aggregate(
            F.collect_list("bitmap"),
            zeros,
            lambda acc, bm: F.zip_with(acc, bm, lambda a, b: a.bitwiseOR(b)),
        ).alias("_bloom")
    )

    probed = probe.crossJoin(F.broadcast(bloom))
    tests = [
        F.getbit(
            F.element_at(F.col("_bloom"), F.shiftright(p, 6).cast("int") + 1),
            p.bitwiseAND(63),
        )
        == 1
        for p in _bloom_positions(F.col(key), m_bits)
    ]
    might_contain = F.col(key).isNotNull()
    for t in tests:
        might_contain = might_contain & t
    definite_out = probed.filter(~might_contain).drop("_bloom")
    maybe = (
        probed.filter(might_contain)
        .drop("_bloom")
        .join(build.select(key), key, "left_anti")
    )
    return definite_out.unionByName(maybe)


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> DataFrame:
    """Deterministic sequence packing for pretraining batches:
    documents are concatenated in a fixed order and cut into
    fixed-capacity token windows; each doc learns which pack it
    starts in and whether it crosses a pack boundary (the standard
    "packed sequences with document breaks" layout — docs are split
    across packs rather than bin-packed, so the layout is a pure
    prefix-sum, fully parallel and restart-stable).

    A GLOBAL concatenation order would serialize the window into one
    partition, so packing is scoped per (md5-bucket) stream — at
    cluster scale each bucket is an independent shard packed in
    parallel, exactly like sharded .bin files in real training
    stacks. Deterministic: bucket and order derive from content ids,
    never from partition layout.

    Output: id_col, pack_bucket, n_tokens, pack_id (per bucket),
    start_off (token offset of this doc inside its pack), spans_packs.
    """
    toks = tokens_col(F.col("text"))
    n_tokens = (
        F.when(F.length(F.trim(F.col("text"))) > 0, F.size(toks))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    bucket = md5_prefix_hash(F.col(id_col).cast("string"), 8) % n_buckets
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        docs.select(
            F.col(id_col),
            bucket.alias("pack_bucket"),
            n_tokens.alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("start_off", (F.col("cum") - F.col("n_tokens")) % capacity)
        .withColumn(
            "pack_id", ((F.col("cum") - F.col("n_tokens")) / capacity).cast("bigint")
        )
        .withColumn(
            "spans_packs",
            (F.col("n_tokens") > 0)
            & (
                ((F.col("cum") - 1) / capacity).cast("bigint") > F.col("pack_id")
            ),
        )
        .drop("cum")
    )
    return out


def dataset_split_col(id_col: Column, train: int = 80, val: int = 10) -> Column:
    """Deterministic train/val/test assignment from a content-id hash
    (md5 prefix — cross-engine, unlike xxhash64): reproducible across
    runs, engines and cluster sizes, and stable under corpus growth
    (a doc's split never changes when other docs are added — the
    property RNG-based randomSplit lacks)."""
    pct = md5_prefix_hash(id_col.cast("string"), 8) % 100
    return (
        F.when(pct < train, F.lit("train"))
        .when(pct < train + val, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def domain_mixture_weights(
    df: DataFrame,
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-scaled domain sampling weights: w_d ∝ n_d^alpha,
    normalized to sum 1 (alpha < 1 upweights small domains — the
    multilingual-LM mixing rule, e.g. XLM-R's alpha=0.3 / mT5's 0.7).

    One count shuffle on the domain key; the normalizing sum runs
    over the post-agg domain dim (thousands of rows at web scale,
    not documents), via an unpartitioned window — fine BECAUSE it is
    post-agg; never apply this window pre-agg."""
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wsum = Window.partitionBy()
    raw = F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    return counts.withColumn(
        "weight", raw / F.sum(raw).over(wsum)
    ).withColumn("n_docs", F.col("n_docs").cast("bigint"))


def domain_mixture_sample(
    df: DataFrame,
    alpha: float = 0.7,
    target_docs: int = 1000,
) -> DataFrame:
    """Deterministic hash-sample realizing the temperature mixture:
    per-domain accept rate = min(1, weight_d * target / n_d), doc
    accepted iff md5(id) % 1e6 < rate * 1e6. Reproducible across
    engines/cluster sizes (no RNG), and a doc's fate is independent
    of partitioning — the `dataset_split_col` discipline applied to
    mixture sampling.

    The weight table is a broadcast-joined post-agg dim: the doc
    table is touched by exactly one narrow filter pass after one
    count shuffle.
    """
    weights = domain_mixture_weights(df, alpha=alpha).withColumn(
        "accept_rate",
        F.least(
            F.lit(1.0), F.col("weight") * F.lit(float(target_docs)) / F.col("n_docs")
        ),
    )
    h = md5_prefix_hash(F.col("doc_id").cast("string"), 8) % 1_000_000
    # NULL-SAFE join: a NULL domain is a real group — its count
    # participates in the weight normalization, so dropping its docs
    # via a plain equi-join would deflate every real domain's
    # expected sample size with no warning (code-review r4c4
    # finding #3)
    wdim = F.broadcast(
        weights.select(
            F.col("source").alias("_wf_dom"), "accept_rate"
        )
    )
    return (
        df.join(wdim, F.col("source").eqNullSafe(F.col("_wf_dom")))
        .filter(h < F.col("accept_rate") * 1_000_000)
        .drop("accept_rate", "_wf_dom")
    )


# ------------------------------------------------------------------ DSIR
# (Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling": score raw docs by the log importance weight between a
# hashed n-gram model of the TARGET distribution and one of the RAW
# distribution, then Gumbel-top-k sample proportional to the weights.)


def _md5_bucket(col: Column, n_buckets: int) -> Column:
    """Cross-engine-stable hashed feature bucket (md5 prefix -> int,
    the dataset_split_col discipline — xxhash64 would be cheaper but
    is not reproducible in the DuckDB oracle)."""
    return md5_prefix_hash(col, 8) % F.lit(int(n_buckets))


def dsir_log_ratio_table(
    df: DataFrame,
    target_col: str,
    n_buckets: int = 512,
) -> DataFrame:
    """(bucket, llr) — per-bucket log importance ratio between the
    target subset (rows where ``target_col`` is true) and the whole
    corpus, over hashed lowercased unigram buckets with add-a
    smoothing (a = 0.5):

        llr(b) = ln((c_t(b)+a) / (N_t+a*B)) - ln((c_r(b)+a) / (N_r+a*B))

    Both distributions come out of ONE explode + ONE groupBy pass
    (the target count is a conditional sum, not a second scan); the
    normalizing totals ride the broadcast single-row cross-join idiom
    (domain_mixture_weights precedent). Output is <= n_buckets rows —
    a broadcastable dim no matter the corpus size."""
    toks = tokens_col(F.lower(F.col("text")))
    ex = df.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col(target_col).cast("boolean").alias("is_t"),
        F.explode(toks).alias("tok"),
    )
    counts = ex.groupBy(_md5_bucket(F.col("tok"), n_buckets).alias("bucket")).agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_r").cast("double").alias("n_r"),
        F.sum("c_t").cast("double").alias("n_t"),
    )
    a = F.lit(0.5)
    b = F.lit(float(n_buckets))
    llr = F.log((F.col("c_t") + a) / (F.col("n_t") + a * b)) - F.log(
        (F.col("c_r") + a) / (F.col("n_r") + a * b)
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket", llr.alias("llr")
    )


def dsir_scores(
    df: DataFrame,
    target_col: str,
    n_buckets: int = 512,
) -> DataFrame:
    """Per-doc DSIR log importance weight: sum (and mean) of the
    bucket log-ratios over the doc's tokens. Docs with no tokens have
    no features and are not scored (absent on both engines).

    Scale shape: the <= n_buckets log-ratio dim BROADCASTS to the
    exploded corpus (map-side join, no corpus shuffle for the
    lookup); the only wide exchange is the per-doc sum keyed on
    ``doc_id`` — uniform by construction. Nothing about the corpus
    size reaches the driver."""
    lr = dsir_log_ratio_table(df, target_col, n_buckets=n_buckets)
    toks = tokens_col(F.lower(F.col("text")))
    ex = df.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id"),
        F.explode(toks).alias("tok"),
    )
    return (
        ex.withColumn("bucket", _md5_bucket(F.col("tok"), n_buckets))
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("llr").alias("llr_sum"),
            F.avg("llr").alias("llr_avg"),
        )
    )


def gumbel_topk_sample(
    scored: DataFrame,
    score_col: str,
    k: int,
    seed_tag: str = "dsir",
) -> DataFrame:
    """Deterministic Gumbel-top-k sampling: draw k rows with
    probability proportional to exp(score), using the
    Gumbel-max trick with md5-derived uniforms instead of RNG —
    u = (md5_32(id || tag) + 0.5) / 2^32, g = -ln(-ln(u)),
    key = score + g; the k largest keys ARE a weighted sample
    without replacement (Vieira 2014). Reproducible across engines,
    runs and cluster sizes; change ``seed_tag`` for a fresh draw.

    Scale shape: one narrow projection + a global top-k
    (TakeOrderedAndProject — per-partition heaps, only k rows ever
    cross to the driver-side reduce; no full sort materializes)."""
    h = md5_prefix_hash(F.concat(F.col("doc_id").cast("string"), F.lit(seed_tag)), 8)
    u = (h.cast("double") + 0.5) / F.lit(4294967296.0)
    key = F.col(score_col) - F.log(-F.log(u))
    return (
        scored.withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.col("doc_id"))
        .limit(int(k))
    )
