"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Design rules (100 TB posture):
* signatures are computed JVM-side where possible (xxhash64 +
  higher-order array functions — whole-stage codegen, no Python);
* candidate generation is always a *band/bucket equi-join* (shuffle
  on short keys), never a cross join;
* verification (exact Jaccard / hamming / cosine) runs only on
  candidate pairs.

Reference parity: the reference dedups with full-row
``dropDuplicates()`` before every persist
(databricks/model/bc_chat_ift/01_seed_generation.py:362,
02_data_augmentation.py:310, 03_process_and split_dataset.py:50);
exact_dedup generalizes that to content-hash keys, and the near-dup
family covers what the north rule adds (repeated-line MinHash
shingles).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rules import sliding, tokens_col

# Frames persisted by the operators below (signature/fingerprint
# tables consumed twice by their self-joins) route through the shared
# package-wide registry in caching.py so one release point covers
# every persisting module (ADVICE r2; ADVICE r4 extended the same
# lifecycle to trainprep.frequent_terms). `release_cached` stays
# importable from here — it IS the shared release: pipeline, bench.py
# and the jobs call it.
from .caching import persist_tracked as _persist  # noqa: E402
from .caching import release_cached  # noqa: E402,F401


# ---------------------------------------------------------------- exact


def _content_key(text_col: str, id_col: str) -> Column:
    """Null-safe md5 content key: a NULL text (failed extraction)
    keys by its own id, so NULL-text docs are never collapsed
    together — the repo-wide zero-content contract (md5(NULL) is
    NULL, and a NULL partition key would silently merge every
    extraction failure into one "duplicate" group; code-review r4c2
    finding #5)."""
    return F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per identical text (null-safe md5
    content key: NULL-text docs are all kept, never collapsed).

    One shuffle (window on the hash). At 10^12 rows prefer the
    groupBy(min) + semi-join form if the id is the only payload; the
    window form returns full rows without a second join.
    """
    w = Window.partitionBy(_content_key(text_col, id_col)).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """(text_hash, n_dups, keep_id, dup_ids) for groups with >1 row."""
    return (
        df.groupBy(_content_key("text", "doc_id").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ------------------------------------------------------------- shingles


def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as array<string> (JVM-side, no UDF).
    Human-readable and SQL-oracle-checkable; the hot paths use
    shingle_hashes_col."""
    toks = tokens_col(text)
    n = F.size(toks)
    grams = sliding(toks, k, lambda *t: F.concat_ws(" ", *t))
    # zero-token docs carry NO shingles (the repo-wide contract, cf.
    # the md5 dedup family): without this, every empty/whitespace doc
    # shares the phantom shingle '' and pairs at jaccard 1.0 — found
    # by the random differential fuzz (two empty docs in one block;
    # the DuckDB side's array_to_string([]) is NULL so the engines
    # also disagree)
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.array_distinct(grams))
    )


def shingle_hashes_col(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as array<bigint> — xxhash64-combined
    token hashes instead of concatenated strings.

    Identity-equivalent to shingles_col (tokens contain no
    whitespace, so ' '-joining is injective; hash equality <=> string
    equality modulo a ~n^2/2^64 collision chance), but each shingle
    is built from k long-hash lookups + one 16-byte xxhash64 rather
    than a k-word string slice+concat allocation — the string form
    measured ~4x slower at sf0.1 and shuffles ~10x the bytes.

    Tokenization matches shingles_col (case-SENSITIVE; simhash's
    token_hashes_col lowercases and is a different contract).
    """
    th = F.transform(tokens_col(text), lambda t: F.xxhash64(t))
    n = F.size(th)
    grams = sliding(th, k, F.xxhash64)
    whole = F.aggregate(
        th, F.lit(42).cast("bigint"), lambda acc, h: F.xxhash64(acc, h)
    )
    # n == 0 -> NO shingles (not [hash(42)], which every empty doc
    # would share) — same zero-token contract as shingles_col
    return (
        F.when(n == 0, F.array().cast("array<bigint>"))
        .when(n < k, F.array(whole))
        .otherwise(F.array_distinct(grams))
    )


# -------------------------------------------------------- MinHash + LSH


#: signature value for docs with NULL text / zero shingles — uint64
#: max, unreachable-in-practice as a real minimum; empty docs thus
#: band together and are then rejected by jaccard_verify's explicit
#: size(sh) > 0 gate (NOT by a 0/0 -> NULL division: ANSI mode makes
#: 0/0 a DIVIDE_BY_ZERO error), never silently matched to real docs.
_EMPTY_SIG = 0xFFFFFFFFFFFFFFFF


def _flat_hashes(hash_lists):
    """(lens, nonempty, flat, starts) of a batch of per-doc int64 hash
    arrays, None counting as empty: each doc's length, which docs have
    any hash, the non-empty docs' hashes as ONE int64 array, and each
    non-empty doc's offset into it — the layout both hash kernels
    reduce over."""
    import numpy as np

    lens = np.fromiter(
        ((0 if h is None else len(h)) for h in hash_lists), dtype=np.int64,
        count=len(hash_lists),
    )
    nonempty = lens > 0
    parts = [np.asarray(h, dtype=np.int64) for h in hash_lists if h is not None and len(h)]
    flat = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    starts = np.zeros(len(parts), dtype=np.int64)
    np.cumsum(lens[nonempty][:-1], out=starts[1:])
    return lens, nonempty, flat, starts


def _minhash_kernel(hash_lists, n_hashes: int):
    """Whole-batch minhash from per-doc shingle-hash arrays: one
    concatenated uint64 array, n_hashes vectorized mix passes, minima
    per doc via minimum.reduceat. Zero per-doc Python.

    NULL text reaches shingle_hashes_col as a NULL array -> None here;
    None/empty docs get the _EMPTY_SIG sentinel row instead of
    crashing (ADVICE r2: the explode fallback path tolerated NULLs, so
    the kernel path must too)."""
    import numpy as np

    from .kernels.mix import splitmix64

    lens, nonempty, flat, starts = _flat_hashes(hash_lists)
    out = np.full((len(lens), n_hashes), np.uint64(_EMPTY_SIG), dtype=np.uint64)
    if nonempty.any():
        ne_lens = lens[nonempty]
        flat = flat.view(np.uint64)
        seeds = splitmix64(
            np.arange(1, n_hashes + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        )
        sub = np.empty((len(ne_lens), n_hashes), dtype=np.uint64)
        # Chunk the doc stream so each seed pass's temporaries stay
        # cache-resident (r6, opt guide §1.2 per-task work): the
        # former whole-array loop streamed ~6 full-size temporaries
        # per seed — n_hashes * 6 * |flat| bytes of memory traffic
        # (tens of GB per task at sf1), which made the kernel memory-
        # bandwidth-bound. Chunk boundaries fall on doc starts, so
        # every reduceat segment is intact and outputs are identical.
        nd_ne = len(ne_lens)
        target = 1 << 16  # ~512 KB of uint64 per temp
        d0 = 0
        while d0 < nd_ne:
            d1 = d0
            while d1 < nd_ne and (
                d1 == d0
                or starts[d1] - starts[d0] + ne_lens[d1] <= target
            ):
                d1 += 1
            f0 = starts[d0]
            f1 = starts[d1] if d1 < nd_ne else len(flat)
            fl = flat[f0:f1]
            st = starts[d0:d1] - f0
            for j in range(n_hashes):
                sub[d0:d1, j] = np.minimum.reduceat(
                    splitmix64(fl ^ seeds[j]), st
                )
            d0 = d1
        out[nonempty] = sub
    return out.view(np.int64)


def minhash_signature_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 64,
    hash_fn=None,
) -> DataFrame:
    """(id, sig array<bigint>) — n_hashes minhash values per doc.

    Hybrid (the simhash recipe, VERDICT r1 #2): shingle hashing stays
    JVM-side (shingle_hashes_col — codegen arithmetic, no strings);
    the n_hashes min-reductions run as one numpy pass per Arrow batch
    (splitmix64(shingle ^ seed_j) family), replacing an explode +
    n_hashes min-aggs + shuffle. min over a multiset equals min over
    the set, so distinctness upstream is only a size optimization.

    hash_fn: a (shingle_string_col, seed) -> bigint Column family
    replacing the kernel with an explode + n_hashes min-aggs over the
    human-readable shingle STRINGS (shingles_col, not the hashed
    form). The minhash/banding ALGEBRA is hash-agnostic; passing a
    cross-engine family (md5-prefix) lets a DuckDB oracle replay the
    exact signatures — the winnow_fingerprints recipe applied to LSH.
    Production keeps the kernel's splitmix64 family (faster, and
    8-byte shingle hashes instead of strings).
    """
    if hash_fn is not None:
        sh = df.select(
            F.col(id_col),
            F.explode(shingles_col(F.col(text_col), k)).alias("shingle"),
        )
        mins = [
            F.min(hash_fn(F.col("shingle"), j)).alias(f"h{j}")
            for j in range(n_hashes)
        ]
        agg = sh.groupBy(id_col).agg(*mins)
        return agg.select(
            id_col, F.array(*[F.col(f"h{j}") for j in range(n_hashes)]).alias("sig")
        )
    import pandas as pd
    from pyspark.sql import types as T

    def _fn(hashes):
        sig = _minhash_kernel(hashes.tolist(), n_hashes)
        return pd.Series(list(sig), index=hashes.index)

    # asNondeterministic: the sentinel filter right below references
    # the UDF's output column, and the optimizer otherwise pushes a
    # COPY of the whole ArrowEvalPython (plus its shingle-hash
    # input subtree) beneath the filter — two full signature
    # evaluations per pass, measured 4.3 s vs 0.7 s at sf1.0 (opt
    # guide §4.4; plan showed 2x ArrowEvalPython). The kernel is
    # semantically deterministic — the flag only forbids the
    # optimizer from duplicating/reordering it.
    udf = F.pandas_udf(_fn, T.ArrayType(T.LongType())).asNondeterministic()
    out = df.select(
        F.col(id_col), udf(shingle_hashes_col(F.col(text_col), k)).alias("sig")
    )
    # Drop the _EMPTY_SIG sentinel rows (zero-shingle docs) so the
    # kernel path matches the hash_fn explode path, where empty docs
    # simply produce no group. Without this every content-free doc
    # shares identical bands and the banding self-join emits
    # m^2/2 candidate pairs for them BEFORE any verify can reject
    # — a one-bucket quadratic blow-up at crawl scale. Post-UDF
    # sentinel test (int64 view of uint64-max is -1) avoids
    # re-evaluating the shingle hashes for a pre-filter; a real
    # minimum of -1 needs xxhash64 to hit 2^64-1, P ~ n/2^64.
    return out.filter(F.element_at("sig", 1) != F.lit(-1))


def band_table(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    band_hash_fn=None,
) -> DataFrame:
    """(id, band_idx, band_hash) — the LSH banding projection of a
    signature frame, 4 signature rows per band. This IS the
    persistable dedup state: band hashes are deterministic functions
    of the signature (fixed splitmix64 seed family), so a band table
    written today equi-joins correctly against signatures computed
    tomorrow — the incremental-dedup contract (VERDICT r3 #3).

    band_hash_fn: string Column -> bigint Column replacing xxhash64
    over the comma-joined band slice (cross-engine oracle hook; the
    banding algebra is hash-agnostic)."""
    bh = band_hash_fn if band_hash_fn is not None else F.xxhash64
    return sig_df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: bh(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), b * 4 + 1, 4),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    band_hash_fn=None,
) -> DataFrame:
    """Banding: docs sharing any band hash become a candidate pair.

    Equi-join on (band_idx, band_hash); AQE handles residual skew
    (a giant boilerplate cluster = a hot band bucket).
    """
    return _pairs_from_bands(
        band_table(sig_df, id_col, n_bands, band_hash_fn), id_col
    )


def _pairs_from_bands(bands: DataFrame, id_col: str) -> DataFrame:
    """Within-bucket candidate pairs via ONE groupBy + a streamed
    combination explode — set-identical to the former band-table
    self-join (id_a < id_b sharing any (band_idx, band_hash) bucket)
    but with half the band-table passes (r6, opt guide §2.4): the
    self-join consumed its input twice, which re-ran the signature
    kernel per side (a lazily-persisted frame read concurrently by
    both join sides races the cache and computes twice), and paid two
    exchanges of the same rows plus a sort-merge. Here the bucket's
    id list is collected once (ids within a bucket are distinct by
    construction — one band row per doc per band) and pairs stream
    out of two chained generators, so no m^2 array is ever
    materialized in a single row buffer. Hot-bucket skew is unchanged
    — the join concentrated a hot bucket's quadratic OUTPUT in one
    task too (see minhash_dedup_pairs' collapse_exact guard)."""
    grp = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    e1 = grp.select("ids", F.posexplode("ids").alias("i", "id_a"))
    rest = F.slice(
        F.col("ids"),
        F.col("i") + 2,
        F.greatest(F.size("ids") - F.col("i") - 1, F.lit(0)),
    )
    return (
        e1.select(F.col("id_a"), F.explode(rest).alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only.

    Shingles are hashed to int64 (xxhash64) BEFORE the candidate
    join: set cardinalities — hence Jaccard — are preserved (modulo
    a ~n^2/2^64 collision chance), and the two shuffles that route
    shingle sets to their candidate pairs move 8-byte hashes instead
    of raw k-word strings (~5-10x fewer bytes at web scale;
    VERDICT r1).

    Zero-shingle docs (NULL/empty/whitespace text) are dropped from
    the sets frame here, so candidate pairs referencing them vanish
    at the inner join. This must be EXPLICIT: all empty docs share
    the _EMPTY_SIG signature, band together, and arrive as candidate
    pairs — and under ANSI mode (Spark 4 default) their 0/0 union
    THROWS DIVIDE_BY_ZERO rather than yielding the NULL the old
    comment assumed (random-fuzz-found: two whitespace-only docs
    crashed the whole minhash job)."""
    # Zero-shingle exclusion via the equivalent INPUT predicate:
    # size(shingle_hashes) > 0  <=>  tokens nonempty  <=>  the text
    # contains a non-whitespace char (NULL text -> NULL rlike ->
    # dropped, matching size(NULL sh) semantics). Filtering on the
    # derived `sh` column made the optimizer push the predicate below
    # the projection by SUBSTITUTING the whole shingle subtree — the
    # tokenize+hash+zip+distinct pipeline evaluated twice per row,
    # measured 3.8 s vs 0.7 s for this frame at sf1.0 (r6, opt guide
    # §4.4's duplication trap in Column form).
    sets = df.filter(F.col(text_col).rlike(r"\S")).select(
        F.col(id_col), shingle_hashes_col(F.col(text_col), k).alias("sh")
    )
    j = (
        pairs.join(sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        j.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    collapse_exact: bool = False,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: sign -> band -> verify.

    The signature frame is no longer persisted (r6): since
    _pairs_from_bands became a single-pass groupBy, the signature
    has exactly one consumer, so a cache only added a write + the
    risk of the old two-sided cache race.

    ``collapse_exact=True`` is the web-scale guard against boilerplate
    floods (VERDICT r2 #10): m byte-identical docs otherwise share
    every band, and the banding self-join emits m(m-1)/2 candidate
    pairs through ONE (band, hash) key. AQE's skew-join cannot help —
    the hot partition's INPUT is tiny (m short band rows, measured
    ~17 KB for m=1200); the quadratic blowup is in the join OUTPUT,
    which input-size-based skew detection never sees. Collapsing first
    routes each exact-dup group through one representative (min id):
    the banding join sees one row per unique text, and the group
    contributes m-1 star pairs (rep, member, jaccard=1.0) — exactly
    the pairs a greedy or components survivor policy needs to make the
    same drop decisions as the full clique, at linear cost. NULL-text
    docs are never collapsed together (each stays its own rep, keeping
    the NULL-safety contract: they can't pair). No-op when
    threshold > 1.0 (identical texts would not meet the bar)."""
    if collapse_exact and threshold <= 1.0:
        reps, star = _collapse_exact(df, id_col, text_col)
        sig = minhash_signature_df(reps, id_col, text_col, k)
        cand = lsh_candidate_pairs(sig, id_col)
        near = jaccard_verify(reps, cand, id_col, text_col, k, threshold)
        return near.unionByName(star)
    sig = minhash_signature_df(df, id_col, text_col, k)
    cand = lsh_candidate_pairs(sig, id_col)
    return jaccard_verify(df, cand, id_col, text_col, k, threshold)


def _collapse_exact(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(reps, star_pairs): one representative (min id) per identical
    text plus (rep, member, 1.0) star pairs for the collapsed members.
    NULL-text docs are never collapsed (each stays its own rep)."""
    sets = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    ).withColumn("_ch", F.md5(F.col("_txt")))
    w = Window.partitionBy("_ch").orderBy("_id")
    marked = _persist(sets.withColumn("_rn", F.row_number().over(w)))
    reps = marked.filter((F.col("_rn") == 1) | F.col("_ch").isNull()).select(
        F.col("_id").alias(id_col), F.col("_txt").alias(text_col)
    )
    star = (
        marked.filter((F.col("_rn") > 1) & F.col("_ch").isNotNull())
        .join(
            marked.filter(F.col("_rn") == 1).select(
                "_ch", F.col("_id").alias("id_a")
            ),
            "_ch",
        )
        .select("id_a", F.col("_id").alias("id_b"), F.lit(1.0).alias("jaccard"))
    )
    return reps, star


def incremental_minhash_pairs(
    new_df: DataFrame,
    old_bands: DataFrame | None,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against persisted band state without
    re-banding the corpus (VERDICT r3 #3: a daily crawl increment must
    not pay the full-corpus banding join).

    ``new_df``      the increment's (id, text) rows
    ``old_bands``   the persisted band table (id, band_idx, band_hash)
                    of everything already ingested (band_table
                    output), or None on a cold start: the batch is the
                    whole corpus, so candidates come from the batch's
                    own bands and no cross join is planned
    ``corpus_df``   (id, text) covering BOTH sides — only rows that
                    land in candidate pairs are ever shingled/joined
                    (not read on a cold start)

    Returns ``(pairs, new_bands)``; the caller appends ``new_bands``
    to the band state so the next increment sees this one.

    Equivalence to a full recompute (tested): band hashes are
    deterministic per text, so (x, y) is a candidate here iff it is a
    candidate in the one-shot run; exact-dup members are collapsed
    per batch rather than corpus-wide, which changes star-pair
    SHAPE ((rep_new, member) vs (rep_global, member)) but not the
    drop set under greedy (url_b of some pair ⇔ non-minimal member)
    or components (same connected components) — survivors identical.
    The collapse is skipped when threshold > 1.0, as in
    minhash_dedup_pairs (identical texts would not meet the bar).

    Scale shape: the increment's band rows (|new| × 16 bands, ~24 B
    each) broadcast to the corpus band table, so the 100 TB side is
    ONE narrow scan with a map-side join — no corpus shuffle, no
    corpus re-signing. A cold start never broadcasts: its band side
    would be the whole corpus."""
    star = None
    if threshold <= 1.0:
        new_df, star = _collapse_exact(new_df, id_col, text_col)
    sig = minhash_signature_df(new_df, id_col, text_col, k)
    nb = _persist(band_table(sig, id_col))
    cand = _pairs_from_bands(nb, id_col)
    if old_bands is None:
        # cold start: every candidate is in the batch, so verify
        # against it (the cached exact-collapse reps) instead of
        # re-reading the corpus
        corpus_df = new_df
    else:
        a, b = F.broadcast(nb).alias("a"), old_bands.alias("b")
        cross = a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        ).select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        cand = cross.unionByName(cand).distinct()
    near = jaccard_verify(corpus_df, cand, id_col, text_col, k, threshold)
    return (near if star is None else near.unionByName(star)), nb


# -------------------------------------------------------- exact Jaccard
# (quadratic *within blocks* — the SQL-oracle-checkable variant; the
# blocking key caps pair blowup)


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """All-pairs exact k-shingle Jaccard >= threshold, optionally
    blocked by a key (e.g. 'source') to bound the join. For unblocked
    web-scale use minhash_dedup_pairs instead.

    Computed over HASHED shingles (shingle_hashes_col): identical
    Jaccard values to string shingles (identity-preserving modulo
    ~n^2/2^64 collisions — the DuckDB oracle uses the string form and
    hash-matches), at ~10x less join/intersect cost.

    Positional size prune (lossless): J(A,B) <= min(|A|,|B|) /
    max(|A|,|B|), so pairs whose set sizes differ by more than 1/t
    are rejected BEFORE the expensive array_intersect — the prune is
    a cheap long comparison on precomputed cardinalities and cannot
    drop a pair the oracle would keep."""
    sets = (
        df.select(
            F.col("doc_id").alias("id"),
            shingle_hashes_col(F.col("text"), k).alias("sh"),
            *([F.col(block_col).alias("blk")] if block_col else []),
        )
        .withColumn("n_sh", F.size("sh"))
        # zero-token docs have no shingle set — excluded on both
        # engines (0/0 jaccard is undefined and the engines disagree)
        .filter(F.col("n_sh") > 0)
    )
    a, b = sets.alias("a"), sets.alias("b")
    size_prune = (
        F.col("a.n_sh") * F.lit(float(threshold)) <= F.col("b.n_sh")
    ) & (F.col("b.n_sh") * F.lit(float(threshold)) <= F.col("a.n_sh"))
    cond = (F.col("a.id") < F.col("b.id")) & size_prune
    if block_col:
        joined = a.join(b, on=(F.col("a.blk") == F.col("b.blk")) & cond)
    else:
        # quadratic by construction — acceptable only on small frames.
        # Construction must stay action-free (the registry gate), so
        # no count() here: warn unconditionally and point web-scale
        # users at the subquadratic equivalents (VERDICT r4 #8)
        import warnings

        warnings.warn(
            "ngram_jaccard_pairs without block_col forms an all-pairs "
            "cross join (O(n^2) candidate pairs) — fine for small "
            "frames, a scale-killer beyond ~10^5 docs. Use "
            "allpairs_jaccard_pairs (prefix-filtered, exact) or "
            "minhash_dedup_pairs (banded LSH, approximate) for "
            "web-scale inputs, or pass block_col.",
            stacklevel=2,
        )
        joined = a.crossJoin(b).filter(cond)
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "jaccard")
    )


def allpairs_jaccard_pairs(df: DataFrame) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    AllPairs / PPJoin candidate scheme (Bayardo et al. WWW'07; Xiao
    et al. WWW'08) over distinct word 3-shingle sets. Output is
    provably identical to the brute-force all-pairs Jaccard >=
    t = 0.5 (the DuckDB oracle IS the brute force), but the plan
    never forms the cross product:

    1. one shingle-frequency agg (post-agg dim, zipf-small),
    2. canonical rare-first shingle order per doc (sort by (df, w)),
    3. each doc exposes only its PREFIX — the first
       p = |s| - ceil(t*|s|) + 1 rarest shingles. Lossless: a pair
       with J >= t needs overlap >= ceil(t*|s|); if none of the
       first p shingles of a doc is shared, at most |s| - p =
       ceil(t*|s|) - 1 shared shingles remain — too few.
    4. candidates = prefix equi-join on shingle (skew-bounded by
       construction: prefixes hold each doc's RAREST shingles, so
       no boilerplate gram ever becomes a join key),
    5. length prune t*|a| <= |b| <= |a|/t inside the join condition,
    6. exact array_intersect verification on candidates only.

    At 10^12 docs this is the standard exact near-dup join: the only
    wide exchanges are the shingle-frequency agg and the prefix
    equi-join, both linear in corpus shingle count; verification
    cost is bounded by the (sparse) candidate set, never n^2.
    Complements the approximate MinHash path (minhash_dedup_pairs):
    same contract, exact semantics, higher constant cost.
    """
    sets = (
        df.select(
            F.col("doc_id").alias("id"),
            shingles_col(F.col("text"), 3).alias("tk"),
        )
        .withColumn("sz", F.size("tk"))
        .filter(F.col("sz") > 0)
    )
    sets = _persist(sets)
    tokd = sets.select("id", F.explode("tk").alias("w"))
    dfreq = tokd.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tokd.join(dfreq, "w")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "w"))).alias("ow"))
        .withColumn("sz", F.size("ow"))
        .withColumn(
            "p", F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz")) + 1
        )
    )
    pref = ordered.select(
        "id",
        "sz",
        F.explode(F.slice(F.col("ow").getField("w"), F.lit(1), F.col("p"))).alias("w"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    t = F.lit(0.5)
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz") * t <= F.col("b.sz"))
            & (F.col("b.sz") * t <= F.col("a.sz")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    fa = sets.select(
        F.col("id").alias("id_a"), F.col("tk").alias("ta"), F.col("sz").alias("sa")
    )
    fb = sets.select(
        F.col("id").alias("id_b"), F.col("tk").alias("tb"), F.col("sz").alias("sb")
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    jac = inter / (F.col("sa") + F.col("sb") - inter)
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def remove_duplicate_spans(
    df: DataFrame,
    span: int = 4,
    min_docs: int = 2,
    state: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """C4-style corpus-wide span dedup (C4 removed any three-sentence
    span occurring more than once in the corpus; here the unit is a
    fixed `span`-token chunk, the tokenizer-only analog): every
    non-overlapping span-token chunk that appears in >= min_docs
    DISTINCT documents is boilerplate and is cut from every document
    that contains it; remaining chunks are rejoined in order.

    Operates on whitespace-normalized tokens (like C4): the rebuilt
    text is single-space-joined, and docs with no tokens are not
    emitted (nothing to dedup). The trailing partial chunk (< span
    tokens) is never boilerplate.

    Returns ``(cleaned, new_state)``: cleaned is (doc_id, clean_text,
    n_removed); new_state is one row per distinct full-length span
    hash with its distinct-doc count (span_hash, nd), ~16 B/row.
    ``state`` is the persisted new_state of earlier batches; a call
    without it is the one-shot corpus run (the first increment
    against empty state). With it, the batch's docs receive EXACTLY
    the cuts a full recompute over history+batch would give them —
    distinct-doc counts add across batches because a doc belongs to
    exactly one batch — while already-emitted historical docs are
    never retroactively re-cut (forward-only, same as every
    incremental stage here). Proven equal to the full recompute on
    the increment in tests/test_dedup.py.

    Scale shape: the batch chunks once (uniform (doc, chunk) keys),
    counts are keyed on xxhash64(chunk) (8-byte shuffle key instead
    of the chunk string; same rows as string keys), join the state on
    span_hash (state rows ∝ distinct corpus spans), and the
    boilerplate set (tiny: only spans repeated across documents — C4
    measured a small fraction) broadcasts back — the history is
    touched only through its span table.
    """
    ch = _span_chunks(df, span)
    full = ch.filter(F.col("clen") == span).withColumn(
        "span_hash", F.xxhash64("chunk")
    )
    counts = full.groupBy("span_hash").agg(
        F.count_distinct(F.col("doc_id")).alias("nd")
    )
    totals = counts.withColumnRenamed("nd", "nd_total")
    if state is not None:
        hist = state.select("span_hash", F.col("nd").alias("nd_hist"))
        totals = counts.join(hist, "span_hash", "left").select(
            "span_hash",
            (F.col("nd") + F.coalesce(F.col("nd_hist"), F.lit(0))).alias(
                "nd_total"
            ),
        )
    boiler = totals.filter(F.col("nd_total") >= min_docs).select(
        "span_hash", F.lit(True).alias("removed")
    )
    marked = full.select("doc_id", "chunk_id", "chunk", "span_hash").join(
        F.broadcast(boiler), "span_hash", "left"
    )
    # trailing partial chunks are never boilerplate — carry them kept
    partial = ch.filter(F.col("clen") != span).select(
        "doc_id", "chunk_id", "chunk", F.lit(None).cast("boolean").alias("removed")
    )
    all_chunks = marked.select("doc_id", "chunk_id", "chunk", "removed").unionByName(
        partial
    )
    kept_struct = F.when(
        F.col("removed").isNull(), F.struct("chunk_id", "chunk")
    )  # no otherwise: collect_list drops NULLs -> only kept chunks
    cleaned = all_chunks.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s.chunk),
        ).alias("clean_text"),
        F.sum(F.when(F.col("removed"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
    )
    if state is None:
        return cleaned, counts
    # one row per span hash: counts add (disjoint doc sets), and
    # spans only in history carry over unchanged
    merged = (
        counts.unionByName(state.select("span_hash", "nd"))
        .groupBy("span_hash")
        .agg(F.sum("nd").cast("bigint").alias("nd"))
    )
    return cleaned, merged


def _span_chunks(df: DataFrame, span: int) -> DataFrame:
    """(doc_id, chunk_id, chunk, clen) — the chunking stage of
    remove_duplicate_spans."""
    toks = tokens_col(F.col("text"))
    ex = (
        df.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id"), F.posexplode(toks).alias("pos", "tok"))
        .withColumn("chunk_id", (F.col("pos") / span).cast("bigint"))
    )
    return ex.groupBy("doc_id", "chunk_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
        ).alias("chunk"),
        F.count(F.lit(1)).alias("clen"),
    )


def remove_duplicate_windows(
    df: DataFrame,
    window: int = 8,
) -> DataFrame:
    """ExactSubstr-style corpus-wide duplicate-substring removal
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": cut every substring of >= N tokens that occurs
    more than once in the corpus, keeping one copy). Their
    single-node tool builds a suffix array; the distributed analog
    is STRIDE-1 window hashing at granularity ``window``: any
    duplicated substring of length >= window shares all of its
    windows with the earlier occurrence, so removing every window
    occurrence that is not the corpus-wide first cuts the entire
    later copy while the globally-first copy (min (id, pos)) stays
    intact. Strictly stronger than `remove_duplicate_spans`: that
    one only sees chunk-ALIGNED repeats (stride = span), this one
    catches duplicates at any byte offset.

    Semantics (both engines): tokens = whitespace split; window key =
    the space-joined window string (Spark keys on xxhash64 of it to
    cut shuffle width — identical output modulo ~n^2/2^64 collisions,
    the ngram_jaccard_pairs precedent); an occurrence (id, pos) is
    removed iff it is not row_number()==1 over (id, pos) within its
    window key; removed token positions = union of [pos, pos+window);
    clean_text = the surviving tokens re-joined single-spaced (the
    C4/remove_duplicate_spans whitespace-normalization contract).
    Docs shorter than ``window`` tokens pass through untouched.
    Edge: for PERIODIC text repeating within one doc ("rep" x 16),
    the removed windows overlap the kept first window and the
    survivor collapses to the period — slightly more aggressive than
    Lee et al.'s range arithmetic there, identically on both engines.

    Scale shape: the occurrence table is ONE ROW PER TOKEN — linear,
    and its single shuffle keyed on the 8-byte window hash is the
    irreducible cost of corpus-wide substring dedup (uniform key:
    natural-text window hashes don't skew; the repeated-boilerplate
    hot keys are exactly the rows the dup filter keeps, a vanishing
    fraction). The removed-position rebuild is one doc-keyed shuffle
    whose left side is only the docs that lost a window. No
    all-pairs path, no driver collect.

    Output: doc_id, clean_text, n_tokens, n_removed.
    """
    w = int(window)
    if w < 2:
        raise ValueError("window must be >= 2 tokens")
    base = df.withColumn("_toks", tokens_col(F.col("text"))).withColumn(
        "_toks",
        F.when(F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")).otherwise(
            F.col("_toks")
        ),
    )
    whashes = sliding(F.col("_toks"), w, lambda *t: F.xxhash64(F.concat_ws(" ", *t)))
    occ = base.select(F.col("doc_id"), F.posexplode(whashes).alias("pos", "wh"))
    byhash = Window.partitionBy("wh").orderBy("doc_id", "pos")
    removed = (
        occ.withColumn("rn", F.row_number().over(byhash))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("wh")))
        .filter((F.col("cnt") >= 2) & (F.col("rn") > 1))
        .select("doc_id", "pos")
    )
    starts = removed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("_starts")
    )
    joined = base.join(starts, "doc_id", "left").withColumn(
        "_starts", F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    )
    n = F.size(F.col("_toks"))
    pos_seq = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    st = F.col("_starts")
    kept = F.filter(
        pos_seq,
        lambda p: ~F.exists(st, lambda s: (s <= p) & (p < s + w)),
    )
    return joined.select(
        F.col("doc_id"),
        F.concat_ws(
            " ", F.transform(kept, lambda p: F.element_at(F.col("_toks"), p + 1))
        ).alias("clean_text"),
        n.cast("bigint").alias("n_tokens"),
        (n - F.size(kept)).cast("bigint").alias("n_removed"),
    )


# ---------------------------------------------------------------- SimHash


def token_hashes_col(text: Column) -> Column:
    """xxhash64 per whitespace token (lowercased) — the JVM half of
    the SimHash kernel. Shared by both implementations so the numpy
    path is bit-identical to the Column-algebra path."""
    return F.transform(tokens_col(F.lower(text)), lambda t: F.xxhash64(t))


def _simhash_kernel(hash_lists) -> "np.ndarray":  # noqa: F821
    """Whole-batch SimHash from per-doc int64 token-hash arrays.

    One concatenated array per batch: unpack all 64 bits at once
    (little-endian byte+bit order -> column j == bit j), per-doc
    one-counts via a single add.reduceat, sign -> packbits. Zero
    per-doc Python; ~3 numpy passes per batch regardless of doc
    count. Replaces the interpreted 64-wide when/shiftright
    expression (VERDICT r1: 10.8 s -> sub-second at sf0.1).

    Non-NULL text always yields >= 1 token (split of '' is ['']), but
    NULL text arrives as None — those docs get fingerprint 0 (all
    counters at exactly 0 -> every bit sign-negative), same as the
    Column-algebra reference impl computes for an empty hash array
    (ADVICE r2 NULL-safety)."""
    import numpy as np

    lens, nonempty, flat, starts = _flat_hashes(hash_lists)
    out = np.zeros(len(lens), dtype=np.int64)
    if nonempty.any():
        ne_lens = lens[nonempty]
        # bits[t, j] = bit j of token-hash t (uint64 little-endian view)
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
        counters = 2 * ones - ne_lens[:, None]  # sum of +/-1 per bit
        out[nonempty] = (
            np.packbits(counters > 0, axis=1, bitorder="little").view(np.int64).ravel()
        )
    return out


def with_simhash(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    """fp = 64-bit SimHash via the hybrid JVM+numpy kernel: token
    hashes stay JVM-side (codegen'd xxhash64), only the bit-count/
    sign reduction crosses to Python as one Arrow batch of int64
    arrays per 4096 docs."""
    import pandas as pd
    from pyspark.sql import types as T

    def _fn(hashes):
        return pd.Series(_simhash_kernel(hashes.tolist()), index=hashes.index)

    _simhash_udf = F.pandas_udf(_fn, T.LongType())
    return df.withColumn(out_col, _simhash_udf(token_hashes_col(F.col(text_col))))


def simhash_col(text: Column, bits: int = 64, hash_fn=None) -> Column:
    """64-bit SimHash, pure Column algebra: for each bit position,
    sum +/-1 over token hashes and take the sign.

    Kept as the reference implementation for the kernel parity test
    (tests/test_dedup.py); the hot path is with_simhash — this
    expression is `tokens x 64` unrolled when/shift ops inside
    aggregate(), which the optimizer interprets rather than
    codegens.

    Token hash = xxhash64(token); bit b of the fingerprint is set iff
    sum_tokens(sign(bit b of hash)) > 0. Built with aggregate() over
    the token array — no Python, no shuffle.

    hash_fn: token Column -> bigint Column replacing xxhash64 (the
    cross-engine md5-prefix oracle hook; the bit-vote algebra is
    hash-agnostic). Pair with bits <= 60 so every fingerprint bit
    reads real hash entropy (a 15-hex md5 prefix is 60 bits).
    """
    toks = tokens_col(F.lower(text))
    hfn = hash_fn if hash_fn is not None else F.xxhash64
    hashes = F.transform(toks, lambda t: hfn(t))
    # acc: array of `bits` counters; bit positions are unrolled in
    # python (shift amounts must be literals for shiftright/shiftleft)
    init = F.array_repeat(F.lit(0).cast("bigint"), bits)
    counters = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for b in range(bits)
                ]
            ),
            lambda a, d: a + d.cast("bigint"),
        ),
    )
    masks = F.array(
        *[
            F.lit(1 << b if b < 63 else -(1 << 63)).cast("bigint")
            for b in range(bits)
        ]
    )
    return F.aggregate(
        F.zip_with(
            counters, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash_state_table(
    df: DataFrame,
    n_chunks: int = 4,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """(id, fp, chunk_idx, chunk_val) — the simhash pigeonhole
    blocking state that simhash_near_dup_pairs joins and returns
    (persist it as a catalog table and each new crawl increment
    joins against it instead of re-fingerprinting the corpus). fp
    rides along so hamming verification never needs
    the corpus text at all — unlike minhash, whose exact-Jaccard
    verify must re-shingle candidate texts.

    The default 64-bit xxhash64 fingerprint runs as the numpy kernel
    (with_simhash); other ``bits`` or a ``hash_fn`` (the oracle
    hooks) take the pure Column path (simhash_col).

    Zero-token docs (NULL/empty/whitespace text) get NO fingerprint
    state — the repo-wide zero-token contract (cf. shingles_col,
    jaccard_verify). Without the gate every content-free doc shares
    the all-zero fingerprint and they all pair with each other at
    hamming 0: semantically false "near-dups", and at corpus scale a
    quadratic output blow-up inside one bucket (millions of empty
    docs on a real crawl -> m^2/2 pairs) that no skew handling can
    absorb. Gating here covers both the batch side and the
    persisted state of simhash_near_dup_pairs."""
    df = df.filter(F.size(tokens_col(F.col("text"))) > 0)
    if hash_fn is None and bits == 64:
        fp = with_simhash(df.select(F.col("doc_id").alias("id"), "text")).select("id", "fp")
        # the pigeonhole self-join consumes fp twice; persist so the
        # Arrow-UDF signature pass runs once (reference H2 cache()
        # precedent, pmc.py:161). Tiny: 16 bytes x n_docs; released
        # via release_cached().
        fp = _persist(fp)
    else:
        fp = df.select(
            F.col("doc_id").alias("id"),
            simhash_col(F.col("text"), bits=bits, hash_fn=hash_fn).alias("fp"),
        )
    return _fp_chunks(fp, n_chunks, bits)


def _fp_chunks(fp: DataFrame, n_chunks: int, bits: int) -> DataFrame:
    """(id, fp, chunk_idx, chunk_val): each ``bits``-bit fingerprint
    split into n_chunks equal chunks, one row per chunk — the
    pigeonhole blocking rows of the simhash family and
    fp_pigeonhole_pairs."""
    chunk_bits = bits // n_chunks
    return fp.select(
        "id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), c * chunk_bits).bitwiseAND(
                        F.lit((1 << chunk_bits) - 1)
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )


def _chunk_within_pairs(chunks: DataFrame, max_hamming: int) -> DataFrame:
    """The pigeonhole candidate join shared by the simhash family and
    fp_pigeonhole_pairs: same-chunk equi-join, id_a < id_b, exact
    hamming verify (one definition so a fix can never miss a
    variant).

    r6, opt guide §2.3: verify INSIDE the join
    projection — emit (id_a, id_b, hamming) already filtered, so the
    caller's cross-chunk distinct shuffles only surviving pairs.
    hamming is a pure function of the pair (fps are functionally
    determined by ids), so filter-before-distinct is set-identical
    to the former distinct-then-filter; at sf1 the raw candidate
    stream is ~9.3M rows vs ~36k survivors — the distinct was
    shuffling 250x more rows (and two 8-byte fps per row) than the
    result needs."""
    a, b = chunks.alias("a"), chunks.alias("b")
    j = a.join(
        b,
        (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
        & (F.col("a.chunk_val") == F.col("b.chunk_val"))
        & (F.col("a.id") < F.col("b.id")),
    )
    return j.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def _pigeonhole_recall_guard(max_hamming: int, n_chunks: int) -> None:
    """Every pigeonhole consumer must refuse a max_hamming the chunk
    count cannot guarantee recall for (code-review r4c2 finding #6:
    only fp_pigeonhole_pairs used to enforce this; the simhash
    variants silently missed pairs differing in every chunk)."""
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"pigeonhole with {n_chunks} chunks only guarantees recall "
            f"up to hamming {n_chunks - 1}, got max_hamming={max_hamming}"
        )


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
    bits: int = 64,
    hash_fn=None,
    old_chunks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the `bits`-bit fingerprint into
    n_chunks equal chunks; any pair within hamming <= n_chunks-1
    shares at least one exact chunk -> equi-join per chunk, verify
    with bit_count(xor). Short/boilerplate docs can pile onto one
    chunk value (e.g. 0) — a hot join key; AQE's skew-join split
    handles it (enabled in webfilter.session.get_spark).

    bits/hash_fn: oracle hook (see simhash_col) — forces the pure
    Column path so a DuckDB replay sees the identical fingerprints.

    Returns ``(pairs, chunks)``; chunks is the batch's
    simhash_state_table, which the caller appends to its state.
    ``old_chunks`` is that persisted state for everything already
    ingested: the batch's chunk rows broadcast against it and the
    cross pairs join the within-batch ones, without re-fingerprinting
    the corpus. Fingerprints are deterministic per text, so (x, y) is
    a candidate here iff it is one in the one-shot run, and the
    hamming verify reads fps straight from the state — equal to the
    full recompute (tested), with no corpus text scan. A call without
    ``old_chunks`` is the one-shot run.
    """
    _pigeonhole_recall_guard(max_hamming, n_chunks)
    chunks = simhash_state_table(df, n_chunks=n_chunks, bits=bits, hash_fn=hash_fn)
    # hamming verify inside the join, distinct only over survivors
    # (see _chunk_within_pairs max_hamming note)
    pairs = _chunk_within_pairs(chunks, max_hamming)
    if old_chunks is not None:
        a, b = F.broadcast(chunks).alias("a"), old_chunks.alias("b")
        cross = a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") != F.col("b.id")),
        ).select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        ).filter(F.col("hamming") <= max_hamming)
        pairs = cross.unionByName(pairs)
    return pairs.distinct(), chunks


def fp_pigeonhole_pairs(
    fp: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Generic pigeonhole hamming join over any (id, fp) frame — the
    simhash blocking algebra factored out for other 64-bit perceptual
    fingerprints (image dHash, audio hashes). Guarantee: every pair
    within hamming <= n_chunks-1 shares at least one exact
    ``64/n_chunks``-bit chunk, so the candidate set is a per-chunk
    equi-join (one shuffle on chunk value), never all-pairs; exact
    bit_count(xor) verifies candidates. Same skew note as simhash:
    a degenerate common chunk value is a hot key — AQE skew-split
    handles it."""
    _pigeonhole_recall_guard(max_hamming, n_chunks)
    return _chunk_within_pairs(_fp_chunks(fp, n_chunks, 64), max_hamming).distinct()


# ------------------------------------------------- connected components


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every vertex of the pair graph, where
    component = the minimum id reachable from it — the principled
    survivor rule for near-dup clusters (keep one doc per component
    instead of the greedy drop-the-larger-of-each-pair rule, which
    over-drops on chains a~b~c).

    Iterative min-label propagation: each round every vertex takes
    the min of its own label and its neighbors' labels; converges in
    O(diameter) rounds (near-dup clusters are shallow — a handful).
    One shuffle per round (the groupBy); lineage is truncated with
    localCheckpoint every round so the plan doesn't grow with the
    iteration count (the standard Spark iterative-algorithm pattern).
    Convergence is detected by the monotonically decreasing label sum
    — one cheap agg per round instead of a full frame comparison.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # type-agnostic fixpoint fingerprint: ids may be strings
        # (urls) or full-range int64 hashes, so sum a hash of the
        # label as decimal(38,0) (ANSI mode makes a bigint sum an
        # overflow ERROR); equal consecutive fingerprints <=> labels
        # unchanged (w.h.p.), and max_iter still bounds the loop
        cur_sum = labels.agg(
            F.sum(F.xxhash64("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        # a component whose diameter exceeds max_iter (long near-dup
        # chains, e.g. templated page sequences) would silently split
        # into several labels — the survivor policy would then keep
        # extra duplicates. Surface it instead of returning quietly
        # (ADVICE r2).
        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter}; "
            "labels may split long chains — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("component"))


# --------------------------------------------- embedding cosine near-dup


def auto_n_planes(n_docs: int) -> int:
    """Kept for SCALING.md "Dedup family" (embedding row).

    Plane count sized to the corpus: 2^p buckets with expected
    occupancy ~32, so per-table candidate pairs grow ~linearly in n
    (n * 32 / 2) instead of quadratically (a FIXED p means
    E[pairs] = n^2/2^p — the VERDICT r1 scale-killer).
    p = max(6, ceil(log2(n / 32)))."""
    import math

    return max(6, math.ceil(math.log2(max(n_docs, 2) / 32)))


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    old_buckets: DataFrame | None = None,
    corpus_emb: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Pairs with cosine >= threshold: multi-table hyperplane-LSH
    candidate generation (banded equi-join, never all-pairs-in-
    bucket) + exact cosine verification on candidates only.

    Size n_planes with auto_n_planes(corpus size) — candidate volume
    is ~n * occupancy * n_tables; recall for a pair at angle theta is
    1-(1-(1-theta/pi)^n_planes)^n_tables (more tables -> recall,
    more planes -> selectivity).

    Returns ``(pairs, buckets)``: buckets is the batch's (id,
    table_id, bucket) hyperplane-LSH state, ~24 B per row (the
    vectors do NOT live in it). Buckets are computed over the
    normalized vector with seeded planes (deterministic in (dim,
    n_planes, n_tables)), so state persisted today equi-joins
    against buckets computed tomorrow. Zero-norm rows drop (with_norm
    contract: no direction, no cosine).

    ``old_buckets`` is the persisted buckets of everything already
    ingested, and ``corpus_emb`` the (id, vector) rows covering both
    sides: the batch's bucket rows broadcast against the state (no
    corpus re-bucketing), and only the new x old candidates re-join
    their vectors by id for the exact-cosine verify. Candidate
    equivalence to the one-shot run is exact (tested). A call without
    ``old_buckets`` is the one-shot run.
    """
    from .simsearch import bucket_codes_udf, cosine_sim_col, with_norm

    if dim is None:
        raise ValueError(
            "dim is required: array<float> schemas carry no length, and a "
            "first() probe would run a Spark job during query construction "
            "(no actions at construction time — VERDICT r2 #5)"
        )
    # r6 (opt guide §8): the former shape shuffled the full candidate
    # pair list through a distinct, then attached BOTH normalized
    # vectors to every pair via two joins — at sf1 that is 3.6M pairs
    # x 2 x dim*8 B (~3.7 GB of vector bytes re-shuffled) to verify
    # pairs of which ~none survive. Vectors now never travel to
    # pairs: the verify runs bucket-locally (the exact key the
    # candidate equi-join used), each (table_id, bucket) group
    # computing its i<j cosines in numpy and emitting only survivors;
    # the cross-table distinct then shuffles survivors only (cosine
    # is a pure function of the pair — filter-before-distinct is
    # set-identical, same argument as the simhash hamming verify).
    # Bit-identity: per-pair products then np.cumsum along the dim
    # axis reproduces the JVM aggregate fold's left-to-right
    # summation exactly, so the emitted cosine doubles are the same
    # bits the old plan produced. Hot-bucket skew is unchanged (the
    # join concentrated a hot bucket's quadratic output in one task
    # too); pair blocks are chunked to bound memory.
    import pandas as pd

    v = _persist(with_norm(emb).select(F.col("vec_id").alias("id"), "vec_n"))
    codes = bucket_codes_udf(dim, n_planes, n_tables)
    buckets = v.select(
        "id", "vec_n", F.posexplode(codes(F.col("vec_n"))).alias("table_id", "bucket")
    )
    thr = float(threshold)

    def _bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        m = len(pdf)
        empty = pd.DataFrame(
            {"id_a": pd.Series([], dtype="object"),
             "id_b": pd.Series([], dtype="object"),
             "cosine": pd.Series([], dtype="float64")}
        )
        if m < 2:
            return empty
        pdf = pdf.sort_values("id", kind="mergesort")
        ids = pdf["id"].to_numpy()  # dtype follows the caller's id type
        V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["vec_n"]])
        iu, ju = np.triu_indices(m, 1)
        out_a, out_b, out_c = [], [], []
        blk = 1 << 18  # pairs per chunk: bounds the (blk, dim) temp
        for p0 in range(0, len(iu), blk):
            ii, jj = iu[p0:p0 + blk], ju[p0:p0 + blk]
            prod = V[ii] * V[jj]
            cos = np.cumsum(prod, axis=1)[:, -1]  # == the JVM fold
            keep = cos >= thr
            out_a.append(ids[ii[keep]])
            out_b.append(ids[jj[keep]])
            out_c.append(cos[keep])
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a),
             "id_b": np.concatenate(out_b),
             "cosine": np.concatenate(out_c)}
        )

    id_dt = emb.schema["vec_id"].dataType.simpleString()
    pairs = buckets.groupBy("table_id", "bucket").applyInPandas(
        _bucket_pairs, f"id_a {id_dt}, id_b {id_dt}, cosine double"
    )
    state = buckets.select("id", "table_id", "bucket")
    if old_buckets is not None:
        if corpus_emb is None:
            raise ValueError("old_buckets needs corpus_emb (the old side's vectors)")
        a, b = F.broadcast(state).alias("a"), old_buckets.alias("b")
        cand = a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") != F.col("b.id")),
        ).select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        ).distinct()
        vc = _persist(
            with_norm(corpus_emb).select(F.col("vec_id").alias("id"), "vec_n")
        )
        cross = (
            cand.join(vc.select(F.col("id").alias("id_a"), F.col("vec_n").alias("va")), "id_a")
            .join(vc.select(F.col("id").alias("id_b"), F.col("vec_n").alias("vb")), "id_b")
            .select("id_a", "id_b", cosine_sim_col(F.col("va"), F.col("vb")).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
        pairs = cross.unionByName(pairs)
    return pairs.select("id_a", "id_b", "cosine").distinct(), state


def soft_dedup_weights(df: DataFrame) -> DataFrame:
    """SoftDeDup (He et al., ACL 2024): keep EVERY row but attach a
    sampling weight 1/n, n = the row's exact-duplicate group size, so
    a training sampler reproduces the deduplicated token distribution
    without discarding any document. Published motivation: hard
    dedup throws away the signal that duplicated text was *popular*;
    down-weighting preserves corpus coverage while removing the
    over-count bias.

    Scale shape: ONE shuffle — a window count over the md5 content
    key, the identical exchange the drop-based `exact_dedup` pays —
    so the soft variant is never more expensive than the hard one.
    At 10^12 rows the md5 key is uniform (no skew salt needed);
    the weight is pure map-side arithmetic after the count.
    """
    w = Window.partitionBy(_content_key("text", "doc_id"))
    n = F.count(F.lit(1)).over(w).cast("bigint")
    return df.withColumn("n_copies", n).withColumn(
        "soft_weight", F.round(F.lit(1.0) / F.col("n_copies"), 6)
    )
