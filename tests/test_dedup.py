"""Dedup-operator correctness: MinHash-LSH against exact Jaccard
ground truth, SimHash hamming blocking, embedding near-dup against
brute force, and golden near-dup cluster recovery on the synthetic
pages corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webfilter import dedup


@pytest.fixture(scope="module")
def near_dup_docs(spark, synth_dir):
    """Golden near-dup clusters: docs sharing dup_group are >=0.7
    Jaccard by construction (2 mutated words in ~120)."""
    golden = spark.read.parquet(f"{synth_dir}/golden.parquet")
    return (
        golden.filter(F.col("dup_group").isNotNull())
        .select(
            F.monotonically_increasing_id().alias("row_id"),
            F.col("url"),
            F.col("dup_group"),
            F.col("expected_text").alias("text"),
        )
        .withColumn("doc_id", F.xxhash64("url"))
        .cache()
    )


def test_minhash_finds_golden_clusters(spark, near_dup_docs):
    docs = near_dup_docs
    n_groups_with_pairs = (
        docs.groupBy("dup_group").count().filter("count >= 2").count()
    )
    assert n_groups_with_pairs > 0
    pairs = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.6)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("dup_group").alias("g_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("dup_group").alias("g_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    # precision: every reported pair is within one golden cluster
    cross_cluster = joined.filter(F.col("g_a") != F.col("g_b")).count()
    assert cross_cluster == 0
    # recall vs exact Jaccard ground truth
    exact = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.6)
    n_exact = exact.count()
    n_found = pairs.join(exact.select("id_a", "id_b"), ["id_a", "id_b"], "inner").count()
    assert n_exact > 0
    assert n_found / n_exact >= 0.9, f"minhash recall {n_found}/{n_exact}"


def test_minhash_jaccard_close_to_exact(spark, near_dup_docs):
    """Verified Jaccard from the LSH pipeline equals exact Jaccard
    (verification recomputes exactly, so values must match)."""
    pairs = dedup.minhash_dedup_pairs(near_dup_docs, k=3, threshold=0.6)
    exact = dedup.ngram_jaccard_pairs(near_dup_docs, k=3, threshold=0.6)
    j = pairs.alias("p").join(exact.alias("e"), ["id_a", "id_b"])
    bad = j.filter(F.abs(F.col("p.jaccard") - F.col("e.jaccard")) > 1e-9).count()
    assert bad == 0


def test_exact_dedup_keeps_one_per_text(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    kept = dedup.exact_dedup(df).collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 3]
    groups = dedup.exact_dup_groups(df).collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 2 and groups[0]["keep_id"] == 1


def test_simhash_identical_and_mutated(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    mutated = base.replace("fox", "cat", 1)
    unrelated = "совершенно другой текст absolutely different words entirely " * 6
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, mutated), (4, unrelated)],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup.simhash_near_dup_pairs(df, max_hamming=10, n_chunks=11)[0].collect()}
    assert pairs.get((1, 2)) == 0  # identical docs: hamming 0
    assert (1, 3) in pairs  # one-word mutation: small hamming
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_embedding_near_dup_matches_brute_force(spark, sf_small="/root/testdata/sf0.001"):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    from webfilter.simsearch import cosine_sim_col, with_norm

    v = with_norm(emb).select(F.col("vec_id").alias("id"), "vec_n")
    a, b = v.alias("a"), v.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", cosine_sim_col(F.col("a.vec_n"), F.col("b.vec_n")))
        .filter(F.col("cosine") >= 0.9)
    )
    n_brute = brute.count()
    lsh, _ = dedup.embedding_near_dup_pairs(emb, threshold=0.9, n_planes=8, dim=64)
    found = lsh.join(
        brute.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")),
        ["id_a", "id_b"],
    ).count()
    # LSH precision is exact (verified); recall bounded by bucketing
    assert lsh.count() <= n_brute
    if n_brute:
        assert found / n_brute >= 0.5, f"lsh recall {found}/{n_brute}"


def test_incremental_embedding_equals_full_recompute(spark):
    """base batch + increment through persisted hyperplane-bucket
    state must reproduce the one-shot embedding pair set EXACTLY
    (seeded planes are deterministic per vector, and the verify
    cosine reads the same corpus vectors either way). Near-dups are
    PLANTED (sf0.001 has none at 0.9): ids 100+i are jittered copies
    of ids i, landing on both sides of the base/increment split."""
    import numpy as np

    rng = np.random.default_rng(0xD0C5)
    base_vecs = rng.normal(0, 1, size=(60, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base_vecs)]
    rows += [
        (100 + i, [float(x) for x in (base_vecs[i] + rng.normal(0, 0.02, 64))])
        for i in range(0, 60, 3)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=0.9, n_planes=8, dim=64
        )[0].collect()
    }
    assert full, "fixture must contain embedding near-dups at 0.9"

    base = emb.filter(F.col("vec_id") % 3 != 0)
    inc = emb.filter(F.col("vec_id") % 3 == 0)
    p1, state = dedup.embedding_near_dup_pairs(
        base, threshold=0.9, n_planes=8, dim=64
    )
    got = {(r["id_a"], r["id_b"], r["cosine"]) for r in p1.collect()}
    p2, nb = dedup.embedding_near_dup_pairs(
        inc, threshold=0.9, n_planes=8, dim=64, old_buckets=state, corpus_emb=emb
    )
    got |= {(r["id_a"], r["id_b"], r["cosine"]) for r in p2.collect()}
    assert got == full

    # append-only state growth: an empty increment adds nothing
    state2 = state.unionByName(nb)
    empty = emb.filter(F.lit(False))
    p3, _ = dedup.embedding_near_dup_pairs(
        empty, threshold=0.9, n_planes=8, dim=64, old_buckets=state2, corpus_emb=emb
    )
    assert p3.count() == 0

    # a warm call against empty state equals the cold call
    p4, _ = dedup.embedding_near_dup_pairs(
        emb, threshold=0.9, n_planes=8, dim=64,
        old_buckets=state.filter(F.lit(False)), corpus_emb=emb,
    )
    assert {(r["id_a"], r["id_b"], r["cosine"]) for r in p4.collect()} == full


def test_incremental_embedding_requires_dim(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pytest

    with pytest.raises(ValueError, match="dim is required"):
        dedup.embedding_near_dup_pairs(emb, old_buckets=emb, corpus_emb=emb)


def test_simhash_kernel_parity_with_column_impl(spark, near_dup_docs):
    """The numpy batch kernel must be bit-identical to the reference
    Column-algebra SimHash on real text (VERDICT r1 swap condition)."""
    docs = near_dup_docs.select("doc_id", "text")
    col_fp = docs.select("doc_id", dedup.simhash_col(F.col("text")).alias("fp_col"))
    np_fp = dedup.with_simhash(docs, "text", out_col="fp_np").select("doc_id", "fp_np")
    diff = col_fp.join(np_fp, "doc_id").filter(F.col("fp_col") != F.col("fp_np")).count()
    assert diff == 0
    # edge cases: empty, whitespace-only, single token, unicode
    edge = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "的一 是不 了人"), (5, "a\tb\nc d")],
        "doc_id long, text string",
    )
    ec = edge.select("doc_id", dedup.simhash_col(F.col("text")).alias("fp_col"))
    en = dedup.with_simhash(edge, "text", out_col="fp_np").select("doc_id", "fp_np")
    assert ec.join(en, "doc_id").filter(F.col("fp_col") != F.col("fp_np")).count() == 0


def test_simhash_pairs_same_for_both_impls(spark, near_dup_docs):
    docs = near_dup_docs.select("doc_id", "text")
    k = {(r["id_a"], r["id_b"], r["hamming"])
         for r in dedup.simhash_near_dup_pairs(docs, max_hamming=5, n_chunks=6)[0].collect()}
    # hash_fn selects the pure Column path (simhash_col) with the
    # kernel's own token hash
    c = {(r["id_a"], r["id_b"], r["hamming"])
         for r in dedup.simhash_near_dup_pairs(
             docs, max_hamming=5, n_chunks=6, hash_fn=F.xxhash64)[0].collect()}
    assert k == c


def _rand_emb_df(spark, n, dim=16, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, dim)).astype("float32")
    pdf = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")


def test_embedding_candidates_scale_linearly(spark):
    """VERDICT r1: with auto_n_planes the candidate count must grow
    ~linearly in n (a fixed plane count grows quadratically).
    Candidates are the i<j pairs sharing a (table_id, bucket) key of
    the returned bucket frame."""

    def n_candidates(n):
        _, buckets = dedup.embedding_near_dup_pairs(
            _rand_emb_df(spark, n), n_planes=dedup.auto_n_planes(n), n_tables=2, dim=16
        )
        a, b = buckets.alias("a"), buckets.alias("b")
        return (
            a.join(
                b,
                (F.col("a.table_id") == F.col("b.table_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select("a.id", "b.id")
            .distinct()
            .count()
        )

    n1, n2 = 1500, 15000
    c1, c2 = n_candidates(n1), n_candidates(n2)
    # 10x docs -> way below the 100x quadratic blowup; allow 2x slack
    # over perfectly-linear for bucket-occupancy variance
    assert c2 <= 20 * max(c1, 1), f"candidates {c1} -> {c2} (superlinear)"
    assert dedup.auto_n_planes(n2) > dedup.auto_n_planes(n1)


def test_embedding_lsh_construction_is_plan_only(spark):
    """Building the query with dim supplied must launch no Spark job
    (the round-1 first() probe did)."""
    from webfilter.simsearch import lsh_topk

    emb = _rand_emb_df(spark, 50)
    q = emb.limit(2).selectExpr("vec_id as query_id", "embedding")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    spark.sparkContext.setJobGroup("plan_only_probe", "plan-only check")
    lsh_topk(emb, q, k=3, dim=16)
    dedup.embedding_near_dup_pairs(emb, dim=16)
    jobs = tracker.getJobIdsForGroup("plan_only_probe") or []
    assert len(jobs) == 0, f"construction launched jobs: {jobs}"


def test_connected_components_chain_and_islands(spark):
    """Chain a-b-c plus an island pair: labels converge to the min id
    of each component even without a direct a-c edge."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_component_survivors_exact_minimal(spark):
    """run_near_dedup's policy="components" keeps one survivor per
    component (its min id); untouched rows all survive — vs the
    greedy rule, chains no longer over-drop."""
    from webfilter.pipeline import _drops_from_pairs

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "url long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "url_a long, url_b long")
    drops = _drops_from_pairs(pairs, "components")
    kept = sorted(r["url"] for r in docs.join(drops, "url", "left_anti").collect())
    assert kept == [1, 4, 5, 7]


def test_components_agree_with_golden_clusters(spark, near_dup_docs):
    """Near-dup pair graph components must sit inside golden
    dup_groups (never merge two different groups)."""
    pairs = dedup.minhash_dedup_pairs(near_dup_docs, k=3, threshold=0.6)
    comp = dedup.connected_components(pairs)
    j = comp.join(
        near_dup_docs.select(F.col("doc_id").alias("id"), "dup_group"), "id"
    )
    # every component maps to exactly one dup_group
    n_bad = (
        j.groupBy("component")
        .agg(F.countDistinct("dup_group").alias("g"))
        .filter(F.col("g") > 1)
        .count()
    )
    assert n_bad == 0


def _flood_corpus(spark, m=400, n_unique=800):
    boiler = "breaking news local weather traffic and sports roundup for today " * 8
    rows = [(i, boiler) for i in range(m)] + [
        (100_000 + i, f"unique article number {i} covering topic {i*7} with details {i*13} and more")
        for i in range(n_unique)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_collapse_exact_is_linear_on_boilerplate(spark):
    """VERDICT r2 #10: m byte-identical docs must cost m-1 star pairs,
    not an m^2/2 clique through one hot band bucket — the quadratic
    blowup is join OUTPUT, invisible to AQE's input-size skew split,
    so the guard is structural."""
    m = 400
    docs = _flood_corpus(spark, m=m)
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.6, collapse_exact=True)
    flood = pairs.filter((F.col("id_a") < 100_000) & (F.col("id_b") < 100_000))
    assert flood.count() == m - 1  # star, not clique (m(m-1)/2 = 79800)
    # rep = min doc_id, every member pairs to it at jaccard exactly 1.0
    assert flood.filter((F.col("id_a") != 0) | (F.col("jaccard") != 1.0)).count() == 0
    # threshold > 1.0: identical texts do not meet the bar, so neither
    # the one-shot nor the incremental path may emit star pairs
    no_bands = spark.createDataFrame([], "doc_id long, band_idx int, band_hash bigint")
    assert dedup.minhash_dedup_pairs(docs, threshold=1.01, collapse_exact=True).count() == 0
    assert dedup.incremental_minhash_pairs(docs, no_bands, docs, threshold=1.01)[0].count() == 0
    dedup.release_cached()


def test_persisted_window_output_is_coalesced(spark):
    """A cache filled by a small window shuffle (_collapse_exact's
    marked rows) keeps only the partitions AQE coalesced it to. Spark
    otherwise pins a cached plan's output to every shuffle partition,
    and each later scan of the cache, the MinHash pandas UDF over the
    reps included, starts one Python task per partition, empty or
    not."""
    docs = spark.createDataFrame(
        [(i, f"text {i % 5}") for i in range(40)], "doc_id long, text string"
    )
    reps, _ = dedup._collapse_exact(docs, "doc_id", "text")
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        assert reps.rdd.getNumPartitions() < n_shuffle
        assert reps.count() == 5
    finally:
        dedup.release_cached()


def test_minhash_collapse_survivors_match_plain_path(spark):
    """Collapsed and plain pipelines must produce the SAME survivor
    sets under both policies (the star pairs carry exactly the drop
    information of the clique)."""
    rows = (
        [(i, "alpha beta gamma delta epsilon zeta eta theta " * 6) for i in (1, 2, 3)]
        + [(j, "alpha beta gamma delta epsilon zeta eta theta iota " * 6) for j in (10, 11)]
        + [(50 + i, f"totally different text about {i} and {i*3} things") for i in range(8)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = dedup.minhash_dedup_pairs(docs, k=2, threshold=0.5)
    coll = dedup.minhash_dedup_pairs(docs, k=2, threshold=0.5, collapse_exact=True)

    def greedy_kept(pairs):
        drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        return {r["doc_id"] for r in docs.join(drops, "doc_id", "left_anti").collect()}

    def component_losers(pairs):
        comp = dedup.connected_components(pairs)
        return {r["id"] for r in comp.filter(F.col("id") != F.col("component")).collect()}

    assert greedy_kept(plain) == greedy_kept(coll)
    assert component_losers(plain) == component_losers(coll)
    assert coll.count() < plain.count()  # star < clique on the exact groups
    dedup.release_cached()


def test_aqe_splits_genuinely_skewed_input(spark):
    """Documented AQE observation (VERDICT r2 #10): for INPUT skew —
    one join key holding most rows — AQE's skew-join split engages
    (SortMergeJoin(skew=true)). Thresholds are lowered to make the
    test corpus register; production sizes cross the defaults."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 10 < 8, F.lit(0)).otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("pad"),
        )
        right = spark.range(0, 97).select(F.col("id").alias("k"), F.lit("r").alias("tag"))
        j = left.join(right, "k")
        assert len(j.collect()) == 60_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1200]
    finally:
        # unset keys read back as None — restore must UNSET those, not
        # skip them, or autoBroadcastJoinThreshold=-1 leaks into every
        # later test and the plan-shape gates see phantom SortMergeJoins
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_kernels_tolerate_null_text(spark):
    """ADVICE r2 + round-4 fuzz: NULL text reaches the pandas kernels
    as None — both signature paths must survive it — and content-free
    docs (NULL / empty / whitespace-only, i.e. zero tokens) must
    carry NO signature state and NO pairs, with anyone. The old
    contract let them pair with each other at hamming 0 / band on
    _EMPTY_SIG: semantically false dups, an m^2 one-bucket candidate
    blow-up at crawl scale, and (minhash) an ANSI DIVIDE_BY_ZERO
    crash in the 0/0 jaccard verify (random-fuzz-found)."""
    df = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over the lazy dog"),
         (3, None), (4, "the quick brown fox jumps over the lazy dog"),
         (5, "\n\t \n"), (6, "")],
        "doc_id long, text string",
    )
    # two NULL + one whitespace-only + one empty doc in one frame:
    # under ANSI mode the pre-fix verify crashed outright here
    mh = dedup.minhash_dedup_pairs(df, k=2, threshold=0.3).collect()
    assert {(r["id_a"], r["id_b"]) for r in mh} == {(2, 4)}
    sh = dedup.simhash_near_dup_pairs(df, max_hamming=3)[0].collect()
    assert {(r["id_a"], r["id_b"]) for r in sh} == {(2, 4)}
    # signature/state frames: no crash, rows ONLY for token-bearing
    # docs — both minhash formulations agree (the kernel path used to
    # emit _EMPTY_SIG rows the hash_fn explode path never had)
    assert dedup.minhash_signature_df(df, k=2).count() == 2

    def seeded(s, j):
        return F.xxhash64(s, F.lit(j))

    assert dedup.minhash_signature_df(df, k=2, hash_fn=seeded).count() == 2
    assert dedup.simhash_state_table(df).select("id").distinct().count() == 2
    # with_simhash stays total (a row per input doc): it is the raw
    # fingerprint column, not pair/banding state
    assert dedup.with_simhash(df).count() == 6
    dedup.release_cached()


def test_embedding_pairs_require_dim(spark):
    """VERDICT r2 #5: no first() probe job may hide behind a missing
    dim — construction must raise instead."""
    import pytest

    emb = _rand_emb_df(spark, 10)
    with pytest.raises(ValueError, match="dim is required"):
        dedup.embedding_near_dup_pairs(emb, n_planes=12)
    with pytest.raises(ValueError, match="dim is required"):
        dedup.embedding_near_dup_pairs(emb)


def test_connected_components_warns_on_non_convergence(spark):
    """ADVICE r2: a chain longer than max_iter propagation rounds must
    warn (silently split labels would keep extra duplicates)."""
    import warnings as _w

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        dedup.connected_components(chain, max_iter=2).collect()
    assert any("did not converge" in str(r.message) for r in rec)
    # and with enough rounds it converges silently to one component
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        comp = dedup.connected_components(chain, max_iter=25)
        labels = {r["component"] for r in comp.collect()}
    assert labels == {1}
    assert not any("did not converge" in str(r.message) for r in rec2)


def test_remove_duplicate_spans_cuts_cross_doc_boilerplate(spark):
    """C4-style span dedup: a 4-token chunk shared by >=2 docs is cut
    from every doc; partial tail chunks are never boilerplate even
    when textually identical across docs."""
    from webfilter.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [
            ("a", "subscribe to our newsletter now unique alpha words here"),
            ("b", "subscribe to our newsletter now totally different tail text"),
            ("c", "independent document with no shared spans at all ok"),
            ("d", "x y z"),
            ("e", "x y z"),
            ("f", "   "),  # whitespace-only: not emitted
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(df, span=4, min_docs=2)[0].collect()}
    assert set(out) == {"a", "b", "c", "d", "e"}
    assert out["a"].clean_text == "now unique alpha words here"
    assert out["a"].n_removed == 1
    assert out["b"].clean_text == "now totally different tail text"
    assert out["b"].n_removed == 1
    assert out["c"].clean_text == "independent document with no shared spans at all ok"
    assert out["c"].n_removed == 0
    # 3-token docs are one partial chunk: kept despite being identical
    assert out["d"].clean_text == "x y z" and out["e"].clean_text == "x y z"


def test_remove_duplicate_windows_cuts_unaligned_substring(spark):
    """ExactSubstr-style stride-1 window dedup: a 10-token run shared
    by two docs at DIFFERENT offsets (offset 0 vs 3 — invisible to
    the chunk-aligned remove_duplicate_spans) is cut from the later
    doc only; the globally-first copy stays byte-intact."""
    from webfilter.dedup import remove_duplicate_windows

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j unique tail one"),
            (2, "x y z a b c d e f g h i j other ending here"),
            (3, "totally different text with no shared windows at all ok"),
            (4, "short text"),
            (5, ""),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_windows(df, window=8).collect()}
    assert out[1].clean_text == "a b c d e f g h i j unique tail one"
    assert out[1].n_removed == 0
    assert out[2].clean_text == "x y z other ending here"
    assert out[2].n_removed == 10
    assert out[3].n_removed == 0
    # shorter than the window: untouched; empty: empty out, not dropped
    assert out[4].clean_text == "short text" and out[4].n_removed == 0
    assert out[5].clean_text == "" and out[5].n_tokens == 0


def test_remove_duplicate_windows_periodic_text_collapses(spark):
    """Within-doc periodic repetition: every window shares one hash,
    the pos-0 window is first, all others removed — coverage [1, n)
    leaves exactly the period (documented edge: slightly more
    aggressive than suffix-array range arithmetic, deterministic)."""
    from webfilter.dedup import remove_duplicate_windows

    df = spark.createDataFrame([(1, " ".join(["rep"] * 16))], "doc_id int, text string")
    row = remove_duplicate_windows(df, window=8).collect()[0]
    assert row.clean_text == "rep"
    assert row.n_tokens == 16 and row.n_removed == 15


def test_incremental_simhash_equals_full_recompute(spark, near_dup_docs):
    """base batch + increment through persisted chunk state must
    reproduce the one-shot simhash pair set EXACTLY (fingerprints are
    deterministic per text; the verify reads fps from state, so no
    corpus text is touched)."""
    from webfilter.dedup import simhash_near_dup_pairs

    docs = near_dup_docs
    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(docs, max_hamming=8, n_chunks=9)[0].collect()
    }
    assert full, "fixture must contain simhash near-dups"

    base = docs.filter(F.col("doc_id") % 3 != 0)
    inc = docs.filter(F.col("doc_id") % 3 == 0)
    p1, state = simhash_near_dup_pairs(base, max_hamming=8, n_chunks=9)
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in p1.collect()}
    p2, nc = simhash_near_dup_pairs(inc, max_hamming=8, n_chunks=9, old_chunks=state)
    got |= {(r["id_a"], r["id_b"], r["hamming"]) for r in p2.collect()}
    assert got == full

    # appending the increment's chunks and feeding an EMPTY batch
    # must add nothing (state growth is append-only, no rescoring)
    state2 = state.unionByName(nc)
    empty = docs.filter(F.lit(False))
    p3, _ = simhash_near_dup_pairs(empty, max_hamming=8, n_chunks=9, old_chunks=state2)
    assert p3.count() == 0

    # a warm call against empty state equals the cold call
    p4, _ = simhash_near_dup_pairs(
        docs, max_hamming=8, n_chunks=9, old_chunks=state.filter(F.lit(False))
    )
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in p4.collect()} == full


def test_soft_dedup_weights_invariants(spark):
    """Sum of weights == number of distinct texts (the soft corpus
    has the deduplicated mass); group members share one weight."""
    from webfilter.dedup import soft_dedup_weights

    rows = [(i, ["dup a", "dup a", "dup a", "uniq %d" % i][i % 4]) for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = soft_dedup_weights(df).collect()
    assert len(out) == 24  # nothing dropped
    n_distinct = len({r[1] for r in rows})
    # weights are r6-rounded, so 18 * round(1/18, 6) drifts ~1e-5
    assert abs(sum(r["soft_weight"] for r in out) - n_distinct) < 1e-3
    by_text: dict[str, set] = {}
    for r, (_, t) in zip(sorted(out, key=lambda r: r["doc_id"]), rows):
        by_text.setdefault(t, set()).add((r["n_copies"], r["soft_weight"]))
    assert all(len(v) == 1 for v in by_text.values())
    assert by_text["dup a"] == {(18, round(1.0 / 18, 6))}


def test_incremental_span_dedup_equals_full_on_increment(spark):
    """Forward-only incremental C4 span dedup: the increment's docs
    get EXACTLY the cuts a full recompute over history+batch gives
    them (counts add across disjoint batches), and the merged state
    equals the state a from-scratch build would produce."""
    from webfilter.dedup import remove_duplicate_spans

    boiler = "the quick brown fox"  # exactly span=4 tokens
    a_rows = [
        (1, f"{boiler} alpha beta gamma delta"),
        (2, "unique words here one two three four five"),
    ]
    b_rows = [
        (3, f"{boiler} epsilon zeta eta theta"),
        (4, f"{boiler} {boiler}"),
        (5, "clean doc nothing shared at all right"),
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    A, B = mk(a_rows), mk(b_rows)

    _, state = remove_duplicate_spans(A, span=4)
    cleaned_b, new_state = remove_duplicate_spans(B, span=4, min_docs=2, state=state)

    full, union_state = remove_duplicate_spans(mk(a_rows + b_rows), span=4, min_docs=2)
    want = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in full.filter("doc_id >= 3").collect()
    }
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in cleaned_b.collect()
    }
    assert got == want
    # the boilerplate really was cut cross-batch (nd: 1 hist + 2 batch)
    assert got[3][1] == 1 and got[4][1] == 2 and got[5][1] == 0

    # merged state == from-scratch state over the union
    rebuilt = {(r["span_hash"], r["nd"]) for r in union_state.collect()}
    merged = {(r["span_hash"], r["nd"]) for r in new_state.collect()}
    assert merged == rebuilt


def test_incremental_span_dedup_empty_state_equals_batch_only(spark):
    from webfilter.dedup import remove_duplicate_spans

    rows = [
        (1, "shared span here now alpha beta gamma delta"),
        (2, "shared span here now other tail words go"),
        (3, "totally different content with no repeats at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    ref, state = remove_duplicate_spans(df, span=4, min_docs=2)
    inc, _ = remove_duplicate_spans(
        df, span=4, min_docs=2, state=state.filter(F.lit(False))
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, ref.collect()))


def test_null_text_docs_never_collapse_in_md5_family(spark):
    """Null-safe content key (code-review r4c2 finding #5): NULL-text
    docs (failed extractions) are never exact-duplicates of each
    other — all kept, no group, soft weight 1.0."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "same"), (5, "same")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup.exact_dedup(df).collect()}
    assert kept == {1, 2, 3, 4}
    groups = dedup.exact_dup_groups(df).collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 2
    w = {
        r["doc_id"]: (r["n_copies"], r["soft_weight"])
        for r in dedup.soft_dedup_weights(df).collect()
    }
    assert w[1] == (1, 1.0) and w[2] == (1, 1.0) and w[4] == (2, 0.5)


def test_simhash_recall_guard(spark):
    """All three pigeonhole consumers refuse an unguaranteeable
    max_hamming (previously only fp_pigeonhole_pairs did)."""
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="only guarantees recall"):
        dedup.simhash_near_dup_pairs(df, max_hamming=4, n_chunks=4)
    with pytest.raises(ValueError, match="only guarantees recall"):
        dedup.simhash_near_dup_pairs(
            df, max_hamming=4, n_chunks=4, old_chunks=dedup.simhash_state_table(df)
        )
