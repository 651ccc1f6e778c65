"""jusText-lite block classification (webfilter/boilerplate.py).

The registry oracle (boilerplate_blocks, auto-fuzzed) proves the
derived-corpus query cross-engine; these tests pin the module
semantics on hand-built blocks — every raw class, both smoothing
outcomes (including short->good, which the derived fixture's suffix
cycle structurally never produces), the document-edge convention,
and the empty-block division guards.
"""

from __future__ import annotations

import pytest
from _plan import formatted, nodes
from pyspark.sql import functions as F

from webfilter.boilerplate import (
    LENGTH_LOW,
    MAX_LINK_DENSITY,
    STOP_HIGH,
    STOP_LOW,
    final_classes_col,
    justext_blocks,
)

GOOD = "the cat sat on the mat and it was a very good day for all of us"
LINKY = "see http://example.com/aaaa http://example.com/bbbb now"
PLAIN = "quartz vortex jigsaw plasma nebula cipher krypton zephyr quasar"
NEARG = "the quartz vortex jigsaw plasma nebula cipher krypton"
SHORT = "tiny bit"


def _good_blocks(text):
    """Column-form reference for the cleaned text: the good blocks
    per final_classes_col, re-joined (NULL text stays NULL)."""
    kept = F.filter(
        F.zip_with(
            F.split(text, "\n"), final_classes_col(text),
            lambda b, c: F.when(c == "good", b),
        ),
        lambda b: b.isNotNull(),
    )
    return F.when(text.isNotNull(), F.array_join(kept, "\n"))


def _blocks(spark, text, doc_id=1):
    df = spark.createDataFrame([(doc_id, text)], "doc_id long, text string")
    rows = justext_blocks(df).orderBy("block_id").collect()
    return [(r["cls_raw"], r["cls_final"]) for r in rows], rows


def test_raw_classes(spark):
    cls, rows = _blocks(spark, "\n".join([GOOD, LINKY, PLAIN, NEARG, SHORT]))
    assert [c[0] for c in cls] == ["good", "bad", "bad", "neargood", "short"]
    by = {r["block_id"]: r for r in rows}
    assert by[0]["stop_density"] >= STOP_HIGH
    assert by[1]["link_density"] > MAX_LINK_DENSITY
    assert by[2]["stop_density"] < STOP_LOW
    assert STOP_LOW <= by[3]["stop_density"] < STOP_HIGH
    assert by[4]["n_chars"] < LENGTH_LOW


def test_short_next_to_good_is_kept(spark):
    cls, _ = _blocks(spark, "\n".join([GOOD, SHORT, PLAIN]))
    assert cls == [("good", "good"), ("short", "good"), ("bad", "bad")]


def test_neargood_between_bads_is_dropped(spark):
    cls, _ = _blocks(spark, "\n".join([PLAIN, NEARG, LINKY]))
    assert cls == [("bad", "bad"), ("neargood", "bad"), ("bad", "bad")]


def test_nearest_unambiguous_wins_across_ambiguous_run(spark):
    # short then neargood between a good edge and a bad edge: BOTH
    # resolve good — each sees the good block as a nearest
    # unambiguous neighbour on one side (ambiguous blocks are
    # transparent to the scan, per the jusText context pass)
    cls, _ = _blocks(spark, "\n".join([GOOD, SHORT, NEARG, PLAIN]))
    assert cls == [
        ("good", "good"),
        ("short", "good"),
        ("neargood", "good"),
        ("bad", "bad"),
    ]


def test_document_edges_count_as_bad(spark):
    # a lone ambiguous block has no unambiguous neighbour -> bad
    for text in (SHORT, NEARG):
        cls, _ = _blocks(spark, text)
        assert cls[0][1] == "bad"
    # ambiguous block at the document start with only bad ahead
    cls, _ = _blocks(spark, "\n".join([SHORT, PLAIN]))
    assert cls[0] == ("short", "bad")


def test_empty_blocks_never_divide_by_zero(spark):
    # blank lines (split artifacts) -> n_chars 0 -> densities 0.0,
    # class short; ANSI mode would throw on an unguarded 0/0
    cls, rows = _blocks(spark, GOOD + "\n\n" + GOOD)
    assert [c[0] for c in cls] == ["good", "short", "good"]
    assert cls[1][1] == "good"
    mid = rows[1]
    assert mid["n_chars"] == 0 and mid["n_tokens"] == 0
    assert mid["link_density"] == 0.0 and mid["stop_density"] == 0.0


def test_single_exchange_plan(spark):
    """Both window frames must reuse one hash shuffle on doc_id —
    the scale contract in the module docstring."""
    df = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    plan = formatted(justext_blocks(df))
    assert nodes(plan, "Exchange") == 1, plan


def test_map_only_form_equals_window_form(spark):
    """final_classes_col (the zero-shuffle pipeline form) must agree
    block-for-block with justext_blocks (the window form) — including
    on blank blocks, single-block docs, and adversarial shapes."""
    texts = [
        "\n".join([GOOD, LINKY, PLAIN, NEARG, SHORT]),
        "\n".join([GOOD, SHORT, NEARG, PLAIN]),
        "\n".join([SHORT, PLAIN]),
        GOOD + "\n\n" + GOOD,
        SHORT,
        "",
        " \t ",
        "🙂🙂 astral plane\nthe of and to a in it is here today\nx",
        "http://a.example/bbbbbbbbbbbbbbbb",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    map_rows = df.select(
        "doc_id",
        F.posexplode(final_classes_col(F.col("text"))).alias("block_id", "cls"),
    ).collect()
    win_rows = justext_blocks(df).collect()
    m = {(r["doc_id"], r["block_id"]): r["cls"] for r in map_rows}
    w = {(r["doc_id"], r["block_id"]): r["cls_final"] for r in win_rows}
    assert m == w and len(m) == sum(t.count("\n") + 1 for t in texts)


def test_with_boilerplate_removed(spark):
    from webfilter.boilerplate import with_boilerplate_removed

    df = spark.createDataFrame(
        [(1, "\n".join([GOOD, SHORT, LINKY, GOOD])), (2, PLAIN), (3, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in with_boilerplate_removed(df).collect()
    }
    assert out[1] == "\n".join([GOOD, SHORT, GOOD])  # short kept via good nbr
    assert out[2] == ""  # all-boilerplate doc -> empty, gates drop it later
    assert out[3] is None  # NULL text stays NULL


def test_map_only_form_adds_no_exchange(spark):
    from webfilter.boilerplate import with_boilerplate_removed

    df = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    plan = formatted(with_boilerplate_removed(df))
    assert nodes(plan, "Exchange") + nodes(plan, "BroadcastExchange") == 0, plan


# ------------------------------------------------ pipeline integration


@pytest.fixture(scope="module")
def pages(spark, synth_dir):
    return spark.read.parquet(f"{synth_dir}/pages.parquet")


def test_pipeline_flag_cleans_exactly_the_good_blocks(spark, pages):
    """--boilerplate semantics: per url, the shipped text equals the
    good blocks of the default run's text, n_chars tracks the cleaned
    text, and scores (computed pre-clean by design) are unchanged."""
    from webfilter import pipeline

    base = pipeline.filtered_frame(pages).select(
        "url", "text", "n_chars", "langid", "perplexity"
    )
    on = pipeline.filtered_frame(pages, boilerplate=True).select(
        "url", "text", "n_chars", "langid", "perplexity"
    )
    want = {
        r["url"]: r["want"]
        for r in base.select("url", _good_blocks(F.col("text")).alias("want")).collect()
    }
    base_rows = {r["url"]: r for r in base.collect()}
    on_rows = {r["url"]: r for r in on.collect()}
    assert set(base_rows) == set(on_rows) and on_rows
    changed = 0
    for url, r in on_rows.items():
        b = base_rows[url]
        assert r["text"] == want[url]
        assert r["n_chars"] == (len(r["text"]) if r["text"] is not None else b["n_chars"])
        assert (r["langid"], r["perplexity"]) == (b["langid"], b["perplexity"])
        changed += r["text"] != b["text"]
    assert changed > 0, "synthetic corpus produced no boilerplate blocks?"


def test_pipeline_flag_adds_no_exchange(spark, pages):
    """The map-only stage must not widen the pipeline plan: identical
    Exchange census with the flag on and off."""
    from webfilter import pipeline

    def census(df):
        plan = formatted(df)
        return nodes(plan, "Exchange"), nodes(plan, "BroadcastExchange")

    assert census(
        pipeline.filtered_frame(pages, boilerplate=True)
    ) == census(pipeline.filtered_frame(pages))


def test_sep_is_literal_not_regex(spark):
    """A separator containing regex metacharacters must split
    literally (code-review r4c6 finding #3: '|' used to split
    between every character)."""
    from webfilter.boilerplate import with_boilerplate_removed

    good = ("good text with many of the and is to stopwords here "
            "today and more of the same is here to stay for a while.")
    text = f"{good}|{good}"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    assert justext_blocks(df, sep="|").count() == 2
    out = with_boilerplate_removed(df, "text", sep="|").collect()[0]["text"]
    assert out == text  # both blocks good, literally re-joined


def test_with_boilerplate_removed_matches_column_form(spark, synth_docs=None):
    """The staged (materialized-codes) df form must equal the pure
    Column form (final_classes_col) block-for-block."""
    from webfilter.boilerplate import with_boilerplate_removed

    rows = [
        ("good text with many of the and is to stopwords here today.\n"
         "http://x http://y http://z\n"
         "short bit",),
        (None,),
        ("",),
    ]
    df = spark.createDataFrame(rows, "text string")
    a = [r["text"] for r in with_boilerplate_removed(df, "text").collect()]
    b = [r[0] for r in df.select(_good_blocks(F.col("text"))).collect()]
    assert a == b
