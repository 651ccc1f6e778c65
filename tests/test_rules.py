"""Spark Column-expression rules vs the independent pure-python
mirror (webfilter/kernels/heuristics.py) — exact parity."""

from __future__ import annotations

import pytest
from _plan import formatted, nodes
from pyspark.sql import functions as F

from webfilter import rules
from webfilter.kernels import heuristics

EDGE_TEXTS = [
    "",
    " ",
    "one",
    "the " * 60,
    "a\nb\nb\nb\nb",
    "word### " * 60,
    "x" * 200,
    ("the quick brown fox jumps over the lazy dog and then it was all good " * 3).strip(),
    "line one here\nline one here\nline two",
    "的一 是不 了人",
    "tab\tseparated words here\nand more",
]


def test_heuristic_parity_edge_cases(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_TEXTS], "text string")
    rows = rules.with_heuristics(df).collect()
    for r in rows:
        s = heuristics.stats(r["text"])
        assert r["n_words"] == s["n_words"], r["text"][:40]
        assert r["n_chars"] == s["n_chars"]
        assert abs(r["mean_word_len"] - s["mean_word_len"]) < 1e-9
        assert abs(r["symbol_ratio"] - s["symbol_ratio"]) < 1e-9
        assert r["n_stopwords"] == s["n_stopwords"]
        assert abs(r["alpha_ratio"] - s["alpha_ratio"]) < 1e-9
        assert abs(r["dup_line_ratio"] - s["dup_line_ratio"]) < 1e-9


def test_heuristic_reason_parity_on_synth(spark, synth_dir):
    golden = spark.read.parquet(f"{synth_dir}/golden.parquet")
    df = golden.select(F.col("expected_text").alias("text"), "heur_reasons")
    df = rules.with_heuristics(df)
    df = df.withColumn(
        "spark_reasons",
        F.array_compact(
            F.array(
                *[
                    F.when(~F.col(f"rule_{n}"), F.lit(n)).otherwise(F.lit(None))
                    for n in rules.HEURISTIC_RULE_NAMES
                ]
            )
        ),
    )
    bad = df.filter(F.col("spark_reasons") != F.col("heur_reasons")).count()
    assert bad == 0


def test_decision_composition(spark):
    df = spark.createDataFrame(
        [("the time of people and water in a school " * 10,), ("tiny",)],
        "text string",
    )
    df = rules.with_heuristics(df)
    df = df.withColumns(
        {"rule_lang": F.lit(True), "rule_langid_conf": F.lit(True), "rule_perplexity": F.lit(True)}
    )
    rows = rules.with_decision(df).collect()
    assert rows[0]["keep"] is True and rows[0]["drop_reasons"] == []
    assert rows[1]["keep"] is False and "min_words" in rows[1]["drop_reasons"]


def test_null_text_is_dropped_with_reasons(spark):
    """ADVICE r1: NULL rule values must count as failures — a NULL
    text row must never be kept with empty drop_reasons."""
    df = spark.createDataFrame([(None,), ("tiny",)], "text string")
    df = rules.with_heuristics(df)
    df = df.withColumns(
        {"rule_lang": F.lit(True), "rule_langid_conf": F.lit(True), "rule_perplexity": F.lit(True)}
    )
    rows = {r["text"]: r for r in rules.with_decision(df).collect()}
    null_row = rows[None]
    assert null_row["keep"] is False
    assert len(null_row["drop_reasons"]) > 0


TRICKY_TEXTS = [
    # ASCII \v (in Java's and re.ASCII's \s, NOT in RE2's \s)
    "alpha\x0bbeta gamma delta epsilon",
    # unicode spaces / separators: must NOT tokenize (ASCII-\s contract)
    "uni sep lines and nbsp words here",
    "em space and thin space tokens",
    # non-ASCII word chars adjacent to digits (the \b divergence)
    "café123 touché 555-12-3456 naïve9",
    "emoji 😀 mixed 数字123 text",
]


def test_heuristic_parity_tricky_whitespace(spark):
    """ADVICE r1: the Python oracle (re.ASCII) and the Spark Column
    rules (Java default \\s) must tokenize non-ASCII whitespace and
    word boundaries identically."""
    df = spark.createDataFrame([(t,) for t in TRICKY_TEXTS], "text string")
    for r in rules.with_heuristics(df).collect():
        s = heuristics.stats(r["text"])
        assert r["n_words"] == s["n_words"], repr(r["text"][:40])
        assert r["n_stopwords"] == s["n_stopwords"]
        assert abs(r["alpha_ratio"] - s["alpha_ratio"]) < 1e-9


# -------------------------------------------------- C4 line filter


def test_c4_line_filter_hand_cases(spark):
    doc = "\n".join(
        [
            "This line has enough words and ends properly.",  # kept
            "Short line.",  # < 5 words
            "this line has plenty of words but no terminal punctuation",  # no punct
            "Please enable JavaScript to view the comments.",  # boilerplate
            "Another perfectly fine sentence with many words here!",  # kept
            "A third good sentence keeps this page alive today?",  # kept
            "",  # empty
        ]
    )
    df = spark.createDataFrame([(1, doc), (2, "Too few lines survive here.")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in rules.c4_line_filter(df).collect()}
    assert out[1]["n_lines"] == 7
    assert out[1]["n_kept_lines"] == 3
    assert out[1]["c4_keep"] is True
    assert out[1]["clean_text"].splitlines() == [
        "This line has enough words and ends properly.",
        "Another perfectly fine sentence with many words here!",
        "A third good sentence keeps this page alive today?",
    ]
    # one good line is below min_kept_lines
    assert out[2]["n_kept_lines"] == 1 and out[2]["c4_keep"] is False


def test_c4_brace_drops_page_but_keeps_lines(spark):
    doc = (
        "A perfectly good first sentence stands right here.\n"
        "A perfectly good second sentence stands right here.\n"
        "A perfectly good third sentence stands right here.\n"
        "function f() { return 1; }"
    )
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = rules.c4_line_filter(df).collect()[0]
    assert r["n_kept_lines"] == 3  # the brace line itself fails line rules
    assert r["c4_keep"] is False  # but '{' anywhere kills the page


def test_c4_line_filter_is_narrow(spark):
    """No shuffle: line cleaning must stay a pure map over the scan."""
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("Sentence with five good words no. "), F.col("id")).alias("text"),
    )
    plan = formatted(rules.c4_line_filter(df))
    assert nodes(plan, r"\w*Exchange") == 0, plan


def test_c4_lines_handle_crlf_and_tabs(spark):
    """CRLF corpora: '\r' must not inflate the word count or break
    the terminal-punctuation anchor (code-review r4c5 finding #3)."""
    from webfilter.rules import c4_kept_lines_col

    text = (
        "one two three four.\r\n"      # 4 words -> fails min 5
        "one two three four five.\r\n"  # 5 words + punct -> kept
        "\tsix seven eight nine ten.\r"  # leading tab, kept
    )
    df = spark.createDataFrame([(text,)], "text string")
    kept = df.select(c4_kept_lines_col(F.col("text")).alias("k")).collect()[0]["k"]
    assert kept == [
        "one two three four five.",
        "six seven eight nine ten.",
    ]


def test_scrub_null_text_matches_python_kernel(spark):
    """with_scrubbed on NULL text yields ('', pii_found=False) — the
    kernels/scrubber.scrub_one(None) contract (code-review r4c6
    finding #4)."""
    from webfilter.kernels.scrubber import scrub_one
    from webfilter.scrub import with_scrubbed

    df = spark.createDataFrame([(None,), ("a@b.co x",)], "text string")
    got = with_scrubbed(df).collect()
    assert got[0]["scrubbed_text"] == scrub_one(None)[0] == ""
    assert got[0]["pii_found"] is False
    assert got[1]["pii_found"] is True


@pytest.mark.parametrize(
    "arr, k, want",
    [
        (None, 2, None),
        (["a", "b"], 3, []),
        (["a", "b", "c"], 1, ["a", "b", "c"]),
        (["a", "b", "c", "d"], 3, ["a|b|c", "b|c|d"]),
        (["d", "c", "b", "a"], 2, ["d|c", "c|b", "b|a"]),
    ],
)
def test_sliding_windows(spark, arr, k, want):
    """rules.sliding: NULL -> NULL, size < k -> [], windows in array
    order, combine sees the window's fields as t0..t{k-1}."""
    df = spark.createDataFrame([(arr,)], "arr array<string>")
    got = df.select(
        rules.sliding(F.col("arr"), k, lambda *t: F.concat_ws("|", *t)).alias("w")
    ).first()["w"]
    assert got == want
