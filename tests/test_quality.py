"""Quality classifier: golden accuracy on held-out snippets,
determinism, batch-size invariance, and Spark-side delivery."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webfilter.kernels.qualityclf import quality_prob_batch

GOOD = [
    "The history of the city includes many important events and people "
    "that shaped its development over the years of study.",
    "Water is an important part of life and the world around us, and "
    "there are many questions about its place in research.",
    "The government of the country announced a new education program "
    "for schools and students in the community last week.",
    "Die Geschichte der Stadt und die Entwicklung der Gesellschaft "
    "sind wichtig für die Menschen in Deutschland.",
    "El gobierno y la historia de la ciudad son una parte importante "
    "de la vida de las personas del mundo.",
    "La ville et son histoire sont une partie importante de la vie "
    "des personnes et de la question du temps.",
]
SPAM = [
    "FREE CASH click here now buy cheap viagra pills winner casino "
    "bonus $$$ !!! 100% guaranteed act now",
    "win prize claim urgent act now instant approval loan credit earn "
    "money fast >>> *** #1 deal discount",
    "hot singles xxx download crack keygen serial free76 click83 "
    "buy90 now97 cheap4 winner11 cash18 prize25",
    "CONGRATULATIONS WINNER claim your exclusive bonus offer limited "
    "deal subscribe now 24/7 miracle cure weight loss",
]


def test_quality_classifier_separates_held_out():
    p = quality_prob_batch(pd.Series(GOOD + SPAM))
    assert all(v > 0.6 for v in p[: len(GOOD)]), list(p[: len(GOOD)])
    assert all(v < 0.4 for v in p[len(GOOD) :]), list(p[len(GOOD) :])


def test_quality_classifier_degenerate_is_half():
    p = quality_prob_batch(pd.Series(["", "ab", None]))
    assert list(p) == [0.5, 0.5, 0.5]


def test_quality_classifier_batch_invariant():
    """Scores must not depend on which docs share an Arrow batch."""
    all_at_once = quality_prob_batch(pd.Series(GOOD + SPAM)).to_numpy()
    one_by_one = np.array(
        [quality_prob_batch(pd.Series([t]))[0] for t in GOOD + SPAM]
    )
    assert np.allclose(all_at_once, one_by_one, atol=1e-12)


def test_quality_prob_spark_stage(spark):
    from webfilter.quality import with_quality_prob

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(GOOD + SPAM)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["quality_prob"] for r in with_quality_prob(df).collect()}
    local = quality_prob_batch(pd.Series(GOOD + SPAM))
    for i in range(len(GOOD + SPAM)):
        assert abs(rows[i] - local[i]) < 1e-9


def test_pipeline_quality_gate_optional(spark):
    """min_quality_prob=None (default) leaves decisions untouched;
    setting it drops spam docs via rule_quality_prob with lineage."""
    from webfilter import rules
    from webfilter.pipeline import filtered_frame

    good_body = (
        "The history of the city includes many important events and people "
        "that shaped its development over the years. " * 3
    )
    spam_body = (
        "free click here buy now cheap winner casino bonus offer deal "
        "discount loan credit earn money fast win prize claim urgent " * 3
    )
    rows = [
        (f"http://ok{i}.com/a", f"<html><title>t</title><body><p>{good_body}</p>"
         f"</body></html>".encode(), "2024-01-01T00:00:00")
        for i in range(3)
    ] + [
        (f"http://spam{i}.com/a", f"<html><title>s</title><body><p>{spam_body}</p>"
         f"</body></html>".encode(), "2024-01-01T00:00:00")
        for i in range(3)
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, warc_ts string")

    base = filtered_frame(pages)
    gated = filtered_frame(
        pages, rules.RuleConfig(min_quality_prob=0.5)
    )
    b = {r["url"]: r for r in base.collect()}
    g = {r["url"]: r for r in gated.collect()}
    # scores always present in lineage
    assert all(r["quality_prob"] is not None for r in b.values())
    # default config: rule absent, spam keep-status decided by classic rules
    assert all("quality_prob" not in r["drop_reasons"] for r in b.values())
    # gated: every spam doc dropped WITH the reason; good docs unaffected
    for i in range(3):
        assert "quality_prob" in g[f"http://spam{i}.com/a"]["drop_reasons"]
        assert g[f"http://ok{i}.com/a"]["keep"] == b[f"http://ok{i}.com/a"]["keep"]


def test_und_threshold_follows_config(spark):
    """The 'und' rewrite threshold is RuleConfig.min_langid_conf, not
    a hardcoded 0.5 (code-review r4c6 finding #2): at a configured
    floor of 0.0 no prediction is rewritten to 'und' by confidence."""
    from webfilter import scoring

    df = spark.createDataFrame(
        [("k j q x z w v b n m g h p q r s t",)], "text string"
    )  # gibberish: a real prediction with low confidence
    def score(frame, und):
        return scoring.with_model_scores(
            frame, "text", extract=False, scrub=False, und_threshold=und
        )

    strict = score(df, 0.99).collect()[0]
    loose = score(df, 0.0).collect()[0]
    assert strict["langid"] == "und"
    assert loose["langid"] != "und"
    # and re-scoring a frame that already has score columns works
    # (duplicate-column guard)
    rescored = score(
        spark.createDataFrame(
            [("hello world", "xx", 0.1, 1.0, 0.5)],
            "text string, langid string, langid_conf double, "
            "perplexity double, quality_prob double",
        ),
        0.5,
    )
    assert rescored.columns.count("langid") == 1
    assert rescored.collect()[0]["langid"] != "xx"


# ------------------------------------------- the one model-stage UDF


def _synth_pages(n: int = 300) -> pd.DataFrame:
    from webfilter import synth

    b = synth.gen_batch(np.arange(n), n)
    return b[b["row_kind"] == "main"].reset_index(drop=True)


@pytest.mark.parametrize("extract", [True, False])
@pytest.mark.parametrize("scrub", [True, False])
def test_score_udf_matches_direct_kernel_calls(extract, scrub):
    """Every shape of the factory's UDF, run on a local pandas batch
    (no Spark), equals the kernels called one by one, in schema
    order."""
    from webfilter.kernels import langid, perplexity, qualityclf
    from webfilter.kernels.extract import extract_batch
    from webfilter.kernels.scrubber import scrub_texts
    from webfilter.scoring import make_score_udf, score_schema

    html = _synth_pages()["html"]
    ext = extract_batch(html)
    text = ext["text"]
    ids = langid.predict_batch(text)
    want = pd.DataFrame({
        "text": text, "title": ext["title"], "extract_err": ext["err"],
        "langid": ids["langid"], "langid_conf": ids["langid_conf"],
        "perplexity": perplexity.score_batch(text),
        "quality_prob": qualityclf.quality_prob_batch(text),
        "scrubbed_text": scrub_texts(text),
    })[score_schema(extract, scrub).fieldNames()]
    udf = make_score_udf(extract, scrub)
    got = udf.func(html if extract else text)
    pd.testing.assert_frame_equal(got, want)
    assert udf.returnType == score_schema(extract, scrub)
    assert make_score_udf(extract, scrub) is udf  # one UDF per shape


def test_pre_extracted_boilerplate_path_scrubs_cleaned_text(spark):
    """filtered_frame(pre_extracted=True, boilerplate=True): the UDF
    scores the given text without scrubbing; the JVM scrub chain then
    scrubs the CLEANED text, byte-identical to the Python scrubber."""
    from webfilter.boilerplate import clean_text_col
    from webfilter.kernels.extract import extract_batch
    from webfilter.kernels.scrubber import scrub_one
    from webfilter.pipeline import filtered_frame

    b = _synth_pages()
    b["text"] = extract_batch(b["html"])["text"]
    pages = spark.createDataFrame(b[["url", "warc_ts", "html", "text", "lang"]])
    out = filtered_frame(pages, pre_extracted=True, boilerplate=True)
    rows = out.select(
        "url", "text", "scrubbed_text", "pii_found", "extract_err"
    ).collect()
    want = {
        r["url"]: r["c"]
        for r in pages.select(
            "url", clean_text_col(F.col("text"))["clean_text"].alias("c")
        ).collect()
    }
    assert len(rows) == len(b)
    for r in rows:
        assert r["text"] == want[r["url"]]
        assert r["scrubbed_text"] == scrub_one(r["text"])[0]
        assert r["pii_found"] == (r["scrubbed_text"] != (r["text"] or ""))
        assert r["extract_err"] == "pre_extracted"
    assert any(r["pii_found"] for r in rows)
    assert any(want[u] != t for u, t in zip(b["url"], b["text"]))  # cleaned


def test_benchmark_imported_names_are_pinned():
    """perfbench/ imports these four names; their signatures and the
    fused schema's field order are part of the benchmark's contract."""
    import inspect

    from webfilter import scoring

    assert scoring.EXTRACT_SCORE_SCRUB_SCHEMA.fieldNames() == [
        "text", "title", "extract_err", "langid", "langid_conf",
        "perplexity", "quality_prob", "scrubbed_text",
    ]
    assert scoring.extract_score_scrub_udf is scoring.make_score_udf(True, True)
    assert (
        scoring.extract_score_scrub_udf.returnType
        == scoring.EXTRACT_SCORE_SCRUB_SCHEMA
    )
    for fn in (scoring.with_extract_scores_scrub, scoring.with_extract_and_scores):
        params = inspect.signature(fn).parameters
        assert [(p.name, p.default) for p in params.values()] == [
            ("df", inspect.Parameter.empty), ("html_col", "html"),
            ("und_threshold", 0.5),
        ]
