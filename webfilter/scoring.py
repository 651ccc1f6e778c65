"""Vectorized model stage: extract, langid, perplexity, quality
classifier and PII scrub in ONE Arrow-batched pandas UDF.

One UDF body serves every input shape. ``make_score_udf(extract,
scrub)`` picks the kernels: ``extract`` takes html in and ships back
the extracted text/title/err; ``scrub`` adds ``scrubbed_text``, which
is only right when the scored text IS the shipped text (no
boilerplate stage in between — the pipeline gates that). Each batch
crosses the JVM<->Python Arrow boundary exactly once, and the struct
return + single projection apart is the reference's nested-struct UDF
pattern (python/biomed_genai/retriever/pubmed_wf/pmc.py:90-96
projected at databricks/retriever/pubmed_wf/03_Curate_Articles.py:67-78),
done vectorized per the pandas_udf template at
databricks/model/bc_chat_ift/_setup/utils.py:61-63.
"""

from __future__ import annotations

from functools import cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_S, _D = T.StringType(), T.DoubleType()
_EXTRACT_FIELDS = (("text", _S), ("title", _S), ("extract_err", _S))
_SCORE_FIELDS = (
    ("langid", _S), ("langid_conf", _D), ("perplexity", _D), ("quality_prob", _D)
)
_SCRUB_FIELDS = (("scrubbed_text", _S),)


def score_schema(extract: bool, scrub: bool) -> T.StructType:
    """Return type of ``make_score_udf(extract, scrub)``: the extract,
    score and scrub field groups, in that order."""
    fields = (
        (_EXTRACT_FIELDS if extract else ()) + _SCORE_FIELDS
        + (_SCRUB_FIELDS if scrub else ())
    )
    return T.StructType([T.StructField(n, t) for n, t in fields])


@cache
def make_score_udf(extract: bool, scrub: bool, /):
    """The model-stage pandas UDF over html (``extract``) or text.
    Cached (positional-only, so one key per shape): every caller of
    one shape shares one UDF object."""

    def score(src: pd.Series) -> pd.DataFrame:
        # imports inside the UDF so executors train each model once
        # per python worker (module import is cached), never per batch
        from webfilter.kernels import langid, perplexity, qualityclf

        cols = {}
        text = src
        if extract:
            from webfilter.kernels.extract import extract_batch

            ext = extract_batch(src)
            text = ext["text"]
            cols.update(text=text, title=ext["title"], extract_err=ext["err"])
        ids = langid.predict_batch(text)
        cols.update(
            langid=ids["langid"],
            langid_conf=ids["langid_conf"],
            perplexity=perplexity.score_batch(text),
            quality_prob=qualityclf.quality_prob_batch(text),
        )
        if scrub:
            from webfilter.kernels.scrubber import scrub_texts

            cols["scrubbed_text"] = scrub_texts(text)
        return pd.DataFrame(cols)

    return F.pandas_udf(score, score_schema(extract, scrub))


def with_model_scores(
    df: DataFrame,
    src_col: str,
    *,
    extract: bool,
    scrub: bool,
    und_threshold: float = 0.5,
) -> DataFrame:
    """Adds the ``score_schema(extract, scrub)`` columns from one Arrow
    pass over ``src_col``. Pre-existing output columns are replaced,
    not duplicated (code-review r4c6 finding #6). Low-confidence
    language ids become 'und' (the fastText convention) as a COLUMN
    expression, so the threshold follows rules.MIN_LANGID_CONF
    instead of a hardcoded 0.5 (code-review r4c6 finding #2)."""
    names = score_schema(extract, scrub).fieldNames()
    keep = [c for c in df.columns if c not in names]
    out = df.withColumn("_ms", make_score_udf(extract, scrub)(F.col(src_col)))
    out = out.select(*keep, *(f"_ms.{n}" for n in names))
    return out.withColumn(
        "langid",
        F.when(
            F.col("langid_conf") < F.lit(float(und_threshold)), F.lit("und")
        ).otherwise(F.col("langid")),
    )


# ---- names the benchmark (perfbench/) imports: bindings of the above
extract_score_scrub_udf = make_score_udf(True, True)
EXTRACT_SCORE_SCRUB_SCHEMA = score_schema(True, True)


def with_extract_scores_scrub(df, und_threshold=0.5):
    return with_model_scores(
        df, "html", extract=True, scrub=True, und_threshold=und_threshold
    )


def with_extract_and_scores(df, und_threshold=0.5):
    return with_model_scores(
        df, "html", extract=True, scrub=False, und_threshold=und_threshold
    )
