"""Spark-side PII/toxicity scrub: a chained ``regexp_replace`` fold.

The hot path is 100% JVM (whole-stage codegen, no Python): the same
ordered pattern list as the python oracle
(webfilter/kernels/scrubber.py) folded into nested regexp_replace
calls. Whether a row had PII is one string comparison of the
scrubbed text against the original; replacement order semantics are
owned by the fold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels.scrubber import SCRUB_PATTERNS


def scrubbed_col(text: Column) -> Column:
    out = text
    for _name, pat, repl in SCRUB_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def with_scrubbed(df: DataFrame) -> DataFrame:
    """Adds scrubbed_text + pii_found. pii_found is a plain string
    comparison — no per-rule regexp passes — and the audit counts
    pii from it."""
    # NULL text -> ('', no hits): the golden python kernel
    # (kernels/scrubber.scrub_one(None)) returns ("", {}), and the
    # three consumers must agree byte-for-byte — NULL/NULL here broke
    # that contract on payload-capped rows (code-review r4c6
    # finding #4)
    out = df.withColumn(
        "scrubbed_text",
        F.coalesce(scrubbed_col(F.col("text")), F.lit("")),
    )
    return out.withColumn(
        "pii_found",
        F.col("scrubbed_text") != F.coalesce(F.col("text"), F.lit("")),
    )
