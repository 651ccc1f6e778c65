"""Document chunking — the reference's stage 04
(databricks/retriever/pubmed_wf/04_Chunk_Articles_Content.py):
chunk the body text, keep chunks >= 110 chars (04:79), posexplode to
(pos, chunk) rows, id = concat(doc_id, '-', pos) (04:100-101).

Two implementations:

* fixed-char windows as pure Column algebra (sequence + substring) —
  JVM, codegen, DuckDB-oracle-checkable;
* paragraph-aware greedy packing as an Arrow pandas UDF (the
  reference's by_title strategy analog, 500/3850/4000-char params,
  04:59-62) — not SQL-expressible, pytest-verified.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIN_CHUNK_CHARS = 110  # reference 04:79
TARGET_CHARS = 500     # reference new_after_n_chars
MAX_CHARS = 4000       # reference max_characters


def fixed_chunks_col(text: Column) -> Column:
    """Non-overlapping fixed-size char windows, short tail dropped by
    the reference's 110-char gate."""
    n = F.length(text)
    n_chunks = F.greatest(F.ceil(n / F.lit(TARGET_CHARS)).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.substring(text, i * TARGET_CHARS + 1, TARGET_CHARS),
    )
    return F.filter(chunks, lambda c: F.length(c) >= MIN_CHUNK_CHARS)


def explode_chunks(df: DataFrame) -> DataFrame:
    """1 doc -> N (pos, chunk) rows with the reference's concat id."""
    return (
        df.select(
            F.col("doc_id"),
            F.posexplode(fixed_chunks_col(F.col("text"))).alias("pos", "chunk"),
        )
        .withColumn("chunk_id", F.concat_ws("-", "doc_id", "pos"))
    )


CHUNKS_TYPE = T.ArrayType(T.StringType())


@F.pandas_udf(CHUNKS_TYPE)
def paragraph_chunks_udf(text: pd.Series) -> pd.Series:
    """Paragraph-aware greedy packing (vectorized batch): split on
    newlines, pack paragraphs until TARGET_CHARS, hard-split any
    paragraph longer than MAX_CHARS, drop chunks < MIN_CHUNK_CHARS."""

    def pack(t: str) -> list[str]:
        if not t:
            return []
        chunks: list[str] = []
        cur: list[str] = []
        cur_len = 0
        for para in t.split("\n"):
            while len(para) > MAX_CHARS:
                head, para = para[:MAX_CHARS], para[MAX_CHARS:]
                if cur:
                    chunks.append("\n".join(cur))
                    cur, cur_len = [], 0
                chunks.append(head)
            if cur_len + len(para) + 1 > TARGET_CHARS and cur:
                chunks.append("\n".join(cur))
                cur, cur_len = [], 0
            cur.append(para)
            cur_len += len(para) + 1
        if cur:
            chunks.append("\n".join(cur))
        return [c for c in chunks if len(c) >= MIN_CHUNK_CHARS]

    return text.fillna("").map(pack)


def explode_paragraph_chunks(df: DataFrame) -> DataFrame:
    return (
        df.select(
            F.col("doc_id"),
            F.posexplode(paragraph_chunks_udf(F.col("text"))).alias("pos", "chunk"),
        )
        .withColumn("chunk_id", F.concat_ws("-", "doc_id", "pos"))
    )
