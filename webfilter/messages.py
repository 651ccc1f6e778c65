"""Chat-message formatting: the reference's one properly vectorized
pandas UDF (databricks/model/bc_chat_ift/_setup/utils.py:45-63)
returns ARRAY<STRUCT<role,content>> from (context, question, answer)
batches — reproduced here as the complex-nested-return idiom test
(FIXTURES.md §5 messages_like)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MESSAGES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("role", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
)

SYSTEM_PROMPT = "You are a careful assistant. Use the context to answer."


@F.pandas_udf(MESSAGES_TYPE)
def to_chat_messages(context: pd.Series, question: pd.Series, answer: pd.Series) -> pd.Series:
    """(context, question, answer) batch -> chat messages array.
    Vectorized complex-type return through Arrow (the U4 idiom)."""
    return pd.Series(
        [
            [
                {"role": "system", "content": SYSTEM_PROMPT},
                {"role": "user", "content": f"context: {c}\n\nquestion: {q}"},
                {"role": "assistant", "content": a},
            ]
            for c, q, a in zip(context.fillna(""), question.fillna(""), answer.fillna(""))
        ]
    )


def with_chat_messages(
    df: DataFrame, context_col: str, question_col: str, answer_col: str
) -> DataFrame:
    return df.withColumn(
        "messages",
        to_chat_messages(F.col(context_col), F.col(question_col), F.col(answer_col)),
    )
