"""Complex-nested pandas-UDF return (ARRAY<STRUCT<role,content>>) —
the reference's utils.py:61-63 pattern."""

from __future__ import annotations

from pyspark.sql import types as T

from webfilter.messages import SYSTEM_PROMPT, with_chat_messages


def _sample(spark):
    return spark.createDataFrame(
        [
            (1, "ctx one", "q one", "a one"),
            (2, "ctx two", "q two", None),
        ],
        "id long, context string, question string, answer string",
    )


def test_messages_shape(spark):
    out = with_chat_messages(_sample(spark), "context", "question", "answer")
    assert out.schema["messages"].dataType == T.ArrayType(
        T.StructType(
            [
                T.StructField("role", T.StringType()),
                T.StructField("content", T.StringType()),
            ]
        )
    )
    rows = {r["id"]: r["messages"] for r in out.collect()}
    m1 = rows[1]
    assert [m["role"] for m in m1] == ["system", "user", "assistant"]
    assert m1[0]["content"] == SYSTEM_PROMPT
    assert "ctx one" in m1[1]["content"] and "q one" in m1[1]["content"]
    assert m1[2]["content"] == "a one"
    assert rows[2][2]["content"] == ""  # None-scrub
