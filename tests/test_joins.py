"""Temporal join operator (webfilter/joins.py): as-of —
hand-computed small cases + composition checks (the sf-scale oracle
comparison lives in the driver contract: join_asof_latest,
events_sessionized)."""

from __future__ import annotations

from pyspark.sql import functions as F

from webfilter.joins import asof_join


def _ts(df, *cols):
    for c in cols:
        df = df.withColumn(c, F.to_timestamp(c))
    return df


def test_asof_join_hand_case(spark):
    left = _ts(
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:03:00"),
             (3, "2024-01-01 00:05:00"), (4, "2024-01-01 00:09:00"),
             (5, "2099-01-01 00:00:00")],
            "event_id long, ts string",
        ).withColumn("user_id", F.lit(7)),
        "ts",
    )
    right = _ts(
        spark.createDataFrame(
            [("2024-01-01 00:01:00", 10.0), ("2024-01-01 00:05:00", 50.0)],
            "ts string, value double",
        ).withColumn("user_id", F.lit(7)),
        "ts",
    )
    out = {
        r["event_id"]: r["value_r"]
        for r in asof_join(left, right, by="user_id", ts="ts").collect()
    }
    # t=0 precedes every view -> NULL; t=3 -> 10; t=5 ties the view
    # (<= semantics) -> 50; later rows carry 50 forward
    assert out == {1: None, 2: 10.0, 3: 50.0, 4: 50.0, 5: 50.0}


def test_asof_join_respects_key_boundaries(spark):
    left = _ts(
        spark.createDataFrame(
            [(1, 100, "2024-01-01 00:10:00"), (2, 200, "2024-01-01 00:10:00")],
            "event_id long, user_id long, ts string",
        ),
        "ts",
    )
    right = _ts(
        spark.createDataFrame(
            [(100, "2024-01-01 00:00:00", 1.0)],
            "user_id long, ts string, value double",
        ),
        "ts",
    )
    out = {r["event_id"]: r["value_r"] for r in asof_join(left, right, "user_id").collect()}
    assert out == {1: 1.0, 2: None}  # user 200 never sees user 100's rows


def test_asof_join_null_right_values_not_skipped(spark):
    """ADVICE r2: a genuinely-NULL value on the MOST RECENT right row
    must be attached as NULL — not skipped in favor of a stale older
    value — and with several right columns every output field must
    come from the same right row (the struct carry guarantees both)."""
    left = _ts(
        spark.createDataFrame(
            [(1, "2024-01-01 00:10:00")], "event_id long, ts string"
        ).withColumn("user_id", F.lit(7)),
        "ts",
    )
    right = _ts(
        spark.createDataFrame(
            [("2024-01-01 00:01:00", 10.0, "a"),
             ("2024-01-01 00:05:00", None, "b")],
            "ts string, value double, tag string",
        ).withColumn("user_id", F.lit(7)),
        "ts",
    )
    row = asof_join(left, right, by="user_id", ts="ts").collect()[0]
    # most recent right row (00:05) carries (NULL, 'b') — a per-column
    # ignorenulls carry would wrongly stitch (10.0, 'b')
    assert row["value_r"] is None and row["tag_r"] == "b", row


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-check against pandas merge_asof (independent
    implementation): 400 left rows x 300 right rows over 5 keys with
    deliberate ts collisions AND NULL right values (a NULL on the
    matched row must surface, paired with that row's non-null tag)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    base = pd.Timestamp("2024-01-01")
    left = pd.DataFrame(
        {
            "event_id": np.arange(400),
            "user_id": rng.integers(0, 5, 400),
            "ts": base + pd.to_timedelta(rng.integers(0, 500, 400) * 7, unit="s"),
        }
    )
    right = pd.DataFrame(
        {
            "user_id": rng.integers(0, 5, 300),
            "ts": base + pd.to_timedelta(rng.integers(0, 500, 300) * 7, unit="s"),
        }
    )
    # unique (user, ts) on the right: merge_asof picks the LAST among
    # equal keys while our window picks max in (ts, side) order —
    # dedupe to make the contract unambiguous for both
    right = right.drop_duplicates(["user_id", "ts"]).copy()
    right["value"] = rng.normal(size=len(right)).round(6)
    # ~20% NULL right values: merge_asof still matches the ROW; a
    # per-column ignorenulls carry would instead skip to older values
    right.loc[rng.random(len(right)) < 0.2, "value"] = np.nan
    right["seq"] = np.arange(len(right))  # always-non-null row id

    matched = pd.merge_asof(
        left.sort_values("ts", kind="mergesort"),
        right.sort_values("ts", kind="mergesort"),
        on="ts",
        by="user_id",
        direction="backward",  # most recent right.ts <= left.ts
    ).set_index("event_id")
    expect_v = matched["value"].to_dict()
    expect_seq = matched["seq"].to_dict()

    sright = spark.createDataFrame(right).withColumn(
        "value", F.when(F.isnan("value"), F.lit(None)).otherwise(F.col("value"))
    )
    out = asof_join(
        spark.createDataFrame(left), sright, by="user_id",
        right_cols=["value", "seq"],
    ).collect()
    assert len(out) == len(left)
    for r in out:
        ev, es = expect_v[r["event_id"]], expect_seq[r["event_id"]]
        if pd.isna(es):
            assert r["seq_r"] is None, r  # no right row precedes
        else:
            assert r["seq_r"] == int(es), r  # same matched right row
        if r["value_r"] is None:
            assert pd.isna(ev), r
        else:
            assert abs(r["value_r"] - ev) < 1e-9, r
