"""Regression tests for round-1 review findings (ADVICE.md):

- as-of join: deterministic match among right rows tied on (key, ts)
- hot_items: dim_key == item_key must not drop both key columns
- dispatch_channels: explicitly-empty mapping degrades to channel = NULL
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.operators.asof import asof_join
from hainan_big_data_recommend_system_spark.operators.hot import hot_items
from hainan_big_data_recommend_system_spark.streaming.events import dispatch_channels


def _ts(s: str):
    return datetime.fromisoformat(s)


def test_asof_join_tie_is_deterministic(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"))], "uid long, lts timestamp"
    )
    # three right rows at the SAME (key, ts): the greatest payload struct
    # (rts, rid, val) must win — here the one with rid=30
    right_rows = [
        (1, _ts("2024-01-01T09:00:00"), 10, 1.0),
        (1, _ts("2024-01-01T09:00:00"), 30, 3.0),
        (1, _ts("2024-01-01T09:00:00"), 20, 2.0),
    ]
    for attempt in range(3):
        right = (
            spark.createDataFrame(
                right_rows, "uid long, rts timestamp, rid long, val double"
            )
            .repartition(attempt + 2)  # vary physical order across attempts
        )
        out = asof_join(
            left, right, on="uid", left_ts="lts", right_ts="rts",
            right_payload=["rid", "val"],
        ).collect()
        assert len(out) == 1
        assert out[0]["rid_r"] == 30 and out[0]["val_r"] == 3.0


def test_asof_join_no_match_yields_nulls(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T08:00:00"))], "uid long, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00:00"), 10)], "uid long, rts timestamp, rid long"
    )
    out = asof_join(
        left, right, on="uid", left_ts="lts", right_ts="rts", right_payload=["rid"]
    ).collect()
    assert len(out) == 1 and out[0]["rid_r"] is None


def test_hot_items_same_key_name_on_both_sides(spark):
    fact = spark.createDataFrame(
        [(1,), (1,), (2,)], "item long"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "item long, name string")
    out = hot_items(fact, "item", n=10, dim=dim, dim_key="item").collect()
    got = {(r["item"], r["name"], r["cnt"]) for r in out}
    assert got == {(1, "a", 2), (2, "b", 1)}


def test_dispatch_channels_empty_mapping_is_null(spark):
    df = spark.createDataFrame([("click",), ("view",)], "event_type string")
    out = dispatch_channels(df, mapping={}).collect()
    assert all(r["channel"] is None for r in out)
    # default mapping still routes
    routed = dispatch_channels(df).collect()
    assert {r["channel"] for r in routed} == {"u_like"}


def test_ngram_diversity_degenerate_corpus_matches_oracle(spark, tmp_path):
    """ADVICE r5: on a corpus where every doc has fewer than n tokens the
    Spark agg used to emit a total_ngrams=0 row (NULL ratio) that the
    oracle's GROUP BY never produces — empty n-gram classes must be
    dropped so both engines agree."""
    import duckdb

    from hainan_big_data_recommend_system_spark.qcatalog import EXTRA_REGISTRY

    import pandas as pd

    sf = str(tmp_path)
    # single parquet FILE, the same layout as /root/testdata tables
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["solo", "one", ""]}
    ).to_parquet(f"{sf}/documents.parquet", index=False)

    spec = EXTRA_REGISTRY["ngram_diversity"]
    got = {
        r["n"]: (r["total_ngrams"], r["distinct_ngrams"])
        for r in spec.fn(spark, sf).collect()
    }
    # only unigrams exist; the n=2 and n=3 classes are EMPTY, not zero
    assert got == {1: (2, 2)}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(spec.oracle).fetchall()
    }
    assert got == want
