"""Focused tests for round-16 operator-internal optimizations.

- ``lsh_signatures`` became a numpy int64 matmul kernel: pin its output
  against a pure-Python reference of the pinned-hyperplane definition
  (bucket = Σ_j [v·h_tj ≥ 0] << j over exact integer dots).
- ``_spread_scan`` must repartition ONLY when the physical parallelism
  is below the session default (the at-scale no-op guarantee), and must
  read that parallelism without running the plan.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.operators.dedup import (
    _spread_scan,
    shingles,
)
from hainan_big_data_recommend_system_spark.operators.lsh import (
    lsh_signatures,
    pinned_hyperplanes,
)


def test_lsh_signatures_match_pure_python(spark):
    dim, tables, bits, scale = 4, 2, 3, 1000
    planes = pinned_hyperplanes(tables, bits, dim)
    vecs = [
        (0, [0.5, -0.25, 0.125, 1.0]),
        (1, [-1.0, 0.75, 0.0, -0.125]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, None),  # null vectors drop
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        (r["vid"], r["t"]): r["bucket"]
        for r in lsh_signatures(
            df, "vec_id", "embedding", planes, scale
        ).collect()
    }
    want = {}
    for vid, v in vecs:
        if v is None:
            continue
        q = [round(x * scale) for x in v]
        for t, j, h in planes:
            dot = sum(a * b for a, b in zip(q, h))
            if dot >= 0:
                want[(vid, t)] = want.get((vid, t), 0) | (1 << j)
            else:
                want.setdefault((vid, t), 0)
    assert got == want
    # every non-null vector emits exactly `tables` signature rows
    assert len(got) == 3 * tables


def test_spread_scan_repartitions_single_split(spark):
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(100)], "doc_id long, text string"
    ).coalesce(1)
    out = _spread_scan(df, "doc_id")
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # content unchanged
    assert out.count() == 100


def test_spread_scan_noop_when_already_parallel(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(100)], "doc_id long, text string"
    ).repartition(n + 2, F.col("doc_id"))
    out = _spread_scan(df, "doc_id")
    # already-parallel input must NOT pay another shuffle
    assert out is df


def test_shingles_over_shuffled_input_runs_no_job(spark, count_jobs):
    # an aggregate puts a shuffle under AQE below the spread probe
    docs = (
        spark.createDataFrame(
            [(i % 10, f"w{i} x y z") for i in range(100)], "doc_id long, text string"
        )
        .groupBy("doc_id")
        .agg(F.max("text").alias("text"))
    )
    out, jobs = count_jobs(lambda: shingles(docs, "doc_id", "text"))
    assert jobs == 0
    assert out.count() == 20  # "wN x y" and "x y z" for each of 10 docs
