"""Banded 1-D kNN must equal brute force — including the degenerate
all-ties group where the measured multiplicity T widens the band to the
whole group (operators/nn1d.py).  Building the kNN plan, and the
``reco_assembly`` plan over it, runs no Spark job."""

from __future__ import annotations

from hainan_big_data_recommend_system_spark.catalog import load_table
from hainan_big_data_recommend_system_spark.operators.nn1d import (
    nearest_neighbors_1d,
)
from hainan_big_data_recommend_system_spark.streaming.recommend import reco_assembly


def _brute(rows, k):
    out = set()
    for g, i, v in rows:
        cands = sorted(
            ((abs(v - v2), i2) for g2, i2, v2 in rows if g2 == g and i2 != i)
        )[:k]
        for rank, (dist, j) in enumerate(cands, 1):
            out.add((g, i, j, rank))
    return out


def test_nn1d_matches_brute_force_with_ties(spark):
    rows = [
        # group "a": distinct values
        *[("a", i, float(i * 10)) for i in range(1, 8)],
        # group "b": ALL EQUAL values — T = n, band degrades to all-pairs
        *[("b", i, 5.0) for i in range(1, 7)],
        # group "c": mixed duplicates
        ("c", 1, 1.0), ("c", 2, 1.0), ("c", 3, 1.0),
        ("c", 4, 2.0), ("c", 5, 9.0), ("c", 6, 9.0),
    ]
    df = spark.createDataFrame(rows, "g string, id int, v double")
    got = {
        (r["g"], r["id"], r["neighbor_id"], r["rank"])
        for r in nearest_neighbors_1d(
            df, group_col="g", id_col="id", val_col="v", k=3
        ).collect()
    }
    assert got == _brute(rows, 3)


def test_building_reco_assembly_runs_no_job(spark, sf_dir, count_jobs):
    """No eager checkpoint while the plan is built: neither the collection
    set nor the kNN positions run a job before the caller's action.  The
    only jobs are the parquet schema reads of ``load_table``, counted on
    their own and subtracted."""
    tables = ("orders", "lineitem", "customer")
    _, schema_jobs = count_jobs(
        lambda: [load_table(spark, sf_dir, t) for t in tables]
    )
    out, jobs = count_jobs(lambda: reco_assembly(spark, sf_dir, uid_mod=10))
    assert jobs == schema_jobs
    assert out.count() > 0
