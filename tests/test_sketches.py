"""Invariant check for the rows-only catalog entry ``weighted_sample_docs``:
the weighted priorities bias the sample toward heavy documents, and the
sample is a deterministic function of ids."""

from __future__ import annotations


def test_weighted_sample_favors_heavy_docs(spark):
    """Weighted priorities must actually bias the sample: the mean
    n_chars of the 200 selected docs exceeds the corpus mean (weights
    are n_chars), and the sample is a deterministic function of ids."""
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.catalog import load_table
    from hainan_big_data_recommend_system_spark.qcatalog import EXTRA_REGISTRY

    sf = "/root/testdata/sf0.01"
    spec = EXTRA_REGISTRY["weighted_sample_docs"]
    a = {r["doc_id"]: r["sample_rank"] for r in spec.fn(spark, sf).collect()}
    b = {r["doc_id"]: r["sample_rank"] for r in spec.fn(spark, sf).collect()}
    assert a == b and len(a) == 200
    docs = load_table(spark, sf, "documents")
    corpus_mean = docs.agg(F.avg("n_chars")).head()[0]
    sample_mean = (
        docs.join(
            spark.createDataFrame([(i,) for i in a], "doc_id long"), "doc_id"
        )
        .agg(F.avg("n_chars"))
        .head()[0]
    )
    assert sample_mean > corpus_mean
