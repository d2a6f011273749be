"""Invariant tests for the non-SQL-expressible ML stages (SURVEY.md §5.2):
cluster count = k, every doc assigned, seed stability, similarity bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.catalog import load_table
from hainan_big_data_recommend_system_spark.ml.clustering import assign_clusters, fit_kmeans
from hainan_big_data_recommend_system_spark.ml.vectorize import fit_vectorizer
from hainan_big_data_recommend_system_spark.operators.similarity import cosine_topk_arrays


def _fit(spark, sf_dir, seed=42):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feats = fit_vectorizer(docs, "text", min_df=2.0).transform(docs)
    km = fit_kmeans(feats, k=10, seed=seed)
    return docs, assign_clusters(km, feats)


def test_kmeans_invariants(spark, sf_dir):
    docs, assigned = _fit(spark, sf_dir)
    n_docs = docs.count()
    sizes = assigned.groupBy("cluster").count().collect()
    assert sum(r["count"] for r in sizes) == n_docs  # every doc assigned
    assert len(sizes) <= 10
    assert all(0 <= r["cluster"] < 10 for r in sizes)


def test_kmeans_full_k_and_deterministic_ordering(spark, sf_oracle_dir):
    """At corpus scale (sf0.01, 500 docs) the seeded fit must populate all
    k clusters, and the doc_clusters catalog query must return a stable,
    cluster-ordered result across invocations (SURVEY §5.4 invariants)."""
    from hainan_big_data_recommend_system_spark.qcatalog import (
        EXTRA_REGISTRY,
    )

    fn = EXTRA_REGISTRY["doc_clusters"].fn  # rotated to EXTRA round 8
    r1 = fn(spark, sf_oracle_dir).collect()
    r2 = fn(spark, sf_oracle_dir).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]  # seed-stable
    clusters = [r["cluster"] for r in r1]
    assert clusters == sorted(clusters)  # deterministic ordering
    assert len(clusters) == 10  # every cluster populated (k exactly)
    assert sum(r["n_docs"] for r in r1) == 500  # every doc assigned


def test_kmeans_seed_stability(spark, sf_dir):
    _, a1 = _fit(spark, sf_dir, seed=7)
    _, a2 = _fit(spark, sf_dir, seed=7)
    d1 = {r["doc_id"]: r["cluster"] for r in a1.select("doc_id", "cluster").collect()}
    d2 = {r["doc_id"]: r["cluster"] for r in a2.select("doc_id", "cluster").collect()}
    assert d1 == d2


def test_cosine_bounds_and_topk_size(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_arrays(emb, "vec_id", "embedding", k=5, block_col="label")
    stats = out.agg(
        F.min("sim").alias("lo"), F.max("sim").alias("hi"), F.max("rn").alias("maxrn")
    ).collect()[0]
    assert -1.000001 <= stats["lo"] <= stats["hi"] <= 1.000001
    assert stats["maxrn"] <= 5
    # no self-pairs
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_ivf_pinned_recall_vs_bruteforce(spark, sf_oracle_dir):
    """The pinned-quantizer IVF (the oracled catalog form) under the same
    invariants as the trained one: exact scores, k-bound, no self-pairs,
    recall@5 over the geometry floor on the corpus the quantizer was
    fitted for."""
    from hainan_big_data_recommend_system_spark.operators.ann import (
        cosine_topk_bruteforce,
        ivf_topk_pinned,
    )

    emb = load_table(spark, sf_oracle_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, "vec_id", "embedding", k=5)
    approx = ivf_topk_pinned(emb, "vec_id", "embedding", k=5, nprobe=2)

    assert approx.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    assert approx.agg(F.max("rn")).collect()[0][0] <= 5

    hits = exact.join(approx, ["query_id", "neighbor_id"], "inner").count()
    total = exact.count()
    recall = hits / total
    assert recall >= 0.5, f"pinned IVF recall@5 = {recall:.3f} < 0.5"

    mismatched = (
        exact.select("query_id", "neighbor_id", F.col("sim").alias("s_exact"))
        .join(approx, ["query_id", "neighbor_id"])
        .filter(F.abs(F.col("sim") - F.col("s_exact")) > 0)
        .count()
    )
    assert mismatched == 0


def test_cosine_symmetry(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    out = cosine_topk_arrays(emb, "vec_id", "embedding", k=100, block_col="label")
    a = out.select("query_id", "neighbor_id", "sim")
    b = out.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
        F.col("sim").alias("sim_t"),
    )
    joined = a.join(b, ["query_id", "neighbor_id"], "inner")
    bad = joined.filter(F.abs(F.col("sim") - F.col("sim_t")) > 1e-9).count()
    assert bad == 0
