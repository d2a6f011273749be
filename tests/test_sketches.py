"""Invariant checks for the sketch aggregates (rows-only catalog entry
``sketch_event_stats``): HLL++ distinct counts within the configured error
of exact, approximate percentiles ordered and inside [min, max]."""

from __future__ import annotations

from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.catalog import load_table
from hainan_big_data_recommend_system_spark.qcatalog import EXTRA_REGISTRY

SF_DIR = "/root/testdata/sf0.01"


def test_sketch_stats_invariants(spark):
    got = {
        r["event_type"]: r
        for r in EXTRA_REGISTRY["sketch_event_stats"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert set(got) == set(exact) and len(got) == 5
    for et, row in got.items():
        ex = exact[et]
        # rsd=0.02 → allow 5x headroom for the small-cardinality regime
        assert abs(row["approx_users"] - ex["users"]) <= max(3, 0.10 * ex["users"]), (
            et, row["approx_users"], ex["users"],
        )
        p50, p95 = row["value_p50"], row["value_p95"]
        assert ex["vmin"] <= p50 <= p95 <= ex["vmax"], (et, p50, p95)


def test_sketch_stats_scalar_columns_only(spark):
    """Driver-canonicalizer contract: no array/map/struct columns in any
    catalog result (pandas sort_values crashes on unhashable cells)."""
    df = EXTRA_REGISTRY["sketch_event_stats"].fn(spark, SF_DIR)
    for f in df.schema.fields:
        assert f.dataType.typeName() not in ("array", "map", "struct"), f.name


def test_cms_heavy_hitters_bounds(spark):
    """Count-min never undercounts, and with eps=0.001 the overcount on
    this fixture is bounded by eps * stream length (99% confidence; seed
    pinned, so this is deterministic in practice)."""
    got = EXTRA_REGISTRY["cms_heavy_hitters"].fn(spark, SF_DIR).collect()
    assert len(got) == 10
    n_events = load_table(spark, SF_DIR, "events").count()
    for r in got:
        assert r["cms_n"] >= r["exact_n"], r  # CMS is one-sided
        assert r["cms_n"] <= r["exact_n"] + 0.001 * n_events, r
    # the probe list is the exact top-10: descending counts
    counts = [r["exact_n"] for r in got]
    assert counts == sorted(counts, reverse=True)


def test_histogram_quantiles_accuracy(spark):
    """The 1024-bucket estimates must land within one bucket width of
    the exact discrete quantiles (its oracle gate checks cross-engine
    equality; this pins that the sketch is also a GOOD estimate)."""
    import numpy as np

    from hainan_big_data_recommend_system_spark.catalog import load_table
    from hainan_big_data_recommend_system_spark.qcatalog import EXTRA_REGISTRY

    sf = "/root/testdata/sf0.01"
    got = {
        r["q"]: r["est_cents"]
        for r in EXTRA_REGISTRY["histogram_quantiles"].fn(spark, sf).collect()
    }
    vals = np.array(
        [
            int(round(r["value"] * 100))
            for r in load_table(spark, sf, "events")
            .filter("value is not null")
            .select("value")
            .collect()
        ]
    )
    vals.sort()
    n = len(vals)
    width = (int(vals.max()) - int(vals.min()) + 1) / 1024 + 1
    for q in (50, 90, 99):
        exact = int(vals[(n * q + 99) // 100 - 1])
        assert abs(got[q] - exact) <= width, (q, got[q], exact, width)


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


# ---------------------------------------------------------------------------
# large-range correction (round 8)
# ---------------------------------------------------------------------------

def test_cms_exact_one_sided_and_bounded(spark):
    """CMS guarantees: est >= exact always (one-sided), and the
    expected overcount is ~N/w per row — with d=4 rows the min is far
    below N."""
    from hainan_big_data_recommend_system_spark.qcatalog import (
        EXTRA_REGISTRY,
    )

    rows = (
        EXTRA_REGISTRY["cms_exact_heavy_hitters"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert len(rows) == 15
    n_stream = 20_000  # sf0.01 events ~20k
    for r in rows:
        assert r["overcount"] >= 0, r
        assert r["overcount"] <= n_stream // 16, r  # << eN at w=256
