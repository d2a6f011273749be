"""Perceptual-hash image near-dup tests (operators/phash.py, round 5):
hash determinism, cross-format agreement (BMP's bottom-up BGR stream must
normalize to the same dHash as a PNG of identical pixels), band math, and
the banded pair join's candidate discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.operators.phash import (
    ahash64,
    dhash64,
    phash_image_hashes,
    phash_neardup_pairs,
)


def test_hashes_deterministic_and_sensitive():
    px = bytes(range(256)) * 12  # 16x16x3 worth
    assert dhash64(px, 16, 16, 3) == dhash64(px, 16, 16, 3)
    assert ahash64(px, 16, 16, 3) == ahash64(px, 16, 16, 3)
    # flipping one sampled pixel's bytes must change the dhash
    mutated = bytearray(px)
    mutated[0] = 255
    mutated[1] = 255
    mutated[2] = 255
    assert dhash64(bytes(mutated), 16, 16, 3) != dhash64(px, 16, 16, 3)


def test_identical_pixels_any_format_same_hash(spark):
    """The BMP normalization (bottom-up BGR -> top-down RGB) must land on
    the PNG hash for the same logical image: near-dup detection has to
    work ACROSS container formats."""
    from hainan_big_data_recommend_system_spark.operators.multimodal import (
        make_bmp,
        make_png,
    )

    # make_bmp writes rows bottom-up in BGR with 4-byte padding; make_png
    # writes the seed cycled top-down RGB.  For a constant-color image the
    # two streams describe the same pixels regardless of order/padding —
    # use a 4-byte period so BMP row padding stays seed-aligned
    seed = b"\x40\x80\xc0"
    w, h = 8, 8  # 8*3=24 bytes/row, divisible by 4 -> no padding bytes
    bmp = make_bmp(w, h, seed)
    png = make_png(w, h, seed)
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp), "s"), (2, "image", bytearray(png), "s")],
        "media_id long, media_type string, payload binary, source string",
    )
    rows = {r["media_id"]: r for r in phash_image_hashes(media).collect()}
    assert rows[1]["width"] == rows[2]["width"] == w
    # constant color: every luma equal -> dhash 0, ahash 0 in both formats
    assert rows[1]["dhash"] == rows[2]["dhash"] == 0
    assert rows[1]["ahash"] == rows[2]["ahash"] == 0

    # a non-constant PNG: hashes computed through Spark match the local fn
    png2 = make_png(16, 16, bytes(range(256)))
    media2 = spark.createDataFrame(
        [(3, "image", bytearray(png2), "s")],
        "media_id long, media_type string, payload binary, source string",
    )
    row = phash_image_hashes(media2).collect()[0]
    from hainan_big_data_recommend_system_spark.operators.phash import _to_i64

    px = (bytes(range(256)) * 3)[: 16 * 16 * 3]
    assert row["dhash"] == _to_i64(dhash64(px, 16, 16, 3))
    assert row["ahash"] == _to_i64(ahash64(px, 16, 16, 3))


def test_undecodable_rows_dropped(spark):
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"not an image at all"), "s"),
            (2, "image", bytearray(b"BM garbage"), "s"),
        ],
        "media_id long, media_type string, payload binary, source string",
    )
    assert phash_image_hashes(media).count() == 0


def test_neardup_pairs_banding(spark):
    """Exact dup -> hamming 0; a 1-band corruption still collides in the
    other 7 bands; hashes differing in EVERY band never become candidates
    even when their true hamming is under the threshold."""
    rows = [
        (1, 0x1111_2222_3333_4444),
        (2, 0x1111_2222_3333_4444),          # exact dup of 1
        (3, 0x1111_2222_3333_44FF),          # one band differs from 1
        # differs from 1 by exactly one bit in EVERY band (8 bits total,
        # under the threshold) -> banding cannot catch it
        (4, 0x1111_2222_3333_4444 ^ 0x0101_0101_0101_0101),
    ]
    hashes = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {
        (r["image_a"], r["image_b"]): r["hamming"]
        for r in phash_neardup_pairs(hashes, bands=8, max_hamming=10).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == bin(0x44 ^ 0xFF).count("1")
    assert (2, 3) in got
    assert not any(4 in p for p in got)  # all-band divergence: no candidate
    with pytest.raises(ValueError, match="divide"):
        phash_neardup_pairs(hashes, bands=7)


def test_catalog_query_shape(spark, sf_dir):
    from hainan_big_data_recommend_system_spark.qcatalog import REGISTRY

    df = REGISTRY["image_neardup_phash"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0  # the fixture corpus contains near-dup texts
    for r in rows:
        assert r["image_a"] < r["image_b"]
        assert 0 <= r["hamming"] <= 10


def test_building_catalog_query_runs_no_job(spark, sf_dir, count_jobs):
    """Building the plan runs no job: the only one is ``load_table``'s
    parquet schema read, counted on its own.  Both sides of the band
    self-join read the one run of the PNG kernel through a reused
    exchange."""
    from hainan_big_data_recommend_system_spark.catalog import load_table
    from hainan_big_data_recommend_system_spark.qcatalog import REGISTRY

    _, schema_jobs = count_jobs(
        lambda: load_table(spark, sf_dir, "documents")
    )
    df, jobs = count_jobs(
        lambda: REGISTRY["image_neardup_phash"].fn(spark, sf_dir)
    )
    assert jobs == schema_jobs
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
