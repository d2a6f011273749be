"""File-granularity container ingestion (sources/files.py, round 7):
binaryFile-source read of real multi-record WARC/TAR/ZIP files, the
distributed shard writer, per-file quarantine, glob pruning, and the
one-task-per-file scheduling contract.  The catalog queries
(warc_file_corpus_scan, archive_file_corpus_scan) are oracle-gated in
test_oracle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.sources.files import (
    read_container_records,
    write_container_shards,
)


def _docs(spark, n=20):
    return spark.range(n).select(
        F.format_string("doc-%04d.txt", "id").alias("name"),
        F.concat(F.lit("payload for "), F.col("id").cast("string"))
        .cast("binary")
        .alias("body"),
        (F.col("id") % 3).alias("shard"),
    )


@pytest.mark.parametrize("fmt", ["warc", "tar", "zip", "avro"])
def test_roundtrip_write_then_read(spark, tmp_path, fmt):
    out = str(tmp_path / fmt)
    res = {
        r["shard"]: r
        for r in write_container_shards(
            _docs(spark), out, fmt, n_shards=3, shard_col="shard"
        ).collect()
    }
    assert set(res) == {0, 1, 2}
    extra = 1 if fmt == "warc" else 0  # warcinfo record per shard
    assert all(r["n_records"] == 20 // 3 + (s < 2) + extra for s, r in res.items())
    files = sorted(os.listdir(out))
    assert len(files) == 3 and all(f.startswith("shard-") for f in files)
    if fmt == "warc":
        # odd shards are per-record-gzipped (the Common Crawl layout)
        assert [f.endswith(".gz") for f in files] == [False, True, False]

    recs = read_container_records(spark, out, fmt).collect()
    good = [r for r in recs if r["error"] is None]
    assert not [r for r in recs if r["error"] is not None]
    payload_rows = [
        r for r in good if (fmt != "warc" or r["record_type"] != "warcinfo")
    ]
    assert len(payload_rows) == 20
    got = {r["name"]: bytes(r["body"]) for r in payload_rows}
    assert got["doc-0007.txt"] == b"payload for 7"
    if fmt == "warc":
        assert all(r["http_status"] == 200 for r in payload_rows)
        infos = [r for r in good if r["record_type"] == "warcinfo"]
        assert len(infos) == 3 and all(r["record_index"] == 0 for r in infos)
    # within-file order is by zero-padded name: record indexes are the
    # rank of the member among its shard's sorted names
    by_file: dict = {}
    for r in payload_rows:
        by_file.setdefault(r["file_path"], []).append(r)
    for rows in by_file.values():
        rows.sort(key=lambda r: r["record_index"])
        assert [r["name"] for r in rows] == sorted(r["name"] for r in rows)


def test_per_file_quarantine_and_glob(spark, tmp_path):
    out = str(tmp_path / "mixed")
    write_container_shards(
        _docs(spark, 6), out, "tar", n_shards=2, shard_col=None
    ).collect()
    with open(f"{out}/broken.tar", "wb") as fh:
        fh.write(b"definitely not ustar " * 30)
    with open(f"{out}/notes.txt", "w") as fh:
        fh.write("not an archive; glob must prune me")

    recs = read_container_records(spark, out, "tar", glob="*.tar").collect()
    errs = [r for r in recs if r["error"] is not None]
    assert len(errs) == 1
    assert errs[0]["error"] == "bad ustar magic at offset 0"
    assert errs[0]["file_path"].endswith("broken.tar")
    assert errs[0]["body"] is None and errs[0]["record_index"] is None
    assert len([r for r in recs if r["error"] is None]) == 6


def test_one_task_per_large_file_no_driver_loop(spark, tmp_path):
    """The scheduling contract at crawl scale: binaryFile never splits a
    container, and files above maxPartitionBytes each become their own
    task — so N big WARC shards parse as N parallel tasks with no
    driver-side file loop."""
    out = str(tmp_path / "many")
    docs6 = spark.range(24).select(
        F.format_string("doc-%04d.txt", "id").alias("name"),
        F.col("id").cast("string").cast("binary").alias("body"),
        (F.col("id") % 6).alias("shard"),
    )
    write_container_shards(
        docs6, out, "warc", n_shards=6, shard_col="shard"
    ).collect()
    conf = spark.conf
    old_mpb = conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = conf.get("spark.sql.files.openCostInBytes")
    try:
        # model "every file is big": forbid bin-packing entirely
        conf.set("spark.sql.files.maxPartitionBytes", "1")
        conf.set("spark.sql.files.openCostInBytes", "0")
        recs = read_container_records(spark, out, "warc")
        assert recs.rdd.getNumPartitions() == 6
        plan = recs._jdf.queryExecution().executedPlan().toString()
        assert "binaryFile" in plan, plan
        assert "Exchange" not in plan, plan  # parse rides the scan task
        assert recs.count() == 24 + 6  # 4 responses + warcinfo per shard
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_writer_shards_need_no_docs_on_driver(spark, tmp_path):
    """The fixture/sink writer is itself distributed: one applyInPandas
    task per shard, no collect of the corpus."""
    out = str(tmp_path / "sink")
    df = write_container_shards(
        _docs(spark, 9), out, "zip", n_shards=3, shard_col="shard"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CollectLimit" not in plan, plan
    rows = df.collect()
    assert {r["shard"] for r in rows} == {0, 1, 2}
    assert sum(r["n_records"] for r in rows) == 9


def test_unsupported_format_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported container format"):
        read_container_records(spark, str(tmp_path), "rar")
    with pytest.raises(ValueError, match="unsupported container format"):
        write_container_shards(_docs(spark, 1), str(tmp_path), "7z", n_shards=1)


def test_streaming_records_match_batch(spark, tmp_path):
    """stream_container_records must emit exactly the batch reader's
    rows (same parser, file-source checkpointed progress), one shard
    per micro-batch under maxFilesPerTrigger=1."""
    from hainan_big_data_recommend_system_spark.sources.files import (
        stream_container_records,
    )

    out = str(tmp_path / "warcs")
    write_container_shards(
        _docs(spark, 12), out, "warc", n_shards=3, shard_col="shard"
    ).collect()
    batch = {
        (r["file_path"], r["record_index"], r["name"])
        for r in read_container_records(spark, out, "warc").collect()
    }
    stream = stream_container_records(
        spark, out, "warc", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("container_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["file_path"], r["record_index"], r["name"])
        for r in spark.sql("SELECT * FROM container_stream_out").collect()
    }
    assert got == batch and len(got) == 12 + 3  # responses + warcinfo


def test_avro_shard_quarantine_and_deflate_layout(spark, tmp_path):
    out = str(tmp_path / "avro")
    write_container_shards(
        _docs(spark, 9).withColumn("shard", F.col("shard") % 2),
        out, "avro", n_shards=2, shard_col="shard",
    ).collect()
    files = sorted(os.listdir(out))
    assert files == ["shard-00000.avro", "shard-00001.avro"]
    # odd shards are deflate-coded (mirrors the warc gzip layout): the
    # codec name sits in the container metadata map
    with open(f"{out}/{files[1]}", "rb") as fh:
        assert b"deflate" in fh.read(300)
    with open(f"{out}/{files[0]}", "rb") as fh:
        assert b"deflate" not in fh.read(300)
    with open(f"{out}/broken.avro", "wb") as fh:
        fh.write(b"Obj\x01 but then garbage \x00\xff" * 3)
    recs = read_container_records(spark, out, "avro").collect()
    errs = [r for r in recs if r["error"] is not None]
    assert len(errs) == 1 and errs[0]["file_path"].endswith("broken.avro")
    good = [r for r in recs if r["error"] is None]
    assert {r["name"] for r in good} == {
        f"doc-{i:04d}.txt" for i in range(9)
    }


def test_parquet_container_front_door(spark, tmp_path):
    """fmt="parquet" (round 8): Spark-written and pyarrow-written
    corpus files explode through the same binaryFile→mapInPandas path,
    rows decoded by the HAND parquet reader; wrong-schema and garbage
    files quarantine per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.sources.files import (
        read_container_records,
    )

    lake = tmp_path / "lake"
    lake.mkdir()
    # spark-written (snappy v1), under a partition-style subdir
    spark.createDataFrame(
        [(f"doc-{i:08d}", f"text body {i}") for i in range(20)],
        "name string, body string",
    ).coalesce(1).sortWithinPartitions("name").write.parquet(
        str(lake / "spark-shard=0")
    )
    # pyarrow-written, zstd v2 DELTA_BYTE_ARRAY
    pq.write_table(
        pa.table({"name": pa.array([f"doc-{i:08d}" for i in range(20, 30)]),
                  "body": pa.array([f"text body {i}" for i in range(20, 30)])}),
        str(lake / "pa-shard-00001.parquet"),
        compression="zstd", use_dictionary=False, data_page_version="2.0",
        column_encoding={"name": "DELTA_BYTE_ARRAY",
                         "body": "DELTA_BYTE_ARRAY"},
    )
    # wrong schema -> quarantine (valid parquet, missing name/body)
    pq.write_table(
        pa.table({"x": pa.array([1, 2, 3], pa.int64())}),
        str(lake / "wrong-00002.parquet"),
    )
    (lake / "broken-00003.parquet").write_bytes(b"garbage" * 50)
    recs = read_container_records(
        spark, str(lake), "parquet", glob="*.parquet", recursive=True
    )
    rows = recs.collect()
    good = [r for r in rows if r["error"] is None]
    bad = [r for r in rows if r["error"] is not None]
    assert len(good) == 30
    assert sorted(r["name"] for r in good) == [
        f"doc-{i:08d}" for i in range(30)
    ]
    assert {bytes(r["body"]).decode() for r in good} == {
        f"text body {i}" for i in range(30)
    }
    assert len(bad) == 2
    errs = {r["file_path"].rsplit("/", 1)[-1]: r["error"] for r in bad}
    assert "name and body" in errs["wrong-00002.parquet"]
    assert "bad magic" in errs["broken-00003.parquet"]
    # one-task-per-file: no exchange in the plan
    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_streaming_parquet_records_match_batch(spark, tmp_path):
    """fmt="parquet" through the STREAMING front door: files landing in
    a watched directory explode through the same per-file parser, and
    the accumulated stream equals the batch read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hainan_big_data_recommend_system_spark.sources.files import (
        read_container_records,
        stream_container_records,
    )

    lake = tmp_path / "stream_lake"
    lake.mkdir()

    def write_shard(i):
        pq.write_table(
            pa.table({
                "name": pa.array([f"doc-{i}-{j}" for j in range(5)]),
                "body": pa.array([f"body {i} {j}" for j in range(5)]),
            }),
            str(lake / f"s{i:03d}.parquet"),
            compression="zstd",
        )

    write_shard(0)
    stream = stream_container_records(
        spark, str(lake), "parquet", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pq_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_shard(1)  # a new shard lands mid-stream
        q.processAllAvailable()
        got = {
            (r["name"], bytes(r["body"]).decode())
            for r in spark.sql("SELECT * FROM pq_stream").collect()
        }
    finally:
        q.stop()
        spark.catalog.dropTempView("pq_stream")
    want = {
        (r["name"], bytes(r["body"]).decode())
        for r in read_container_records(
            spark, str(lake), "parquet"
        ).collect()
    }
    assert got == want and len(got) == 10


def test_tar_outer_compression_variants(spark, tmp_path):
    """.tar.gz / .tar.zst / .tar.bz2 shards explode like plain tar —
    whole-file compression is sniffed and undone before the member
    walk (zstd through the repo's own decoder)."""
    import bz2
    import gzip

    import pyarrow as pa

    from hainan_big_data_recommend_system_spark.sources.archives import (
        make_tar,
    )
    from hainan_big_data_recommend_system_spark.sources.files import (
        read_container_records,
    )

    d = tmp_path / "tars"
    d.mkdir()
    members = [(f"m{i}.txt", f"content {i}".encode() * 3) for i in range(6)]
    tar = make_tar(members)
    (d / "a.tar").write_bytes(tar)
    (d / "b.tar.gz").write_bytes(gzip.compress(tar))
    (d / "c.tar.zst").write_bytes(
        pa.Codec("zstd").compress(tar, asbytes=True)
    )
    (d / "d.tar.bz2").write_bytes(bz2.compress(tar))
    rows = read_container_records(spark, str(d), "tar", glob="*.tar*").collect()
    good = [r for r in rows if r["error"] is None]
    assert len(good) == 4 * 6
    assert {bytes(r["body"]) for r in good} == {b for _, b in members}
    # a corrupt compressed shard still quarantines per file
    (d / "e.tar.zst").write_bytes(b"\x28\xb5\x2f\xfdgarbage")
    rows = read_container_records(spark, str(d), "tar", glob="*.tar*").collect()
    bad = [r for r in rows if r["error"] is not None]
    assert len(bad) == 1 and "zstd" in bad[0]["error"]
