"""Delta table SINK (sources/delta_sink.py): transactional commits,
append/overwrite semantics, put-if-absent version claims, checkpoint
cadence, and read-back through the same log resolution the table-read
queries use."""

from __future__ import annotations

import json
import os

import pytest

from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    read_log_commits,
    snapshot,
    write_delta,
)


def _read_live(spark, table_dir):
    snap = snapshot(table_dir)
    paths = [os.path.join(table_dir, p) for p in sorted(snap["live"])]
    if not paths:
        return []
    return sorted(
        (r["k"], r["v"])
        for r in spark.read.parquet(*paths).collect()
    )


def test_append_append_overwrite(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    df3 = spark.createDataFrame([(9, "z")], "k long, v string")
    r1 = write_delta(df1.coalesce(1), t)
    r2 = write_delta(df2.coalesce(1), t)
    assert (r1["version"], r2["version"]) == (0, 1)
    assert r1["n_records"] == 2 and r2["n_records"] == 1
    assert _read_live(spark, t) == [(1, "a"), (2, "b"), (3, "c")]
    r3 = write_delta(df3.coalesce(1), t, mode="overwrite")
    assert r3["version"] == 2 and r3["n_removed"] == 2
    assert _read_live(spark, t) == [(9, "z")]
    # removed files still EXIST on disk (not yet vacuumed) — the log,
    # not the directory, is the source of truth
    snap = snapshot(t)
    on_disk = {f for f in os.listdir(t) if f.endswith(".parquet")}
    assert set(snap["live"]) < on_disk
    # time travel: version 1 still sees the pre-overwrite rows
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        replay_delta_log,
    )

    tt = replay_delta_log(read_log_commits(t)[:2])
    assert tt["live_rows"] == 3


def test_schema_string_is_real_spark_schema(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    write_delta(df.coalesce(1), t)
    snap = snapshot(t)
    schema = json.loads(snap["schema_json"])
    assert [f["name"] for f in schema["fields"]] == ["k", "v"]
    # numRecords in the log came from the HAND footer reader
    assert snap["live_rows"] == 1


def test_put_if_absent_conflict_retries(spark, tmp_path):
    t = str(tmp_path / "tbl3")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    write_delta(df.coalesce(1), t)
    # simulate a rival writer claiming version 1 between the read and
    # the claim: pre-create the commit file the sink will want
    rival = os.path.join(t, "_delta_log", f"{1:020d}.json")
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        make_commit,
    )

    with open(rival, "w") as fh:
        fh.write(make_commit(
            [{"add": {"path": "rival.parquet", "size": 1,
                      "numRecords": 0, "dataChange": True}}]
        ))
    r = write_delta(df.coalesce(1), t)
    # the sink lost version 1 and retried onto version 2
    assert r["version"] == 2
    snap = snapshot(t)
    assert "rival.parquet" in snap["live"]


def test_checkpoint_cadence_and_fast_path(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        replay_delta_log,
        replay_from_checkpoint,
    )

    t = str(tmp_path / "tbl4")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for _ in range(5):
        write_delta(df.coalesce(1), t, checkpoint_interval=5)
    ld = os.path.join(t, "_delta_log")
    assert os.path.exists(os.path.join(ld, f"{4:020d}.checkpoint.parquet"))
    lc = open(os.path.join(ld, "_last_checkpoint")).read()
    ck = open(
        os.path.join(ld, f"{4:020d}.checkpoint.parquet"), "rb"
    ).read()
    commits = read_log_commits(t)
    full = replay_delta_log(commits)
    fast = replay_from_checkpoint(lc, ck, commits[5:])
    for k in ("live", "live_rows", "schema_json"):
        assert fast[k] == full[k]


def test_version_gap_rejected(tmp_path):
    t = str(tmp_path / "tbl5")
    ld = os.path.join(t, "_delta_log")
    os.makedirs(ld)
    for v in (0, 2):
        with open(os.path.join(ld, f"{v:020d}.json"), "w") as fh:
            fh.write('{"add": {"path": "x", "size": 1, "numRecords": 1}}')
    with pytest.raises(ValueError, match="gap"):
        read_log_commits(t)


# ---------------------------------------------------------------------------
# OPTIMIZE — dataChange:false compaction (round 10)
# ---------------------------------------------------------------------------

def test_optimize_compacts_without_changing_rows(spark, tmp_path):
    import json as _json

    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        optimize_delta,
        read_log_commits,
        snapshot,
        write_delta,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 900).selectExpr("id", "id * 2 AS v")
    for k in range(6):  # six tiny single-file commits
        write_delta(
            df.where(f"id >= {k * 150} AND id < {(k + 1) * 150}")
            .coalesce(1),
            tbl,
        )
    before = snapshot(tbl)
    rows_before = sorted(
        (r.id, r.v)
        for r in spark.read.parquet(
            *[os.path.join(tbl, p) for p in before["live"]]
        ).collect()
    )
    res = optimize_delta(spark, tbl, target_partitions=2)
    assert res["version"] == 6 and res["n_compacted"] == 6
    after = snapshot(tbl)
    assert after["n_live"] == 2
    assert after["live_rows"] == before["live_rows"] == 900
    rows_after = sorted(
        (r.id, r.v)
        for r in spark.read.parquet(
            *[os.path.join(tbl, p) for p in after["live"]]
        ).collect()
    )
    assert rows_after == rows_before
    # every OPTIMIZE action is dataChange:false
    last = read_log_commits(tbl)[-1]
    for ln in last.splitlines():
        obj = _json.loads(ln)
        ((kind, body),) = obj.items()
        if kind in ("add", "remove"):
            assert body["dataChange"] is False
    # rewritten files carry fresh stats → skipping still works
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        prune_live_files,
        replay_delta_log,
    )

    snap = replay_delta_log(read_log_commits(tbl))
    assert len(snap["file_stats"]) == 2
    pr = prune_live_files(snap, "id", lo=0, hi=0)
    assert pr["n_no_stats"] == 0
    # time travel to the pre-OPTIMIZE version still sees 6 files
    v5 = replay_delta_log(read_log_commits(tbl)[:6])
    assert v5["n_live"] == 6 and v5["live_rows"] == 900


def test_optimize_noop_when_nothing_small(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        optimize_delta,
        write_delta,
    )

    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(10).selectExpr("id"), tbl)
    res = optimize_delta(spark, tbl, small_file_bytes=1)
    assert res == {"version": None, "n_compacted": 0, "n_files": 0,
                   "n_records": 0, "n_dv_rows_dropped": 0}


def test_optimize_conflict_on_concurrent_remove(spark, tmp_path):
    """A concurrent overwrite removes a source file between the
    rewrite and the claim → the compaction must abort, not resurrect
    dead rows."""
    from hainan_big_data_recommend_system_spark.sources import delta_sink
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        optimize_delta,
        write_delta,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 300).selectExpr("id")
    for k in range(3):
        write_delta(
            df.where(f"id >= {k * 100} AND id < {(k + 1) * 100}")
            .coalesce(1),
            tbl,
        )

    real_stage = delta_sink._stage_data_files
    raced = []

    def stage_then_race(d, t, tok, **kw):
        adds = real_stage(d, t, tok, **kw)
        if not raced:  # fire once (the racer itself stages files too)
            raced.append(True)
            # another writer overwrites the table before our claim
            write_delta(spark.range(5).selectExpr("id"), tbl,
                        mode="overwrite")
        return adds

    delta_sink._stage_data_files = stage_then_race
    try:
        with pytest.raises(ValueError, match="optimize conflict"):
            optimize_delta(spark, tbl)
    finally:
        delta_sink._stage_data_files = real_stage


# ---------------------------------------------------------------------------
# txn idempotence (round 10)
# ---------------------------------------------------------------------------

def test_txn_makes_commits_idempotent(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        snapshot,
        write_delta,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 50).selectExpr("id").coalesce(1)
    r1 = write_delta(df, tbl, txn=("app-1", 0))
    assert r1["version"] == 0
    # redelivery of the same epoch: no-op, no rows doubled
    r2 = write_delta(df, tbl, txn=("app-1", 0))
    assert r2 == {"version": None, "skipped": True, "n_files": 0,
                  "n_records": 0, "n_removed": 0}
    snap = snapshot(tbl)
    assert snap["live_rows"] == 50
    assert snap["app_versions"] == {"app-1": 0}
    # an OLDER epoch than the watermark is also skipped
    r3 = write_delta(df, tbl, txn=("app-1", -5))
    assert r3["skipped"] is True
    # the next epoch commits; another app has its own watermark
    r4 = write_delta(df, tbl, txn=("app-1", 1))
    assert r4["version"] == 1
    r5 = write_delta(df, tbl, txn=("app-2", 0))
    assert r5["version"] == 2
    snap = snapshot(tbl)
    assert snap["app_versions"] == {"app-1": 1, "app-2": 0}
    assert snap["live_rows"] == 150
    # no orphaned data files from the skipped writes
    n_parquet = sum(
        1 for f in os.listdir(tbl) if f.endswith(".parquet")
    )
    assert n_parquet == snap["n_live"] == 3


def test_txn_watermark_survives_checkpoint(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        make_checkpoint_parquet,
        make_last_checkpoint,
        replay_from_checkpoint,
    )
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        read_log_commits,
        snapshot,
        write_delta,
    )

    tbl = str(tmp_path / "tbl")
    for ep in range(4):
        write_delta(
            spark.range(ep * 10, ep * 10 + 10).selectExpr("id"),
            tbl, txn=("s", ep),
        )
    full = snapshot(tbl)
    ck = make_checkpoint_parquet(full)
    got = replay_from_checkpoint(
        make_last_checkpoint(3, len(ck)), ck, []
    )
    assert got["app_versions"] == full["app_versions"] == {"s": 3}


def test_empty_batch_appends_are_noops(spark, tmp_path):
    """An empty micro-batch (streaming delivers them) must not burn a
    version or land a 0-row file in either format."""
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        merge_delta,
    )
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        merge_iceberg,
        read_table,
        write_iceberg,
    )

    empty = spark.range(0).selectExpr("id", "id AS v")
    tbl = str(tmp_path / "d")
    write_delta(spark.range(3).selectExpr("id", "id AS v").coalesce(1),
                tbl)
    assert write_delta(empty, tbl)["version"] is None
    assert merge_delta(spark, empty, tbl, ["id"])["version"] is None
    assert snapshot(tbl)["version"] == 0
    assert snapshot(tbl)["live_rows"] == 3

    itbl = str(tmp_path / "i")
    write_iceberg(spark.range(3).selectExpr("id", "id AS v").coalesce(1),
                  itbl)
    assert write_iceberg(empty, itbl)["version"] is None
    assert merge_iceberg(spark, empty, itbl, ["id"])["version"] is None
    snap = read_table(itbl)
    assert snap["snapshot_id"] == 1 and snap["live_rows"] == 3
    # overwrite with an empty frame is a legitimate TRUNCATE
    assert write_delta(empty, tbl, mode="overwrite")["n_removed"] == 1
    assert snapshot(tbl)["live_rows"] == 0
