"""Streaming-execution tests (SURVEY.md §2.10 T1–T6): events parse and
dispatch under readStream, and the foreachBatch KV path must serve recs
with hot fallback."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.catalog import load_table
from hainan_big_data_recommend_system_spark.qcatalog import REGISTRY
from hainan_big_data_recommend_system_spark.streaming.events import (
    EVENT_SCHEMA,
    dispatch_channels,
    parse_events,
    read_event_stream,
)
from hainan_big_data_recommend_system_spark.streaming.recommend import (
    build_static_state,
    recommend_batch,
)
from hainan_big_data_recommend_system_spark.streaming.sinks import (
    memory_kv_writer,
    start_kv_query,
)
from tests.oracle_utils import duck_con


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """Re-write events as a 4-file parquet dir → 4 micro-batches with
    maxFilesPerTrigger=1."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def static_state(spark, sf_dir):
    return build_static_state(spark, sf_dir)


@pytest.fixture(scope="module")
def oracle_payloads(sf_dir):
    """(uid → recs CSV in rank order, hot-list CSV) for every user: the
    ``reco_assembly`` oracle SQL replayed in DuckDB with its
    ``uid % 10`` query-user filter removed."""
    user_filter = "WHERE a.c_custkey % 10 = 0"
    sql = REGISTRY["reco_assembly"].oracle
    assert user_filter in sql
    con = duck_con(sf_dir)
    try:
        recs = con.execute(
            "SELECT uid, string_agg(CAST(pid AS VARCHAR), ',' ORDER BY rk) "
            f"FROM ({sql.replace(user_filter, '')}) GROUP BY uid"
        ).fetchall()
        (hot,) = con.execute(
            "SELECT string_agg(CAST(l_partkey AS VARCHAR), ',' "
            "ORDER BY cnt DESC, l_partkey) FROM ("
            "SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1 "
            "ORDER BY cnt DESC, l_partkey LIMIT 30)"
        ).fetchone()
    finally:
        con.close()
    return {int(u): csv for u, csv in recs}, hot


def _assert_oracle_payloads(store, oracle_payloads):
    recs, hot = oracle_payloads
    for key, value in store.items():
        assert value == recs.get(int(key.split(":")[1]), hot), key


def test_parse_and_dispatch_streaming(spark, stream_dir, tmp_path):
    stream = dispatch_channels(parse_events(read_event_stream(spark, stream_dir)))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("parsed_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM parsed_out").collect()
    assert len(rows) > 0
    assert all(r["user_id"] > 0 for r in rows)
    assert all(r["k_val"] is not None for r in rows)  # payload parsed (S10)
    chans = {r["channel"] for r in rows}
    assert chans <= {"u_like", "u_nlike", "u_first_select"}  # T5 dispatch
    assert "u_first_select" in chans


def test_foreach_batch_kv_with_fallback(
    spark, stream_dir, static_state, oracle_payloads, tmp_path
):
    store: dict[str, str] = {}
    writer = memory_kv_writer(store)

    stream = parse_events(read_event_stream(spark, stream_dir, max_files=2))

    def per_batch(batch_df, epoch_id):
        writer(recommend_batch(batch_df, static_state), epoch_id)

    q = start_kv_query(stream, per_batch, str(tmp_path / "ckpt3"))
    q.awaitTermination(180)

    assert len(store) > 0
    assert all(k.startswith("b_like:") for k in store)
    # T4: every user got a payload — its oracle recs, or the hot list
    assert static_state.hot_csv == oracle_payloads[1]
    _assert_oracle_payloads(store, oracle_payloads)


def test_recommend_batch_runs_one_job(
    spark, stream_dir, static_state, oracle_payloads, count_jobs
):
    """One micro-batch = one Spark job (the collect of its user ids):
    recommend_batch probes the startup payload map and hands the KV writer
    a local relation, so the writer's collect runs nothing."""
    recs, hot = oracle_payloads
    absent, garbage = 10**9, 10**9 + 1
    assert absent not in recs
    extra = spark.createDataFrame(
        [
            (10**6, None, absent, "click", 1.0, '{"k": 1}'),
            (10**6 + 1, None, absent, "view", 1.0, None),  # duplicate user
            # a payload from_json cannot parse: a garbage frame
            (10**6 + 2, None, garbage, "click", 1.0, ""),
        ],
        EVENT_SCHEMA,
    )
    batch = parse_events(
        spark.read.schema(EVENT_SCHEMA).parquet(stream_dir).unionByName(extra)
    )
    uids = [r["user_id"] for r in batch.select("user_id").collect()]
    assert len(uids) > len(set(uids))  # the batch repeats users

    store: dict[str, str] = {}
    writer = memory_kv_writer(store)
    _, jobs = count_jobs(lambda: writer(recommend_batch(batch, static_state), 0))
    assert jobs == 1
    assert set(store) == {f"b_like:{u}" for u in uids}
    assert f"b_like:{garbage}" not in store
    assert store[f"b_like:{absent}"] == hot
    assert any(v != hot for v in store.values())  # some users are personalized
    _assert_oracle_payloads(store, oracle_payloads)

    served = dict(store)
    writer(recommend_batch(batch.filter(F.lit(False)), static_state), 1)
    assert store == served


def test_checkpoint_commits_fork_no_readlink(spark, tmp_path):
    """Committing a trigger's offset, commit and source logs starts no
    ``readlink`` process in the driver JVM.  Spark's default FileContext
    checkpoint manager forks one per link-status lookup on the local
    filesystem (80 over these 3 triggers); session.get_spark selects the
    FileSystem-based manager, which forks none.  Counted with an
    in-process JFR recording of ``jdk.ProcessStart`` only."""
    src = str(tmp_path / "kv_src")
    keys = [f"b_like:{i}" for i in range(3)]
    for i, key in enumerate(keys):
        spark.createDataFrame(
            [(key, str(i))], "kv_key string, ids_csv string"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("kv_key string, ids_csv string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        store: dict[str, str] = {}
        q = start_kv_query(
            stream, memory_kv_writer(store), str(tmp_path / "ckpt_forks"),
            available_now=True,
        )
        q.awaitTermination(180)
        # positive control: a fork the recording must see
        jvm.java.lang.Runtime.getRuntime().exec("true").waitFor()
        rec.stop()
        dump = jvm.java.io.File(str(tmp_path / "forks.jfr")).toPath()
        rec.dump(dump)
    finally:
        rec.close()
    cmds = [
        e.getString("command")
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]

    assert "true" in cmds
    assert len(q.recentProgress) >= 3
    assert [c for c in cmds if c.split()[0] == "readlink"] == []
    assert store == {key: str(i) for i, key in enumerate(keys)}


def test_asof_null_right_ts_matches_nothing(spark):
    """Code-review r4: a NULL right_ts sorts first under Spark ASC and was
    carried as a spurious earliest match; it must match nothing."""
    from hainan_big_data_recommend_system_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user_id long, click_ts string"
    ).select("user_id", F.col("click_ts").cast("timestamp").alias("click_ts"))
    right = spark.createDataFrame(
        [(1, None, 7.0)], "user_id long, ts string, value double"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    out = asof_join(
        left, right, on="user_id", left_ts="click_ts", right_ts="ts",
        right_payload=["value"],
    ).collect()
    assert len(out) == 1
    assert out[0]["ts_r"] is None and out[0]["value_r"] is None


def test_interval_join_rejects_zero_tolerance(spark):
    from hainan_big_data_recommend_system_spark.operators.rangejoin import (
        interval_join,
    )

    df = spark.range(1).select(
        F.col("id").alias("user_id"), F.current_timestamp().alias("ts")
    )
    with pytest.raises(ValueError, match="tolerance"):
        interval_join(df, df, on="user_id", left_ts="ts", right_ts="ts",
                      tolerance_s=0)
