"""The recommender: batch assembly and online per-event serving
(SURVEY.md §2.9 M8§, §3.2, T1–T4).

**M8§ assembly** (``reco_assembly``) is the reference's
``recommend_User_Book`` (`guessLike_u_like.py:106-129`) composed
end-to-end on the TPC-H analogs (FIXTURES.md §B: customer ≈ user,
part ≈ book, orders⋈lineitem ≈ collections):

similar users (top-40 by proximity within segment ≈ within-cluster top-10%)
→ rank-discounted score fold over their collections (A8)
→ anti-filter own collection (P9) and the hot list (P8)
→ top-10 per user (O2).

It is fully SQL-expressible, so ``qcatalog.reco`` registers it with a
DuckDB oracle.  The nightly batch runs it over all users
(`log_analyze.py`); the online path below collects it once at startup.

The reference rebuilds nothing per event — it probes state built once at
startup (`guessLike_u_like.py:165-175`) plus one fresh OLTP lookup
(`:189-204`), then writes two Redis keys with a canned fallback on failure
(`:207-213`).  Spark shape:

- **T2 static state**: the batch plans run once at startup and their
  result is collected into a driver-side ``uid → ids_csv`` payload map
  (~1 MB at sf0.1 user counts).  Each micro-batch is a dict probe, so a
  trigger runs one Spark job: the collect of its user ids.  Refresh =
  rebuild the state (rerun the batch plan) and restart the query.
- **T3 fresh lookup**: not modelled — the served value depends only on
  the startup state, so an event cannot change it yet.
- **T4 fallback**: users with no personalized recs get the hot list —
  applied when the map is built and on a map miss, not a bare ``except``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.text import ids_csv
from ..operators.hot import hot_items
from ..operators.nn1d import nearest_neighbors_1d
from ..operators.scoring import rank_discounted_score
from ..operators.topk import topk_per_group

#: the S12 sink payload rows ``recommend_batch`` returns
_KV_SCHEMA = pa.schema([("kv_key", pa.string()), ("ids_csv", pa.string())])


def reco_assembly(
    spark: SparkSession,
    sf_dir: str,
    uid_mod: int | None = None,
    hot: DataFrame | None = None,
) -> DataFrame:
    """M8§ assembly; ``uid_mod`` restricts the query-user subset (None → all
    users, the `log_analyze.py` nightly-batch shape).  ``hot`` is a local
    ``(pid)`` frame of the hot-30 list when the caller has already
    collected it (the serving state needs it as its fallback payload);
    None computes it in-plan."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )

    # the collection set feeds the contribs join AND the own-collection
    # anti-filter; exchange reuse runs its orders⋈lineitem shuffle once
    # for both, so building this plan launches no job
    colls = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("uid"), F.col("l_partkey").alias("pid"))
        .distinct()
    )
    if hot is None:
        hot = hot_items(li, "l_partkey", n=30).select(
            F.col("l_partkey").alias("pid")
        )

    # top-40 most-similar users per query user.  sim is monotone in
    # |Δ acctbal|, so this is exact 1-D kNN — the banded operator replaces
    # the all-pairs-within-segment window (O(Σ segment²) rows) with an
    # O(n) sort + position band join; the oracle SQL registered in
    # qcatalog.reco still computes the all-pairs formulation, proving the
    # substitution row-exact.
    knn = nearest_neighbors_1d(
        cust,
        group_col="c_mktsegment",
        id_col="c_custkey",
        val_col="c_acctbal",
        k=40,
        query_filter=(
            None if uid_mod is None else F.col("a_id") % uid_mod == 0
        ),
    )
    sim_users = knn.select(
        F.col("c_custkey").alias("uid"),
        F.col("neighbor_id").alias("vid"),
        (1.0 / (1.0 + F.col("dist") / 1000.0)).alias("sim"),
        F.col("rank").alias("urank"),
    )

    contribs = sim_users.join(
        colls.withColumnRenamed("uid", "vid"), "vid", "inner"
    ).select("uid", "pid", "sim", "urank")
    scores = rank_discounted_score(
        contribs,
        ["uid", "pid"],
        "sim",
        [F.asc("urank")],
        score_col="score_micros",
        int_scale=1_000_000,
    )

    not_own = scores.join(colls, ["uid", "pid"], "left_anti")
    not_hot = not_own.join(F.broadcast(hot), "pid", "left_anti")
    out = topk_per_group(
        not_hot,
        ["uid"],
        [F.desc("score_micros"), F.asc("pid")],
        k=10,
        rank_col="rk",
    )
    return out.select("uid", "pid", "score_micros", F.col("rk").cast("long").alias("rk"))


@dataclass
class StaticState:
    """T2: startup-built model state."""

    user_recs: DataFrame  # (uid, rec_ids array<bigint>), the payloads' source
    hot_csv: str  # fallback payload (T4)
    payloads: dict[int, str]  # uid → ids_csv, hot fallback already applied


def build_static_state(spark: SparkSession, sf_dir: str) -> StaticState:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    # one hot-30 aggregate serves both the CSV fallback payload and
    # reco_assembly's anti-filter: collected once, handed over as a local frame
    hot = hot_items(li, "l_partkey", n=30).select(F.col("l_partkey").alias("pid")).toArrow()
    hot_csv = ",".join(str(i) for i in hot["pid"].to_pylist())

    recs = (
        reco_assembly(spark, sf_dir, uid_mod=None, hot=spark.createDataFrame(hot))
        .groupBy("uid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rk", "pid"))),
                lambda s: s["pid"],
            ).alias("rec_ids")
        )
    )
    # collected once; an empty CSV falls back to the hot list, like a
    # missing user
    payloads = {
        r["uid"]: r["ids_csv"] or hot_csv
        for r in recs.select("uid", ids_csv(F.col("rec_ids")).alias("ids_csv")).collect()
    }
    return StaticState(user_recs=recs, hot_csv=hot_csv, payloads=payloads)


def recommend_batch(batch_df: DataFrame, state: StaticState) -> DataFrame:
    """T1: the ``foreachBatch`` step.  Runs the batch's one Spark job when
    called — the collect of its ``user_id``s, which also evaluates the
    batch's parse filters — then probes the payload map for each distinct
    user, with the hot list for misses (T4).

    Returns (kv_key, ids_csv) rows, the S12 sink payload
    (`'b_like:%s' % uid`, `guessLike_u_like.py:212`), as a local relation:
    collecting it runs no further job.
    """
    uids = dict.fromkeys(r["user_id"] for r in batch_df.select("user_id").collect())
    # a pyarrow table, not a pandas frame: an empty pandas frame skips
    # Arrow and becomes an RDD whose collect starts a Python worker
    rows = pa.Table.from_pydict(
        {
            "kv_key": [f"b_like:{u}" for u in uids],
            "ids_csv": [state.payloads.get(u, state.hot_csv) for u in uids],
        },
        schema=_KV_SCHEMA,
    )
    return batch_df.sparkSession.createDataFrame(rows)
