"""Online per-event recommendation (SURVEY.md §3.2, T1–T4).

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
from ..qcatalog.reco import reco_assembly

#: the S12 sink payload rows ``recommend_batch`` returns
_KV_SCHEMA = pa.schema([("kv_key", pa.string()), ("ids_csv", pa.string())])


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
