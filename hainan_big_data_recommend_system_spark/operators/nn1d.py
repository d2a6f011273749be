"""Exact 1-D k-nearest-neighbors per group — the linear-shuffle replacement
for the all-pairs "top-k most similar within block" window.

The reference's user-similarity stage (`guessLike_u_like.py:114-117`) ranks
candidates by a similarity that is MONOTONE in a scalar distance (here
|Δ acctbal|; there, cosine — see note below).  For scalar distances the
all-pairs formulation (|block|² rows, then a window) is wasteful: the k
nearest values to any point lie within a bounded POSITION band of it in
sort order.  Plan:

1. per group, sort by (value, id) and assign dense positions —
   one Exchange on the group key;
2. band-join positions with half-width ``K = (k-1) + T``, where ``T`` is
   the (computed, not guessed) max multiplicity of any single value in the
   group: elements strictly closer than the k-th distance number ≤ k−1 and
   are position-contiguous, and boundary TIES extend at most T positions
   past them — so every true top-k candidate is within ±K positions.
   The band join reuses the bucket trick (`rangejoin.py`): bucket =
   pos div (K+1), replicate one side ×3, exact |Δpos| ≤ K filter;
3. rank the ≤ 2K+1 candidates per query by (distance, id) and keep k.

Shuffle volume: O(n) rows replicated ×3 — versus O(Σ block²) for the
all-pairs window.  At 100× the data the all-pairs plan grows 10,000× per
block; this grows 100×.  Exactness holds for ANY value distribution
because T is measured per run (a degenerate all-equal group makes
K = k−1+n — correctly degrading to all-pairs for that group only).

This covers the 1-D case.  The reference's actual cosine similarity is
multi-dimensional — there the same "shrink the candidate set" role is
played by LSH / IVF blocking (`operators/ann.py`); this operator is the
exact counterpart when the ranking key is scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def nearest_neighbors_1d(
    df: DataFrame,
    group_col: str,
    id_col: str,
    val_col: str,
    k: int,
    query_filter=None,
) -> DataFrame:
    """For each row (optionally restricted by ``query_filter`` on the query
    side), the ``k`` nearest OTHER rows in its group by |Δ``val_col``|,
    ties broken by ascending neighbor id.

    Returns (group, id, neighbor_id, dist, rank) — exact, deterministic.
    """
    w_pos = Window.partitionBy("__g").orderBy("__v", "__id")
    # positions feed the tie-width aggregate AND both sides of the band
    # join; exchange reuse shares the one shuffle on the group key between
    # them, so building this plan launches no job
    pos = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        F.col(val_col).alias("__v"),
    ).withColumn("__pos", F.row_number().over(w_pos))

    # T = max multiplicity of a single value per group → exact band width
    ties = (
        pos.groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__g")
        .agg(F.max("__c").alias("__T"))
    )
    banded = pos.join(F.broadcast(ties), "__g").withColumn(
        "__K", F.lit(k - 1) + F.col("__T")
    )

    a = banded.select(
        "__g",
        F.col("__id").alias("a_id"),
        F.col("__v").alias("a_v"),
        F.col("__pos").alias("a_pos"),
        "__K",
        (F.col("__pos") / (F.col("__K") + 1)).cast("bigint").alias("__bucket"),
    )
    if query_filter is not None:
        a = a.filter(query_filter)
    b = banded.select(
        "__g",
        F.col("__id").alias("b_id"),
        F.col("__v").alias("b_v"),
        F.col("__pos").alias("b_pos"),
        F.explode(
            F.array(
                (F.col("__pos") / (F.col("__K") + 1)).cast("bigint") - 1,
                (F.col("__pos") / (F.col("__K") + 1)).cast("bigint"),
                (F.col("__pos") / (F.col("__K") + 1)).cast("bigint") + 1,
            )
        ).alias("__bucket"),
    )

    cand = (
        a.join(b, ["__g", "__bucket"])
        .filter(
            (F.col("a_id") != F.col("b_id"))
            & (F.abs(F.col("a_pos") - F.col("b_pos")) <= F.col("__K"))
        )
        .withColumn("dist", F.abs(F.col("a_v") - F.col("b_v")))
    )
    w_rank = Window.partitionBy("__g", "a_id").orderBy(
        F.asc("dist"), F.asc("b_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__g").alias(group_col),
            F.col("a_id").alias(id_col),
            F.col("b_id").alias("neighbor_id"),
            "dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )
