"""Recommendation queries (SURVEY.md §3.2–3.3).

``reco_assembly`` registers the recommender of ``streaming.recommend``
(M8§ assembly) with its oracle SQL, which computes the all-pairs
formulation.  The query side restricts to ``uid % 10 = 0`` (the "active
users this batch" subset — the same bounding the reference gets from
computing one user per event).

Plus ALS collaborative filtering (rows-only) — the idiomatic-Spark upgrade
of the reference's similarity heuristic (BASELINE.json north_star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..streaming.recommend import reco_assembly
from . import register, register_extra


@register(
    "reco_assembly",
    """
    WITH colls AS (
        SELECT DISTINCT o.o_custkey AS uid, l.l_partkey AS pid
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    hot AS (
        SELECT l_partkey AS pid FROM (
            SELECT l_partkey, count(*) AS cnt FROM lineitem
            GROUP BY l_partkey ORDER BY cnt DESC, l_partkey LIMIT 30
        )
    ),
    sim_users AS (
        SELECT uid, vid, sim, urank FROM (
            SELECT a.c_custkey AS uid, b.c_custkey AS vid,
                   1.0 / (1.0 + abs(a.c_acctbal - b.c_acctbal) / 1000.0) AS sim,
                   row_number() OVER (
                       PARTITION BY a.c_custkey
                       ORDER BY abs(a.c_acctbal - b.c_acctbal), b.c_custkey
                   ) AS urank
            FROM customer a
            JOIN customer b
              ON a.c_mktsegment = b.c_mktsegment AND a.c_custkey <> b.c_custkey
            WHERE a.c_custkey % 10 = 0
        ) WHERE urank <= 40
    ),
    contribs AS (
        SELECT s.uid, c.pid, s.sim,
               row_number() OVER (
                   PARTITION BY s.uid, c.pid ORDER BY s.urank
               ) AS occ
        FROM sim_users s JOIN colls c ON c.uid = s.vid
    ),
    scores AS (
        SELECT uid, pid,
               CAST(sum(CAST(round(sim / ln(occ + 1) * 1000000) AS BIGINT))
                    AS BIGINT) AS score_micros
        FROM contribs GROUP BY uid, pid
    ),
    filtered AS (
        SELECT sc.uid, sc.pid, sc.score_micros FROM scores sc
        WHERE NOT EXISTS (
                  SELECT 1 FROM colls c WHERE c.uid = sc.uid AND c.pid = sc.pid
              )
          AND sc.pid NOT IN (SELECT pid FROM hot)
    )
    SELECT uid, pid, score_micros, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY uid ORDER BY score_micros DESC, pid
        ) AS rk
        FROM filtered
    )
    WHERE rk <= 10
    """,
)
def q_reco_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reco_assembly(spark, sf_dir, uid_mod=10)


# ---------------------------------------------------------------------------
# ALS collaborative filtering (north-star upgrade; rows-only — factorization
# is float-iterative, checked by invariants in tests)
# ---------------------------------------------------------------------------

@register_extra(  # demoted r9: the rows-only MLlib float row leaves the
    # driver window for its hash-checked twin (rotation #7 follow-on —
    # VERDICT r8 #5); invariant tests keep gating it locally
    "als_recommendations", None)
def q_als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.recommendation import ALS

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ratings = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )
    # block counts sized to the data, not the default 10x10:
    # recommendForAllUsers does a userBlocks x itemBlocks block
    # cross-product, so FEWER item blocks = fewer, larger BLAS matmuls
    # (measured at sf0.1: 16x4 runs the fit+recommend in 3.1s vs 7.6s at
    # the 10x10 default).  At larger scale, grow blocks so one block's
    # factors fit comfortably in executor memory — the ratio (more user
    # blocks than item blocks when |users| ~ |items| and k is small)
    # still holds.
    als = ALS(
        rank=8,
        maxIter=5,
        seed=42,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
        numUserBlocks=16,
        numItemBlocks=4,
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(5)
    return recs.select(
        F.col("user").cast("bigint").alias("uid"),
        F.posexplode("recommendations").alias("pos", "rec"),
    ).select(
        "uid",
        F.col("rec.item").cast("bigint").alias("pid"),
        (F.col("pos") + 1).cast("bigint").alias("rk"),
    )


from ..operators.als_exact import als_rank1_exact, als_rank1_oracle_sql


@register("als_rank1_exact_recs", als_rank1_oracle_sql())  # promoted r9
def q_als_rank1_exact_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checked collaborative-filtering twin
    (operators/als_exact.py): pinned fixed-point rank-1 ALS — the
    alternating power method with truncating integer updates at
    SCALE=1000 over the SAME basket-count interaction matrix the MLlib
    row factorizes — replayed move-for-move by a generated unrolled
    DuckDB chain.  Top-3 unseen items per user are produced WITHOUT a
    users×items cross join (the rank-1 ordering is global, so bounded
    rank prunes are exact — see the operator docstring).  MLlib's
    rank-8 `als_recommendations` remains the faithful reference port;
    with this twin every ML family in the catalog (clustering,
    sketching, factorization) has a fit inside the correctness gate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    ratings = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("rating"))
    )
    return als_rank1_exact(ratings, iters=3, top_k=3)
