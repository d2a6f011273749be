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


@register_extra(
    "next_item_examples",
    """
    WITH base AS (
        SELECT user_id, event_id, ts, item FROM (
            SELECT user_id, event_id, ts,
                   CASE WHEN json_valid(props)
                        THEN TRY_CAST(json_extract_string(props, '$.k')
                                      AS BIGINT) END AS item
            FROM events
            WHERE event_type IN ('click', 'view', 'purchase')
        ) WHERE item IS NOT NULL
    ),
    ex AS (
        SELECT user_id, event_id,
               array_to_string(list(item) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING
               ), ',') AS history,
               CAST(len(list(item) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING
               )) AS BIGINT) AS n_history,
               item AS label
        FROM base
    )
    SELECT user_id, event_id, history, n_history, label
    FROM ex WHERE n_history >= 1
    """,
)
def q_next_item_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-reco training examples (operators/reco_examples.py):
    each click/view/purchase with at least one prior interaction becomes
    (last-5-items history, next-item label) — the GRU4Rec/SASRec dataset
    materialization, one user-keyed window pass with a total (ts,
    event_id) order so both engines pack identical histories."""
    from ..operators.reco_examples import next_item_examples

    events = load_table(spark, sf_dir, "events")
    return next_item_examples(events)


@register_extra(
    "negative_samples",
    r"""
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS neg_item
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    p AS (SELECT max(p_partkey) AS np FROM part),
    users AS (SELECT DISTINCT user_id FROM inter),
    cand AS (
        SELECT user_id, s AS slot,
               1 + ('0x' || substr(md5('neg-v1:' || user_id || ':' || s),
                                   1, 15))::BIGINT % np AS neg_item
        FROM users, p, LATERAL (SELECT unnest(range(0, 12)) AS s)
    ),
    surv AS (
        SELECT c.user_id, c.slot, c.neg_item
        FROM cand c
        LEFT JOIN inter i
          ON i.user_id = c.user_id AND i.neg_item = c.neg_item
        WHERE i.user_id IS NULL
    ),
    dd AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, neg_item ORDER BY slot
        ) AS d FROM surv
    ),
    r AS (
        SELECT user_id, slot, neg_item,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY slot
               ) AS rk
        FROM dd WHERE d = 1
    )
    SELECT user_id, CAST(rk AS BIGINT) AS neg_rank, neg_item
    FROM r WHERE rk <= 4
    """,
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded negative sampling (operators/negatives.py, round 7): four
    reproducible non-purchased parts per customer for BPR/two-tower
    training — pinned md5 candidate slots, ONE anti-join against the
    purchase relation (never a |users|x|items| blowup), slot-ordered
    distinct survivors.  The oracle replays the hash, the anti-join and
    the ranking; the reference analogue is the serving-side anti-join
    discipline (P8/P9) applied to training-data generation."""
    from ..operators.negatives import sample_negatives

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    inter = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    n_items = int(part.agg(F.max("p_partkey")).head()[0])
    return sample_negatives(inter, k=4, n_items=n_items)


@register_extra(
    "assoc_rules_lift",
    """
    WITH members AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ),
    sized AS (
        SELECT basket, item FROM members
        WHERE basket IN (
            SELECT basket FROM members GROUP BY 1 HAVING count(*) <= 64
        )
    ),
    tot AS (SELECT count(DISTINCT basket) AS n FROM sized),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS supp_ab
        FROM sized a
        JOIN sized b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
        HAVING count(*) >= (
            SELECT greatest(2, (n * 200 + 999999) // 1000000) FROM tot
        )
    ),
    rules AS (
        SELECT item_a AS antecedent, item_b AS consequent, supp_ab
        FROM pairs
        UNION ALL
        SELECT item_b, item_a, supp_ab FROM pairs
    ),
    supp AS (SELECT item, count(*) AS s FROM sized GROUP BY 1)
    SELECT antecedent, consequent,
           CAST(supp_ab AS BIGINT) AS supp_ab,
           CAST(sa.s AS BIGINT) AS supp_a,
           CAST(sb.s AS BIGINT) AS supp_b,
           CAST(supp_ab * 1000000 // sa.s AS BIGINT)
               AS confidence_micros,
           CAST(supp_ab * tot.n * 1000000 // (sa.s * sb.s) AS BIGINT)
               AS lift_micros
    FROM rules
    JOIN supp sa ON sa.item = antecedent
    JOIN supp sb ON sb.item = consequent
    CROSS JOIN tot
    """,
)
def q_assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (operators/basket.py): directed
    support/confidence/lift over order baskets — the "users who bought
    A also bought B" statistic the reference's profile-similarity
    recommender (simility_books.py:52-78) implies but never counts.
    Pair generation self-joins on the basket key with the O(k^2)
    oversized-basket guard; marginals and the basket total attach via
    broadcast joins; confidence and lift are exact integer floors
    (lift through decimal(38,0)), so every row hashes identically to
    the oracle's replay of the same contingency table."""
    from ..operators.basket import association_rules

    lineitem = load_table(spark, sf_dir, "lineitem")
    # relative support (the default): threshold scales with the basket
    # total, so the rule list cannot output-explode on growing data
    return association_rules(
        lineitem, "l_orderkey", "l_partkey", max_basket_size=64,
    )


@register_extra(
    "copurchase_triangles",
    """
    WITH members AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    edges AS (
        SELECT a.i AS u, b2.i AS v
        FROM members a JOIN members b2
          ON a.b = b2.b AND a.i < b2.i
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    tris AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    nodes AS (
        SELECT x AS node FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY 1
    """,
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item triangle counts over the co-purchase graph (edges =
    item pairs bought together in >= 2 baskets, operators/basket.py;
    triangles via operators/triangles.py) — the clique-density signal
    behind 'frequently bought together' bundles.  The Spark side uses
    DEGREE-ORDERED orientation (Schank & Wagner 2005): every node's
    out-degree is O(sqrt(m)), so wedge fanout is structurally bounded —
    hub skew removed by construction, not salted.  The oracle counts
    the same triangles with a plain three-way join on the canonical
    u<v edge set; both sides must agree triangle-for-triangle."""
    from ..operators.basket import basket_pair_counts
    from ..operators.triangles import count_triangles

    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = basket_pair_counts(
        lineitem, "l_orderkey", "l_partkey", max_basket_size=64
    ).where(F.col("supp_ab") >= 2)
    return count_triangles(edges, "item_a", "item_b")


@register_extra(
    "copurchase_bfs_hops",
    """
    WITH RECURSIVE members AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    edges AS (
        SELECT a.i AS u, b2.i AS v
        FROM members a JOIN members b2
          ON a.b = b2.b AND a.i < b2.i
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
        SELECT u, v FROM edges
        UNION ALL
        SELECT v AS u, u AS v FROM edges
    ),
    seeds AS (
        SELECT DISTINCT u AS node FROM sym WHERE u % 50 = 0
    ),
    walk(node, hops) AS (
        SELECT node, 0 AS hops FROM seeds
        UNION
        SELECT s.v AS node, w.hops + 1 AS hops
        FROM walk w JOIN sym s ON s.u = w.node
        WHERE w.hops < 3
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY 1
    """,
)
def q_copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-set BFS neighborhoods (operators/bfs.py) over the same
    co-purchase graph as copurchase_triangles: min hop count (<= 3)
    from every 'promoted' item (node % 50 = 0) — the "within K
    co-purchase hops" reach question behind the reference's
    similar-user expansion (user_recommend.py walks a 2-hop
    user->item->user neighborhood).  Spark runs pregel-style bounded
    frontier expansion with first-visit-is-min semantics; the oracle
    recomputes distances with a recursive CTE and an explicit min() —
    two entirely different traversal strategies that must agree
    node-for-node."""
    from ..operators.basket import basket_pair_counts
    from ..operators.bfs import bfs_hops

    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = basket_pair_counts(
        lineitem, "l_orderkey", "l_partkey", max_basket_size=64
    ).where(F.col("supp_ab") >= 2)
    nodes = (
        edges.select(F.col("item_a").alias("node"))
        .union(edges.select(F.col("item_b").alias("node")))
        .distinct()
    )
    seeds = nodes.where(F.col("node") % 50 == 0)
    return bfs_hops(edges, "item_a", "item_b", seeds, "node", 3)


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
