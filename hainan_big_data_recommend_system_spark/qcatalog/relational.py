"""Relational core queries (SURVEY.md §2.1–2.8).

Scans, filters, joins, aggregations, windows, sorts/limits re-expressed as
Catalyst plans; each paired with a DuckDB oracle.  Determinism rules: see
package docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.text import normalize_title
from ..operators.hot import hot_items
from ..operators.topk import topk_per_group
from ..operators.weights import normalize_weights, weighted_document
from . import register, register_extra

# ---------------------------------------------------------------------------
# A7 + J1 + O2 — flagship: hot items top-30
# (reference `guessLike_u_like.py:95-104`: count collections per book, top-30)
# ---------------------------------------------------------------------------

@register(
    "hot_items",
    """
    SELECT p.p_partkey, p.p_name, count(*) AS cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY cnt DESC, p.p_partkey
    LIMIT 30
    """,
)
def q_hot_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return hot_items(
        lineitem,
        "l_partkey",
        n=30,
        dim=part,
        dim_key="p_partkey",
        dim_cols=["p_name"],
    ).select("p_partkey", "p_name", "cnt")


# ---------------------------------------------------------------------------
# A1 + A2 + P4 + F12 — GROUP_CONCAT round-trip with HAVING
# (reference `guessLike_u_like.py:46`: GROUP_CONCAT(bookId) HAVING COUNT>15)
# ---------------------------------------------------------------------------

@register(
    "group_concat_roundtrip",
    """
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
               AS orders_csv,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 15
    """,
)
def q_group_concat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
            ).alias("orders_csv"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_orders") > 15)
    )


# ---------------------------------------------------------------------------
# F10 + F6 + J2 — weighted document build (term repeated `weight` times)
# (reference `simility_books.py:39-41`: `(tag + ' ') * weight`)
# ---------------------------------------------------------------------------

@register(
    "weighted_docs",
    """
    WITH w AS (
        SELECT l_orderkey, l_partkey, l_linenumber,
               CAST(ceil(((l_quantity + 0.1 - min_q) * 4) / (max_q + 0.1 - min_q)) AS INT)
                   AS weight
        FROM (
            SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
                   min(l_quantity) OVER (PARTITION BY l_orderkey) AS min_q,
                   max(l_quantity) OVER (PARTITION BY l_orderkey) AS max_q
            FROM lineitem
        )
    )
    SELECT l_orderkey,
           string_agg(rep, ' ' ORDER BY l_partkey, l_linenumber) AS doc
    FROM (
        SELECT w.l_orderkey, w.l_partkey, w.l_linenumber,
               trim(repeat(p.p_name || ' ', w.weight)) AS rep
        FROM w JOIN part p ON w.l_partkey = p.p_partkey
    )
    GROUP BY l_orderkey
    """,
)
def q_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    weighted = normalize_weights(l, "l_orderkey", "l_quantity")
    with_names = weighted.join(
        F.broadcast(part), weighted.l_partkey == part.p_partkey, "inner"
    )
    return weighted_document(
        with_names,
        "l_orderkey",
        term_col="p_name",
        weight_col="weight",
        order_by=["l_partkey", "l_linenumber"],
        doc_col="doc",
    )


# ---------------------------------------------------------------------------
# A8 + W5 — rank-discounted score fold
# (reference `guessLike_u_like.py:119-124`: score[b] += sim / ln(cnt[b]+1))
# ---------------------------------------------------------------------------

@register(
    "score_fold",
    """
    SELECT l_partkey,
           CAST(sum(CAST(round((o_totalprice / ln(rn + 1)) * 100) AS BIGINT)) AS BIGINT)
               AS score_cents
    FROM (
        SELECT l.l_partkey, o.o_totalprice,
               row_number() OVER (
                   PARTITION BY l.l_partkey
                   ORDER BY o.o_totalprice DESC, o.o_custkey,
                            l.l_orderkey, l.l_linenumber
               ) AS rn
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    GROUP BY l_partkey
    """,
)
def q_score_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    joined = l.join(o, l.l_orderkey == o.o_orderkey, "inner")
    # integerize the discounted contribution per-row so the sum is exact
    w = Window.partitionBy("l_partkey").orderBy(
        F.desc("o_totalprice"),
        F.asc("o_custkey"),
        F.asc("l_orderkey"),
        F.asc("l_linenumber"),
    )
    rn = F.row_number().over(w)
    contrib = F.round((F.col("o_totalprice") / F.log(rn + F.lit(1))) * 100).cast(
        "bigint"
    )
    return (
        joined.select("l_partkey", contrib.alias("__c"))
        .groupBy("l_partkey")
        .agg(F.sum("__c").alias("score_cents"))
    )


# ---------------------------------------------------------------------------
# P10 + F8 + W4 — title-normalized fuzzy dedup, best-rated survivor
# (reference `simility_books.py:74-88`)
# ---------------------------------------------------------------------------

@register(
    "title_dedup",
    """
    SELECT p_partkey, p_name, title_norm
    FROM (
        SELECT p_partkey, p_name, title_norm,
               row_number() OVER (
                   PARTITION BY title_norm
                   ORDER BY p_retailprice DESC, p_partkey
               ) AS rn
        FROM (
            SELECT p_partkey, p_name, p_retailprice,
                   trim(regexp_replace(
                        regexp_replace(lower(p_name),
                            '[（）【】/()0-9，第:精].*$', ''),
                        '[.·・《》\\-]', '', 'g')) AS title_norm
            FROM part
        )
    )
    WHERE rn = 1
    """,
)
def q_title_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    normed = p.withColumn("title_norm", normalize_title(F.col("p_name")))
    out = topk_per_group(
        normed,
        ["title_norm"],
        [F.desc("p_retailprice"), F.asc("p_partkey")],
        k=1,
    )
    return out.select("p_partkey", "p_name", "title_norm")


# ---------------------------------------------------------------------------
# Exact 1-D kNN per group (scale path for W2's "top-k most similar within
# block" when similarity is monotone in a scalar distance — reco_assembly's
# sim_users stage).  Spark side: sort + banded position join, O(n) shuffle
# (operators/nn1d.py).  Oracle: the all-pairs window — the band must
# reproduce it row-for-row, proving no candidate was pruned wrongly.
# ---------------------------------------------------------------------------

@register_extra(
    "nearest_balance_neighbors",
    """
    SELECT c_mktsegment, c_custkey, neighbor_id, dist_cents,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT a.c_mktsegment, a.c_custkey, b.c_custkey AS neighbor_id,
               CAST(round(abs(a.c_acctbal - b.c_acctbal) * 100) AS BIGINT)
                   AS dist_cents,
               row_number() OVER (
                   PARTITION BY a.c_mktsegment, a.c_custkey
                   ORDER BY abs(a.c_acctbal - b.c_acctbal), b.c_custkey
               ) AS rank
        FROM customer a
        JOIN customer b
          ON a.c_mktsegment = b.c_mktsegment AND a.c_custkey <> b.c_custkey
        WHERE a.c_custkey % 10 = 0
    )
    WHERE rank <= 40
    """,
)
def q_nearest_balance_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.nn1d import nearest_neighbors_1d

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    out = nearest_neighbors_1d(
        cust,
        group_col="c_mktsegment",
        id_col="c_custkey",
        val_col="c_acctbal",
        k=40,
        query_filter=F.col("a_id") % 10 == 0,
    )
    return out.select(
        "c_mktsegment",
        "c_custkey",
        "neighbor_id",
        F.round(F.col("dist") * 100).cast("bigint").alias("dist_cents"),
        "rank",
    )


# ---------------------------------------------------------------------------
# Analytic window functions with explicit frames (lead/lag/rowsBetween) —
# §2.5 marks these absent from the reference; covered here as first-class:
# per-customer order timeline with deltas, running total, and a 3-row
# trailing sum.  Single hash Exchange on the partition key; every frame
# shares one in-partition sort.
# ---------------------------------------------------------------------------

@register(
    "order_timeline_analytics",
    """
    WITH o AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           cents - lag(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS delta_prev_cents,
           lead(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) - cents AS delta_next_cents,
           CAST(sum(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_cents,
           CAST(sum(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS last3_cents
    FROM o
    """,
)
def q_order_timeline_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.withColumn("__cents", cents).select(
        "o_custkey",
        "o_orderkey",
        (F.col("__cents") - F.lag("__cents").over(w)).alias("delta_prev_cents"),
        (F.lead("__cents").over(w) - F.col("__cents")).alias("delta_next_cents"),
        F.sum("__cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("running_cents"),
        F.sum("__cents")
        .over(w.rowsBetween(-2, Window.currentRow))
        .cast("bigint")
        .alias("last3_cents"),
    )


@register(
    "data_quality_report",
    """
    SELECT CAST(1 AS BIGINT) AS rule_id, 'not_null' AS rule,
           'o_orderdate' AS target,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations,
           CAST(CASE WHEN sum(CASE WHEN o_orderdate IS NULL THEN 1
                                   ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM orders
    UNION ALL
    SELECT 2, 'unique', 'o_orderkey',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
           CAST(CASE WHEN count(*) = count(DISTINCT o_orderkey)
                     THEN 1 ELSE 0 END AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 3, 'accepted_values', 'o_orderstatus',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NULL
                          OR o_orderstatus NOT IN ('O','F','P')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN sum(CASE WHEN o_orderstatus IS NULL
                                    OR o_orderstatus NOT IN ('O','F','P')
                                   THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 4, 'in_range', 'o_totalprice_cents',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NULL
                          OR CAST(round(o_totalprice*100) AS BIGINT) < 0
                          OR CAST(round(o_totalprice*100) AS BIGINT)
                             > 3000000
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN sum(CASE WHEN o_totalprice IS NULL
                          OR CAST(round(o_totalprice*100) AS BIGINT) < 0
                          OR CAST(round(o_totalprice*100) AS BIGINT)
                             > 3000000
                         THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 5, 'foreign_key', 'o_custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey IS NULL OR NOT EXISTS
                  (SELECT 1 FROM customer c
                   WHERE c.c_custkey = o.o_custkey)),
           CAST(CASE WHEN (SELECT count(*) FROM orders o
                           WHERE o.o_custkey IS NULL OR NOT EXISTS
                                 (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)) = 0
                     THEN 1 ELSE 0 END AS BIGINT)
    UNION ALL
    SELECT 6, 'foreign_key', 'l_orderkey',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE l.l_orderkey IS NULL OR NOT EXISTS
                  (SELECT 1 FROM orders o
                   WHERE o.o_orderkey = l.l_orderkey)),
           CAST(CASE WHEN (SELECT count(*) FROM lineitem l
                           WHERE l.l_orderkey IS NULL OR NOT EXISTS
                                 (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)) = 0
                     THEN 1 ELSE 0 END AS BIGINT)
    UNION ALL
    SELECT 7, 'accepted_values', 'l_returnflag',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_returnflag IS NULL
                          OR l_returnflag NOT IN ('A','N','R')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN sum(CASE WHEN l_returnflag IS NULL
                                    OR l_returnflag NOT IN ('A','N','R')
                                   THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT)
    FROM lineitem
    """,
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style expectation suite (operators/expectations.py): seven
    declarative rules — null, uniqueness, accepted values, cents range,
    two referential-integrity checks — each ONE aggregate (FK rules:
    one anti-join), unioned into a single exact-integer report.  Rule 4
    is deliberately tight (cents <= 30_000_00) so the report carries
    real violations, not just green rows; the oracle recomputes every
    count independently."""
    from ..operators.expectations import (
        expect_accepted_values,
        expect_foreign_key,
        expect_in_range,
        expect_not_null,
        expect_unique,
        run_suite,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    return run_suite(
        [
            expect_not_null(1, orders, "o_orderdate"),
            expect_unique(2, orders, ["o_orderkey"]),
            expect_accepted_values(
                3, orders, "o_orderstatus", ["O", "F", "P"]
            ),
            expect_in_range(
                4,
                orders,
                F.round(F.col("o_totalprice") * 100).cast("bigint"),
                "o_totalprice_cents",
                0,
                3_000_000,
            ),
            expect_foreign_key(5, orders, "o_custkey", customer, "c_custkey"),
            expect_foreign_key(6, lineitem, "l_orderkey", orders, "o_orderkey"),
            expect_accepted_values(
                7, lineitem, "l_returnflag", ["A", "N", "R"]
            ),
        ]
    )
