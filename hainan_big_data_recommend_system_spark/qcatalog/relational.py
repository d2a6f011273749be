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
from ..operators.topk import top_fraction_per_group, topk_per_group
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
# A2/P1/P3 + partial-agg — pricing summary (TPC-H Q1 shape; scan-pushdown demo)
# ---------------------------------------------------------------------------

@register_extra(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS sum_disc_cents,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # filter + projection push to the parquet scan (PushedFilters/ReadSchema)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "sum_base_cents"
            ),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


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
# A3 + F11 — per-key min/max weight normalization into {1..4}
# (reference `simility_books.py:38`)
# ---------------------------------------------------------------------------

@register_extra(
    "tag_weights",
    """
    SELECT l_orderkey, l_partkey, l_linenumber,
           CAST(ceil(((l_quantity + 0.1 - min_q) * 4) / (max_q + 0.1 - min_q)) AS INT)
               AS weight
    FROM (
        SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
               min(l_quantity) OVER (PARTITION BY l_orderkey) AS min_q,
               max(l_quantity) OVER (PARTITION BY l_orderkey) AS max_q
        FROM lineitem
    )
    """,
)
def q_tag_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    return normalize_weights(l, "l_orderkey", "l_quantity").select(
        "l_orderkey", "l_partkey", "l_linenumber", "weight"
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
# W1 — top-k per query item (reference `simility_books.py:62`, num_best=100).
# EXTRA since round 4: W1's driver row rides `doc_similarity_topk`; this
# demo freed a driver slot for the LLM-pipeline flagships.
# ---------------------------------------------------------------------------

@register_extra(
    "top3_per_part",
    """
    SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
               ) AS rn
        FROM lineitem
    )
    WHERE rn <= 3
    """,
)
def q_top3_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = topk_per_group(
        l,
        ["l_partkey"],
        [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=3,
    )
    return out.withColumn("rn", F.col("rn").cast("long"))


# ---------------------------------------------------------------------------
# W3 — most-recent-k per user (reference `guessLike_u_like.py:189,203-204`).
# EXTRA since round 4: `recent_orders_kv` covers W3+O3+F5+F19 in one driver
# query; this single-facet variant keeps the local oracle only.
# ---------------------------------------------------------------------------

@register_extra(
    "recent3_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def q_recent3_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    out = topk_per_group(
        o, ["o_custkey"], [F.desc("o_orderdate"), F.asc("o_orderkey")], k=3
    )
    return out.withColumn("rn", F.col("rn").cast("long"))


# ---------------------------------------------------------------------------
# W2 — top-fraction per group (reference `guessLike_u_like.py:114-117`:
# top 10% most-similar users within the predicted cluster)
# ---------------------------------------------------------------------------

@register_extra(  # demoted r10 (#8): window-rank facet rides customer_360 + order_timeline_analytics
    "top_decile_per_segment",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, round(pr, 6) AS pr
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               percent_rank() OVER (
                   PARTITION BY c_mktsegment ORDER BY c_acctbal DESC
               ) AS pr
        FROM customer
    )
    WHERE pr <= 0.1
    """,
)
def q_top_decile_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    out = top_fraction_per_group(
        c, ["c_mktsegment"], [F.desc("c_acctbal")], fraction=0.1
    )
    return out.withColumn("pr", F.round(F.col("pr"), 6))


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
# Rollup aggregation (SURVEY.md §2.4 "grouping sets / cube / rollup — not
# present [in the reference]; free in Spark SQL") — exercised so the family
# is covered: per-(region, nation) revenue with subtotal and grand-total
# rows.  NULL group markers match DuckDB's ROLLUP semantics.
# ---------------------------------------------------------------------------

@register_extra(
    "rollup_revenue",
    """
    SELECT r.r_name, n.n_name,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Relational set ops (SURVEY.md §2.7 "UNION/INTERSECT/EXCEPT on tables —
# not present [in the reference]; free in Spark") — nations with customers
# vs nations with suppliers, all three ops in one tagged result.
# ---------------------------------------------------------------------------

# Demoted to EXTRA in round 5 (still oracle-checked locally): the driver
# slot went to html_extract_main; the E1/E2 set-semantics facets keep
# driver rows via user_set_ops and semi_anti_parts, and the
# INTERSECT/EXCEPT spelling itself stays under the local DuckDB gate.
@register_extra(
    "nation_set_ops",
    """
    WITH cn AS (
        SELECT DISTINCT n_name FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > 9000
    ),
    sn AS (
        SELECT DISTINCT n_name FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_acctbal > 9000
    )
    SELECT 'both' AS op, n_name FROM (SELECT n_name FROM cn INTERSECT SELECT n_name FROM sn)
    UNION ALL
    SELECT 'customer_only' AS op, n_name FROM (SELECT n_name FROM cn EXCEPT SELECT n_name FROM sn)
    UNION ALL
    SELECT 'supplier_only' AS op, n_name FROM (SELECT n_name FROM sn EXCEPT SELECT n_name FROM cn)
    """,
)
def q_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    supp = load_table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = (
        cust.filter(F.col("c_acctbal") > 9000)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name")
        .distinct()
    )
    sn = (
        supp.filter(F.col("s_acctbal") > 9000)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("n_name")
        .distinct()
    )
    return (
        cn.intersect(sn).select(F.lit("both").alias("op"), "n_name")
        .unionAll(cn.subtract(sn).select(F.lit("customer_only").alias("op"), "n_name"))
        .unionAll(sn.subtract(cn).select(F.lit("supplier_only").alias("op"), "n_name"))
    )


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
# Pivot (wide aggregation) — extension beyond the reference's long-form aggs.
# Spark's `pivot` with an EXPLICIT value list stays a single hash aggregate
# (one shuffle on the groupBy key, map-side partial aggs per pivot value);
# omitting the list would add a distinct-values job at 100 TB.
# ---------------------------------------------------------------------------

@register_extra(
    "pivot_priority_status_revenue",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS f_cents,
           CAST(sum(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS o_cents,
           CAST(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS p_cents,
           CAST(sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_priority_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot orders to one column per status, cents-integerized revenue
    (per-row round → exact BIGINT sums both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    wide = (
        orders.withColumn("__cents", cents)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.sum("__cents").alias("cents"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    # pivot fills cells for absent (priority, status) combos with null
    # AFTER aggregation — coalesce here, not inside the agg.  n_orders
    # counts orders in the PIVOTED statuses (both sides agree even if a
    # status outside the explicit value list ever appears).
    zero = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return wide.select(
        "o_orderpriority",
        zero("F_cents").alias("f_cents"),
        zero("O_cents").alias("o_cents"),
        zero("P_cents").alias("p_cents"),
        (zero("F_cnt") + zero("O_cnt") + zero("P_cnt")).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# CUBE (all grouping-set combinations) — §2.4 lists cube as absent from the
# reference and free in Spark; this makes it a tested capability.  grouping()
# markers disambiguate subtotal nulls from genuine null keys.  One shuffle:
# Spark expands the grouping sets map-side, so the exchange carries
# |groups| × 4 rows, not 4 scans.
# ---------------------------------------------------------------------------

# Demoted to EXTRA in round 5 (still oracle-checked locally in
# tests/test_oracle.py): CUBE is beyond-reference SQL-surface; the
# grouping-sets family keeps rollup_revenue's local oracle and the driver
# slot went to the exact-substring scrub flagship.
@register_extra(
    "cube_priority_status",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INT)
               AS gid,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def q_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        orders.withColumn("__cents", cents)
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            (F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus"))
            .cast("int")
            .alias("gid"),
            F.sum("__cents").cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
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


# ---------------------------------------------------------------------------
# SQL-text passthrough — ONE SQL string executed verbatim by BOTH engines
# (spark.sql over registered views; DuckDB as the oracle).  Demonstrates the
# ANSI-SQL surface of the engine and covers distinct-aggregation (§2.4
# "not present" in the reference).  Catalyst plans the distinct count as a
# two-phase expand + partial agg — no driver-side distinct.
# ---------------------------------------------------------------------------

_SEGMENT_SUMMARY_SQL = """
    SELECT c.c_mktsegment,
           count(DISTINCT c.c_custkey) AS n_customers,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@register_extra(  # demoted rotation #10 (r12)
    "sql_segment_summary", _SEGMENT_SUMMARY_SQL)
def q_sql_segment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle string IS the implementation: same text, two engines.
    Only the referenced tables are registered — re-registering all ten
    (incl. the events nanos conversion path) would bill this query for
    eight tables it never reads."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SEGMENT_SUMMARY_SQL)


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


@register_extra(
    "shipping_latency_stats",
    """
    WITH v AS (
        SELECT o.o_orderpriority AS priority,
               CAST(CAST(l.l_shipdate AS DATE)
                    - CAST(o.o_orderdate AS DATE) AS BIGINT) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cc AS (
        SELECT priority, days, cnt,
               sum(cnt) OVER (PARTITION BY priority ORDER BY days)
                   AS cum
        FROM (SELECT priority, days, count(*) AS cnt
              FROM v GROUP BY 1, 2)
    ),
    n AS (SELECT priority, count(*) AS n FROM v GROUP BY 1),
    q AS (
        SELECT cc.priority,
               min(CASE WHEN cum >= (n + 1) // 2
                         AND cum - cnt < (n + 1) // 2
                        THEN days END) AS p50_days,
               min(CASE WHEN cum >= (n * 9 + 9) // 10
                         AND cum - cnt < (n * 9 + 9) // 10
                        THEN days END) AS p90_days
        FROM cc JOIN n USING (priority) GROUP BY 1
    )
    SELECT q.priority,
           CAST(n.n AS BIGINT) AS n_lineitems,
           CAST(p50_days AS BIGINT) AS p50_days,
           CAST(p90_days AS BIGINT) AS p90_days,
           (SELECT CAST(min(days) AS BIGINT) FROM v v2
            WHERE v2.priority = q.priority) AS min_days,
           (SELECT CAST(max(days) AS BIGINT) FROM v v2
            WHERE v2.priority = q.priority) AS max_days
    FROM q JOIN n USING (priority)
    """,
)
def q_shipping_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLOs per priority: the fact-to-fact join
    (orders ⋈ lineitem on the order key — co-locatable via bucketing)
    feeds exact integer day gaps into the
    value-compressed quantiles (operators/anomaly.py) — p50/p90 at
    ceil(q·n) ranks plus min/max, all joined back as one-row-per-group
    broadcasts.  The operational-analytics complement to
    order_timeline_analytics; every number exact, oracle-replayed."""
    from ..operators.anomaly import exact_group_quantile

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    v = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        )
        .cast("long")
        .alias("days"),
    )
    agg = v.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
    )
    p50 = exact_group_quantile(v, ["priority"], "days", 1, 2, "p50_days")
    p90 = exact_group_quantile(v, ["priority"], "days", 9, 10, "p90_days")
    return (
        agg.join(F.broadcast(p50), "priority")
        .join(F.broadcast(p90), "priority")
        .select(
            "priority", "n_lineitems", "p50_days", "p90_days",
            "min_days", "max_days",
        )
    )


@register_extra(
    "rolling_revenue_7d",
    """
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS rev_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT priority, day,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(sum(rev_cents) OVER (
               PARTITION BY priority ORDER BY day
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rev_7d_cents,
           CAST(count(*) OVER (
               PARTITION BY priority ORDER BY day
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS days_in_window
    FROM daily
    """,
)
def q_rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue per priority — the RANGE-frame window
    (value-based frame over integer epoch-days, so CALENDAR gaps
    shrink the window, unlike a 7-ROW frame): daily pre-aggregation
    first (map-side combined — the window then runs over days, not
    orders), one keyed window, exact cents.  The rolling-metric
    primitive every ops dashboard needs; both engines share RANGE
    semantics on the integer day key."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("long")
        .alias("rev_cents")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "priority",
        "day",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("rev_7d_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("days_in_window"),
    )


@register_extra(
    "order_day_streaks",
    """
    WITH days AS (
        SELECT DISTINCT o_custkey AS custkey,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS day
        FROM orders
    ),
    grp AS (
        SELECT custkey, day,
               day - row_number() OVER (
                   PARTITION BY custkey ORDER BY day
               ) AS island
        FROM days
    ),
    runs AS (
        SELECT custkey, island,
               count(*) AS len, min(day) AS start_day
        FROM grp GROUP BY 1, 2
    ),
    best AS (
        SELECT custkey, len, start_day,
               row_number() OVER (
                   PARTITION BY custkey
                   ORDER BY len DESC, start_day
               ) AS rk
        FROM runs
    )
    SELECT custkey,
           CAST(len AS BIGINT) AS longest_streak_days,
           CAST(start_day AS BIGINT) AS streak_start_day
    FROM best WHERE rk = 1 AND len >= 2
    """,
)
def q_order_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-order-day streak per customer — the
    gaps-and-islands pattern (day minus per-customer row_number is
    constant within a consecutive run): two keyed windows and one
    grouped count, deterministic tiebreak (earliest streak wins),
    customers with only singleton days filtered.  Same decomposition
    the substring scrub uses internally (operators/substring_dedup.py),
    here as a user-facing retention metric."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    days = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
    ).distinct()
    w = Window.partitionBy("custkey").orderBy("day")
    grp = days.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    runs = grp.groupBy("custkey", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("start_day"),
    )
    best = runs.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("custkey").orderBy(
                F.col("len").desc(), "start_day"
            )
        ),
    )
    return best.where((F.col("rk") == 1) & (F.col("len") >= 2)).select(
        "custkey",
        F.col("len").cast("long").alias("longest_streak_days"),
        F.col("start_day").cast("long").alias("streak_start_day"),
    )


@register_extra(
    "pareto_orders",
    """
    WITH o AS (
        SELECT o_orderkey,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT a.o_orderkey, a.day, a.cents
    FROM o a
    WHERE NOT EXISTS (
        SELECT 1 FROM o b
        WHERE b.day <= a.day AND b.cents <= a.cents
          AND (b.day < a.day OR b.cents < a.cents)
    )
    """,
)
def q_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) on (order day, price): orders not
    dominated on BOTH dimensions — earliest-cheapest analysis.  The
    naive formulation is the O(n²) NOT EXISTS the ORACLE runs; the
    Spark side decomposes dominance into per-day minima plus a strict
    prefix-min over DISTINCT DAYS: an order survives iff it is its
    day's minimum AND strictly below every earlier day's minimum —
    two bounded windows, no self-join, no n² anywhere.  Equal
    (day, cents) duplicates dominate neither and all survive, which
    the per-day-min formulation preserves."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
            "div 86400000000 AS BIGINT)"
        ).alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    day_min = o.groupBy("day").agg(F.min("cents").alias("dmin"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier_days = day_min.withColumn(
        "prior_min", F.min("dmin").over(w)
    ).filter(
        F.col("prior_min").isNull() | (F.col("dmin") < F.col("prior_min"))
    )
    return (
        o.join(F.broadcast(frontier_days), "day")
        .filter(F.col("cents") == F.col("dmin"))
        .select("o_orderkey", "day", "cents")
    )


@register_extra(
    "capped_running_balance",
    """
    WITH RECURSIVE o AS (
        SELECT o_custkey AS k, o_orderkey,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(round(o_totalprice * 100) AS BIGINT)
               * (CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE -1 END)
                   AS delta
        FROM orders
    ),
    s AS (
        SELECT *, row_number() OVER (PARTITION BY k
                                     ORDER BY day, o_orderkey) AS rn
        FROM o
    ),
    walk(k, rn, o_orderkey, bal) AS (
        SELECT k, rn, o_orderkey, greatest(0, delta) FROM s WHERE rn = 1
        UNION ALL
        SELECT s.k, s.rn, s.o_orderkey, greatest(0, w.bal + s.delta)
        FROM walk w JOIN s ON s.k = w.k AND s.rn = w.rn + 1
    )
    SELECT k AS o_custkey, o_orderkey, CAST(bal AS BIGINT) AS balance
    FROM walk
    """,
)
def q_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-capped running balance per customer (credits post, debits
    cannot overdraw below zero) — the canonical NON-DECOMPOSABLE scan:
    max(0, prev + delta) is not a window aggregate, so Spark runs it as
    a keyed Arrow kernel (applyInPandas: per-customer ordered loop,
    group sizes bounded by orders-per-customer) — tier (b) of the
    custom-operator ladder, with the state never leaving the executor.
    The oracle recomputes the recurrence with a recursive CTE — a
    completely different evaluation strategy that must agree
    row-for-row."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey"),
        "o_orderkey",
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
            "div 86400000000 AS BIGINT)"
        ).alias("day"),
        (
            F.round(F.col("o_totalprice") * 100).cast("long")
            * F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(-1)
        ).alias("delta"),
    )

    # sort-based groupwise scan: ONE Arrow stream per partition (keys
    # contiguous after repartition+sort), state carried across chunk
    # boundaries — orders of magnitude less per-group overhead than a
    # pandas frame per customer, and the shape that survives billions
    # of small groups at 100 TB
    def scan(it):
        import numpy as np

        prev_key = None
        bal = 0
        for pdf in it:  # chunks arrive in partition sort order
            ks = pdf["o_custkey"].to_numpy()
            ds = pdf["delta"].to_numpy()
            out = np.empty(len(pdf), dtype="int64")
            for i in range(len(pdf)):
                if ks[i] != prev_key:
                    prev_key = ks[i]
                    bal = 0
                bal = max(0, bal + int(ds[i]))
                out[i] = bal
            yield pdf.assign(balance=out)[
                ["o_custkey", "o_orderkey", "balance"]
            ]

    return (
        o.repartition(F.col("o_custkey"))
        .sortWithinPartitions("o_custkey", "day", "o_orderkey")
        .mapInPandas(scan, "o_custkey long, o_orderkey long, balance long")
    )


_BDAY_W = (
    "(5 * (({d} + 3) div 7) + least(({d} + 3) % 7, 5) - 3)"
)


@register_extra(
    "business_days_to_ship",
    """
    WITH j AS (
        SELECT o.o_orderpriority AS priority, l.l_returnflag AS rflag,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
                   AS d1,
               CAST(epoch_us(l.l_shipdate) // 86400000000 AS BIGINT)
                   AS d2
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    b AS (
        SELECT priority, rflag,
               (5 * ((d2 + 3) // 7) + least((d2 + 3) % 7, 5) - 3)
               - (5 * ((d1 + 3) // 7) + least((d1 + 3) % 7, 5) - 3)
                   AS bdays
        FROM j
    )
    SELECT priority, rflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(bdays) AS BIGINT) AS sum_bdays,
           CAST(min(bdays) AS BIGINT) AS min_bdays,
           CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM b GROUP BY 1, 2
    """,
)
def q_business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days — calendar logic the SLA
    reports actually use, computed with NO engine date functions: the
    weekday test is ((epoch_day + 3) % 7) < 5 (day 0, 1970-01-01, was a
    Thursday) and the count of weekdays below a day has the closed form
    5·((d+3) div 7) + least((d+3) % 7, 5) − 3, so bd(d1,d2) is one
    subtraction — scan-local, skew-free, and identical arithmetic on
    both engines (dayofweek() conventions differ between them; epoch
    arithmetic cannot)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
            "div 86400000000 AS BIGINT)"
        ).alias("d1"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_returnflag").alias("rflag"),
        F.expr(
            "CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) "
            "div 86400000000 AS BIGINT)"
        ).alias("d2"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    bd = F.expr(
        _BDAY_W.format(d="d2") + " - " + _BDAY_W.format(d="d1")
    ).alias("bdays")
    return (
        j.select("priority", "rflag", bd)
        .groupBy("priority", "rflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("bdays").cast("long").alias("sum_bdays"),
            F.min("bdays").cast("long").alias("min_bdays"),
            F.max("bdays").cast("long").alias("max_bdays"),
        )
    )


@register_extra(
    "grouping_sets_revenue",
    """
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS with GROUPING() disambiguation — the SQL
    surface between cube (rollup_revenue / cube_priority_status cover
    those) and hand-unioned aggregates: one shuffle produces the
    detail, both one-dimension margins, and the grand total, with gid
    telling a NULL group key from a NULL margin.  Runs through
    spark.sql — the SQL-text front door — against a DuckDB oracle of
    the identical text modulo the engines' shared syntax."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_gs_orders"
    )
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, '(all)') AS priority,
               coalesce(o_orderstatus, '(all)') AS status,
               CAST(GROUPING(o_orderpriority) * 2
                    + GROUPING(o_orderstatus) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
        """
    )


@register_extra(
    "yoy_weekly_revenue",
    """
    WITH w AS (
        SELECT CAST(epoch_us(o_orderdate) // 604800000000 AS BIGINT)
                   AS week,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS rev_cents
        FROM orders GROUP BY 1
    )
    SELECT week, CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(lag(rev_cents, 52) OVER (ORDER BY week) AS BIGINT)
               AS rev_prior_year,
           CAST(CASE WHEN lag(rev_cents, 52) OVER (ORDER BY week)
                          IS NULL THEN 0
                     WHEN rev_cents < lag(rev_cents, 52)
                              OVER (ORDER BY week) THEN
                          -((lag(rev_cents, 52) OVER (ORDER BY week)
                             - rev_cents) * 10000
                            // lag(rev_cents, 52) OVER (ORDER BY week))
                     ELSE (rev_cents - lag(rev_cents, 52)
                               OVER (ORDER BY week)) * 10000
                          // lag(rev_cents, 52) OVER (ORDER BY week)
                END AS BIGINT) AS yoy_bp
    FROM w
    """,
)
def q_yoy_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year weekly revenue — the period-over-period report:
    lag(52) over epoch weeks, delta as exact integer basis points
    (0 where no prior-year week exists — the NULL rev_prior_year
    column disambiguates genuinely-flat weeks).  NOTE the lag is
    positional over OBSERVED weeks; a calendar-spine variant composes
    with daily_revenue_locf when weeks can be empty — at catalog
    density every week has orders, which the oracle verifies
    implicitly.  The window rides distinct weeks (calendar-bounded)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
            "div 604800000000 AS BIGINT)"
        ).alias("week"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = o.groupBy("week").agg(F.sum("cents").alias("rev_cents"))
    from pyspark.sql import Window

    win = Window.orderBy("week")
    prior = F.lag("rev_cents", 52).over(win)
    return w.select(
        "week",
        F.col("rev_cents").cast("long"),
        prior.cast("long").alias("rev_prior_year"),
        # sign x abs-floor: Spark `div` truncates toward zero while
        # DuckDB `//` floors — on negative YoY deltas they differ by 1,
        # so divide magnitudes and apply the sign separately
        F.when(prior.isNull(), F.lit(0))
        .when(
            F.col("rev_cents") < prior,
            -F.expr(
                "(lag(rev_cents, 52) OVER (ORDER BY week) - rev_cents)"
                " * 10000 div lag(rev_cents, 52) OVER (ORDER BY week)"
            ),
        )
        .otherwise(
            F.expr(
                "(rev_cents - lag(rev_cents, 52) OVER (ORDER BY week))"
                " * 10000 div lag(rev_cents, 52) OVER (ORDER BY week)"
            )
        )
        .cast("long")
        .alias("yoy_bp"),
    )


@register_extra(
    "array_ops_pipeline",
    """
    WITH t AS (
        SELECT l_orderkey AS o_orderkey,
               list_sort(list(CAST(round(l_quantity) AS BIGINT))) AS l
        FROM lineitem GROUP BY 1
    ),
    w AS (
        SELECT o_orderkey, sum(l[i] * i) AS wsum
        FROM t, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)
        GROUP BY 1
    )
    SELECT t.o_orderkey,
           CAST(len(t.l) AS BIGINT) AS n_items,
           CAST(len(list_filter(t.l, x -> x >= 25)) AS BIGINT) AS n_big,
           CAST(list_aggregate(list_transform(t.l, x -> x * 2), 'sum')
                AS BIGINT) AS doubled_sum,
           CAST(w.wsum AS BIGINT) AS wsum
    FROM t JOIN w USING (o_orderkey)
    """,
)
def q_array_ops_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions end to end — §2.8's lambda surface
    exercised as one JVM pipeline: sorted collect_list, filter / 
    transform / zip_with-with-index / aggregate lambdas, all integer.
    DuckDB's list lambdas replay filter/transform/aggregate and a
    1-based LATERAL subscript replays zip_with — two lambda dialects
    that must agree cell-for-cell (Spark arrays are 0-indexed, DuckDB
    lists 1-indexed: the index weighting exposes any off-by-one)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    t = li.groupBy("o_orderkey").agg(
        F.sort_array(F.collect_list("qty")).alias("l")
    )
    zero = F.lit(0).cast("long")
    return t.select(
        "o_orderkey",
        F.size("l").cast("long").alias("n_items"),
        F.size(F.filter("l", lambda x: x >= 25)).cast("long").alias(
            "n_big"
        ),
        F.aggregate(
            F.transform("l", lambda x: x * 2), zero, lambda a, x: a + x
        ).cast("long").alias("doubled_sum"),
        F.aggregate(
            F.zip_with(
                "l",
                F.sequence(F.lit(1), F.size("l")),
                lambda q, i: q * i.cast("long"),
            ),
            zero,
            lambda a, x: a + x,
        ).cast("long").alias("wsum"),
    )


@register_extra(
    "unpivot_yearly_revenue",
    """
    WITH wide AS (
        SELECT o_orderpriority AS priority,
               sum(CASE WHEN year(o_orderdate) = 1995
                        THEN CAST(round(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS y1995,
               sum(CASE WHEN year(o_orderdate) = 1996
                        THEN CAST(round(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS y1996,
               sum(CASE WHEN year(o_orderdate) = 1997
                        THEN CAST(round(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS y1997
        FROM orders GROUP BY 1
    )
    SELECT priority, '1995' AS yr, CAST(y1995 AS BIGINT) AS rev_cents
    FROM wide
    UNION ALL
    SELECT priority, '1996', CAST(y1996 AS BIGINT) FROM wide
    UNION ALL
    SELECT priority, '1997', CAST(y1997 AS BIGINT) FROM wide
    """,
)
def q_unpivot_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT — the inverse of pivot_priority_status_revenue's wide
    reshape: melt per-year revenue columns back to long form with ONE
    `stack()` generator per row (no triple scan; the oracle deliberately
    uses the naive three-scan UNION to prove the reshape equivalent).
    Wide-to-long is how hand-built spreadsheet-shaped marts re-enter
    relational processing."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yy"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    wide = o.groupBy("priority").agg(
        *[
            F.sum(F.when(F.col("yy") == y, F.col("cents")).otherwise(0))
            .cast("long")
            .alias(f"y{y}")
            for y in (1995, 1996, 1997)
        ]
    )
    return wide.selectExpr(
        "priority",
        "stack(3, '1995', y1995, '1996', y1996, '1997', y1997) "
        "AS (yr, rev_cents)",
    )


@register_extra(
    "map_ops_pipeline",
    """
    WITH s AS (
        SELECT o_custkey AS custkey, o_orderpriority AS priority,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    )
    SELECT custkey, priority,
           CAST(cents * 2 AS BIGINT) AS doubled_cents
    FROM s WHERE cents * 2 >= 5000000
    """,
)
def q_map_ops_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.8 MAP surface as one JVM pipeline: per customer a
    priority→cents map built with map_from_entries over a grouped
    collect, values doubled with transform_values, pruned with
    map_filter, and exploded back to rows — construction, both map
    lambdas, and explosion in one plan.  The oracle computes the same
    relation with a plain group-filter (maps are an execution detail,
    not a semantic one — which is exactly what the equality proves)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    s = o.groupBy("custkey", "priority").agg(
        F.sum("cents").alias("cents")
    )
    m = s.groupBy("custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct("priority", "cents"))
        ).alias("m")
    )
    piped = m.select(
        "custkey",
        F.map_filter(
            F.transform_values("m", lambda k, v: v * 2),
            lambda k, v: v >= 5_000_000,
        ).alias("m"),
    )
    return piped.select(
        "custkey", F.explode("m").alias("priority", "doubled_cents")
    ).select(
        "custkey", "priority",
        F.col("doubled_cents").cast("long").alias("doubled_cents"),
    )
