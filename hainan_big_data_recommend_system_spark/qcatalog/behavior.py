"""Behavioral-analytics queries — funnel, event paths, RFM, CDC.

The reference system consumes per-user event streams one user at a time
(guessLike.py:61-108); these queries are the corpus-wide analytics a
team operating that system would run over the same logs: did users move
down the view->click->purchase funnel, which event sequences recur, and
how customers segment by recency/frequency/monetary value.  They are
pure DataFrame compositions (keyed aggregates + keyed windows) — no
Python, no unbounded windows — and each is hash-oracled against an
independent DuckDB formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..operators.funnel import funnel_steps, funnel_summary
from . import register, register_extra

_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WITHIN = 7 * 86400  # whole chain within 7 days of the first view

_FUNNEL_USER_SQL = r"""
    WITH s1 AS (
        SELECT user_id AS user, min(ts) AS t_step_1
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT s1.user, s1.t_step_1, min(e.ts) AS t_step_2
        FROM s1 LEFT JOIN events e
          ON e.user_id = s1.user AND e.event_type = 'click'
         AND e.ts > s1.t_step_1
         AND e.ts <= s1.t_step_1 + INTERVAL 7 DAY
        GROUP BY 1, 2
    ),
    s3 AS (
        SELECT s2.user, s2.t_step_1, s2.t_step_2, min(e.ts) AS t_step_3
        FROM s2 LEFT JOIN events e
          ON e.user_id = s2.user AND e.event_type = 'purchase'
         AND e.ts > s2.t_step_2
         AND e.ts <= s2.t_step_1 + INTERVAL 7 DAY
        GROUP BY 1, 2, 3
    )
    SELECT user,
           CAST((t_step_1 IS NOT NULL) AS BIGINT)
           + CAST((t_step_2 IS NOT NULL) AS BIGINT)
           + CAST((t_step_3 IS NOT NULL) AS BIGINT) AS steps_completed,
           t_step_1, t_step_2, t_step_3
    FROM s3
"""


@register_extra("funnel_user_paths", _FUNNEL_USER_SQL)
def q_funnel_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest strictly-ordered view->click->purchase chain per user,
    whole chain within 7 days of the first view
    (operators/funnel.py).  The oracle rebuilds the chain with
    correlated min-joins; a wrong strictness (>= vs >), a re-anchored
    deadline, or a missed NULL propagation breaks the hash on the
    affected users."""
    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(
        ev, "user_id", "ts", "event_type", _FUNNEL_STEPS,
        within_seconds=_FUNNEL_WITHIN,
    )


@register_extra(
    "funnel_conversion",
    f"""
    WITH per_user AS ({_FUNNEL_USER_SQL}),
    agg AS (
        SELECT
            CAST(sum(CASE WHEN steps_completed >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
            CAST(sum(CASE WHEN steps_completed >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
            CAST(sum(CASE WHEN steps_completed >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_3
        FROM per_user
    ),
    steps AS (
        SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS step_index, n_1 AS users_reached,
                   n_1 AS first_n, NULL::BIGINT AS prev_n FROM agg
            UNION ALL
            SELECT 2, n_2, n_1, n_1 FROM agg
            UNION ALL
            SELECT 3, n_3, n_1, n_2 FROM agg
        )
    )
    SELECT step_index, users_reached,
           users_reached * 10000 // first_n AS conv_from_first_bp,
           coalesce(users_reached * 10000 // prev_n, 10000)
               AS conv_from_prev_bp
    FROM steps
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step funnel summary with exact-basis-point conversions
    (integer `div` on both engines — a double quotient can round across
    an integer at large counts).  3 rows; the bounded 3-row lag window
    is the packing.py discipline."""
    ev = load_table(spark, sf_dir, "events")
    per_user = funnel_steps(
        ev, "user_id", "ts", "event_type", _FUNNEL_STEPS,
        within_seconds=_FUNNEL_WITHIN,
    )
    return funnel_summary(per_user, len(_FUNNEL_STEPS))


@register_extra(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ),
    pairs AS (
        SELECT from_type, to_type, count(*) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    totals AS (
        SELECT from_type, sum(n) AS t FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type,
           CAST(p.n AS BIGINT) AS n_transitions,
           CAST(t.t AS BIGINT) AS from_total,
           CAST(p.n * 1000000 // t.t AS BIGINT) AS prob_micros
    FROM pairs p JOIN totals t USING (from_type)
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the Sankey/path-analysis primitive: for every
    (from_type, to_type) pair the transition count and the exact
    integer probability (micros, floor `div`).  One user-partitioned
    lead window (deterministic (ts, event_id) order), one
    map-side-combined count, and a broadcast-sized totals join — the
    reference's per-user event loop (guessLike.py:61-108) never
    aggregates across users; this is that corpus-wide view."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("from_total")
    )
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.col("from_total").cast("long").alias("from_total"),
        F.expr("n_transitions * 1000000 div from_total").alias(
            "prob_micros"
        ),
    )


@register_extra(
    "event_interarrival_stats",
    """
    WITH seq AS (
        SELECT event_type,
               epoch_us(lead(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id
               )) - epoch_us(ts) AS gap_us
        FROM events
    ),
    gaps AS (SELECT event_type, gap_us FROM seq WHERE gap_us IS NOT NULL),
    c AS (
        SELECT event_type, gap_us, count(*) AS cnt
        FROM gaps GROUP BY 1, 2
    ),
    cc AS (
        SELECT event_type, gap_us, cnt,
               sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY gap_us
               ) AS cum
        FROM c
    ),
    n AS (SELECT event_type, count(*) AS n FROM gaps GROUP BY 1),
    med AS (
        SELECT cc.event_type, gap_us AS median_gap_us
        FROM cc JOIN n USING (event_type)
        WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
    )
    SELECT g.event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(g.gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(g.gap_us) AS BIGINT) AS max_gap_us,
           CAST(sum(g.gap_us) AS BIGINT) AS total_gap_us,
           CAST(any_value(m.median_gap_us) AS BIGINT) AS median_gap_us
    FROM gaps g JOIN med m USING (event_type)
    GROUP BY 1
    """,
)
def q_event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival statistics over per-user event streams:
    gap extraction is one keyed lead window in exact MICROSECONDS
    (unix_micros / epoch_us — integer on both engines; per-second
    truncation diverges on sub-second timestamps); the EXACT median gap
    reuses the value-compression median (operators/anomaly.py
    exact_group_median — distinct-second running counts, never a
    one-task per-type sort), demonstrating the robust-stats operator
    as a reusable primitive.  All integers; the oracle replays the
    window and the compressed median independently."""
    from ..operators.anomaly import exact_group_median
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = (
        ev.select(
            "event_type",
            (
                F.unix_micros(F.lead("ts").over(w))
                - F.unix_micros("ts")
            )
            .cast("long")
            .alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    med = exact_group_median(
        gaps, ["event_type"], "gap_us", "median_gap_us"
    )
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.sum("gap_us").cast("long").alias("total_gap_us"),
    )
    return agg.join(F.broadcast(med), "event_type").select(
        "event_type", "n_gaps", "min_gap_us", "max_gap_us",
        "total_gap_us", "median_gap_us",
    )


@register_extra(
    "rfm_segments",
    """
    WITH c AS (
        SELECT o_custkey AS custkey,
               max(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                        AS BIGINT)) AS last_day,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    // 100 AS BIGINT) AS monetary_dollars
        FROM orders GROUP BY 1
    ),
    n AS (SELECT count(*) AS n FROM c),
    r AS (
        SELECT custkey,
               row_number() OVER (ORDER BY last_day, custkey) AS rr,
               row_number() OVER (ORDER BY n_orders, custkey) AS fr,
               row_number() OVER (ORDER BY monetary_dollars, custkey)
                   AS mr
        FROM c
    )
    SELECT c.custkey, c.last_day, c.n_orders, c.monetary_dollars,
           CAST((rr - 1) * 5 // n.n + 1 AS BIGINT) AS r_score,
           CAST((fr - 1) * 5 // n.n + 1 AS BIGINT) AS f_score,
           CAST((mr - 1) * 5 // n.n + 1 AS BIGINT) AS m_score,
           CAST((rr - 1) * 5 // n.n + 1 AS VARCHAR)
           || CAST((fr - 1) * 5 // n.n + 1 AS VARCHAR)
           || CAST((mr - 1) * 5 // n.n + 1 AS VARCHAR) AS rfm_segment
    FROM c JOIN r USING (custkey) CROSS JOIN n
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation (operators/ranking.py): per customer
    the recency/frequency/monetary quintile scores and the composite
    segment — the classic retail version of the reference's user
    profiling (§3.2).  Each score comes from the DISTRIBUTED global
    rank (value-compressed running counts + per-value tie windows,
    never a per-row global sort window) and the deterministic bucket
    formula (rank-1)*5 div n + 1, which the oracle replays with a
    plain row_number(); monetary is quantized to whole dollars (the
    bounded-domain discipline the rank decomposition documents)."""
    from ..operators.ranking import distributed_global_rank, quantile_bucket

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(
            F.datediff(
                F.to_date("o_orderdate"),
                F.lit("1970-01-01").cast("date"),
            ).cast("long")
        ).alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr(
            "cast(sum(cast(round(o_totalprice * 100) as bigint)) "
            "div 100 as bigint)"
        ).alias("monetary_dollars"),
    )
    n = F.broadcast(c.agg(F.count(F.lit(1)).alias("__n")))
    ranked = distributed_global_rank(c, "last_day", ["custkey"], "rr")
    ranked = distributed_global_rank(ranked, "n_orders", ["custkey"], "fr")
    ranked = distributed_global_rank(
        ranked, "monetary_dollars", ["custkey"], "mr"
    ).crossJoin(n)
    scored = ranked.select(
        "custkey",
        "last_day",
        "n_orders",
        "monetary_dollars",
        quantile_bucket("rr", "__n", 5).cast("long").alias("r_score"),
        quantile_bucket("fr", "__n", 5).cast("long").alias("f_score"),
        quantile_bucket("mr", "__n", 5).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


@register_extra(
    "orders_cdc_apply",
    """
    WITH log AS (
        SELECT o_orderkey AS key, j AS seq,
               CASE WHEN j = 0 THEN 'I'
                    WHEN j = o_orderkey % 3 AND o_orderkey % 7 = 0
                    THEN 'D' ELSE 'U' END AS op,
               (['P', 'S', 'F'])[1 + (o_orderkey + j) % 3] AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) + j
                   AS value_cents
        FROM orders,
             LATERAL (SELECT unnest(range(0, 1 + o_orderkey % 3)) AS j)
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY key ORDER BY seq DESC)
                   AS rn,
               count(*) OVER (PARTITION BY key) AS n_versions
        FROM log
    )
    SELECT key, CAST(seq AS BIGINT) AS seq, status, value_cents,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE compaction (operators/cdc.py): a deterministic
    changelog synthesized from orders (1-3 versions per key; keys
    divisible by 7 end in a delete) compacts to final state with ONE
    key-partitioned window — last-writer-wins, terminal deletes drop
    the row, n_versions audits churn.  The oracle replays generation
    and compaction; an ordering or delete-handling bug flips rows for
    every multi-version key."""
    from ..operators.cdc import cdc_apply

    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        F.col("o_orderkey").alias("key"),
        F.explode(
            F.sequence(F.lit(0), (F.col("o_orderkey") % 3).cast("int"))
        ).alias("seq"),
        F.col("o_orderkey").alias("__k"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("__cents"),
    ).select(
        "key",
        F.col("seq").cast("long").alias("seq"),
        F.when(F.col("seq") == 0, F.lit("I"))
        .when(
            (F.col("seq") == F.col("__k") % 3)
            & (F.col("__k") % 7 == 0),
            F.lit("D"),
        )
        .otherwise(F.lit("U"))
        .alias("op"),
        F.element_at(
            F.array(F.lit("P"), F.lit("S"), F.lit("F")),
            ((F.col("__k") + F.col("seq")) % 3 + 1).cast("int"),
        ).alias("status"),
        (F.col("__cents") + F.col("seq")).alias("value_cents"),
    )
    out = cdc_apply(log, ["key"], "seq", "op")
    return out.select(
        "key", "seq", "status", "value_cents", "n_versions"
    )


@register_extra(
    "frequent_event_paths",
    """
    WITH seq AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
        FROM seq WHERE e3 IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS t FROM paths),
    ranked AS (
        SELECT path, n,
               row_number() OVER (ORDER BY n DESC, path) AS rk
        FROM paths
    )
    SELECT path, CAST(n AS BIGINT) AS n_paths,
           CAST(rk AS BIGINT) AS rank,
           CAST(n * 1000000 // t AS BIGINT) AS share_micros
    FROM ranked CROSS JOIN tot
    WHERE rk <= 25
    """,
)
def q_frequent_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 3-step event paths across all users (the Sankey/top-paths
    product view): per-user ordered trigram extraction is ONE keyed
    window with two leads; counting is a map-side-combined groupBy; the
    deterministic top-25 ranks by (count desc, path) so ties are
    engine-stable; shares are exact integer micros.  The final rank
    window runs over the trigram-type table (|event_types|^3 = 125 rows
    max here; bounded by the type vocabulary, not the corpus — the
    documented bounded-window discipline)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = F.broadcast(paths.agg(F.sum("n").alias("t")))
    ranked = paths.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("path"))
        ),
    ).where(F.col("rank") <= 25)
    return ranked.crossJoin(tot).select(
        "path",
        F.col("n").cast("long").alias("n_paths"),
        F.col("rank").cast("long").alias("rank"),
        F.expr("n * 1000000 div t").alias("share_micros"),
    )


@register(
    "customer_360",
    f"""
    WITH c AS (
        SELECT o_custkey AS custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    // 100 AS BIGINT) AS monetary_dollars
        FROM orders GROUP BY 1
    ),
    nn AS (SELECT count(*) AS n FROM c),
    m AS (
        SELECT custkey,
               row_number() OVER (ORDER BY monetary_dollars, custkey)
                   AS mr
        FROM c
    ),
    funnel AS ({_FUNNEL_USER_SQL}),
    v AS (
        SELECT user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    vc AS (
        SELECT event_type, cents, count(*) AS cnt FROM v GROUP BY 1, 2
    ),
    vcc AS (
        SELECT event_type, cents, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY cents)
                   AS cum
        FROM vc
    ),
    vn AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
    med AS (
        SELECT vcc.event_type, cents AS med
        FROM vcc JOIN vn USING (event_type)
        WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
    ),
    dev AS (
        SELECT v.user_id, v.event_type, abs(cents - med) AS d
        FROM v JOIN med USING (event_type)
    ),
    dc AS (
        SELECT event_type, d, count(*) AS cnt FROM dev GROUP BY 1, 2
    ),
    dcc AS (
        SELECT event_type, d, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY d) AS cum
        FROM dc
    ),
    mad AS (
        SELECT dcc.event_type, d AS mad
        FROM dcc JOIN vn USING (event_type)
        WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
    ),
    anom AS (
        SELECT dev.user_id, count(*) AS n_anomalous
        FROM dev JOIN mad USING (event_type)
        WHERE d > 3 * mad GROUP BY 1
    )
    SELECT c.custkey, c.n_orders, c.monetary_dollars,
           CAST((m.mr - 1) * 5 // nn.n + 1 AS BIGINT) AS m_score,
           CAST(coalesce(f.steps_completed, 0) AS BIGINT)
               AS funnel_steps,
           CAST(coalesce(a.n_anomalous, 0) AS BIGINT)
               AS n_anomalous_events
    FROM c
    JOIN m USING (custkey) CROSS JOIN nn
    LEFT JOIN funnel f ON f.user = c.custkey
    LEFT JOIN anom a ON a.user_id = c.custkey
    """,
)
def q_customer_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mart composition: one row per customer joining the
    orders-side profile (order count, whole-dollar monetary, monetary
    quintile via the distributed global rank) with the events-side
    behavior (funnel steps completed, robust-outlier event count) —
    REUSING four session operators (ranking, funnel, anomaly,
    quantile-bucket) in one plan.  Event-side facts left-join onto the
    customer spine and coalesce to 0 (most customers have no event
    stream at this SF).  The oracle recomposes every stage
    independently, so a drift in ANY reused operator breaks the mart
    row hash."""
    from ..operators.anomaly import robust_outliers
    from ..operators.funnel import funnel_steps
    from ..operators.ranking import distributed_global_rank, quantile_bucket

    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")

    c = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr(
            "cast(sum(cast(round(o_totalprice * 100) as bigint)) "
            "div 100 as bigint)"
        ).alias("monetary_dollars"),
    )
    n = F.broadcast(c.agg(F.count(F.lit(1)).alias("__n")))
    ranked = distributed_global_rank(
        c, "monetary_dollars", ["custkey"], "mr"
    ).crossJoin(n)
    spine = ranked.select(
        "custkey",
        "n_orders",
        "monetary_dollars",
        quantile_bucket("mr", "__n", 5).cast("long").alias("m_score"),
    )

    funnel = funnel_steps(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within_seconds=7 * 86400,
    ).select(
        F.col("user").alias("custkey"),
        F.col("steps_completed").alias("funnel_steps"),
    )
    flagged = robust_outliers(
        ev.select(
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ),
        ["event_type"],
        "cents",
        k_mads=3,
    )
    anom = flagged.groupBy(F.col("user_id").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_anomalous_events")
    )
    return (
        spine.join(F.broadcast(funnel), "custkey", "left")
        .join(F.broadcast(anom), "custkey", "left")
        .select(
            "custkey",
            "n_orders",
            "monetary_dollars",
            "m_score",
            F.coalesce("funnel_steps", F.lit(0))
            .cast("long")
            .alias("funnel_steps"),
            F.coalesce("n_anomalous_events", F.lit(0))
            .cast("long")
            .alias("n_anomalous_events"),
        )
    )
