"""Event-time window queries (SURVEY.md §2.10 extension surface).

The window functions in :mod:`..streaming.events` are plain DataFrame ops,
so the same code runs under ``readStream`` (tested in
tests/test_streaming.py) and as batch — here they run as batch against the
``events`` table and are oracle-checked against DuckDB's equivalent
epoch-bucket / island formulations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..streaming.events import session_counts, sliding_counts, tumbling_counts
from . import register, register_extra


# ---------------------------------------------------------------------------
# Tumbling 1-hour windows (epoch-aligned, same as Spark's F.window)
# ---------------------------------------------------------------------------

@register_extra(
    "windowed_event_counts",
    """
    SELECT TIMESTAMP '1970-01-01 00:00:00'
               + to_seconds(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)) AS wstart,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE ts IS NOT NULL  -- Spark's window() drops NULL event times
    GROUP BY 1, 2
    """,
)
def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev, window="1 hour")


# ---------------------------------------------------------------------------
# Sliding windows: 1 hour wide, 30-minute slide → each event in exactly 2
# windows, starts at the two preceding 30-minute boundaries
# ---------------------------------------------------------------------------

@register_extra(
    "sliding_event_counts",
    """
    SELECT wstart, event_type, count(*) AS n FROM (
        SELECT unnest([
                   TIMESTAMP '1970-01-01 00:00:00'
                       + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)),
                   TIMESTAMP '1970-01-01 00:00:00'
                       + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT))
                       - INTERVAL 30 MINUTE
               ]) AS wstart,
               event_type
        FROM events
        WHERE ts IS NOT NULL  -- Spark's window() drops NULL event times
    )
    GROUP BY wstart, event_type
    """,
)
def q_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev, window="1 hour", slide="30 minutes")


# ---------------------------------------------------------------------------
# The driver-checked event-time-window query: tumbling AND sliding windows
# in one tagged union (the per-kind queries above stay in the extra
# registry, same oracles).  Both kinds are the same streaming operators
# (streaming/events.py) run as batch; sliding rows carry NULL value_cents
# because the sliding aggregate only counts.
# ---------------------------------------------------------------------------

@register_extra(  # demoted rotation #9 (r11): facet coverage rides driver rows
    "event_time_windows",
    """
    SELECT 'tumbling' AS win_kind,
           TIMESTAMP '1970-01-01 00:00:00'
               + to_seconds(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)) AS wstart,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE ts IS NOT NULL  -- Spark's window() drops NULL event times
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS win_kind, wstart, event_type,
           count(*) AS n, CAST(NULL AS BIGINT) AS value_cents
    FROM (
        SELECT unnest([
                   TIMESTAMP '1970-01-01 00:00:00'
                       + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)),
                   TIMESTAMP '1970-01-01 00:00:00'
                       + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT))
                       - INTERVAL 30 MINUTE
               ]) AS wstart,
               event_type
        FROM events
        WHERE ts IS NOT NULL  -- Spark's window() drops NULL event times
    )
    GROUP BY wstart, event_type
    """,
)
def q_event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tumb = tumbling_counts(ev, window="1 hour").select(
        F.lit("tumbling").alias("win_kind"),
        "wstart",
        "event_type",
        "n",
        "value_cents",
    )
    slid = sliding_counts(ev, window="1 hour", slide="30 minutes").select(
        F.lit("sliding").alias("win_kind"),
        "wstart",
        "event_type",
        "n",
        F.lit(None).cast("bigint").alias("value_cents"),
    )
    return tumb.unionByName(slid)


# ---------------------------------------------------------------------------
# Session windows (30-minute gap) — the islands formulation in SQL:
# new session when the gap from the previous event is >= the gap duration
# (Spark session windows are [start, last+gap), end-exclusive)
# ---------------------------------------------------------------------------

@register_extra(  # extra since rotation #11: sessionization rides
    # temporal_join_click_view (driver) + sessionized_events (local)
    "session_event_counts",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WHERE ts IS NOT NULL  -- Spark's session_window() drops NULL times
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n
    FROM sess
    GROUP BY user_id, sid
    """,
)
def q_session_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_counts(ev, gap="30 minutes")


# ---------------------------------------------------------------------------
# As-of join (extension surface; SURVEY.md §2.3 lists it as absent in the
# reference) — for each click, the latest view by the same user at or
# before it.  Oracle = DuckDB's native ASOF LEFT JOIN; the Spark side is
# the union+window distributed as-of (operators/asof.py).
# ---------------------------------------------------------------------------

@register_extra(
    "asof_click_view",
    """
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
           v.ts AS ts_r, v.event_id AS event_id_r,
           CAST(round(v.value * 100) AS BIGINT) AS view_value_cents
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
)
def q_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("click_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks,
        views,
        on="user_id",
        left_ts="click_ts",
        right_ts="ts",
        right_payload=["event_id", "value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "click_ts",
        "ts_r",
        "event_id_r",
        F.round(F.col("value_r") * 100).cast("bigint").alias("view_value_cents"),
    )


# ---------------------------------------------------------------------------
# Interval join (extension surface; absent in the reference) — click↔view
# pairs by the same user within ±30 minutes.  Spark side is the banded
# equi-join (operators/rangejoin.py: bucket = floor(epoch/tol), replicate
# one side ×3, exact filter); oracle is DuckDB's plain inequality join —
# banding must not add or drop a single pair.
# ---------------------------------------------------------------------------

@register_extra(
    "interval_click_view",
    """
    SELECT c.event_id, c.user_id, c.ts,
           v.event_id AS event_id_r, v.ts AS ts_r,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS dt_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND abs(epoch_us(c.ts) - epoch_us(v.ts)) <= 1800 * 1000000
    """,
)
def q_interval_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    out = interval_join(
        clicks, views, on="user_id", left_ts="ts", right_ts="ts", tolerance_s=1800
    )
    dt = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))
    return out.select(
        "event_id", "user_id", "ts", "event_id_r", "ts_r", dt.alias("dt_us")
    )


# ---------------------------------------------------------------------------
# The driver-checked temporal-join query: the as-of match AND the ±30 min
# interval pairs in one tagged union (per-kind queries stay in the extra
# registry, same oracles).  `metric` is the kind's own measure: matched
# view value in cents for as-of rows, signed click−view delta in micros
# for interval rows.
# ---------------------------------------------------------------------------

@register(
    "temporal_join_click_view",
    """
    SELECT 'asof' AS join_kind, c.event_id, c.user_id, c.ts,
           v.event_id AS event_id_r, v.ts AS ts_r,
           CAST(round(v.value * 100) AS BIGINT) AS metric
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    UNION ALL
    SELECT 'interval' AS join_kind, c.event_id, c.user_id, c.ts,
           v.event_id AS event_id_r, v.ts AS ts_r,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS metric
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND abs(epoch_us(c.ts) - epoch_us(v.ts)) <= 1800 * 1000000
    """,
)
def q_temporal_join_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    asof = q_asof_click_view(spark, sf_dir).select(
        F.lit("asof").alias("join_kind"),
        "event_id",
        "user_id",
        F.col("click_ts").alias("ts"),
        "event_id_r",
        "ts_r",
        F.col("view_value_cents").alias("metric"),
    )
    interval = q_interval_click_view(spark, sf_dir).select(
        F.lit("interval").alias("join_kind"),
        "event_id",
        "user_id",
        "ts",
        "event_id_r",
        "ts_r",
        F.col("dt_us").alias("metric"),
    )
    return asof.unionByName(interval)


# ---------------------------------------------------------------------------
# Stratified sampling (training-data rebalancing; extension surface).
# Survival is a pure function of (seed, event_id) via md5 — bit-identical
# in DuckDB, so the *sampled rows themselves* are oracle-checked, not just
# the rates.  Retry-safe by construction (O4 determinism rule).
# ---------------------------------------------------------------------------

_STRATA = {"click": 0.5, "view": 0.1, "purchase": 1.0, "error": 0.25}


# Demoted to EXTRA in round 5 (still oracle-checked locally): the driver
# slot went to mixture_sample_temperature, which exercises the same
# hash-threshold Bernoulli mechanism with DATA-DERIVED per-domain rates
# (a strict superset of the fixed-fractions facet); deterministic-sampling
# coverage also rides seeded_sample_orders' driver row (O4).
@register_extra(
    "stratified_sample_events",
    """
    SELECT event_id, event_type, user_id
    FROM events
    WHERE ('0x' || substr(md5('42:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0
          < CASE event_type
                WHEN 'click' THEN 0.5
                WHEN 'view' THEN 0.1
                WHEN 'purchase' THEN 1.0
                WHEN 'error' THEN 0.25
                ELSE 0.0
            END
    """,
)
def q_stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    return stratified_sample(
        ev, "event_type", _STRATA, key=F.col("event_id"), seed="42"
    )


# ---------------------------------------------------------------------------
# Sketch aggregates (approx_count_distinct = HyperLogLog++, approximate
# percentiles) — rows-only: sketch internals are engine-specific by design,
# so the invariants (≤5% HLL error vs exact, percentile ordering/bounds)
# are asserted in tests/test_sketches.py instead of a hash match.
# Scalar columns only: the driver's rows-only canonicalizer sorts a pandas
# frame over every column and dies on array cells, so the two percentiles
# come back as separate p50/p95 doubles, never one array<double>.
# ---------------------------------------------------------------------------

# EXTRA since round 4: rows-only in the driver anyway (sketches are
# approximate by definition); the real verification is the error-bound
# invariants in tests/test_sketches.py — the freed slot went to an
# oracled pipeline flagship.
@register_extra("sketch_event_stats", None)
def q_sketch_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("value_p50"),
        F.percentile_approx("value", 0.95, 10_000).alias("value_p95"),
    )


# EXTRA rows-only, same rationale as sketch_event_stats: the sketch's
# binary layout is engine-specific; error bounds are the testable contract
# (tests/test_sketches.py).
@register_extra("cms_heavy_hitters", None)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the exact top-10 users —
    the heavy-hitters member of the sketch family (HLL++ distincts,
    approx percentiles, CMS counts).  The sketch is built by a
    distributed treeAggregate (eps=0.1% of stream length, 99% confidence,
    pinned seed); driver state is the few-KB sketch plus the bounded
    top-10 probe list.  At 100 TB the sketch replaces the exact groupBy
    when only hot-key estimates are needed: one map pass, mergeable,
    fixed memory."""
    ev = load_table(spark, sf_dir, "events")
    # the SQL aggregate builds the sketch distributed (partial merge);
    # the driver deserializes the few-KB binary to probe it
    sk = ev.select(
        F.expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").alias("s")
    ).collect()[0]["s"]
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(sk))
    top = (
        ev.groupBy("user_id")
        .count()
        .orderBy(F.desc("count"), F.asc("user_id"))
        .limit(10)
        .collect()  # bounded: exactly 10 rows
    )
    data = [
        (int(r["user_id"]), int(r["count"]), int(cms.estimateCount(int(r["user_id"]))))
        for r in top
    ]
    return spark.createDataFrame(data, "user_id long, exact_n long, cms_n long")


# ---------------------------------------------------------------------------
# Exact per-group quantiles (percentile_disc semantics) — the oracled exact
# counterpart to `sketch_event_stats`' approx percentiles.  Rank selection
# (value at row_number == ceil(p*n)) is pure integer arithmetic over a
# deterministic sort, so it hash-matches cross-engine where interpolating
# quantile_cont floats would not.  One shuffle on the group key; at 100 TB
# per-key quantiles this shape beats a global sort, and the approx sketch
# (sketch_event_stats) is the single-pass scale path when exactness is
# negotiable.
# ---------------------------------------------------------------------------

@register_extra(
    "event_value_quantiles",
    """
    WITH v AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_type, pname,
           CAST(round(value * 100) AS BIGINT) AS q_cents
    FROM v, (VALUES ('p25', 0.25), ('p50', 0.50), ('p75', 0.75),
                    ('p95', 0.95)) ps(pname, p)
    WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))
    """,
)
def q_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.asc("value"), F.asc("event_id"))
    wc = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    ps = F.explode(
        F.array(
            *[
                F.struct(F.lit(nm).alias("pname"), F.lit(p).alias("p"))
                for nm, p in [("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95)]
            ]
        )
    ).alias("ps")
    return (
        v.select("event_type", "value", "rn", "n", ps)
        .filter(
            F.col("rn")
            == F.greatest(F.lit(1), F.ceil(F.col("ps.p") * F.col("n")).cast("bigint"))
        )
        .select(
            "event_type",
            F.col("ps.pname").alias("pname"),
            F.round(F.col("value") * 100).cast("bigint").alias("q_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization — the relational counterpart to the streaming
# session window (`session_event_counts`): a new session starts after a
# >30 min silence.  lag + running sum over one per-user sort; gap math on
# integer epoch-micros so the session boundaries hash-match cross-engine.
# ---------------------------------------------------------------------------

@register_extra(
    "sessionized_events",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us
        FROM events
        WHERE ts IS NOT NULL  -- NULL ordering differs cross-engine
    ),
    marks AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - lag(us) OVER (
                        PARTITION BY user_id ORDER BY us, event_id
                    ) > 1800000000
                    OR lag(us) OVER (
                        PARTITION BY user_id ORDER BY us, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
    )
    SELECT user_id, event_id,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_seq
    FROM marks
    """,
)
def q_sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    marks = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    ).withColumn(
        "is_new",
        F.when(
            (gap > 1_800_000_000) | F.lag("us").over(w).isNull(), 1
        ).otherwise(0),
    )
    return marks.select(
        "user_id",
        "event_id",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_seq"),
    )


# ---------------------------------------------------------------------------
# Exponentially-decayed popularity (round 6): the hot-list freshness
# upgrade — the reference's hot ranking (A7, `log_analyze.py` hot_books)
# counts all-time occurrences; production hot lists decay by recency.
# Half-life decay is the classic formulation, and with weights pinned to
# POWERS OF TWO per whole elapsed half-life it is exact integer math:
# weight(e) = 2^(kmax - k(e)) at scale 2^kmax, k = whole half-lives
# before the newest event.  No floats -> the oracle rebuilds identical
# scores.  Scale shape: one scan computes k, one broadcastable 1-row max,
# one groupBy sum (decimal(38) — 2^kmax * n stays inside at the pinned
# 7-day half-life for century-scale spans).
# ---------------------------------------------------------------------------

_HALFLIFE_US = 7 * 86400 * 1_000_000  # 7 days

_DECAY_SQL = f"""
    WITH m AS (
        SELECT max(epoch_us(ts)) AS mx FROM events WHERE ts IS NOT NULL
    ),
    k AS (
        SELECT event_type,
               (mx - epoch_us(ts)) // {_HALFLIFE_US} AS k
        FROM events, m WHERE ts IS NOT NULL
    ),
    kk AS (SELECT max(k) AS kmax FROM k),
    s AS (
        SELECT event_type, kmax,
               count(*) AS n_events,
               sum(CAST(1 AS HUGEINT) << CAST(kmax - k AS INT)) AS ssum
        FROM k, kk GROUP BY event_type, kmax
    )
    SELECT event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(kmax AS BIGINT) AS kmax,
           CAST(ssum * 1000 // (CAST(1 AS HUGEINT) << CAST(kmax AS INT))
                AS BIGINT) AS decayed_count_milli
    FROM s
"""


@register_extra("decayed_hot_events", _DECAY_SQL)
def q_decayed_hot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed event popularity per type: every event weighs
    ``2^-(whole half-lives before the newest event)``, summed at scale
    ``2^kmax`` in exact integers and reported as milli-scaled effective
    count (``1000`` = one brand-new event).  The freshness-aware variant
    of the reference's hot ranking, bit-exact cross-engine."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros("ts")
    mx = ev.agg(F.max(us).alias("mx"))
    k = ev.select(
        "event_type",
        F.floor((F.broadcast(mx).head()[0] - us) / _HALFLIFE_US)
        .cast("long")
        .alias("k"),
    )
    kmax = k.agg(F.max("k")).head()[0]
    if kmax > 62:
        raise ValueError(
            f"event span of {kmax} half-lives overflows the int64 per-row "
            "weight; raise the half-life for this corpus"
        )
    s = k.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.expr(f"cast(shiftleft(1L, {kmax} - k) as decimal(38,0))")
        ).alias("__s"),
    )
    return s.select(
        "event_type",
        "n_events",
        F.lit(kmax).cast("bigint").alias("kmax"),
        F.expr(
            f"cast((__s * 1000) div cast('{1 << kmax}' as decimal(38,0)) "
            "as bigint)"
        ).alias("decayed_count_milli"),
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch (round 6): single-pass mergeable quantile
# estimation pinned to integers.  approx_percentile's GK sketch is
# engine-internal (rows-only family); a fixed 1024-bucket histogram over
# the integerized value range is the classic alternative whose STATE
# (bucket counts) is mergeable by addition and whose estimate is exact
# integer arithmetic — so the whole sketch is oracle-checkable.
# ---------------------------------------------------------------------------

_HQ_BUCKETS = 1024

_HQ_SQL = f"""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL
    ),
    mm AS (
        SELECT min(c) AS mn, max(c) AS mx, count(*) AS n FROM v
    ),
    b AS (
        SELECT (c - mn) * {_HQ_BUCKETS} // (mx - mn + 1) AS bucket,
               count(*) AS cnt
        FROM v, mm GROUP BY bucket
    ),
    cum AS (
        SELECT bucket, cnt,
               sum(cnt) OVER (ORDER BY bucket) AS cum
        FROM b
    ),
    q AS (SELECT unnest([50, 90, 99]) AS q),
    rk AS (
        SELECT q, (n * q + 99) // 100 AS rk, mn, mx, n
        FROM q, mm
    ),
    hit AS (
        SELECT rk.q, rk.rk, rk.mn, rk.mx, rk.n, c.bucket, c.cnt, c.cum
        FROM rk JOIN cum c
          ON c.cum >= rk.rk AND c.cum - c.cnt < rk.rk
    )
    SELECT q,
           CAST(n AS BIGINT) AS n,
           CAST(rk AS BIGINT) AS target_rank,
           CAST(mn + (bucket * (mx - mn + 1)) // {_HQ_BUCKETS}
                + (((bucket + 1) * (mx - mn + 1)) // {_HQ_BUCKETS}
                   - (bucket * (mx - mn + 1)) // {_HQ_BUCKETS})
                  * (rk - (cum - cnt)) // (cnt + 1)
                AS BIGINT) AS est_cents
    FROM hit
"""


@register_extra("histogram_quantiles", _HQ_SQL)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of the event value via a 1024-bucket integer
    histogram: one scan builds the bucket counts (the mergeable state —
    re-aggregation is addition), a window over AT MOST 1024 rows
    cumulates them (the packing-style benign global window), and the
    estimate interpolates inside the hit bucket with pure integer
    division.  Accuracy is bounded by the bucket width (range/1024);
    the estimate itself is bit-exact cross-engine, unlike
    approx_percentile's engine-internal GK state."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(F.round(F.col("value") * 100).cast("bigint").alias("c"))
    mm = v.agg(
        F.min("c").alias("mn"), F.max("c").alias("mx"), F.count("c").alias("n")
    ).head()
    mn, mx, n = int(mm["mn"]), int(mm["mx"]), int(mm["n"])
    rng = mx - mn + 1
    b = (
        # Integer `div`, not `/`: double division rounds across integers
        # for ranges near 1e14 cents, silently misassigning buckets; the
        # oracle uses exact `//` so the cross-engine guarantee needs the
        # same exact quotient here.
        v.select(F.expr(f"(c - {mn}) * {_HQ_BUCKETS} div {rng}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    cum = b.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bucket"))
    )
    quants = spark.createDataFrame(
        [(q, (n * q + 99) // 100) for q in (50, 90, 99)], "q int, rk long"
    )
    hit = quants.join(
        cum,
        (F.col("cum") >= F.col("rk")) & (F.col("cum") - F.col("cnt") < F.col("rk")),
    )
    lo = F.lit(mn) + F.expr(f"bucket * {rng} div {_HQ_BUCKETS}")
    width = F.expr(
        f"(bucket + 1) * {rng} div {_HQ_BUCKETS} - bucket * {rng} div {_HQ_BUCKETS}"
    )
    return hit.select(
        "q",
        F.lit(n).cast("bigint").alias("n"),
        F.col("rk").cast("bigint").alias("target_rank"),
        (
            lo
            + F.expr(
                f"((bucket + 1) * {rng} div {_HQ_BUCKETS}"
                f" - bucket * {rng} div {_HQ_BUCKETS})"
                " * (rk - (cum - cnt)) div (cnt + 1)"
            )
        )
        .cast("bigint")
        .alias("est_cents"),
    )


@register_extra(
    "anomalous_events",
    """
    WITH v AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    c AS (
        SELECT event_type, value_cents, count(*) AS cnt
        FROM v GROUP BY 1, 2
    ),
    cc AS (
        SELECT event_type, value_cents, cnt,
               sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY value_cents
               ) AS cum
        FROM c
    ),
    n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
    med AS (
        SELECT cc.event_type, value_cents AS median_value_cents
        FROM cc JOIN n USING (event_type)
        WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
    ),
    d AS (
        SELECT v.*, median_value_cents,
               abs(value_cents - median_value_cents)
                   AS deviation_value_cents
        FROM v JOIN med USING (event_type)
    ),
    dc AS (
        SELECT event_type, deviation_value_cents AS dev, count(*) AS cnt
        FROM d GROUP BY 1, 2
    ),
    dcc AS (
        SELECT event_type, dev, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY dev)
                   AS cum
        FROM dc
    ),
    mad AS (
        SELECT dcc.event_type, dev AS mad_value_cents
        FROM dcc JOIN n USING (event_type)
        WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
    )
    SELECT event_id, event_type, value_cents, median_value_cents,
           mad_value_cents, deviation_value_cents
    FROM d JOIN mad USING (event_type)
    WHERE deviation_value_cents > 3 * mad_value_cents
    """,
)
def q_anomalous_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen (operators/anomaly.py): events
    whose cents value deviates from the type's EXACT lower median by
    more than 3x the exact MAD.  The median is found by value
    compression (distinct-value running counts — never a one-task
    per-group sort), stats join back as one-row-per-group broadcasts,
    and everything is integer arithmetic, so the oracle's independent
    window-SQL replay hashes identically.  Reference analogue: the
    score trust the event loop extends to raw values
    (guessLike.py:61-108) — this is the screen it was missing."""
    from ..operators.anomaly import robust_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100)
        .cast("bigint")
        .alias("value_cents"),
    )
    return robust_outliers(
        ev, ["event_type"], "value_cents", k_mads=3
    ).select(
        "event_id",
        "event_type",
        "value_cents",
        "median_value_cents",
        "mad_value_cents",
        "deviation_value_cents",
    )


@register_extra(
    "event_value_percentiles_exact",
    """
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    cc AS (
        SELECT event_type, c, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY c)
                   AS cum
        FROM (SELECT event_type, c, count(*) AS cnt
              FROM v GROUP BY 1, 2)
    ),
    n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
    q AS (
        SELECT cc.event_type,
               min(CASE WHEN cum >= (n * 1 + 1) // 2
                         AND cum - cnt < (n * 1 + 1) // 2
                        THEN c END) AS p50_cents,
               min(CASE WHEN cum >= (n * 9 + 9) // 10
                         AND cum - cnt < (n * 9 + 9) // 10
                        THEN c END) AS p90_cents,
               min(CASE WHEN cum >= (n * 99 + 99) // 100
                         AND cum - cnt < (n * 99 + 99) // 100
                        THEN c END) AS p99_cents
        FROM cc JOIN n USING (event_type)
        GROUP BY 1
    )
    SELECT q.event_type,
           CAST(n.n AS BIGINT) AS n,
           CAST(p50_cents AS BIGINT) AS p50_cents,
           CAST(p90_cents AS BIGINT) AS p90_cents,
           CAST(p99_cents AS BIGINT) AS p99_cents
    FROM q JOIN n USING (event_type)
    """,
)
def q_event_value_percentiles_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-type p50/p90/p99 — the reproducible alternative to
    percentile_approx (whose sketch output is neither cross-engine nor
    run-to-run stable): three lower quantiles at ranks ceil(q*n) via
    the value-compressed quantile (operators/anomaly.py
    exact_group_quantile), joined back as one-row-per-group
    broadcasts.  The oracle replays the compressed cumulative-count
    window; ceil arithmetic is shared verbatim.  Note the DuckDB ceil
    spelling (n*k + den-1)//den == Spark's `div` form for positive n."""
    from ..operators.anomaly import exact_group_quantile

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    n = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    out = n
    for name, (qn, qd) in {
        "p50_cents": (1, 2),
        "p90_cents": (9, 10),
        "p99_cents": (99, 100),
    }.items():
        q = exact_group_quantile(ev, ["event_type"], "c", qn, qd, name)
        out = out.join(F.broadcast(q), "event_type")
    return out


@register_extra(
    "winsorized_event_stats",
    """
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    cc AS (
        SELECT event_type, c, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY c)
                   AS cum
        FROM (SELECT event_type, c, count(*) AS cnt
              FROM v GROUP BY 1, 2)
    ),
    n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
    b AS (
        SELECT cc.event_type,
               min(CASE WHEN cum >= (n * 1 + 99) // 100
                         AND cum - cnt < (n * 1 + 99) // 100
                        THEN c END) AS p01,
               min(CASE WHEN cum >= (n * 99 + 99) // 100
                         AND cum - cnt < (n * 99 + 99) // 100
                        THEN c END) AS p99
        FROM cc JOIN n USING (event_type) GROUP BY 1
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(b.p01 AS BIGINT) AS p01_cents,
           CAST(b.p99 AS BIGINT) AS p99_cents,
           CAST(sum(CASE WHEN c < p01 OR c > p99 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped,
           CAST(sum(greatest(least(c, p99), p01)) AS BIGINT)
               AS winsorized_sum_cents,
           CAST(sum(c) AS BIGINT) AS raw_sum_cents
    FROM v JOIN b USING (event_type)
    GROUP BY 1, b.p01, b.p99
    """,
)
def q_winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics: clamp to the EXACT
    [p01, p99] (operators/anomaly.py exact_group_quantile at ceil(q·n)
    ranks — reproducible, unlike percentile_approx), count the clamped
    tail, and compare winsorized vs raw sums — the robust-aggregation
    primitive that makes revenue metrics outlier-tolerant.  Bounds join
    back as one-row-per-group broadcasts; every number is an exact
    integer the oracle recomputes."""
    from ..operators.anomaly import exact_group_quantile

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    lo = exact_group_quantile(ev, ["event_type"], "c", 1, 100, "p01_cents")
    hi = exact_group_quantile(ev, ["event_type"], "c", 99, 100, "p99_cents")
    j = ev.join(F.broadcast(lo), "event_type").join(
        F.broadcast(hi), "event_type"
    )
    clamped = F.greatest(
        F.least(F.col("c"), F.col("p99_cents")), F.col("p01_cents")
    )
    return j.groupBy("event_type", "p01_cents", "p99_cents").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (
                (F.col("c") < F.col("p01_cents"))
                | (F.col("c") > F.col("p99_cents"))
            ).cast("long")
        )
        .cast("long")
        .alias("n_clamped"),
        F.sum(clamped).cast("long").alias("winsorized_sum_cents"),
        F.sum("c").cast("long").alias("raw_sum_cents"),
    ).select(
        "event_type", "n", "p01_cents", "p99_cents", "n_clamped",
        "winsorized_sum_cents", "raw_sum_cents",
    )


@register_extra(
    "cumulative_unique_users",
    """
    WITH f AS (
        SELECT user_id,
               min(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS day
        FROM events GROUP BY 1
    ),
    per AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM per
    """,
)
def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day — the growth-curve metric —
    via FIRST-OCCURRENCE decomposition: distinct-so-far(d) is just the
    count of users whose first event day <= d, so the running sum rides
    a window over DISTINCT DAYS (calendar-bounded), never a per-row
    global sort; first-occurrence itself is one map-side-combinable
    min per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "CAST(unix_micros(ts) div 86400000000 AS BIGINT)"
        ).alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    per = first.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@register_extra(
    "rolling_active_users_7d",
    """
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ),
    span AS (SELECT max(day) AS hi FROM ud),
    w AS (
        SELECT DISTINCT ud.user_id, wd.wd
        FROM ud, LATERAL (SELECT unnest(range(ud.day, ud.day + 7))
                          AS wd) wd
        WHERE wd.wd <= (SELECT hi FROM span)
    )
    SELECT wd AS day, CAST(count(*) AS BIGINT) AS active_users_7d
    FROM w GROUP BY 1
    """,
)
def q_rolling_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct actives per day (the WAU curve).
    Sliding DISTINCT does not decompose into per-day counts, so each
    (user, day) activity contributes itself to the 7 windows it falls
    in (a bounded 7x explode of the already-distinct user-day pairs)
    and a distinct+count per window day finishes it — shuffle volume
    7x the user-day table, never user x day-range.  Windows past the
    last observed day are cut so every emitted day has full data."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "CAST(unix_micros(ts) div 86400000000 AS BIGINT)"
        ).alias("day"),
    )
    ud = ev.distinct()
    hi = ud.agg(F.max("day").alias("hi"))
    exploded = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + 6)
            ).alias("day"),
        )
        .crossJoin(F.broadcast(hi))
        .filter(F.col("day") <= F.col("hi"))
        .select("user_id", "day")
        .distinct()
    )
    return exploded.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("active_users_7d")
    )


@register_extra(
    "ab_test_contingency",
    """
    WITH fv AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    conv AS (
        SELECT DISTINCT fv.user_id
        FROM fv JOIN events e
          ON e.user_id = fv.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= fv.first_view
    )
    SELECT CAST(fv.user_id % 2 AS BIGINT) AS variant,
           CAST(count(*) AS BIGINT) AS n_exposed,
           CAST(count(conv.user_id) AS BIGINT) AS n_converted,
           CAST(count(conv.user_id) * 10000 // count(*) AS BIGINT)
               AS conv_bp
    FROM fv LEFT JOIN conv USING (user_id)
    GROUP BY 1
    """,
)
def q_ab_test_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout: users split by a deterministic hash bucket
    (user_id % 2 — the assignment every experimentation system derives
    from a stable id), exposure = first view, conversion = any purchase
    AT OR AFTER first exposure (post-exposure discipline — counting
    pre-exposure purchases is the classic A/B bug), rates as exact
    integer basis points.  One semi-shaped join per side; the
    contingency table is the engine-independent artifact downstream
    significance tests consume."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    conv = (
        fv.join(
            purchases,
            (fv["user_id"] == purchases["user_id"])
            & (purchases["ts"] >= fv["first_view"]),
        )
        .select(fv["user_id"])
        .distinct()
        .withColumn("c", F.lit(1))
    )
    return (
        fv.join(conv, "user_id", "left")
        .groupBy((F.col("user_id") % 2).cast("long").alias("variant"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exposed"),
            F.count("c").cast("long").alias("n_converted"),
        )
        .withColumn(
            "conv_bp",
            F.expr("n_converted * 10000 div n_exposed").cast("long"),
        )
    )


@register_extra(
    "debounced_events",
    """
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE gap_us IS NULL
                                    OR gap_us > 60000000)
                AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE gap_us IS NOT NULL
                                   AND gap_us <= 60000000)
                AS BIGINT) AS n_dropped
    FROM g GROUP BY 1
    """,
)
def q_debounced_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce — drop an event arriving within 60s of the
    previous SAME (user, type) event: one keyed lag window in exact
    microseconds ((ts, event_id) ordering makes zero-gap duplicates
    deterministic droppers), reported as kept/dropped per type.  The
    client-retry dedup every event pipeline needs before counting."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gap = F.unix_micros(F.col("ts")) - F.lag(
        F.unix_micros(F.col("ts"))
    ).over(w)
    g = ev.select("event_type", gap.alias("gap_us"))
    kept = F.col("gap_us").isNull() | (F.col("gap_us") > 60_000_000)
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.sum((~kept).cast("long")).cast("long").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# exact count-min sketch (round 8): the hash-checked twin of
# cms_heavy_hitters — pinned md5 row hashes make the WHOLE sketch
# (tables, estimates, overcount) reproducible in any engine, and CMS
# updates are order-free integer sums, so the result hash-matches under
# any partitioning.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 256


def _cms_sql() -> str:
    d, w = _CMS_D, _CMS_W
    return f"""
    WITH ev AS (SELECT user_id FROM events),
    exact AS (
        SELECT user_id, count(*) AS exact_cnt FROM ev GROUP BY 1
    ),
    probes AS (
        SELECT user_id, exact_cnt, 'heavy' AS probe_kind FROM exact
        ORDER BY exact_cnt DESC, user_id LIMIT 10
    ),
    light AS (
        SELECT user_id, exact_cnt, 'light' AS probe_kind FROM exact
        ORDER BY user_id LIMIT 5
    ),
    allp AS (SELECT * FROM probes UNION ALL SELECT * FROM light),
    rows_ AS (SELECT unnest(range(0, {d})) AS i),
    cms AS (
        SELECT i,
               ('0x' || substr(md5(CAST(i AS VARCHAR) || '|'
                                   || CAST(user_id AS VARCHAR)), 1, 15)
               )::BIGINT % {w} AS bucket,
               count(*) AS cnt
        FROM ev, rows_ GROUP BY 1, 2
    ),
    est AS (
        SELECT p.user_id, p.probe_kind, p.exact_cnt,
               min(coalesce(c.cnt, 0)) AS est_cnt
        FROM allp p
        JOIN rows_ r ON TRUE
        LEFT JOIN cms c
          ON c.i = r.i
         AND c.bucket = ('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|'
                         || CAST(p.user_id AS VARCHAR)), 1, 15)
                        )::BIGINT % {w}
        GROUP BY 1, 2, 3
    )
    SELECT user_id, probe_kind,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
    FROM est
    """


@register_extra("cms_exact_heavy_hitters", _cms_sql())
def q_cms_exact_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-twin count-min sketch: d=4 rows × w=256 buckets with
    pinned md5 row hashes — updates are order-free integer sums, so
    unlike the engine-internal `cms_heavy_hitters` sketch the whole
    pipeline (table build, point queries for the top-10 heavy hitters
    plus 5 light probes, and the CMS one-sided overcount) hash-matches
    the DuckDB replay.  The sketch table is the mergeable 100 TB state:
    d·w integers re-aggregating across partitions/days with plain
    sums."""
    d, w = _CMS_D, _CMS_W
    ev = load_table(spark, sf_dir, "events").select("user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    heavy = (
        exact.orderBy(F.col("exact_cnt").desc(), "user_id")
        .limit(10)
        .withColumn("probe_kind", F.lit("heavy"))
    )
    light = (
        exact.orderBy("user_id")
        .limit(5)
        .withColumn("probe_kind", F.lit("light"))
    )
    probes = heavy.unionByName(light)

    def bucket(i_col, user_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            i_col.cast("string"),
                            F.lit("|"),
                            user_col.cast("string"),
                        )
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            % w
        )

    rows_i = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("i")
    cms = (
        ev.select("user_id", rows_i)
        .select("i", bucket(F.col("i"), F.col("user_id")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe_rows = probes.select(
        "user_id", "probe_kind", "exact_cnt", rows_i
    ).withColumn("bucket", bucket(F.col("i"), F.col("user_id")))
    return (
        probe_rows.join(F.broadcast(cms), ["i", "bucket"], "left")
        .groupBy("user_id", "probe_kind", "exact_cnt")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
        .select(
            "user_id",
            "probe_kind",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("est_cnt").cast("long").alias("est_cnt"),
            (F.col("est_cnt") - F.col("exact_cnt"))
            .cast("long")
            .alias("overcount"),
        )
    )
