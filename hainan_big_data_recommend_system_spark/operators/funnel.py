"""Ordered-step funnel analysis — the product-analytics primitive the
reference system's event loop (guessLike.py:61-108 reads per-user event
streams to drive recommendations) never aggregates: given an ordered
list of step event-types (view -> click -> purchase), find each user's
EARLIEST completion chain — the first step-1 event, the first step-2
event strictly after it, and so on — optionally requiring the whole
chain to finish within a conversion window.

Spark-first shape: one filtered aggregate per step, chained by
broadcast-eligible equi-joins on the user key.

- Step 1 is ``min(ts)`` over that step's events, one shuffle on the
  user key (partial aggregation map-side).
- Step i is ``min(ts) where ts > t_{i-1}``: join the step-i events to
  the (small — at most one row per user who reached step i-1) frontier
  and aggregate again.  The frontier shrinks monotonically, so every
  later join is cheaper than the first and broadcast-eligible once the
  funnel narrows below the broadcast threshold.

This "earliest strictly-increasing chain" greedy is CORRECT for
reachability: if any monotone chain exists, the greedy chain exists
(taking the earliest valid event at each step never eliminates a later
completion), so `steps_completed` is exact, not an approximation.  With
a `within` window the greedy anchor is per-chain: completion is tested
against the earliest step-1 event only — the standard single-anchor
funnel definition (re-anchoring on every step-1 event is a different,
quadratic semantics).

At 100 TB scale: k-1 shuffles of an already-aggregated (one row per
user) frontier plus k filtered scans that Catalyst collapses into one
pass over the event table when the source supports predicate pushdown
on `event_type`.  No windows over unbounded partitions, no Python.

Public knowledge: standard funnel semantics as in open-source product
analytics (e.g. Matomo/PostHog docs); strictly-ordered event chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def funnel_steps(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    within_seconds: int | None = None,
) -> DataFrame:
    """Per-user earliest strictly-ordered completion chain.

    Returns one row per user who completed at least step 1:
    ``(user, steps_completed, t_step_1 .. t_step_k)`` where ``t_step_i``
    is the earliest timestamp of step i's event strictly after
    ``t_step_{i-1}`` (NULL once the chain breaks).  With
    ``within_seconds``, steps only count while
    ``ts <= t_step_1 + within_seconds``.
    """
    if not steps:
        raise ValueError("steps must be a non-empty ordered list")
    u, t = F.col(user_col), F.col(ts_col)

    frontier = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(u.alias("user"))
        .agg(F.min(t).alias("t_step_1"))
    )
    deadline = (
        F.timestamp_micros(
            F.unix_micros(F.col("t_step_1"))
            + F.lit(int(within_seconds) * 1_000_000)
        )
        if within_seconds is not None
        else None
    )

    for i, step in enumerate(steps[1:], start=2):
        nxt = events.where(F.col(type_col) == step).select(
            u.alias("user"), t.alias("__ts")
        )
        cond = F.col("__ts") > F.col(f"t_step_{i - 1}")
        if deadline is not None:
            cond = cond & (F.col("__ts") <= deadline)
        frontier = (
            frontier.join(nxt, on="user", how="left")
            .withColumn("__ts", F.when(cond, F.col("__ts")))
            .groupBy(
                "user", *[f"t_step_{j}" for j in range(1, i)]
            )
            .agg(F.min("__ts").alias(f"t_step_{i}"))
        )

    ts_cols = [f"t_step_{i}" for i in range(1, len(steps) + 1)]
    completed = sum(
        (F.col(c).isNotNull().cast("long") for c in ts_cols), F.lit(0)
    )
    return frontier.select(
        "user", completed.alias("steps_completed"), *ts_cols
    )


def funnel_summary(per_user: DataFrame, n_steps: int) -> DataFrame:
    """Collapse :func:`funnel_steps` output to one row per step:
    ``(step_index, users_reached, conv_from_first_bp, conv_from_prev_bp)``
    with conversions as exact basis points (integer arithmetic, so the
    result hashes identically cross-engine)."""
    agg = per_user.agg(
        *[
            F.sum((F.col("steps_completed") >= i).cast("long")).alias(
                f"n_{i}"
            )
            for i in range(1, n_steps + 1)
        ]
    )
    # one tiny row -> explode to per-step rows via stack; all integers
    pairs = ", ".join(f"{i}L, n_{i}" for i in range(1, n_steps + 1))
    steps = agg.selectExpr(
        f"stack({n_steps}, {pairs}) as (step_index, users_reached)",
        "n_1 as __first",
    )
    # n_steps rows total: the unpartitioned window is bounded by
    # construction, same discipline as packing.py's 256-row window
    steps = steps.withColumn(
        "__prev", F.lag("users_reached").over(Window.orderBy("step_index"))
    )
    # exact integer `div`, not double `/`: double quotients can round
    # across an integer at large counts
    return steps.select(
        "step_index",
        "users_reached",
        F.expr("users_reached * 10000 div __first").alias(
            "conv_from_first_bp"
        ),
        F.coalesce(
            F.expr("users_reached * 10000 div __prev"), F.lit(10_000)
        ).alias("conv_from_prev_bp"),
    )
