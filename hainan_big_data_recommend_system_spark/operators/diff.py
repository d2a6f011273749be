"""Table diff — keyed reconciliation between two table versions.

The data-ops primitive behind migration sign-off and replication
audits ("did the backfill change anything it shouldn't?"): given OLD
and NEW versions of a keyed table, classify every key as ``added``,
``removed``, ``changed`` or ``unchanged`` and say WHICH columns
changed.  One full-outer join on the key — shuffle on both sides,
co-locatable via bucketing — plus scan-local
null-safe comparisons; no windows, no Python.

Null-safety matters twice: the OUTER join's presence test must use the
key's own nullability (a marker column, not ``key IS NULL``), and the
column comparison must treat NULL==NULL as equal (``eqNullSafe`` /
``IS NOT DISTINCT FROM``) — both are the classic reconciliation bugs.

Public knowledge: standard keyed diff semantics as in open-source
data-diff tooling documentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff: ``(*key_cols, change_type, changed_cols)`` where
    ``change_type ∈ {added, removed, changed, unchanged}`` and
    ``changed_cols`` is the comma-joined sorted list of differing
    columns (empty unless ``changed``)."""
    o = old.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, key_cols, "full_outer")
    diffs = [
        F.when(
            ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c)
        )
        for c in sorted(compare_cols)
    ]
    changed_cols = F.concat_ws(
        ",", F.array_compact(F.array(*diffs))
    )
    change_type = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(changed_cols != "", F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *key_cols,
        change_type.alias("change_type"),
        F.when(change_type == "changed", changed_cols)
        .otherwise(F.lit(""))
        .alias("changed_cols"),
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """Collapse :func:`table_diff` to ``(change_type, n)`` counts."""
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
