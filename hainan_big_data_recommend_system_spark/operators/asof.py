"""As-of join — "for each left row, the latest right row at or before it"
(per key).  Not in the reference (SURVEY.md §2.3: no as-of/range joins) but
a first-class operator for any event-time engine, so implemented as part of
the extension surface and oracle-checked against DuckDB's native ASOF JOIN.

Physical strategy — the standard distributed as-of, NOT a range join:

1. tag both sides and union them into one relation (right side = 0,
   left = 1, so an exact-tie right row sorts BEFORE the left row → the
   match is inclusive, matching ``ON right.ts <= left.ts``);
2. one hash Exchange on the key columns; within each partition sort by
   (ts, side, payload) — this is the only shuffle, and it's the same one
   ANY per-key operator needs.  The payload struct is the tiebreak: among
   right rows sharing (key, ts) the GREATEST payload struct wins
   (lexicographic over (right_ts, *right_payload)), so the match is a
   defined row, not whichever one the shuffle happened to order last;
3. ``last(right_payload, ignorenulls=True)`` over rows UNBOUNDED PRECEDING
   → CURRENT ROW carries the latest right row forward; left rows read it,
   right rows are dropped.

Cost: O(n log n) per partition for the sort, shuffle volume = |left|+|right|
— versus a naive range join's per-key quadratic blowup.  Skewed keys are
split by AQE; at 100 TB pre-bucketing both sides by the key makes step 2
shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join: every ``left`` row, joined to the latest ``right``
    row with ``right_ts <= left_ts`` for the same key (NULLs if none).

    ``right_payload`` columns come back suffixed; ``right_ts`` is included
    automatically as ``right_ts + suffix``.
    """
    keys = [on] if isinstance(on, str) else list(on)

    payload = F.struct(
        F.col(right_ts).alias(right_ts),
        *[F.col(c).alias(c) for c in right_payload],
    )
    # a NULL right_ts matches nothing under `right_ts <= left_ts`, but
    # NULLS sort FIRST under Spark ASC — unfiltered they'd be carried as
    # spurious earliest matches for every left row
    r = right.filter(F.col(right_ts).isNotNull()).select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        payload.alias("__r"),
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )

    # "__r" as the final sort key makes the carry deterministic: right rows
    # tied on (key, ts) sort by payload struct, and F.last picks the
    # greatest one.  Left rows (side=1) sort after every tied right row
    # regardless, and their null "__r" is skipped by ignorenulls.
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side", "__r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        r.unionByName(l)
        .withColumn("__match", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    out_cols = [F.col(f"__l_{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"__match.{right_ts}").alias(f"{right_ts}{suffix}")]
    out_cols += [F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in right_payload]
    return carried.select(*out_cols)
