"""Window / ranking operators (SURVEY.md §2.5 W1–W5, §2.6 O1–O3).

The reference's ranking idioms — top-k per query item (W1, ``num_best=100``
`simility_books.py:62`), most-recent-k per user (W3,
`guessLike_u_like.py:189,203-204`), rank-by-rating (W4,
`simility_books.py:91-93`) — are window functions over a partition key.

Determinism discipline: every ``orderBy`` carries explicit tie-break columns;
Spark's window sort is otherwise free to order ties arbitrarily, which would
break oracle hash comparison and, worse, make production reruns non-idempotent.

Scale notes: a window over ``partitionBy(k)`` shuffles on ``k`` once; the
rank filter is applied streaming within each partition, so memory is O(group)
not O(table).  For plain global top-n use ``orderBy().limit(n)`` instead —
Catalyst turns it into ``TakeOrderedAndProject`` (per-partition heap + driver
merge, no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def topk_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """W1/W3/W4: keep the top-``k`` rows per group, rank exposed as ``rank_col``."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
