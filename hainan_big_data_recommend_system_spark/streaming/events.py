"""Event-stream source, payload parsing and channel dispatch.

Sources: in production a Kafka topic (`readStream.format("kafka")`); in the
test harness a file source over parquet/json drops — same DataFrame surface
(S9).  Payloads are parsed with ``from_json`` + sanity filters (S10) and
dispatched on ``event_type``, the analog of the reference's three pub/sub
channels ``u_like`` / ``u_nlike`` / ``u_first_select`` (T5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: payload schema of the HARNESS's events fixture (wire key ``k``).  The
#: reference's pub/sub messages are `{'userId': N}` / `{'userId': N,
#: 'bookIds': [...]}` (`guessLike_u_first_select.py:174-178`); a production
#: deployment swaps in `"userId BIGINT, bookIds ARRAY<BIGINT>"` here — the
#: parse/dispatch machinery is schema-agnostic.
PAYLOAD_SCHEMA = "k BIGINT"


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "parquet", max_files: int = 1
) -> DataFrame:
    """S9: file-source stream (Kafka-shaped in prod).  ``maxFilesPerTrigger``
    bounds micro-batch size the way Kafka's ``maxOffsetsPerTrigger`` does."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .load(path)
    )


def parse_events(df: DataFrame) -> DataFrame:
    """S10: deserialize the JSON payload and drop control/garbage frames —
    ``from_json`` + null/sanity filters replace the reference's
    ``isinstance(item['data'], long)`` skip and unsafe ``eval``
    (`guessLike_u_like.py:183-188`)."""
    return (
        df.withColumn("payload", F.from_json("props", PAYLOAD_SCHEMA))
        .withColumn("k_val", F.col("payload.k"))
        # garbage frame = a present-but-unparseable payload (from_json
        # yields a NULL struct): drop it, like the reference's control-
        # frame skip.  A genuinely absent payload (props NULL) passes —
        # not every channel carries one.
        .filter(F.col("props").isNull() | F.col("payload").isNotNull())
        .drop("payload")
        .filter(F.col("user_id").isNotNull() & (F.col("user_id") > 0))
    )


def dispatch_channels(df: DataFrame, mapping: dict[str, str] | None = None) -> DataFrame:
    """T5: map event types onto the reference's three trigger channels.
    One streaming job with an ``event_type`` dispatch column, not three
    processes (SURVEY.md §2.10)."""
    if mapping is None:  # `or` would silently swap {} for the default
        mapping = {
            "click": "u_like",
            "purchase": "u_like",
            "error": "u_nlike",
            "signup": "u_first_select",
            "view": "u_like",
        }
    # fold over a null base so an explicitly-empty mapping degrades to
    # channel = NULL instead of crashing on a None .otherwise chain
    expr = F.lit(None).cast("string")
    for k, v in mapping.items():
        expr = F.when(F.col("event_type") == k, v).otherwise(expr)
    return df.withColumn("channel", expr)
