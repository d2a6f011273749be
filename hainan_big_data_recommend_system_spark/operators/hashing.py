"""Feature hashing (the hashing trick) — vocabulary-free vectorization.

The CountVectorizer pipeline (ml/vectorize.py) fits a vocabulary — a
distributed count + a driver-bounded top-K — before it can transform.
At corpus scale the standard alternative is the HASHING TRICK
(Weinberger et al., ICML 2009): bucket = hash(token) mod d, with a
second hash choosing a ±1 sign so colliding tokens cancel in
expectation instead of stacking.  No fit, no vocabulary, no second
pass — the transform is a pure scan-local expression, which is why
it's the default vectorizer in every large-scale ad/CTR stack.

Engine discipline: the hash is PINNED (md5 prefix → integer) rather
than Spark's Murmur3 `hash()`, so the features are bit-identical in any
engine and the oracle can replay them; versioned salts ("fh-v1"/"fs-v1")
keep future hash changes explicit.

Output is the sparse form ``(doc_id, bucket, weight)`` with exact
integer weights and hash-cancelled zeros dropped — the natural shape
for a downstream grouped-aggregate or a join-based dot product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_BUCKET_SALT = "fh-v1"
_SIGN_SALT = "fs-v1"


def _md5_long(col) -> "F.Column":
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def hashed_token_features(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """Signed hashed bag-of-words: ``(doc_id, bucket, weight)`` rows
    with ``bucket = md5(fh-v1:token) mod n_buckets`` and each token
    occurrence contributing ``±1`` by the sign hash; zero-cancelled
    buckets are dropped."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(
                F.lower(F.trim(F.col(text_col))), r"[ \t\n\x0B\f\r]+"
            )
        ).alias("token"),
    ).where(F.col("token") != "")
    hashed = toks.select(
        "doc_id",
        (
            _md5_long(F.concat_ws(":", F.lit(_BUCKET_SALT), F.col("token")))
            % n_buckets
        ).alias("bucket"),
        F.when(
            _md5_long(
                F.concat_ws(":", F.lit(_SIGN_SALT), F.col("token"))
            )
            % 2
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .where(F.col("weight") != 0)
    )
