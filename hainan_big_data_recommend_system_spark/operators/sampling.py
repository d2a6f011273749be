"""Seeded, reproducible sampling (SURVEY.md §2.6 O4).

Reference semantics: ``random.sample(hot_bookid, 5)`` exploration picks
(`guessLike_u_like.py:126`) and a cap of 20 log books per user
(`log_analyze.py:57`) — unseeded in the reference, which makes reruns
non-reproducible.  The build makes sampling a deterministic function of the
row key: order by ``md5(seed || key)`` and take the first k.  That is a
reproducible pseudo-random permutation, identical across engines and across
reruns/retries — at scale, task retries MUST NOT resample (a nondeterministic
sample feeding a downstream join produces phantom rows under retry).

``md5`` is bit-identical in Spark and DuckDB, so sampled queries stay
oracle-checkable — unlike ``rand(seed)``, whose stream is engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from ..session import CHECKPOINT_LEVEL


def hash_rank(key: Column, seed: str = "42") -> Column:
    """Deterministic pseudo-random sort key for ``key`` under ``seed``."""
    return F.md5(F.concat(F.lit(seed), F.lit(":"), key.cast("string")))


def sample_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    key: Column,
    k: int,
    seed: str = "42",
    rank_col: str = "rn",
) -> DataFrame:
    """O4: k pseudo-random rows per group, reproducible under ``seed``.

    Deterministic even under hash ties (secondary sort on the key itself).
    """
    w = Window.partitionBy(*partition_by).orderBy(
        hash_rank(key, seed).asc(), key.asc()
    )
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def hash_uniform(key: Column, seed: str = "42") -> Column:
    """Deterministic uniform [0,1) from the row key: first 8 md5 hex chars
    as an integer over 16⁸.  Same bits in Spark and DuckDB → per-domain
    samples stay oracle-checkable, and task retries can never resample."""
    return (
        F.conv(F.substring(hash_rank(key, seed), 1, 8), 16, 10).cast("double")
        / F.lit(float(16**8))
    )


def temperature_mixture_sample(
    df: DataFrame,
    domain_col: str,
    key: Column,
    target_frac: float = 0.5,
    seed: str = "mix",
) -> DataFrame:
    """Temperature-scaled domain mixture sampling (the α-reweighting used
    to flatten corpus domain imbalance when assembling LLM training data:
    domain weight ∝ n_d^α with α = 0.5, so over-represented domains are
    down-sampled and the long tail is kept).

    With w_d = √n_d, domain d is sampled at
    ``rate_d = min(1, target·N·w_d / (Σw·n_d))`` — expected output size
    ≈ ``target_frac · N`` with the mixture re-balanced toward the
    α-tempered distribution.  α is pinned at 0.5 because IEEE-754
    requires ``sqrt`` to be exactly rounded, which keeps the per-domain
    rate bit-identical across engines (generic ``pow`` carries no such
    guarantee); weights are integerized (×1e6, round) before summing so
    the normalizer is an order-free integer sum.

    Scale: two corpus scans (domain counts, then the sampled projection);
    the per-domain rate table is tiny and broadcast; the keep decision is
    a scan-local pure function of (seed, key) — retries can never
    resample, and no window or data-wide shuffle exists anywhere.
    """
    n_d = F.col("n_d").cast("double")
    d = df.groupBy(domain_col).agg(F.count(F.lit(1)).cast("long").alias("n_d"))
    w = d.withColumn(
        "w_i", F.round(F.sqrt(n_d) * F.lit(1000000.0)).cast("long")
    )
    # tiny (one row per domain) but its parent aggregate scans the corpus,
    # and BOTH the normalizer and the rate join consume it
    w = w.localCheckpoint(eager=True, storageLevel=CHECKPOINT_LEVEL)
    tot = w.agg(
        F.sum("n_d").cast("long").alias("n_total"),
        F.sum("w_i").cast("long").alias("w_total"),
    )
    rate = F.least(
        F.lit(1.0),
        (F.col("n_total").cast("double") * F.lit(float(target_frac))
         * F.col("w_i").cast("double"))
        / (F.col("w_total").cast("double") * F.col("n_d").cast("double")),
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        domain_col, rate.alias("rate")
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(hash_uniform(key, seed) < F.col("rate"))
        .select(
            key.cast("long").alias("doc_id"),
            F.col(domain_col),
            F.round(F.col("rate") * 1000000).cast("long").alias("rate_micros"),
        )
    )


def training_shards(
    df: DataFrame,
    key: Column,
    n_shards: int = 64,
    seed: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle into fixed training shards — the last
    write stage of corpus assembly (training loaders want N balanced
    files in a reproducibly random order, not source order).

    ``shard_id`` is a salted-hash bucket (balanced in expectation, pure
    function of the key — a re-run, a retry, or another engine produces
    the identical sharding) and ``shard_pos`` orders rows WITHIN a shard
    by an independent salted hash, so concatenating shards in id order
    replays the exact global permutation.

    Scale: one hash shuffle on ``shard_id``; the per-shard sort is
    bounded by shard size (pick ``n_shards`` ≈ corpus/target-file-size).
    The physical write is ``repartition(n_shards, "shard_id")`` +
    ``sortWithinPartitions("shard_pos")`` — no global sort anywhere.
    """
    shard = (
        F.conv(
            F.substring(hash_rank(key, f"{seed}-bucket"), 1, 7), 16, 10
        ).cast("long")
        % n_shards
    )
    w = Window.partitionBy("shard_id").orderBy(
        hash_rank(F.col("__key"), f"{seed}-pos").asc(), F.col("__key").asc()
    )
    return (
        df.select(
            key.alias("__key"), shard.cast("long").alias("shard_id")
        )
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .select(
            F.col("__key").alias("doc_id"), "shard_id", "shard_pos"
        )
    )
