"""Random-hyperplane LSH ANN — the bucket-join scale path for cosine
similarity search (BASELINE.json north_star: "similarity search").

Sign-random-projection LSH (Charikar, STOC'02): a vector's signature in
table ``t`` is the bit-pattern of ``sign(v · h_tj)`` over ``bits``
hyperplanes; vectors colliding in any table's bucket become candidate
pairs, scored exactly within the bucket.  P[bit match] = 1 − θ/π, so
near-parallel vectors collide in some table with high probability while
the corpus-wide pair space is never enumerated.

Complements the other ANN strategies (operators/ann.py): IVF partitions by
trained centroids (data-dependent, needs an offline fit); hyperplane LSH
is data-INDEPENDENT — no training stage, signatures are pure per-row map
work, which makes it the right first index for a corpus you haven't
sampled yet and the only one that works under adversarial drift.

Determinism: hyperplane components are pinned integers from a fixed
splitmix-style bit-mix of the component's flat index
(:func:`pinned_hyperplanes`) and vectors are integer-quantized
(:func:`..similarity.quantize_vec`), so bucket ids and scores are exact —
the whole query (signature, bucket join, scoring) is DuckDB-oracle-
checkable, same design as the pinned IVF quantizer
(operators/ivf_centroids.py) and the MinHash hash family
(operators/dedup.py).

100 TB shape: signatures are one map pass (shuffle = |rows|·tables for
the groupBy); the bucket self-join shuffles on (table, bucket) — bucket
population is the work unit, tuned by ``bits`` (more bits → smaller
buckets → fewer candidates, lower recall; more tables buys recall back
linearly in signature cost).  Nothing is all-pairs: work ∝ Σ bucket².
Candidate pairs are deduplicated on ids ONLY and the quantized vectors
re-joined afterwards, so the widest shuffle (the cross-table
dropDuplicates) carries two longs per row, not two 64-element arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .similarity import int_dot, quantize_vec
from ..session import CHECKPOINT_LEVEL

_MIX_M = 2003  # prime → components uniform in [-1001, 1001]
_MASK64 = (1 << 64) - 1
# Flat-index stride between tables: plane (t, j) has identity
# (t*_J_STRIDE + j) regardless of how many bits a caller requests, so a
# plane set generated at max_bits FILTERED to j < bits equals the set
# generated at bits directly.  This is what lets the static oracle SQL
# inline one max-geometry VALUES literal and select the derived-bits
# subset at query time (qcatalog/ml.py: ann_topk_lsh).
_J_STRIDE = 32


def _mix64(x: int) -> int:
    """SplitMix64 finalizer (Steele et al., public domain) — avalanches a
    64-bit index so nearby inputs give statistically independent outputs.
    Plain Python ints, maskable, reproducible anywhere."""
    x &= _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return (x ^ (x >> 31)) & _MASK64


def pinned_hyperplanes(
    n_tables: int = 4, bits: int = 6, dim: int = 64
) -> list[tuple[int, int, list[int]]]:
    """Deterministic integer hyperplanes, ``(table, bit, components)`` rows.

    Component ``d`` of hyperplane ``(t, j)`` is
    ``mix64(idx + 1) mod M − (M−1)/2`` with
    ``idx = (t·_J_STRIDE + j)·dim + d`` — each component is an independent
    avalanche of its flat index, so planes behave like the iid random
    hyperplanes the Charikar analysis assumes (an earlier affine-in-idx
    LCG variant produced strided, strongly correlated components).  The
    family is data-independent and reproducible as literals in oracle SQL.

    Plane identity is independent of ``bits`` (fixed ``_J_STRIDE``
    between tables): ``pinned_hyperplanes(T, b1)`` is a prefix-per-table
    subset of ``pinned_hyperplanes(T, b2)`` for ``b1 < b2``, which makes
    the self-scaling geometry (``derive_bits``) oracle-checkable from a
    single max-bits literal set.
    """
    if bits > _J_STRIDE:
        raise ValueError(f"bits={bits} exceeds plane-identity stride {_J_STRIDE}")
    planes = []
    half = (_MIX_M - 1) // 2
    for t in range(n_tables):
        for j in range(bits):
            base = (t * _J_STRIDE + j) * dim
            h = [(_mix64(base + d + 1) % _MIX_M) - half for d in range(dim)]
            planes.append((t, j, h))
    return planes


def derive_bits(
    n: int,
    target_bucket_rows: int = 32,
    min_bits: int = 4,
    max_bits: int = 16,
) -> int:
    """Self-scaling LSH geometry: the smallest ``bits`` keeping the
    expected bucket population ``n / 2^bits`` at or below
    ``target_bucket_rows``, clamped to ``[min_bits, max_bits]``.

    This is the PLANS §12 rule (``bits ≈ log2(n / target_bucket_rows)``)
    made exact with pure integer arithmetic so Python and the DuckDB
    oracle derive the identical value: ``ceil(log2(m)) = (m-1).bit_length()``
    for ``m = ceil(n / target)``.  Fixed geometry is the measured
    scale-killer (bucket population ∝ n ⇒ pair work ∝ n²: 51.9× wall at
    10× data with bits frozen at 6); deriving bits from the corpus count
    keeps per-bucket work flat while ``n_tables`` stays the recall knob.

    Derived values on the synthetic embeddings: n=500 → 4, n=2000 → 6
    (the geometry the sf0.1 bench already ran), n=20000 → 10 (the probe's
    knob fix measured Σ bucket² dropping 6× and wall 36.1s → 6.0s at 9).
    """
    if n <= 0:
        return min_bits
    m = (n + target_bucket_rows - 1) // target_bucket_rows
    raw = (m - 1).bit_length() if m > 1 else 0
    return max(min_bits, min(max_bits, raw))


def lsh_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[tuple[int, int, list[int]]] | None = None,
    scale: int = 1000,
    data_dim: int | None = None,
) -> DataFrame:
    """Per-(vector, table) bucket ids: ``(vid, t, bucket)``.

    ``bucket = Σ_j [v·h_tj ≥ 0] · 2^j`` over exact integer dots.
    Physically (round 16, guide §4.2): one ``mapInPandas`` kernel whose
    int64 numpy matmul computes every (row, plane) dot per Arrow batch —
    the former broadcast-crossJoin + per-element higher-order-function
    dots + bit-packing groupBy spent most of its time interpreting
    ``aggregate(zip_with(...))`` lambdas and shuffled |rows|·planes
    expansion rows (measured 2.0 → 0.6 s at sf0.1, byte-identical
    output; int64 matmul wraps exactly like JVM long arithmetic, so
    even overflow semantics match).  Output stays |rows|·tables narrow
    signature rows; the quantized vectors never leave the kernel.

    Fails fast if the data's vector dimensionality differs from the
    planes' (a mismatch would silently collapse every row into one
    O(n²) bucket).  ``data_dim`` lets a caller that already probed the
    dim (``lsh_topk_pinned``) skip the one-row probe job.
    """
    if planes is None:
        planes = pinned_hyperplanes()
    n_tables = 1 + max(t for t, _, _ in planes)
    bits = 1 + max(j for _, j, _ in planes)
    # plane matrix in (t, j) row order — pinned_hyperplanes emits t-major
    plane_rows = sorted(planes, key=lambda p: (p[0], p[1]))
    grid = [(t, j) for t in range(n_tables) for j in range(bits)]
    if [(t, j) for t, j, _ in plane_rows] != grid:
        # a missing or repeated (t, j) would shift every later plane into
        # the wrong bit and compute wrong buckets without any error
        raise ValueError(
            f"planes must list every (table, bit) pair of the "
            f"{n_tables} x {bits} grid exactly once"
        )
    plane_dim = len(planes[0][2])
    if data_dim is None:
        data_dim = _vec_dim(df, vec_col)
    if data_dim != plane_dim:
        raise ValueError(
            f"vector dim {data_dim} != hyperplane dim {plane_dim}; build "
            f"planes with pinned_hyperplanes(dim={data_dim})"
        )
    from .multimodal import _spread

    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col), scale).alias("__qv"),
    )

    def kern(it):
        import numpy as np
        import pandas as pd

        H = np.array([h for _, _, h in plane_rows], dtype=np.int64).T
        pw = np.int64(1) << np.arange(bits, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            q = np.array(pdf["__qv"].tolist(), dtype=np.int64)
            dots = q @ H  # |batch| x (tables*bits), exact int64
            packed = (
                (dots >= 0).astype(np.int64)
                .reshape(len(pdf), n_tables, bits)
                @ pw
            )
            yield pd.DataFrame({
                "vid": np.repeat(pdf["vid"].to_numpy(), n_tables),
                "t": np.tile(
                    np.arange(n_tables, dtype=np.int32), len(pdf)
                ),
                "bucket": packed.reshape(-1),
            })

    return _spread(base).mapInPandas(kern, "vid long, t int, bucket bigint")


def lsh_topk_pinned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_tables: int = 4,
    bits: int | None = None,
    query_filter: Column | None = None,
    scale: int = 1000,
) -> DataFrame:
    """Top-k cosine neighbors via hyperplane-LSH bucket join —
    ``(query_id, neighbor_id, sim, rn)``, self-pairs excluded.

    ``bits=None`` (the default) derives the geometry from the corpus
    count via :func:`derive_bits` — one cheap count aggregate over the
    non-null vectors, then per-bucket work stays flat as n grows.  Pass
    an explicit ``bits`` only for experiments pinning a fixed geometry.

    Candidates = pairs sharing any table's bucket, deduplicated across
    tables BEFORE scoring (a pair colliding in 3 of 4 tables is scored
    once); scores are exact integer-quantized cosine, so recall loss comes
    only from bucketing, never score noise.  ``query_filter`` bounds the
    query side (applied to ``query_id``) the way the reference's online
    path scores one probe set per event.

    Shuffle discipline: the bucket join and cross-table dropDuplicates
    carry only id/bucket longs; the quantized vectors are re-joined onto
    the deduplicated pair set afterwards (two hash joins keyed on the id),
    so the widest stage's row width is independent of vector dim.
    """
    if bits is None:
        # one aggregate job yields BOTH the geometry count and the dim
        # (r15, guide §1: this path previously paid a limit(1) probe job
        # for the dim plus a separate count job)
        row = (
            df.filter(F.col(vec_col).isNotNull())
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.first(F.size(F.col(vec_col))).alias("d"),
            )
            .collect()[0]
        )
        if not row["n"]:
            raise ValueError(
                f"cannot infer dim of {vec_col!r}: no non-null vectors"
            )
        dim = int(row["d"])
        bits = derive_bits(int(row["n"]))
    else:
        dim = _vec_dim(df, vec_col)
    planes = pinned_hyperplanes(n_tables, bits, dim)
    # materialize the signature index once: the bucket self-join consumes
    # it on BOTH sides, and the query-side filter makes the subplans
    # differ, so Spark's ReuseExchange cannot kick in — without this the
    # whole signature pipeline (crossJoin + groupBy) executes twice.  At
    # deployment scale this checkpoint is the persisted LSH index table
    # (build once, probe many), same staging shape as qcatalog/dedup.py.
    sig = lsh_signatures(
        df, id_col, vec_col, planes, scale, data_dim=dim
    ).localCheckpoint(eager=True, storageLevel=CHECKPOINT_LEVEL)
    a = sig.select(F.col("vid").alias("query_id"), "t", "bucket")
    if query_filter is not None:
        a = a.filter(query_filter)
    b = sig.select(F.col("vid").alias("neighbor_id"), "t", "bucket")
    cand = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # per-VECTOR sqrt-norms ride the vector side of the pair joins
    # (round 16, guide §2.3): computing ``sqrt(v·v)`` once per vid
    # instead of twice per candidate pair drops 2 of the 3 per-pair
    # interpreted array dots; ``sqrt(na)`` is the identical double
    # either way, so ``dot / (sqrt_na * sqrt_nb)`` is bit-equal
    qv = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col), scale).alias("__qv"),
    ).withColumn(
        "__nrm",
        F.sqrt(int_dot(F.col("__qv"), F.col("__qv")).cast("double")),
    )
    pairs = cand.join(
        qv.select(F.col("vid").alias("query_id"),
                  F.col("__qv").alias("__qa"),
                  F.col("__nrm").alias("__na")),
        "query_id",
    ).join(
        qv.select(F.col("vid").alias("neighbor_id"),
                  F.col("__qv").alias("__qb"),
                  F.col("__nrm").alias("__nb")),
        "neighbor_id",
    )
    dot = int_dot(F.col("__qa"), F.col("__qb")).cast("double")
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot / (F.col("__na") * F.col("__nb"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 6).alias("sim"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from one NON-NULL row (embedding columns are
    fixed-dim by contract; one-row limit, not a full scan).  The non-null
    filter matters: probing an unfiltered df whose first row is NULL
    yields size=-1 and a spurious dim-mismatch error even though
    lsh_signatures itself drops NULL vectors (ADVICE r4)."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .limit(1)
        .collect()
    )
    if not row:
        raise ValueError(f"cannot infer dim of {vec_col!r}: no non-null vectors")
    return int(row[0]["d"])
