"""Product-quantization ANN — the memory-compression scale path for
similarity search (Jégou, Douze, Schmid, TPAMI 2011).

PQ splits the vector space into M contiguous subspaces and replaces each
subvector by the id of its nearest codeword in a per-subspace codebook:
a 64-dim float32 embedding (256 bytes) becomes M=16 one-byte codes at
the pinned geometry (M=16 × K=256, `pq_codebooks.py`) — the 16×
compression that lets a 100 TB embedding corpus live in cluster RAM.
Search is asymmetric distance computation (ADC): the query stays exact,
each subspace contributes a looked-up ``||q_j − codeword||²`` term, and
the approximate distance is the sum over subspaces.

Spark shape (both stages are Arrow-batched numpy kernels — the repo's
standard for dense matmul-shaped work, same as
:func:`.ann.cosine_topk_bruteforce`; per-row expression trees over the
codebook literals blow past JIT method limits and fall out of codegen,
measured 30s vs ~2s at sf0.1):

- **encode is a pure map pass** (``mapInPandas``): one
  ``‖X_j‖² − 2·X_j·C_jᵀ + ‖C_j‖²`` int64 matmul per subspace, argmin
  rows → codes.  No shuffle; the codes table is the persisted index.
- **search is a sharded ADC scan** (:func:`pq_adc_topk`): candidates
  hash into blocks, the bounded query side is replicated per block with
  its exact vector, and each block kernel builds the M×K LUT once,
  gathers ``Σ_j lut[q, j, code_j]`` for its candidates, and emits a
  block-local top-k; a global window over block winners is exact.
- **IVFPQ** (:func:`pq_ivf_adc_topk`): the deployment composition —
  the pinned IVF coarse quantizer bounds WHERE to look, the codes bound
  WHAT each visit costs.

Determinism: codebooks and vectors are integer-quantized, so encoding
argmins (tie-break: smallest code id — numpy argmin keeps the first
minimum) and ADC sums are EXACT int64 arithmetic — no float appears
anywhere, and the DuckDB oracle reproduces every stage from the same
literals (qcatalog/ml.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .pq_codebooks import PINNED_PQ_CODEBOOKS, PQ_SCALE, PQ_SUB_DIM
from .similarity import quantize_vec


def _check_dim(
    df: DataFrame, vec_col: str, codebooks: list[list[list[int]]], sub_dim: int
) -> None:
    """Fail fast when the data's dimensionality does not cover the
    codebook grid exactly — silent numpy slicing would otherwise encode
    truncated subvectors.  This probes ONE non-null row (cheap driver
    check for the common all-wrong-dim mistake); a MIXED-dimensionality
    corpus can slip past it, so the Arrow kernels additionally reject
    ragged batches (:func:`_to_matrix`) with the same error class."""
    need = len(codebooks) * sub_dim
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .limit(1)
        .collect()
    )
    if row and int(row[0]["d"]) != need:
        raise ValueError(
            f"vector dim {row[0]['d']} != codebook grid "
            f"{len(codebooks)} x {sub_dim} = {need}; refit with "
            "scripts/fit_pq_codebooks.py for this dimensionality"
        )


def _books_np(codebooks: list[list[list[int]]]):
    """(M, K, sub_dim) int64 ndarray of the codebooks."""
    import numpy as np

    return np.asarray(codebooks, dtype=np.int64)


def _to_matrix(series, need_dim: int):
    """Arrow column of vectors → (n, need_dim) int64 matrix, rejecting
    ragged rows — the in-kernel backstop behind the one-row driver probe.
    Row lengths are checked before stacking: numpy >= 1.24 raises its
    own ValueError on ragged input instead of building an object array."""
    import numpy as np

    rows = series.tolist()
    if any(r is None or len(r) != need_dim for r in rows):
        raise ValueError(
            f"mixed or wrong vector dimensionality in batch (need "
            f"{need_dim} per row); clean the corpus or refit codebooks"
        )
    return np.array(rows).astype(np.int64, copy=False)


def _encode_np(x, books):
    """(n, M) int32 codes for int64 vectors ``x`` (n, M·sub_dim)."""
    import numpy as np

    m, k, s = books.shape
    codes = np.empty((x.shape[0], m), dtype=np.int32)
    for j in range(m):
        xj = x[:, j * s : (j + 1) * s]
        cj = books[j]
        d = (
            (xj * xj).sum(axis=1)[:, None]
            - 2 * (xj @ cj.T)
            + (cj * cj).sum(axis=1)[None, :]
        )
        codes[:, j] = d.argmin(axis=1)  # first min = smallest code id
    return codes


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[int]]] | None = None,
    scale: int = PQ_SCALE,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """``(vid, codes)`` — the PQ index table.  One Arrow map pass, no
    shuffle; at 100 TB this writes the compressed index alongside the
    corpus the way the shingle/bucket stages are staged tables."""
    if codebooks is None:
        codebooks = PINNED_PQ_CODEBOOKS
    _check_dim(df, vec_col, codebooks, sub_dim)
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col), scale).alias("__qv"),
    )

    def _enc(batches):
        import numpy as np
        import pandas as pd

        books = _books_np(codebooks)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _to_matrix(pdf["__qv"], books.shape[0] * books.shape[2])
            codes = _encode_np(x, books)
            yield pd.DataFrame(
                {"vid": pdf["vid"].to_numpy(), "codes": list(codes)}
            )

    return base.mapInPandas(_enc, "vid long, codes array<int>")


def _adc_block_topk(k: int, codebooks: list[list[list[int]]]):
    """applyInPandas kernel: rows carry (vid, __qv, codes, __is_q); each
    block builds the query LUT once and gathers exact-int ADC distances
    for its candidate codes, emitting the block-local top-k per query."""
    import pandas as pd

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        books = _books_np(codebooks)
        m, n_codes, s = books.shape
        qmask = pdf["__is_q"].to_numpy(dtype=bool)
        cmask = ~qmask
        if not qmask.any() or not cmask.any():
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "adc_dist": []}
            )
        q_rows, c_rows = pdf[qmask], pdf[cmask]
        q_ids = q_rows["vid"].to_numpy()
        c_ids = c_rows["vid"].to_numpy()
        qx = _to_matrix(q_rows["__qv"], m * s)
        codes = _to_matrix(c_rows["codes"], m)
        # LUT[q, j, c] = ||q_j - codeword_jc||^2, exact int64
        lut = np.empty((len(q_ids), m, n_codes), dtype=np.int64)
        for j in range(m):
            qj = qx[:, j * s : (j + 1) * s]
            cj = books[j]
            lut[:, j, :] = (
                (qj * qj).sum(axis=1)[:, None]
                - 2 * (qj @ cj.T)
                + (cj * cj).sum(axis=1)[None, :]
            )
        # adc[q, n] = sum_j lut[q, j, codes[n, j]]
        adc = np.zeros((len(q_ids), len(c_ids)), dtype=np.int64)
        for j in range(m):
            adc += lut[:, j, codes[:, j]]
        rows_q, rows_n, rows_d = [], [], []
        for r in range(len(q_ids)):
            cand_idx = np.nonzero(c_ids != q_ids[r])[0]
            drow = adc[r]
            top = cand_idx[np.lexsort((c_ids[cand_idx], drow[cand_idx]))][:k]
            rows_q.extend([q_ids[r]] * len(top))
            rows_n.extend(c_ids[top])
            rows_d.extend(drow[top])
        return pd.DataFrame(
            {"query_id": rows_q, "neighbor_id": rows_n, "adc_dist": rows_d}
        )

    return _block


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    codebooks: list[list[list[int]]] | None = None,
    query_filter: Column | None = None,
    scale: int = PQ_SCALE,
    sub_dim: int = PQ_SUB_DIM,
    vectors_per_block: int = 4096,
) -> DataFrame:
    """Top-k neighbors by PQ asymmetric distance —
    ``(query_id, neighbor_id, adc_dist, rn)``, self-pairs excluded,
    ascending exact-integer distance, ties broken on neighbor id."""
    if codebooks is None:
        codebooks = PINNED_PQ_CODEBOOKS
    base = df.filter(F.col(vec_col).isNotNull())
    n = base.count()
    n_blocks = max(1, -(-n // vectors_per_block))
    cand = pq_encode(base, id_col, vec_col, codebooks, scale, sub_dim).select(
        "vid",
        F.lit(None).cast("array<bigint>").alias("__qv"),
        "codes",
        F.pmod(F.xxhash64("vid"), F.lit(n_blocks)).cast("int").alias("__blk"),
        F.lit(False).alias("__is_q"),
    )
    q = base.select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col), scale).alias("__qv"),
    )
    if query_filter is not None:
        q = q.filter(query_filter)
    blocks = df.sparkSession.range(n_blocks).select(
        F.col("id").cast("int").alias("__blk")
    )
    qrep = q.crossJoin(blocks).select(
        F.col("query_id").alias("vid"),
        "__qv",
        F.lit(None).cast("array<int>").alias("codes"),
        "__blk",
        F.lit(True).alias("__is_q"),
    )
    scored = (
        cand.unionByName(qrep)
        .groupBy("__blk")
        .applyInPandas(
            _adc_block_topk(k, codebooks),
            "query_id long, neighbor_id long, adc_dist long",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rn").cast("long").alias("rn"),
        )
    )


def pq_ivf_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroids: list[list[int]] | None = None,
    nprobe: int = 2,
    codebooks: list[list[list[int]]] | None = None,
    query_filter: Column | None = None,
    scale: int = PQ_SCALE,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """IVFPQ — the FAISS composition: the pinned IVF coarse quantizer
    (operators/ivf_centroids.py) bounds WHERE to look (each query visits
    its ``nprobe`` nearest lists), the PQ codes bound WHAT each visit
    costs (16-byte ADC gathers instead of 256-byte exact dots).  This is
    the deployment regime the full-scan :func:`pq_adc_topk` docstring
    promises: per-query work ∝ probed-list population, per-candidate
    memory 16 B, and both prunings are exact integer argmins — the whole
    two-level index is DuckDB-oracle-checkable.

    Same output contract as the other ANN operators:
    ``(query_id, neighbor_id, adc_dist, rn)``, ascending exact-integer
    ADC distance, self-pairs excluded, ties on neighbor id."""
    from .ann import pinned_centroid_ranks

    if codebooks is None:
        codebooks = PINNED_PQ_CODEBOOKS
    ranked = pinned_centroid_ranks(df, id_col, vec_col, centroids, scale)
    codes = pq_encode(df, id_col, vec_col, codebooks, scale, sub_dim)
    cand = (
        ranked.filter(F.col("__pr") == 1)
        .select("vid", F.col("cid").alias("__blk"))
        .join(codes, "vid")
        .select(
            "vid",
            F.lit(None).cast("array<bigint>").alias("__qv"),
            "codes",
            "__blk",
            F.lit(False).alias("__is_q"),
        )
    )
    q = ranked.filter(F.col("__pr") <= nprobe).select(
        F.col("vid").alias("query_id"), "__qv", F.col("cid").alias("__blk")
    )
    if query_filter is not None:
        q = q.filter(query_filter)
    qrep = q.select(
        F.col("query_id").alias("vid"),
        "__qv",
        F.lit(None).cast("array<int>").alias("codes"),
        "__blk",
        F.lit(True).alias("__is_q"),
    )
    scored = (
        cand.unionByName(qrep)
        .groupBy("__blk")
        .applyInPandas(
            _adc_block_topk(k, codebooks),
            "query_id long, neighbor_id long, adc_dist long",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rn").cast("long").alias("rn"),
        )
    )


def pq_ivf_adc_refined_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    refine_k: int | None = None,
    centroids: list[list[int]] | None = None,
    nprobe: int = 2,
    codebooks: list[list[list[int]]] | None = None,
    query_filter: Column | None = None,
    scale: int = PQ_SCALE,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """IVFPQ + exact re-rank — the full FAISS deployment recipe
    (IndexIVFPQ + IndexRefineFlat): the coarse quantizer bounds WHERE,
    the 16-byte ADC gathers produce a ``refine_k``-candidate shortlist,
    and ONLY those candidates get exact integer-L2 distances (the raw
    vectors are joined back for |queries|·refine_k rows — the shuffle up
    to that point carries ids and 16-byte codes, never vectors, the same
    discipline as :mod:`.lsh` lines 32-35).  ADC quantization error can
    misorder close candidates; re-scoring the shortlist exactly fixes
    the ORDER for free while the candidate set stays index-bounded —
    recall@k rises toward the shortlist's recall ceiling (measured in
    tests/test_pq.py; PLANS §15).

    Output: ``(query_id, neighbor_id, adc_dist, l2_dist, rn)``, ascending
    exact distance, ties on neighbor id, ``rn <= k``."""
    if refine_k is None:
        refine_k = 4 * k
    if refine_k < k:
        raise ValueError(f"refine_k {refine_k} must be >= k {k}")
    short = pq_ivf_adc_topk(
        df, id_col, vec_col, refine_k, centroids, nprobe, codebooks,
        query_filter, scale, sub_dim,
    ).select("query_id", "neighbor_id", "adc_dist")
    base = df.filter(F.col(vec_col).isNotNull())
    qv = base.select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col), scale).alias("__qv"),
    )
    nv = base.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_vec(F.col(vec_col), scale).alias("__nv"),
    )
    d2 = F.aggregate(
        F.zip_with("__qv", "__nv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("l2_dist"), F.asc("neighbor_id")
    )
    return (
        short.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", "adc_dist", d2.alias("l2_dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            "l2_dist",
            F.col("rn").cast("long").alias("rn"),
        )
    )
