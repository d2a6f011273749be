"""Approximate-nearest-neighbor search over embedding columns
(BASELINE.json north_star: "similarity search" extension surface).

Three strategies over ``array<float>`` embeddings, one semantic
(top-k cosine neighbors per query vector):

- :func:`cosine_topk_bruteforce` — the exact baseline.  Distributed
  brute force: candidates are hash-partitioned into blocks, queries are
  replicated to every block, each block runs one numpy int64 ``Q @ Cᵀ``
  and keeps a local top-k; a global window top-k over the per-block
  winners is exact.  Shuffle = |Q|·blocks + |C| — this is how you shard
  a 100 TB exact scan, and the quality yardstick for everything below.
- label/cluster-blocked exact (:func:`..similarity.cosine_topk_arrays`)
  — the reference's k-means blocking (`guessLike_u_like.py:82-93`):
  exact within a block, recall traded at block boundaries.
- :func:`ivf_topk_pinned` — IVF in the FAISS sense: a coarse quantizer
  trained offline and pinned as integer literals assigns every vector to
  a list; each query probes its ``nprobe`` nearest centroids and scores
  exactly within those lists.  Recall/cost dial = (nlist, nprobe).

All dot products run on integer-quantized vectors
(:func:`..similarity.quantize_vec`) so scores are exact and identical
across strategies — recall differences are purely from candidate
pruning, never float drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .similarity import quantize_vec


def _mixed_block_topk(k: int):
    """applyInPandas kernel: rows carry (id, __qv, __is_q, __is_c); each
    block scores its queries against its candidates via one exact int64
    matmul and emits the block-local top-k per query."""
    import pandas as pd

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        qmask = pdf["__is_q"].to_numpy(dtype=bool)
        cmask = pdf["__is_c"].to_numpy(dtype=bool)
        if not qmask.any() or not cmask.any():
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        q_rows, c_rows = pdf[qmask], pdf[cmask]
        q_ids = q_rows["vid"].to_numpy()
        c_ids = c_rows["vid"].to_numpy()
        q_mat = np.array(q_rows["__qv"].tolist(), dtype=np.int64)
        c_mat = np.array(c_rows["__qv"].tolist(), dtype=np.int64)
        q_norm = np.sqrt((q_mat * q_mat).sum(axis=1).astype(np.float64))
        c_norm = np.sqrt((c_mat * c_mat).sum(axis=1).astype(np.float64))
        # zero-norm (all-zero-quantized) vectors have no defined cosine:
        # they are neither queries nor neighbors.  Unguarded they yield
        # 0/0 = NaN, which Spark's F.desc orders ABOVE every real sim.
        qz, cz = q_norm > 0, c_norm > 0
        q_ids, q_mat, q_norm = q_ids[qz], q_mat[qz], q_norm[qz]
        c_ids, c_mat, c_norm = c_ids[cz], c_mat[cz], c_norm[cz]
        if len(q_ids) == 0 or len(c_ids) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        sims = (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :])
        rows_q, rows_n, rows_s = [], [], []
        for r in range(len(q_ids)):
            cand_idx = np.nonzero(c_ids != q_ids[r])[0]
            srow = sims[r]
            top = cand_idx[np.lexsort((c_ids[cand_idx], -srow[cand_idx]))][:k]
            rows_q.extend([q_ids[r]] * len(top))
            rows_n.extend(c_ids[top])
            rows_s.extend(srow[top])
        return pd.DataFrame(
            {"query_id": rows_q, "neighbor_id": rows_n, "sim": rows_s}
        )

    return _block


def _global_topk(scored: DataFrame, k: int) -> DataFrame:
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


def cosine_topk_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    query_filter: Column | None = None,
    scale: int = 1000,
    vectors_per_block: int = 4096,
) -> DataFrame:
    """Exact global top-k cosine neighbors — the ANN quality baseline.

    ``(query_id, neighbor_id, sim, rn)``, self-pairs excluded.  Identical
    results to an all-pairs join; physically a sharded matmul.
    """
    df = df.filter(F.col(vec_col).isNotNull())  # NULL vec: no cosine
    n = df.count()
    n_blocks = max(1, -(-n // vectors_per_block))
    base = df.select(
        F.col(id_col).alias("vid"), quantize_vec(F.col(vec_col), scale).alias("__qv")
    )
    cand = base.select(
        "vid",
        "__qv",
        F.pmod(F.xxhash64("vid"), F.lit(n_blocks)).cast("int").alias("__blk"),
        F.lit(False).alias("__is_q"),
        F.lit(True).alias("__is_c"),
    )
    q = base.withColumnRenamed("vid", "query_id")
    if query_filter is not None:
        q = q.filter(query_filter)
    blocks = df.sparkSession.range(n_blocks).select(
        F.col("id").cast("int").alias("__blk")
    )
    qrep = q.crossJoin(blocks).select(
        F.col("query_id").alias("vid"),
        "__qv",
        "__blk",
        F.lit(True).alias("__is_q"),
        F.lit(False).alias("__is_c"),
    )
    scored = (
        cand.unionByName(qrep)
        .groupBy("__blk")
        .applyInPandas(
            _mixed_block_topk(k), "query_id long, neighbor_id long, sim double"
        )
    )
    return _global_topk(scored, k)


def pinned_centroid_ranks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]] | None = None,
    scale: int = 1000,
) -> DataFrame:
    """Rank every pinned centroid per vector by exact integer L2 distance:
    (vid, __qv, cid, __d2, __pr), ``__pr = 1`` is the assignment.  Shared by
    IVF probing (:func:`ivf_topk_pinned`) and SemDeDup clustering
    (:mod:`.semdedup`).  Physically a broadcast of nlist centroid rows and
    a map-side crossJoin + per-vector window — no data-sized shuffle."""
    if centroids is None:
        from .ivf_centroids import PINNED_IVF_CENTROIDS

        centroids = PINNED_IVF_CENTROIDS
    spark = df.sparkSession
    cent_df = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "cid int, cv array<bigint>",
        )
    )
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"), quantize_vec(F.col(vec_col), scale).alias("__qv")
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vid").orderBy(F.asc("__d2"), F.asc("cid"))
    return (
        base.crossJoin(cent_df)
        .select("vid", "__qv", "cid", dist2.alias("__d2"))
        .withColumn("__pr", F.row_number().over(w))
    )


def ivf_topk_pinned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroids: list[list[int]] | None = None,
    nprobe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """IVF ANN with a PINNED coarse quantizer — the production/oracle form.

    FAISS separates quantizer training from search; this operator is the
    search half with the trained quantizer shipped as integer literals
    (:mod:`.ivf_centroids`, fitted offline by scripts/fit_ivf_centroids.py).
    Assignment and probing are exact integer-distance argmins
    (Σ(qᵢ−cᵢ)² over the quantized grid, ties to the lower centroid id), so
    the whole query — list assignment, nprobe probing, in-list exact
    scoring — is deterministic and DuckDB-oracle-checkable, unlike a
    float-iterative in-Spark KMeans fit.

    Physical plan: one broadcast of nlist centroid rows, a narrow
    crossJoin + window per vector (nlist ≪ n, so this is a map-side
    operation), then the same mixed-block matmul kernel as brute force —
    but each query only visits ``nprobe`` of ``nlist`` lists, the IVF
    speedup.  At 100 TB: lists are the partition layout; re-fit the
    quantizer offline on a sample whenever drift matters.
    """
    ranked = pinned_centroid_ranks(df, id_col, vec_col, centroids, scale)
    cand = ranked.filter(F.col("__pr") == 1).select(
        "vid", "__qv", F.col("cid").alias("__blk"),
        F.lit(False).alias("__is_q"), F.lit(True).alias("__is_c"),
    )
    qrep = ranked.filter(F.col("__pr") <= nprobe).select(
        "vid", "__qv", F.col("cid").alias("__blk"),
        F.lit(True).alias("__is_q"), F.lit(False).alias("__is_c"),
    )
    scored = (
        cand.unionByName(qrep)
        .groupBy("__blk")
        .applyInPandas(
            _mixed_block_topk(k), "query_id long, neighbor_id long, sim double"
        )
    )
    return _global_topk(scored, k)
