"""ML-layer queries (SURVEY.md §2.9 M2§–M7§, §2.3 J5/J6).

The vectorize/cluster/similarity stages.  BoW term counting and the cosine
similarity joins are oracle-checked (integer tf / quantized embeddings make
the math exact cross-engine); the KMeans fit itself is rows-only (checked by
invariants in tests/test_ml.py — cluster count, full assignment, seed
stability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..ml.clustering import assign_clusters, fit_kmeans
from ..ml.vectorize import fit_vectorizer, load_stop_words
from ..operators.ann import cosine_topk_bruteforce, ivf_topk_pinned
from ..operators.lsh import lsh_topk_pinned, pinned_hyperplanes
from ..operators.ivf_centroids import PINNED_IVF_CENTROIDS
from ..operators.similarity import (
    cosine_topk_arrays,
    doc_token_weights,
    sparse_cosine_topk,
    tfidf_weights,
)
from . import register, register_extra


# ---------------------------------------------------------------------------
# M2§ as a relation — BoW term counts with min-df pruning
# (reference `CountVectorizer(min_df=10)`, `guessLike_u_like.py:74`)
# ---------------------------------------------------------------------------

@register_extra(
    "doc_token_counts",
    r"""
    WITH tf AS (
        SELECT doc_id, tok AS token, count(*) AS tf
        FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
            FROM documents
        )
        WHERE tok <> ''
        GROUP BY doc_id, tok
    ),
    kept AS (
        SELECT token FROM (SELECT token, count(*) AS d FROM tf GROUP BY token)
        WHERE d >= 10
    )
    SELECT doc_id, token, tf FROM tf JOIN kept USING (token)
    """,
)
def q_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_token_weights(docs, "doc_id", "text", min_df=10)


# ---------------------------------------------------------------------------
# S8 + P6 — stop-word filtering through the REAL ML-pipeline mechanism
# (RegexTokenizer → StopWordsRemover with the bundled list, the reference's
# `CountVectorizer(stop_words=...)` path `guessLike_u_like.py:72-74`).
# The oracle re-derives the filter as `token NOT IN (<list>)` — the
# transformer's semantics (lowercased match, order-preserving keep) are
# what's being pinned, not just "some tokens vanished".
# ---------------------------------------------------------------------------

_SW_IN_LIST = ", ".join(
    "'" + w.replace("'", "''") + "'" for w in load_stop_words()
)


@register_extra(  # demoted rotation #9 (r11): facet coverage rides driver rows
    "stopword_profile",
    rf"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_raw,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, ' ') AS kept_doc
    FROM (
        SELECT doc_id, toks,
               list_filter(toks, x -> x NOT IN ({_SW_IN_LIST})) AS kept
        FROM t
    )
    """,
)
def q_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import RegexTokenizer, StopWordsRemover

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = RegexTokenizer(
        inputCol="text",
        outputCol="__toks",
        pattern=r"[ \t\n\x0B\f\r]+",
        minTokenLength=1,
        toLowercase=True,
    )
    rem = StopWordsRemover(
        inputCol="__toks", outputCol="__kept", stopWords=load_stop_words()
    )
    out = rem.transform(tok.transform(docs))
    return out.select(
        "doc_id",
        F.size("__toks").cast("bigint").alias("n_raw"),
        F.size("__kept").cast("bigint").alias("n_kept"),
        F.concat_ws(" ", "__kept").alias("kept_doc"),
    )


# ---------------------------------------------------------------------------
# TF-IDF term weighting (north-star text-analytics surface) — idf quantized
# to integer micros at the source so any downstream dot product is an exact
# integer sum (the same determinism discipline as quantize_vec)
# ---------------------------------------------------------------------------

# Demoted to EXTRA in round 5 (still oracle-checked locally): the M2/M5
# vectorization + P11 min-df facets ride doc_similarity_topk's driver row
# (count-vectorized cosine with vocabulary pruning) and the idf-weighting
# facet rides bm25_scores (idf-smoothed, tf-saturated weights); the slot
# went to the BPE tokenizer-training flagship.
@register_extra(
    "tfidf_weights",
    r"""
    WITH tf AS (
        SELECT doc_id, tok AS token, count(*) AS tf
        FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
            FROM documents
        )
        WHERE tok <> ''
        GROUP BY doc_id, tok
    ),
    dfc AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token HAVING count(*) >= 5
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
           CAST(round(ln((n.n_docs + 1.0) / (dfc.df + 1.0)) * 1000000)
               AS BIGINT) AS idf_micros,
           tf.tf * CAST(round(ln((n.n_docs + 1.0) / (dfc.df + 1.0)) * 1000000)
               AS BIGINT) AS w
    FROM tf JOIN dfc USING (token), n
    """,
)
def q_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_weights(docs, "doc_id", "text", min_df=5)


# ---------------------------------------------------------------------------
# J6/M7§ — per-document top-10 cosine neighbors via posting-list join
# (reference `similarities.Similarity(num_best=100)`, `simility_books.py:62`;
#  query side restricted to doc_id % 10 = 0 — per-query top-k is the
#  operator's semantic; the subset bounds the pair blowup like num_best does)
# ---------------------------------------------------------------------------

@register(
    "doc_similarity_topk",
    r"""
    WITH tf AS (
        SELECT doc_id, tok AS token, count(*) AS tf
        FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
            FROM documents
        )
        WHERE tok <> ''
        GROUP BY doc_id, tok
    ),
    kept AS (
        SELECT token FROM (SELECT token, count(*) AS d FROM tf GROUP BY token)
        WHERE d >= 10
    ),
    tfp AS (SELECT tf.* FROM tf JOIN kept USING (token)),
    norms AS (SELECT doc_id, sum(tf * tf) AS norm2 FROM tfp GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.tf * b.tf) AS dot
        FROM tfp a JOIN tfp b USING (token)
        WHERE a.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT a_id, b_id,
               dot / (sqrt(na.norm2) * sqrt(nb.norm2)) AS sim
        FROM dots
        JOIN norms na ON na.doc_id = a_id
        JOIN norms nb ON nb.doc_id = b_id
    )
    SELECT a_id AS query_id, b_id AS neighbor_id,
           round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY a_id ORDER BY sim DESC, b_id
        ) AS rn
        FROM scored
    )
    WHERE rn <= 10
    """,
)
def q_doc_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sparse_cosine_topk(
        docs,
        "doc_id",
        "text",
        k=10,
        min_df=10,
        query_filter=F.col("a_id") % 10 == 0,
    )


# ---------------------------------------------------------------------------
# J5/M6§ — cluster-blocked exact ANN: top-5 cosine neighbors per embedding
# within its label block (reference's k-means blocking scheme,
# `guessLike_u_like.py:82-93,111-117`, with `label` standing in for the
# predicted cluster; quantized dot products → exact cross-engine)
# ---------------------------------------------------------------------------

@register_extra(
    # Round-7 rotation #3: demoted to EXTRA (local DuckDB gate kept).
    # The exact-top-k facet rides the driver rows `doc_similarity_topk`
    # (exact all-pairs top-k) and `ann_topk_ivfpq`'s exact-integer
    # re-rank stage; the freed slot carries `ssjoin_prefix_pairs`.
    "ann_topk_bruteforce",
    """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_dot_product(a.qv, b.qv) AS dot,
               list_dot_product(a.qv, a.qv) AS na,
               list_dot_product(b.qv, b.qv) AS nb
        FROM q a JOIN q b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % 4 = 0
    )
    SELECT query_id, neighbor_id,
           round(dot / (sqrt(na) * sqrt(nb)), 6) AS sim, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, neighbor_id
        ) AS rn
        FROM pairs
    )
    WHERE rn <= 5
    """,
)
def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global ANN baseline (distributed brute force; §north_star
    similarity search).  Query side bounded to vec_id % 4 = 0 — the same
    probe-subset bounding the reference's online path gets per event."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(
        emb, "vec_id", "embedding", k=5, query_filter=F.col("query_id") % 4 == 0
    )


_IVF_CENT_VALUES = ", ".join(
    f"({i}, {c})" for i, c in enumerate(PINNED_IVF_CENTROIDS)
)


@register_extra(
    # demoted round 7 (rotation for warc_file_corpus_scan): the IVF
    # coarse-probing facet rides the ann_topk_ivfpq driver row, which
    # runs the SAME pinned-centroid ranking as its first stage; the
    # local DuckDB gate stays
    "ann_topk_ivf",
    f"""
    WITH cent AS (
        SELECT cid, cv::BIGINT[] AS cv
        FROM (VALUES {_IVF_CENT_VALUES}) v(cid, cv)
    ),
    q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    dist AS (
        SELECT q.vec_id, c.cid,
               list_dot_product(q.qv, q.qv)
                 - 2 * list_dot_product(q.qv, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM q, cent c
    ),
    ranked AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS pr
        FROM dist
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE pr = 1),
    probes AS (SELECT vec_id, cid FROM ranked WHERE pr <= 2),
    pairs AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
               list_dot_product(qa.qv, qb.qv) AS dot,
               list_dot_product(qa.qv, qa.qv) AS na,
               list_dot_product(qb.qv, qb.qv) AS nb
        FROM probes p
        JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id
        JOIN q qa ON qa.vec_id = p.vec_id
        JOIN q qb ON qb.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id,
           round(dot / (sqrt(na) * sqrt(nb)), 6) AS sim, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, neighbor_id
        ) AS rn
        FROM pairs
    )
    WHERE rn <= 5
    """,
)
def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the pinned offline-trained coarse quantizer
    (operators/ivf_centroids.py): integer-exact assignment + nprobe=2
    probing + exact in-list scoring — fully oracle-checked, every stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_pinned(emb, "vec_id", "embedding", k=5, nprobe=2)


# Demoted to EXTRA in round 5 (still oracle-checked locally): the J5/M6
# within-cluster cosine facets ride embedding_neardup_pairs' driver row
# (same label-blocked exact scoring kernel); the slot went to ann_topk_pq,
# which adds the compressed-index regime the ANN family lacked.
@register_extra(
    "ann_topk_blocked",
    """
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_dot_product(a.qv, b.qv) AS dot,
               list_dot_product(a.qv, a.qv) AS na,
               list_dot_product(b.qv, b.qv) AS nb
        FROM q a JOIN q b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id,
           round(dot / (sqrt(na) * sqrt(nb)), 6) AS sim, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, neighbor_id
        ) AS rn
        FROM pairs
    )
    WHERE rn <= 5
    """,
)
def q_ann_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_arrays(
        emb, "vec_id", "embedding", k=5, block_col="label", scale=1000
    )


# ---------------------------------------------------------------------------
# M2§+M3§+M4§ — full vectorize→cluster pipeline (rows-only: vocabulary order
# and centroid init are engine-specific; invariants tested in test_ml.py)
# ---------------------------------------------------------------------------

# demoted round 8 (rotation for doc_clusters_exact): the MLlib fit stays
# rows-only by nature (float k-means||); its M3/M4 facet now ALSO rides
# the driver window's exact integer twin, so the float pipeline keeps its
# invariant gate (tests/test_ml.py) in EXTRA
@register_extra("doc_clusters", None)
def q_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # stop-word removal (S8) ahead of the vectorizer, as in the reference's
    # online pipelines (`guessLike_u_like.py:74`)
    vec = fit_vectorizer(docs, "text", min_df=2.0, stop_words=load_stop_words())
    feats = vec.transform(docs)
    km = fit_kmeans(feats, k=10, seed=42)
    assigned = assign_clusters(km, feats)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("cluster")
    )


from ..operators.kmeans_exact import lloyd_exact, lloyd_exact_oracle_sql


@register("doc_clusters_exact", lloyd_exact_oracle_sql())
def q_doc_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3§/M4§ as a HASH-CHECKED fit (operators/kmeans_exact.py): pinned
    integer fixed-point Lloyd over the quantized embeddings — md5-seeded
    centroids, 5 fixed iterations, tie-broken integer argmin, sign-safe
    truncating centroid means — replayed move-for-move by a generated
    unrolled DuckDB CTE chain.  The MLlib float pipeline (`doc_clusters`,
    EXTRA) remains the faithful reference port; this twin puts the
    CLUSTERING ITSELF inside the correctness gate: a seeding, distance,
    tie-break, division, or empty-cluster bug mismatches the hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lloyd_exact(emb, "vec_id", "embedding", k=8, iters=5)


# ---------------------------------------------------------------------------
# north_star similarity search — random-hyperplane LSH ANN: the
# data-INDEPENDENT bucket index (Charikar SRP-LSH).  Pinned integer
# hyperplanes (same determinism trick as the IVF quantizer / MinHash hash
# family) make signature bits, bucket ids and quantized cosine scores exact
# in both engines — every stage of the approximate index is oracle-checked.
# ---------------------------------------------------------------------------

# Max-geometry plane literals: plane (t, j) identity is independent of the
# requested bits (fixed _J_STRIDE in operators/lsh.py), so the static SQL
# inlines all 16 tables x 16 bits once and the derived-bits subset
# (j < bits) equals what pinned_hyperplanes(16, bits) generates in Spark.
_LSH_PLANE_VALUES = ", ".join(
    f"({t}, {j}, {h})" for t, j, h in pinned_hyperplanes(n_tables=16, bits=16, dim=64)
)


@register(
    "ann_topk_lsh",
    f"""
    WITH nrows AS (
        SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL
    ),
    geom AS (
        -- derive_bits(n, target=32, min=4, max=16) in exact integer SQL:
        -- ceil(log2(m)) = length(bin(m-1)) for m>1, m = ceil(n/32)
        SELECT least(greatest(
                 CASE WHEN m > 1 THEN length(bin(m - 1)) ELSE 0 END, 4), 16) AS bits
        FROM (SELECT (n + 31) // 32 AS m FROM nrows)
    ),
    hp AS (
        SELECT t, j, h::BIGINT[] AS h
        FROM (VALUES {_LSH_PLANE_VALUES}) v(t, j, h), geom
        WHERE j < geom.bits
    ),
    q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    sig AS (
        SELECT q.vec_id, hp.t,
               sum(CASE WHEN list_dot_product(q.qv, hp.h) >= 0
                        THEN CAST(1 AS BIGINT) << hp.j ELSE 0 END) AS bucket
        FROM q, hp
        GROUP BY q.vec_id, hp.t
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM sig a
        JOIN sig b ON a.t = b.t AND a.bucket = b.bucket
                   AND a.vec_id <> b.vec_id
        WHERE a.vec_id % 4 = 0
    ),
    pairs AS (
        SELECT c.query_id, c.neighbor_id,
               list_dot_product(qa.qv, qb.qv) AS dot,
               list_dot_product(qa.qv, qa.qv) AS na,
               list_dot_product(qb.qv, qb.qv) AS nb
        FROM cand c
        JOIN q qa ON qa.vec_id = c.query_id
        JOIN q qb ON qb.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id,
           round(dot / (sqrt(na) * sqrt(nb)), 6) AS sim, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, neighbor_id
        ) AS rn
        FROM pairs
    )
    WHERE rn <= 5
    """,
)
def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (operators/lsh.py): 16 tables over the 64-dim
    embeddings with SELF-SCALING bits — `derive_bits(n)` picks the
    smallest geometry keeping expected bucket population ≤ 32 rows
    (n=500 → 4 bits at the driver's sf0.01, n=2000 → 6 at sf0.1, n=20000
    → 10 at the probe's sf1), so per-bucket pair work stays flat as the
    corpus grows instead of the measured 51.9×-at-10× blowup of frozen
    bits=6 (PLANS §12).  The oracle derives the identical bits from
    count(*) in exact integer SQL and selects the same plane subset from
    the max-geometry literals.  Candidates deduped across tables, exact
    quantized cosine within buckets, top-5 per probed query
    (vec_id % 4 = 0 — same probe bounding as `ann_topk_bruteforce`).
    Recall@5 vs brute force pinned ≥ 0.5 in tests/test_lsh.py; 16 tables
    is the recall knob (4 tables bottoms out near the geometry floor on
    these near-orthogonal synthetic embeddings)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk_pinned(
        emb, "vec_id", "embedding", k=5,
        n_tables=16, query_filter=F.col("query_id") % 4 == 0,
    )


# ---------------------------------------------------------------------------
# PQ ANN — pinned codebooks make encode + ADC exact integer arithmetic,
# so the compressed-index search path is fully oracle-checked.
# ---------------------------------------------------------------------------

def _pq_cb_values() -> str:
    from ..operators.pq_codebooks import PINNED_PQ_CODEBOOKS

    rows = []
    for j, book in enumerate(PINNED_PQ_CODEBOOKS):
        for c, cw in enumerate(book):
            rows.append(f"({j}, {c}, {cw})")
    return ", ".join(rows)


def _pq_sub_dim() -> int:
    from ..operators.pq_codebooks import PQ_SUB_DIM

    return PQ_SUB_DIM


_PQ_ORACLE = f"""
    WITH cb(j, c, cv) AS (VALUES {_pq_cb_values()}),
    q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    d AS (
        SELECT q.vec_id, cb.j, cb.c,
               list_aggregate(list_transform(
                   list_zip(q.qv[cb.j * {_pq_sub_dim()} + 1:(cb.j + 1) * {_pq_sub_dim()}], cb.cv),
                   z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum') AS dist
        FROM q, cb
    ),
    codes AS (
        SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c, row_number() OVER (
                PARTITION BY vec_id, j ORDER BY dist, c
            ) AS rn FROM d
        ) WHERE rn = 1
    ),
    lut AS (SELECT vec_id, j, c, dist FROM d WHERE vec_id % 4 = 0),
    scored AS (
        SELECT l.vec_id AS query_id, cs.vec_id AS neighbor_id,
               sum(l.dist) AS adc
        FROM codes cs JOIN lut l ON l.j = cs.j AND l.c = cs.code
        WHERE l.vec_id <> cs.vec_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_dist,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc, neighbor_id
        ) AS rn FROM scored
    )
    WHERE rn <= 5
    """


@register_extra("ann_topk_pq", _PQ_ORACLE)
def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN (operators/pq.py): encode is an Arrow-batched
    integer argmin against the pinned M=16×K=256 codebooks (16 bytes per
    vector — the 16×-compression index a 100 TB embedding corpus keeps
    in RAM), search gathers 16 integer LUT entries per candidate
    (asymmetric distance).  Every stage exact integers — the whole
    compressed path hash-checks.  Same probe bounding as the other ANN
    queries (vec_id % 4 = 0), top-5 ascending distance.

    Rotated to EXTRA in round 6 (SURVEY §8): the driver slot went to
    ``ann_topk_ivfpq``, the deployment-shape composition — its ADC leg
    runs the SAME codebooks and LUT-gather kernel, so the full-scan-ADC
    facet rides that driver row while this query keeps the local DuckDB
    gate."""
    from ..operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, "vec_id", "embedding", k=5,
        query_filter=F.col("query_id") % 4 == 0,
    )


# shared WITH-prefix of the IVFPQ oracles: pinned centroids + codebooks,
# exact-integer coarse ranking, probes (nprobe=2, vec_id % 4 = 0 queries),
# per-subspace code assignment, query LUTs, and the ADC-scored pairs
_IVFPQ_COMMON = f"""
    WITH cent AS (
        SELECT cid, cv::BIGINT[] AS cv
        FROM (VALUES {_IVF_CENT_VALUES}) v(cid, cv)
    ),
    cb(j, c, cbv) AS (VALUES {_pq_cb_values()}),
    q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    cdist AS (
        SELECT q.vec_id, c.cid,
               list_dot_product(q.qv, q.qv)
                 - 2 * list_dot_product(q.qv, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM q, cent c
    ),
    cranked AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS pr
        FROM cdist
    ),
    assign AS (SELECT vec_id, cid FROM cranked WHERE pr = 1),
    probes AS (
        SELECT vec_id, cid FROM cranked WHERE pr <= 2 AND vec_id % 4 = 0
    ),
    d AS (
        SELECT q.vec_id, cb.j, cb.c,
               list_aggregate(list_transform(
                   list_zip(q.qv[cb.j * {_pq_sub_dim()} + 1:(cb.j + 1) * {_pq_sub_dim()}], cb.cbv),
                   z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum') AS dist
        FROM q, cb
    ),
    codes AS (
        SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c, row_number() OVER (
                PARTITION BY vec_id, j ORDER BY dist, c
            ) AS rn FROM d
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT d.vec_id, d.j, d.c, d.dist
        FROM d JOIN (SELECT DISTINCT vec_id FROM probes) pq USING (vec_id)
    ),
    scored AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
               sum(l.dist) AS adc
        FROM probes p
        JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id
        JOIN codes cs ON cs.vec_id = a.vec_id
        JOIN lut l ON l.vec_id = p.vec_id AND l.j = cs.j AND l.c = cs.code
        GROUP BY 1, 2
    )
"""

_IVFPQ_ORACLE = _IVFPQ_COMMON + """
    SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_dist,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc, neighbor_id
        ) AS rn FROM scored
    )
    WHERE rn <= 5
    """

_IVFPQ_REFINED_ORACLE = _IVFPQ_COMMON + """
    , shortlist AS (
        SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_dist
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc, neighbor_id
            ) AS srn FROM scored
        )
        WHERE srn <= 20
    ),
    exact AS (
        SELECT s.query_id, s.neighbor_id, s.adc_dist,
               CAST(list_aggregate(list_transform(
                   list_zip(qq.qv, nq.qv),
                   z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum') AS BIGINT)
                   AS l2_dist
        FROM shortlist s
        JOIN q qq ON qq.vec_id = s.query_id
        JOIN q nq ON nq.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, l2_dist, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY l2_dist, neighbor_id
        ) AS rn FROM exact
    )
    WHERE rn <= 5
    """


@register("ann_topk_ivfpq", _IVFPQ_ORACLE)
def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ (operators/pq.pq_ivf_adc_topk) — the FAISS composition the
    two pinned indexes exist for: the coarse quantizer bounds WHERE to
    look (nprobe=2 of 8 lists), the PQ codes bound WHAT each visit costs
    (16-byte ADC gathers).  Both prunings are exact integer argmins, so
    the whole two-level index hash-checks.  Same probe bounding as the
    ANN family (vec_id % 4 = 0), top-5 ascending ADC distance.

    Promoted to the driver window in round 6 (the r5 verdict's #4):
    this is the FAISS deployment shape at scale; the
    demoted ``ann_topk_pq`` keeps its local oracle and its full-scan-ADC
    facet rides this row (same codebooks, same ADC kernel)."""
    from ..operators.pq import pq_ivf_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_ivf_adc_topk(
        emb, "vec_id", "embedding", k=5, nprobe=2,
        query_filter=F.col("query_id") % 4 == 0,
    )


@register_extra("ann_topk_ivfpq_refined", _IVFPQ_REFINED_ORACLE)
def q_ann_topk_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ + exact re-rank (operators/pq.pq_ivf_adc_refined_topk,
    round 7 — the r6 verdict's #3): the full FAISS deployment recipe.
    The ADC shortlist (refine_k=20) is re-scored with exact integer L2
    — raw vectors joined back for the shortlist ONLY, ids+codes shuffle
    everywhere else — and the top-5 re-ranks by the exact distance.
    Measured recall@5 vs exact L2: 0.341 → 0.432 (sf0.001) and
    0.475 → 0.512 (sf0.01) over plain IVFPQ (tests/test_pq.py pins the
    floor; PLANS §15).  The oracle replays coarse probing, code
    assignment, LUT ADC, the shortlist cut, AND the exact re-rank."""
    from ..operators.pq import pq_ivf_adc_refined_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_ivf_adc_refined_topk(
        emb, "vec_id", "embedding", k=5, refine_k=20, nprobe=2,
        query_filter=F.col("query_id") % 4 == 0,
    )


@register_extra(
    "hashed_features",
    r"""
    WITH toks AS (
        SELECT doc_id, t AS token
        FROM documents, LATERAL unnest(
            string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')
        ) AS u(t)
        WHERE t <> ''
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5('fh-v1:' || token), 1, 15))::BIGINT
                   % 1024 AS bucket,
               CASE WHEN ('0x' || substr(md5('fs-v1:' || token), 1, 15))
                         ::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM toks
    )
    SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS weight
    FROM h GROUP BY 1, 2 HAVING sum(sign) <> 0
    """,
)
def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (operators/hashing.py, Weinberger et
    al. 2009): vocabulary-FREE signed bag-of-words — bucket and ±1 sign
    from pinned md5 hashes, one scan-local expression pass + one
    grouped sum, zero-cancelled buckets dropped.  The no-fit
    counterpart to the CountVectorizer pipeline (ml/vectorize.py): at
    100 TB there is no vocabulary pass to schedule and no driver-side
    vocab to hold.  The oracle replays bucket, sign and cancellation
    exactly."""
    from ..operators.hashing import hashed_token_features

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return hashed_token_features(docs, "doc_id", "text", n_buckets=1024)
