"""Deduplication queries (north-star extension surface) — every strategy in
:mod:`..operators.dedup` oracle-checked (md5 is bit-identical cross-engine,
so even MinHash signatures and LSH buckets hash-match)."""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..operators.dedup import (
    exact_dedup,
    lsh_buckets,
    lsh_candidate_pairs,
    minhash_hash_family,
    minhash_signatures,
    ngram_jaccard_topk,
    shingles,
    simhash_fingerprints,
)
from ..operators.components import connected_components
from ..operators.similarity import blocked_cosine_pairs_np
from . import register, register_extra

# ---------------------------------------------------------------------------
# Staged intermediate tables for the dedup chain.
#
# Five catalog queries consume the same 3-gram shingle set (and four of
# them the same LSH buckets); recomputing tokenize→shingle→distinct per
# query was ~25s of the sf0.1 bench.  Staging writes each intermediate to
# parquet ONCE per (dataset, semantics-version) and reads it back
# downstream — exactly the 100 TB deployment shape, where shingle and
# signature tables are materialized pipeline stages on the cluster store
# (PLANS.md §7), not in-query subtrees.  Results are bit-identical to the
# inline computation (same deterministic expressions), so the DuckDB
# oracles — which always recompute from the raw documents — still have to
# hash-match, proving staging changes the physics and not the answer.
# ---------------------------------------------------------------------------

_STAGE_ROOT = os.environ.get("SPARK_GRAFT_STAGE_DIR", "/tmp/spark_graft_stage")
#: bump when shingle/signature semantics change — keys the on-disk cache
_STAGE_VERSION = "v1-n3-h16b2"


def _stage(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Write-once/read-many staging: build → parquet → read.  Keyed by the
    dataset path, its documents-file mtime (testdata is immutable, but a
    regenerated fixture must not serve a stale stage), and the semantics
    version.

    Concurrency-safe via write-to-temp + atomic rename: every racing
    builder — other processes AND other threads of this session — writes
    its own uniquely-named temp dir and at most one rename wins, so a
    reader only ever sees a fully-written stage (never a directory an
    overwrite is mid-way through deleting).
    """
    doc_path = os.path.join(sf_dir, "documents.parquet")
    # nanosecond mtime + size: a fixture regenerated within the same
    # second (or deployed with mtime-preserving copy) must still miss
    try:
        st = os.stat(doc_path)
        fingerprint = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fingerprint = "absent"
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{fingerprint}:{_STAGE_VERSION}".encode()
    ).hexdigest()[:16]
    path = os.path.join(_STAGE_ROOT, key, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        import shutil
        import threading
        import uuid

        tmp = (
            f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
            f"-{uuid.uuid4().hex[:8]}"
        )
        try:
            build().write.mode("overwrite").parquet(tmp)
            os.rename(tmp, path)  # atomic on one filesystem
        except OSError:
            # treat as a lost race ONLY if a winner actually installed the
            # stage; otherwise surface the real failure instead of reading
            # a path that does not exist
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                shutil.rmtree(tmp, ignore_errors=True)
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # never leak temp dirs
    return spark.read.parquet(path)


def staged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-gram shingles ``(doc_id, shingle)`` for the documents
    table, staged to parquet."""
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return shingles(docs, "doc_id", "text", n=3, distinct=True)

    return _stage(spark, sf_dir, "shingles3", build)


def staged_hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged shingles with the 8-byte join key the Jaccard stages use."""
    return staged_shingles(spark, sf_dir).select(
        "doc_id", F.xxhash64("shingle").alias("__sh")
    )


def staged_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH buckets ``(doc_id, band_id, band_hash)`` (16 hashes × 2-row
    bands) built from the staged shingles, staged to parquet themselves —
    consumed by the buckets/pairs/components/verify queries."""
    def build() -> DataFrame:
        sigs = minhash_signatures(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            num_hashes=16,
            shingle_n=3,
            shingle_src=staged_shingles(spark, sf_dir),
        )
        return lsh_buckets(sigs, rows_per_band=2)

    return _stage(spark, sf_dir, "buckets16x2", build)

_SHINGLES_SQL = r"""
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        FROM (
            SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks
            FROM documents
        ), LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
"""


@register(
    "dedup_exact",
    """
    SELECT doc_id, fingerprint, group_size, is_dup FROM (
        SELECT doc_id, fingerprint,
               count(*) OVER (PARTITION BY fingerprint) AS group_size,
               row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) > 1
                   AS is_dup
        FROM (SELECT doc_id, md5(text) AS fingerprint FROM documents)
    )
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


@register_extra(
    "ngram_jaccard_topk",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id % 25 = 0 AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
        SELECT a_id, b_id,
               n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
    )
    SELECT a_id AS query_id, b_id AS neighbor_id,
           round(jaccard, 6) AS jaccard, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY a_id ORDER BY jaccard DESC, b_id
        ) AS rn FROM jac
    )
    WHERE rn <= 5
    """,
)
def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_topk(
        docs,
        "doc_id",
        "text",
        n=3,
        k=5,
        query_filter=F.col("a_id") % 25 == 0,
        shingle_src=staged_hashed_shingles(spark, sf_dir),
        # the query subset is bounded by construction → map-side join; the
        # corpus posting table never shuffles for the pair join
        broadcast_queries=True,
    )


_HASH_FAMILY_VALUES = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(minhash_hash_family(16))
)

_SIGS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h
        FROM sh
    ),
    sigs AS (
        SELECT doc_id, f.hash_id,
               min((h * f.a + f.b) % 2147483647) AS sig
        FROM hashed, (VALUES {_HASH_FAMILY_VALUES}) f(hash_id, a, b)
        GROUP BY doc_id, f.hash_id
    ),
    buckets AS (
        SELECT doc_id, CAST(hash_id // 2 AS INT) AS band_id,
               md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY hash_id))
                   AS band_hash
        FROM sigs GROUP BY doc_id, CAST(hash_id // 2 AS INT)
    )
"""

#: the LSH candidate-pair join — shared verbatim by the buckets/pairs/
#: components/verify oracles so a banding change edits ONE place
_PAIRS_SQL = """
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM buckets a
        JOIN buckets b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
"""



# Demoted to EXTRA in round 5 (still oracle-checked locally): the driver
# slot went to image_neardup_phash, and every facet of this query rides
# minhash_verified_pairs' driver row (same staged shingle→minhash→band
# chain, probed END-to-end through candidates + exact-Jaccard verify).
@register_extra(
    "minhash_lsh_buckets",
    _SIGS_SQL + "\n    SELECT doc_id, band_id, band_hash FROM buckets",
)
def q_minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return staged_buckets(spark, sf_dir).select("doc_id", "band_id", "band_hash")


@register_extra(
    "minhash_candidate_pairs",
    _SIGS_SQL + _PAIRS_SQL,
)
def q_minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(staged_buckets(spark, sf_dir))


@register(
    "dedup_components",
    _SIGS_SQL.replace("WITH", "WITH RECURSIVE", 1)
    + """,
    pairs AS (""" + _PAIRS_SQL + """
    ),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION ALL
        SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT u AS node, u AS lbl FROM edges
        UNION
        SELECT e.u AS node, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    ),
    comp AS (SELECT node, min(lbl) AS canon FROM reach GROUP BY node)
    SELECT c.node AS doc_id, c.canon AS canon_id, CAST(s.n AS BIGINT) AS csize
    FROM comp c
    JOIN (SELECT canon, count(*) AS n FROM comp GROUP BY canon) s USING (canon)
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: LSH candidate pairs → connected components →
    (doc, canonical member, cluster size).  The canonical member (min id
    reachable) is the survivor a corpus clean keeps; the oracle computes
    the same closure with a recursive CTE."""
    pairs = lsh_candidate_pairs(staged_buckets(spark, sf_dir))
    cc = connected_components(pairs, "a_id", "b_id")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canon_id"),
        F.col("csize").cast("long").alias("csize"),
    )


@register_extra(
    "leakage_safe_splits",
    _SIGS_SQL.replace("WITH", "WITH RECURSIVE", 1)
    + """,
    pairs AS (""" + _PAIRS_SQL + """
    ),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION ALL
        SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT u AS node, u AS lbl FROM edges
        UNION
        SELECT e.u AS node, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    ),
    comp AS (SELECT node, min(lbl) AS canon FROM reach GROUP BY node),
    grouped AS (
        SELECT d.doc_id, coalesce(c.canon, d.doc_id) AS split_group
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id,
           CAST(split_group AS BIGINT) AS split_group,
           CAST(bucket AS BIGINT) AS split_bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, split_group,
               ('0x' || substr(md5(CAST(split_group AS VARCHAR) || 'splitgv1'),
                               1, 7))::BIGINT % 100 AS bucket
        FROM grouped
    )
    """,
)
def q_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-leakage-safe train/val/test split (operators/textstats.
    leakage_safe_splits): the LSH candidate-pair graph's connected
    components define the split group, so a whole duplicate cluster lands
    in one split — the eval-contamination guard per-doc hashing cannot
    give.  Oracle recomputes the closure with the recursive CTE and
    hashes the identical group id."""
    from ..operators.textstats import leakage_safe_splits

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(staged_buckets(spark, sf_dir))
    return leakage_safe_splits(docs, "doc_id", pairs)


@register_extra(  # demoted rotation #9 (r11): facet coverage rides driver rows
    "simhash_fingerprints",
    r"""
    WITH tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS token
            FROM documents
        )
        WHERE token <> ''
        GROUP BY doc_id, token
    ),
    bits AS (
        SELECT doc_id, pp.p,
               sum(CASE WHEN strpos('0123456789abcdef',
                                    substr(md5(token), pp.p + 1, 1)) - 1 >= 8
                        THEN tf ELSE -tf END) AS s
        FROM tf, LATERAL (SELECT unnest(range(0, 16)) AS p) pp
        GROUP BY doc_id, pp.p
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs, "doc_id", "text")


@register(
    "embedding_neardup_pairs",
    """
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000) AS BIGINT)) AS qv
        FROM embeddings
    )
    SELECT a_id, b_id, round(sim, 6) AS sim FROM (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_dot_product(a.qv, b.qv)
                   / (sqrt(list_dot_product(a.qv, a.qv))
                      * sqrt(list_dot_product(b.qv, b.qv))) AS sim
        FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    WHERE sim >= 0.35
    """,
)
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs_np(
        emb, "vec_id", "embedding", block_col="label", threshold=0.35, scale=1000
    )


@register(
    "incremental_dedup",
    """
    WITH old AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 <> 0
    ),
    new AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 = 0
    )
    SELECT n.doc_id,
           min(o.doc_id) AS dup_of,
           count(o.doc_id) > 0 AS is_corpus_dup
    FROM new n LEFT JOIN old o ON n.fp = o.fp
    GROUP BY n.doc_id
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the operational shape at 100 TB: hash only the
    NEW batch and join it against the existing corpus's fingerprint index
    (in production a bucketed table on fp, making this scan-and-merge with
    no corpus-side shuffle).  Never re-dedups the
    corpus itself."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    old = docs.filter(F.col("doc_id") % 4 != 0).select(
        F.col("doc_id").alias("old_id"), fp.alias("fp")
    )
    new = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", fp.alias("fp")
    )
    return (
        new.join(old, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.min("old_id").alias("dup_of"),
            (F.count("old_id") > 0).alias("is_corpus_dup"),
        )
    )


@register(
    "minhash_verified_pairs",
    _SIGS_SQL
    + """,
    pairs AS (""" + _PAIRS_SQL + """
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.a_id, p.b_id, count(*) AS n_inter
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.a_id
        JOIN sh sb ON sb.doc_id = p.b_id AND sb.shingle = sa.shingle
        GROUP BY p.a_id, p.b_id
    )
    SELECT a_id, b_id,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def q_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact Jaccard (threshold 0.5) — kills the
    false positives banding admits, at |candidates| cost rather than the
    posting-join blowup."""
    from ..operators.dedup import verify_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(staged_buckets(spark, sf_dir))
    return verify_candidate_pairs(
        docs,
        pairs,
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        shingle_src=staged_hashed_shingles(spark, sf_dir),
    ).withColumn("jaccard", F.round("jaccard", 6))


@register_extra(
    "incremental_neardup",
    _SIGS_SQL
    + """,
    bnew AS (SELECT * FROM buckets WHERE doc_id % 4 = 0),
    bold AS (SELECT * FROM buckets WHERE doc_id % 4 <> 0),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bnew n
        JOIN bold o ON n.band_id = o.band_id AND n.band_hash = o.band_hash
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.new_id, c.old_id, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.new_id
        JOIN sh sb ON sb.doc_id = c.old_id AND sb.shingle = sa.shingle
        GROUP BY c.new_id, c.old_id
    ),
    jac AS (
        SELECT new_id, old_id,
               n_inter / (sa.n_sh + sb.n_sh - n_inter) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = new_id
        JOIN sizes sb ON sb.doc_id = old_id
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ),
    best AS (
        SELECT new_id, old_id, j FROM (
            SELECT *, row_number() OVER (
                PARTITION BY new_id ORDER BY j DESC, old_id
            ) AS rn FROM jac
        ) WHERE rn = 1
    )
    SELECT d.doc_id, b.old_id AS dup_of,
           round(b.j, 6) AS jaccard,
           b.old_id IS NOT NULL AS is_neardup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
    LEFT JOIN best b ON b.new_id = d.doc_id
    """,
)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup — the ingest-time complement of
    `incremental_dedup`'s exact-hash check: the new batch's LSH buckets
    probe the corpus bucket index (both staged), candidates are verified
    by exact Jaccard (>= 0.5), and each new doc reports its best corpus
    match.  At 100 TB the corpus buckets are a bucketed table on
    (band_id, band_hash), so the probe is a scan-and-merge on the batch's
    buckets only — the corpus is never re-shingled or re-shuffled."""
    from ..operators.dedup import verify_candidate_pairs
    from ..operators.topk import topk_per_group

    docs = load_table(spark, sf_dir, "documents")
    buckets = staged_buckets(spark, sf_dir)
    bnew = buckets.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("a_id"), "band_id", "band_hash"
    )
    bold = buckets.filter(F.col("doc_id") % 4 != 0).select(
        F.col("doc_id").alias("b_id"), "band_id", "band_hash"
    )
    cand = (
        bnew.join(bold, ["band_id", "band_hash"])
        .select("a_id", "b_id")
        .distinct()
    )
    verified = verify_candidate_pairs(
        docs,
        cand,
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        shingle_src=staged_hashed_shingles(spark, sf_dir),
    )
    # rank on the RAW jaccard (the oracle's best CTE does too); round only
    # at the output edge — ranking the rounded value would tie-break
    # differently on rounding-collapsed near-ties
    best = topk_per_group(
        verified, ["a_id"], [F.desc("jaccard"), F.asc("b_id")], k=1
    ).select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    new_docs = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    return new_docs.join(
        best, new_docs.doc_id == best.a_id, "left"
    ).select(
        "doc_id",
        F.col("b_id").alias("dup_of"),
        "jaccard",
        F.col("b_id").isNotNull().alias("is_neardup"),
    )


# ---------------------------------------------------------------------------
# Image near-dup via perceptual hash (round 5, VERDICT r4 #4): the REAL
# image decode feeding the dedup ladder shape — dHash over decoded pixels,
# banded hamming-LSH candidate join, exact bit_count verify.  With bands=8
# each 8-bit band IS one dHash lattice row, so the DuckDB oracle rebuilds
# the per-row band values straight from the reconstructed pixel stream
# (PNG fixture pixels = doc text cycled; byte at offset o =
# ascii(substr(text, o % len + 1, 1))) — no 64-bit packing needed, and
# candidates + hamming distances are exact in both engines.
# ---------------------------------------------------------------------------


@register(
    "image_neardup_phash",
    """
    WITH g AS (
        SELECT doc_id,
               1 + doc_id % 29 AS w,
               1 + doc_id % 13 AS h,
               text,
               length(text) AS L
        FROM documents
    ),
    samp AS (
        -- integer-luma samples on the 9x8 nearest-neighbor lattice of
        -- each doc's PNG (pixel stream = text cycled to w*h*3 RGB bytes)
        SELECT doc_id, gy, gx,
               (77 * b0 + 150 * b1 + 29 * b2) // 256 AS luma
        FROM (
            SELECT g.doc_id, gy.gy, gx.gx,
                   CASE WHEN L = 0 THEN 0 ELSE ascii(substr(text,
                        CAST((((gy.gy * h) // 8 * w + (gx.gx * w) // 9) * 3)
                             % L AS INT) + 1, 1)) END AS b0,
                   CASE WHEN L = 0 THEN 0 ELSE ascii(substr(text,
                        CAST((((gy.gy * h) // 8 * w + (gx.gx * w) // 9) * 3 + 1)
                             % L AS INT) + 1, 1)) END AS b1,
                   CASE WHEN L = 0 THEN 0 ELSE ascii(substr(text,
                        CAST((((gy.gy * h) // 8 * w + (gx.gx * w) // 9) * 3 + 2)
                             % L AS INT) + 1, 1)) END AS b2
            FROM g,
                 (SELECT unnest(range(8)) AS gy) gy,
                 (SELECT unnest(range(9)) AS gx) gx
        )
    ),
    dbits AS (
        -- band i = dHash lattice row i: bit x set iff luma(x) < luma(x+1)
        SELECT s1.doc_id, s1.gy AS band,
               CAST(sum(CASE WHEN s1.luma < s2.luma
                             THEN CAST(1 AS BIGINT) << s1.gx ELSE 0 END)
                    AS BIGINT) AS val
        FROM samp s1
        JOIN samp s2 ON s1.doc_id = s2.doc_id AND s1.gy = s2.gy
                    AND s2.gx = s1.gx + 1
        GROUP BY s1.doc_id, s1.gy
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS image_a, b.doc_id AS image_b
        FROM dbits a
        JOIN dbits b ON a.band = b.band AND a.val = b.val
                    AND a.doc_id < b.doc_id
    ),
    ham AS (
        SELECT c.image_a, c.image_b,
               CAST(sum(bit_count(xor(x.val, y.val))) AS INT) AS hamming
        FROM cand c
        JOIN dbits x ON x.doc_id = c.image_a
        JOIN dbits y ON y.doc_id = c.image_b AND y.band = x.band
        GROUP BY c.image_a, c.image_b
    )
    SELECT image_a, image_b, hamming FROM ham WHERE hamming <= 10
    """,
)
def q_image_neardup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup over REALLY-decoded PNG fixtures:
    generate one PNG per document (pixels = text cycled), decode through
    the CRC/inflate/unfilter path, dHash the decoded pixels on a 9x8
    nearest-neighbor lattice (operators/phash.py), then banded
    hamming-LSH — candidates share an 8-bit band, exact bit_count(xor)
    distance <= 10.  (image_a, image_b, hamming) pairs, a < b.  The
    bucket join is the MinHash-band discipline: work is proportional to
    the sum of squared band-bucket sizes, never the all-pairs cross."""
    import pandas as pd

    from ..operators.multimodal import _spread, decode_any, make_png
    from ..operators.phash import _to_i64, dhash64, phash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # ONE fused generate+decode+dHash pass (round 16, guide §4; the
    # multimodal_meta fusion pattern): the former generate_png_media →
    # phash_image_hashes chain shipped every PNG payload across the
    # Arrow boundary twice — and, unchecked, the 2-kernel chain executed
    # TWICE because the band self-join consumes the hash frame on both
    # sides.  The kernel calls the same make_png/decode_any the media
    # operators use (identical drop-on-undecodable semantics).  The
    # repartition puts the tiny (media_id, dhash) index behind one
    # exchange that both sides of the band self-join reuse, so the kernel
    # runs once and building this plan launches no job.
    def png_dhash(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                decoded = decode_any(
                    make_png(1 + did % 29, 1 + did % 13,
                             str(text).encode("utf-8"))
                )
                if decoded is None:
                    continue
                w, h, c, px = decoded
                rows.append({
                    "media_id": did,
                    "dhash": _to_i64(dhash64(px, w, h, c)),
                })
            if rows:
                yield pd.DataFrame(rows)

    hashes = (
        _spread(docs)
        .mapInPandas(png_dhash, "media_id long, dhash long")
        .repartition("media_id")
    )
    return phash_neardup_pairs(hashes, "dhash", "media_id", bands=8, max_hamming=10).select(
        F.col("image_a"), F.col("image_b"), F.col("hamming")
    )


_FUZZY_Q = 6
_FUZZY_K = 2

_FUZZY_SQL = rf"""
WITH t0 AS (SELECT doc_id, substr(text, 1, 40) AS t FROM documents),
u AS (
    SELECT doc_id, t FROM t0
    UNION ALL
    SELECT doc_id + 10000000, substr(t, 1, 4) || '~' || substr(t, 6) FROM t0
),
g AS (
    SELECT doc_id, t, length(t) AS l,
           unnest(list_distinct(list_transform(
               range(1, length(t) - {_FUZZY_Q} + 2),
               i -> substr(t, i, {_FUZZY_Q})))) AS gm
    FROM u WHERE length(t) >= {_FUZZY_Q * (_FUZZY_K + 1)}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.t AS ta, b.t AS tb
    FROM g a JOIN g b
      ON a.gm = b.gm AND a.doc_id < b.doc_id AND abs(a.l - b.l) <= {_FUZZY_K}
)
SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
FROM cand WHERE levenshtein(ta, tb) <= {_FUZZY_K}
"""


@register_extra("fuzzy_title_pairs", _FUZZY_SQL)
def q_fuzzy_title_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy self-join (operators/fuzzyjoin.
    edit_distance_join): every title pair within Levenshtein ≤ 2, found
    via lossless q-gram posting candidates (q=6 ⇒ any true pair of
    ≥18-char strings shares a gram) and verified with the exact
    `levenshtein` built-in — identical DP in Spark and DuckDB, so even
    the distances are hash-checked.  Fixture: 40-char document prefixes
    plus a typo'd copy of each (one substituted char), giving every
    title a distance-1 partner on top of the corpus's natural near-dups."""
    from ..operators.fuzzyjoin import edit_distance_join

    docs = load_table(spark, sf_dir, "documents")
    titles = docs.select(
        "doc_id", F.substring("text", 1, 40).alias("t")
    )
    typos = titles.select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(
            F.substring("t", 1, 4), F.lit("~"), F.expr("substring(t, 6, 40)")
        ).alias("t"),
    )
    return edit_distance_join(
        titles.unionByName(typos), "doc_id", "t",
        max_dist=_FUZZY_K, q=_FUZZY_Q,
    )


def _pagerank_oracle() -> str:
    from ..operators.pagerank import pagerank_unrolled_sql

    return (
        _SIGS_SQL
        + """,
    pairs AS ("""
        + _PAIRS_SQL
        + """
    ),"""
        + pagerank_unrolled_sql()
    )


@register_extra("dup_graph_pagerank", _pagerank_oracle())
def q_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (operators/pagerank.pagerank_micro) over the LSH
    candidate-pair graph: ranks template/boilerplate hubs that collide
    with everything — the centrality complement to dedup_components'
    cluster membership.  Exact micro-unit arithmetic with a fixed
    iteration count makes even this iterative algorithm hash-checkable;
    the oracle's unrolled CTE stages are generated from the same
    constants as the Spark loop."""
    from ..operators.pagerank import pagerank_micro

    pairs = lsh_candidate_pairs(staged_buckets(spark, sf_dir))
    return pagerank_micro(pairs)


_ESD_W = 8
_ESD_SUFFIX = (
    " subscribe to our newsletter for updates and exclusive offers today"
)

_ESD_ORACLE = f"""
    WITH aug AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0 THEN '{_ESD_SUFFIX}'
                            ELSE '' END AS text
        FROM documents
    ),
    t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> '') AS toks
        FROM aug
    ),
    occ AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(toks[i:i + {_ESD_W - 1}], ' ')) AS wh
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) - {_ESD_W - 2})) AS i)
    ),
    r AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY wh) AS cnt
        FROM occ
    ),
    rem AS (
        SELECT doc_id, pos, pos + {_ESD_W - 1} AS e
        FROM r WHERE cnt >= 2 AND rn >= 2
    ),
    isl AS (
        SELECT doc_id, pos, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR pos > max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS ni
        FROM rem
    ),
    isl2 AS (
        SELECT doc_id, pos, e,
               sum(ni) OVER (
                   PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
               ) AS g
        FROM isl
    ),
    m AS (SELECT doc_id, g, min(pos) AS s, max(e) AS e
          FROM isl2 GROUP BY doc_id, g),
    tok AS (
        SELECT doc_id, i AS pos, toks[i] AS tokn
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
    ),
    keep AS (
        SELECT k.doc_id, k.pos, k.tokn FROM tok k
        WHERE NOT EXISTS (
            SELECT 1 FROM m
            WHERE m.doc_id = k.doc_id AND k.pos BETWEEN m.s AND m.e
        )
    ),
    g AS (
        SELECT doc_id, string_agg(tokn, ' ' ORDER BY pos) AS clean_text,
               count(*) AS kc
        FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(g.clean_text, '') AS clean_text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(g.kc, 0) AS BIGINT) AS n_removed_tokens
    FROM t LEFT JOIN g USING (doc_id)
"""


@register("exact_substring_dedup", _ESD_ORACLE)
def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span removal (operators/substring_dedup.py — the Lee et
    al. 2021 scrub, token-window formulation): every duplicated 8-token
    window keeps only its corpus-wide first occurrence; later copies of
    exact-dup docs empty out entirely and the synthetically shared
    boilerplate sentence (appended to doc_id % 3 = 0, so the
    cross-document partial-span rule provably fires) survives only in
    the first doc carrying it.  The oracle mirrors the augmentation and
    replays the same window/interval algebra with md5 window keys —
    equality classes, not hash values, decide removal, so the different
    hash functions still agree."""
    from ..operators.substring_dedup import exact_substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(_ESD_SUFFIX))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return exact_substring_dedup(aug, "doc_id", "text", w=_ESD_W)


@register_extra(
    "cdc_chunk_stats",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i AS pos, toks[i] AS tok
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
    ),
    chunked AS (
        SELECT doc_id, pos, tok,
               coalesce(sum(CASE WHEN ('0x' || substr(md5(tok), 1, 7))::BIGINT
                                      % 8 = 0 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS chunk_id
        FROM pos
    ),
    chunks AS (
        SELECT doc_id, chunk_id,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS ch,
               count(*) AS n_tok
        FROM chunked GROUP BY doc_id, chunk_id
    ),
    dup AS (
        SELECT ch FROM (SELECT ch, count(*) AS occ FROM chunks GROUP BY ch)
        WHERE occ >= 2
    ),
    marked AS (
        SELECT c.doc_id, c.n_tok, d.ch IS NOT NULL AS is_dup
        FROM chunks c LEFT JOIN dup d USING (ch)
    ),
    agg AS (
        SELECT doc_id,
               count(*) AS n_chunks,
               sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup_chunks,
               sum(n_tok) AS nt,
               sum(CASE WHEN is_dup THEN n_tok ELSE 0 END) AS dup_nt
        FROM marked GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(a.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
           CAST(CASE WHEN coalesce(a.nt, 0) = 0 THEN 0
                ELSE a.dup_nt * 10000 // a.nt END AS BIGINT)
               AS dup_token_coverage_bp
    FROM t LEFT JOIN agg a USING (doc_id)
    """,
)
def q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup stats (operators/dedup.
    cdc_chunk_stats): token-hash-driven chunk boundaries (the LBFS/
    FastCDC trick at token granularity) make chunk identity robust to
    local edits — the non-overlapping, edit-stable complement to the
    sliding-window scrub.  Exact-dup docs show 100% dup-chunk coverage;
    the oracle replays the same boundary rule and chunk hashing."""
    from ..operators.dedup import cdc_chunk_stats

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_stats(docs, "doc_id", "text")


@register(
    # Round-7 rotation #3: promoted into the driver window in the slot
    # freed by `ann_topk_bruteforce` (see qcatalog/ml.py) — a NEW exact
    # dedup rung deserves the driver gate more than a third exact-top-k
    # carrier.
    "ssjoin_prefix_pairs",
    r"""
    WITH toks AS (
        SELECT DISTINCT doc_id, t AS token
        FROM documents, LATERAL unnest(
            string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')
        ) AS u(t)
        WHERE t <> '' AND doc_id % 5 = 0
    ),
    df AS (SELECT token, count(*) AS df FROM toks GROUP BY 1),
    sized AS (
        SELECT doc_id, token,
               count(*) OVER (PARTITION BY doc_id) AS n,
               row_number() OVER
                   (PARTITION BY doc_id ORDER BY d.df, token) AS rk
        FROM toks JOIN df d USING (token)
    ),
    prefix AS (
        SELECT doc_id, token, n FROM sized
        WHERE rk <= n - ((n * 900000 + 999999) // 1000000) + 1
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
               a.n AS n1, b.n AS n2
        FROM prefix a JOIN prefix b USING (token)
        WHERE a.doc_id < b.doc_id
    ),
    common AS (
        SELECT doc1, doc2, n1, n2, count(*) AS common
        FROM cands
        JOIN toks ta ON ta.doc_id = doc1
        JOIN toks tb ON tb.doc_id = doc2 AND tb.token = ta.token
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc1, doc2,
           CAST(common AS BIGINT) AS common,
           CAST(n1 + n2 - common AS BIGINT) AS union_sz,
           common * 1000000 // (n1 + n2 - common) AS jaccard_micros
    FROM common
    WHERE common * 1000000 >= 900000 * (n1 + n2 - common)
    """,
)
def q_ssjoin_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via prefix filtering
    (operators/ssjoin.py — SSJoin/PPJoin family, Chaudhuri et al. 2006 /
    Xiao et al. 2008): Jaccard >= 0.9 pairs with candidates generated
    from rare-first token prefixes only, then exact integer
    verification plus the lossless length-filter and exact-duplicate
    collapse prunings.  Unlike the MinHash chain this is LOSSLESS — the
    oracle recomputes the identical pair set from first principles, and
    the unit suite pins equality with brute force.  All arithmetic is
    integer (prefix length ceil, cross-multiplied threshold), so the
    pair list is bit-stable cross-engine.

    The driver row runs one corpus shard (doc_id % 5 — the same
    bounded-batch discipline as reco_assembly's uid % 10): the fixture
    corpus is a deliberate near-dup blob (~12% of ALL doc pairs clear
    J >= 0.9 at sf0.1), so the unsharded pair list is ~1M rows of
    OUTPUT — operator working as designed, wrong cost for a 50-query
    bench window.  The oracle applies the identical shard."""
    from ..operators.ssjoin import prefix_filter_pairs

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    return prefix_filter_pairs(
        docs, "doc_id", "text", threshold_micros=900_000
    )
