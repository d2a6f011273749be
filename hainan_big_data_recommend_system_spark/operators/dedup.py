"""Deduplication suite — the operators a 100 TB training-data pipeline needs
(BASELINE.json north_star; beyond the reference's title-dedup P10).

Five strategies, one escalation ladder:

- :func:`exact_dedup` — content-hash groupBy.  O(n) shuffle on the hash;
  at scale this is always the first pass (cheap, removes the bulk).
- :func:`shingles` + :func:`ngram_jaccard_topk` — exact n-gram Jaccard via
  posting-list join on shingles.  Quadratic in docs sharing a shingle —
  usable within blocks / query subsets.
- :func:`minhash_signatures` + :func:`lsh_buckets` +
  :func:`lsh_candidate_pairs` — MinHash LSH: signature = min-wise hash per
  seed (md5 keyed by seed; ANY consistent total order works for min-wise
  hashing, so hex-string min is valid and engine-portable), banded into
  buckets; candidates = same (band, band-hash).  This is the scale path:
  shuffle ∝ n·bands, pairs only within buckets.
- :func:`simhash_fingerprints` — 16-bit SimHash (MSB of each md5 hex digit
  of each token, tf-weighted sign sum per bit position).  Near-dups share
  fingerprints at small Hamming distance; groupBy fingerprint is O(n).
- embedding cosine near-dup — reuse :mod:`.similarity`'s quantized cosine
  with a threshold filter (see qcatalog.dedup).

Everything is built-in expressions (md5/conv/substring/array ops) — no
Python in the row path, and every op is oracle-checkable because md5 is
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from ..session import CHECKPOINT_LEVEL


def exact_dedup(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup by content hash: (id, fingerprint, group_size, is_dup) —
    the survivor (min id) per group has ``is_dup = false``."""
    fp = F.md5(F.col(text_col).cast("binary")).alias("fingerprint")
    hashed = docs.select(F.col(id_col).alias("doc_id"), fp)
    w = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
    cnt = Window.partitionBy("fingerprint")
    return hashed.select(
        "doc_id",
        "fingerprint",
        F.count(F.lit(1)).over(cnt).alias("group_size"),
        (F.row_number().over(w) > 1).alias("is_dup"),
    )


def _spread_scan(docs: DataFrame, key_col: str) -> DataFrame:
    """Scale-adaptive parallelism guard for CPU-heavy per-doc expansions
    (round 16, guide §2.6): a small corpus arrives as ONE file split
    (the sf0.1 fixtures are single-row-group parquet), which serializes
    the whole shingle explode on one core — measured 3.0 → 0.55 s for
    the 250k-shingle distinct at sf0.1.  A production corpus arrives in
    thousands of splits and must NOT pay a full-text shuffle, so the
    repartition fires only when the physical scan parallelism is below
    the session default; at scale the condition is false and this is a
    no-op.  Hash-partitioning on the doc key keeps the explode's output
    grouped for the downstream per-doc aggregates."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    if _planned_partitions(docs._jdf.queryExecution().executedPlan()) < n:
        return docs.repartition(n, F.col(key_col))
    return docs


def _planned_partitions(plan) -> int:
    """Partition count of a physical plan, read without running it: the
    partitioning it declares (an explicit repartition or coalesce), else
    the sum of its leaf scans' splits, which file listing alone fixes.
    ``DataFrame.rdd`` would tell the same, but under AQE it runs every
    upstream shuffle stage while the caller is still building its plan."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()  # the plan before AQE adds its exchanges
    n = plan.outputPartitioning().numPartitions()
    if n:
        return n
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "InMemoryTableScan":
            # executing a cache that is not filled yet would fill it
            total += _planned_partitions(leaf.relation().cachedPlan())
        else:
            total += leaf.execute().getNumPartitions()  # builds the RDD only
    return total


def shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle), distinct by default.

    Pass ``distinct=False`` when the consumer collapses duplicates anyway
    (e.g. a min/max aggregate) — the distinct is a full shuffle of string
    rows, the single most expensive step of the shingle pipeline.
    """
    docs = _spread_scan(docs.select(id_col, text_col), id_col)
    toks = F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+")
    # guard: Spark's sequence(1, stop) DESCENDS when stop < 1 — short docs
    # must yield zero shingles, not bogus ones
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.explode(idx).alias("__i"),
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), n)).alias(
            "shingle"
        ),
    )
    return out.distinct() if distinct else out


def hashed_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct hashed shingles ``(doc_id, __sh)`` — the shared input of the
    Jaccard / verification stages.

    Hashed BEFORE the distinct so the dedup shuffle moves 16-byte
    (doc_id, int64) rows, not n-word strings (8-byte join keys beat strings;
    64-bit collision odds are ~|shingles|²/2⁶⁵ — immaterial).  Callers that
    feed several operators from one shingle set should stage this to a table
    once (qcatalog.dedup staged tables) instead of recomputing per operator.
    """
    return (
        shingles(docs, id_col, text_col, n, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("__sh"))
        .distinct()
    )


def ngram_jaccard_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 5,
    query_filter: Column | None = None,
    threshold: float = 0.0,
    shingle_src: DataFrame | None = None,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard top-k neighbors per query doc.

    ``broadcast_queries=True`` broadcasts the (filtered) query-side
    postings into a map-side join, so the full corpus posting table never
    shuffles for the pair join — the right plan whenever the query batch
    is bounded (dedup-a-batch-against-the-corpus, the production shape).
    Leave False when the query side is unbounded.

    |A∩B| from the shingle posting join; |A∪B| = |A|+|B|−|A∩B| — all integer
    counts, so the Jaccard ratio is deterministic cross-engine.

    ``shingle_src`` (a :func:`hashed_shingles` relation, e.g. a staged
    table) skips the in-query shingle build.  Without it the shingle
    subtree is eagerly ``localCheckpoint``-materialized (lazy would let
    the first job recompute it once per consumer path) — it feeds both
    join sides plus the size aggregate, and unlike ``persist`` the
    checkpoint blocks are reclaimed by the ContextCleaner once the
    query's DataFrames go out of scope, so catalog-style many-query
    sessions don't accumulate cache.  Trade-off: checkpoint blocks are
    non-replicated and their lineage is cut, so an executor loss mid-query
    fails the job instead of recomputing — on a real cluster pass a
    staged/reliable ``shingle_src`` (qcatalog.dedup staged tables), which
    is the deployment shape anyway.
    """
    sh = (
        shingle_src
        if shingle_src is not None
        else hashed_shingles(docs, id_col, text_col, n).localCheckpoint(eager=True, storageLevel=CHECKPOINT_LEVEL)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col("doc_id").alias("a_id"), "__sh")
    if query_filter is not None:
        a = a.filter(query_filter)
    if broadcast_queries:
        a = F.broadcast(a)
    b = sh.select(F.col("doc_id").alias("b_id"), "__sh")
    inter = (
        a.join(b, "__sh")
        .filter(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("a_n"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("b_n"))
    jac = (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                F.col("n_inter")
                / (F.col("a_n") + F.col("b_n") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("jaccard"), F.asc("b_id"))
    return (
        jac.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("a_id").alias("query_id"),
            F.col("b_id").alias("neighbor_id"),
            F.round("jaccard", 6).alias("jaccard"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime 2³¹−1


def minhash_hash_family(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the universal hash family
    h_j(x) = (a_j·x + b_j) mod P — derived from md5 so both engines (and the
    oracle SQL text) see identical literals without any RNG.  28-bit a/b ×
    28-bit x stays under 2⁵⁶ — no int64 overflow."""
    import hashlib

    fam = []
    for j in range(num_hashes):
        a = int(hashlib.md5(f"minhash:a:{j}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"minhash:b:{j}".encode()).hexdigest()[:7], 16)
        fam.append((a, b))
    return fam


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingle_src: DataFrame | None = None,
) -> DataFrame:
    """MinHash: signature_j(doc) = min over shingles of (a_j·H + b_j) mod P,
    with H = the first 28 bits of md5(shingle).

    One md5 per shingle + ``num_hashes`` integer min-aggregates in a single
    wide groupBy — no ``num_hashes``× row explosion and no per-variant md5
    (the variant hashes are a universal family over the one base hash; at
    16 hashes this is ~16× less hashing and shuffle than seeding md5 per
    (hash_id, shingle)).  Returns one row per (doc_id, hash_id, sig).

    Shingles are NOT pre-deduplicated: ``min`` collapses duplicates for
    free, so the distinct's full shuffle is pure waste here — the only
    shuffle in this operator is the final per-doc aggregate (with map-side
    partial mins, so shuffle volume is |docs|·num_hashes, not |shingles|).
    ``shingle_src`` (a ``(doc_id, shingle)`` relation, e.g. a staged
    table — distinct or not, min doesn't care) skips the shingle build.
    """
    sh = (
        shingle_src
        if shingle_src is not None
        else shingles(docs, id_col, text_col, shingle_n, distinct=False)
    )
    base = F.conv(
        F.substring(F.md5(F.col("shingle").cast("binary")), 1, 7), 16, 10
    ).cast("long")
    fam = minhash_hash_family(num_hashes)
    wide = sh.select("doc_id", base.alias("__h")).groupBy("doc_id").agg(
        *[
            F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
                f"s{j}"
            )
            for j, (a, b) in enumerate(fam)
        ]
    )
    kv = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("hash_id"), F.col(f"s{j}").alias("sig")
            )
            for j in range(num_hashes)
        ]
    )
    return wide.select("doc_id", F.explode(kv).alias("kv")).select(
        "doc_id", F.col("kv.hash_id").alias("hash_id"), F.col("kv.sig").alias("sig")
    )


def lsh_buckets(
    signatures: DataFrame, rows_per_band: int = 2
) -> DataFrame:
    """Band the signature matrix: band_hash = md5 of the band's concatenated
    sigs (in hash_id order).  Returns (doc_id, band_id, band_hash)."""
    banded = signatures.withColumn(
        "band_id", (F.col("hash_id") / rows_per_band).cast("int")
    )
    ordered = F.struct("hash_id", "sig")
    return (
        banded.groupBy("doc_id", "band_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.sort_array(F.collect_list(ordered)),
                        lambda s: s["sig"].cast("string"),
                    ),
                ).cast("binary")
            ).alias("band_hash")
        )
    )


def lsh_candidate_pairs(buckets: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band_id, band_hash)
    bucket; deduplicated, a_id < b_id."""
    a = buckets.select(
        F.col("doc_id").alias("a_id"), "band_id", "band_hash"
    )
    b = buckets.select(
        F.col("doc_id").alias("b_id"), "band_id", "band_hash"
    )
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """16-bit SimHash: bit p = sign of Σ_tokens tf · (±1), where the ±1 is
    the MSB of hex digit p of md5(token).  Returns (doc_id, simhash int)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+")).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    h = F.md5(F.col("token").cast("binary"))
    bits = tf.select(
        "doc_id",
        "tf",
        *[
            F.when(
                F.conv(F.substring(h, p + 1, 1), 16, 10).cast("int") >= 8,
                F.col("tf"),
            )
            .otherwise(-F.col("tf"))
            .alias(f"b{p}")
            for p in range(16)
        ],
    )
    agg = bits.groupBy("doc_id").agg(
        *[F.sum(f"b{p}").alias(f"s{p}") for p in range(16)]
    )
    fp = None
    for p in range(16):
        term = F.when(F.col(f"s{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def verify_candidate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_src: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs — the stage between
    candidate generation and clustering in a production dedup pipeline.

    LSH buckets admit false positives by design; verification computes the
    TRUE n-gram Jaccard, but ONLY for the |candidates| pairs, never the
    posting-join blowup (work ∝ Σ candidate shingles, not Σ df²).  Returns
    (a_id, b_id, jaccard) for pairs clearing ``threshold`` — integer
    intersection/union counts, so the ratio is deterministic cross-engine.

    ``shingle_src`` / checkpoint discipline: same as
    :func:`ngram_jaccard_topk` (no leaked cache entries).
    """
    sh = (
        shingle_src
        if shingle_src is not None
        else hashed_shingles(docs, id_col, text_col, n).localCheckpoint(eager=True, storageLevel=CHECKPOINT_LEVEL)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    a_sh = sh.select(F.col("doc_id").alias("a_id"), "__sh")
    b_sh = sh.select(F.col("doc_id").alias("b_id"), "__sh")
    inter = (
        pairs.join(a_sh, "a_id")
        .join(b_sh, ["b_id", "__sh"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("a_n"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("b_n"))
    # threshold AND output on the RAW ratio: rounding here would make a
    # downstream best-match rank order by the collapsed value while an
    # oracle ranks raw — callers round for display at their output edge
    jac = F.col("n_inter") / (F.col("a_n") + F.col("b_n") - F.col("n_inter"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(jac >= threshold)
        .select("a_id", "b_id", jac.alias("jaccard"))
    )


def cdc_chunk_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    gear_mod: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined chunking dedup statistics — the storage-dedup
    boundary trick (Muthitacharoen et al., LBFS SOSP'01 / FastCDC)
    applied at token granularity: a chunk boundary falls AFTER any token
    whose hash bucket is 0 (expected chunk length = ``gear_mod`` tokens),
    so boundaries depend only on LOCAL content.  Inserting or deleting a
    token re-chunks ONLY the edited neighborhood — every other chunk
    hash survives verbatim, which is what makes chunk-level dedup robust
    to small edits where fixed windows (``exact_substring_dedup``) see
    every downstream position shift.  Non-overlapping chunks also cost
    ~1/w of the sliding-window hash volume.

    Returns per doc: ``(doc_id, n_chunks, n_dup_chunks,
    dup_token_coverage_bp)`` where a chunk is dup when its exact token
    string occurs ≥ ``min_docs`` times corpus-wide (across docs or
    repeated within one).  Shuffles: one doc-length-bounded window pass
    to assign chunk ids, one chunk-hash groupBy (16-byte rows), one
    per-doc agg — all map-side combining."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+"),
        lambda w: w != "",
    )
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    pos = base.select(
        "doc_id", F.posexplode("__toks").alias("pos", "tok")
    )
    is_boundary = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 7), 16, 10).cast("long")
        % gear_mod
        == 0
    ).cast("int")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    chunked = pos.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(
            F.sum(is_boundary).over(
                wdoc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("chunk_id"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("__ch"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    dup = (
        chunks.groupBy("__ch")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= min_docs)
        .select("__ch", F.lit(1).alias("__dup"))
    )
    marked = chunks.join(dup, "__ch", "left")
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.coalesce("__dup", F.lit(0))).cast("long").alias("n_dup_chunks"),
        F.sum("n_tok").alias("__nt"),
        F.sum(F.when(F.col("__dup").isNotNull(), F.col("n_tok")).otherwise(0)).alias(
            "__dup_nt"
        ),
    )
    all_ids = base.select("doc_id")
    return all_ids.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0)).cast("long").alias("n_dup_chunks"),
        F.when(F.coalesce(F.col("__nt"), F.lit(0)) == 0, F.lit(0))
        .otherwise(F.expr("__dup_nt * 10000L div __nt"))
        .cast("long")
        .alias("dup_token_coverage_bp"),
    )
