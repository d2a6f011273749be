r"""Training-pipeline assembly queries (north-star extension surface):
decontamination, duplicated-n-gram coverage, sequence packing, domain
quota sampling, length bucketing.

These are the corpus-hygiene / batch-assembly stages that sit between the
dedup ladder (:mod:`.dedup`) and a training run.  No reference analogue —
the reference ends at recommendation assembly — but they are first-class
components of the 100 TB engine this repo targets.

Registry placement (round 4): the flagships — ``contamination_overlap``,
``sequence_packing``, ``semdedup_prune`` — hold driver slots (rotated in by
demoting relational demos whose operator coverage is subsumed by other
driver queries); the remaining variants are :func:`..register_extra`
entries under the same local DuckDB oracle gate (tests/test_oracle.py).
Every output column is integer/string/bool — no floats, no arrays — and
every ratio is integer basis points (``x * 10000 div y``), bit-exact in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..operators.contamination import benchmark_overlap, dup_ngram_coverage
from ..operators.ivf_centroids import PINNED_IVF_CENTROIDS
from ..operators.packing import pack_sequences
from ..operators.semdedup import semdedup
from . import register, register_extra

# benchmark set for decontamination: a deterministic 1/97 slice of the
# documents table stands in for the (always tiny) eval suite
_BENCH_PRED = "doc_id % 97 = 0"

_CONTAMINATION_SQL = rf"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE NOT ({_BENCH_PRED})),
bench AS (SELECT text FROM documents WHERE {_BENCH_PRED}),
csh AS (
    SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks
          FROM corpus),
         LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
),
bsh AS (
    SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS shingle
    FROM (SELECT string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks FROM bench),
         LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS contamination_bp
FROM csh c LEFT JOIN bsh b USING (shingle)
GROUP BY c.doc_id
"""


@register("contamination_overlap", _CONTAMINATION_SQL)
def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: 5-gram collision rate of every corpus doc against
    the benchmark slice (docs with ``doc_id % 97 = 0``).  The benchmark
    shingle set is broadcast — the corpus side never shuffles on shingles."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.expr(_BENCH_PRED))
    corpus = docs.where(~F.expr(_BENCH_PRED))
    return benchmark_overlap(corpus, bench, "doc_id", "text", n=5)


_DUP_COVERAGE_SQL = r"""
WITH occ AS (
    SELECT doc_id, array_to_string(toks[i:i+9], ' ') AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks
          FROM documents),
         LATERAL (SELECT unnest(range(1, len(toks) - 8)) AS i)
),
dupset AS (
    SELECT shingle
    FROM (SELECT shingle, count(DISTINCT doc_id) AS df FROM occ GROUP BY shingle)
    WHERE df >= 2
),
per AS (
    SELECT o.doc_id, count(*) AS n_positions,
           sum(CASE WHEN u.shingle IS NOT NULL THEN 1 ELSE 0 END) AS dup_positions
    FROM occ o LEFT JOIN dupset u USING (shingle)
    GROUP BY o.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_positions, 0) AS BIGINT) AS n_positions,
       CAST(coalesce(p.dup_positions, 0) AS BIGINT) AS dup_positions,
       CAST(CASE WHEN coalesce(p.n_positions, 0) = 0 THEN 0
                 ELSE p.dup_positions * 10000 // p.n_positions
            END AS BIGINT) AS dup_coverage_bp
FROM documents d LEFT JOIN per p USING (doc_id)
"""


@register_extra("dup_ngram_coverage", _DUP_COVERAGE_SQL)
def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-dedup signal (Lee et al. 2021): fraction of each
    doc's 10-gram positions covered by a 10-gram appearing in ≥2 docs."""
    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_coverage(docs, "doc_id", "text", n=10, min_docs=2)


_PACK_BUDGET = 256

_PACKING_SQL = rf"""
WITH t AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT)
               AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, shuffle_key, n_tokens,
           CAST(coalesce(
               sum(n_tokens) OVER (
                   ORDER BY shuffle_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cum_before
    FROM t
)
SELECT doc_id, shuffle_key, n_tokens, cum_before,
       CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS pack_id
FROM c
"""


@register_extra(  # demoted r14 (rotation #12): the packing facet
    # rides corpus_pipeline_ledger's stage ledger (driver)
    "sequence_packing", _PACKING_SQL)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-concat sequence packing at a 256-token budget over the
    md5-shuffled corpus.  The oracle is the single-partition window
    spelling; the engine runs the 256-bucket two-pass distributed prefix
    sum (:mod:`..operators.packing`) — same numbers, scalable plan."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", budget=_PACK_BUDGET).select(
        "doc_id", "shuffle_key", "n_tokens", "cum_before", "pack_id"
    )


_QUOTA = 25

_QUOTA_SAMPLE_SQL = rf"""
SELECT doc_id, lang, source, CAST(quota_rank AS BIGINT) AS quota_rank
FROM (
    SELECT doc_id, lang, source,
           row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS quota_rank
    FROM documents
)
WHERE quota_rank <= {_QUOTA}
"""


@register_extra("domain_quota_sample", _QUOTA_SAMPLE_SQL)
def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix quota sampling: a deterministic md5-ordered sample of at
    most 25 docs per (lang, source) cell — the mixture-balancing stage of
    corpus assembly.  Scale: one hash shuffle on the (small-cardinality)
    group key; no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.row_number().over(w).cast("long").alias("quota_rank"),
        )
        .where(F.col("quota_rank") <= _QUOTA)
    )


_LENGTH_BUCKETS_SQL = r"""
WITH t AS (
    SELECT lang,
           CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT)
               AS n_tokens
    FROM documents
)
SELECT lang,
       CAST(length(bin(n_tokens)) AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
FROM t
GROUP BY lang, length(bin(n_tokens))
"""


@register_extra("length_buckets", _LENGTH_BUCKETS_SQL)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length histogram per language (bucket = bit-length of
    the whitespace token count — integer ops only, no float log2).  Drives
    curriculum/packing decisions; single partial-aggregated groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")).cast("long")
    return (
        docs.select(
            "lang",
            n_tokens.alias("n_tokens"),
            F.length(F.bin(n_tokens)).cast("long").alias("len_bucket"),
        )
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bucket_tokens"),
        )
    )


_SEMDEDUP_T = 0.3

_CENT_VALUES = ", ".join(f"({i}, {c})" for i, c in enumerate(PINNED_IVF_CENTROIDS))

_SEMDEDUP_SQL = f"""
WITH cent AS (
    SELECT cid, cv::BIGINT[] AS cv FROM (VALUES {_CENT_VALUES}) v(cid, cv)
),
q AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
ranked AS (
    SELECT vec_id, cid,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_dot_product(qv, qv)
                          - 2 * list_dot_product(qv, cv)
                          + list_dot_product(cv, cv), cid) AS pr
    FROM q, cent
),
assign AS (SELECT vec_id, cid FROM ranked WHERE pr = 1),
pairs AS (
    SELECT sa.vec_id AS a_id, sb.vec_id AS b_id
    FROM assign sa
    JOIN assign sb ON sa.cid = sb.cid AND sa.vec_id < sb.vec_id
    JOIN q a ON a.vec_id = sa.vec_id
    JOIN q b ON b.vec_id = sb.vec_id
    WHERE list_dot_product(a.qv, b.qv)
            / (sqrt(list_dot_product(a.qv, a.qv))
               * sqrt(list_dot_product(b.qv, b.qv))) >= {_SEMDEDUP_T}
),
peers AS (
    SELECT vec_id, count(*) AS n_dup_peers,
           max(CASE WHEN peer < vec_id THEN 1 ELSE 0 END) AS has_smaller
    FROM (SELECT a_id AS vec_id, b_id AS peer FROM pairs
          UNION ALL
          SELECT b_id AS vec_id, a_id AS peer FROM pairs)
    GROUP BY vec_id
)
SELECT s.vec_id, CAST(s.cid AS BIGINT) AS cluster_id,
       CAST(coalesce(p.n_dup_peers, 0) AS BIGINT) AS n_dup_peers,
       coalesce(p.has_smaller = 1, false) AS is_dropped
FROM assign s LEFT JOIN peers p USING (vec_id)
"""


@register("semdedup_prune", _SEMDEDUP_SQL)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): pinned-quantizer clustering + blocked
    within-cluster cosine near-dup + keep-minimum-id survivor rule — every
    stage integer-exact, so even this embedding-space dedup is fully
    DuckDB-oracled.  Reuses the IVF centroid literals (one quantizer fit
    serves both ANN search and semantic dedup, the FAISS deployment
    pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, "vec_id", "embedding", threshold=_SEMDEDUP_T)


_MIX_FRAC = 0.5

_MIXTURE_SQL = rf"""
WITH d AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_d FROM documents GROUP BY lang
),
w AS (
    SELECT lang, n_d,
           CAST(round(sqrt(CAST(n_d AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_i
    FROM d
),
tot AS (
    SELECT CAST(sum(n_d) AS BIGINT) AS n_total,
           CAST(sum(w_i) AS BIGINT) AS w_total
    FROM w
),
r AS (
    SELECT lang,
           least(1.0,
                 CAST(n_total AS DOUBLE) * {_MIX_FRAC} * CAST(w_i AS DOUBLE)
                 / (CAST(w_total AS DOUBLE) * CAST(n_d AS DOUBLE))) AS rate
    FROM w, tot
)
SELECT doc_id, lang, CAST(round(rate * 1000000) AS BIGINT) AS rate_micros
FROM documents JOIN r USING (lang)
WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           AS DOUBLE) / 4294967296.0 < rate
"""


# Driver slot since round 5: data-derived α-tempered rates, a strict
# superset of fixed per-stratum sampling fractions.
@register("mixture_sample_temperature", _MIXTURE_SQL)
def q_mixture_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (α = 0.5 reweighting over `lang`,
    the data-mixing stage of LLM corpus assembly — over-represented
    domains down-sampled toward √n_d weights at a ~50% overall target).
    Every float step is a single exactly-rounded IEEE op in a pinned
    order, so the data-derived per-domain rates — not just the keep
    decisions — hash-match DuckDB bit-for-bit
    (:func:`..operators.sampling.temperature_mixture_sample`)."""
    from ..operators.sampling import temperature_mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture_sample(
        docs, "lang", F.col("doc_id"), target_frac=_MIX_FRAC, seed="mix"
    )


@register_extra("contamination_overlap_bloom", _CONTAMINATION_SQL)
def q_contamination_overlap_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom-prefiltered spelling of `contamination_overlap`
    (operators/contamination.benchmark_overlap_bloom): a fixed-size bitmap
    stands in for the benchmark shingle set, the corpus stream is
    prefiltered scan-locally, and only bloom survivors enter the exact
    shuffle-join verification — the too-big-to-broadcast-benchmark regime.
    No false negatives + exact verify ⇒ bit-identical results, so BOTH
    spellings share one DuckDB oracle."""
    from ..operators.contamination import benchmark_overlap_bloom

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.expr(_BENCH_PRED))
    corpus = docs.where(~F.expr(_BENCH_PRED))
    return benchmark_overlap_bloom(corpus, bench, "doc_id", "text", n=5)


def _zorder_oracle() -> str:
    from ..operators.zorder import GRID_BITS, zorder_sql_expr

    grid_max = (1 << GRID_BITS) - 1
    zmax = 1 << (2 * GRID_BITS)
    return rf"""
WITH t AS (
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) AS a,
           CAST(round(o_totalprice * 100) AS BIGINT) AS b
    FROM orders
),
s AS (
    SELECT min(a) AS alo, max(a) AS ahi, min(b) AS blo, max(b) AS bhi FROM t
),
q AS (
    SELECT o_orderkey,
           ((a - alo) * {grid_max}) // greatest(ahi - alo, 1) AS qa,
           ((b - blo) * {grid_max}) // greatest(bhi - blo, 1) AS qb
    FROM t, s
),
z AS (SELECT o_orderkey, {zorder_sql_expr("qa", "qb")} AS zval FROM q)
SELECT o_orderkey, CAST(zval AS BIGINT) AS zval,
       CAST(zval * 16 // {zmax} AS BIGINT) AS file_id
FROM z
"""


@register_extra("zorder_layout_orders", _zorder_oracle())
def q_zorder_layout_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order write layout (operators/zorder.zorder_layout): Morton-code
    interleave of (o_custkey, price-cents) on a 16-bit grid plus the
    even-z-range file assignment — multi-dimensional data skipping as a
    deterministic, fully-oracled transform (the SQL interleave text is
    generated from the same loop as the Spark expression, so the two
    spellings cannot drift)."""
    from ..operators.zorder import zorder_layout

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    return zorder_layout(orders, "o_orderkey", "o_custkey", "o_cents")


_N_SHARDS = 64

_SHARDS_SQL = rf"""
WITH t AS (
    SELECT doc_id,
           ('0x' || substr(md5('shard-bucket:' || CAST(doc_id AS VARCHAR)), 1, 7))
               ::BIGINT % {_N_SHARDS} AS shard_id
    FROM documents
)
SELECT doc_id, CAST(shard_id AS BIGINT) AS shard_id,
       CAST(row_number() OVER (
           PARTITION BY shard_id
           ORDER BY md5('shard-pos:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS shard_pos
FROM t
"""


@register_extra("training_shards", _SHARDS_SQL)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard writer layout (operators/sampling.
    training_shards): salted-hash shard assignment + independent
    salted-hash within-shard order — the reproducible global shuffle a
    training loader consumes, oracled down to every position."""
    from ..operators.sampling import training_shards

    docs = load_table(spark, sf_dir, "documents")
    return training_shards(docs, F.col("doc_id"), n_shards=_N_SHARDS)


@register_extra(
    "span_corruption_pairs",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    tok AS (
        SELECT doc_id, i AS pos, toks[i] AS tok
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
    ),
    starts AS (
        SELECT doc_id, pos, pos + 2 AS e
        FROM tok
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                   || CAST(pos AS VARCHAR) || ':spanv1'), 1, 7))::BIGINT
              % 20 = 0
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
        FROM starts
    ),
    isl2 AS (
        SELECT doc_id, pos, e,
               sum(ni) OVER (
                   PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
               ) AS g
        FROM isl
    ),
    m AS (
        SELECT doc_id, g - 1 AS k, min(pos) AS s, max(e) AS e
        FROM isl2 GROUP BY doc_id, g
    ),
    lab AS (
        SELECT tk.doc_id, tk.pos, tk.tok, m.k, m.s
        FROM tok tk LEFT JOIN m
          ON m.doc_id = tk.doc_id AND tk.pos BETWEEN m.s AND m.e
    ),
    inp AS (
        SELECT doc_id,
               string_agg(
                   CASE WHEN k IS NULL THEN tok
                        WHEN pos = s THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
                        END, ' ' ORDER BY pos) AS input_text,
               sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS n_masked
        FROM lab GROUP BY doc_id
    ),
    spans AS (
        SELECT doc_id, k,
               '<extra_id_' || CAST(k AS VARCHAR) || '> '
               || string_agg(tok, ' ' ORDER BY pos) AS seg
        FROM lab WHERE k IS NOT NULL GROUP BY doc_id, k
    ),
    tgt AS (
        SELECT doc_id, string_agg(seg, ' ' ORDER BY k) AS tt,
               count(*) AS n_spans
        FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(i.input_text, array_to_string(t.toks, ' ')) AS input_text,
           coalesce(g.tt || ' ', '')
               || '<extra_id_' || CAST(coalesce(g.n_spans, 0) AS VARCHAR) || '>'
               AS target_text,
           CAST(coalesce(g.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(i.n_masked, 0) AS BIGINT) AS n_masked_tokens
    FROM t
    LEFT JOIN inp i USING (doc_id)
    LEFT JOIN tgt g USING (doc_id)
    """,
)
def q_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption as a corpus transform (operators/
    span_corruption.py): salted-hash span seeding, gaps-and-islands
    merge, sentinel-numbered (input, target) pair construction — the
    denoising-objective materialization a seq2seq pretraining run
    consumes, fully deterministic and hash-matched down to every
    sentinel."""
    from ..operators.span_corruption import span_corruption_pairs

    docs = load_table(spark, sf_dir, "documents")
    return span_corruption_pairs(docs, "doc_id", "text")


@register_extra(
    "fim_transform",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    cut AS (
        SELECT doc_id, toks, len(toks) AS n,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fimv1:m'),
                               1, 7))::BIGINT % 2 = 0 AS is_fim,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fimv1:a'),
                               1, 7))::BIGINT % (len(toks) + 1) AS a,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fimv1:b'),
                               1, 7))::BIGINT % (len(toks) + 1) AS b
        FROM t
    ),
    parts AS (
        SELECT doc_id, toks, n, is_fim,
               least(a, b) AS lo, greatest(a, b) AS hi
        FROM cut
    )
    SELECT doc_id,
           CASE WHEN is_fim THEN 'fim' ELSE 'ar' END AS mode,
           CASE WHEN is_fim THEN
               '<fim_prefix> ' || coalesce(array_to_string(toks[1:lo], ' '), '')
               || ' <fim_suffix> '
               || coalesce(array_to_string(toks[hi + 1:n], ' '), '')
               || ' <fim_middle> '
               || coalesce(array_to_string(toks[lo + 1:hi], ' '), '')
           ELSE coalesce(array_to_string(toks, ' '), '') END AS output_text,
           CAST(CASE WHEN is_fim THEN lo ELSE n END AS BIGINT) AS n_prefix,
           CAST(CASE WHEN is_fim THEN hi - lo ELSE 0 END AS BIGINT) AS n_middle,
           CAST(CASE WHEN is_fim THEN n - hi ELSE 0 END AS BIGINT) AS n_suffix
    FROM parts
    """,
)
def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle corpus transform (operators/span_corruption.
    fim_transform): half the docs (salted-hash deterministic) get PSM
    reordering at two hash-derived cut points, half stay autoregressive
    — the Bavarian et al. 2022 data op, scan-local end to end and
    hash-matched down to every sentinel and cut."""
    from ..operators.span_corruption import fim_transform

    docs = load_table(spark, sf_dir, "documents")
    return fim_transform(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# End-to-end pipeline composition under the oracle gate (VERDICT r5 #6):
# run a bounded build_training_corpus configuration and emit its per-stage
# ledger as rows; the oracle recomputes the SAME ledger from scratch in
# DuckDB — c4 line rules, PII redaction, quality gates + exact-dup window,
# minhash -> LSH bands -> exact-Jaccard verify, recursive-CTE connected
# components, canonical-survivor prune.  A drift anywhere in the chain
# (wrong stage order, a filter applied to the wrong text generation, a
# join that drops rows) changes a count and breaks the hash.
# ---------------------------------------------------------------------------

def _ledger_oracle() -> str:
    from .dedup import _PAIRS_SQL, _SIGS_SQL

    head = r"""
    WITH RECURSIVE
    pages AS (
        -- deterministic multi-line page per doc (same construction as
        -- tests/test_corpus_pipeline) so the C4 stage has real line
        -- structure: a kept lead line, a too-short line, a page-drop
        -- trigger on 1/9 of docs, a PII-bearing kept line on 1/4.
        -- The lead line's closing sentence carries the DOC ID: a
        -- corpus-wide shared suffix makes every minhash band collide
        -- (measured: 5.2M candidate pairs from 5000 docs — the
        -- degenerate texture the verify stage exists to survive, but
        -- the wrong thing to pay in the flagship row per round); the
        -- unique tail leaves the ~250 NATURAL near-dup pairs of the
        -- synthetic corpus to exercise stages 03a/03 (1096 candidates,
        -- 217 prune edges at sf0.1)
        -- round 7 (VERDICT r6 #6): the corpus now ENTERS through the
        -- mixed-source ingest stage — doc_id % 4 picks the serialized
        -- format (0 html, 1 pdf, 2 markdown, 3 subtitle), every
        -- serialization is constructed so its parser recovers the text
        -- EXACTLY (single-spaced ASCII fixture), and the corrupted pdf
        -- payloads (doc_id % 20 = 1) quarantine at ingest — so the page
        -- set is documents minus the quarantined rows
        SELECT doc_id,
               substr(text, 1, 120) || ' and story ' || doc_id
               || ' ends here now.'
               || chr(10) || 'short.'
               || CASE WHEN doc_id % 9 = 0
                      THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.'
                      ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                      THEN chr(10)
                           || 'write to me at someone@mail.example.com for more details.'
                      ELSE '' END AS text
        FROM documents
        WHERE doc_id % 20 <> 1
    ),
    c4 AS (
        SELECT doc_id,
               (contains(lower(text), 'lorem ipsum') OR contains(text, '{'))
                   AS pd,
               list_filter(string_split(text, chr(10)), l ->
                   regexp_matches(l, '[.!?"''][ \t]*$')
                   AND len(string_split_regex(trim(l), '[ \t]+')) >= 5
                   AND NOT contains(lower(l), 'javascript')) AS kept
        FROM pages
    ),
    kept1 AS (
        -- 01_clean: C4 page/line rules, then PII redaction (no row drop)
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                   array_to_string(kept, chr(10)),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
                   '<EMAIL>', 'g'),
                   'https?://[^ \t\n]+', '<URL>', 'g'),
                   '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]',
                   '<PHONE>', 'g') AS text
        FROM c4
        WHERE NOT pd AND len(kept) > 0
    ),
    flags AS (
        -- 02_quality: token/ratio gates + exact-dup survivor window over
        -- the REDACTED text (stage order is the thing being checked)
        SELECT doc_id, text,
               CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))
                   AS BIGINT) AS nt,
               CAST(round((length(text)
                    - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\x0B\f\r]',
                                            '', 'g')))
                   * 1000000 / greatest(length(text), 1)) AS BIGINT) AS punct,
               CAST(round((length(text)
                    - length(regexp_replace(text, '[0-9]', '', 'g')))
                   * 1000000 / greatest(length(text), 1)) AS BIGINT) AS digit,
               row_number() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id
               ) AS dup_rank
        FROM kept1
    ),
    survivors AS (
        SELECT doc_id, text FROM flags
        WHERE nt >= 5 AND nt <= 2000 AND punct <= 300000
          AND digit <= 300000 AND dup_rank = 1
    ),
    """
    sigs = (
        _SIGS_SQL.replace("WITH sh AS", "sh AS", 1)
        .replace("FROM documents", "FROM survivors")
    )
    tail = r""",
    pairs AS (""" + _PAIRS_SQL + r"""
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.a_id, p.b_id, count(*) AS n_inter
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.a_id
        JOIN sh sb ON sb.doc_id = p.b_id AND sb.shingle = sa.shingle
        GROUP BY p.a_id, p.b_id
    ),
    verified AS (
        SELECT a_id, b_id,
               n_inter / (sa.n_sh + sb.n_sh - n_inter) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.3
    ),
    hard AS (SELECT a_id, b_id FROM verified WHERE j >= 0.7),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM hard
        UNION ALL SELECT b_id AS u, a_id AS v FROM hard
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT u AS node, u AS lbl FROM edges
        UNION
        SELECT e.u AS node, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    ),
    comp AS (SELECT node, min(lbl) AS canon FROM reach GROUP BY node),
    dropped AS (SELECT node FROM comp WHERE node <> canon),
    counts AS (
        SELECT (SELECT count(*) FROM pages) AS n0,
               (SELECT count(*) FROM kept1) AS n1,
               (SELECT count(*) FROM survivors) AS n2,
               (SELECT count(*) FROM survivors)
                   - (SELECT count(*) FROM dropped) AS n3
    ),
    src AS (
        SELECT doc_id % 4 AS leg, count(*) AS n_in,
               count(*) FILTER (doc_id % 20 <> 1) AS n_out
        FROM documents GROUP BY 1
    )
    SELECT stage,
           CAST(rows_in AS BIGINT) AS rows_in,
           CAST(rows_out AS BIGINT) AS rows_out
    FROM (
        SELECT '00_ingest_html' AS stage, n_in AS rows_in, n_out AS rows_out
        FROM src WHERE leg = 0
        UNION ALL SELECT '00_ingest_pdf', n_in, n_out FROM src WHERE leg = 1
        UNION ALL SELECT '00_ingest_markdown', n_in, n_out FROM src WHERE leg = 2
        UNION ALL SELECT '00_ingest_subtitle', n_in, n_out FROM src WHERE leg = 3
        UNION ALL SELECT '01_clean', n0, n1 FROM counts
        UNION ALL SELECT '02_quality', n1, n2 FROM counts
        UNION ALL SELECT '03_neardup', n2, n3 FROM counts
        UNION ALL SELECT '04_decontam', n3, n3 FROM counts
        UNION ALL SELECT '05_select', n3, n3 FROM counts
        UNION ALL SELECT '06_splits', n3, n3 FROM counts
        UNION ALL SELECT '07_objective', n3, n3 FROM counts
        UNION ALL SELECT '08_shards', n3, n3 FROM counts
    )
    """
    return head + sigs + tail


#: bump when pipeline stage semantics change — keys the artifact cache
_LEDGER_VERSION = "r7-ledger-v4"


def _ledger_out_dir(sf_dir: str) -> str:
    import hashlib
    import os

    doc = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(doc)
        fp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fp = "absent"
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{fp}:{_LEDGER_VERSION}".encode()
    ).hexdigest()[:16]
    return os.path.join(
        os.environ.get("SPARK_GRAFT_STAGE_DIR", "/tmp/spark_graft_stage"),
        key,
        "pipeline_ledger",
    )


# promoted to the driver window round 7 (VERDICT r6 #2): the end-to-end
# composition is the product claim; frame_samples rotated out (SURVEY §8)
@register("corpus_pipeline_ledger", _ledger_oracle())
def q_corpus_pipeline_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end composer itself, hash-checked (corpus_pipeline.
    build_training_corpus): runs the bounded default configuration
    (c4 cleaning on, no benchmark, no DSIR, autoregressive objective,
    8 shards, prune at 0.7 / split at 0.3) against the documents table
    wrapped into deterministic multi-line pages (so every stage fires on
    real structure), staging artifacts under the shared stage root
    (keyed by dataset fingerprint + semantics version, so reruns resume
    and a regenerated fixture rebuilds), and returns the per-stage
    ledger.  The oracle recomputes every count from first principles in
    DuckDB — the page construction, C4 line rules, PII redaction,
    quality gates + exact-dup window, the minhash/LSH/verify chain over
    the CLEANED text, and the recursive-CTE dup components — so the
    composition's stage order, text lineage, and row accounting are all
    under the hash."""
    from ..catalog import load_table
    from ..corpus_pipeline import build_training_corpus, ingest_format_sources
    from ..operators.dedup import _spread_scan

    # the sf fixtures arrive as ONE file split, serializing every
    # Python-heavy ingest leg on a core apiece (round 16, guide §2.6) —
    # the conditional spread is a no-op on an already-parallel corpus
    docs = _spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    t = F.col("text")
    did = F.col("doc_id")

    # ---- round 7: mixed-source ingest (VERDICT r6 #6) ----------------
    # doc_id % 4 picks the serialized format; every serialization is
    # constructed so its round-6 parser recovers the text EXACTLY (the
    # fixture is single-spaced printable ASCII), so the downstream
    # stages — and their oracle — see the same corpus minus the pdf
    # quarantine (doc_id % 20 == 1 ships a corrupt payload).
    html_pages = docs.filter(did % 4 == 0).select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><script>var x=1;</script></head><body>'
                '<nav><a href="/">home</a></nav><p>'
            ),
            t,
            F.lit("</p></body></html>"),
        ).alias("html"),
    )

    import pandas as pd

    def pdf_gen(batches):
        from ..operators.pdftext import make_pdf

        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                payload = (
                    b"not a pdf at all"
                    if d % 20 == 1
                    else make_pdf([str(text)])
                )
                rows.append({"doc_id": d, "payload": payload})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    pdf_docs = docs.filter(did % 4 == 1).mapInPandas(
        pdf_gen, "doc_id long, payload binary"
    )

    md_docs = docs.filter(did % 4 == 2).select(
        "doc_id",
        F.concat(
            F.lit("```\nfenced code is dropped whole\n```\n\n**"),
            t,
            F.lit("**"),
        ).alias("md"),
    )

    # SRT: words in cues of 8, 2-second cadence — the transcript
    # reassembly (cue texts in start order, space-joined) is the inverse
    # of this split, so recovery is exact
    words = F.split(t, " ")
    n_cues = F.ceil(F.size(words) / F.lit(8.0)).cast("int")
    sec_s = lambda k: k * 2  # noqa: E731
    block = lambda k: F.format_string(  # noqa: E731
        "%d\n00:%02d:%02d,000 --> 00:%02d:%02d,000\n%s",
        k + 1,
        F.floor(sec_s(k) / F.lit(60)).cast("int"),
        (sec_s(k) % 60).cast("int"),
        F.floor((sec_s(k) + 1) / F.lit(60)).cast("int"),
        ((sec_s(k) + 1) % 60).cast("int"),
        F.array_join(F.slice(words, k * 8 + 1, 8), " "),
    )
    srt_docs = docs.filter(did % 4 == 3).select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_cues - 1), block), "\n\n"
        ).alias("srt"),
    )

    ingested, ingest_ledger = ingest_format_sources(
        spark,
        html_pages=html_pages,
        pdf_docs=pdf_docs,
        markdown_docs=md_docs,
        subtitle_docs=srt_docs,
    )

    page = F.concat(
        F.substring(t, 1, 120),
        F.lit(" and story "),
        F.col("doc_id").cast("string"),
        F.lit(" ends here now."),
        F.lit("\nshort."),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.lit("\nlorem ipsum dolor sit amet consectetur."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(
                "\nwrite to me at someone@mail.example.com for more details."
            ),
        ).otherwise(F.lit("")),
    )
    pages = ingested.select("doc_id", page.alias("text"))
    stats = build_training_corpus(spark, pages, _ledger_out_dir(sf_dir))
    stats = {**ingest_ledger, **stats}
    return spark.createDataFrame(
        [(k, v["rows_in"], v["rows_out"]) for k, v in stats.items()],
        "stage string, rows_in long, rows_out long",
    )
