"""Text-analysis queries (north-star extension surface): quality stats,
token counting, language ID, fingerprinting, multimodal metadata."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..operators.textstats import (
    BPE_SPLIT_PATTERN,
    LANG_LEXICONS,
    corpus_clean_flags,
    doc_fingerprints,
    lang_id,
    text_profile,
    text_quality_stats,
    token_counts,
)
from . import register, register_extra


@register_extra(
    "text_quality_stats",
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
           CAST(round(length(text) * 1000000
               / greatest(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 1))
               AS BIGINT) AS chars_per_token_micros,
           CAST(round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')))
               * 1000000 / greatest(length(text), 1)) AS BIGINT) AS punct_ratio_micros,
           CAST(round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               * 1000000 / greatest(length(text), 1)) AS BIGINT) AS digit_ratio_micros,
           CAST(round((length(text) - length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')))
               * 1000000 / greatest(length(text), 1)) AS BIGINT) AS space_ratio_micros
    FROM documents
    """,
)
def q_text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_quality_stats(docs, "doc_id", "text")


@register_extra(
    "token_counts",
    rf"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}')) AS BIGINT)
               AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs, "doc_id", "text")


def _lexicon_values() -> str:
    rows = []
    for lang, words in sorted(LANG_LEXICONS.items()):
        for wd in words:
            rows.append(f"('{lang}', '{wd}')")
    return ", ".join(rows)


@register_extra(
    "lang_id",
    rf"""
    WITH lex(lang, word) AS (VALUES {_lexicon_values()}),
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS token
        FROM documents
    ),
    scores AS (
        SELECT t.doc_id, x.lang, count(*) AS score
        FROM toks t JOIN lex x ON t.token = x.word
        GROUP BY t.doc_id, x.lang
    ),
    best AS (
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, lang
            ) AS rn
            FROM scores WHERE score > 0
        ) WHERE rn = 1
    )
    SELECT d.doc_id, coalesce(b.lang, 'und') AS lang_pred
    FROM documents d LEFT JOIN best b USING (doc_id)
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs, "doc_id", "text")


@register_extra(
    "doc_fingerprints",
    r"""
    SELECT doc_id,
           md5(norm) AS content_fp,
           md5(array_to_string((string_split(norm, ' '))[1:8], ' ')) AS prefix_fp,
           list_reduce(
               list_transform(string_split(norm, ' '),
                              t -> ('0x' || substr(md5(t), 1, 7))::BIGINT),
               (acc, h) -> (acc * 31 + h) % 2147483647
           ) AS rolling_fp
    FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        FROM documents
    )
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprints(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# The driver-checked text-analysis query: every per-doc facet (quality,
# token counts, fingerprints, language ID) as ONE single-pass profile.
# The per-facet queries above stay in the extra registry (same oracles,
# checked in tests/test_oracle.py) — the merged profile is what a corpus
# pipeline actually runs at 100 TB: one scan, one lang-score shuffle.
# ---------------------------------------------------------------------------

@register(
    "text_profile",
    rf"""
    WITH lex(lang, word) AS (VALUES {_lexicon_values()}),
    ltoks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS token
        FROM documents
    ),
    scores AS (
        SELECT t.doc_id, x.lang, count(*) AS score
        FROM ltoks t JOIN lex x ON t.token = x.word
        GROUP BY t.doc_id, x.lang
    ),
    best AS (
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, lang
            ) AS rn
            FROM scores WHERE score > 0
        ) WHERE rn = 1
    ),
    prof AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
               CAST(round(length(text) * 1000000
                   / greatest(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')), 1))
                   AS BIGINT) AS chars_per_token_micros,
               CAST(round((length(text)
                    - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')))
                   * 1000000 / greatest(length(text), 1)) AS BIGINT)
                   AS punct_ratio_micros,
               CAST(round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                   * 1000000 / greatest(length(text), 1)) AS BIGINT)
                   AS digit_ratio_micros,
               CAST(round((length(text) - length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')))
                   * 1000000 / greatest(length(text), 1)) AS BIGINT)
                   AS space_ratio_micros,
               CAST(len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}')) AS BIGINT)
                   AS n_bpe_tokens,
               md5(norm) AS content_fp,
               md5(array_to_string((string_split(norm, ' '))[1:8], ' ')) AS prefix_fp,
               list_reduce(
                   list_transform(string_split(norm, ' '),
                                  t -> ('0x' || substr(md5(t), 1, 7))::BIGINT),
                   (acc, h) -> (acc * 31 + h) % 2147483647
               ) AS rolling_fp
        FROM (
            SELECT doc_id, text,
                   trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
            FROM documents
        )
    )
    SELECT p.*, coalesce(b.lang, 'und') AS lang_pred
    FROM prof p LEFT JOIN best b USING (doc_id)
    """,
)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_profile(docs, "doc_id", "text")


@register_extra(
    "corpus_clean",
    r"""
    WITH flagged AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt,
               CAST(round((length(text)
                    - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')))
                   * 1000000 / greatest(length(text), 1)) AS BIGINT) AS punct,
               CAST(round((length(text)
                    - length(regexp_replace(text, '[0-9]', '', 'g')))
                   * 1000000 / greatest(length(text), 1)) AS BIGINT) AS digit,
               row_number() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id
               ) AS dup_rank
        FROM documents
    ),
    reasons AS (
        SELECT doc_id,
               CASE WHEN nt < 5 THEN 'too_short'
                    WHEN nt > 2000 THEN 'too_long'
                    WHEN punct > 300000 THEN 'high_punct'
                    WHEN digit > 300000 THEN 'high_digit'
                    WHEN dup_rank > 1 THEN 'dup'
                    ELSE 'kept' END AS reason
        FROM flagged
    )
    SELECT doc_id, reason, reason = 'kept' AS keep FROM reasons
    """,
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pre-training cleaning pipeline (quality gates + exact-dup
    survivor selection) with auditable drop reasons."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus_clean_flags(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Multimodal metadata: binary payload length + content digest — the typed
# metadata layer over opaque binary columns (decode itself is stubbed in
# operators/multimodal.py; the Spark-side plumbing is what's real)
# ---------------------------------------------------------------------------

@register(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha256,
           CASE WHEN octet_length(encode(text)) >= 1024 THEN 'large'
                ELSE 'small' END AS size_class,
           CAST(1 + doc_id % 31 AS INT) AS img_w,
           CAST(1 + doc_id % 17 AS INT) AS img_h,
           CAST(24 AS INT) AS img_bpp,
           CAST(54 + ((1 + doc_id % 31) * 3 + 3) // 4 * 4 * (1 + doc_id % 17)
                AS BIGINT) AS img_bytes,
           CAST(1 + doc_id % 29 AS INT) AS png_w,
           CAST(1 + doc_id % 13 AS INT) AS png_h,
           CAST(3 AS INT) AS png_channels,
           CAST(1 + doc_id % 23 AS INT) AS jpeg_w,
           CAST(1 + doc_id % 11 AS INT) AS jpeg_h,
           CAST(3 AS INT) AS jpeg_channels,
           CAST(1 + doc_id % 19 AS INT) AS jpeg420_w,
           CAST(1 + doc_id % 21 AS INT) AS jpeg420_h,
           CAST(3 AS INT) AS jpeg420_channels,
           CAST(1 + doc_id % 21 AS INT) AS gif_w,
           CAST(1 + doc_id % 13 AS INT) AS gif_h,
           CAST(3 AS INT) AS gif_channels,
           -- GIF is lossless with the formula palette (i, 3i%256, 255-i):
           -- per-pixel byte sum = (3*index)%256 + 255 over the seed
           -- cycled to w*h bytes -- only a real LZW decode reproduces it
           (SELECT CAST(sum((3 * ord(substr(
                       substr(repeat(CASE WHEN length(text) = 0 THEN chr(0)
                                          ELSE text END,
                                     CAST(((1 + doc_id % 21) * (1 + doc_id % 13)
                                           + greatest(length(text), 1) - 1)
                                          // greatest(length(text), 1) AS INT)),
                              1, (1 + doc_id % 21) * (1 + doc_id % 13)),
                       CAST(i AS INT), 1))) % 256 + 255) AS BIGINT)
            FROM (SELECT unnest(range(1, (1 + doc_id % 21) * (1 + doc_id % 13)
                                         + 1)) AS i)) AS gif_px_sum,
           -- seed mirrors make_png's empty-text fallback (pixel_seed or
           -- b'\\x00'): an empty document must digest a NUL-cycled stream,
           -- not divide by zero in the repeat count (ADVICE r4)
           md5(substr(repeat(CASE WHEN length(text) = 0 THEN chr(0) ELSE text END,
                             CAST(((1 + doc_id % 29) * (1 + doc_id % 13) * 3
                                   + greatest(length(text), 1) - 1)
                                  // greatest(length(text), 1) AS INT)),
                      1,
                      (1 + doc_id % 29) * (1 + doc_id % 13) * 3)) AS png_px_md5
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads PLUS two real decodes.

    BMP: each doc gets a valid generated BMP (dims a pure function of
    doc_id); `img_w`/`img_h`/`img_bpp`/`img_bytes` are parsed back from
    the payload's own header bytes (operators/multimodal.py:
    parse_bmp_header via decode_image_features) — a parser bug (wrong
    offset, endianness, missed row padding) breaks the hash match.

    PNG (round 4): each doc also gets a valid RGB8 PNG whose scanlines
    cycle filter types 0-4 (incl. Paeth); `png_w`/`png_h`/`png_channels`
    come from the CRC-validated IHDR and `png_px_md5` digests the pixel
    bytes after zlib inflate + unfilter (operators/multimodal.py:
    parse_png).  The raw pixel stream is the doc text cycled to w*h*3
    bytes, so the oracle reconstructs it with repeat()/substr() (text is
    ASCII in every fixture — chars == bytes) and md5s it — one wrong
    pixel anywhere (bad inflate, wrong Paeth tiebreak, off-by-one stride)
    and the driver hash mismatches.

    JPEG (round 5): each doc also gets a valid baseline-sequential JFIF
    JPEG (operators/jpeg.py: make_jpeg — canonical Huffman, flat quant);
    `jpeg_w`/`jpeg_h`/`jpeg_channels` come from the REAL entropy decode
    (marker walk + Huffman + IDCT in parse_jpeg, reached through
    decode_image_features' magic dispatch).  Pixels survive the DCT
    roundtrip only within a small rounding tolerance, so the pixel
    invariant is pinned in tests/test_jpeg.py rather than by digest here
    — dims/channels are exact and driver-hashed.

    JPEG 4:2:0 (round 6): a FOURTH fixture set per doc is
    chroma-subsampled (make_jpeg subsampling="420" — luma h=v=2,
    interleaved 16×16 MCUs, the layout ~90% of real-world JPEGs use);
    `jpeg420_w`/`jpeg420_h`/`jpeg420_channels` require the generalized
    MCU walk (4 Y + Cb + Cr data units per MCU) to decode cleanly —
    a decoder with the wrong MCU geometry raises mid-stream, falls to
    the fake-dims path and breaks the driver hash.  Dims up to 19×21
    exercise multi-MCU images and non-multiple-of-16 chroma edges;
    pixel tolerance vs the analytic box-downsample expectation is
    pinned in tests/test_jpeg.py."""
    import hashlib

    import pandas as pd

    from ..operators.gif import make_gif
    from ..operators.jpeg import make_jpeg
    from ..operators.multimodal import (
        _fake_decode,
        _spread,
        decode_any,
        make_bmp,
        make_png,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # ONE fused generate+decode pass per doc (round 16, guide §4): the
    # former shape was 4 generator kernels + 4 decode kernels + 1 gif
    # kernel + 5 joins — every payload crossed the Arrow boundary twice
    # and the query paid 12 jobs of plumbing for one partition-parallel
    # Python stage.  The kernel calls the SAME make_*/decode functions
    # the media operators use, with identical fallback semantics
    # (decode_any → _fake_decode, digest of decoded pixels else raw
    # payload — decode_image_features' row_fn branch verbatim), so
    # every emitted value is bit-identical to the joined formulation;
    # a doc whose GIF fails to decode is skipped, exactly as the old
    # inner join dropped it.  The media operators themselves are
    # unchanged (streaming/other queries still compose them).
    def _dims(payload):
        decoded = decode_any(payload)
        if decoded is not None:
            w, h, c, pixels = decoded
            return w, h, c, pixels
        w, h, c, _ = _fake_decode(payload)
        return w, h, c, None

    def all_feats(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                tb = str(text).encode("utf-8")
                # the media payloads keep the generators' str() encoding,
                # but NULL text has NULL length and digest (sha2/length
                # over a NULL column)
                n_bytes = None if text is None else len(tb)
                sha = None if text is None else hashlib.sha256(tb).hexdigest()
                gif_dec = decode_any(
                    make_gif(
                        1 + did % 21, 1 + did % 13, tb,
                        interlaced=(did % 2 == 1),
                    )
                )
                if gif_dec is None:
                    continue
                gw, gh, gc, gpx = gif_dec
                bmp = make_bmp(1 + did % 31, 1 + did % 17, tb)
                bw, bh, bc, _ = _dims(bmp)
                png = make_png(1 + did % 29, 1 + did % 13, tb)
                pw, ph, pc, ppx = _dims(png)
                jw, jh, jc, _ = _dims(
                    make_jpeg(1 + did % 23, 1 + did % 11, tb)
                )
                j4w, j4h, j4c, _ = _dims(
                    make_jpeg(1 + did % 19, 1 + did % 21, tb,
                              subsampling="420")
                )
                rows.append({
                    "doc_id": did,
                    "n_bytes": n_bytes,
                    "content_sha256": sha,
                    "size_class": "large" if (n_bytes or 0) >= 1024 else "small",
                    "img_w": bw,
                    "img_h": bh,
                    "img_bpp": bc * 8,
                    "img_bytes": len(bmp),
                    "png_w": pw,
                    "png_h": ph,
                    "png_channels": pc,
                    "png_px_md5": hashlib.md5(
                        ppx if ppx is not None else png
                    ).hexdigest(),
                    "jpeg_w": jw,
                    "jpeg_h": jh,
                    "jpeg_channels": jc,
                    "jpeg420_w": j4w,
                    "jpeg420_h": j4h,
                    "jpeg420_channels": j4c,
                    "gif_w": gw,
                    "gif_h": gh,
                    "gif_channels": gc,
                    "gif_px_sum": sum(gpx),
                })
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs).mapInPandas(
        all_feats,
        "doc_id long, n_bytes long, content_sha256 string, "
        "size_class string, img_w int, img_h int, img_bpp int, "
        "img_bytes long, png_w int, png_h int, png_channels int, "
        "png_px_md5 string, jpeg_w int, jpeg_h int, jpeg_channels int, "
        "jpeg420_w int, jpeg420_h int, jpeg420_channels int, "
        "gif_w int, gif_h int, gif_channels int, gif_px_sum long",
    )


@register_extra(
    # demoted round 7 (rotation for corpus_pipeline_ledger): the
    # frame-sampling facet's §2 coverage rides seeded_sample_orders /
    # mixture_sample_temperature (sampling) and multimodal_meta (media
    # explode shape); the local DuckDB gate stays
    "frame_samples",
    """
    SELECT doc_id AS media_id,
           CAST(i AS INT) AS frame_index,
           CAST(i * 256 AS BIGINT) AS frame_offset_bytes,
           md5(doc_id || ':' || i) AS frame_digest
    FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
         LATERAL (SELECT unnest(range(0, greatest(CAST(n // 256 AS INT), 1)))
                  AS i)
    """,
)
def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators/multimodal.sample_frames)
    over fake payloads built from document text: one row per sampled
    offset, md5 digest — deterministic, so even the multimodal explode
    shape is DuckDB-oracled."""
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
    )
    return sample_frames(media, every_bytes=256)


@register_extra(  # demoted rotation #10 (r12): facet coverage rides driver rows
    "bm25_scores",
    r"""
    WITH toks AS (
        SELECT doc_id, tok
        FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
            FROM documents
        )
        WHERE tok <> ''
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, tok AS token, count(*) AS tf FROM toks
        WHERE tok IN ('spark', 'query', 'join')
        GROUP BY doc_id, tok
    ),
    dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
    SELECT tf.doc_id,
           CAST(sum(CAST(round(
               ln(1.0 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
               * 1000000) AS BIGINT)) AS BIGINT) AS score_micros,
           count(*) AS n_terms
    FROM tf
    JOIN dl ON tf.doc_id = dl.doc_id
    JOIN dfc ON tf.token = dfc.token
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance against a fixed query-term set (k1=1.2, b=0.75);
    per-term micros integerized before the doc sum — fully oracled."""
    from ..operators.textstats import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, "doc_id", "text", ["spark", "query", "join"])


# ---------------------------------------------------------------------------
# S14 — scrape-ingest extraction (reference: the Douban review notebook,
# 图书美文信息抓取.ipynb cell-3/4: paged HTTP fetch + `re.findall` field
# extraction).  The network fetch is a connector concern outside the
# engine; the ENGINE's share — multi-match regex field extraction from
# fetched page bodies into typed rows — runs here over deterministic
# synthesized pages (two review entries per page), so both engines parse
# identical input.  Spark: regexp_extract_all + arrays_zip + posexplode,
# no Python in the row path.
# ---------------------------------------------------------------------------

_PAGE_SQL = """
        SELECT doc_id,
               '<li id="toggle-' || doc_id || '"><span class="rating">'
                   || doc_id % 10 || '</span><p>' || substr(text, 1, 40)
                   || '</p></li><li id="toggle-' || (doc_id + 100000)
                   || '"><span class="rating">' || (doc_id + 3) % 10
                   || '</span><p>more</p></li>' AS html
        FROM documents
"""


@register_extra(
    "scrape_extract",
    rf"""
    WITH pages AS ({_PAGE_SQL}),
    parsed AS (
        SELECT doc_id,
               regexp_extract_all(html, 'id="toggle-(\d+)"', 1) AS ids,
               regexp_extract_all(html, 'rating">(\d+)<', 1) AS ratings
        FROM pages
    )
    SELECT doc_id AS page_id,
           CAST(i - 1 AS INT) AS review_idx,
           CAST(ids[i] AS BIGINT) AS review_id,
           CAST(ratings[i] AS BIGINT) AS rating
    FROM parsed, LATERAL (SELECT unnest(range(1, len(ids) + 1)) AS i)
    """,
)
def q_scrape_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 as an engine capability: `re.findall`-style multi-match field
    extraction from page bodies (`regexp_extract_all`), one output row per
    extracted review.  Pages are synthesized deterministically from the
    documents table — the fetch itself is out-of-engine (connector)."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<li id="toggle-'), F.col("doc_id").cast("string"),
        F.lit('"><span class="rating">'), (F.col("doc_id") % 10).cast("string"),
        F.lit("</span><p>"), F.substring("text", 1, 40),
        F.lit('</p></li><li id="toggle-'),
        (F.col("doc_id") + 100000).cast("string"),
        F.lit('"><span class="rating">'),
        ((F.col("doc_id") + 3) % 10).cast("string"),
        F.lit("</span><p>more</p></li>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    parsed = pages.select(
        F.col("doc_id").alias("page_id"),
        F.regexp_extract_all("html", F.lit(r'id="toggle-(\d+)"'), 1).alias("ids"),
        F.regexp_extract_all("html", F.lit(r'rating">(\d+)<'), 1).alias("ratings"),
    )
    return parsed.select(
        "page_id",
        F.posexplode(F.arrays_zip("ids", "ratings")).alias("review_idx", "z"),
    ).select(
        "page_id",
        F.col("review_idx").cast("int").alias("review_idx"),
        F.col("z.ids").cast("bigint").alias("review_id"),
        F.col("z.ratings").cast("bigint").alias("rating"),
    )


# ---------------------------------------------------------------------------
# Repetition-based quality features (Gopher-rule family) — boilerplate /
# stutter detection ahead of corpus filtering.  Extra registry: the
# corpus-quality surface is driver-verified via text_profile/corpus_clean;
# this adds the n-gram repetition dimension under the same local gate.
# ---------------------------------------------------------------------------

@register_extra(
    "repetition_stats",
    r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks
        FROM documents
    ),
    g2 AS (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS sh
        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        WHERE len(toks) >= 2
    ),
    s2 AS (
        SELECT doc_id,
               CAST(round(max(c) * 1000000.0 / sum(c)) AS BIGINT)
                   AS top2gram_micros,
               CAST(round((sum(c) - count(*)) * 1000000.0 / sum(c)) AS BIGINT)
                   AS dup2gram_micros
        FROM (SELECT doc_id, sh, count(*) AS c FROM g2 GROUP BY doc_id, sh)
        GROUP BY doc_id
    ),
    g3 AS (
        SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
        WHERE len(toks) >= 3
    ),
    s3 AS (
        SELECT doc_id,
               CAST(round(max(c) * 1000000.0 / sum(c)) AS BIGINT)
                   AS top3gram_micros,
               CAST(round((sum(c) - count(*)) * 1000000.0 / sum(c)) AS BIGINT)
                   AS dup3gram_micros
        FROM (SELECT doc_id, sh, count(*) AS c FROM g3 GROUP BY doc_id, sh)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(top2gram_micros, 0) AS top2gram_micros,
           coalesce(dup2gram_micros, 0) AS dup2gram_micros,
           coalesce(top3gram_micros, 0) AS top3gram_micros,
           coalesce(dup3gram_micros, 0) AS dup3gram_micros
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN s2 USING (doc_id)
    LEFT JOIN s3 USING (doc_id)
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# PII-pattern triage — emails/URLs/phone-shaped match counts per doc.  The
# fixture corpus contains none, so deterministic PII-ish suffixes are
# injected for 1 in 5 docs (both engines build the identical augmented
# text); the regex counting is the operator under test.
# ---------------------------------------------------------------------------

@register_extra(
    "pii_pattern_counts",
    r"""
    WITH aug AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0
                   THEN ' contact u' || doc_id
                        || '@mail.example.com via https://ex.org/p' || doc_id
                        || ' or 555-123-4567'
                   ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
               AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+'))
               AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text,
               '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]'))
               AS BIGINT) AS n_phones
    FROM aug
    """,
)
def q_pii_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import pii_pattern_counts

    docs = load_table(spark, sf_dir, "documents")
    suffix = F.concat(
        F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com via https://ex.org/p"),
        F.col("doc_id").cast("string"), F.lit(" or 555-123-4567"),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), suffix))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_pattern_counts(aug, "doc_id", "text")


@register_extra(
    "unigram_lm_scores",
    r"""
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM counts),
    scored AS (
        SELECT t.doc_id,
               CAST(round(ln((c + 1) / (n + v)) * 1000000) AS BIGINT) AS lp
        FROM toks t JOIN counts USING (tok) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(lp) AS BIGINT) AS sum_lp_micros,
           CAST(round(sum(lp) * 1.0 / count(*)) AS BIGINT) AS avg_lp_micros
    FROM scored
    GROUP BY doc_id
    """,
)
def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram-LM doc likelihood (operators/textstats.py:
    unigram_lm_scores) — the perplexity-proxy quality facet; per-token
    log-probs integerized per row so the DuckDB hash match is exact."""
    from ..operators.textstats import unigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs, "doc_id", "text")


@register_extra(
    "pii_redact",
    r"""
    WITH aug AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0
                   THEN ' contact u' || doc_id
                        || '@mail.example.com via https://ex.org/p' || doc_id
                        || ' or 555-123-4567'
                   ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id, redacted_text,
           CAST(length(text) - length(redacted_text) AS BIGINT) AS chars_removed
    FROM (
        SELECT doc_id, text,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
                           '<EMAIL>', 'g'),
                       'https?://[^ \t\n]+', '<URL>', 'g'),
                   '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]',
                   '<PHONE>', 'g') AS redacted_text
        FROM aug
    )
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/textstats.pii_redact) over the same
    synthetically-augmented corpus as `pii_pattern_counts` (1/5 of docs
    get a known email+URL+phone suffix), so the redaction provably
    rewrites real matches — placeholders in, PII spans out, byte-exact
    against the oracle."""
    from ..operators.textstats import pii_redact

    docs = load_table(spark, sf_dir, "documents")
    suffix = F.concat(
        F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com via https://ex.org/p"),
        F.col("doc_id").cast("string"), F.lit(" or 555-123-4567"),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), suffix))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_redact(aug, "doc_id", "text")


@register_extra(
    "c4_line_filter",
    r"""
    WITH pages AS (
        SELECT doc_id,
               substr(text, 1, 80) || ' tail of the lead paragraph ends here.'
               || chr(10)
               || 'Please enable JavaScript to continue browsing this site.'
               || chr(10) || substr(text, 81, 60) || chr(10) || 'buy now'
               || chr(10)
               || CASE WHEN doc_id % 7 = 0
                      THEN 'lorem ipsum dolor sit amet consectetur.' || chr(10)
                      ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                      THEN '{ "k": ' || CAST(doc_id AS VARCHAR) || ' }' || chr(10)
                      ELSE '' END
               || substr(text, 141, 80) || ' closing line of page text here!'
                   AS page
        FROM documents
    ),
    k AS (
        SELECT doc_id,
               string_split(page, chr(10)) AS lines,
               (contains(lower(page), 'lorem ipsum') OR contains(page, '{'))
                   AS pd,
               list_filter(string_split(page, chr(10)), l ->
                   regexp_matches(l, '[.!?"''][ \t]*$')
                   AND len(string_split_regex(trim(l), '[ \t]+')) >= 5
                   AND NOT contains(lower(l), 'javascript')) AS kept
        FROM pages
    )
    SELECT doc_id,
           CASE WHEN pd THEN '' ELSE array_to_string(kept, chr(10)) END
               AS cleaned_text,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(CASE WHEN pd THEN 0 ELSE len(kept) END AS BIGINT) AS n_kept,
           CAST(CASE WHEN pd THEN 1 ELSE 0 END AS BIGINT) AS page_dropped
    FROM k
    """,
)
def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning (operators/textstats.c4_line_filter) over a
    deterministically synthesized multi-line page (the corpus has no
    newlines): each doc gets a kept lead line, a javascript notice, an
    unterminated fragment, a too-short line, a kept closing line, and —
    on 1/7 and 1/11 of docs — a ``lorem ipsum`` / curly-brace page-drop
    trigger, so every rule provably fires.  Oracle mirrors the page
    construction byte-for-byte."""
    from ..operators.textstats import c4_line_filter

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    page = F.concat(
        F.substring(t, 1, 80),
        F.lit(" tail of the lead paragraph ends here.\n"
              "Please enable JavaScript to continue browsing this site.\n"),
        F.substring(t, 81, 60),
        F.lit("\nbuy now\n"),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("lorem ipsum dolor sit amet consectetur.\n"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.lit('{ "k": '), F.col("doc_id").cast("string"),
                        F.lit(" }\n")))
        .otherwise(F.lit("")),
        F.substring(t, 141, 80),
        F.lit(" closing line of page text here!"),
    )
    pages = docs.select("doc_id", page.alias("text"))
    return c4_line_filter(pages, "doc_id", "text")


@register_extra(
    "split_assignment",
    r"""
    SELECT doc_id,
           CAST(bucket AS BIGINT) AS split_bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'splitv1'), 1, 7))
                   ::BIGINT % 100 AS bucket
        FROM documents
    )
    """,
)
def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted train/val/test split (operators/textstats.
    split_assignment) — the final corpus-assembly stage; membership is a
    pure function of (doc_id, salt), scan-local, no shuffle."""
    from ..operators.textstats import split_assignment

    docs = load_table(spark, sf_dir, "documents")
    return split_assignment(docs, "doc_id")


_HTML_ORACLE = r"""
WITH h AS (
    SELECT doc_id,
           '<html><head><title>d' || CAST(doc_id AS VARCHAR)
           || '</title><style>p{margin:0}</style><script>var t="'
           || CAST(doc_id AS VARCHAR)
           || '";if(t<"1"){t="&lt;"}</script></head><body><nav><a href="/">home</a><a href="/d'
           || CAST(doc_id AS VARCHAR)
           || '">self</a></nav><div><p>'
           || replace(coalesce(text, ''), chr(10), '</p><p>')
           || '</p><p>See <a href="/more">more &amp; extra</a> notes.</p></div><footer><a href="/terms">terms</a></footer></body></html>'
               AS html
    FROM documents
),
deb AS (
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(html,
               '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
               '(?s)<header[^>]*>.*?</header>', ' ', 'g'),
               '(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
               '(?s)<aside[^>]*>.*?</aside>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g') AS d
    FROM h
),
l AS (
    SELECT doc_id, d,
           coalesce(list_aggregate(list_transform(
               regexp_extract_all(d, '(?s)<a[^>]*>(.*?)</a>', 1),
               b -> CAST(length(regexp_replace(b, '<[^>]*>', '', 'g'))
                         AS BIGINT)), 'sum'), 0) AS link_chars
    FROM deb
),
t AS (
    SELECT doc_id, link_chars,
           trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                   regexp_replace(d, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '[ \t\n\x0B\f\r]+', ' ', 'g')) AS main_text
    FROM l
)
SELECT doc_id, main_text,
       CAST(length(main_text) AS BIGINT) AS main_len,
       CAST(link_chars AS BIGINT) AS link_chars,
       CAST(round(CAST(link_chars AS DOUBLE) * 1000000.0
                  / CAST(greatest(CAST(length(main_text) AS BIGINT), 1)
                         AS DOUBLE)) AS BIGINT) AS link_density_micros
FROM t
"""


# The S14 completion — HTML → clean training text is the engine's share
# of the reference's scrape pipeline, and the first stage of any web-crawl
# corpus.
@register_extra("html_extract_main", _HTML_ORACLE)  # extra since rotation #11: the HTML->text facet rides text_profile (driver) + scrape_extract (local)
def q_html_extract_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → training-text extraction (operators/html.html_extract_text)
    over a synthetically-wrapped corpus: every document is embedded in a
    deterministic page skeleton (title/style/script chrome, nav + footer
    link bars, paragraph-split body, an in-content anchor with entities),
    so the extractor provably drops script/style/nav/footer content,
    strips tags, decodes entities, collapses whitespace, and measures
    link density — the trafilatura-role stage of a web-crawl pipeline,
    all JVM-side expressions, byte-exact against the oracle."""
    from ..operators.html import html_extract_text

    docs = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><title>d'), sid,
        F.lit('</title><style>p{margin:0}</style><script>var t="'), sid,
        F.lit('";if(t<"1"){t="&lt;"}</script></head><body>'
              '<nav><a href="/">home</a><a href="/d'), sid,
        F.lit('">self</a></nav><div><p>'),
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\n"), F.lit("</p><p>"),
        ),
        F.lit('</p><p>See <a href="/more">more &amp; extra</a> notes.'
              '</p></div><footer><a href="/terms">terms</a></footer>'
              '</body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return html_extract_text(pages, "doc_id", "html")


def _quality_model_oracle() -> str:
    from ..operators.quality_model import (
        KEEP_MILLI,
        N_BUCKETS,
        weights_values_sql,
    )

    return rf"""
WITH w AS (SELECT j, wt FROM (VALUES {weights_values_sql()}) v(j, wt)),
tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
    FROM documents
),
b AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 7))::BIGINT % {N_BUCKETS} AS j
    FROM tok WHERE tok <> ''
),
s AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(wt) AS BIGINT) AS sum_w
    FROM b JOIN w USING (j)
    GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(sum_w // n_tokens AS BIGINT) AS score_milli,
       (sum_w // n_tokens) > {KEEP_MILLI} AS keep
FROM s
"""


@register_extra("quality_classifier_scores", _quality_model_oracle())
def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier
    (operators/quality_model.linear_quality_score): model inference as a
    broadcast join — tokens hash to feature buckets, the pinned integer
    weight table joins in, an integer mean decides keep/drop.  The
    fastText-role filter stage; weights inline as a VALUES literal in the
    oracle, so the whole inference path is hash-checked."""
    from ..operators.quality_model import linear_quality_score

    docs = load_table(spark, sf_dir, "documents")
    return linear_quality_score(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# BPE merge training (operators/bpe.py) — the oracle unrolls the training
# loop into static CTE stages generated from the same constants as the
# Spark loop (pair count → deterministic argmax → literal replace), so the
# learned merge table itself is hash-checked cross-engine.
# ---------------------------------------------------------------------------

_BPE_MERGES = 8

_BPE_BASE_SQL = r"""
    WITH w AS (
        SELECT word, count(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
            FROM documents
        ) WHERE word <> '' GROUP BY word
    ),
    s0 AS (
        SELECT '|' || array_to_string(regexp_extract_all(word, '.'), '||') || '|' AS seq,
               CAST(freq AS BIGINT) AS freq
        FROM w
    )"""


def _bpe_train_ctes(n_merges: int) -> str:
    parts = [_BPE_BASE_SQL]
    for i in range(1, n_merges + 1):
        parts.append(f""",
    p{i} AS (
        SELECT toks[i] AS t1, toks[i + 1] AS t2, sum(freq) AS cnt
        FROM (
            SELECT string_split(substr(seq, 2, length(seq) - 2), '||') AS toks,
                   freq
            FROM s{i - 1}
        ), LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        GROUP BY t1, t2
    ),
    b{i} AS (SELECT t1, t2, cnt FROM p{i} ORDER BY cnt DESC, t1, t2 LIMIT 1),
    s{i} AS (
        SELECT replace(seq, '|' || t1 || '||' || t2 || '|',
                       '|' || t1 || t2 || '|') AS seq, freq
        FROM s{i - 1}, b{i}
    )""")
    return "".join(parts)


def _bpe_merges_oracle(n_merges: int = _BPE_MERGES) -> str:
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, t1 AS merge_left, "
        f"t2 AS merge_right, CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_train_ctes(n_merges) + f"""
    SELECT step, merge_left, merge_right, pair_count FROM (
        {rows}
    )
    """


def _bpe_apply_oracle(n_merges: int = _BPE_MERGES) -> str:
    doc_seq = (
        "array_to_string(list_transform("
        "list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'), "
        "x -> x <> ''), "
        "w -> '|' || array_to_string(regexp_extract_all(w, '.'), '||') || '|'"
        "), ' ')"
    )
    for i in range(1, n_merges + 1):
        doc_seq = (
            f"replace({doc_seq}, "
            f"(SELECT '|' || t1 || '||' || t2 || '|' FROM b{i}), "
            f"(SELECT '|' || t1 || t2 || '|' FROM b{i}))"
        )
    return _bpe_train_ctes(n_merges) + f"""
    SELECT doc_id,
           CAST((length(s) - length(replace(s, '||', ''))) // 2
                + len(list_filter(string_split_regex(trim(text),
                      '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS BIGINT)
               AS n_bpe_tokens
    FROM (SELECT doc_id, text, {doc_seq} AS s FROM documents)
    """


@register("bpe_merge_training", _bpe_merges_oracle())
def q_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): the corpus
    collapses to a (word, freq) table in one map-side-combine shuffle,
    then 8 merge rounds of vocabulary-sized pair counting with a
    deterministic argmax.  The output IS the learned artifact — the merge
    table — hash-matched against an oracle that unrolls the identical
    training loop into static CTEs."""
    from ..operators.bpe import bpe_merge_table, word_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_table(
        spark, word_counts(docs, "text"), "word", "freq", _BPE_MERGES
    )


@register_extra("bpe_token_counts", _bpe_apply_oracle())
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization with the learned BPE merges (operators/bpe.bpe_apply):
    per-doc subword counts after applying the 8 trained merges in order —
    the cost model every sequence-packing / context-length decision runs
    on.  Application is a scan-local chain of literal replaces (no UDF);
    the oracle re-trains in CTEs and applies the same chain."""
    from ..operators.bpe import bpe_apply, bpe_train, word_counts

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(word_counts(docs, "text"), "word", "freq", _BPE_MERGES)
    return bpe_apply(docs, "doc_id", "text", merges)


@register_extra(
    "bigram_lm_scores",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    uni AS (SELECT unnest(toks) AS w FROM t),
    c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
    v AS (SELECT count(*) AS v FROM c1),
    big AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
    scored AS (
        SELECT b.doc_id,
               CAST(round(ln((c2 + 1) / (c1 + v)) * 1000000) AS BIGINT) AS lp
        FROM big b
        JOIN c2 USING (w1, w2)
        JOIN c1 ON c1.w = b.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp) AS BIGINT) AS sum_lp_micros,
           CAST(round(sum(lp) * 1.0 / count(*)) AS BIGINT) AS avg_lp_micros
    FROM scored
    GROUP BY doc_id
    """,
)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM doc likelihood (operators/textstats.
    bigram_lm_scores) — the context-sensitive perplexity facet: improbable
    word ORDER scores badly even when every word is common.  Same
    micro-integer discipline as the unigram facet, so the hash match is
    exact."""
    from ..operators.textstats import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text")


@register_extra(
    "dsir_importance_weights",
    r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tt,
               ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]), 1, 7))::BIGINT
                   % 1024 AS b
        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
    ),
    model AS (
        SELECT b, sum(tt) AS ct, count(*) AS cr FROM feats GROUP BY b
    ),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
                   CAST(sum(cr) AS BIGINT) AS nr FROM model),
    scored AS (
        SELECT f.doc_id,
               CAST(round(ln((ct + 1) / (nt + 1024)) * 1000000) AS BIGINT)
               - CAST(round(ln((cr + 1) / (nr + 1024)) * 1000000) AS BIGINT)
                   AS ratio_micros
        FROM feats f JOIN model USING (b) CROSS JOIN tot
    ),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(ratio_micros) AS BIGINT) AS sum_ratio_micros,
               CAST(round(sum(ratio_micros) * 1.0 / count(*)) AS BIGINT)
                   AS avg_ratio_micros
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, sum_ratio_micros, avg_ratio_micros,
           CAST(CASE WHEN sum_ratio_micros > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS selected
    FROM agg
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/textstats.dsir_importance_weights):
    hashed-bigram importance log-ratios of a target domain (lang='en'
    stands in for the curated target) against the raw corpus — the
    Xie et al. 2023 selection signal, exactly integerized so even the
    learned importance weights hash-match the oracle."""
    from ..operators.textstats import dsir_importance_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, "doc_id", "text", target_filter=F.col("lang") == "en"
    )


@register_extra(
    "source_quality_report",
    r"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_contents,
           CAST(sum(len(list_filter(
               string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
               x -> x <> ''))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(length(text)
                    - length(regexp_replace(text,
                          '[^A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')))
                * 1000000
                // greatest(sum(length(text)), 1) AS BIGINT)
               AS punct_ratio_micros
    FROM documents
    GROUP BY source
    """,
)
def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health rollup — the dashboard a 100 TB ingest
    charts before trusting a crawl source: volume, exact-dup mass
    (docs vs distinct contents), token volume, corpus-level punctuation
    ratio.  One scan, one groupBy on the source key, every figure an
    exact integer."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = F.filter(
        F.split(F.trim(t), r"[ \t\n\x0B\f\r]+"), lambda w: w != ""
    )
    # DataFrame-API regex only: an F.expr string literal here would pass
    # through Spark SQL's own unescaping and silently turn \x0B / \f
    # into the letters x0B / f (measured divergence vs the oracle)
    punct = F.length(t) - F.length(
        F.regexp_replace(t, r"[^A-Za-z0-9 \t\n\x0B\f\r]", "")
    )
    # decimal(38) before the ×1e6: at the 100 TB scale this query is
    # pitched for, sum(punct) * 1000000 overflows int64 while the
    # DuckDB oracle's HUGEINT stays exact; both sides are nonnegative,
    # so floor == truncation == DuckDB's // semantics
    ratio = F.floor(
        F.sum(punct).cast("decimal(38,0)")
        * 1_000_000
        / F.greatest(F.sum(F.length(t)), F.lit(1))
    ).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5(t)).cast("long").alias("n_distinct_contents"),
        F.sum(F.size(toks)).cast("long").alias("total_tokens"),
        F.sum(F.length(t)).cast("long").alias("total_chars"),
        ratio.alias("punct_ratio_micros"),
    )


@register_extra(
    "kn_bigram_lm_scores",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    big AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c2) AS c1, count(*) AS n1f FROM c2 GROUP BY w1),
    ncont AS (SELECT w2, count(*) AS ncont FROM c2 GROUP BY w2),
    ntypes AS (SELECT count(*) AS ntypes FROM c2),
    scored AS (
        SELECT b.doc_id,
               CAST(round(ln(
                   greatest(c2 - 0.75, 0.0) / c1
                   + (0.75 * n1f / c1) * (ncont / ntypes)
               ) * 1000000) AS BIGINT) AS lp
        FROM big b
        JOIN c2 USING (w1, w2)
        JOIN c1 USING (w1)
        JOIN ncont USING (w2)
        CROSS JOIN ntypes
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp) AS BIGINT) AS sum_lp_micros,
           CAST(round(sum(lp) * 1.0 / count(*)) AS BIGINT) AS avg_lp_micros
    FROM scored
    GROUP BY doc_id
    """,
)
def q_kn_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram likelihood (operators/textstats.
    kn_bigram_lm_scores) — the canonical smoothing, with the discounted
    term and the continuation interpolation evaluated in one pinned IEEE
    op order so even the smoothed model hash-matches."""
    from ..operators.textstats import kn_bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return kn_bigram_lm_scores(docs, "doc_id", "text")


@register_extra(
    "ngram_diversity",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    occ AS (
        SELECT 1 AS n, array_to_string(toks[i:i + 0], ' ') AS g
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) - -1)) AS i)
        UNION ALL
        SELECT 2 AS n, array_to_string(toks[i:i + 1], ' ') AS g
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 0)) AS i)
        UNION ALL
        SELECT 3 AS n, array_to_string(toks[i:i + 2], ' ') AS g
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
    ),
    agg AS (
        SELECT n, count(*) AS total, count(DISTINCT g) AS n_distinct
        FROM occ GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(total AS BIGINT) AS total_ngrams,
           CAST(n_distinct AS BIGINT) AS distinct_ngrams,
           CAST(n_distinct * 1000000 // total AS BIGINT)
               AS distinct_ratio_micros
    FROM agg
    """,
)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distinct-n diversity (the distinct-1/2/3 metric of
    text-generation evaluation, applied as a corpus health signal): a
    repetitive or template-heavy corpus shows a collapsing distinct
    ratio as n grows slower than a diverse one.  One explode + one
    groupBy per n, all integer counts."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"),
        lambda w: w != "",
    )
    base = docs.select(toks.alias("__toks"))
    outs = []
    for n in (1, 2, 3):
        idx = F.when(
            F.size("__toks") >= n,
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        grams = base.select(
            F.explode(idx).alias("__i"), "__toks"
        ).select(
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__i"), n)
            ).alias("g")
        )
        outs.append(
            grams.agg(
                F.lit(n).cast("long").alias("n"),
                F.count(F.lit(1)).cast("long").alias("total_ngrams"),
                F.countDistinct("g").cast("long").alias("distinct_ngrams"),
            )
        )
    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), outs)
    # drop empty n-gram classes (ADVICE r5: agg over an empty frame
    # yields a total_ngrams=0 row here, while the oracle's GROUP BY
    # emits no row for that n — on a degenerate corpus where every doc
    # has fewer than n tokens the engines must still agree)
    return merged.filter(F.col("total_ngrams") > 0).select(
        "n",
        "total_ngrams",
        "distinct_ngrams",
        F.expr("distinct_ngrams * 1000000L div total_ngrams")
        .cast("long")
        .alias("distinct_ratio_micros"),
    )


@register_extra(
    "jpeg_progressive_meta",
    r"""
    SELECT doc_id,
           CAST(1 + doc_id % 27 AS INT) AS width,
           CAST(1 + doc_id % 15 AS INT) AS height,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS INT)
               AS channels,
           CASE WHEN doc_id % 5 = 0 THEN 'gray'
                WHEN doc_id % 2 = 0 THEN '444'
                ELSE '420' END AS layout
    FROM documents
    """,
)
def q_jpeg_progressive_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG decode under the oracle gate (round 6,
    operators/jpeg.py SOF2 path): every doc gets a REAL progressive
    stream — DC first + DC refinement + per-component AC first (EOB-run
    coded) + AC refinement (correction bits) scans, in 4:4:4, 4:2:0 or
    grayscale layout by id formula — and ``width``/``height``/
    ``channels`` are read back from the full multi-scan coefficient
    accumulation + IDCT.  A decoder that mis-walks any scan type raises
    mid-stream and the row vanishes (rows_match breaks); wrong geometry
    breaks the hash.  Bit-exactness of the decode itself is pinned in
    tests/test_jpeg.py (progressive == sequential pixels)."""
    import pandas as pd

    from ..operators.jpeg import make_progressive_jpeg, parse_jpeg
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen_and_decode(it):
        for pdf in it:
            rows = []
            for r in pdf.to_dict("records"):
                did = int(r["doc_id"])
                seed = str(r["text"]).encode("utf-8")
                gray = did % 5 == 0
                layout = "gray" if gray else ("444" if did % 2 == 0 else "420")
                payload = make_progressive_jpeg(
                    1 + did % 27,
                    1 + did % 15,
                    seed,
                    gray=gray,
                    subsampling="444" if layout != "420" else "420",
                )
                w, h, c, _px = parse_jpeg(payload)
                rows.append(
                    {
                        "doc_id": did,
                        "width": w,
                        "height": h,
                        "channels": c,
                        "layout": layout,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_decode,
        "doc_id long, width int, height int, channels int, layout string",
    )


@register_extra(
    "url_canonical_dedup",
    r"""
    WITH canon AS (
        SELECT DISTINCT
               'https://www.corpus.example/' || source || '/doc/'
                   || CAST(doc_id % 211 AS VARCHAR) || '?a=1&b=2'
                   AS canonical_url,
               doc_id
        FROM documents
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) * 2 AS BIGINT) AS n_raw_urls
    FROM canon GROUP BY canonical_url
    """,
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed crawl dedup (operators/urlnorm.canonical_url, round 6):
    every doc contributes TWO messy variants of its logical URL —
    uppercase scheme/host + default port + utm params + fragment +
    trailing slash on one, a different param order + another utm on the
    other — and the canonicalizer must collapse both onto one key per
    (source, doc_id mod 211) identity.  The oracle derives the expected
    canonical form ANALYTICALLY (not by mirroring the implementation),
    so any normalization bug — unsorted params, surviving utm, kept
    port, kept fragment, kept trailing slash, missed case fold — breaks
    the hash.  Scan-local expressions end to end; the group-by is the
    same shuffle an exact-dedup pass pays."""
    from ..operators.urlnorm import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    core = F.concat(
        F.col("source"), F.lit("/doc/"), (F.col("doc_id") % 211).cast("string")
    )
    v1 = F.concat(
        F.lit("HTTPS://WWW.Corpus.EXAMPLE:443/"),
        core,
        F.lit("/?utm_source=feed&b=2&a=1#top"),
    )
    v2 = F.concat(
        F.lit("https://www.corpus.example/"),
        core,
        F.lit("?a=1&b=2&utm_campaign=x"),
    )
    raw = docs.select(
        "doc_id", F.explode(F.array(v1, v2)).alias("url")
    )
    return (
        raw.select("doc_id", canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_raw_urls"),
        )
    )


@register_extra(
    "weighted_sample_docs",
    r"""
    WITH pr AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wsv1'),
                                    1, 10))::BIGINT * 1000000
                    // greatest(n_chars, 1) AS BIGINT) AS priority
        FROM documents
    )
    SELECT doc_id, priority,
           CAST(rn AS BIGINT) AS sample_rank
    FROM (
        SELECT doc_id, priority,
               row_number() OVER (ORDER BY priority, doc_id) AS rn
        FROM pr
    )
    WHERE rn <= 200
    """,
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement — the
    quality-weighted corpus subsample every data-mixing recipe needs
    (longer/higher-quality docs proportionally likelier).  The classic
    Efraimidis-Spirakis priority ``u^(1/w)`` needs float pow; the
    integerized equivalent ranks by ``hash * SCALE div weight`` — a
    40-bit salted hash keeps the scaled product inside int64, weights
    enter as exact integers (``n_chars`` here), and the smallest-k
    priorities win with a total (priority, doc_id) order.  Pure
    integers: reruns, late shards, and the oracle pick the IDENTICAL
    sample — the property that makes a 100 TB sampling job restartable.
    One scan + one top-k; no shuffle beyond the global top-k merge."""
    docs = load_table(spark, sf_dir, "documents")
    pr = docs.select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(concat(cast(doc_id as string), 'wsv1')),"
            " 1, 10), 16, 10) as bigint) * 1000000L"
            " div greatest(n_chars, 1)"
        ).alias("priority"),
    )
    # smallest-k first via orderBy().limit() — per-partition top-k +
    # driver merge, never a single-partition global window over the
    # corpus; the rank window then runs over exactly 200 rows
    from pyspark.sql import Window

    top = pr.orderBy("priority", "doc_id").limit(200)
    w = Window.orderBy("priority", "doc_id")
    return top.withColumn(
        "sample_rank", F.row_number().over(w).cast("bigint")
    )


@register_extra(
    "gif_meta",
    r"""
    WITH d AS (
        SELECT doc_id,
               1 + doc_id % 21 AS w,
               1 + doc_id % 13 AS h,
               CASE WHEN length(text) = 0 THEN chr(0) ELSE text END AS seed
        FROM documents
    ),
    cyc AS (
        SELECT doc_id, w, h,
               substr(repeat(seed,
                             CAST((w * h + length(seed) - 1)
                                  // length(seed) AS INT)),
                      1, w * h) AS idxs
        FROM d
    ),
    px AS (
        -- palette row for index i is (i, 3i mod 256, 255-i): per-pixel
        -- byte sum = i + (3i mod 256) + (255 - i) = (3i mod 256) + 255
        SELECT doc_id, w, h, i,
               (3 * ord(substr(idxs, CAST(i AS INT), 1))) % 256 + 255 AS s
        FROM cyc, LATERAL (SELECT unnest(range(1, w * h + 1)) AS i)
    )
    SELECT doc_id,
           CAST(max(w) AS INT) AS width,
           CAST(max(h) AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(sum(s) AS BIGINT) AS px_byte_sum,
           CAST(sum((i - 1) * s) AS BIGINT) AS px_weighted_sum
    FROM px GROUP BY doc_id
    """,
)
def q_gif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode under the oracle gate (operators/gif.py, round 6):
    every doc gets a real GIF89a — LZW-compressed formula-palette frame,
    INTERLACED on odd ids — decoded through decode_image_features' magic
    dispatch.  Besides driver-predictable dims, two integer pixel folds
    pin the decode: ``px_byte_sum`` (order-free — wrong LZW output
    breaks it) and ``px_weighted_sum`` (position-weighted — a wrong
    interlace pass reordering breaks THIS one even when the byte
    multiset is right).  GIF is lossless, so both are exact formulas of
    (doc_id, text) the oracle computes without touching bytes."""
    import pandas as pd

    from ..operators.gif import make_gif
    from ..operators.multimodal import _spread, decode_any

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen_and_decode(it):
        for pdf in it:
            rows = []
            for r in pdf.to_dict("records"):
                did = int(r["doc_id"])
                payload = make_gif(
                    1 + did % 21,
                    1 + did % 13,
                    str(r["text"]).encode("utf-8"),
                    interlaced=(did % 2 == 1),
                )
                decoded = decode_any(payload)
                if decoded is None:
                    continue  # corrupt row quarantine: row vanishes
                w, h, c, px = decoded
                rows.append(
                    {
                        "doc_id": did,
                        "width": w,
                        "height": h,
                        "channels": c,
                        "px_byte_sum": sum(px),
                        "px_weighted_sum": sum(
                            (i // 3) * b for i, b in enumerate(px)
                        ),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_decode,
        "doc_id long, width int, height int, channels int, "
        "px_byte_sum long, px_weighted_sum long",
    )


@register_extra(
    "warc_corpus_scan",
    r"""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_records,
           'https://crawl.example/doc/' || CAST(doc_id AS VARCHAR)
               AS target_uri,
           CAST(200 AS BIGINT) AS http_status,
           CAST(length('<html><body><p>' || text || '</p></body></html>')
                AS BIGINT) AS body_len,
           md5('<html><body><p>' || text || '</p></body></html>')
               AS body_md5,
           doc_id % 2 = 1 AS gzipped
    FROM documents
    """,
)
def q_warc_corpus_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion (sources/warc.py, round 6): every doc rides a real
    WARC stream — warcinfo record + a response record whose raw HTTP
    message wraps the doc's HTML page; odd ids use the Common Crawl
    layout of one gzip MEMBER per record (the reader must loop members,
    not inflate once).  Record framing, WARC headers, HTTP status and
    the extracted body all come from the byte-level parse; the oracle
    predicts the body digest from the page construction alone, so a
    framing bug (wrong Content-Length handling, member mis-split,
    header/body boundary off-by-one) breaks the hash.  This is the
    ingestion edge of the Common Crawl chain (WARC -> HTML -> C4 ->
    dedup) whose downstream stages are oracled elsewhere."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import _spread
    from ..sources.warc import make_warc, parse_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for r in pdf.to_dict("records"):
                did = int(r["doc_id"])
                body = (
                    "<html><body><p>" + str(r["text"]) + "</p></body></html>"
                ).encode("utf-8")
                uri = f"https://crawl.example/doc/{did}"
                recs = parse_warc(
                    make_warc([(uri, body)], gzip_records=(did % 2 == 1))
                )
                resp = [x for x in recs if x["type"] == "response"][0]
                rows.append(
                    {
                        "doc_id": did,
                        "n_records": len(recs),
                        "target_uri": resp["target_uri"],
                        "http_status": resp["http_status"],
                        "body_len": len(resp["body"]),
                        "body_md5": hashlib.md5(resp["body"]).hexdigest(),
                        "gzipped": did % 2 == 1,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "doc_id long, n_records long, target_uri string, "
        "http_status long, body_len long, body_md5 string, gzipped boolean",
    )


@register_extra(
    "document_chunks",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, toks, len(toks) AS n,
               greatest(0, CAST(ceil((len(toks) - 64) / 48.0) AS INT))
                   AS last
        FROM t
    ),
    c AS (
        SELECT doc_id, toks, n, k AS chunk_index, k * 48 AS start_token
        FROM g, LATERAL (SELECT unnest(range(0, last + 1)) AS k)
    )
    SELECT doc_id,
           CAST(chunk_index AS BIGINT) AS chunk_index,
           CAST(start_token AS BIGINT) AS start_token,
           CAST(least(64, n - start_token) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[start_token + 1 : start_token + 64],
                               ' ')) AS chunk_md5
    FROM c
    """,
)
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG passage chunking (operators/chunking.py, round 7): 64-token
    windows, 16-token overlap (stride 48), final partial window kept —
    the document→passage transform of every retrieval pipeline, pure
    scan-local expressions.  The oracle regenerates the window grid and
    every chunk's digest; an off-by-one in the stride arithmetic or the
    slice bounds breaks the hash on every multi-chunk doc."""
    from ..operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=16)
    return out.select(
        "doc_id",
        "chunk_index",
        "start_token",
        "n_tokens",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
    )


@register_extra(
    "site_boilerplate_scrub",
    r"""
    WITH pages AS (
        SELECT doc_id, source AS site,
               'SITE ' || source || ' NAVIGATION MENU' || chr(10)
               || text || chr(10)
               || 'copyright ' || source || ' all rights reserved'
               || chr(10) || 'ref ' || doc_id AS page,
               text
        FROM documents
    )
    SELECT doc_id, site,
           CAST(4 AS BIGINT) AS n_lines_in,
           CAST(2 AS BIGINT) AS n_lines_kept,
           md5(text || chr(10) || 'ref ' || doc_id) AS clean_md5
    FROM pages
    """,
)
def q_site_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-template removal (operators/boilerplate.py, round 7): every
    doc's page carries its source-site's navigation header and copyright
    footer (within-site df = the site's whole doc count) plus the doc
    text and a doc-unique ref line (df = 1).  The scrub must drop
    exactly the two template lines per page — across every site — and
    reassemble the survivors in original order; the oracle predicts the
    cleaned digest from the construction alone."""
    from ..operators.boilerplate import scrub_boilerplate

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    page = F.concat(
        F.lit("SITE "), F.col("source"), F.lit(" NAVIGATION MENU\n"),
        F.col("text"),
        F.lit("\ncopyright "), F.col("source"),
        F.lit(" all rights reserved\nref "),
        F.col("doc_id").cast("string"),
    )
    pages = docs.select("doc_id", F.col("source").alias("site"), page.alias("page"))
    out = scrub_boilerplate(pages, "doc_id", "site", "page", min_site_df=5)
    return out.select(
        "doc_id",
        "site",
        "n_lines_in",
        "n_lines_kept",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


def _unicode_norm_sql() -> str:
    from ..functions.unicode_norm import (
        ASCII_FORMS,
        FULLWIDTH_FORMS,
        IDEOGRAPHIC_SPACE,
        INVISIBLES,
    )

    a = (ASCII_FORMS + " ").replace("'", "''")
    w = FULLWIDTH_FORMS + IDEOGRAPHIC_SPACE
    inv = INVISIBLES
    return f"""
    WITH noisy AS (
        SELECT doc_id,
               CAST(doc_id % 3 AS INT) AS variant,
               text,
               CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN translate(text, '{a}', '{w}')
                    WHEN 1 THEN replace(text, ' ', ' {inv[0]}{inv[7]}')
                    ELSE text END AS nt
        FROM documents
    )
    SELECT doc_id, variant,
           CAST(length(nt) AS BIGINT) AS n_chars_noisy,
           CAST(length(translate(regexp_replace(nt, '[{inv}]', '', 'g'),
                                 '{w}', '{a}')) AS BIGINT) AS n_chars_norm,
           md5(translate(regexp_replace(nt, '[{inv}]', '', 'g'),
                         '{w}', '{a}')) AS norm_md5,
           translate(regexp_replace(nt, '[{inv}]', '', 'g'),
                     '{w}', '{a}') = text AS norm_matches_original
    FROM noisy
    """


@register_extra("unicode_normalize_scan", _unicode_norm_sql())
def q_unicode_normalize_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode ingest normalization (functions/unicode_norm.py, round 7):
    a third of the docs are typeset in fullwidth forms (ＡＢＣ with
    ideographic spaces — the CJK-web mixture), a third carry zero-width
    spaces + soft hyphens after every space (copy-paste noise), and the
    pass — strip default-ignorables, fold widths, both scan-local
    expressions — must recover the original text EXACTLY (digest-pinned)
    in both engines.  Without this stage, exact-dedup fingerprints and
    token counts split on visually identical text."""
    from ..functions.unicode_norm import (
        ASCII_FORMS,
        FULLWIDTH_FORMS,
        IDEOGRAPHIC_SPACE,
        INVISIBLES,
        normalize_text,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.col("text")
    noisy = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.translate(
                t, ASCII_FORMS + " ", FULLWIDTH_FORMS + IDEOGRAPHIC_SPACE
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.regexp_replace(t, " ", f" {INVISIBLES[0]}{INVISIBLES[7]}"),
        )
        .otherwise(t)
    )
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("int").alias("variant"),
        "text",
        noisy.alias("nt"),
    )
    norm = normalize_text(F.col("nt"))
    return base.select(
        "doc_id",
        "variant",
        F.length("nt").cast("bigint").alias("n_chars_noisy"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        F.md5(norm.cast("binary")).alias("norm_md5"),
        (norm == F.col("text")).alias("norm_matches_original"),
    )


@register_extra(
    "warc_http_decoding_scan",
    r"""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'identity'
                WHEN 1 THEN 'chunked'
                ELSE 'gzip' END AS encoding,
           CAST(length('<p>' || text || '</p>') AS BIGINT) AS body_len,
           md5('<p>' || text || '</p>') AS body_md5
    FROM documents
    """,
)
def q_warc_http_decoding_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP transport decodings inside WARC captures (round 7): real
    crawls store the response bytes AS SENT — chunked transfer framing
    and gzip content-coding included — and the corpus pipeline must
    undo both before any text stage.  Docs cycle identity / chunked /
    gzip responses; the oracle predicts the DECODED body digest from
    the page construction alone, so a chunk-framing bug or a
    mis-negotiated content-coding breaks the hash."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import _spread
    from ..sources.warc import make_warc, parse_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for r in pdf.to_dict("records"):
                did = int(r["doc_id"])
                enc = [None, "chunked", "gzip"][did % 3]
                body = ("<p>" + str(r["text"]) + "</p>").encode("utf-8")
                recs = parse_warc(
                    make_warc(
                        [(f"https://crawl.example/{did}", body)],
                        http_encoding=enc,
                    )
                )
                resp = [x for x in recs if x["type"] == "response"][0]
                rows.append(
                    {
                        "doc_id": did,
                        "encoding": enc or "identity",
                        "body_len": len(resp["body"]),
                        "body_md5": hashlib.md5(resp["body"]).hexdigest(),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "doc_id long, encoding string, body_len long, body_md5 string",
    )


@register_extra(
    "warc_revisit_scan",
    r"""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
               AS n_records,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_revisits,
           CASE WHEN doc_id % 3 = 0
                THEN 'https://mirror.example/doc/' || CAST(doc_id AS VARCHAR)
                END AS revisit_uri,
           CASE WHEN doc_id % 3 = 0
                THEN 'https://crawl.example/doc/' || CAST(doc_id AS VARCHAR)
                END AS refers_to,
           doc_id % 3 = 0 AS refers_resolves
    FROM documents
    """,
)
def q_warc_revisit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ``revisit`` records (round 7): crawls mark content-identical
    re-fetches with revisit records instead of shipping the payload
    again — Common Crawl's ``identical-payload-digest`` profile is the
    source-side half of the dedup story, and a corpus scan must read the
    marker (``WARC-Refers-To-Target-URI``) to credit the duplicate to
    its original capture.  Every third doc's stream carries a mirror
    URI revisiting the doc's own response; the scan reports the marker
    and whether the referred-to capture resolves within the stream."""
    import pandas as pd

    from ..operators.multimodal import _spread
    from ..sources.warc import make_warc, parse_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for r in pdf.to_dict("records"):
                did = int(r["doc_id"])
                uri = f"https://crawl.example/doc/{did}"
                revisits = (
                    [(f"https://mirror.example/doc/{did}", uri)]
                    if did % 3 == 0
                    else []
                )
                recs = parse_warc(
                    make_warc(
                        [(uri, str(r["text"]).encode("utf-8"))],
                        gzip_records=(did % 2 == 1),
                        revisits=revisits,
                    )
                )
                seen = {
                    x["target_uri"] for x in recs if x["type"] == "response"
                }
                revs = [x for x in recs if x["type"] == "revisit"]
                rv = revs[0] if revs else None
                rows.append(
                    {
                        "doc_id": did,
                        "n_records": len(recs),
                        "n_revisits": len(revs),
                        "revisit_uri": rv["target_uri"] if rv else None,
                        "refers_to": rv["refers_to"] if rv else None,
                        "refers_resolves": (
                            rv["refers_to"] in seen if rv else False
                        ),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "doc_id long, n_records long, n_revisits long, revisit_uri string, "
        "refers_to string, refers_resolves boolean",
    )


@register_extra(
    "archive_corpus_scan",
    r"""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_members,
           'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS text_member,
           CAST(length(text) AS BIGINT) AS text_len,
           md5(text) AS text_md5,
           md5('{"doc_id": ' || CAST(doc_id AS VARCHAR) || '}') AS meta_md5,
           CASE WHEN doc_id % 3 = 0 THEN 'tar'
                WHEN doc_id % 3 = 1 THEN 'zip-deflate'
                ELSE 'zip-stored' END AS container
    FROM documents
    """,
)
def q_archive_corpus_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive ingestion (sources/archives.py, round 6): each doc rides
    a real container — ustar TAR (checksummed 512-byte headers) on
    doc_id%3==0, deflated ZIP (central-directory walk + raw-inflate +
    CRC verify) on 1, stored ZIP on 2 — holding its text plus a JSON
    metadata member.  Extracted member digests must match the oracle's
    formula-predicted ones, so octal-field, block-rounding,
    local-header-offset or CRC bugs all break the hash."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import _spread
    from ..sources.archives import make_tar, make_zip, parse_tar, parse_zip

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for r in pdf.to_dict("records"):
                did = int(r["doc_id"])
                text = str(r["text"]).encode("utf-8")
                meta = f'{{"doc_id": {did}}}'.encode("ascii")
                members = [
                    (f"docs/{did}.txt", text),
                    (f"meta/{did}.json", meta),
                ]
                kind = did % 3
                if kind == 0:
                    got = parse_tar(make_tar(members))
                    container = "tar"
                else:
                    got = parse_zip(make_zip(members, deflate=(kind == 1)))
                    container = "zip-deflate" if kind == 1 else "zip-stored"
                by_name = dict(got)
                rows.append(
                    {
                        "doc_id": did,
                        "n_members": len(got),
                        "text_member": f"docs/{did}.txt",
                        "text_len": len(by_name[f"docs/{did}.txt"]),
                        "text_md5": hashlib.md5(
                            by_name[f"docs/{did}.txt"]
                        ).hexdigest(),
                        "meta_md5": hashlib.md5(
                            by_name[f"meta/{did}.json"]
                        ).hexdigest(),
                        "container": container,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "doc_id long, n_members long, text_member string, text_len long, "
        "text_md5 string, meta_md5 string, container string",
    )


_ROBOTS_FIXTURE = """
# corpus crawler policy
User-agent: googlebot
Disallow: /private/

User-agent: *
Disallow: /admin/
Disallow: /search
Allow: /search/about
Disallow: /*.pdf$
Allow: /archive/*/public
Disallow: /archive/
"""


@register_extra(
    "robots_url_filter",
    r"""
    SELECT doc_id,
           CASE doc_id % 8
               WHEN 0 THEN '/index.html'
               WHEN 1 THEN '/admin/p' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN '/search'
               WHEN 3 THEN '/search/about'
               WHEN 4 THEN '/doc/f' || CAST(doc_id AS VARCHAR) || '.pdf'
               WHEN 5 THEN '/doc/f' || CAST(doc_id AS VARCHAR) || '.pdfx'
               WHEN 6 THEN '/archive/' || CAST(doc_id AS VARCHAR) || '/public'
               ELSE '/archive/' || CAST(doc_id AS VARCHAR) || '/secret'
           END AS path,
           doc_id % 8 IN (0, 3, 5, 6) AS allowed
    FROM documents
    """,
)
def q_robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filtering (operators/robots.py, RFC 9309):
    the fixture policy exercises prefix rules, the allow-overrides-
    disallow longest-match precedence, ``*`` wildcards and the ``$``
    end anchor; per-doc paths cover all eight rule outcomes and the
    verdicts come from the compiled rlike chain — a wrong precedence
    order, wildcard translation, or anchor handling flips a class and
    breaks the hash.  Rules stay driver-side (broadcast-tiny); the URL
    column never leaves the scan."""
    from ..operators.robots import allowed_column, parse_robots

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 8
    did = F.col("doc_id").cast("string")
    path = (
        F.when(m == 0, F.lit("/index.html"))
        .when(m == 1, F.concat(F.lit("/admin/p"), did))
        .when(m == 2, F.lit("/search"))
        .when(m == 3, F.lit("/search/about"))
        .when(m == 4, F.concat(F.lit("/doc/f"), did, F.lit(".pdf")))
        .when(m == 5, F.concat(F.lit("/doc/f"), did, F.lit(".pdfx")))
        .when(m == 6, F.concat(F.lit("/archive/"), did, F.lit("/public")))
        .otherwise(F.concat(F.lit("/archive/"), did, F.lit("/secret")))
    )
    rules = parse_robots(_ROBOTS_FIXTURE)
    return docs.select(
        "doc_id",
        path.alias("path"),
        allowed_column(rules, path).alias("allowed"),
    )


@register_extra(
    "pdf_text_extract",
    r"""
    WITH chunked AS (
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN '' ELSE text END AS t,
               CASE WHEN length(text) = 0 THEN 1
                    ELSE (length(text) + 59) // 60 END AS n_lines
        FROM documents
    )
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_runs,
           CAST(length(t) AS BIGINT) AS n_chars,
           md5(t) AS text_md5,
           doc_id % 2 = 0 AS compressed
    FROM chunked
    """,
)
def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (operators/pdftext.py, round 6): each doc is
    typeset into a real single-page PDF — its text split into 60-char
    lines shown via alternating Tj strings and TJ arrays with full
    escape handling, content streams FlateDecode-compressed on even
    ids — then extracted back through the object walk + inflate + text
    operators.  The oracle predicts run count and the md5 of the
    reassembled text from the chunking formula alone: an escaping,
    framing, inflate, or operator-classification bug breaks the hash."""
    import hashlib

    import pandas as pd

    from ..operators.multimodal import _spread
    from ..operators.pdftext import extract_pdf_text, make_pdf

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen_and_extract(it):
        for pdf_batch in it:
            rows = []
            for r in pdf_batch.to_dict("records"):
                did = int(r["doc_id"])
                text = str(r["text"])
                lines = [text[i : i + 60] for i in range(0, len(text), 60)] or [""]
                runs = extract_pdf_text(
                    make_pdf(lines, compress=(did % 2 == 0))
                )
                joined = "".join(runs)
                rows.append(
                    {
                        "doc_id": did,
                        "n_runs": len(runs),
                        "n_chars": len(joined),
                        "text_md5": hashlib.md5(
                            joined.encode("utf-8")
                        ).hexdigest(),
                        "compressed": did % 2 == 0,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_extract,
        "doc_id long, n_runs long, n_chars long, text_md5 string, "
        "compressed boolean",
    )


@register_extra(
    "warc_html_text_pipeline",
    r"""
    WITH e AS (
        SELECT doc_id,
               trim(regexp_replace(text || ' See link text .',
                                   '[ \t\n\x0B\f\r]+', ' ', 'g')) AS mt
        FROM documents
    )
    SELECT doc_id,
           md5(mt) AS main_md5,
           CAST(length(mt) AS BIGINT) AS main_len,
           CAST(9 AS BIGINT) AS link_chars,
           CAST(9000000 // greatest(length(mt), 1) AS BIGINT)
               AS link_density_micros
    FROM e
    """,
)
def q_warc_html_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl chain end to end, hash-checked: WARC record
    framing (sources/warc.py, gzip members on odd ids) → raw HTTP body →
    HTML boilerplate removal + link-density signal (operators/html.py:
    script/nav blocks dropped WITH their anchors, surviving anchor text
    measured, tags stripped, whitespace collapsed).  The page wraps the
    doc text with a script, a nav (whose link must NOT count), and one
    real content link; the oracle recomputes the extracted prose and
    the exact link accounting from the construction alone."""
    import pandas as pd

    from ..operators.html import html_extract_text
    from ..operators.multimodal import _spread
    from ..sources.warc import make_warc, parse_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def warc_bodies(it):
        for pdf in it:
            rows = []
            for r in pdf.to_dict("records"):
                did = int(r["doc_id"])
                page = (
                    "<html><head><script>var x=1;</script></head><body>"
                    '<nav><a href="/">home</a></nav><p>'
                    + str(r["text"])
                    + '</p><p>See <a href="/x">link text</a>.</p>'
                    "</body></html>"
                ).encode("utf-8")
                recs = parse_warc(
                    make_warc(
                        [(f"https://c.example/{did}", page)],
                        gzip_records=(did % 2 == 1),
                    )
                )
                body = [x for x in recs if x["type"] == "response"][0]["body"]
                rows.append(
                    {"doc_id": did, "html": body.decode("utf-8")}
                )
            if rows:
                yield pd.DataFrame(rows)

    pages = _spread(docs, "doc_id").mapInPandas(
        warc_bodies, "doc_id long, html string"
    )
    out = html_extract_text(pages, "doc_id", "html")
    return out.select(
        "doc_id",
        F.md5(F.col("main_text").cast("binary")).alias("main_md5"),
        "main_len",
        "link_chars",
        F.expr(
            "cast(link_chars * 1000000L div greatest(main_len, 1L) as bigint)"
        ).alias("link_density_micros"),
    )


@register_extra(
    "srt_transcripts",
    r"""
    WITH chunks AS (
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN 1
                    ELSE (length(text) + 39) // 40 END AS n_cues,
               CASE WHEN length(text) = 0 THEN '' ELSE text END AS t
        FROM documents
    ),
    per AS (
        -- cue text is the RAW 40-char chunk (the parser keeps line
        -- content verbatim); an all-whitespace chunk yields '' (its
        -- line is filtered before slicing)
        SELECT doc_id, n_cues, k,
               CASE WHEN trim(substr(t, 1 + CAST(k AS INT) * 40, 40)) = ''
                    THEN ''
                    ELSE substr(t, 1 + CAST(k AS INT) * 40, 40) END
                   AS cue_text
        FROM chunks, LATERAL (SELECT unnest(range(0, n_cues)) AS k)
    )
    SELECT doc_id,
           CAST(max(n_cues) AS BIGINT) AS n_cues,
           CAST(max(n_cues) * 1500 AS BIGINT) AS covered_ms,
           md5(string_agg(cue_text, ' ' ORDER BY k)) AS transcript_md5
    FROM per GROUP BY doc_id
    """,
)
def q_srt_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle-transcript ingestion (operators/subtitles.py, round 6):
    each doc is typeset into a real SRT — its text in 40-char cues with
    formula timecodes (start = i*1700ms, 1500ms long, crossing minute
    and ms-digit boundaries) — then parsed back by the pure-column cue
    expressions and reassembled.  The oracle reconstructs the cue
    chunking analytically; a timecode-grammar, block-split, or
    line-slicing bug breaks cue counts, covered time, or the transcript
    digest (cues rejoined in start order, mirrored by the
    oracle's construction index)."""
    import pandas as pd  # noqa: F401  (mapInPandas-free: pure columns)

    from ..operators.subtitles import srt_cues, srt_transcript

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _tc(ms):
        h = ms / 3_600_000
        return F.format_string(
            "%02d:%02d:%02d,%03d",
            (ms / 3_600_000).cast("int"),
            ((ms / 60_000) % 60).cast("int"),
            ((ms / 1000) % 60).cast("int"),
            (ms % 1000).cast("int"),
        )

    n_cues = F.when(F.length("text") == 0, 1).otherwise(
        F.ceil(F.length("text") / 40).cast("int")
    )
    k = F.sequence(F.lit(0), n_cues - 1)
    cue_blocks = F.transform(
        k,
        lambda i: F.concat(
            (i + 1).cast("string"),
            F.lit("\n"),
            _tc(i.cast("long") * 1700),
            F.lit(" --> "),
            _tc(i.cast("long") * 1700 + 1500),
            F.lit("\n"),
            F.substring(F.col("text"), (i * 40 + 1).cast("int"), 40),
        ),
    )
    srt = docs.select(
        "doc_id", F.array_join(cue_blocks, "\n\n").alias("srt")
    )
    out = srt_transcript(srt_cues(srt, "doc_id", "srt"))
    return out.select(
        "doc_id",
        "n_cues",
        "covered_ms",
        F.md5(F.col("transcript").cast("binary")).alias("transcript_md5"),
    )


@register_extra(
    "markdown_to_text",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(
               'Title ' || CAST(doc_id AS VARCHAR)
               || ' Some bold and it text. item one link text here quote line '
               || text,
               '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS prose_md5,
           CAST(length(trim(regexp_replace(
               'Title ' || CAST(doc_id AS VARCHAR)
               || ' Some bold and it text. item one link text here quote line '
               || text,
               '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS BIGINT) AS prose_len
    FROM documents
    """,
)
def q_markdown_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown prose extraction (operators/markdown.py): each doc is
    wrapped in a markdown page exercising every rule — header, bold,
    italics, bullet, link (target must vanish, anchor survive), fenced
    code block (dropped whole), blockquote, horizontal rule — and the
    regexp chain must recover exactly the analytic prose the oracle
    reconstructs.  A greedy fence regex, a link rule that keeps the
    URL, or an unanchored header strip each corrupts the digest."""
    from ..operators.markdown import markdown_to_text

    docs = load_table(spark, sf_dir, "documents")
    md = F.concat(
        F.lit("# Title "), F.col("doc_id").cast("string"),
        F.lit("\n\nSome **bold** and *it* text.\n\n- item one\n- "
              "[link text](http://target.example/x) here\n\n"
              "```\ncode to drop\n```\n\n> quote line\n\n---\n\n"),
        F.col("text"),
    )
    prose = markdown_to_text(md)
    return docs.select(
        "doc_id",
        F.md5(prose.cast("binary")).alias("prose_md5"),
        F.length(prose).cast("bigint").alias("prose_len"),
    )


@register_extra(
    "sentence_stats",
    r"""
    WITH src AS (
        -- multi-sentence page: an abbreviation trap, a decimal trap,
        -- three real boundaries with different terminators
        SELECT doc_id,
               'Dr. Smith met Mrs. Jones at 3.5 km. '
               || substr(text, 1, 60)
               || '. Then what happened next was loud! '
               || substr(text, 61, 60) || '? The end.' AS page
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(
                       regexp_replace(
                           regexp_replace(page,
                               '\b(Mr|Mrs|Dr|St|vs|etc|e\.g|i\.e)\.',
                               '\1<DOT>', 'g'),
                           '([0-9])\.([0-9])', '\1<DOT>\2', 'g'),
                       '[.!?]+[ \t]+'),
                   s -> trim(s) <> '') AS sents
        FROM src
    ),
    t AS (
        SELECT doc_id,
               len(sents) AS n_sentences,
               list_transform(sents,
                   s -> len(list_filter(
                            string_split_regex(trim(s), '[ \t]+'),
                            w -> w <> ''))) AS tok_counts
        FROM g
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(CASE WHEN n_sentences = 0 THEN 0
                ELSE list_sum(tok_counts) * 1000 // n_sentences END
                AS BIGINT) AS avg_sentence_tokens_milli,
           CAST(coalesce(list_max(tok_counts), 0) AS BIGINT)
               AS max_sentence_tokens
    FROM t
    """,
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats — the quality signal family's
    sentence-granularity member (very long or very short average
    sentences flag boilerplate/OCR noise).  Lookarounds are off the
    table (the oracle dialect is RE2), so abbreviations are protected
    by a <DOT> substitution before the terminal-punctuation split and
    the whole stage stays one scan-local expression chain, exact
    integers out."""
    docs = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("Dr. Smith met Mrs. Jones at 3.5 km. "),
        F.substring("text", 1, 60),
        F.lit(". Then what happened next was loud! "),
        F.substring("text", 61, 60),
        F.lit("? The end."),
    )
    t = F.regexp_replace(
        page, r"\b(Mr|Mrs|Dr|St|vs|etc|e\.g|i\.e)\.", "$1<DOT>"
    )
    t = F.regexp_replace(t, r"([0-9])\.([0-9])", "$1<DOT>$2")
    sents = F.filter(
        F.split(t, r"[.!?]+[ \t]+"), lambda s: F.trim(s) != ""
    )
    toks = F.transform(
        sents,
        lambda s: F.size(
            F.filter(F.split(F.trim(s), r"[ \t]+"), lambda w: w != "")
        ).cast("long"),
    )
    n = F.size(sents).cast("long")
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + x)
    return docs.select(
        "doc_id",
        n.alias("__n"),
        total.alias("__total"),
        F.coalesce(F.array_max(toks), F.lit(0))
        .cast("bigint")
        .alias("max_sentence_tokens"),
    ).select(
        "doc_id",
        F.col("__n").alias("n_sentences"),
        F.when(F.col("__n") == 0, F.lit(0))
        .otherwise(F.expr("__total * 1000L div __n"))
        .cast("bigint")
        .alias("avg_sentence_tokens_milli"),
        "max_sentence_tokens",
    )


@register_extra(
    "pb_log_scan",
    """
    WITH d AS (
        SELECT doc_id, 3 + doc_id % 5 AS n FROM documents
    ),
    f AS (
        SELECT doc_id, n,
               sum(doc_id * 1000 + k * 37) AS sum_ts,
               sum((k - 2) * (1 + doc_id % 89)) AS sum_delta,
               count(DISTINCT (doc_id + k) % 4) AS distinct_users,
               sum((doc_id + 3 * k) % 17) AS payload_bytes,
               sum((doc_id * 2654435761 + k * 97) % 4294967296)
                   AS checksum_sum,
               sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS n_nested,
               sum(CASE WHEN k % 3 = 0 THEN doc_id % 97 + k END)
                   AS nested_sum
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS k)
        GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_records,
           CAST(sum_ts AS BIGINT) AS sum_ts,
           CAST(sum_delta AS BIGINT) AS sum_delta,
           CAST(distinct_users AS BIGINT) AS distinct_users,
           CAST(payload_bytes AS BIGINT) AS payload_bytes,
           CAST(checksum_sum AS BIGINT) AS checksum_sum,
           CAST(n_nested AS BIGINT) AS n_nested,
           CAST(nested_sum AS BIGINT) AS nested_sum
    FROM f
    """,
)
def q_pb_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format log scan (operators/pbwire.py): per doc a
    real length-prefixed stream of LogRecord messages — multi-byte
    varints, BOTH-SIGN zigzag deltas, utf-8 strings, fixed32
    little-endian checksums, nested submessages, unknown-field skip —
    decoded schema-light by wire type.  The oracle replays every field
    formula; a zigzag sign-extension bug or varint continuation error
    mismatches sum_delta/sum_ts on most rows."""
    import pandas as pd

    from ..operators.pbwire import make_pb_log, parse_pb_stream
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 3 + did % 5
                recs = []
                for j in range(n):
                    r = {
                        "ts": did * 1000 + j * 37,
                        "user": f"u{(did + j) % 4}",
                        "delta": (j - 2) * (1 + did % 89),
                        "payload": bytes((did + i) % 251
                                         for i in range((did + 3 * j) % 17)),
                        "checksum": (did * 2654435761 + j * 97)
                        % 4294967296,
                    }
                    if j % 3 == 0:
                        r["nested"] = did % 97 + j
                    recs.append(r)
                m = parse_pb_stream(make_pb_log(recs))
                m["doc_id"] = did
                rows.append(m)
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "n_records long, sum_ts long, sum_delta long, "
        "distinct_users long, payload_bytes long, checksum_sum long, "
        "n_nested long, nested_sum long, doc_id long",
    )


@register_extra(
    "avro_container_scan",
    """
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 1 THEN 'deflate' ELSE 'null' END
                   AS codec,
               CAST(1 + doc_id % 3 AS BIGINT) AS n_blocks
        FROM documents
    ),
    sizes AS (
        SELECT doc_id, sum(1 + (doc_id + b) % 4) AS g
        FROM d, LATERAL (SELECT unnest(range(0, n_blocks)) AS b)
        GROUP BY 1
    ),
    recs AS (
        SELECT d.doc_id,
               sum(d.doc_id * 100 + i * 7) AS sum_id,
               sum(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END)
                   AS n_null_scores,
               sum(CASE WHEN i % 3 <> 0 THEN d.doc_id % 50 + i
                        ELSE 0 END) AS sum_score,
               sum(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END) AS n_flags,
               count(DISTINCT (d.doc_id + i) % 5) AS distinct_users
        FROM d JOIN sizes s USING (doc_id),
             LATERAL (SELECT unnest(range(0, CAST(s.g AS BIGINT))) AS i)
        GROUP BY 1
    )
    SELECT d.doc_id, d.codec, d.n_blocks,
           CAST(s.g AS BIGINT) AS n_records,
           CAST(r.sum_id AS BIGINT) AS sum_id,
           CAST(r.n_null_scores AS BIGINT) AS n_null_scores,
           CAST(r.sum_score AS BIGINT) AS sum_score,
           CAST(r.n_flags AS BIGINT) AS n_flags,
           CAST(r.distinct_users AS BIGINT) AS distinct_users
    FROM d JOIN sizes s USING (doc_id) JOIN recs r USING (doc_id)
    """,
)
def q_avro_container_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OCF walk (operators/avrocf.py): per doc a real object
    container file — zigzag-varint longs (negative ids exercised in
    unit tests), count-blocked metadata map, nullable-union scores,
    per-block sync-marker equality, and raw-DEFLATE blocks on half the
    docs (RFC 1951, no zlib wrapper — the classic interop trap) —
    decoded against the embedded JSON schema.  The oracle replays the
    record formulas; a zigzag, union-branch, or block-framing bug
    mismatches sums on most rows."""
    import pandas as pd

    from ..operators.avrocf import make_avro, parse_avro
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    schema = {
        "type": "record",
        "name": "LogRow",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "user", "type": "string"},
            {"name": "score", "type": ["null", "long"]},
            {"name": "flag", "type": "boolean"},
        ],
    }

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                codec = "deflate" if did % 2 else "null"
                nb = 1 + did % 3
                blocks, g = [], 0
                for b in range(nb):
                    m = 1 + (did + b) % 4
                    recs = []
                    for _ in range(m):
                        recs.append(
                            {
                                "id": did * 100 + g * 7,
                                "user": f"u{(did + g) % 5}",
                                "score": None
                                if g % 3 == 0
                                else did % 50 + g,
                                "flag": g % 2 == 0,
                            }
                        )
                        g += 1
                    blocks.append(recs)
                m = parse_avro(make_avro(schema, blocks, codec=codec))
                rs = m["records"]
                rows.append(
                    {
                        "doc_id": did,
                        "codec": m["codec"],
                        "n_blocks": m["n_blocks"],
                        "n_records": m["n_records"],
                        "sum_id": sum(r["id"] for r in rs),
                        "n_null_scores": sum(
                            1 for r in rs if r["score"] is None
                        ),
                        "sum_score": sum(
                            r["score"] or 0 for r in rs
                        ),
                        "n_flags": sum(1 for r in rs if r["flag"]),
                        "distinct_users": len(
                            {r["user"] for r in rs}
                        ),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "doc_id long, codec string, n_blocks long, n_records long, "
        "sum_id long, n_null_scores long, sum_score long, "
        "n_flags long, distinct_users long",
    )


@register_extra(
    "readability_scores",
    """
    WITH f AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS syllables,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                    AS BIGINT) AS words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences
        FROM documents
    )
    SELECT doc_id, syllables, words, sentences,
           CAST(206835000
                - 1015000 * words // sentences
                - 84600000 * syllables // words AS BIGINT)
               AS flesch_micros,
           CAST(390000 * words // sentences
                + 11800000 * syllables // words
                - 15590000 AS BIGINT) AS fk_grade_micros
    FROM f WHERE words > 0
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document (the
    classic readability pair, Kincaid et al. 1975) as EXACT integer
    micros: vowel-group syllable heuristic, [a-z]+ word count,
    [.!?]+ sentence groups (floor 1), and the published coefficients
    applied by integer floor division in a fixed term order — the
    convention both engines share verbatim, so scores hash-match.
    Complements the quality/Gopher filters: scan-local expressions
    only, no shuffle beyond the parquet read."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        F.size(
            F.expr(
                "regexp_extract_all(lower(text), '[aeiouy]+', 0)"
            )
        )
        .cast("long")
        .alias("syllables"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        )
        .cast("long")
        .alias("words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
            F.lit(1),
        )
        .cast("long")
        .alias("sentences"),
    ).where(F.col("words") > 0)
    return f.select(
        "doc_id",
        "syllables",
        "words",
        "sentences",
        F.expr(
            "cast(206835000 - 1015000 * words div sentences"
            " - 84600000 * syllables div words as bigint)"
        ).alias("flesch_micros"),
        F.expr(
            "cast(390000 * words div sentences"
            " + 11800000 * syllables div words"
            " - 15590000 as bigint)"
        ).alias("fk_grade_micros"),
    )


@register_extra(
    "sitemap_scan",
    """
    SELECT doc_id,
           CAST(k AS BIGINT) AS url_rank,
           'https://site' || CAST(doc_id % 50 AS VARCHAR)
               || '.example/page' || CAST(doc_id * 7 + k AS VARCHAR)
               AS loc,
           'site' || CAST(doc_id % 50 AS VARCHAR) || '.example' AS host,
           '2024-01-' || CASE WHEN 1 + (doc_id + k) % 28 < 10
                              THEN '0' ELSE '' END
               || CAST(1 + (doc_id + k) % 28 AS VARCHAR) AS lastmod,
           CAST(5 + (doc_id + k) % 5 AS BIGINT) AS priority_deci
    FROM documents,
         LATERAL (SELECT unnest(range(0, 1 + doc_id % 5)) AS k)
    """,
)
def q_sitemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (sitemaps.org XML protocol — the crawl
    frontier's seed format): the query BUILDS a real urlset document
    per doc and then PARSES it back with scan-local regexp extraction
    only — loc/lastmod/priority lists, posexplode to one row per URL,
    host split from the loc, priority as exact deci-units.  No Python
    anywhere; the oracle emits the formula truth, so any extraction
    or ordering bug in the parse mismatches per-URL rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    url = (
        "concat('<url><loc>https://site', cast(doc_id % 50 as string),"
        " '.example/page', cast(doc_id * 7 + k as string),"
        " '</loc><lastmod>2024-01-',"
        " lpad(cast(1 + (doc_id + k) % 28 as string), 2, '0'),"
        " '</lastmod><priority>0.',"
        " cast(5 + (doc_id + k) % 5 as string),"
        " '</priority></url>')"
    )
    xml = docs.select(
        "doc_id",
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.expr(
                "concat_ws('', transform(sequence(0, doc_id % 5),"
                f" k -> {url}))"
            ),
            F.lit("</urlset>"),
        ).alias("xml"),
    )
    parsed = xml.select(
        "doc_id",
        F.expr(
            "regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1)"
        ).alias("locs"),
        F.expr(
            "regexp_extract_all(xml, '<lastmod>([^<]+)</lastmod>', 1)"
        ).alias("mods"),
        F.expr(
            "regexp_extract_all(xml, '<priority>0\\\\.([0-9])</priority>', 1)"
        ).alias("prios"),
    )
    rows = parsed.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip("locs", "mods", "prios")
        ).alias("url_rank", "z"),
    )
    return rows.select(
        "doc_id",
        F.col("url_rank").cast("long").alias("url_rank"),
        F.col("z.locs").alias("loc"),
        F.regexp_extract(F.col("z.locs"), "^https://([^/]+)/", 1).alias(
            "host"
        ),
        F.col("z.mods").alias("lastmod"),
        F.col("z.prios").cast("long").alias("priority_deci"),
    )


@register_extra(
    "compressed_text_scan",
    """
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'gzip' WHEN 1 THEN 'bz2'
                WHEN 2 THEN 'xz' ELSE 'zstd' END AS codec,
           CAST(length(text) AS BIGINT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    """,
)
def q_compressed_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-codec compressed ingestion: each doc's text round-trips
    through a REAL codec (gzip / bz2 / xz by stdlib, zstd ENCODED by
    pyarrow's reference implementation and DECODED by this repo's own
    RFC 8878 decoder — operators/zstd.py), and the reader sniffs the
    format from the container magic (1f8b / BZh / fd377a585a00 /
    28b52ffd) before decompressing — the crawl-dump reality where a
    directory mixes .gz, .bz2, .xz and .zst shards.  The oracle pins
    the decompressed text digest against the source column, so a codec
    mix-up, truncated stream, or sniffing bug mismatches rows.
    Unrecognized magic raises for the standard quarantine path."""
    import bz2
    import gzip
    import hashlib
    import lzma

    import pandas as pd

    from ..operators.multimodal import _spread
    from ..operators.zstd import zstd_decompress

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def sniff_and_read(payload: bytes) -> bytes:
        if payload[:2] == b"\x1f\x8b":
            return gzip.decompress(payload)
        if payload[:3] == b"BZh":
            return bz2.decompress(payload)
        if payload[:6] == b"\xfd7zXZ\x00":
            return lzma.decompress(payload)
        if payload[:4] == b"\x28\xb5\x2f\xfd":
            return zstd_decompress(payload)
        raise ValueError(
            f"unrecognized compression magic {payload[:6]!r}"
        )

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                raw = str(text).encode("utf-8")
                codec = ["gzip", "bz2", "xz", "zstd"][did % 4]
                if codec == "zstd":
                    import pyarrow as pa

                    comp = pa.Codec("zstd").compress(raw, asbytes=True)
                else:
                    comp = {
                        "gzip": gzip.compress,
                        "bz2": bz2.compress,
                        "xz": lzma.compress,
                    }[codec](raw)
                back = sniff_and_read(comp)
                if back != raw:
                    raise ValueError(f"roundtrip mismatch doc {did}")
                rows.append(
                    {
                        "doc_id": did,
                        "codec": codec,
                        "n_chars": len(str(text)),
                        "text_md5": hashlib.md5(back).hexdigest(),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "doc_id long, codec string, n_chars long, text_md5 string",
    )


@register_extra(
    "uuid7_time_scan",
    """
    WITH u AS (
        SELECT doc_id,
               lpad(lower(hex(1700000000000 + doc_id * 977)), 12, '0')
                   AS h12,
               md5('u7:' || doc_id) AS r
        FROM documents
    ),
    made AS (
        SELECT doc_id,
               substr(h12, 1, 8) || '-' || substr(h12, 9, 4)
               || '-7' || substr(r, 1, 3)
               || '-8' || substr(r, 4, 3)
               || '-' || substr(r, 7, 12) AS uuid
        FROM u
    )
    SELECT doc_id, uuid,
           CAST(('0x' || substr(uuid, 1, 8) || substr(uuid, 10, 4))
                ::BIGINT AS BIGINT) AS ts_ms,
           CAST(CASE WHEN substr(uuid, 15, 1) = '7'
                     THEN 1 ELSE 0 END AS BIGINT) AS version_ok,
           CAST(CASE WHEN substr(uuid, 20, 1) IN ('8','9','a','b')
                     THEN 1 ELSE 0 END AS BIGINT) AS variant_ok,
           CAST(epoch_ms(('0x' || substr(uuid, 1, 8)
                          || substr(uuid, 10, 4))::BIGINT)
                AS DATE) AS event_date
    FROM made
    """,
)
def q_uuid7_time_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UUIDv7 time extraction (RFC 9562): build a spec-shaped v7 UUID
    per doc (48-bit unix-ms prefix, version nibble 7, variant 10) from
    deterministic hex, then PARSE the timestamp, version and variant
    back — entirely scan-local string expressions in BOTH engines (no
    Python, no UDF).  Time-ordered ids are the modern event-log key;
    extracting their embedded time without a generator library is the
    engine-side skill this pins, byte-for-byte against the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    u = docs.select(
        "doc_id",
        F.lpad(
            F.lower(F.hex(F.lit(1_700_000_000_000) + F.col("doc_id") * 977)),
            12,
            "0",
        ).alias("h12"),
        F.md5(F.concat(F.lit("u7:"), F.col("doc_id").cast("string")).cast("binary")).alias("r"),
    )
    made = u.select(
        "doc_id",
        F.concat(
            F.substring("h12", 1, 8), F.lit("-"),
            F.substring("h12", 9, 4),
            F.lit("-7"), F.substring("r", 1, 3),
            F.lit("-8"), F.substring("r", 4, 3),
            F.lit("-"), F.substring("r", 7, 12),
        ).alias("uuid"),
    )
    ms = F.conv(
        F.concat(F.substring("uuid", 1, 8), F.substring("uuid", 10, 4)),
        16,
        10,
    ).cast("long")
    return made.select(
        "doc_id",
        "uuid",
        ms.alias("ts_ms"),
        (F.substring("uuid", 15, 1) == "7").cast("long").alias(
            "version_ok"
        ),
        F.substring("uuid", 20, 1)
        .isin("8", "9", "a", "b")
        .cast("long")
        .alias("variant_ok"),
        F.to_date(F.timestamp_millis(ms)).alias("event_date"),
    )


# nine capture groups max: DuckDB regexp_extract rejects index > 9,
# so the timestamp bracket and protocol are non-capturing
_CLF_RX = (
    r'^(\S+) \S+ (\S+) \[(?:[^\]]+)\] '
    r'"([A-Z]+) ([^ "]+) (?:[^"]+)" (\d{3}) (\d+|-) '
    r'"([^"]*)" "([^"]*)"$'
)


@register_extra(
    "access_log_scan",
    r"""
    WITH lines AS (
        SELECT doc_id,
               '198.51.' || CAST(doc_id % 200 AS VARCHAR) || '.'
               || CAST(doc_id % 250 AS VARCHAR)
               || ' - user' || CAST(doc_id % 40 AS VARCHAR)
               || ' [0' || CAST(1 + doc_id % 9 AS VARCHAR)
               || '/Jan/2024:12:34:56 +0000] "'
               || (['GET','POST','PUT'])[1 + doc_id % 3]
               || ' /p/' || CAST(doc_id * 7 % 500 AS VARCHAR)
               || '?q=' || CAST(doc_id % 10 AS VARCHAR)
               || ' HTTP/1.1" '
               || CAST(([200, 200, 404, 500, 301])[1 + doc_id % 5]
                       AS VARCHAR)
               || ' ' || CASE WHEN doc_id % 7 = 0 THEN '-'
                              ELSE CAST(100 + doc_id % 9000 AS VARCHAR)
                         END
               || ' "https://ref' || CAST(doc_id % 6 AS VARCHAR)
               || '.example/x" "Mozilla/5.0 (bot'
               || CAST(doc_id % 4 AS VARCHAR) || ')"' AS line
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(line, '{rx}', 1) AS ip,
           regexp_extract(line, '{rx}', 2) AS user,
           regexp_extract(line, '{rx}', 3) AS method,
           regexp_extract(line, '{rx}', 4) AS path,
           CAST(regexp_extract(line, '{rx}', 5) AS BIGINT) AS status,
           CAST(CASE WHEN regexp_extract(line, '{rx}', 6) = '-'
                     THEN 0
                     ELSE CAST(regexp_extract(line, '{rx}', 6)
                               AS BIGINT) END AS BIGINT) AS bytes,
           regexp_extract(regexp_extract(line, '{rx}', 7),
                          '^https://([^/]+)/', 1) AS referer_host,
           CAST(CASE WHEN regexp_extract(line, '{rx}', 8)
                          LIKE '%bot%' THEN 1 ELSE 0 END AS BIGINT)
               AS is_bot
    FROM lines
    """.replace("{rx}", _CLF_RX),
)
def q_access_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache combined access-log parsing (the CLF/combined format of
    httpd/nginx docs): build a spec-shaped log line per doc, then
    extract ip/user/method/path/status/bytes/referer-host/bot-flag
    with ONE anchored regex — scan-local in both engines, '-' byte
    counts coerced to 0, referer host split in a second pass.  The
    web-analytics front door the reference's log_analyze.py implies;
    a group-numbering or anchoring bug mismatches every row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    methods = F.array(F.lit("GET"), F.lit("POST"), F.lit("PUT"))
    statuses = F.array(*[F.lit(s) for s in [200, 200, 404, 500, 301]])
    line = F.concat(
        F.lit("198.51."), (d % 200).cast("string"), F.lit("."),
        (d % 250).cast("string"),
        F.lit(" - user"), (d % 40).cast("string"),
        F.lit(" [0"), (1 + d % 9).cast("string"),
        F.lit("/Jan/2024:12:34:56 +0000] \""),
        F.element_at(methods, (d % 3 + 1).cast("int")),
        F.lit(" /p/"), (d * 7 % 500).cast("string"),
        F.lit("?q="), (d % 10).cast("string"),
        F.lit(" HTTP/1.1\" "),
        F.element_at(statuses, (d % 5 + 1).cast("int")).cast("string"),
        F.lit(" "),
        F.when(d % 7 == 0, F.lit("-")).otherwise(
            (100 + d % 9000).cast("string")
        ),
        F.lit(" \"https://ref"), (d % 6).cast("string"),
        F.lit(".example/x\" \"Mozilla/5.0 (bot"),
        (d % 4).cast("string"), F.lit(")\""),
    )
    lines = docs.select("doc_id", line.alias("line"))
    rx = _CLF_RX
    g = lambda i: F.regexp_extract("line", rx, i)  # noqa: E731
    return lines.select(
        "doc_id",
        g(1).alias("ip"),
        g(2).alias("user"),
        g(3).alias("method"),
        g(4).alias("path"),
        g(5).cast("long").alias("status"),
        F.when(g(6) == "-", F.lit(0))
        .otherwise(g(6).cast("long"))
        .cast("long")
        .alias("bytes"),
        F.regexp_extract(g(7), "^https://([^/]+)/", 1).alias(
            "referer_host"
        ),
        g(8).contains("bot").cast("long").alias("is_bot"),
    )


@register_extra(  # demoted by rotation #7 (r9): footer-walk facet rides
    # parquet_modern_page_scan + parquet_file_corpus_scan driver rows
    "parquet_footer_scan",
    """
    WITH d AS (
        SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents
    ),
    sz AS (
        SELECT doc_id, ns, sum(2 + (doc_id + s) % 4) AS n_rows
        FROM d, LATERAL (SELECT unnest(range(0, ns)) AS s)
        GROUP BY 1, 2
    ),
    r AS (
        SELECT d.doc_id,
               sum((d.doc_id * 13 + g)
                   * (CASE WHEN g % 4 = 0 THEN -1 ELSE 1 END)) AS sum_ids,
               count(DISTINCT concat(repeat('x', (d.doc_id + g) % 3), 'n',
                                     CAST((d.doc_id * 5 + g) % 9
                                          AS VARCHAR))) AS n_names,
               sum((d.doc_id + g) % 3 + 2) AS name_bytes
        FROM d JOIN sz USING (doc_id),
             LATERAL (SELECT unnest(range(0, CAST(sz.n_rows AS BIGINT)))
                      AS g)
        GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(d.ns AS BIGINT) AS n_row_groups,
           CAST(sz.n_rows AS BIGINT) AS n_rows,
           CAST(r.sum_ids AS BIGINT) AS sum_ids,
           CAST(r.n_names AS BIGINT) AS n_names,
           CAST(r.name_bytes AS BIGINT) AS name_bytes,
           CAST(12 * sz.n_rows + r.name_bytes AS BIGINT) AS data_bytes
    FROM d JOIN sz USING (doc_id) JOIN r USING (doc_id)
    """,
)
def q_parquet_footer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet itself, read by hand (operators/parquetfmt.py): per doc
    a real minimal parquet file — Thrift-compact FileMetaData footer,
    v1 PLAIN data pages, multiple row groups — written and read back by
    the module's own codec (the same writer output DuckDB and pyarrow
    read in tests/test_parquetfmt.py, and the same footer walker that
    parses the arrow-written testdata files).  ``data_bytes`` pins the
    chunk size bookkeeping: the footer's total_compressed sums must
    equal the page bytes actually decoded.  The oracle replays the row
    formulas; a thrift field-delta, page-geometry, or footer-length bug
    mismatches rows."""
    import pandas as pd

    from ..operators.multimodal import _spread
    from ..operators.parquetfmt import make_parquet, parse_parquet

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_and_parse(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                ns = 1 + did % 3
                g = 0
                groups = []
                for s in range(ns):
                    rg = []
                    for _ in range(2 + (did + s) % 4):
                        rg.append(
                            (
                                (did * 13 + g)
                                * (-1 if g % 4 == 0 else 1),
                                "x" * ((did + g) % 3)
                                + f"n{(did * 5 + g) % 9}",
                            )
                        )
                        g += 1
                    groups.append(rg)
                m = parse_parquet(make_parquet(groups))
                rows.append(
                    {
                        "doc_id": did,
                        "n_row_groups": m["n_row_groups"],
                        "n_rows": m["n_rows"],
                        "sum_ids": m["sum_ids"],
                        "n_names": m["n_names"],
                        "name_bytes": m["name_bytes"],
                        "data_bytes": m["data_bytes"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_parse,
        "doc_id long, n_row_groups long, n_rows long, sum_ids long, "
        "n_names long, name_bytes long, data_bytes long",
    )


@register_extra("parquet_file_stats", None)
def q_parquet_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-audit footer scan over the REAL sf_dir parquet files: list
    files on the driver, distribute the paths, and range-read ONLY each
    file's footer tail (operators/parquetfmt.read_footer_tail) — at
    100 TB this audits a lake by reading tails, never page data.  The
    local build opens paths directly; on an object store the fetch
    closure becomes a ranged GET (pyarrow.fs) with the identical walk.
    No fixed-string oracle (the driver gate cannot parameterize file
    paths), but tests/test_parquetfmt.py replays this exact output
    against DuckDB's native parquet_metadata()/parquet_file_metadata()
    per file — a full value gate, path-parameterized locally."""
    import glob as _glob
    import os

    import pandas as pd

    from ..operators.parquetfmt import parse_footer_tail, read_footer_tail

    paths = []
    for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        if os.path.isdir(p):  # a table written as a directory of parts
            paths.extend(
                sorted(_glob.glob(os.path.join(p, "part-*.parquet")))
            )
        else:
            paths.append(p)
    pdf = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(1, min(len(paths), 32)))

    def walk(it):
        for batch in it:
            rows = []
            for p in batch["path"]:
                size = os.path.getsize(p)
                with open(p, "rb") as fh:

                    def fetch(off, ln):
                        fh.seek(off)
                        return fh.read(ln)

                    tail = read_footer_tail(fetch, size)
                m = parse_footer_tail(tail)
                rows.append(
                    {
                        "file_name": os.path.relpath(p, sf_dir),
                        "n_rows": m["n_rows"],
                        "n_row_groups": m["n_row_groups"],
                        "n_columns": len(m["column_names"]),
                        "n_chunks": m["n_chunks"],
                        "num_values": m["num_values"],
                        "total_compressed": m["total_compressed"],
                        "total_uncompressed": m["total_uncompressed"],
                        "codecs": ",".join(m["codecs"]),
                        "created_by": m["created_by"] or "",
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return pdf.mapInPandas(
        walk,
        "file_name string, n_rows long, n_row_groups long, "
        "n_columns long, n_chunks long, num_values long, "
        "total_compressed long, total_uncompressed long, "
        "codecs string, created_by string",
    )


@register_extra(
    "delta_snapshot_scan",
    """
    WITH d AS (
        SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
    ),
    f AS (
        SELECT d.doc_id, d.n, j,
               CASE WHEN j = 0 THEN (d.doc_id % 5 = 0)
                                    OR ((d.doc_id + 1) % 2 <> 0)
                    WHEN j = d.n - 1 THEN TRUE
                    ELSE (d.doc_id + j + 1) % 2 <> 0 END AS live,
               CASE WHEN j = 0 AND d.doc_id % 5 = 0
                    THEN 999 + d.doc_id % 13
                    ELSE 100 + (d.doc_id + j) % 50 END AS fsize,
               CASE WHEN j = 0 AND d.doc_id % 5 = 0
                    THEN 50 + d.doc_id % 11
                    ELSE 10 + (d.doc_id * 3 + j) % 7 END AS nrec
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS j)
    ),
    rm AS (
        SELECT d.doc_id,
               count(*) FILTER (WHERE (d.doc_id + c) % 2 = 0)
                   AS n_remove_actions
        FROM d, LATERAL (SELECT unnest(range(1, n)) AS c)
        GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(d.n - 1 AS BIGINT) AS version,
           CAST(count(*) FILTER (WHERE f.live) AS BIGINT) AS n_live,
           CAST(sum(CASE WHEN f.live THEN f.fsize ELSE 0 END)
                AS BIGINT) AS live_bytes,
           CAST(sum(CASE WHEN f.live THEN f.nrec ELSE 0 END)
                AS BIGINT) AS live_rows,
           CAST(any_value(rm.n_remove_actions) AS BIGINT)
               AS n_remove_actions
    FROM d JOIN f USING (doc_id) JOIN rm USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q_delta_snapshot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-protocol snapshot replay (operators/deltalog.py): per doc
    a real JSON commit log — protocol/metaData/commitInfo lines, adds,
    absent-path-legal removes, and a last-commit re-add that must
    resurrect f0 with NEW file metadata (last-writer-wins, the Delta
    PROTOCOL.md reconciliation rule).  The kernel builds the log with
    make_commit (real JSON) and replays it with replay_delta_log; the
    oracle recomputes the closed-form live set.  A wins-order,
    tombstone, or re-add bug mismatches rows."""
    import pandas as pd

    from ..operators.deltalog import make_commit, replay_delta_log
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_and_replay(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                commits = []
                for c in range(n):
                    acts = []
                    if c == 0:
                        acts.append({"protocol": {"minReaderVersion": 1}})
                        acts.append(
                            {"metaData": {"id": f"tbl-{did}",
                                          "format": "parquet"}}
                        )
                    if c >= 1 and (did + c) % 2 == 0:
                        acts.append(
                            {"remove": {"path": f"f{c - 1}",
                                        "dataChange": True}}
                        )
                    acts.append(
                        {"add": {"path": f"f{c}",
                                 "size": 100 + (did + c) % 50,
                                 "numRecords": 10 + (did * 3 + c) % 7,
                                 "dataChange": True}}
                    )
                    if c == n - 1 and did % 5 == 0:
                        acts.append(
                            {"add": {"path": "f0",
                                     "size": 999 + did % 13,
                                     "numRecords": 50 + did % 11,
                                     "dataChange": True}}
                        )
                    acts.append(
                        {"commitInfo": {"operation":
                                        "WRITE" if c == 0 else "MERGE"}}
                    )
                    commits.append(make_commit(acts))
                m = replay_delta_log(commits)
                out.append(
                    {
                        "doc_id": did,
                        "version": m["version"],
                        "n_live": m["n_live"],
                        "live_bytes": m["live_bytes"],
                        "live_rows": m["live_rows"],
                        "n_remove_actions": m["n_remove_actions"],
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_replay,
        "doc_id long, version long, n_live long, live_bytes long, "
        "live_rows long, n_remove_actions long",
    )


@register_extra(  # demoted by rotation #7 (r9): subsumed by
    # delta_checkpoint_replay's checkpoint+tail == full-replay equivalence
    "delta_log_replay",
    """
    WITH a AS (
        SELECT o_orderkey AS seq,
               'part-' || CAST(o_orderkey % 211 AS VARCHAR) AS path,
               o_orderkey % 40 AS version,
               CASE WHEN o_orderkey % 3 = 0 THEN 'remove'
                    ELSE 'add' END AS kind,
               1000 + o_orderkey % 777 AS fsize,
               10 + o_orderkey % 97 AS nrec
        FROM orders
    ),
    w AS (
        SELECT *,
               row_number() OVER (PARTITION BY path
                                  ORDER BY version DESC, seq DESC) AS rn,
               count(*) OVER (PARTITION BY path) AS n_actions
        FROM a
    )
    SELECT path,
           CAST(n_actions AS BIGINT) AS n_actions,
           CAST(version AS BIGINT) AS last_version,
           CAST(CASE WHEN kind = 'add' THEN 1 ELSE 0 END AS BIGINT)
               AS live,
           CAST(CASE WHEN kind = 'add' THEN fsize ELSE 0 END AS BIGINT)
               AS live_size,
           CAST(CASE WHEN kind = 'add' THEN nrec ELSE 0 END AS BIGINT)
               AS live_rows
    FROM w WHERE rn = 1
    """,
)
def q_delta_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native snapshot computation — how Delta actually
    derives a snapshot distributed: dedup the action log by path
    keeping the (version, seq)-max action, live = last action is an
    add.  The action lines round-trip through REAL JSON serde
    (to_json -> from_json, JVM-side, Python-free) before the replay, so
    a serde-schema bug mismatches rows.  One hash shuffle on path;
    at 100 TB the log dedups per-path without ever collecting — the
    scale path Delta's own Spark implementation takes."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    a = o.select(
        k.alias("seq"),
        F.concat(F.lit("part-"), (k % 211).cast("string")).alias("path"),
        (k % 40).alias("version"),
        F.when(k % 3 == 0, F.lit("remove"))
        .otherwise(F.lit("add"))
        .alias("kind"),
        (k % 777 + 1000).alias("fsize"),
        (k % 97 + 10).alias("nrec"),
    )
    line = F.to_json(
        F.struct("seq", "path", "version", "kind", "fsize", "nrec")
    )
    schema = (
        "seq bigint, path string, version bigint, kind string, "
        "fsize bigint, nrec bigint"
    )
    a = a.select(F.from_json(line, schema).alias("r")).select("r.*")
    w = Window.partitionBy("path").orderBy(
        F.col("version").desc(), F.col("seq").desc()
    )
    wc = Window.partitionBy("path")
    return (
        a.withColumn("rn", F.row_number().over(w))
        .withColumn("n_actions", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "path",
            F.col("n_actions").cast("long").alias("n_actions"),
            F.col("version").cast("long").alias("last_version"),
            (F.col("kind") == "add").cast("long").alias("live"),
            F.when(F.col("kind") == "add", F.col("fsize"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("live_size"),
            F.when(F.col("kind") == "add", F.col("nrec"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("live_rows"),
        )
    )


@register_extra(
    "rowgroup_skipping_audit",
    """
    WITH d AS (
        SELECT doc_id, 2 + doc_id % 4 AS ns,
               doc_id * 100 + (doc_id % 3) * 10 + 2 AS lo
        FROM documents
    ),
    g AS (
        SELECT d.doc_id, d.ns, d.lo, d.lo + 14 AS hi, s,
               3 + (d.doc_id + s) % 3 AS nrows,
               d.doc_id * 100 + s * 10 AS mn,
               d.doc_id * 100 + s * 10 + 3 + (d.doc_id + s) % 3 - 1 AS mx
        FROM d, LATERAL (SELECT unnest(range(0, ns)) AS s)
    )
    SELECT doc_id,
           CAST(any_value(ns) AS BIGINT) AS n_row_groups,
           CAST(count(*) FILTER (WHERE mx < lo OR mn > hi) AS BIGINT)
               AS n_skipped,
           CAST(sum(CASE WHEN mx < lo OR mn > hi THEN 0
                         ELSE nrows END) AS BIGINT) AS rows_scanned,
           CAST(sum(CASE WHEN mx < lo OR mn > hi THEN 0
                         ELSE greatest(0, least(mx, hi)
                                          - greatest(mn, lo) + 1) END)
                AS BIGINT) AS rows_selected
    FROM g GROUP BY 1
    """,
)
def q_rowgroup_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group skipping from REAL footer statistics: per doc a
    multi-row-group parquet file (operators/parquetfmt.py now writes
    min_value/max_value Statistics + ColumnOrder, which pyarrow and
    DuckDB both read back); the skip decision uses ONLY the parsed
    footer stats — exactly how a lake reader prunes — and the audit
    then decodes the SCANNED groups to count selected rows, proving the
    pruning lossless.  The oracle replays the interval algebra in
    closed form; an off-by-one in min/max encoding, interval overlap,
    or row-group geometry mismatches rows."""
    import pandas as pd

    from ..operators.multimodal import _spread
    from ..operators.parquetfmt import (
        make_parquet,
        parse_parquet,
        parse_parquet_footer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def audit(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                ns = 2 + did % 4
                groups = []
                for s in range(ns):
                    nrows = 3 + (did + s) % 3
                    groups.append(
                        [(did * 100 + s * 10 + j, f"r{s}")
                         for j in range(nrows)]
                    )
                blob = make_parquet(groups)
                meta = parse_parquet_footer(blob)
                lo = did * 100 + (did % 3) * 10 + 2
                hi = lo + 14
                stats = {
                    st["rg"]: (st["min"], st["max"])
                    for st in meta["int64_stats"]
                    if st["col"] == "id"
                }
                if len(stats) != ns:
                    raise ValueError("missing id stats for a row group")
                skipped = {
                    rg for rg, (mn, mx) in stats.items()
                    if mx < lo or mn > hi
                }
                rows_scanned = sum(
                    n for i, n in enumerate(meta["rg_rows"])
                    if i not in skipped
                )
                full = parse_parquet(blob)["rows"]
                sel = 0
                pos = 0
                for i, n in enumerate(meta["rg_rows"]):
                    if i not in skipped:
                        sel += sum(
                            1 for v, _ in full[pos : pos + n]
                            if lo <= v <= hi
                        )
                    pos += n
                out.append(
                    {
                        "doc_id": did,
                        "n_row_groups": ns,
                        "n_skipped": len(skipped),
                        "rows_scanned": rows_scanned,
                        "rows_selected": sel,
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        audit,
        "doc_id long, n_row_groups long, n_skipped long, "
        "rows_scanned long, rows_selected long",
    )


@register_extra(
    "compaction_plan",
    """
    WITH a AS (
        SELECT o_orderkey AS seq,
               'part-' || CAST(o_orderkey % 211 AS VARCHAR) AS path,
               o_orderkey % 40 AS version,
               CASE WHEN o_orderkey % 3 = 0 THEN 'remove'
                    ELSE 'add' END AS kind,
               1000 + o_orderkey % 777 AS fsize
        FROM orders
    ),
    w AS (
        SELECT *, row_number() OVER (PARTITION BY path
                                     ORDER BY version DESC, seq DESC)
                      AS rn
        FROM a
    ),
    live AS (
        SELECT path, fsize FROM w WHERE rn = 1 AND kind = 'add'
    ),
    h AS (SELECT path, fsize, md5(path) AS hx FROM live),
    c AS (
        SELECT *, coalesce(sum(fsize) OVER (
                       ORDER BY hx, path
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cum_before
        FROM h
    )
    SELECT path, CAST(fsize AS BIGINT) AS fsize,
           CAST(cum_before // 16384 AS BIGINT) AS grp
    FROM c
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the lakehouse OPTIMIZE step:
    bin the delta snapshot's live files into ~16 KiB target groups by
    an EXCLUSIVE byte prefix sum over a deterministic order (md5(path)
    — random-order bin fill).  The prefix sum is the DISTRIBUTED
    two-pass from operators/packing.py (256 hash-range buckets +
    broadcast offsets — never a single-partition window over the file
    list, which at 100 TB is billions of rows); the oracle replays it
    with a plain global window.  Composes on delta_log_replay's live
    set, so a replay bug ALSO breaks this row."""
    from ..operators.packing import distributed_prefix_sum

    live = (
        q_delta_log_replay(spark, sf_dir)
        .filter(F.col("live") == 1)
        .select("path", F.col("live_size").alias("fsize"))
        .withColumn("hx", F.md5(F.col("path")))
    )
    c = distributed_prefix_sum(live, "hx", "path", "fsize")
    return c.select(
        "path",
        F.col("fsize").cast("long").alias("fsize"),
        F.expr("cum_before div 16384").cast("long").alias("grp"),
    )


@register_extra(
    "delta_time_travel",
    """
    WITH d AS (
        SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
    ),
    v AS (
        SELECT d.doc_id, d.n, vv
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS vv)
    ),
    fj AS (
        SELECT v.doc_id, v.n, v.vv, j,
               CASE WHEN j = 0 THEN
                        CASE WHEN v.vv = v.n - 1 AND v.doc_id % 5 = 0
                                 THEN TRUE
                             WHEN v.vv >= 1 AND (v.doc_id + 1) % 2 = 0
                                 THEN FALSE
                             ELSE TRUE END
                    ELSE NOT (v.vv >= j + 1
                              AND (v.doc_id + j + 1) % 2 = 0)
               END AS live,
               CASE WHEN j = 0 AND v.vv = v.n - 1 AND v.doc_id % 5 = 0
                    THEN 999 + v.doc_id % 13
                    ELSE 100 + (v.doc_id + j) % 50 END AS fsize
        FROM v, LATERAL (SELECT unnest(range(0, vv + 1)) AS j)
    )
    SELECT doc_id, CAST(vv AS BIGINT) AS version,
           CAST(count(*) FILTER (WHERE live) AS BIGINT) AS n_live,
           CAST(sum(CASE WHEN live THEN fsize ELSE 0 END) AS BIGINT)
               AS live_bytes
    FROM fj GROUP BY 1, 2
    """,
)
def q_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: the snapshot AT EVERY VERSION, not just the latest —
    replaying each commit-log prefix through the identical
    replay_delta_log kernel (version pinning / `VERSION AS OF` is the
    lakehouse feature the reference's overwrite-in-place csv flow
    cannot express).  The oracle reduces every (version, file)
    liveness to closed form, including the last-commit re-add that
    resurrects f0 ONLY at the final version."""
    import pandas as pd

    from ..operators.deltalog import make_commit, replay_delta_log
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def travel(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                commits = []
                for c in range(n):
                    acts = []
                    if c >= 1 and (did + c) % 2 == 0:
                        acts.append({"remove": {"path": f"f{c - 1}"}})
                    acts.append(
                        {"add": {"path": f"f{c}",
                                 "size": 100 + (did + c) % 50,
                                 "numRecords": 1}}
                    )
                    if c == n - 1 and did % 5 == 0:
                        acts.append(
                            {"add": {"path": "f0",
                                     "size": 999 + did % 13,
                                     "numRecords": 1}}
                        )
                    commits.append(make_commit(acts))
                for v in range(n):
                    m = replay_delta_log(commits[: v + 1])
                    out.append(
                        {
                            "doc_id": did,
                            "version": v,
                            "n_live": m["n_live"],
                            "live_bytes": m["live_bytes"],
                        }
                    )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        travel,
        "doc_id long, version long, n_live long, live_bytes long",
    )


@register_extra(
    "daily_revenue_locf",
    """
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS rev_cents
        FROM orders GROUP BY 1, 2
    ),
    span AS (
        SELECT min(day) AS lo, max(day) AS hi FROM daily
    ),
    spine AS (
        SELECT p.priority, s.day
        FROM (SELECT DISTINCT priority FROM daily) p,
             LATERAL (SELECT unnest(range(span.lo, span.hi + 1)) AS day
                      FROM span) s
    ),
    filled AS (
        SELECT sp.priority, sp.day, d.rev_cents,
               last_value(d.rev_cents IGNORE NULLS) OVER (
                   PARTITION BY sp.priority ORDER BY sp.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS locf
        FROM spine sp LEFT JOIN daily d
          ON d.priority = sp.priority AND d.day = sp.day
    )
    SELECT priority, day,
           CAST(coalesce(locf, 0) AS BIGINT) AS rev_cents,
           CAST(CASE WHEN rev_cents IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_filled
    FROM filled
    """,
)
def q_daily_revenue_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling with last-observation-carried-forward
    — the time-series reporting primitive (a day with no orders shows
    yesterday's running value, flagged).  The spine generates from the
    GLOBAL min/max day (one 1-row broadcast), per-priority windows stay
    keyed, and revenue is integerized to cents per row before summing
    (the cross-engine float discipline).  Exercises Spark `sequence` +
    explode vs DuckDB `range`, and `last(ignorenulls)` vs
    `last_value(IGNORE NULLS)` — an engine pair with plenty of room to
    diverge, pinned by the oracle."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS BIGINT)").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    daily = o.groupBy("priority", "day").agg(
        F.sum("cents").alias("rev_cents")
    )
    span = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = (
        daily.select("priority").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "priority",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"),
        )
    )
    from pyspark.sql import Window

    filled = spine.join(daily, ["priority", "day"], "left")
    w = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "priority",
        "day",
        F.coalesce(
            F.last("rev_cents", ignorenulls=True).over(w), F.lit(0)
        ).cast("long").alias("rev_cents"),
        F.col("rev_cents").isNull().cast("long").alias("is_filled"),
    )


@register_extra(
    "delta_vacuum_plan",
    """
    WITH d AS (
        SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
    ),
    t AS (
        SELECT d.doc_id, d.n, j,
               (d.doc_id + j + 1) % 2 = 0
               AND NOT (j = 0 AND d.doc_id % 5 = 0) AS dead,
               j + 1 AS death_v,
               100 + (d.doc_id + j) % 50 AS fsize
        FROM d, LATERAL (SELECT unnest(range(0, n - 1)) AS j)
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE dead) AS BIGINT) AS n_tombstones,
           CAST(count(*) FILTER (WHERE dead AND death_v <= n - 2)
                AS BIGINT) AS n_eligible,
           CAST(coalesce(sum(CASE WHEN dead AND death_v <= n - 2
                                  THEN fsize END), 0) AS BIGINT)
               AS bytes_reclaimable
    FROM t GROUP BY 1
    """,
)
def q_delta_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning on the same commit logs as delta_snapshot_scan:
    tombstones carry the version of the remove that killed them (re-add
    clears the stone — a resurrected file must NEVER be deleted), and
    only stones dead for >= 1 version before the latest are eligible —
    the retention rule that keeps time travel working inside the
    horizon.  The oracle reduces death versions to closed form; an
    eligibility-horizon or resurrection bug mismatches rows."""
    import pandas as pd

    from ..operators.deltalog import (
        make_commit,
        replay_delta_log,
        vacuum_plan,
    )
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def plan(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                commits = []
                for c in range(n):
                    acts = []
                    if c >= 1 and (did + c) % 2 == 0:
                        acts.append({"remove": {"path": f"f{c - 1}"}})
                    acts.append(
                        {"add": {"path": f"f{c}",
                                 "size": 100 + (did + c) % 50,
                                 "numRecords": 1}}
                    )
                    if c == n - 1 and did % 5 == 0:
                        acts.append(
                            {"add": {"path": "f0",
                                     "size": 999 + did % 13,
                                     "numRecords": 1}}
                        )
                    commits.append(make_commit(acts))
                v = vacuum_plan(replay_delta_log(commits), 1)
                out.append(
                    {
                        "doc_id": did,
                        "n_tombstones": v["n_tombstones"],
                        "n_eligible": v["n_eligible"],
                        "bytes_reclaimable": v["bytes_reclaimable"],
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        plan,
        "doc_id long, n_tombstones long, n_eligible long, "
        "bytes_reclaimable long",
    )


@register_extra("parquet_page_scan", None)
def q_parquet_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real column-chunk decode over the lake (operators/parquetfmt.py
    read_int64_column + operators/snappy.py): every INT64 leaf column
    of every row group in the sf_dir files — snappy blocks, dictionary
    pages, RLE_DICTIONARY indices and definition levels all walked by
    hand — reduced to engine-independent (count, nulls, sum) facts.
    One task per file; non-INT64 columns are skipped by the footer's
    type field, never by trial decode.  No fixed-string oracle (paths),
    but tests/test_parquetfmt.py replays every cell against DuckDB
    reading the same files."""
    import glob as _glob
    import os

    import pandas as pd

    from ..operators.parquetfmt import (
        parse_parquet_footer,
        read_int64_column,
    )

    paths = []
    for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        if os.path.isdir(p):
            paths.extend(
                sorted(_glob.glob(os.path.join(p, "part-*.parquet")))
            )
        else:
            paths.append(p)
    pdf = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(1, min(len(paths), 32)))

    def walk(it):
        for batch in it:
            rows = []
            for p in batch["path"]:
                raw = open(p, "rb").read()
                meta = parse_parquet_footer(raw)
                int64_cols = [
                    n
                    for n, t in zip(
                        meta["column_names"], meta["physical_types"]
                    )
                    if t == "INT64"
                ]
                for rg in range(meta["n_row_groups"]):
                    for col in int64_cols:
                        r = read_int64_column(raw, rg, col)
                        rows.append(
                            {
                                "file_name": os.path.relpath(p, sf_dir),
                                "rg": rg,
                                "col": col,
                                "n_values": r["n_values"],
                                "n_nulls": r["n_nulls"],
                                # decimal(38): epoch-micro sums overflow
                                # int64 at ~100k timestamp rows
                                "sum_values": Decimal(sum(r["values"])),
                            }
                        )
            if rows:
                yield pd.DataFrame(rows)

    from decimal import Decimal

    return pdf.mapInPandas(
        walk,
        "file_name string, rg long, col string, n_values long, "
        "n_nulls long, sum_values decimal(38,0)",
    )


@register(
    "delta_checkpoint_replay",
    """
    WITH d AS (
        SELECT doc_id, 25 + doc_id % 7 AS n FROM documents
    ),
    acts AS (
        SELECT d.doc_id, d.n, c AS version, 0 AS seq,
               'f' || CAST(c AS VARCHAR) AS path, 'add' AS kind,
               100 + (d.doc_id + c) % 50 AS fsize,
               10 + (d.doc_id * 3 + c) % 7 AS nrec,
               (d.doc_id + c) % 4 AS dt_ord
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS c)
        UNION ALL
        SELECT d.doc_id, d.n, c, 1,
               'f' || CAST(c - 1 AS VARCHAR), 'remove', 0, 0, NULL
        FROM d, LATERAL (SELECT unnest(range(1, n)) AS c)
        WHERE (d.doc_id + c) % 3 = 0
        UNION ALL
        SELECT d.doc_id, d.n, c, 2, 'f0', 'add',
               500 + d.doc_id % 31, 77 + d.doc_id % 13,
               (d.doc_id + c) % 4
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS c)
        WHERE c % 10 = 5
    ),
    last AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id, path
                                     ORDER BY version DESC, seq DESC) AS rn
        FROM acts
    )
    SELECT doc_id,
           CAST(any_value(n) - 1 AS BIGINT) AS version,
           CAST(CASE WHEN any_value(n) >= 30 THEN 29 ELSE 19 END
                AS BIGINT) AS ck_version,
           CAST(any_value(n) - 1
                - CASE WHEN any_value(n) >= 30 THEN 29 ELSE 19 END
                AS BIGINT) AS n_tail,
           CAST(count(*) FILTER (WHERE rn = 1 AND kind = 'add')
                AS BIGINT) AS n_live,
           CAST(sum(CASE WHEN rn = 1 AND kind = 'add' THEN fsize
                         ELSE 0 END) AS BIGINT) AS live_bytes,
           CAST(sum(CASE WHEN rn = 1 AND kind = 'add' THEN nrec
                         ELSE 0 END) AS BIGINT) AS live_rows,
           CAST(count(DISTINCT dt_ord)
                    FILTER (WHERE rn = 1 AND kind = 'add')
                AS BIGINT) AS n_live_dt,
           CAST(sum(CASE WHEN rn = 1 AND kind = 'add' THEN dt_ord
                         ELSE 0 END) AS BIGINT) AS sum_dt_ord
    FROM last GROUP BY 1
    """,
)
def q_delta_checkpoint_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed snapshot read (operators/deltalog.py): per doc a
    25-31-commit JSON log with TWO real parquet checkpoints — version 9,
    then version 19 (or 29) built by replaying FROM the version-9
    checkpoint (nested composition), each written by pyarrow
    (snappy/dictionary, the real writer layout) and read back by the
    hand parquet decoder's dotted struct-leaf chunks
    (parquetfmt.read_leaf_column: ``add.path``, ``remove.size``, ...)
    and — round 9 — a REAL ``add.partitionValues`` parquet MAP column
    (the delta-io checkpoint schema), Dremel-reassembled by
    parquetfmt.read_map_column.  Every add carries a ``dt`` partition
    value; ``n_live_dt``/``sum_dt_ord`` surface the LIVE snapshot's
    partition map so a pv-roundtrip bug hash-mismatches.
    The emitted snapshot replays `_last_checkpoint` + JSON TAIL ONLY —
    O(tail), the Delta PROTOCOL.md fast path — while the oracle replays
    the FULL action history in SQL; hash equality proves checkpoint
    state + tail == whole-log replay, parquet roundtrip included."""
    import pandas as pd

    from ..operators.deltalog import (
        make_checkpoint_parquet,
        make_commit,
        make_last_checkpoint,
        replay_delta_log,
        replay_from_checkpoint,
    )
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_and_replay(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 25 + did % 7
                commits = []
                for c in range(n):
                    acts = []
                    if c == 0:
                        acts.append({"protocol": {"minReaderVersion": 1}})
                    acts.append(
                        {"add": {"path": f"f{c}",
                                 "size": 100 + (did + c) % 50,
                                 "numRecords": 10 + (did * 3 + c) % 7,
                                 "partitionValues":
                                     {"dt": f"d{(did + c) % 4}"},
                                 "dataChange": True}}
                    )
                    if c >= 1 and (did + c) % 3 == 0:
                        acts.append(
                            {"remove": {"path": f"f{c - 1}",
                                        "dataChange": True}}
                        )
                    if c % 10 == 5:
                        acts.append(
                            {"add": {"path": "f0",
                                     "size": 500 + did % 31,
                                     "numRecords": 77 + did % 13,
                                     "partitionValues":
                                         {"dt": f"d{(did + c) % 4}"},
                                     "dataChange": True}}
                        )
                    commits.append(make_commit(acts))
                # checkpoint cadence 10: version 9, then 19/29 — the
                # second built FROM the first (checkpoint-of-checkpoint)
                ck9 = make_checkpoint_parquet(replay_delta_log(commits[:10]))
                ck_v = 29 if n >= 30 else 19
                mid = replay_from_checkpoint(
                    make_last_checkpoint(9, len(ck9)), ck9,
                    commits[10 : ck_v + 1],
                )
                ck = make_checkpoint_parquet(mid)
                m = replay_from_checkpoint(
                    make_last_checkpoint(ck_v, len(ck)), ck,
                    commits[ck_v + 1 :],
                )
                dts = [
                    int(m["partition_values"][p]["dt"][1:])
                    for p in m["live"]
                ]  # every live add carries dt — a pv loss KeyErrors
                out.append(
                    {
                        "doc_id": did,
                        "version": m["version"],
                        "ck_version": ck_v,
                        "n_tail": n - 1 - ck_v,
                        "n_live": m["n_live"],
                        "live_bytes": m["live_bytes"],
                        "live_rows": m["live_rows"],
                        "n_live_dt": len(set(dts)),
                        "sum_dt_ord": sum(dts),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_replay,
        "doc_id long, version long, ck_version long, n_tail long, "
        "n_live long, live_bytes long, live_rows long, "
        "n_live_dt long, sum_dt_ord long",
    )


@register(
    "parquet_modern_page_scan",
    """
    WITH d AS (
        SELECT doc_id, 200 + doc_id % 50 AS n,
               CASE doc_id % 6
                    WHEN 0 THEN 'zstd/v1/dict'
                    WHEN 1 THEN 'zstd/v2/dict'
                    WHEN 2 THEN 'snappy/v2/dict'
                    WHEN 3 THEN 'zstd/v2/delta'
                    WHEN 4 THEN 'raw/v2/delta-length'
                    ELSE 'zstd/v1/delta' END AS layout
        FROM documents
    ),
    r AS (
        SELECT d.doc_id, d.n, d.layout, j,
               d.doc_id * 3 + j * 7 - (j % 5) AS id,
               'n' || CAST((d.doc_id + j) % 23 AS VARCHAR) AS name,
               CASE WHEN (d.doc_id + j) % 7 = 0 THEN NULL
                    ELSE d.doc_id + j * j END AS v
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS j)
    )
    SELECT doc_id,
           any_value(layout) AS layout,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(id) AS BIGINT) AS sum_ids,
           CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_nulls_v,
           CAST(coalesce(sum(v), 0) AS BIGINT) AS sum_v,
           CAST(sum(length(name)) AS BIGINT) AS sum_name_len
    FROM r GROUP BY 1
    """,
)
def q_parquet_modern_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern-writer page decode (round-8 coverage): per doc a pyarrow
    file written in one of SIX layouts — zstd pages (hand RFC 8878
    decode, operators/zstd.py), DataPageV2 headers (uncompressed level
    runs, separate lengths), DELTA_BINARY_PACKED /
    DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY encodings — read back
    cell-for-cell by the hand parquet decoder
    (parquetfmt.read_leaf_column).  The oracle replays the LOGICAL
    content, which is layout-independent by construction: a codec,
    page-header, level-run, or delta-decode bug mismatches exactly the
    affected doc rows."""
    import pandas as pd

    from ..operators.multimodal import _spread
    from ..operators.parquetfmt import read_leaf_column

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    _COMBOS = [
        ("zstd/v1/dict", dict(compression="zstd")),
        ("zstd/v2/dict", dict(compression="zstd", data_page_version="2.0")),
        ("snappy/v2/dict",
         dict(compression="snappy", data_page_version="2.0")),
        ("zstd/v2/delta",
         dict(compression="zstd", use_dictionary=False,
              data_page_version="2.0",
              column_encoding={"id": "DELTA_BINARY_PACKED",
                               "name": "DELTA_BYTE_ARRAY",
                               "v": "DELTA_BINARY_PACKED"})),
        ("raw/v2/delta-length",
         dict(compression="none", use_dictionary=False,
              data_page_version="2.0",
              column_encoding={"id": "DELTA_BINARY_PACKED",
                               "name": "DELTA_LENGTH_BYTE_ARRAY",
                               "v": "PLAIN"})),
        ("zstd/v1/delta",
         dict(compression="zstd", use_dictionary=False,
              data_page_version="1.0",
              column_encoding={"id": "DELTA_BINARY_PACKED",
                               "name": "DELTA_BYTE_ARRAY",
                               "v": "DELTA_BINARY_PACKED"})),
    ]

    def gen_and_scan(it):
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 200 + did % 50
                ids = [did * 3 + j * 7 - (j % 5) for j in range(n)]
                names = [f"n{(did + j) % 23}" for j in range(n)]
                vals = [
                    None if (did + j) % 7 == 0 else did + j * j
                    for j in range(n)
                ]
                layout, kw = _COMBOS[did % 6]
                buf = io.BytesIO()
                pq.write_table(
                    pa.table({"id": pa.array(ids, pa.int64()),
                              "name": pa.array(names),
                              "v": pa.array(vals, pa.int64())}),
                    buf, **kw,
                )
                raw = buf.getvalue()
                got_ids = read_leaf_column(raw, 0, "id")["values"]
                got_names = read_leaf_column(raw, 0, "name")["values"]
                got_v = read_leaf_column(raw, 0, "v", with_nulls=True)
                out.append(
                    {
                        "doc_id": did,
                        "layout": layout,
                        "n_rows": len(got_ids),
                        "sum_ids": sum(got_ids),
                        "n_nulls_v": got_v["n_nulls"],
                        "sum_v": sum(x for x in got_v["values"]
                                     if x is not None),
                        "sum_name_len": sum(len(s) for s in got_names),
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_scan,
        "doc_id long, layout string, n_rows long, sum_ids long, "
        "n_nulls_v long, sum_v long, sum_name_len long",
    )


@register_extra(
    "iceberg_snapshot_scan",
    """
    WITH d AS (
        SELECT doc_id, 3 + doc_id % 4 AS n FROM documents
    ),
    f AS (
        SELECT doc_id, n, f,
               100 + (doc_id + f) % 50 AS sz,
               10 + (doc_id * 3 + f) % 7 AS rc,
               f < n AND (doc_id + f) % 3 = 0 AS deleted
        FROM d, LATERAL (SELECT unnest(range(0, n + 2)) AS f)
    )
    SELECT doc_id,
           CAST(200 AS BIGINT) AS snapshot_id,
           CAST(2 AS BIGINT) AS n_manifests,
           CAST(count(*) FILTER (WHERE NOT deleted) AS BIGINT) AS n_live,
           CAST(count(*) FILTER (WHERE deleted) AS BIGINT)
               AS n_deleted_entries,
           CAST(sum(CASE WHEN deleted THEN 0 ELSE sz END) AS BIGINT)
               AS live_bytes,
           CAST(sum(CASE WHEN deleted THEN 0 ELSE rc END) AS BIGINT)
               AS live_rows,
           CAST(count(DISTINCT (doc_id + f) % 3)
                    FILTER (WHERE NOT deleted) AS BIGINT) AS n_live_dt,
           CAST(any_value(n) AS BIGINT) AS tt_n_live
    FROM f GROUP BY 1
    """,
)
def q_iceberg_snapshot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-shaped metadata-tree resolution (operators/iceberg.py):
    per doc a 2-snapshot table — snapshot 100 adds n files via one
    manifest; snapshot 200 carries TWO manifests (originals with
    EXISTING/DELETED statuses, plus 2 ADDED files) — built as REAL Avro
    OCF manifest files in the SPEC's nested layout (round 9: a
    ``data_file`` record with a ``dt`` partition tuple, decoded by
    avrocf's nested-record support; manifest_length verified) and
    resolved through the spec's walk: version pointer → snapshot →
    manifest list → manifests → status filter, with manifest-list
    counts cross-checked against the manifests.  ``n_live_dt`` counts
    distinct live partition values, so a partition-tuple decode bug
    hash-mismatches; ``tt_n_live`` time-travels to snapshot 100.  The
    structural contrast to Delta's replayed log, on the same fixture
    discipline (everything recomputed by the oracle from the documents
    table)."""
    import pandas as pd

    from ..operators.iceberg import (
        make_manifest,
        make_manifest_list,
        make_table_metadata,
        snapshot_live_files,
    )
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_and_scan(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 3 + did % 4

                def entry(f, status):
                    return {
                        "status": status,
                        "file_path": f"f{f}",
                        "record_count": 10 + (did * 3 + f) % 7,
                        "file_size": 100 + (did + f) % 50,
                        "partition": {"dt": f"d{(did + f) % 3}"},
                    }

                orig = [entry(f, 1) for f in range(n)]
                snap2_orig = [
                    entry(f, 2 if (did + f) % 3 == 0 else 0)
                    for f in range(n)
                ]
                snap2_added = [entry(f, 1) for f in range(n, n + 2)]

                def counts(es):
                    return {
                        "added_files_count": sum(
                            1 for e in es if e["status"] == 1
                        ),
                        "existing_files_count": sum(
                            1 for e in es if e["status"] == 0
                        ),
                        "deleted_files_count": sum(
                            1 for e in es if e["status"] == 2
                        ),
                    }

                files = {
                    "mA": make_manifest(orig, partition_fields=("dt",)),
                    "mB1": make_manifest(
                        snap2_orig, partition_fields=("dt",)
                    ),
                    "mB2": make_manifest(
                        snap2_added, partition_fields=("dt",)
                    ),
                }
                files["ml100"] = make_manifest_list(
                    [{"manifest_path": "mA",
                      "manifest_length": len(files["mA"]),
                      **counts(orig)}]
                )
                files["ml200"] = make_manifest_list(
                    [
                        {"manifest_path": "mB1",
                         "manifest_length": len(files["mB1"]),
                         **counts(snap2_orig)},
                        {"manifest_path": "mB2",
                         "manifest_length": len(files["mB2"]),
                         **counts(snap2_added)},
                    ]
                )
                meta = make_table_metadata(
                    {100: "ml100", 200: "ml200"}, current=200
                )
                snap = snapshot_live_files(meta, files.__getitem__)
                tt = snapshot_live_files(
                    meta, files.__getitem__, snapshot_id=100
                )
                dts = {
                    v["dt"] for v in snap["partition_values"].values()
                }
                out.append(
                    {
                        "doc_id": did,
                        "snapshot_id": snap["snapshot_id"],
                        "n_manifests": snap["n_manifests"],
                        "n_live": snap["n_live"],
                        "n_deleted_entries": snap["n_deleted_entries"],
                        "live_bytes": snap["live_bytes"],
                        "live_rows": snap["live_rows"],
                        "n_live_dt": len(dts),
                        "tt_n_live": tt["n_live"],
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_scan,
        "doc_id long, snapshot_id long, n_manifests long, n_live long, "
        "n_deleted_entries long, live_bytes long, live_rows long, "
        "n_live_dt long, tt_n_live long",
    )


@register_extra(
    "delta_deletion_vectors",
    """
    WITH d AS (
        SELECT doc_id, 10 + doc_id % 5 AS n FROM documents
    ),
    rows_f AS (
        SELECT d.doc_id, d.n, j, 15 + (d.doc_id + j) % 6 AS r
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS j)
    ),
    dead AS (
        SELECT DISTINCT doc_id, j, p FROM (
            SELECT doc_id, j,
                   unnest([doc_id % r, (doc_id + 1) % r,
                           (doc_id + 7) % r]) AS p
            FROM rows_f WHERE j = 0
            UNION ALL
            SELECT doc_id, c - 2 AS j,
                   unnest([(doc_id + c) % r, (doc_id * 3 + c) % r]) AS p
            FROM (
                SELECT d.doc_id, c, 15 + (d.doc_id + c - 2) % 6 AS r
                FROM d, LATERAL (SELECT unnest(range(6, n)) AS c)
                WHERE c % 4 = 2
            )
        )
    ),
    agg AS (
        SELECT doc_id, count(*) AS card, sum(p) AS sum_dead
        FROM dead GROUP BY 1
    )
    SELECT r.doc_id,
           CAST(any_value(r.n) - 1 AS BIGINT) AS version,
           CAST(any_value(r.n) AS BIGINT) AS n_live,
           CAST(sum(r.r) AS BIGINT) AS live_rows,
           CAST(any_value(a.card) AS BIGINT) AS dv_cardinality,
           CAST(sum(r.r) - any_value(a.card) AS BIGINT)
               AS rows_after_dv,
           CAST(any_value(a.sum_dead) AS BIGINT) AS sum_dead_pos
    FROM rows_f r JOIN agg a USING (doc_id) GROUP BY 1
    """,
)
def q_delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta deletion vectors end to end (round 9): per doc a log whose
    adds carry DV descriptors — INLINE (z85-encoded roaring bitmap in
    the action line) and FILE-based (a format-1 ``.bin`` sidecar with
    big-endian frames + CRC-32, u-form z85 UUID path) — replayed
    last-writer-wins: f0's early inline DV is SUPERSEDED by the final
    file DV, f2's DV is CLEARED by a rewrite without one.  Every live
    descriptor is then RESOLVED to its actual row positions (roaring
    decode, operators/roaring.py), so ``sum_dead_pos`` pins the bitmap
    bytes themselves, not just the descriptor accounting
    (delta-io PROTOCOL.md "Deletion Vectors"; RoaringFormatSpec)."""
    import pandas as pd

    from ..operators.deltalog import (
        make_commit,
        make_deletion_vector,
        make_dv_descriptor_inline,
        make_dv_file,
        replay_delta_log,
        resolve_deletion_vector,
        z85_encode,
    )
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_and_replay(it):
        import uuid as _uuid

        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 10 + did % 5

                def rows(j):
                    return 15 + (did + j) % 6

                commits = []
                for c in range(n):
                    acts = []
                    if c == 0:
                        acts.append({"protocol": {"minReaderVersion": 1}})
                    if c >= 2 and c % 4 == 2:
                        j = c - 2
                        r = rows(j)
                        acts.append({"add": {
                            "path": f"f{j}", "size": 90 + j,
                            "numRecords": r,
                            "deletionVector": make_dv_descriptor_inline(
                                [(did + c) % r, (did * 3 + c) % r]
                            ),
                            "dataChange": False,
                        }})
                    acts.append({"add": {
                        "path": f"f{c}", "size": 100 + c,
                        "numRecords": rows(c), "dataChange": True,
                    }})
                    commits.append(make_commit(acts))
                # final commit: file-based DV on f0 (supersedes its
                # inline one) + a DV-free rewrite of f2 (clears its DV)
                r0 = rows(0)
                dv0 = make_deletion_vector(sorted({
                    did % r0, (did + 1) % r0, (did + 7) % r0
                }))
                blob, offs = make_dv_file([dv0])
                uid = _uuid.UUID(int=did * 7919 + 13)
                files = {f"deletion_vector_{uid}.bin": blob}
                final = [
                    {"add": {"path": "f0", "size": 100,
                             "numRecords": r0,
                             "deletionVector": {
                                 "storageType": "u",
                                 "pathOrInlineDv": z85_encode(uid.bytes),
                                 "offset": offs[0],
                                 "sizeInBytes": len(dv0),
                                 "cardinality": len({
                                     did % r0, (did + 1) % r0,
                                     (did + 7) % r0,
                                 }),
                             },
                             "dataChange": False}},
                    {"add": {"path": "f2", "size": 102,
                             "numRecords": rows(2),
                             "dataChange": False}},
                ]
                commits[n - 1] = make_commit(
                    [_a for _a in
                     [*_commit_actions(commits[n - 1])] + final]
                )
                m = replay_delta_log(commits)
                sum_dead = 0
                card = 0
                for p, desc in m["deletion_vectors"].items():
                    pos = resolve_deletion_vector(
                        desc, files.__getitem__
                    )
                    sum_dead += sum(pos)
                    card += len(pos)
                assert card == m["dv_cardinality"]
                out.append(
                    {
                        "doc_id": did,
                        "version": m["version"],
                        "n_live": m["n_live"],
                        "live_rows": m["live_rows"],
                        "dv_cardinality": m["dv_cardinality"],
                        "rows_after_dv": m["live_rows_after_dv"],
                        "sum_dead_pos": sum_dead,
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_replay,
        "doc_id long, version long, n_live long, live_rows long, "
        "dv_cardinality long, rows_after_dv long, sum_dead_pos long",
    )


def _commit_actions(text: str) -> list[dict]:
    import json as _json

    return [_json.loads(ln) for ln in text.splitlines() if ln.strip()]


@register_extra(
    "iceberg_positional_deletes",
    """
    WITH d AS (
        SELECT doc_id, 4 + doc_id % 3 AS n FROM documents
    ),
    f AS (
        SELECT doc_id, n, j,
               CASE WHEN j = 0 THEN 8 + doc_id % 5 + 2
                    ELSE 8 + (doc_id + j) % 5 END AS rows_,
               CASE WHEN j > 0 AND (doc_id + j) % 2 = 0 THEN
                    CASE WHEN (doc_id + j) % (8 + (doc_id + j) % 5)
                            = (doc_id * 3 + j) % (8 + (doc_id + j) % 5)
                         THEN 1 ELSE 2 END
               ELSE 0 END AS ndel
        FROM d, LATERAL (SELECT unnest(range(0, n)) AS j)
    )
    SELECT doc_id,
           CAST(any_value(n) AS BIGINT) AS n_live,
           CAST(sum(rows_) AS BIGINT) AS live_rows,
           CAST(sum(ndel) AS BIGINT) AS n_position_deletes,
           CAST(sum(rows_) - sum(ndel) AS BIGINT) AS rows_after
    FROM f GROUP BY 1
    """,
)
def q_iceberg_positional_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg format-v2 row-level deletes (round 9): per doc a table
    whose snapshot carries a DELETE manifest (content=1) listing a
    REAL parquet position-delete file of (file_path, pos) rows —
    written by pyarrow, fetched and decoded by the hand parquet
    reader — applied under the spec's sequence-number rule: f0 is
    REWRITTEN at sequence 3, so the sequence-2 deletes aimed at it are
    suppressed, while even-keyed files keep theirs (distinct positions
    counted once).  The oracle replays the whole accounting from
    formulas; a sequence-rule or position-dedup bug mismatches exactly
    the affected docs (iceberg.apache.org/spec §Scan Planning)."""
    import pandas as pd

    from ..operators.iceberg import (
        make_manifest,
        make_manifest_list,
        make_position_delete_parquet,
        make_table_metadata,
        snapshot_live_files,
    )
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen_and_scan(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 4 + did % 3

                def rows(j):
                    return 8 + (did + j) % 5

                m1 = make_manifest([
                    {"status": 1, "file_path": f"f{j}",
                     "record_count": rows(j), "file_size": 100 + j}
                    for j in range(n)
                ])
                dels = []
                for j in range(n):
                    if j == 0 or (did + j) % 2 == 0:
                        r = rows(j)
                        dels += [(f"f{j}", (did + j) % r),
                                 (f"f{j}", (did * 3 + j) % r)]
                dfile = make_position_delete_parquet(dels)
                m_del = make_manifest([
                    {"status": 1, "file_path": "del-1.parquet",
                     "record_count": len(dels),
                     "file_size": len(dfile), "content": 1},
                ])
                m2 = make_manifest([
                    {"status": 1, "file_path": "f0",
                     "record_count": rows(0) + 2, "file_size": 200},
                ])
                files = {"m1": m1, "m_del": m_del, "m2": m2,
                         "del-1.parquet": dfile}
                files["ml"] = make_manifest_list([
                    {"manifest_path": "m1", "manifest_length": len(m1),
                     "sequence_number": 1, "added_files_count": n,
                     "existing_files_count": 0,
                     "deleted_files_count": 0},
                    {"manifest_path": "m_del",
                     "manifest_length": len(m_del), "content": 1,
                     "sequence_number": 2, "added_files_count": 1,
                     "existing_files_count": 0,
                     "deleted_files_count": 0},
                    {"manifest_path": "m2", "manifest_length": len(m2),
                     "sequence_number": 3, "added_files_count": 1,
                     "existing_files_count": 0,
                     "deleted_files_count": 0},
                ])
                meta = make_table_metadata({200: "ml"}, current=200)
                snap = snapshot_live_files(meta, files.__getitem__)
                out.append(
                    {
                        "doc_id": did,
                        "n_live": snap["n_live"],
                        "live_rows": snap["live_rows"],
                        "n_position_deletes":
                            snap["n_position_deletes"],
                        "rows_after": snap["live_rows_after_deletes"],
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_scan,
        "doc_id long, n_live long, live_rows long, "
        "n_position_deletes long, rows_after long",
    )


@register_extra(
    "delta_schema_evolution",
    """
    WITH d AS (
        SELECT doc_id, 12 + doc_id % 6 AS n,
               (12 + doc_id % 6) // 2 AS chg,
               3 + doc_id % 3 AS new_fields
        FROM documents
    )
    SELECT doc_id,
           CAST(n - 1 AS BIGINT) AS version,
           CAST(n AS BIGINT) AS n_live,
           CAST(new_fields AS BIGINT) AS cur_n_fields,
           CAST(chg AS BIGINT) AS schema_version,
           CAST(2 AS BIGINT) AS tt_n_fields,
           CAST(0 AS BIGINT) AS tt_schema_version
    FROM d
    """,
)
def q_delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta schema evolution on replay (VERDICT r8 #7): per doc a log
    whose commit 0 sets a 2-field schema and whose MID-LOG commit
    (version n//2) carries an add-column ``metaData`` action growing it
    to 3 + doc_id%3 fields.  The snapshot surfaces the CURRENT schema
    (field count + the version that set it) while a prefix replay
    (time travel to just before the change) surfaces the ORIGINAL
    per-version schema — last-writer-wins for metaData exactly like
    the file set (delta-io PROTOCOL.md; `replay_delta_log`
    schema_json/schema_version)."""
    import json as _json

    import pandas as pd

    from ..operators.deltalog import make_commit, replay_delta_log
    from ..operators.multimodal import _spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def schema_str(nf):
        return _json.dumps({
            "type": "struct",
            "fields": [
                {"name": f"c{k}", "type": "long"} for k in range(nf)
            ],
        }, sort_keys=True, separators=(",", ":"))

    def gen_and_replay(it):
        for pdf in it:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 12 + did % 6
                chg = n // 2
                commits = []
                for c in range(n):
                    acts = []
                    if c == 0:
                        acts += [
                            {"protocol": {"minReaderVersion": 1}},
                            {"metaData": {"id": f"t{did}",
                                          "schemaString": schema_str(2)}},
                        ]
                    if c == chg:
                        acts.append(
                            {"metaData": {"id": f"t{did}",
                                          "schemaString":
                                              schema_str(3 + did % 3)}}
                        )
                    acts.append(
                        {"add": {"path": f"f{c}", "size": 10 + c,
                                 "numRecords": 1, "dataChange": True}}
                    )
                    commits.append(make_commit(acts))
                full = replay_delta_log(commits)
                tt = replay_delta_log(commits[:chg])
                out.append(
                    {
                        "doc_id": did,
                        "version": full["version"],
                        "n_live": full["n_live"],
                        "cur_n_fields": len(
                            _json.loads(full["schema_json"])["fields"]
                        ),
                        "schema_version": full["schema_version"],
                        "tt_n_fields": len(
                            _json.loads(tt["schema_json"])["fields"]
                        ),
                        "tt_schema_version": tt["schema_version"],
                    }
                )
            if out:
                yield pd.DataFrame(out)

    return _spread(docs, "doc_id").mapInPandas(
        gen_and_replay,
        "doc_id long, version long, n_live long, cur_n_fields long, "
        "schema_version long, tt_n_fields long, tt_schema_version long",
    )
