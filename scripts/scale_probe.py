#!/usr/bin/env python3
"""Scale-slope probe: replicate the sf0.1 tables 10x (ids offset so keys
stay unique and join fan-outs stay realistic) and time a representative
subset of the catalog at both scales.  A query whose time grows ~10x is
linear (shuffle/scan bound); sub-linear growth means the sf0.1 number is
fixed-overhead dominated; super-linear growth is the red flag the probe
exists to catch (a pair blowup or skew collapse that small-SF testing
hides).

Writes replicas under .scale_tmp/ (gitignored); results go to stdout as
one JSON line.  Findings are recorded in PLANS.md §10.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hainan_big_data_recommend_system_spark.catalog import TABLES, load_table  # noqa: E402
from hainan_big_data_recommend_system_spark.qcatalog import EXTRA_REGISTRY, REGISTRY  # noqa: E402
from hainan_big_data_recommend_system_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_tmp", "sf1")
FACTOR = 10

# id columns to offset per table so replicas don't collide (foreign keys
# offset consistently, so join cardinality per key is preserved)
ID_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # dims joined by every replica stay as-is: offsetting supplier without
    # also offsetting lineitem.l_suppkey would leave 9 replicas dangling
    # and corrupt the join fan-out the probe is supposed to preserve
    "supplier": [],
    "part": [],
    "nation": [],
    "region": [],
}

QUERIES = [
    "hot_items",
    "minhash_lsh_buckets",
    "dedup_components",
    "token_counts",
    "text_profile",
    "stopword_profile",
    "minhash_verified_pairs",
    # round-4 additions (VERDICT r3 #4): the promoted pipeline flagships
    "sequence_packing",
    "dup_ngram_coverage",
    "semdedup_prune",
    "ann_topk_lsh",
    # round-5 additions.  NOTE on the replica texture: replicas duplicate
    # document TEXT verbatim (ids offset), so duplicate-finding queries
    # (image_neardup_phash, fuzzy_title_pairs) see every title as a
    # 10-clique and their OUTPUT grows ~x100 — that is the operator doing
    # its job on a corpus with 10x duplication, not a plan blowup; judge
    # their slopes against that baseline, not against 10x.
    "multimodal_meta",
    "image_neardup_phash",
    "html_extract_main",
    "mixture_sample_temperature",
    "quality_classifier_scores",
    "zorder_layout_orders",
    "contamination_overlap_bloom",
    "fuzzy_title_pairs",
    "dup_graph_pagerank",
    # round-5 session-2 additions.  exact_substring_dedup on the replica
    # texture sees every doc as a 10-clique of itself (same caveat as the
    # near-dup queries above): replicas 2..10 of every doc empty out, so
    # its work is dominated by the window-hash shuffle, which is linear.
    "c4_line_filter",
    "leakage_safe_splits",
    "bpe_merge_training",
    "ann_topk_pq",
    "exact_substring_dedup",
    "bigram_lm_scores",
    "dsir_importance_weights",
    "cdc_chunk_stats",
    "jsonl_corpus_scan",
    "span_corruption_pairs",
    "fim_transform",
    # round-6 additions: progressive decode, oracled sketches, URL dedup,
    # decayed popularity (pipeline-ledger slope is covered by the
    # corpus_pipeline 10x result in PLANS)
    "jpeg_progressive_meta",
    "url_canonical_dedup",
    "gif_meta",
    "warc_corpus_scan",
    "archive_corpus_scan",
    "weighted_sample_docs",
    "kn_bigram_lm_scores",
    "source_quality_report",
    # round-7: file-granularity container ingestion (fixed 8-shard
    # oracle layout — records/file grows 10x here; the more-FILES axis
    # is measured separately by filescan_probe below)
    "warc_file_corpus_scan",
    "archive_file_corpus_scan",
    # round-7 session-2 additions: refined ANN, HLL regime switch, VBR
    # walk, and the ingest-fed pipeline composition
    "ann_topk_ivfpq_refined",
    "corpus_pipeline_ledger",
    "warc_revisit_scan",
    "warc_http_decoding_scan",
    "unicode_normalize_scan",
    "site_boilerplate_scrub",
    "document_chunks",
    # round-7 session-3: behavioral analytics + real-world media formats
    "funnel_user_paths",
    # replica-texture caveat applies (near-dup output grows ~x100 on
    # duplicated text, like fuzzy_title_pairs): judge vs that baseline
    "ssjoin_prefix_pairs",
    "pb_log_scan",
    "avro_container_scan",
    "event_transition_matrix",
    "event_interarrival_stats",
    "rfm_segments",
    "orders_cdc_apply",
    "readability_scores",
    "hashed_features",
    "data_quality_report",
    "frequent_event_paths",
    "customer_360",
    "sitemap_scan",
    "compressed_text_scan",
    "uuid7_time_scan",
    "access_log_scan",
    # round-7 session-5: the lake-format surface
    "parquet_footer_scan",
    "parquet_file_stats",
    "delta_snapshot_scan",
    "delta_log_replay",
    "rowgroup_skipping_audit",
    "compaction_plan",
    "delta_time_travel",
    "daily_revenue_locf",
    "delta_vacuum_plan",
    "parquet_page_scan",
]


def filescan_probe(spark) -> dict:
    """The 10x-more-files axis of container ingestion (VERDICT r6 #1):
    same records-per-file, 10x the file count — the shape a growing
    crawl actually has (Common Crawl adds shards, not shard size).
    Writes n files with ~625 docs each via the distributed sink, then
    times the binaryFile->mapInPandas record explode.  Linear-or-better
    slope means the per-file task model holds as the directory grows."""
    from pyspark.sql import functions as FF

    from hainan_big_data_recommend_system_spark.sources.files import (
        read_container_records,
        write_container_shards,
    )

    out: dict = {}
    for label, sf_dir, n_shards in [("sf0.1", BASE, 8), ("sf1", OUT, 80)]:
        docs = load_table(spark, sf_dir, "documents").select(
            (FF.col("doc_id") % n_shards).alias("shard"),
            FF.format_string("https://corpus.example/%011d", "doc_id").alias(
                "name"
            ),
            FF.col("text").cast("binary").alias("body"),
        )
        d = os.path.join(OUT, f"..{os.sep}filescan_{label}")
        import shutil as _sh

        _sh.rmtree(d, ignore_errors=True)
        write_container_shards(
            docs, d, "warc", n_shards=n_shards, shard_col="shard"
        ).collect()
        t0 = time.perf_counter()
        n = read_container_records(spark, d, "warc").count()
        out[label] = {"files": n_shards, "records": n,
                      "sec": round(time.perf_counter() - t0, 2)}
        print(f"# filescan {label}: {out[label]}", file=sys.stderr)
    out["slope"] = round(out["sf1"]["sec"] / out["sf0.1"]["sec"], 2)
    return out


def build_replicas(spark) -> None:
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(OUT, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        df = load_table(spark, BASE, t)
        ids = ID_COLS.get(t, [])
        if not ids:
            df.write.mode("overwrite").parquet(dst)
            continue
        span = 10_000_000_000
        parts = []
        for r in range(FACTOR):
            rep = df
            for c in ids:
                rep = rep.withColumn(c, F.col(c) + F.lit(r * span))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(dst)


def knob_probes(spark) -> dict:
    """Approximate-index knob sweeps (VERDICT r3 #4): a data-INDEPENDENT
    index with fixed geometry goes quadratic when the data scales under
    it — bucket population ∝ n for LSH with fixed ``bits``, cluster size
    ∝ n for SemDeDup with fixed ``nlist``.  The fix at scale is the knob,
    not the operator: more bits / more centroids.  This probe measures
    both the degradation and the knob restoring it."""
    from hainan_big_data_recommend_system_spark.operators.lsh import (
        lsh_signatures,
        lsh_topk_pinned,
        pinned_hyperplanes,
    )
    from hainan_big_data_recommend_system_spark.operators.semdedup import semdedup
    from hainan_big_data_recommend_system_spark.operators.similarity import (
        quantize_vec,
    )

    out: dict = {}
    for label, sf_dir in [("sf0.1", BASE), ("sf1", OUT)]:
        emb = load_table(spark, sf_dir, "embeddings")
        for bits in (6, 9):
            planes = pinned_hyperplanes(16, bits, 64)
            occ = (
                lsh_signatures(emb, "vec_id", "embedding", planes)
                .groupBy("t", "bucket")
                .count()
            )
            stats = occ.agg(
                F.max("count").alias("mx"),
                F.avg("count").alias("avg"),
                F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
            ).collect()[0]
            t0 = time.perf_counter()
            lsh_topk_pinned(
                emb, "vec_id", "embedding", k=5, n_tables=16, bits=bits,
                query_filter=F.col("query_id") % 4 == 0,
            ).write.format("noop").mode("overwrite").save()
            out[f"lsh_{label}_bits{bits}"] = {
                "max_bucket": int(stats["mx"]),
                "mean_bucket": round(float(stats["avg"]), 1),
                "pair_work": int(stats["sum_sq"]),  # Σ bucket² ∝ candidates
                "sec": round(time.perf_counter() - t0, 2),
            }
        for nlist in (8, 32):
            cents = None
            if nlist != 8:
                # deterministic subsample quantizer: every k-th vector —
                # no fit needed, the point is cluster-size bounding
                rows = (
                    emb.orderBy("vec_id")
                    .select(quantize_vec(F.col("embedding")).alias("qv"))
                    .limit(4000)
                    .collect()
                )
                step = max(len(rows) // nlist, 1)
                cents = [list(r["qv"]) for r in rows[::step][:nlist]]
            t0 = time.perf_counter()
            semdedup(
                emb, "vec_id", "embedding", threshold=0.3, centroids=cents
            ).write.format("noop").mode("overwrite").save()
            out[f"semdedup_{label}_nlist{nlist}"] = round(
                time.perf_counter() - t0, 2
            )
        print(f"# knobs {label}: {out}", file=sys.stderr)
    return out


def main() -> None:
    spark = get_spark(app_name="scale_probe")
    # cold staged-dedup dir: the stage build is part of the measured cost
    import shutil

    shutil.rmtree(
        os.environ.get("SPARK_GRAFT_STAGE_DIR", "/tmp/spark_graft_stage"),
        ignore_errors=True,
    )
    build_replicas(spark)
    results = {}
    # argv selects a subset (e.g. just-landed queries); default = all
    names = sys.argv[1:] or QUERIES
    for name in names:
        row = {}
        for label, sf_dir in [("sf0.1", BASE), ("sf1", OUT)]:
            t0 = time.perf_counter()
            spec = REGISTRY.get(name) or EXTRA_REGISTRY[name]
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            row[label] = round(time.perf_counter() - t0, 2)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        row["slope"] = round(row["sf1"] / row["sf0.1"], 2)
        results[name] = row
        print(f"# {name}: {row}", file=sys.stderr)
    if not sys.argv[1:]:  # knob sweeps only on the full run
        results["knobs"] = knob_probes(spark)
        results["filescan"] = filescan_probe(spark)
    elif "warc_file_corpus_scan" in names:
        results["filescan"] = filescan_probe(spark)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
