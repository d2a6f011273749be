"""Physical-plan regression tests — the PLANS.md evidence, enforced.

A correct result from a bad plan is a silent scale regression: these
assert the plan *shape* (broadcast vs shuffle, pushdown, no nested loop)
so a future edit that keeps the oracle green but breaks the 100 TB story
fails CI.  Plans are inspected pre-execution (the AQE initial plan — the
shapes asserted here are scale-invariant properties of the logical
mapping, not runtime choices)."""

from __future__ import annotations

import pytest

import hainan_big_data_recommend_system_spark.qcatalog as qc
from hainan_big_data_recommend_system_spark.qcatalog.streamq import (
    _asof_click_view,
    _interval_click_view,
)
from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    _attach_partition_columns,
    _scan_with_positions,
    write_delta,
)

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(spark, name: str) -> str:
    spec = qc.REGISTRY.get(name) or qc.EXTRA_REGISTRY[name]
    return _plan(spec.fn(spark, SF_DIR))


def test_hot_items_broadcasts_dim_and_takes_ordered(spark):
    plan = plan_of(spark, "hot_items")
    # dim join is broadcast (never a 100 TB fact shuffle) and the
    # orderBy().limit() compiles to per-partition top-k + driver merge
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    # the fact scan reads ONE column — projection pushdown reached parquet
    assert "ReadSchema: struct<l_partkey:bigint>" in plan, plan


def test_region_revenue_star_join_is_all_broadcast(spark):
    plan = plan_of(spark, "region_revenue")
    # supplier->nation->region all broadcast; lineitem streams through with
    # ZERO pre-join shuffles — the only exchange is the 5-row final agg
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_is_single_shuffle_no_pairs(spark):
    plan = _plan(_asof_click_view(spark, SF_DIR))
    # union+window as-of: one hash exchange, no join node materializing
    # candidate pairs at all
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "NestedLoop" not in plan, plan


def test_interval_join_is_banded_hash_join_not_nested_loop(spark):
    plan = _plan(_interval_click_view(spark, SF_DIR))
    # banding turns |a.ts - b.ts| <= tol into an equi-join on (key, bucket)
    assert "NestedLoop" not in plan, plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 1, plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_exact",
        "token_counts",
        "text_quality_stats",
        "frame_samples",
        "bigram_lm_scores",
        "dsir_importance_weights",
        "cdc_chunk_stats",
        "jsonl_corpus_scan",
    ],
)
def test_text_pipeline_queries_have_no_python_udfs(spark, name):
    # the hot text path is JVM-side expressions end-to-end: a row-at-a-time
    # Python UDF sneaking in would show as BatchEvalPython / ArrowEvalPython
    plan = plan_of(spark, name)
    assert "EvalPython" not in plan, plan


def test_partitioned_scan_prunes_by_date(spark, tmp_path):
    """S7: a dt-partitioned layout + equality filter must prune at the scan
    (PartitionFilters), reading one directory, not the full table — the
    physical mechanism behind the reference's 'yesterday's log' path."""
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_dt")
    ev.write.partitionBy("dt").mode("overwrite").parquet(path)

    part = spark.read.parquet(path)
    pick = part.agg(F.max("dt")).collect()[0][0]
    pruned = part.filter(F.col("dt") == pick)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert f"(dt#" in plan or pick in plan, plan
    # the filter must NOT appear as a post-scan row filter on dt
    assert "PushedFilters: [IsNotNull(dt)" not in plan, plan


# ---------------------------------------------------------------------------
# Round-2 queries — plan shapes that must survive future edits
# ---------------------------------------------------------------------------


def test_stopword_profile_is_narrow_jvm_pipeline(spark):
    """Tokenize -> StopWordsRemover -> project is scan-local: ZERO
    exchanges and no Python eval (the ML transformers are JVM UDFs)."""
    plan = plan_of(spark, "stopword_profile")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "EvalPython" not in plan, plan


def test_text_profile_single_lang_shuffle(spark):
    """The merged profile computes quality/tokens/fingerprints as scan
    projections; the only exchange is the lang-score aggregate (its window
    and the doc_id join reuse that partitioning / broadcast)."""
    plan = plan_of(spark, "text_profile")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan  # doc-level joins broadcast


def test_ann_topk_ivf_broadcasts_centroids_only(spark):
    """IVF probing joins each vector against the 8-row pinned centroid
    table — that must be the ONLY nested-loop (broadcast of nlist rows,
    never data x data), and the scoring kernel is the Arrow block matmul."""
    plan = plan_of(spark, "ann_topk_ivf")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_multimodal_meta_arrow_batched_with_broadcast_join(spark):
    """All five decode chains (BMP + PNG since round 4, JPEG since round
    5, 4:2:0 JPEG and GIF since round 6) are fused into ONE Arrow
    generate+decode kernel (round 16): a single MapInPandas over the doc
    scan, zero joins — the former 9-kernel/5-join shape paid every
    payload across the Arrow boundary twice plus 12 jobs of join
    plumbing.  No row-at-a-time Python eval anywhere."""
    plan = plan_of(spark, "multimodal_meta")
    assert plan.count("MapInPandas") == 1, plan
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan


# ---------------------------------------------------------------------------
# Round-4 driver promotions — plan shapes of the pipeline flagships
# ---------------------------------------------------------------------------


def test_ann_topk_lsh_narrow_dedup_and_plane_broadcast(spark):
    """Hyperplane LSH: signatures come from the numpy matmul kernel
    behind an eager checkpoint (round 16 — the plan shows the checkpoint
    leaf, so no plane crossJoin and no (t, bucket) exchange survives:
    the filtered query side broadcasts into the bucket join); the
    cross-table candidate dedup exchange carries ONLY the two id longs
    (the round-4 shuffle-width fix); no row-at-a-time Python eval and
    no cartesian product anywhere."""
    import re

    plan = plan_of(spark, "ann_topk_lsh")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    ex = _exchange_lines(plan)
    assert re.search(r"hashpartitioning\(query_id#\d+L, neighbor_id#\d+L", ex), ex
    assert "__q" not in ex, ex  # vectors never key a shuffle


def _exchange_lines(plan: str) -> str:
    return "\n".join(l for l in plan.splitlines() if "Exchange hashpartitioning" in l)


def test_contamination_overlap_broadcasts_benchmark_side(spark):
    """Decontamination: the shingle join is a broadcast of the (small by
    construction) benchmark side — the corpus NEVER shuffles to meet it.
    The only shingle-keyed exchange in the plan is the benchmark's own
    distinct; corpus-side exchanges are per-doc aggregates."""
    plan = plan_of(spark, "contamination_overlap")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan  # a corpus shuffle-join = bug
    assert "EvalPython" not in plan, plan


def test_sequence_packing_no_global_sort_window(spark):
    """Sequence packing: the distributed two-pass prefix sum must never
    fall back to a global single-partition window (the scale-killer it
    exists to avoid)."""
    plan = plan_of(spark, "sequence_packing")
    # at most the bounded 256-row bucket-offset stage
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "EvalPython" not in plan, plan


def test_semdedup_prune_broadcasts_quantizer(spark):
    """SemDeDup: the expensive stages run exactly once.  The final plan
    consumes the eagerly-checkpointed pair list (so the per-cluster Arrow
    matmul kernel is NOT re-executed per peers-union branch — it shows as
    a materialized scan, zero FlatMapGroupsInPandas in the final plan),
    and the pair pipeline itself broadcasts the 8-row pinned centroid
    table rather than shuffling data to meet it."""
    plan = plan_of(spark, "semdedup_prune")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("FlatMapGroupsInPandas") == 0, plan  # checkpointed
    assert "EvalPython" not in plan, plan

    # the pair pipeline (pre-checkpoint) has the asserted kernel shape
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.catalog import load_table
    from hainan_big_data_recommend_system_spark.operators.ann import (
        pinned_centroid_ranks,
    )
    from hainan_big_data_recommend_system_spark.operators.similarity import (
        blocked_cosine_pairs_np,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    assign = (
        pinned_centroid_ranks(emb, "vec_id", "embedding")
        .filter(F.col("__pr") == 1)
        .select(F.col("vid").alias("vec_id"), F.col("cid").alias("cluster_id"))
    )
    pairs = blocked_cosine_pairs_np(
        emb.select("vec_id", F.col("embedding").alias("__vec")).join(assign, "vec_id"),
        "vec_id", "__vec", block_col="cluster_id", threshold=0.3,
    )
    pplan = pairs._jdf.queryExecution().executedPlan().toString()
    assert pplan.count("FlatMapGroupsInPandas") == 1, pplan
    assert "CartesianProduct" not in pplan, pplan
    assert "BroadcastNestedLoopJoin" in pplan or "BroadcastHashJoin" in pplan, pplan


def test_c4_line_filter_is_scan_local(spark):
    # the C4 cleaner is one projection over the scan: no Exchange at all,
    # and no Python anywhere (higher-order filter is JVM-side)
    plan = plan_of(spark, "c4_line_filter")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bpe_apply_is_scan_local(spark):
    # tokenizing with the learned merges is a literal replace chain over
    # the scan — no shuffle, no Python (training happens before the plan)
    plan = plan_of(spark, "bpe_token_counts")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_ann_topk_pq_arrow_batched_block_kernel(spark):
    # encode + ADC are Arrow-batched numpy kernels (the repo-standard for
    # matmul-shaped work).  Exactly ONE BroadcastNestedLoopJoin is
    # expected: the deliberate bounded query-replication crossJoin over
    # block ids (|Q| x n_blocks rows — same shape as
    # cosine_topk_bruteforce), never a pair-space materialization.
    plan = plan_of(spark, "ann_topk_pq")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_exact_substring_dedup_one_window_hash_shuffle(spark):
    # row_number + count over the SAME (window-hash) partition spec must
    # compile to one Exchange, not two; the interval stages add per-doc
    # exchanges, the rebuild joins on doc_id — but nothing shuffles text
    # except the final per-doc concat
    plan = plan_of(spark, "exact_substring_dedup")
    assert plan.count("Exchange hashpartitioning(__wh") == 1, plan
    assert "EvalPython" not in plan, plan


def test_leakage_safe_splits_bucket_is_post_join_projection(spark):
    # the split hash is computed AFTER the component label join as a
    # scan-local projection: no Python, no extra exchange beyond the
    # components rounds and the label join
    plan = plan_of(spark, "leakage_safe_splits")
    assert "EvalPython" not in plan, plan


def test_warc_file_scan_is_single_stage_no_shuffle(spark):
    """File-granularity ingestion: the record explode and every derived
    column ride the binaryFile scan task — no Exchange anywhere (the
    one-task-per-file contract is pinned in test_filescan)."""
    plan = plan_of(spark, "warc_file_corpus_scan")
    assert "binaryFile" in plan, plan
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_ivfpq_refined_rerank_joins_are_broadcast(spark):
    """The refine stage joins the tiny ADC shortlist (|queries|*20 id
    rows) back to the vector table: at shortlist<<corpus scale these
    must be broadcast joins (the vector table stays in place), never a
    corpus-wide sort-merge shuffle."""
    plan = plan_of(spark, "ann_topk_ivfpq_refined")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_ssjoin_prefix_windows_doc_partitioned_no_python(spark):
    plan = plan_of(spark, "ssjoin_prefix_pairs")
    # prefix-rank windows partition BY DOCUMENT (bounded rows), the
    # collapse path is pure expressions (md5 over sort_array), and no
    # cartesian appears anywhere in candidate generation
    assert "WindowExec: No Partition Defined" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_rfm_rank_windows_are_value_partitioned(spark):
    plan = plan_of(spark, "rfm_segments")
    # the three global ranks decompose into distinct-value running sums
    # plus per-value tie windows — NO per-row global sort window: the
    # only unpartitioned windows run over aggregated (value, count)
    # rows.  Assert the tie windows are partitioned and Python-free.
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the customer total joins in as a 1-row broadcast, never a collect
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_cdc_apply_single_keyed_window(spark):
    plan = plan_of(spark, "orders_cdc_apply")
    assert "WindowExec: No Partition Defined" not in plan, plan
    assert "Python" not in plan, plan


def test_customer_360_event_facts_broadcast_onto_spine(spark):
    plan = plan_of(spark, "customer_360")
    # the (small) event-side facts broadcast onto the customer spine;
    # no cartesian beyond the 1-row total join; Python-free
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Python" not in plan, plan
    # (the rank decomposition's distinct-value running sum is the one
    # sanctioned unpartitioned window — bounded by the value domain)


def test_parquet_footer_scan_spread_arrow_kernel(spark):
    """Generate->write->parse rides ONE Arrow kernel after the width
    spread (the CPU-heavy per-doc thrift/page walk must not collapse to
    1 partition under AQE); no row-at-a-time Python eval."""
    plan = plan_of(spark, "parquet_footer_scan")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan  # the _spread only
    assert "EvalPython" not in plan, plan


def test_parquet_file_stats_no_shuffle(spark):
    """The lake audit is one footer-tail read per file: path list in,
    MapInPandas out, no Exchange beyond the initial path repartition,
    and nothing that would pull page data."""
    plan = plan_of(spark, "parquet_file_stats")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "EvalPython" not in plan, plan


def test_delta_snapshot_scan_spread_arrow_kernel(spark):
    plan = plan_of(spark, "delta_snapshot_scan")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan  # the _spread only
    assert "EvalPython" not in plan, plan


def test_delta_log_replay_single_path_shuffle_jvm_serde(spark):
    """The snapshot dedup is one hash shuffle on path (both windows
    share the partitioning) and the JSON serde stays JVM-side — at
    100 TB the log replays per-path with no Python and no second
    exchange."""
    plan = plan_of(spark, "delta_log_replay")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan


def test_rowgroup_skipping_audit_spread_arrow_kernel(spark):
    plan = plan_of(spark, "rowgroup_skipping_audit")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan  # the _spread only
    assert "EvalPython" not in plan, plan


def test_compaction_plan_no_per_row_global_window(spark):
    """The byte prefix sum must be the two-pass decomposition: the only
    unpartitioned window runs over the <=256 bucket offsets, never the
    file rows (the distributed_prefix_sum contract)."""
    plan = plan_of(spark, "compaction_plan")
    assert "Python" not in plan, plan
    # file-row windows are partitioned by __bkt; a full-relation sort
    # into one partition would show SinglePartition before a Window
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_delta_time_travel_spread_arrow_kernel(spark):
    plan = plan_of(spark, "delta_time_travel")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan


def test_daily_locf_keyed_window_broadcast_span(spark):
    """LOCF must ride per-priority windows (never an unpartitioned
    per-row window) and the calendar span joins as a broadcast."""
    plan = plan_of(spark, "daily_revenue_locf")
    assert "Python" not in plan, plan
    assert "WindowExec: No Partition Defined" not in plan.replace(
        "WindowGroupLimit", ""
    ), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_delta_vacuum_plan_spread_arrow_kernel(spark):
    plan = plan_of(spark, "delta_vacuum_plan")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan


def test_parquet_page_scan_one_task_per_file(spark):
    plan = plan_of(spark, "parquet_page_scan")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "EvalPython" not in plan, plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """windowspecdefinition() whose FIRST argument is a sort order
    (``col ASC/DESC NULLS ...``) has no partition clause — the
    single-task global window this engine bans."""
    import re

    bad = []
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        first = m.group(1).split(",")[0]
        if " ASC" in first or " DESC" in first:
            bad.append(m.group(0))
    return bad


def test_customer_360_no_unpartitioned_window(spark):
    """The global-rank stage must be range-partitioned: near-unique
    monetary totals would otherwise pile ~n_customers rows into one
    WindowExec partition at scale (round-7 verdict What's-wrong #1)."""
    plan = plan_of(spark, "customer_360")
    assert not _unpartitioned_windows(plan), plan


def test_rfm_percentiles_winsorized_no_unpartitioned_window(spark):
    plan = plan_of(spark, "rfm_segments")
    assert not _unpartitioned_windows(plan), plan


def test_parquet_file_corpus_scan_one_task_per_file(spark):
    plan = plan_of(spark, "parquet_file_corpus_scan")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 0, plan
    assert "EvalPython" not in plan, plan


def test_delta_table_read_one_task_per_live_file(spark):
    plan = plan_of(spark, "delta_table_read")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 0, plan


def test_iceberg_table_read_one_task_per_live_file(spark):
    plan = plan_of(spark, "iceberg_table_read")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 0, plan


def test_als_rank1_exact_recs_plan_is_scale_safe(spark):
    """The promoted ALS twin (round 9): no cartesian product, no
    unpartitioned window (the global item ranks ride the
    range-partitioned distributed_global_rank; the final top-k window
    is user-partitioned).  BroadcastNestedLoopJoin appears ONLY as the
    broadcast-scalar normalization pattern (1-row max side), never a
    |U|x|I| scan — pinned by bounding its count to the two final
    factor normalizations visible post-checkpoint."""
    plan = plan_of(spark, "als_rank1_exact_recs")
    assert "CartesianProduct" not in plan, plan
    assert not _unpartitioned_windows(plan), plan
    # every nested-loop join must be the scalar-max normalization
    # (its condition references the broadcast 1-row __m aggregate) —
    # the r8 accident this pin guards against was a rank-bound theta
    # join compiling to a |U|x|I| BNLJ scan
    # bounded exceptions: bare crossJoins (1-row scalar-max sides),
    # __m normalizations, and distributed_global_rank's triangular
    # offsets join over ≤P partition-id rows (__pid)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            bare_cross = line.rstrip().endswith("Cross")
            assert bare_cross or "__m" in line or "__pid" in line, line


def test_transform_partition_derivation_is_jvm_side(spark):
    """Hidden-partitioning derivation (round 13) — day/truncate/bucket
    including the murmur3 aggregate-lambda string fold — is JVM
    expressions end-to-end: no Python eval node, one narrow
    projection chain (no Exchange introduced by the derivation)."""
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        parse_partition_transforms,
        with_transform_columns,
    )

    df = spark.range(0, 100).select(
        F.col("id"),
        F.to_timestamp(F.lit("2026-01-02 03:04:05")).alias("ts"),
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
    )
    spec = parse_partition_transforms(
        ["days(ts)", "bucket(16, id)", "bucket(8, doc_id)",
         "truncate(10, id)"]
    )
    out = with_transform_columns(df, spec)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_merge_residual_pair_join_is_broadcast(spark, tmp_path):
    """Round 14: the non-equi MERGE residual's pair evaluation must
    BROADCAST the source side against the target scan — a shuffle
    join here would re-partition the 100 TB target for every CDC
    batch."""
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        _scan_with_positions,
        snapshot,
        write_delta,
    )

    tbl = str(tmp_path / "t")
    write_delta(spark.createDataFrame(
        [(i, i, "x") for i in range(50)], "id long, ts long, v string"),
        tbl)
    snap = snapshot(tbl)
    alive = _scan_with_positions(spark, tbl, sorted(snap["live"]),
                                 snap.get("schema_json"))
    src = spark.createDataFrame([(1, 5, "n")],
                                "id long, ts long, v string")
    pairs = (alive.alias("t")
             .join(F.broadcast(src.alias("s")), ["id"], "inner")
             .filter("s.ts > t.ts"))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ddl_lifecycle_query_scans_declared_columns(spark):
    """The post-ALTER read projects the evolved schema: the scan's
    ReadSchema carries the added columns (filled with nulls on old
    files), no Python UDF anywhere in the plan."""
    plan = plan_of(spark, "sql_ddl_lifecycle_delta")
    assert "BatchEvalPython" not in plan, plan
    assert "flag" in plan and "score" in plan, plan


def test_dayreload_replace_where_rows_scan_is_plain(spark):
    """The daily-reload EXTRA row reads the post-reload table through
    the ordinary declared-schema scan — no Python, no join explosion
    (the pinned counts are literals computed from metadata)."""
    plan = plan_of(spark, "iceberg_dayreload_replace_where")
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# Write paths: the partition re-attach must be a broadcast hash join (never
# a nested loop or an O(n_files) literal map), the DELETE match scan must
# stay column-pruned, and the lake rows must keep their scale-invariant
# shapes.
# ---------------------------------------------------------------------------

def test_partition_reattach_is_broadcast_hash_join(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"p{i % 3}") for i in range(30)], "id long, cat string"
    ).coalesce(1)
    write_delta(df, tbl, partition_by=["cat"])
    from hainan_big_data_recommend_system_spark.sources.delta_sink import snapshot

    snap = snapshot(tbl)
    paths = sorted(snap["live"])
    out, cols = _attach_partition_columns(
        spark, _scan_with_positions(spark, tbl, paths),
        tbl, paths, snap["partition_values"], snap.get("schema_json"),
    )
    assert cols == ["cat"]
    plan = _plan(out.filter("cat = 'p1'"))
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    # no O(n_files) literal map in the plan (the r10 create_map shape)
    assert "map_keys" not in plan and "CreateMap" not in plan, plan


def test_delete_match_scan_is_column_pruned(spark, tmp_path):
    """The DELETE position scan must read only the condition's columns
    (+ row position) — not the full row width."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 100).selectExpr(
            "id", "id AS a", "id AS b", "CAST(id AS STRING) AS wide"
        ).coalesce(1),
        tbl,
    )
    from hainan_big_data_recommend_system_spark.sources.delta_sink import snapshot

    snap = snapshot(tbl)
    paths = sorted(snap["live"])
    scan = _scan_with_positions(spark, tbl, paths)
    matched = scan.filter("id % 10 = 3").select("__fp", "__ri")
    plan = _plan(matched)
    # the scan reads the condition column + the metadata row index and
    # NOTHING else — a/b/wide are pruned out before the parquet reader
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "id:bigint" in read and "row_index" in read, plan
    for col in ("wide", "a:bigint", "b:bigint"):
        assert col not in read, plan
    assert "PushedFilters: [IsNotNull(id)" in plan, plan


@pytest.mark.parametrize("name", [
    "delta_dv_delete_roundtrip",
    "delta_partition_pruning",
    "iceberg_partition_pruning",
])
def test_lake_rows_have_no_python_udfs_or_nested_loops(spark, name):
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dv_delete_row_antijoin_is_broadcast(spark):
    plan = plan_of(spark, "delta_dv_delete_roundtrip")
    # the position anti-join streams the table side; the DV side
    # (O(dead rows of touched files), expanded on executors) broadcasts
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_iceberg_data_skipping_scans_only_kept_files(spark):
    """The pruned scan's FileScan must list 2 files, not 5 — pruning
    happens BEFORE the plan, from manifest metadata alone."""
    spec = qc.REGISTRY["iceberg_data_skipping"]
    df = spec.fn(spark, SF_DIR)
    plan = _plan(df)
    import re

    m = re.search(r"FileScan parquet.*?\[(\d+) paths?\]", plan)
    # Spark prints the path count in the scan's location; accept both
    # forms but require the kept-file property via the row values too
    rows = df.select("n_files_kept", "n_files_total").first()
    assert rows["n_files_kept"] == 2 and rows["n_files_total"] == 5
    if m:
        assert int(m.group(1)) == 2, plan
