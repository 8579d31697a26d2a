"""Plan-shape regression guard over the full query registry.

An accidental unkeyed join (dropped join condition, broken band/cell
key) appears in the physical plan as CartesianProduct — the one plan
node that cannot survive a 100 TB input. Intentional tiny-side cross
joins (broadcast query sets, 1-row totals) plan as
BroadcastNestedLoopJoin and stay allowed; this test pins the
distinction for every registered query.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entry

# d08 runs its iterative label-propagation rounds during plan
# construction (driver loop inherent to connected components); its
# per-round joins are key-partitioned by design and the full run is
# covered by the operator tests + oracle.
SKIP = {"d08_dedup_clusters"}


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


# Both audits below inspect the SAME plan string per query, and
# building it is the expensive part (some probe queries construct a
# persisted index at plan-build time, 8-13 s each) — build once, share
# across the two parametrized tests. Keyed by (name, sf_dir) within
# one pytest process; plans must not change between the two reads.
_PLAN_CACHE: dict = {}


def _query_plan(spark, sf_dir, name) -> str:
    key = (name, sf_dir)
    if key not in _PLAN_CACHE:
        df = entry.queries()[name](spark, sf_dir)
        _PLAN_CACHE[key] = _physical_plan(df)
    return _PLAN_CACHE[key]


@pytest.mark.parametrize("name", [n for n in entry.queries() if n not in SKIP])
def test_no_cartesian_product(spark, sf_dir, name):
    plan = _query_plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"


# Queries whose plans legitimately cross into Python — ALL via Arrow-
# vectorized pandas_udf/mapInPandas (the allowed escape hatches:
# matmul LSH/IVF bucketing, PQ codes, binary-media decode). Row-wise
# BatchEvalPython is banned everywhere, including these.
VECTORIZED_PYTHON_OK = {
    "d07_embedding_neardup",
    "d11_semantic_clusters",
    "sim02_threshold_pairs",
    "d16_threshold_sensitivity",  # rides sim02's banded-LSH pair plan
    "d13_triangle_count",  # edges come from sim02's banded-LSH pair plan
    "sim03_ann_lsh",
    "sim04_ivf_ann",
    "sim06_pq_ann",
    "sim08_ivfpq_ann",
    "sim09_filtered_ann",
    "sim10_knn_classify",
    "sim11_kmeans_refine",  # with_ivf_cell's batch matmul assignment
    "sim14_ann_recall",  # IVF arm rides with_ivf_cell's batch matmul
    "sim15_trained_ivf_recall",  # same, with trained centroids
    "sim19_probe_sweep",  # five ivf_topk arms over the trained quantizer
    # round 14: cosine_topk's exact arm now plans a vectorized
    # MapInPandas candidate scan (margin top-k prefilter; exact fold on
    # survivors only — see operators/similarity.py:_topk_candidates)
    "sim01_cosine_topk",
    "sim12_hybrid_rrf",
    "sim13_mmr_rerank",
    "sim17_label_purity",
    "mm01_media_features",
    "mm02_frame_sampling",
    "mm03_audio_features",
    "mm04_video_frames",
    "mm05_image_neardup",  # rasterize + dHash decode batches
    "mm06_audio_neardup",  # WAV synth + chromaprint decode batches
    "mm07_shot_boundaries",  # rasterize + all-frame decode batches
    "mm08_shot_keyframes",  # rides mm07's rasterize + decode batches
    "s16_crawl_ingest",  # WARC archive-bytes record parse batches
    "sim20_pq_training_gain",  # with_pq_code batch matmul encoding
    "sim22_shippable_ann",  # with_ivf_cell + with_pq_code batch matmuls
    "warc03_crawl_encodings",  # gzip_bytes fixture + decode_payload
    "sim23_persisted_ivfpq_probe",  # index build's batch matmul encoders
    "sim24_filtered_persisted_ann",  # same index build path, filtered probe
    "d18_semantic_dedup",  # with_ivf_cell batch matmul clustering
    "llm25_semantic_training_funnel",  # with_ivf_cell semantic stage
    "d19_incremental_semantic_dedup",  # same clustering, batch vs index
    "warc02_html_extraction",  # WARC archive-bytes record parse batches
    # _probe_topk plans a vectorized MapInPandas cell-cosine scan
    # (exact seq-order cosine emitted in the scan; per-(query, batch)
    # top-k-safe cut — see operators/similarity.py:_probe_topk and
    # _cell_cosine_scan_fn); these probe queries cross into Python
    # only through it
    "sim16_ivf_index_probe",
    "sim18_trained_index_probe",
    "sim21_incremental_index_probe",
    "sim27_hybrid_persisted_serving",
    "sim34_autosized_retrain",
    "sim35_ann_time_travel",
    "sim37_compacted_time_travel",
    "sim38_torn_epoch_probe",
    "s19_streaming_ann_upserts",
}


@pytest.mark.parametrize("name", [n for n in entry.queries() if n not in SKIP])
def test_udf_policy_no_row_python(spark, sf_dir, name):
    """§2.10 UDF policy as an automated gate, not a grep: no registered
    query may plan a row-at-a-time Python eval (BatchEvalPython), and
    only the declared vectorized set may plan ArrowEvalPython /
    MapInPandas at all."""
    plan = _query_plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, (
        f"{name} plans a row-at-a-time Python UDF:\n{plan}"
    )
    if name not in VECTORIZED_PYTHON_OK:
        for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan, (
                f"{name} unexpectedly crosses into Python ({marker}) — "
                f"add it to VECTORIZED_PYTHON_OK only if the boundary is "
                f"justified:\n{plan}"
            )


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime row-level pruning: when a selective dim side is too big
    to broadcast, Catalyst can inject a bloom filter built from the dim
    keys as a semi-join reduction on the FACT scan (might_contain over
    xxhash64) — at 100 TB this drops non-joining fact rows before the
    shuffle. Thresholds here are forced because the toy dim is tiny;
    production defaults fire exactly in the regime that matters
    (creation side <= 10MB stats, application side >= 10GB)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(sf_dir + "/lineitem.parquet")
        o = spark.read.parquet(sf_dir + "/orders.parquet").where(
            F.col("o_totalprice") > 400000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        # and the filtered result is still correct
        n = j.count()
        want = (
            li.join(F.broadcast(o.hint("broadcast")), li.l_orderkey == o.o_orderkey)
            .count()
        )
        assert n == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# g17/g18/g19 join their candidate pairs back to the full point/box
# tables — relations that grow LINEARLY with the input. A forced
# F.broadcast there is an executor-OOM at 100x data (round-6/7 verdict
# finding); the choice belongs to AQE. This pins the hint's absence in
# the analyzed logical plan (a ResolvedHint node would mark a forced
# strategy).
@pytest.mark.parametrize(
    "name", ["g17_distance_join", "g18_nearest_neighbor", "g19_bbox_iou"]
)
def test_no_forced_broadcast_on_growing_tables(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, f"{name} forces a join strategy"


def test_bucketed_join_plans_shuffle_free(spark, sf_dir):
    """j15's layout claim: both sides bucketed (8, orderkey) and
    bucket-sorted, so a forced SortMergeJoin plans with NO Exchange
    and NO Sort on either side — the bucket files ARE the shuffle
    output, written once instead of per-query."""
    from pyspark.sql import functions as F

    ot, lt = entry._bucketed_tables(spark, sf_dir)
    j = (
        spark.table(lt)
        .hint("merge")
        .join(
            spark.table(ot),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "o_orderpriority")
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    # the layout claim: NO Exchange on either side — the bucket files
    # are the shuffle output. (A per-bucket in-memory Sort remains:
    # Spark only elides it for single-file buckets, and the sort is
    # bucket-local, never a shuffle.)
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan
