"""Dump formatted physical plans of registered queries.

Evidence for the plan properties claimed in SCALE.md: column pruning
(ReadSchema), predicate pushdown (PushedFilters), broadcast joins, and
exchange reuse. Run after any plan-shape change; output goes only into
the directory given:

    python tools/dump_plans.py <out_dir>             # SHOWCASE -> <out_dir>/PLANS.md
    python tools/dump_plans.py <out_dir> <query ...> # <out_dir>/<query>.txt

The second form snapshots the named queries one file each, e.g. a
before set at one commit and an after set at the next, to diff. Plan
dumps are not committed: regenerate them at the commits you compare.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from geosparql_etl_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("q01_pricing_summary", "pushdown + partial aggregation"),
    ("j01_multikey_equijoin", "multi-key join strategy left to Catalyst/AQE"),
    ("q02_shipping_priority", "TPC-H Q3 shape: pushdown + broadcast after selective filter + TakeOrderedAndProject top-k"),
    ("q03_local_supplier_volume", "TPC-H Q5 shape: 6-table join, dims broadcast, reordering left to Catalyst/AQE"),
    ("j02_broadcast_lookup", "explicit broadcast dims — no fact shuffle"),
    ("j06_anti_join", "ledger anti-join"),
    ("w01_batch_window", "batch window partitioned on group keys"),
    ("d04_ngram_jaccard", "inverted-index self-join on shared shingles"),
    ("sim01_cosine_topk", "broadcast queries, corpus scanned once"),
    ("s05_attribution_join", "event-time-bounded interval join"),
    ("llm01_corpus_curation", "full curation composition: one scan, two shuffles"),
    ("llm04_sequence_packing", "token-budget packing: one window + one agg"),
    ("g15_spatial_join", "grid-cell equi-join, no cartesian product"),
    ("txt10_tfidf_topterms", "vocab-sized df join, per-doc ranking window"),
    ("w04_global_rank", "global ordering via bucketed offsets, no global window"),
    ("sim06_pq_ann", "PQ codes + native reconstruct-and-score, queries broadcast"),
    ("llm06_incremental_dedup", "batch-vs-corpus anti-join, corpus never self-paired"),
    ("d10_containment_pairs", "directed containment off the same inverted-index core as d04"),
    ("txt12_surprisal", "vocab-sized unigram join + broadcast 1-row total, no Python boundary"),
    ("llm09_data_mixture", "mixture rates from tiny aggregates, broadcast back, hash-threshold filter"),
    ("sim09_filtered_ann", "metadata pre-filter semi-join BEFORE cell bucketing"),
    ("llm10_gopher_quality", "per-row rule columns: scan-speed, zero shuffle, zero Python"),
    ("txt13_char_entropy", "explode + two-level agg; partial aggregation bounds the shuffle at docs x alphabet"),
    ("s09_retention_cohorts", "one corpus shuffle (user window); rate window over the tiny aggregate"),
    ("sim10_knn_classify", "label rides IVF candidates (carry_cols) — corpus scanned once, probes broadcast"),
    ("j12_snapshot_diff", "MERGE shape: one full-outer join on the key, both snapshots shuffle once"),
    ("llm12_curriculum_deciles", "decile assignment via bucketed global rank — no single-partition window"),
    ("txt15_line_dedup", "first occurrence via groupBy-min + join back — hot lines partial-agg map-side, no hot-key window"),
    ("a15_heavy_hitters", "one (shard, key) corpus agg; candidates broadcast for the exact recount — no bare-key shuffle"),
    ("j13_scd2_intervals", "gaps-and-islands: flags, run ids, run agg all on one customer shuffle"),
    ("sim11_kmeans_refine", "Lloyd step: (cluster, pos) agg with map-side partial sums — n_cells x dim rows per upstream partition"),
    ("dq02_distinct_sketch", "two-level mergeable HLL: per-(source,lang) sketches, unioned per source"),
    ("llm15_block_packing", "global token offsets via bucketed prefix-sum; span-bounded block explode"),
    ("txt16_repeat_removal", "one doc-partitioned window chain: trigram leads, lag-3 mark, trailing-frame coverage"),
    ("j14_pit_join", "PIT lookup: custkey equi-join + interval post-filter, no BNLJ/cartesian"),
    ("d12_dup_pagerank", "iterative fixed-point PageRank: graph-sized state, per-round checkpoint"),
    ("q04_priority_exists", "TPC-H Q4 shape: LeftSemi fact-to-fact, returnflag filter pushed to the lineitem scan"),
    ("q07_nation_volume", "TPC-H Q7 shape: both nation maps broadcast, two fact joins on natural keys"),
    ("q09_product_profit", "TPC-H Q9 shape: selective part set broadcast into the lineitem probe"),
    ("sp01_bgp_chain", "SPARQL 5-pattern BGP: per-predicate pruned scans, star-first join order"),
    ("sp05_group_totals", "SPARQL aggregating star: orders star joins on s, DECIMAL-exact SUM"),
    ("sp16_update_rewrite", "SPARQL Update: full-graph copy-on-write — broadcast anti-join delete + set-semantics insert"),
    ("sp17_bind_bucket", "SPARQL BIND: computed bucket is a plain column — partial-aggregates map-side like any native key"),
    ("q10_returned_items", "TPC-H Q10 shape: returnflag pushed to lineitem scan, nation broadcast, TakeOrderedAndProject top-20"),
    ("q14_promo_effect", "TPC-H Q14 shape: one lineitem scan, part broadcast, both conditional sums in one partial aggregate"),
    ("a16_mad_outliers", "robust MAD screen: two grouped exact-percentile passes, per-group medians broadcast between them"),
    ("g18_nearest_neighbor", "bounded-radius NN: grid-cell candidate join + integer-distance argmin, no cartesian"),
    ("s14_rate_anomaly", "trailing-24h anomaly: one event_type-partitioned window, variance from exact integer power sums"),
    ("llm20_bpe_tokenize", "BPE apply: merge table as literal rewrites over the distinct-word domain, broadcast back to positions"),
    ("q08_market_share", "TPC-H Q8 shape: nation dim joined twice under two roles, one conditional-share partial aggregate"),
    ("q21_waiting_suppliers", "TPC-H Q21 shape: EXISTS/NOT EXISTS as semi+anti joins with suppkey-inequality residuals; probes commuted below the orders join, orders broadcast into both"),
    ("sp26_spatial_pairs", "SPARQL var-var geof:distance: grid-cell hash join between BGP components — no CartesianProduct"),
    ("sp27_bounded_path", "SPARQL p{2,3}: two hop-joins + one accumulated extension — no fixpoint loop, no node-domain join"),
    ("sp28_clear_graph", "CLEAR GRAPH: null-safe anti-filter over the quad frame — no join"),
    ("sp31_lang_facets", "SPARQL LANG(): metadata sidecar from ONE scan, grouped like a native column — no extra shuffle width"),
    ("sp33_spatial_containment", "SPARQL var-var sfWithin: polygon grid-cover explode + cell hash join + exact ray cast — no CartesianProduct"),
    ("sp34_date_rollup", "SPARQL YEAR/MONTH: regexp accessors pushed below the aggregate, pre-aggregate year filter"),
    ("sim12_hybrid_rrf", "hybrid retrieval: BM25 bounded aggs + TakeOrdered cuts, k-row RRF fusion join"),
    ("llm21_dataset_card", "dataset card: one projection pass + one partial-aggregable groupBy(source)"),
    ("llm22_source_overlap", "cross-source dup matrix: banded SimHash pairs + two label joins + sources-squared agg"),
    ("sp36_service_join", "SPARQL SERVICE federation: endpoint store joins the local graph as a lazy plan — a join, not an RPC"),
    ("sim16_ivf_index_probe", "persisted IVF index probe: PartitionFilters on ivf_cell — the scan reads only probed directories"),
    ("sp39_zone_overlap", "SPARQL var-var polygon-polygon sfIntersects: grid-cover cell join + canonical-cell survival — no CartesianProduct, no dedup"),
    ("a17_cumulative_uniques", "adoption curve: first-touch groupBy-min, then the prefix-sum window over the tiny daily aggregate"),
    ("dq06_fd_audit", "FD audit: per-candidate groupBy with partial aggregation — shuffle bounded by distinct lhs"),
    ("warc01_crawl_curation", "WARC ingest: file-parallel archive scan, payload consumed inside the scan projection, one bounded aggregate"),
    ("sim21_incremental_index_probe", "streaming-maintained IVF index probe: ivf_cell PartitionFilters prune across epoch directories"),
    # round 10
    ("sim23_persisted_ivfpq_probe", "persisted IVF+PQ probe: codes-only ADC ReadSchema (8-byte __pq, floats unread), ivf_cell PartitionFilters, shortlist-bounded wide fetch"),
    ("sim24_filtered_persisted_ann", "filtered persisted ANN: label predicate in PushedFilters of the codes scan — partition+predicate+column pruning in one plan"),
    ("llm24_crawl_training_pipeline", "crawl->training funnel: ONE archive scan, fp + source windows of narrow rows, one final aggregate"),
    ("warc03_crawl_encodings", "mixed-encoding ingest: archive scan + vectorized decode boundary, per-(source, transport) aggregate"),
    ("sp42_values_undef", "SPARQL VALUES UNDEF: broadcast nested-loop compatibility join over the inline side — bounded, no shuffle"),
    ("mm08_shot_keyframes", "shot keyframes: decode batches die in the scan; two 4-row windows + one aggregate over (media, frame, gm) rows"),
    # round 11
    ("sp43_optional_rejoin", "D1 compatibility join: null-mask split — bound arm equi-joins (nt, vip), unbound arm equi-joins (nt), unioned; no BroadcastNestedLoopJoin"),
    ("d20_skew_capped_neardup", "adversarial max_df cap: hot postings die in a broadcast anti-filter BEFORE the inverted-index self-join"),
    # dumped with broadcast disabled (see QUERY_CONFS): at sf0.01 AQE
    # picks a broadcast join — valid, but the claim worth pinning is
    # that the bucketed layout joins with NO shuffle when the build
    # side outgrows the broadcast threshold (the 100 TB case)
    ("j15_bucketed_colocated_join", "bucketed co-located join: both scans Bucketed: true, SortMergeJoin with zero Exchange (broadcast disabled, the at-scale shape)"),
    ("sim25_ann_deletes", "tombstoned index probe: partition-pruned cells anti-joined against the broadcast tombstone set before top-k"),
    ("sim26_persisted_bm25", "persisted BM25: term-bucket PartitionFilters across epochs, postings-only ReadSchema, broadcast df join"),
    # round 11, second session
    ("llm26_snapshot_diff", "dataset diff: narrow fingerprint projection BEFORE the co-partitioned full-outer SMJ — bodies never shuffle"),
    ("sim29_bm25_updates", "updated text index: seq-scoped tombstone anti-join (broadcast, residual seq condition) between the pruned scan and df"),
    ("sim30_ann_updates", "updated ANN index: both tombstone classes anti-joined on the partition-pruned cells before top-k"),
    ("sim31_bm25_time_travel", "time-travel probe: the as-of pin restricts the epoch isin filter — historical reads stay bucket-pruned"),
    ("sim32_phrase_search", "phrase search: per-term bucket-pruned position arrays, doc_id inner joins, native array-adjacency fold — no position explode"),
    ("w06_gap_fill", "resample+ffill: sequence()-generated spine from a broadcast 1-row span, map-side hourly aggregates, spine-sized ffill window"),
    # round 12
    ("sp44_erroring_bind", "erroring-BIND compatibility join: condition path with _safe_eq try_cast equality, nation stays the extracted equi key — no BNLJ"),
    # round 13
    ("g23_zone_holes_join", "hole-aware spatial join: covered-cells explode + cell equi-join, exact donut predicate on candidates only — no CartesianProduct"),
    ("sp45_donut_zone", "SPARQL multi-ring geo: per-row wkt_polygon_rings parse, hole-aware within + area/length/centroid over bound ring folds"),
    ("sim38_torn_epoch_probe", "commit-gated probe: epoch isin(committed) is a PartitionFilter beside the probed-cell filter — the torn epoch's directories are pruned, not scanned"),
    # round 14
    ("sp47_zone_relate", "simple-features flags per row: touches/overlaps/within folds over lambda-bound rings — no join, no UDF, one scan"),
    ("sp50_donut_disjoint", "hole-aware polygon-polygon sfDisjoint filter + poly-poly sfWithin classification, all native folds"),
    ("sp51_donut_grid_join", "var-var donut zones through the grid-cover join: BroadcastHashJoin on covered cells, multi-ring exact arm on candidates only"),
    ("sp53_touching_zones_join", "var-var sfTouches via the widened grid rewrite: contact pairs share a covered cell, within-exclusion decides in distributed form"),
    ("g24_multipolygon_grid_join", "MultiPolygon zones (donut + island-in-hole) in the distributed cell join; point_in_multipolygon exact re-check"),
    ("sim39_manifest_lake_probe", "manifest-committed ANN probe: file set + cell pruning resolved from manifests, no directory listing, no _SUCCESS reads"),
    ("sim40_manifest_text_probe", "manifest-committed BM25 probe: term-bucket files from manifest metadata, stats from manifest sums, shared scoring tail"),
]


# Per-query session-conf overrides applied only while dumping that
# query's plan (restored after). j15's pinned claim is the AT-SCALE
# shape — zero-Exchange SortMergeJoin off the bucketed layout — which
# AQE correctly downgrades to a broadcast join at sf0.01 sizes.
QUERY_CONFS = {
    "j15_bucketed_colocated_join": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
}


def _plan(spark, qs, name: str, sf_dir: str) -> str:
    """``explain("formatted")`` text of one query, under its
    QUERY_CONFS overrides (restored after)."""
    confs = QUERY_CONFS.get(name, {})
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: dump_plans.py <out_dir> [<query> ...]")
    sf_dir = "/root/testdata/sf0.01"
    out_dir = Path(sys.argv[1])
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("plan-dump", master="local[4]", shuffle_partitions=4)
    qs = entrymod.queries()
    if len(sys.argv) > 2:
        for name in sys.argv[2:]:
            plan = _plan(spark, qs, name, sf_dir)
            (out_dir / f"{name}.txt").write_text(plan)
            print(f"wrote {out_dir / name}.txt ({len(plan)} chars)")
        return
    out = [
        "# PLANS — formatted physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor: `{sf_dir}`. Regenerate after plan-shape changes.",
        "",
    ]
    for name, why in SHOWCASE:
        plan = _plan(spark, qs, name, sf_dir)
        # keep the operator tree + scan details, drop codegen ids noise
        out += [f"## {name} — {why}", "", "```", plan.rstrip(), "```", ""]
    (out_dir / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {out_dir / 'PLANS.md'} ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
