"""Physical-plan regression tests: the optimizations the engine relies
on at 100 TB must stay visible in the executed plans — pushdown reaching
the scan, dimension joins broadcasting, partial aggregation, bucketized
range joins staying hash-based."""

from __future__ import annotations

import re

import pytest

from weather_tools_spark.queries import SPARK


def _formatted_plan(spark, name, sf_dir) -> str:
    df = SPARK[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q6_full_predicate_pushdown(spark, sf_dir):
    plan = _formatted_plan(spark, "q6_forecast_revenue", sf_dir)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    for expected in ("l_shipdate", "l_discount", "l_quantity"):
        assert expected in pushed, f"{expected} not pushed: {pushed}"
    # column pruning: scan must read only the 4 referenced columns
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(len(s.split(",")) == 4 for s in schemas), schemas


def test_events_time_filter_pushdown(spark, sf_dir):
    plan = _formatted_plan(spark, "xql_select_filter_range", sf_dir)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    # the twin predicate reaches the scan: long nanos comparisons for
    # TIMESTAMP(NANOS) storage, NTZ timestamp comparisons for
    # timestamp[us] storage (see catalog.events_time_between)
    assert re.search(
        r"GreaterThanOrEqual\(ts,(\d{15,}|\d{4}-\d{2}-\d{2}T)", pushed
    ), pushed


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    plan = _formatted_plan(spark, "q5_local_supplier_volume", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _formatted_plan(spark, "q1_pricing_summary", sf_dir)
    # two-phase hash aggregate (map-side partial + final)
    assert plan.count("HashAggregate") >= 2


def test_range_join_stays_hash_based(spark, sf_dir):
    plan = _formatted_plan(spark, "range_join_value_buckets", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fanout_single_partition(spark, sf_dir):
    # literal fan-outs must never multiply partitions (the 32^k incident)
    df = SPARK["dl_partition_fanout"](spark, sf_dir)
    assert df.rdd.getNumPartitions() <= 2


def test_embedding_lsh_pairs_bounded_plan(spark, sf_dir):
    """The bucketed pair kernel must keep its bounded-memory shape: one
    bucket shuffle + per-bucket applyInPandas + pair dedup — and never a
    cartesian/broadcast-corpus structure."""
    plan = _formatted_plan(spark, "dedup_embedding_lsh_pairs", sf_dir)
    assert "FlatMapGroupsInPandas" in plan  # per-bucket kernel
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_exch = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.MULTILINE))
    assert n_exch <= 3, f"{n_exch} exchanges: bucket shuffle + dedup + sort expected"


def test_jaccard_df_cap_is_single_stream(spark, sf_dir):
    """r12/r13: under the doc-count probe bound the shingle df-cap is a
    window count over the by-shingle exchange — a single-stream
    pipeline. The Arrow shingle kernel must appear exactly ONCE in the
    plan (the old frequent-set anti-join fork evaluated it twice),
    there must be no anti-join, and the cap must not plan a
    per-shingle join of any kind."""
    import re

    plan = _formatted_plan(spark, "dedup_ngram_jaccard_pairs", sf_dir)
    assert "LeftAnti" not in plan, plan[:2000]
    kernels = re.findall(r"^\(\d+\) MapIn(Pandas|Arrow)", plan, re.M)
    assert len(kernels) == 1, plan[:2000]
    assert re.search(r"^\(\d+\) Window", plan, re.M), plan[:2000]


def test_jaccard_df_cap_scale_path_drops_hot_shingles_map_side(spark, sf_dir, monkeypatch):
    """r13 (VERDICT r12 item 2): past the doc-count bound the df cap
    must NOT send over-cap boilerplate shingles through a by-s window
    (one task would buffer a hot shingle's full occurrence list) — the
    scale plan drops them map-side with a broadcast LEFT ANTI against
    the map-combined (s, df) aggregate. Forcing the bound to 0 must
    flip the dispatch; there must be no window-partitioned-by-s fed by
    the raw exploded frame anywhere in that plan."""
    import re

    from weather_tools_spark.operators import dedup as D

    monkeypatch.setattr(D, "DF_CAP_WINDOW_MAX_DOCS", 0)
    plan = _formatted_plan(spark, "dedup_ngram_jaccard_pairs", sf_dir)
    assert "LeftAnti" in plan, plan[:2000]
    # the only Window allowed is the per-doc size count; no window may
    # partition by the shingle column s
    assert not re.search(r"windowspecdefinition\(s#\d+", plan), plan[:2000]
    assert re.search(r"windowspecdefinition\(doc_id#\d+", plan), plan[:2000]


def test_gapfill_spine_stays_narrow(spark, sf_dir):
    """The hour spine is a one-row aggregate exploded and cross-joined
    with a broadcast dim — it must never become a partition-multiplying
    CartesianProduct (the 32^k literal-fanout incident class), and the
    result must stay within the session's shuffle width."""
    plan = _formatted_plan(spark, "events_resample_1h_gapfill", sf_dir)
    assert "CartesianProduct" not in plan
    df = SPARK["events_resample_1h_gapfill"](spark, sf_dir)
    assert df.count() > 0
    assert df.rdd.getNumPartitions() <= int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_conversion_band_join_is_hash_based(spark, sf_dir):
    # the time-band join has an equi key (user_id): it must plan as a
    # hash join with the band predicate as a residual condition, never a
    # nested-loop over the band
    plan = _formatted_plan(spark, "events_conversion_window", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"^\(\d+\) (Broadcast|Shuffled)HashJoin", plan, re.M) or re.search(
        r"^\(\d+\) SortMergeJoin", plan, re.M
    ), plan


def test_stratified_sample_is_single_pass(spark, sf_dir):
    # hash-threshold sampling must not introduce a window or a join:
    # one partial+final aggregate pair, no Window nodes
    plan = _formatted_plan(spark, "sample_stratified_deterministic", sf_dir)
    assert not re.search(r"^\(\d+\) Window", plan, re.M), plan
    assert not re.search(r"Join", plan), plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2


def test_unpivot_aggregates_map_side(spark, sf_dir):
    # stack() explodes 4x rows but the partial aggregate must collapse
    # them before the single group-key exchange
    plan = _formatted_plan(spark, "unpivot_lineitem_metrics", sf_dir)
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert not re.search(r"Join", plan), plan


def test_decontamination_joins_stay_hash_based(spark, sf_dir):
    plan = _formatted_plan(spark, "corpus_decontamination", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_outlier_scan_broadcasts_stats(spark, sf_dir):
    # the per-group stats frame must broadcast back to the fact; the
    # scoring pass is map-side (no Window, no row shuffle)
    plan = _formatted_plan(spark, "events_value_outliers", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"^\(\d+\) Window", plan, re.M), plan


def test_transition_matrix_normalizes_post_aggregate(spark, sf_dir):
    # the normalizing window must run above the pair-count aggregate
    # (types^2 rows), not over the fact table: exactly one Window, fed
    # by a HashAggregate below it in the plan text
    plan = _formatted_plan(spark, "events_transition_matrix", sf_dir)
    assert "CartesianProduct" not in plan
    win = [m.start() for m in re.finditer(r"^\(\d+\) Window", plan, re.M)]
    agg = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
    assert len(win) == 2  # lead() over users + the tiny normalizer
    assert agg, plan


def test_stream_source_schema_matches_storage(spark, sf_dir):
    """The streaming source's declared schema must track the parquet
    storage flavor (VERDICT r3: a testdata flavor change broke the
    stream silently). Pins (a) the probe agrees with the footer, (b) the
    stream's ts analyzes as TIMESTAMP, (c) the batch-equivalent plan
    pushes a ts range predicate into the scan."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from weather_tools_spark.streaming import events as SE

    path = f"{sf_dir}/events.parquet"
    flavor = SE._probe_ts_storage(path)
    footer_unit = getattr(pq.read_schema(path).field("ts").type, "unit", None)
    assert flavor == ("us" if footer_unit == "us" else "ns")

    stream = SE.read_event_stream(spark, path)
    assert dict(stream.dtypes)["ts"] == "timestamp"

    # batch twin of the stream's scan: same declared schema, same source;
    # a range predicate on the *declared* (scan-typed) ts column must
    # reach the parquet scan as a PushedFilter
    from pyspark.sql import types as T

    ts_type = T.TimestampNTZType() if flavor == "us" else T.LongType()
    batch = spark.read.schema(SE._event_schema(ts_type)).parquet(path)
    if flavor == "us":
        batch = batch.filter(F.col("ts") >= F.lit("2024-01-02").cast("timestamp_ntz"))
    else:
        batch = batch.filter(F.col("ts") >= F.lit(1704153600000000000))
    plan = batch._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert re.search(r"GreaterThanOrEqual\(ts,", pushed), pushed


def test_pack_sequences_rank_is_probe_dispatched(spark, sf_dir):
    """r12: corpus_pack_sequences' global running offset goes through
    the probe-dispatched cumulative_sums — a bounded single-task
    Window only when the measured doc count clears the 100k contract
    (true at every test SF), the distributed two-pass prefix sum past
    it. The dispatch itself is pinned by tests/test_prefix_sum.py's
    high-cardinality negative test; here we pin that the probe path is
    in use (a Window at test scale, never a MapInPandas cumsum)."""
    plan = _formatted_plan(spark, "corpus_pack_sequences", sf_dir)
    assert re.search(r"^\(\d+\) Window", plan, re.M), plan
    assert "MapInPandas" not in plan, plan


def test_pii_scrub_and_chunking_are_map_only(spark, sf_dir):
    """The scrub is map-side up to its single 1-row aggregate; chunking
    shuffles only for the output ordering — neither joins nor shuffles
    data rows."""
    for name, max_exch in (("text_pii_scrub", 2), ("corpus_chunk_documents", 1)):
        plan = _formatted_plan(spark, name, sf_dir)
        n_exch = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exch <= max_exch, f"{name}: {n_exch} exchanges\n{plan}"
        assert "Join" not in plan, name


def test_climatology_broadcasts_and_no_cartesian(spark, sf_dir):
    plan = _formatted_plan(spark, "weather_climatology_anomaly", sf_dir)
    assert "BroadcastHashJoin" in plan        # climatology joins back broadcast
    assert "CartesianProduct" not in plan
    assert "partial_avg" in plan or "HashAggregate" in plan


def test_radius_join_is_equi_join_on_cells(spark, sf_dir):
    """The spatial join must run as a hash join on the (ci, cj) cell key
    — never a cartesian/nested-loop pair scan; only the tiny 9-row
    offset frame may ride a BroadcastNestedLoopJoin-free cross join."""
    plan = _formatted_plan(spark, "geo_radius_join_bucketed", sf_dir)
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_bm25_topk_no_global_window(spark, sf_dir):
    """Top-k must be TakeOrdered (distributed), with the rank window
    applied only after the limit — a global unpartitioned Window over
    the scored corpus would serialize on one task."""
    plan = _formatted_plan(spark, "text_bm25_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_prefix_jaccard_no_global_window(spark, sf_dir):
    """The prefix-filter pipeline orders shingles by the (df, shingle)
    pair itself — no global rank, so no single-partition Window may
    appear anywhere in the plan."""
    plan = _formatted_plan(spark, "dedup_jaccard_prefix_pairs", sf_dir)
    assert "Window" not in plan, "global window leaked into prefix-join plan"
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_stay_on_summary(spark, sf_dir):
    """The fact join builds the edge summary once; iterations must not
    re-scan lineitem — the plan may contain at most one lineitem scan
    thanks to the persisted edge frame."""
    plan = _formatted_plan(spark, "graph_pagerank_nations", sf_dir)
    assert plan.count("lineitem.parquet") <= 1, plan.count("lineitem.parquet")


def test_classifier_single_pass_partial_agg(spark, sf_dir):
    """The quality classifier is one explode + two map-combinable
    aggregations: no joins at all may appear (weights are expressions,
    not a lookup table), and aggregation must be two-phase."""
    plan = _formatted_plan(spark, "corpus_quality_classifier", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, j
    assert "HashAggregate" in plan


def test_ewma_window_is_partitioned(spark, sf_dir):
    """The EWMA window must partition by the series key — a global
    unpartitioned window would collapse the series scan to one task."""
    import re as _re

    plan = _formatted_plan(spark, "events_ewma_daily", sf_dir)
    assert "Window" in plan
    # every Window operator in the plan must carry a partition spec
    specs = _re.findall(r"Arguments: \[[^\]]*\], \[([^\]]*)\], \[[^\]]*\]", plan)
    win_args = [a for a in _re.findall(r"\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan)]
    assert win_args and all("partitionBy" not in a or "event_type" in a for a in win_args)
    assert "event_type" in " ".join(win_args)


def test_tfidf_window_partitioned_and_idw_no_cartesian(spark, sf_dir):
    plan = _formatted_plan(spark, "text_tfidf_keywords", sf_dir)
    assert "CartesianProduct" not in plan
    import re as _re
    wins = _re.findall(r"\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan)
    assert wins and all("doc_id" in w for w in wins)  # never a global window
    plan2 = _formatted_plan(spark, "weather_station_idw_analysis", sf_dir)
    assert "CartesianProduct" not in plan2
    plan3 = _formatted_plan(spark, "basket_part_pair_lift", sf_dir)
    assert "CartesianProduct" not in plan3
    assert "TakeOrderedAndProject" in plan3  # top-k stays distributed


def test_linear_trend_single_aggregate(spark, sf_dir):
    """The OLS fit must reduce to sufficient-statistic sums: exactly one
    aggregation over the indexed series, no join back to the raw data."""
    plan = _formatted_plan(spark, "events_linear_trend", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, j


def test_seasonal_decompose_windows_partitioned(spark, sf_dir):
    import re as _re

    plan = _formatted_plan(spark, "events_seasonal_decompose", sf_dir)
    wins = _re.findall(r"\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan)
    assert wins and all("event_type" in w for w in wins), wins


def test_funnel_joins_hash_based(spark, sf_dir):
    """Every funnel stage joins on the user key — hash/broadcast joins
    only, never a cartesian pair scan; aggregation stays two-phase."""
    plan = _formatted_plan(spark, "events_funnel_steps", sf_dir)
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "HashAggregate" in plan


def test_kmv_topk_distributed(spark, sf_dir):
    """The k smallest hashes must come from a distributed TakeOrdered
    (min-k merge), not a global sort of the distinct-hash frame."""
    plan = _formatted_plan(spark, "sketch_kmv_distinct", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_sketch_plans_no_cartesian_blowup(spark, sf_dir):
    """HLL/Count-Min stay single-pass aggregations; the only non-equi
    joins allowed are single-row/4-row broadcast attaches."""
    for name in ("sketch_hll_registers", "sketch_countmin_point"):
        plan = _formatted_plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "HashAggregate" in plan, name


def test_mv_refresh_is_pure_aggregation(spark, sf_dir):
    """The incremental-refresh merge is union + re-aggregate: no joins
    at all, partial aggregation on both branches."""
    plan = _formatted_plan(spark, "mv_incremental_refresh", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, j
    assert "HashAggregate" in plan
    assert "Union" in plan


def test_cdc_window_partitioned_by_key(spark, sf_dir):
    """The latest-state ranking window must partition by the CDC key —
    a global window would serialize the op-log on one task."""
    import re as _re

    plan = _formatted_plan(spark, "cdc_apply_latest_snapshot", sf_dir)
    wins = _re.findall(r"\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan)
    assert wins and all("key" in w for w in wins)
    assert "CartesianProduct" not in plan


def test_gopher_rules_single_shuffle_per_stage(spark, sf_dir):
    """Rule metrics are JVM-side array folds; the only shuffles are the
    per-doc token-mode groupBy pair and the final per-source rollup —
    no window, no cartesian."""
    plan = _formatted_plan(spark, "corpus_gopher_rules", sf_dir)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_vorticity_stencil_one_groupby(spark, sf_dir):
    """The stencil must be offset fan-out + ONE groupBy — the 4-row
    offsets frame broadcasts; no self-join of the cube against itself."""
    plan = _formatted_plan(spark, "weather_vorticity_divergence", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_pmi_topk_distributed_and_small_joins_broadcast(spark, sf_dir):
    plan = _formatted_plan(spark, "text_collocations_pmi", sf_dir)
    assert "TakeOrderedAndProject" in plan      # top-k never a global sort
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan          # unigram frames broadcast


def test_point_in_polygon_map_only(spark, sf_dir):
    """Containment is a broadcast-polygon fold: no join of any kind."""
    plan = _formatted_plan(spark, "geo_point_in_polygon", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, j


def test_trajectory_shuffle_free(spark, sf_dir):
    """Each advection step is a column rewrite — zero Exchanges."""
    plan = _formatted_plan(spark, "weather_parcel_trajectory", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_joins_hash_based(spark, sf_dir):
    plan = _formatted_plan(spark, "sketch_bloom_membership", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan          # bit set broadcasts


def test_substring_dedup_windows_partitioned(spark, sf_dir):
    import re as _re

    plan = _formatted_plan(spark, "corpus_exact_substring_dedup", sf_dir)
    wins = _re.findall(r"\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan)
    assert wins and all("doc_id" in w for w in wins)  # never a global window
    assert "CartesianProduct" not in plan


def test_skyline_stage1_window_bucket_partitioned(spark, sf_dir):
    # The first (stage-1) window must partition by the hash bucket —
    # a global single-partition window over the full pair frame would
    # serialize the scan at scale. Stage 2's window runs on the tiny
    # survivor frame and may be global (bounded contract).
    plan = _formatted_plan(spark, "analytics_skyline_parts", sf_dir)
    wins = re.findall(r"\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan)
    assert len(wins) == 2, wins
    # plan prints bottom-up inside each detail block; identify stage 1
    # as the window that carries the bucket column
    assert any("bkt" in w for w in wins), wins
    assert "CartesianProduct" not in plan


def test_shortest_paths_edge_build_distributed(spark, sf_dir):
    # The fact-scale stage (edge aggregation) must stay distributed:
    # hash joins, map-side partial aggregation, a key-partitioned
    # ranking window — never a cartesian. The BFS itself runs on the
    # collected bounded summary (<= |nations| * topk rows).
    from weather_tools_spark.queries.analytics import _sp_edges_df

    df = _sp_edges_df(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2
    wins = re.findall(r"^\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan, re.MULTILINE)
    assert wins and all("src" in w for w in wins), wins


def test_acf_and_benford_reduce_before_joining(spark, sf_dir):
    # Both queries must aggregate the fact table ONCE and do all
    # subsequent math on tiny frames: exactly one scan of events /
    # orders in the plan.
    # count detail headers "(N) Scan parquet" — the tree section repeats
    # each node name, so raw substring counts double-report a single scan
    def _scans(p: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))

    plan = _formatted_plan(spark, "events_autocorrelation", sf_dir)
    assert _scans(plan) <= 1, _scans(plan)
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", ""
    )  # scalar attach may BNLJ; no true cartesian
    plan_b = _formatted_plan(spark, "dq_benford_first_digit", sf_dir)
    assert _scans(plan_b) == 1, _scans(plan_b)


def test_json_extract_and_geohash_single_scan(spark, sf_dir):
    # JSON extraction and geohash encoding are pure column expressions:
    # one fact scan, one map-combinable aggregation, no joins at all.
    def _scans(p: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))

    for name in ("events_json_native_extract", "geo_geohash_cells"):
        plan = _formatted_plan(spark, name, sf_dir)
        assert _scans(plan) == 1, (name, _scans(plan))
        assert "Join" not in plan, name
        # partial aggregation present (map-side combine before shuffle)
        assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2, name


def test_priority_sampling_uses_takeordered(spark, sf_dir):
    # The top-k by priority must be a distributed TakeOrdered (per-
    # partition min-k merge), never a global Sort of the fact table.
    plan = _formatted_plan(spark, "sample_weighted_priority", sf_dir)
    assert "TakeOrderedAndProject" in plan
    # any residual Sort may only order the <= k+1-row result frame:
    # formatted-plan ids are assigned bottom-up (parents get HIGHER
    # ids), so every Sort must sit ABOVE all TakeOrdered nodes — a Sort
    # with a lower id would be ordering fact-scale rows below the top-k.
    take_ids = [int(m) for m in re.findall(r"^\((\d+)\) TakeOrderedAndProject", plan, re.MULTILINE)]
    sort_ids = [int(m) for m in re.findall(r"^\((\d+)\) Sort\b", plan, re.MULTILINE)]
    assert take_ids, plan
    assert all(sid > max(take_ids) for sid in sort_ids), (sort_ids, take_ids)
    # id ordering alone is weak in multi-branch plans (ids are assigned
    # post-order across sibling subtrees, so a sibling-branch fact Sort
    # could outrank the TakeOrdered): also bound the Sort count — the
    # only legitimate Sort is the single final order of the k-row result
    assert len(sort_ids) <= 1, (sort_ids, plan[:2000])
    # and verify structurally in the tree header that no Sort sits
    # BELOW the TakeOrdered (deeper indentation within its subtree)
    tree = plan.split("\n\n")[0].splitlines()
    take_rows = [(i, ln.index("TakeOrderedAndProject")) for i, ln in enumerate(tree) if "TakeOrderedAndProject" in ln]
    for i, ln in enumerate(tree):
        if re.search(r"\bSort\b", ln) and "SortMergeJoin" not in ln:
            depth = len(ln) - len(ln.lstrip(" +-*"))
            assert all(i < ti or depth <= td for ti, td in take_rows), (
                "Sort nested below TakeOrdered",
                ln,
            )
    assert "CartesianProduct" not in plan


def test_cusum_reduces_then_windows(spark, sf_dir):
    # The fact is reduced to <= horizon-days rows map-combinably before
    # the ordered window pass (bounded-contract global window).
    def _scans(p: str) -> int:
        return len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))

    plan = _formatted_plan(spark, "events_cusum_changepoint", sf_dir)
    assert _scans(plan) <= 1, _scans(plan)
    assert "CartesianProduct" not in plan.replace("BroadcastNestedLoopJoin", "")


def test_pca_gram_is_bounded_mapinpandas(spark, sf_dir):
    # The scale-critical Gram build must be the mapInPandas partial-sum
    # kernel (d^2 rows per batch) + one two-phase map-combinable
    # aggregation — the corpus itself is never collected; the iteration
    # then runs on the bounded d^2-row collect (power_iteration), so
    # the query's RESULT frame is a local tiny frame that re-reads
    # nothing.
    import re as _re

    from weather_tools_spark.catalog import load_table
    from weather_tools_spark.operators.similarity import gram_matrix

    emb = load_table(spark, "embeddings", sf_dir)
    gdf = gram_matrix(emb, "embedding", 64)
    gplan = gdf._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "MapInPandas" in gplan
    assert len(_re.findall(r"^\(\d+\) HashAggregate", gplan, _re.MULTILINE)) >= 2
    assert "CartesianProduct" not in gplan

    plan = _formatted_plan(spark, "ml_pca_power_iteration", sf_dir)
    assert "Scan parquet" not in plan  # heavy work ended with the Gram job
    assert "CartesianProduct" not in plan


def test_scd2_window_partitioned_by_key(spark, sf_dir):
    # The version-close lead() must run partitioned by the CDC key —
    # a global window over the op-log would serialize at fact scale.
    plan = _formatted_plan(spark, "cdc_scd2_history", sf_dir)
    wins = re.findall(r"^\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan, re.MULTILINE)
    assert wins and all("key" in w for w in wins), wins
    assert "CartesianProduct" not in plan


def test_fuzzy_linkage_reduces_names_before_pairing(spark, sf_dir):
    # The quadratic stage must run on the distinct-name frame (bounded
    # by vocabulary, not rows): an aggregate must sit below the join.
    plan = _formatted_plan(spark, "linkage_fuzzy_part_names", sf_dir)
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2


def test_allocation_windows_partitioned_by_order(spark, sf_dir):
    # Every proration window must partition by l_orderkey — the
    # allocation is per-order math and must never serialize globally.
    plan = _formatted_plan(spark, "finance_largest_remainder_allocation", sf_dir)
    wins = re.findall(r"^\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan, re.MULTILINE)
    assert wins and all("l_orderkey" in w for w in wins), wins
    assert "CartesianProduct" not in plan


def test_bootstrap_explodes_mapside_only(spark, sf_dir):
    # The x16 resample fan-out must be a broadcast nested-loop of the
    # tiny literal frame (map-side row multiplication), with the only
    # real shuffle being the 16-group aggregate.
    plan = _formatted_plan(spark, "stats_poisson_bootstrap_ci", sf_dir)
    assert "CartesianProduct" not in plan
    def _scans(p):
        return len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    assert _scans(plan) <= 2  # fact scan + the point-estimate branch


def test_privacy_queries_single_pass(spark, sf_dir):
    # Both privacy audits are one map-combinable pass over customer
    # (plus a broadcast nation dim for the quasi-identifier) — no
    # fact-fact join, no window, no cartesian.
    for name in ("privacy_dp_noisy_counts", "privacy_k_anonymity"):
        plan = _formatted_plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert not re.search(r"^\(\d+\) Window", plan, re.MULTILINE), name
        assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2, name


def test_sliding_window_expands_mapside(spark, sf_dir):
    # Spark's sliding window must be a map-side Generate (window
    # expansion) + two-phase aggregate — never a spine self-join.
    plan = _formatted_plan(spark, "events_sliding_window_agg", sf_dir)
    assert len(re.findall(r"^\(\d+\) (Generate|Expand)", plan, re.MULTILINE)) >= 1
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2


def test_mad_windows_partitioned_by_type(spark, sf_dir):
    # Both rank-selection windows must partition by event_type — the
    # per-group grain that scales; never a global window on the fact.
    plan = _formatted_plan(spark, "events_mad_outliers", sf_dir)
    wins = re.findall(r"^\(\d+\) Window[\s\S]*?Arguments: ([^\n]*)", plan, re.MULTILINE)
    assert wins and all("event_type" in w for w in wins), wins
    assert "CartesianProduct" not in plan


def test_join_delta_refresh_broadcasts_dim(spark, sf_dir):
    # All four view-state terms must broadcast the customer dimension;
    # the fact joins may shuffle but never nest-loop/cartesian.
    plan = _formatted_plan(spark, "mv_join_delta_refresh", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_zorder_census_single_scan(spark, sf_dir):
    def _scans(p):
        return len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    plan = _formatted_plan(spark, "storage_zorder_clustering", sf_dir)
    assert _scans(plan) == 1
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2


def test_pq_adc_broadcasts_codebook_and_takeordered(spark, sf_dir):
    """PQ encode/LUT joins must broadcast the 64-row codebook frames;
    the final top-k is a distributed TakeOrdered; the only nest-loop is
    the 1-row query-vector attach (bounded by construction)."""
    plan = _formatted_plan(spark, "sim_pq_adc_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_dsir_scoring_is_map_only_takeordered(spark, sf_dir):
    """r9 shape: the per-document scoring pass is explode-free and
    JOIN-free — the 256-entry log-ratio table inlines as a literal map
    into a JVM F.aggregate (stronger than the r8 broadcast join it
    replaced), so the scoring plan is scan → project → TakeOrdered.
    Top-25 selection is a TakeOrdered, never a global sort; no join,
    no Generate (explode), no corpus-scale exchange."""
    plan = _formatted_plan(spark, "corpus_dsir_importance", sf_dir)
    assert "TakeOrderedAndProject" in plan
    for bad in ("CartesianProduct", "BroadcastHashJoin", "SortMergeJoin", "Generate"):
        assert bad not in plan, bad
    # corpus-scale Sort would be fatal at 100 TB: all Sorts must sit
    # above the TakeOrdered (see test_priority_sampling_uses_takeordered)
    take_ids = [int(m) for m in re.findall(r"^\((\d+)\) TakeOrderedAndProject", plan, re.MULTILINE)]
    sort_ids = [int(m) for m in re.findall(r"^\((\d+)\) Sort\b", plan, re.MULTILINE)]
    assert take_ids and all(sid > max(take_ids) for sid in sort_ids)


def test_containment_no_cartesian_single_pair_shuffle(spark, sf_dir):
    """Containment pairs reuse the capped by-shingle expansion: no
    cartesian/nest-loop anywhere, and the frequent-shingle cap join is
    a broadcast anti-join."""
    plan = _formatted_plan(spark, "dedup_containment_pairs", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_adamic_adar_takeordered_no_cartesian(spark, sf_dir):
    plan = _formatted_plan(spark, "graph_adamic_adar_linkpred", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_adamic_adar_pair_expansion_plan_budget(spark, sf_dir):
    """r10 rewrite pin: pairs expand map-side from the capped per-part
    buyer array — the mid-frame self-join (two by-part shuffles of the
    recomputed lineage) is gone, and the base is deliberately NOT
    persisted (the r10 A/B: recompute-twice beats caching a fact-scale
    frame). The buyers lineage appears twice in the plan (pc + pair
    branches), so the budget is on the whole printed tree: no
    cartesian, no self-join of the mid frame (≤4 joins = 2 lineages ×
    [base join + cap attach]), ≤8 exchanges.
    clearCache first: a previously materialized cache from another test
    would print its lineage subtree inside the formatted plan and
    inflate the node counts (order-dependent otherwise)."""
    spark.catalog.clearCache()
    plan = _formatted_plan(spark, "graph_adamic_adar_linkpred", sf_dir)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) <= 8
    joins = len(re.findall(r"^\(\d+\) \w*Join", plan, re.MULTILINE))
    assert joins <= 4, f"expected <=4 joins (2 lineages x 2), got {joins}"
    assert "CartesianProduct" not in plan


def test_naive_bayes_single_scoring_pass_plan(spark, sf_dir):
    """r10 rewrite pin: all |langs| scores accumulate in ONE per-doc
    groupBy off the per-word lang→count map — no Window argmax, no
    BroadcastNestedLoopJoin candidate fan-out, ≤1 join in the main
    plan, exchange budget ≤8 (was 12 with 3 BNLJ before r10).
    clearCache first — same order-independence rationale as the
    adamic-adar pin."""
    spark.catalog.clearCache()
    plan = _formatted_plan(spark, "ml_naive_bayes_langid", sf_dir)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) <= 8
    joins = len(re.findall(r"^\(\d+\) \w*Join", plan, re.MULTILINE))
    assert joins <= 1, f"expected <=1 join (the wmap attach), got {joins}"


def test_moments_sketch_two_phase_agg_no_join(spark, sf_dir):
    """The moments sketch is one map-combinable pass: partial + final
    HashAggregate, no join in the per-shard branch (the union's merged
    row re-aggregates the 5-row partials frame, not the fact)."""
    plan = _formatted_plan(spark, "sketch_moments_merge_parity", sf_dir)
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2
    assert "Join" not in plan


def test_ks_window_on_bounded_frame(spark, sf_dir):
    """The KS cumulative window must run over the value-AGGREGATED
    frame (domain-bounded), i.e. a HashAggregate sits below the Window,
    and the totals attach via broadcast — no cartesian."""
    plan = _formatted_plan(spark, "stats_ks_two_sample", sf_dir)
    assert "CartesianProduct" not in plan
    win_ids = [int(m) for m in re.findall(r"^\((\d+)\) Window", plan, re.MULTILINE)]
    agg_ids = [int(m) for m in re.findall(r"^\((\d+)\) HashAggregate", plan, re.MULTILINE)]
    assert win_ids and agg_ids
    # formatted ids are bottom-up: at least one aggregate below the window
    assert min(agg_ids) < min(win_ids)


def test_kmeanspp_broadcasts_centers(spark, sf_dir):
    """Every d2 pass attaches the bounded center set as a broadcast
    (BNLJ against 1..l*rounds rows), never a shuffle join keyed on the
    corpus; the phi scalar attaches the same way."""
    plan = _formatted_plan(spark, "ml_kmeanspp_init", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_t_closeness_group_partitioned_windows(spark, sf_dir):
    """t-closeness windows partition by the QI group — no global
    (empty-partition) window over the grid."""
    plan = _formatted_plan(spark, "privacy_t_closeness", sf_dir)
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # every windowspecdefinition must lead with the QI partition keys
    # (priority, yr) — a spec starting at the status sort column would
    # be a global window over the grid
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs and all(s.startswith("priority") for s in specs), specs


def test_spearman_broadcasts_ranks_no_fact_window(spark, sf_dir):
    """Spearman's windows run only over the bounded marginal count
    tables and join back by broadcast; a fact-scale rank window (the
    naive formulation) would shuffle-sort the whole lineitem frame."""
    plan = _formatted_plan(spark, "stats_spearman_corr", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # windows partition by flag over the <=50/<=11-row marginal frames,
    # AFTER their count aggregates — never directly over the scan
    assert "Window" in plan
    assert "SortMergeJoin" not in plan


def test_anova_welch_single_pass_partial_agg(spark, sf_dir):
    """Both tests are one map-combinable pass to k<=5 rows: partial
    HashAggregate before the exchange, no join of fact-scale frames,
    no window at all."""
    for name in ("stats_anova_f", "stats_ttest_welch"):
        plan = _formatted_plan(spark, name, sf_dir)
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "HashAggregate" in plan, name


def test_hapax_two_phase_agg_no_join(spark, sf_dir):
    plan = _formatted_plan(spark, "text_hapax_legomena", sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan
    # two aggregate levels: (source, tok) counts then per-source reduce
    assert plan.count("Exchange") >= 2


def test_topk_window_has_partial_window_group_limit(spark, sf_dir):
    """The rank-filter top-k must keep Catalyst's map-side partial
    WindowGroupLimit BEFORE the exchange (SPARK-37099): the shuffle then
    carries only partitions*k rows per group instead of the whole fact —
    the property that makes the 5-partition window survive 100 TB."""
    plan = _formatted_plan(spark, "topk_orders_per_priority", sf_dir)
    assert "WindowGroupLimit" in plan
    # partial (pre-shuffle) instance: a WindowGroupLimit node must appear
    # at a higher node id than the first Exchange (formatted plans number
    # leaves first), i.e. there are TWO WindowGroupLimit nodes
    assert plan.count("WindowGroupLimit") >= 2, plan.count("WindowGroupLimit")


def test_iterative_replay_exchange_counts_pinned(spark, sf_dir):
    """The three plan-count outliers in PLANS.md (sketch_kmv_setops
    Exch=37, ml_kmeanspp_init Exch=13, stats_chi2_independence Exch=12)
    are iterative replays over BOUNDED sketch/summary frames — accepted
    as-is in the r8 audit, but they are the first place a regression
    would hide (an iteration accidentally re-scanning the fact table
    doubles the count). Pin each at a small headroom above its audited
    value, and pin that the fact scans stay single-digit."""
    for name, max_exch, fact, max_scans in (
        ("sketch_kmv_setops", 45, "lineitem.parquet", 6),
        # r9: the vectors + per-round candidate frames are persisted —
        # the 16-scan recompute collapsed to the persisted base (<= 2
        # InMemory-fed scans survive in the formatted plan)
        ("ml_kmeanspp_init", 18, "embeddings.parquet", 2),
        ("stats_chi2_independence", 16, "lineitem.parquet", 4),
    ):
        plan = _formatted_plan(spark, name, sf_dir)
        n_exch = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.MULTILINE))
        assert n_exch <= max_exch, f"{name}: {n_exch} exchanges (pin {max_exch})"
        n_scan = plan.count(fact)
        assert n_scan <= max_scans, f"{name}: {n_scan} scans of {fact} (pin {max_scans})"


def test_projected_weather_scan_narrows_batchscan(spark, tmp_path):
    """The r9 DataSource projection: .option('columns', 'd2m') over a
    two-variable store must narrow the Python BatchScan's output to
    coords + d2m (the PLANS.md r9 row), while the unprojected scan
    keeps all five columns."""
    import os

    import numpy as np

    from weather_tools_spark.sources.datasource import register
    from weather_tools_spark.sources.grib2 import write_grib2

    lats, lons = np.array([50.0, 49.0]), np.array([10.0, 11.0, 12.0])
    write_grib2(
        str(tmp_path / "x.grib2"),
        [
            {"param": "d2m", "ref_time": "2024-01-01T00:00", "lats": lats,
             "lons": lons, "values": np.arange(6, dtype="f8").reshape(2, 3)},
            {"param": "u10", "ref_time": "2024-01-01T00:00", "lats": lats,
             "lons": lons, "values": np.arange(6, dtype="f8").reshape(2, 3)},
        ],
    )
    register(spark)
    glob = os.path.join(str(tmp_path), "*.grib2")
    narrow = spark.read.format("weather").option("columns", "d2m").load(glob)
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"BatchScan weather\[([^\]]*)\]", plan)
    assert m, plan
    cols = [c.split("#")[0] for c in m.group(1).split(", ")]
    assert cols == ["time", "latitude", "longitude", "d2m"]
    full = spark.read.format("weather").load(glob)
    m2 = re.search(
        r"BatchScan weather\[([^\]]*)\]",
        full._jdf.queryExecution().executedPlan().toString(),
    )
    assert [c.split("#")[0] for c in m2.group(1).split(", ")] == [
        "time", "latitude", "longitude", "d2m", "u10",
    ]


def test_explode_free_rewrites_stay_explode_free(spark, sf_dir):
    """The r9 scoring rewrites removed token-scale Generate/explode
    nodes; pin that they stay gone (a regression here re-introduces
    the (doc, token) shuffle class the sfx1.0 probe flagged)."""
    # per-doc statistics as array folds: no Generate anywhere
    for name in ("text_repetition_profile", "ml_calibration_report",
                 "text_ttr_standardized"):
        plan = _formatted_plan(spark, name, sf_dir)
        assert "Generate" not in plan, f"{name} re-grew an explode"
    # gopher keeps zero joins (the r8 version joined the per-doc token
    # mode back) and at most the source-rollup exchanges
    plan = _formatted_plan(spark, "corpus_gopher_rules", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "Generate"):
        assert j not in plan, j
    # paragraph dedup: the first-occurrence window replaced the
    # aggregate+join — exactly one join-free chunk-scale shuffle chain
    plan = _formatted_plan(spark, "dedup_paragraph_dupes", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin"):
        assert j not in plan, j
    assert "Window" in plan


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _grib_glob(tmp_path) -> list[str]:
    """Three one-day, one-variable 2x2 GRIB2 files."""
    import numpy as np

    from weather_tools_spark.sources import grib2 as G2

    lats, lons = np.array([49.0, 48.75]), np.array([2.0, 2.25])
    paths = []
    for i in range(3):
        p = str(tmp_path / f"era5-{i}.grib2")
        G2.write_grib2(p, [{"param": "d2m", "ref_time": f"2024-06-0{i + 1}", "lats": lats,
                            "lons": lons, "values": np.full((2, 2), float(i))}])
        paths.append(p)
    return paths


def _zarr_store(spark, path: str):
    """An 8-step, 3x4 Zarr v2 store in 4 x 2 x 2 = 16 chunks; returns
    its template."""
    from weather_tools_spark.sources import zarr_scan as ZS
    from weather_tools_spark.sources import zarr_v2 as Z2

    meta = ZS.ChunkedDatasetMeta(
        uri=path, times=[f"2024-01-01 {h:02d}:00:00" for h in range(8)],
        lats=[50.0, 49.75, 49.5], lons=[10.0, 10.25, 10.5, 10.75],
        chunk_time=2, chunk_lat=2, chunk_lon=2, variables=("d2m",),
    )
    rows = spark.range(8 * 3 * 4).selectExpr(
        "timestamp_seconds(1704067200 + (id div 12) * 3600) AS time",
        "50.0 - ((id div 4) % 3) * 0.25 AS latitude",
        "10.0 + (id % 4) * 0.25 AS longitude",
        "cast(id AS double) AS d2m",
    )
    Z2.write_zarr_v2(rows, path, meta)
    return Z2.open_zarr_v2(path)


def _assert_spread_decode(spark, name, df, units: int) -> None:
    """``df`` decodes ``units`` whole units through one MapInArrow (and
    no MapInPandas) fed by a Range of min(units, defaultParallelism)
    partitions — no exchange before the decode — and every partition
    gets work."""
    from pyspark.sql import functions as F

    tasks = min(units, spark.sparkContext.defaultParallelism)
    plan = _executed(df)
    assert "Exchange" not in plan, (name, plan)
    assert plan.count("MapInArrow") == 1, (name, plan)
    assert "MapInPandas" not in plan, (name, plan)
    assert f"Range (0, {units}, step=1, splits={tasks})" in plan, (name, plan)
    assert df.select(F.spark_partition_id()).distinct().count() == tasks, name


def test_per_unit_plans_no_exchange_before_mapinpandas(spark, tmp_path, monkeypatch):
    """A GRIB glob and a Zarr store read through open_dataset, ingest()
    and the GRIB split all run the shared read plan (opener.map_files):
    the unit list is indexed by a Range split into min(units,
    defaultParallelism) partitions, none empty, feeding one MapInArrow
    with no Exchange in between."""
    from weather_tools_spark.pipeline import splitter
    from weather_tools_spark.sources import hypercube as H
    from weather_tools_spark.sources import opener as OP

    paths = _grib_glob(tmp_path)
    _zarr_store(spark, str(tmp_path / "store.zarr"))
    frames = {
        "open_dataset": (OP.open_dataset(spark, str(tmp_path / "era5-*.grib2")), 3),
        "open_dataset_zarr": (OP.open_dataset(spark, str(tmp_path / "store.zarr")), 16),
        "ingest": (H.ingest(spark, paths), 3),
    }
    real = OP.map_files
    built = []
    monkeypatch.setattr(OP, "map_files", lambda *a: built.append(real(*a)) or built[-1])
    assert splitter.split_files_partitioned(spark, paths, str(tmp_path / "split")) == 3
    frames["split"] = (built[0], 3)
    for name, (df, units) in frames.items():
        _assert_spread_decode(spark, name, df, units)


def test_time_pruned_zarr_scan_spreads_kept_chunks(spark, tmp_path):
    """Pruning happens on the driver: a time range that keeps 2 of the
    4 time chunks decodes exactly those 8 chunks, spread over every
    task, and returns exactly the in-range cells."""
    from weather_tools_spark.sources import zarr_scan as ZS

    meta = _zarr_store(spark, str(tmp_path / "store.zarr"))
    tr = ("2024-01-01 02:00:00", "2024-01-01 05:00:00")
    df = ZS.scan(spark, meta, time_range=tr, include_uri=False)
    _assert_spread_decode(spark, "pruned", df, 8)
    assert df.count() == 3 * 3 * 4


def test_flagship_xql_groups_on_a_date_key(spark, sf_dir, tmp_path):
    """The flagship daily average, through the SQL surface over an
    opened GRIB glob and as the registry's DataFrame form: the partial
    HashAggregate groups on one DateType key, and date_format appears
    only at or above the final aggregate (once per group)."""
    from weather_tools_spark.plans import xql
    from weather_tools_spark.sources import opener as OP

    _grib_glob(tmp_path)
    OP.open_dataset(spark, str(tmp_path / "era5-*.grib2"), view="era5_flagship")
    frames = {
        "sql": xql.run_query(
            spark, "SELECT time_date, AVG('d2m') FROM era5_flagship GROUP BY time_date"
        ),
        "registry": SPARK["xql_flagship_weather_query"](spark, sf_dir),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getName().endswith("AdaptiveSparkPlanExec"):
            plan = plan.executedPlan()
        nodes, stack = [], [plan]
        while stack:  # parents before children
            node = stack.pop()
            nodes.append(node)
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        aggs = [i for i, n in enumerate(nodes) if n.nodeName() == "HashAggregate"]
        assert len(aggs) == 2, (name, plan.toString())
        keys = nodes[aggs[-1]].groupingExpressions()
        assert [keys.apply(i).dataType().typeName() for i in range(keys.size())] == ["date"]
        formats = ["date_format" in n.verboseStringWithOperatorId() for n in nodes]
        assert any(formats[: aggs[0] + 1]) and not any(formats[aggs[0] + 1 :]), (name, formats)


def test_file_sinks_one_group_write(spark, tmp_path, monkeypatch):
    """The NetCDF-3 and GRIB2 sinks run the shared bucket-write plan
    (opener.write_buckets): one FlatMapGroupsInPandas, one file per
    day / hourly slice."""
    import os

    from pyspark.sql.group import GroupedData

    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources import netcdf3 as N3

    grid = spark.range(16).selectExpr(
        "timestamp(concat('2024-03-0', cast(1 + id div 8 as string), ' ',"
        " lpad(cast((id div 4) % 2 * 6 as string), 2, '0'), ':00:00')) AS time",
        "50.0 - cast((id div 2) % 2 as double) AS latitude",
        "8.0 + cast(id % 2 as double) AS longitude",
        "cast(id as double) AS d2m",
    )
    real = GroupedData.applyInPandas
    built = []
    monkeypatch.setattr(
        GroupedData, "applyInPandas",
        lambda self, *a, **k: built.append(real(self, *a, **k)) or built[-1],
    )
    nc_dir, grib_dir = str(tmp_path / "nc"), str(tmp_path / "grib")
    assert N3.write_netcdf3_partitioned(grid, nc_dir, ["d2m"]) == 2
    assert G2.write_grib2_partitioned(grid, grib_dir, ["d2m"]) == 4
    assert len(os.listdir(nc_dir)) == 2 and len(os.listdir(grib_dir)) == 4
    assert len(built) == 2
    for df in built:
        assert _executed(df).count("FlatMapGroupsInPandas") == 1


def _mv_job_count(spark, tmp_path, *flags) -> int:
    """Jobs one ``mv`` run launches on a 2-file, 6-step, 2-variable
    GRIB2 glob."""
    import numpy as np

    from weather_tools_spark.cli import main
    from weather_tools_spark.sources import grib2 as G2

    lats, lons = np.array([50.0, 49.0, 48.0]), np.array([10.0, 11.0, 12.0, 13.0])
    for i in range(2):
        msgs = [
            {"param": p, "ref_time": f"2024-01-0{i + 1}T{h:02d}:00", "lats": lats, "lons": lons,
             "values": np.arange(12.0).reshape(3, 4) + 100 * i + h + k}
            for h in (0, 6, 12) for k, p in enumerate(("d2m", "u10"))
        ]
        G2.write_grib2(str(tmp_path / f"era5-{i}.grib2"), msgs)
    sc = spark.sparkContext
    group = f"mv-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "mv job count")
    try:
        rc = main(["mv", "--uris", str(tmp_path / "era5-*.grib2"),
                   "--output", str(tmp_path / "out"), *flags])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rc == 0
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_zarr_sink_decodes_once_job_count(spark, tmp_path):
    """mv --zarr decodes its input once, in the chunk writer: the store
    axes come from file headers on the driver. 2 jobs on this input;
    persisting the decode and deriving the axes with one aggregate job
    over it took 5, deriving each axis with its own distinct/sort scan
    and decoding again for the write took 19, an exchange in front of
    the decode took one more, and counting the written chunks with a
    ``count()`` one more again."""
    assert _mv_job_count(spark, tmp_path, "--zarr", "--chunks", "2,2,2") == 2


def test_zarr_chunk_write_plan_one_exchange_one_mapinpandas(spark, tmp_path):
    """The Zarr chunk writer hashes rows to tasks on the chunk id and
    streams each task's sorted rows through one MapInPandas: one hash
    Exchange on ``_chunk``, no per-chunk FlatMapGroupsInPandas."""
    from weather_tools_spark.sources import zarr_scan as ZS
    from weather_tools_spark.sources import zarr_v2 as Z2

    meta = ZS.ChunkedDatasetMeta(
        uri=str(tmp_path), times=["2024-01-01 00:00:00", "2024-01-01 06:00:00"],
        lats=[50.0, 49.0], lons=[10.0, 11.0, 12.0], chunk_time=1, chunk_lat=2, chunk_lon=2,
        variables=("d2m", "u10"),
    )
    rows = spark.range(12).selectExpr(
        "TIMESTAMP'2024-01-01 00:00:00' AS time", "50.0D - id % 2 AS latitude",
        "10.0D + id % 3 AS longitude", "id * 1.0D AS d2m", "id * 2.0D AS u10",
    )
    plan = Z2._chunk_write_plan(rows, str(tmp_path), meta, None, "v2")._jdf.queryExecution()
    text = plan.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"^\(\d+\) MapInPandas\b", text, re.MULTILINE)) == 1, text
    assert "FlatMapGroupsInPandas" not in text
    exchanges = re.findall(r"^\(\d+\) Exchange\b", text, re.MULTILINE)
    assert len(exchanges) == 1, text
    assert re.search(r"Arguments: hashpartitioning\(_chunk#\d+L?, \d+\), REPARTITION_BY_COL", text)


def test_parquet_sink_counts_without_rescan_job_count(spark, tmp_path):
    """mv's parquet sink reads its row count from an observation on the
    write: 1 job on this input (the write); reading the output back to
    count it took 5, and an exchange in front of the decode took one
    more."""
    assert _mv_job_count(spark, tmp_path) == 1
