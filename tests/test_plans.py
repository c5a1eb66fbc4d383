"""Physical-plan audits: the intended plan shape for every headline query,
asserted (pushdown reaches scans, dims broadcast, top-k is
TakeOrderedAndProject, no cartesian blowups)."""

from __future__ import annotations

import pytest

from big_data_assignment2_spark.operators import _rebalance
from big_data_assignment2_spark.plans.audit import audit, explain_formatted, operators, pushed_filters
from big_data_assignment2_spark.registry import build_registry

REG = build_registry()
_FAN_OUT = _rebalance.fan_out


@pytest.fixture(autouse=True)
def _no_fanout(monkeypatch):
    """Plan audits assert the AT-SCALE shape: the conditional small-input
    fan-out (``_rebalance.fan_out``) is a no-op on any production-sized
    table, so it is an identity here (``fan_out_table`` looks it up at
    call time) and the real rule is covered by
    test_rebalance_fan_out_conditions below."""
    monkeypatch.setattr(_rebalance, "fan_out", lambda df, nbytes: df)


def _df(spark, sf_dir, name):
    return REG.queries[name].fn(spark, sf_dir)


def test_rebalance_fan_out_conditions(spark, sf_dir, monkeypatch):
    """fan_out adds its round-robin Exchange ONLY for inputs too small to
    split naturally; big and unknown-size inputs leave the plan
    untouched."""
    monkeypatch.setattr(_rebalance, "fan_out", _FAN_OUT)
    fan_out, fan_out_table = _rebalance.fan_out, _rebalance.fan_out_table
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cores = spark.sparkContext.defaultParallelism
    small = fan_out(df, 1024)
    if cores > 1:
        assert small.rdd.getNumPartitions() == cores
        assert "roundrobin" in small._jdf.queryExecution().toString().lower()
    else:
        assert small is df  # single-core session: fan-out is identity
    # at-scale input: natural splits >= cores -> identity
    big = fan_out(df, 10**18)
    assert big is df
    # unknown size -> identity (conservative)
    assert fan_out(df, None) is df
    # table form sizes from the file on disk (tiny at test sf -> fans out)
    fanned = fan_out_table(df, sf_dir, "documents")
    assert fanned.rdd.getNumPartitions() == cores or cores <= 1


def test_q1_filter_reaches_scan(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    assert any("LessThanOrEqual(l_shipdate" in f for f in pushed_filters(df))
    # one scan, partial+final agg, no joins
    ops = operators(df)
    assert ops.count("Scan parquet") == 1
    assert "HashAggregate" in ops


def test_q3_broadcasts_and_topk(spark, sf_dir):
    df = _df(spark, sf_dir, "q3_shipping_priority")
    assert not audit(
        df,
        requires=("BroadcastHashJoin", "TakeOrderedAndProject"),
        forbids=("CartesianProduct",),
    )
    fs = pushed_filters(df)
    assert any("GreaterThan(l_shipdate" in f for f in fs)
    assert any("EqualTo(c_mktsegment,BUILDING)" in f for f in fs)


def test_q5_all_dims_broadcast(spark, sf_dir):
    df = _df(spark, sf_dir, "q5_nation_revenue")
    ops = operators(df)
    assert ops.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in ops
    assert "CartesianProduct" not in ops


def test_isin_pushdown(spark, sf_dir):
    df = _df(spark, sf_dir, "filter_isin_project")
    assert any("In(l_returnflag" in f for f in pushed_filters(df))


def test_bm25_topk_and_no_python(spark, sf_dir):
    df = _df(spark, sf_dir, "bm25_search")
    assert not audit(
        df,
        requires=("TakeOrderedAndProject",),
        forbids=("BatchEvalPython", "ArrowEvalPython"),  # no Python in the core path
    )


def test_persisted_search_prunes_buckets(spark, sf_dir, tmp_path):
    import os
    from urllib.parse import urlparse

    from big_data_assignment2_spark import engine
    from big_data_assignment2_spark.functions.text import tokenize_query
    from big_data_assignment2_spark.operators import index_build

    d = str(tmp_path / "idx")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    engine.delete_from_index(docs.limit(3).select("doc_id"), d)
    q = "data model"
    df = engine.search(spark, d, q)
    # the scan reads exactly the committed postings files of the query's
    # term buckets (picked driver-side), plus doc_stats and tombstones --
    # no other postings file is listed or read
    snap = engine.snapshot(spark, d)
    buckets = {engine.term_bucket_py(t, 8) for t in tokenize_query(q)}
    postings = {p for p in snap.files["inverted_index"] if engine._bucket(p) in buckets}
    assert 0 < len(postings) < len(snap.files["inverted_index"])
    want = postings.union(*(snap.files[t] for t in ("doc_stats", "tombstones")))
    assert snap.files["tombstones"]
    assert {os.path.relpath(urlparse(f).path, d) for f in df.inputFiles()} == want


def test_persisted_search_job_budget(spark, sf_dir, tmp_path):
    """A warm persisted search runs the shuffle of the term-filtered
    postings for the df window, the broadcast of the doc_stats join, the
    partial-aggregate shuffle and the result job: nothing for a df table
    (df is counted over the postings already read), the corpus stats
    (inlined literals), the titles (aggregate key) or the rank
    (row_number on the top-k's single partition). Tombstones add their
    broadcast."""
    from big_data_assignment2_spark import engine
    from big_data_assignment2_spark.operators import index_build

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(d, group):
        engine.search(spark, d, "data model query").collect()  # warm
        sc.setJobGroup(group, group)
        try:
            engine.search(spark, d, "data model query").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    d = str(tmp_path / "idx")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    assert jobs(d, "search-budget-steady") <= 4
    engine.delete_from_index(docs.limit(3).select("doc_id"), d)
    assert jobs(d, "search-budget-tombstones") <= 5


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_nation_revenue",
        "q14_promo_revenue",
        "join_broadcast_agg",
        "bm25_search",
        "minhash_lsh_pairs_fast",
        "vocab_coverage",
        "range_clustered_roundtrip",
    ],
)
def test_no_cartesian_anywhere(spark, sf_dir, name):
    # BroadcastNestedLoopJoin appears only for deliberate 1-row build
    # sides (the from-corpus bm25 path's corpus-stats aggregate; the
    # persisted search inlines N/avg_dl instead); a true CartesianProduct
    # is always a bug.
    assert not audit(_df(spark, sf_dir, name), forbids=("CartesianProduct",))


def test_q4_exists_becomes_semi_join(spark, sf_dir):
    """Catalyst must decorrelate EXISTS into a semi join, not a per-row
    subquery, and push the returnflag filter to the lineitem scan."""
    df = _df(spark, sf_dir, "q4_exists_semi")
    plan_ops = operators(df)
    assert any("Join" in o for o in plan_ops), plan_ops
    from big_data_assignment2_spark.plans.audit import explain_formatted

    plan = explain_formatted(df)
    assert "LeftSemi" in plan, plan
    assert any("EqualTo(l_returnflag,R)" in f for f in pushed_filters(df))


def test_q18_aggregates_before_join(spark, sf_dir):
    """The HAVING aggregate must sit below the joins in the plan (the
    fact table shrinks before joining, not after): in the optimized
    logical plan (parent-first text), Aggregate prints after Join."""
    df = _df(spark, sf_dir, "q18_large_orders")
    ops = operators(df)
    assert "HashAggregate" in ops and any("Join" in o for o in ops)
    logical = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    lines = logical.splitlines()
    first_join = min(i for i, l in enumerate(lines) if "Join" in l)
    first_agg = min(i for i, l in enumerate(lines) if "Aggregate" in l)
    assert first_agg > first_join, logical


def test_grouping_sets_single_expand(spark, sf_dir):
    df = _df(spark, sf_dir, "grouping_sets_agg")
    ops = operators(df)
    assert ops.count("Expand") == 1


def test_partitioned_read_prunes(spark, sf_dir):
    """The partition filter must prune directories (PartitionFilters on
    the scan), not fall back to a row-group/data filter."""
    from big_data_assignment2_spark.plans.audit import explain_formatted
    from big_data_assignment2_spark.sources.partitioned_sink import read_events_pruned

    df = read_events_pruned(spark, sf_dir)
    plan = explain_formatted(df)
    assert "PartitionFilters" in plan, plan
    assert "isnotnull(event_type" in plan and "purchase" in plan, plan


def test_ann_persisted_prunes_cells(spark, sf_dir):
    """The persisted ANN scan must prune cell directories (probe cells as
    PartitionFilters), not read every vector and filter -- the fix for the
    full-scan-with-filter shape of the in-memory LSH/IVF variants."""
    from big_data_assignment2_spark.operators.similarity import ann_topk_persisted
    from big_data_assignment2_spark.plans.audit import explain_formatted

    df = ann_topk_persisted(spark, sf_dir)
    plan = explain_formatted(df)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines, plan
    assert any("cell" in l and " IN " in l for l in pf_lines), pf_lines


def test_simhash_single_exchange(spark, sf_dir):
    """simhash claims exactly one shuffle (votes sum directly over token
    rows, no tf pre-aggregation) -- hold it to that."""
    df = _df(spark, sf_dir, "simhash")
    ops = operators(df)
    assert sum(1 for o in ops if o.startswith("Exchange")) == 1, ops


def test_q19_or_predicate_pushes_common_parts(spark, sf_dir):
    """The disjunctive (brand AND size AND qty) OR-chain must not block
    pushdown entirely: Catalyst extracts the per-side common disjunction,
    so BOTH scans carry an Or(..) pushed filter and the join is broadcast."""
    from big_data_assignment2_spark.operators.relational import q19_disjunctive_filter
    from big_data_assignment2_spark.plans.audit import audit, pushed_filters

    df = q19_disjunctive_filter(spark, sf_dir)
    assert not audit(df, requires=("BroadcastHashJoin",), forbids=("CartesianProduct",))
    pushed = pushed_filters(df)
    assert any("Or(" in p and "l_quantity" in p for p in pushed), pushed
    assert any("Or(" in p and "p_size" in p for p in pushed), pushed


def test_q22_anti_join_with_pushed_date(spark, sf_dir):
    """Anti join against recent orders: the date predicate must reach the
    orders scan (row-group pruning at scale), and the anti join itself
    must be broadcast (no shuffle of the customer side for it)."""
    from big_data_assignment2_spark.operators.relational import q22_idle_customers
    from big_data_assignment2_spark.plans.audit import audit, pushed_filters

    df = q22_idle_customers(spark, sf_dir)
    assert not audit(df, forbids=("CartesianProduct",))
    pushed = pushed_filters(df)
    assert any("GreaterThanOrEqual(o_orderdate" in p for p in pushed), pushed
    assert "LeftAnti" in str(df._jdf.queryExecution().executedPlan())


def test_events_ts_filter_pushes_to_scan(spark, sf_dir):
    """With the type-adaptive loader, a micros/millis events file keeps
    ``ts`` as a bare scan column (no expression rewrite), so a ts-range
    predicate must reach the parquet scan as a pushed row-group filter --
    at 100 TB that is time-partition skipping vs a full table read.
    (A nanos file pays the ns->us projection and legitimately loses this;
    the current testdata is micros at every SF.)"""
    from pyspark.sql import functions as F

    from big_data_assignment2_spark.sources.catalog import load_events

    df = load_events(spark, sf_dir)
    filtered = df.where(df.ts >= F.timestamp_micros(F.lit(1704067200000000)))
    assert any(
        "GreaterThanOrEqual(ts" in f for f in pushed_filters(filtered)
    ), pushed_filters(filtered)


def test_asof_event_type_filter_pushes(spark, sf_dir):
    """The asof join's per-side event_type filters must reach the events
    scan whichever physical ts type the file has."""
    df = _df(spark, sf_dir, "asof_join_events")
    fs = pushed_filters(df)
    assert any("EqualTo(event_type" in f for f in fs), fs


def test_shingle_cap_is_skew_proof(spark, sf_dir):
    """The stop-shingle df cap must be a partial-aggregated groupBy whose
    (tiny) over-cap result is broadcast into a left-anti join -- NOT a
    window count, which has no map-side partial and funnels a mega-hot
    shingle's every row onto one task before filtering."""
    from big_data_assignment2_spark.operators.dedup import _doc_shingles

    df = _doc_shingles(spark, sf_dir)
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "Window" not in plan, plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The binned range join exists to avoid the BroadcastNestedLoopJoin
    Spark plans for interval-only predicates: the physical join must be a
    hash/sort-merge equi join on the time bin, never a nested loop."""
    df = _df(spark, sf_dir, "range_join_events")
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_q2_dims_broadcast_no_merge_join(spark, sf_dir):
    """Q2's four dimension joins (part/supplier/nation/region) must all
    broadcast; the only shuffles are the (part, supplier) cost aggregate
    and the window min."""
    df = _df(spark, sf_dir, "q2_min_cost_supplier")
    ops = operators(df)
    assert ops.count("BroadcastHashJoin") == 4, ops
    assert "SortMergeJoin" not in ops and "CartesianProduct" not in ops


def test_q16_not_in_becomes_broadcast_anti(spark, sf_dir):
    """The NOT IN supplier exclusion must plan as a broadcast left-anti
    join, never a per-row subquery or shuffled anti join of the fact."""
    df = _df(spark, sf_dir, "q16_part_supplier_counts")
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_q21_reuses_one_fact_shuffle(spark, sf_dir):
    """The waiting-suppliers rewrite must shuffle the fact ONCE: the
    explicit orderkey repartition satisfies both aggregations and the
    join-back (subset rule), and the twice-referenced subtree dedupes to
    a ReusedExchange at runtime. A second fact-sized exchange would mean
    the rewrite regressed toward the classic triple-scan plan."""
    df = _df(spark, sf_dir, "q21_waiting_suppliers")
    df.collect()  # AQE finalizes exchange reuse at execution
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "REPARTITION_BY_COL" in plan, plan
    assert "ReusedExchange" in plan, plan


def test_doc_pack_windows_per_source_not_globally(spark, sf_dir):
    """Sequence packing must partition its cumsum window by source: a
    global ORDER BY window plans an Exchange SinglePartition -- the
    one-task bottleneck this operator exists to avoid."""
    df = _df(spark, sf_dir, "doc_pack_greedy")
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_blocklist_scan_is_narrow_and_python_free(spark, sf_dir):
    """The policy scan is one narrow projection: no shuffle, no explode
    blow-up, no Python eval."""
    df = _df(spark, sf_dir, "blocklist_scan")
    assert not audit(
        df, forbids=("Exchange", "ArrowEvalPython", "BatchEvalPython", "Generate")
    )


def test_sample_balanced_corpus_never_shuffles(spark, sf_dir):
    """The corpus side must meet the rate table via broadcast join; the
    only shuffles belong to the tiny per-language count aggregate."""
    df = _df(spark, sf_dir, "sample_balanced_lang")
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_time_rollup_single_expand(spark, sf_dir):
    """All three granularities must come from ONE Expand feeding one
    two-phase aggregate -- not a scan per level."""
    df = _df(spark, sf_dir, "events_time_rollup")
    ops = operators(df)
    assert ops.count("Expand") == 1, ops
    assert ops.count("Scan parquet") == 1, ops


def test_shuffle_hash_hint_respected(spark, sf_dir):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (no sort
    passes), not fall back to SortMergeJoin."""
    df = _df(spark, sf_dir, "join_shuffled_hash_agg")
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_orc_roundtrip_pushes_filter(spark, sf_dir):
    """The returnflag predicate must reach the ORC reader (PushedFilters
    on the ORC scan) -- format coverage includes format pushdown."""
    df = _df(spark, sf_dir, "orc_roundtrip")
    assert any("EqualTo(l_returnflag,R)" in f for f in pushed_filters(df)), pushed_filters(df)


def test_window_suite_single_shuffle(spark, sf_dir):
    """All five analytic functions share one window spec, so the plan
    must contain exactly one user_id Exchange and Window operators, and
    no global (SinglePartition) sort."""
    df = _df(spark, sf_dir, "window_funcs_suite")
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_doc_chunks_is_narrow_and_python_free(spark, sf_dir):
    """The 1->N chunk expansion must be a single narrow projection chain:
    no shuffle (Exchange), no Python eval -- sequence+slice stay JVM-side."""
    from big_data_assignment2_spark.operators.pipeline import doc_chunks
    from big_data_assignment2_spark.plans.audit import audit

    df = doc_chunks(spark, sf_dir)
    assert not audit(df, forbids=("Exchange", "ArrowEvalPython", "BatchEvalPython"))


def test_registry_wide_no_demoted_aggregates(spark, sf_dir):
    """Sweep EVERY registered non-streaming query's physical plan for the
    two silent scale-killers: CartesianProduct (a join that lost its
    keys) and SortAggregate (a var-width value sneaked into an
    aggregation buffer, demoting hash aggregation to a per-partition
    sort -- how the BM25 max(title) regression hid). Streaming queries
    execute fully on plan construction and are covered by their own
    tests; reference_* need the fixture corpus warm."""
    from big_data_assignment2_spark.plans.audit import explain_formatted
    from big_data_assignment2_spark.registry import build_registry

    reg = build_registry()
    offenders = {}
    for name, q in reg.queries.items():
        if name.startswith(("streaming_", "reference_")):
            continue
        plan = explain_formatted(q.fn(spark, sf_dir))
        bad = [w for w in ("SortAggregate", "CartesianProduct") if w in plan]
        if bad:
            offenders[name] = bad
    assert offenders == {}, offenders


def test_scd2_single_exchange(spark, sf_dir):
    """Both window passes of the SCD2 build (change-point lag, interval
    lead/row_number) plus the run filter must ride ONE user_id shuffle --
    the filter preserves distribution and sort order, so a second
    Exchange would be a regression."""
    from big_data_assignment2_spark.operators.temporal import scd2_history

    df = scd2_history(spark, sf_dir)
    plan = explain_formatted(df)
    ops = operators(df)
    assert sum(1 for o in ops if o.startswith("Exchange")) == 1, plan
    assert "SinglePartition" not in plan, plan
    assert sum(1 for o in ops if o == "Sort") == 1, plan


def test_prefix_hamming_band_join_is_equi(spark, sf_dir):
    """PassJoin banding must plan as an EQUI self-join on the
    (chunk_index, chunk_text) key -- a nested-loop/cartesian plan would
    mean the inequality-only pair predicate leaked into the join and the
    operator is all-pairs again. The Hamming verify must stay JVM-side
    (higher-order functions, no Python eval)."""
    from big_data_assignment2_spark.operators.dedup import prefix_hamming_pairs

    df = prefix_hamming_pairs(spark, sf_dir)
    assert not audit(
        df,
        forbids=(
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "ArrowEvalPython",
            "BatchEvalPython",
        ),
    )
    assert any("Join" in o for o in operators(df))


def test_matview_refresh_scans_are_date_pruned(spark, sf_dir):
    """Base and delta sides of the MV refresh must each push their
    o_orderdate bound to the scan (at scale the base side is a stored
    aggregate; here both sides derive from orders and the pushdown is
    what bounds each side's read)."""
    from big_data_assignment2_spark.operators.merge import matview_incremental_refresh

    df = matview_incremental_refresh(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("LessThan(o_orderdate" in p for p in pushed), pushed
    assert any("GreaterThanOrEqual(o_orderdate" in p for p in pushed), pushed


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """The runtime dim selection must land in the fact SCAN as a
    dynamicpruningexpression PartitionFilter -- static pruning cannot see
    rank-derived keys, so this is the mechanism that keeps star-schema
    fact scans bounded by dim selectivity at 100 TB."""
    from big_data_assignment2_spark.sources.partitioned_sink import dpp_pruned_join

    df = dpp_pruned_join(spark, sf_dir)
    plan = explain_formatted(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, plan
    assert any("dynamicpruning" in l for l in pf), pf


def test_scd2_pit_join_single_exchange(spark, sf_dir):
    """The point-in-time mapping must stay a ONE-shuffle window pipeline
    (running start-count), never materialize-and-join the history."""
    from big_data_assignment2_spark.operators.temporal import scd2_point_in_time_join

    df = scd2_point_in_time_join(spark, sf_dir)
    ops = operators(df)
    assert sum(1 for o in ops if o.startswith("Exchange")) == 1, ops
    assert not any("Join" in o for o in ops), ops


def test_runtime_bloom_join_shape_and_conf_restore(spark, sf_dir):
    """The bloom demo must carry the InjectRuntimeFilter shape
    (bloom_filter_agg build subquery + might_contain probe on the fact
    side) in ITS frozen plan, while leaving the session's broadcast and
    bloom confs untouched for every other query."""
    from big_data_assignment2_spark.operators.relational import runtime_bloom_join

    before_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = runtime_bloom_join(spark, sf_dir)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before_bc
    plan = explain_formatted(df)
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan


def test_sample_weighted_is_narrow(spark, sf_dir):
    """PPS sampling must stay a filter: no Exchange, no Python eval --
    sampling 100 TB is a scan, never a shuffle."""
    from big_data_assignment2_spark.operators.pipeline import sample_weighted

    df = sample_weighted(spark, sf_dir)
    assert not audit(
        df, forbids=("Exchange", "ArrowEvalPython", "BatchEvalPython")
    )


def test_prefix_edit_banding_is_equi_join(spark, sf_dir):
    """PassJoin edit-distance banding must reach the executor as a hash-
    partitionable EQUI join on (segment_index, segment_text) -- never a
    nested-loop/cartesian pair enumeration (the whole point of the
    segment/window scheme)."""
    df = _df(spark, sf_dir, "prefix_edit_pairs")
    assert not audit(df, forbids=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_cbo_stats_drive_join_reorder(spark, sf_dir):
    """With ANALYZE column stats + CBO on, Catalyst's DP join reorder must
    rebuild the deliberately-worst declared order (fact first, dims last)
    so the fact table joins LAST against the pre-joined dimension chain;
    with CBO off the declared order must survive verbatim. Same result
    either way (the oracle pins values)."""
    import re

    from big_data_assignment2_spark.operators.cbo import reorder_plan

    def first_seen(plan):
        seen = []
        for m in re.findall(r"cbo_(orders|customer|nation|region)_", plan):
            if m not in seen:
                seen.append(m)
        return seen

    off = first_seen(reorder_plan(spark, sf_dir, cbo=False))
    on = first_seen(reorder_plan(spark, sf_dir, cbo=True))
    assert off == ["orders", "customer", "nation", "region"]  # declared order
    assert on != off
    # reordered tree starts from the dimension chain, fact joined last
    assert on[-1] == "orders", on


def test_bucketed_join_no_exchange(spark, sf_dir):
    """The bucketBy(8, custkey) layout must let the orders-customer join
    run WITHOUT shuffling either input (the pre-paid shuffle is the whole
    point). At test scale the planner legitimately prefers broadcast, so
    the sort-merge path is forced with a hint and the assertion is: both
    scans are bucketed AND no shuffle Exchange exists anywhere below the
    SortMergeJoin -- the cluster-scale shape where bucketing pays."""
    from big_data_assignment2_spark.sources.partitioned_sink import (
        ensure_bucketed_tables,
    )

    slug = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(f"bkt_orders_{slug}")
    c = spark.table(f"bkt_customer_{slug}").hint("merge")
    df = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_mktsegment")
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert plan.count("SelectedBucketsCount: 8 out of 8") == 2, plan
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_footer_agg_pushdown_shape(spark, sf_dir):
    """COUNT/MIN/MAX must reach the parquet scan as PushedAggregation
    (footer-only answer); the session confs the operator scopes must be
    back to their defaults afterwards; and the operator's RESULT must be
    localized (already executed in scope), so that a consumer re-planning
    it -- the bench's noop write -- cannot silently fall back to a full
    scan outside the conf scope (the round-6 ADVICE finding)."""
    from big_data_assignment2_spark.sources.partitioned_sink import (
        footer_agg_pushdown,
        footer_agg_pushdown_plan,
    )

    keys = ("spark.sql.parquet.aggregatePushdown", "spark.sql.sources.useV1SourceList")
    before = {k: spark.conf.get(k) for k in keys}
    plan = footer_agg_pushdown_plan(spark, sf_dir)
    assert "PushedAggregation: [COUNT(*)" in plan, plan
    assert "MIN(l_extendedprice)" in plan, plan
    df = footer_agg_pushdown(spark, sf_dir)
    assert {k: spark.conf.get(k) for k in keys} == before
    # the registry result carries no parquet scan at all: it was computed
    # from footers inside the scope and localized
    rplan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "FileScan" not in rplan and "BatchScan" not in rplan, rplan
    assert df.count() == 1


def test_cbo_restores_session_flags(spark, sf_dir):
    """cbo_join_reorder flips spark.sql.cbo.* while freezing its plan; a
    driver running it mid-sweep must get its session back EXACTLY as it
    was, or every later query would silently plan under CBO."""
    from big_data_assignment2_spark.operators.cbo import cbo_join_reorder

    keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    df = cbo_join_reorder(spark, sf_dir)
    after_build = {k: spark.conf.get(k) for k in keys}
    df.collect()  # the driver collects AFTER the function returned
    after_collect = {k: spark.conf.get(k) for k in keys}
    assert after_build == before
    assert after_collect == before


def test_nested_roundtrip_reads_narrow_schema(spark, sf_dir):
    """The nested roundtrip must scan only the three subfields it uses:
    automatic nested pruning can't handle a multi-subfield explode
    (single-field-only in GeneratorNestedColumnAliasing), so the
    operator pins an explicit read schema -- this asserts the dropped
    subfields never reach the parquet reader."""
    from big_data_assignment2_spark.sources.text_formats import (
        nested_lineitems_roundtrip,
    )

    df = nested_lineitems_roundtrip(spark, sf_dir)
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas, plan
    for s in schemas:
        assert "l_partkey" not in s and "l_linenumber" not in s, s
        assert "l_extendedprice" in s, s


def test_not_in_is_null_aware(spark, sf_dir):
    """NOT IN must plan the null-aware anti join (not a plain LeftAnti on
    the key), and must honor three-valued logic: one NULL in the subquery
    empties the result."""
    from big_data_assignment2_spark.operators.relational import (
        join_not_in_null_aware,
    )

    df = join_not_in_null_aware(spark, sf_dir)
    plan = str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    assert "LeftAnti" in plan, plan
    # BroadcastHashJoin prints isNullAwareAntiJoin as the trailing flag
    assert "LeftAnti, BuildRight, true" in plan, plan
    # semantics: a NULL on the right empties the result entirely
    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(2,), (None,)], "k long")
    left.createOrReplaceTempView("nin_l")
    right.createOrReplaceTempView("nin_r")
    out = spark.sql("SELECT k FROM nin_l WHERE k NOT IN (SELECT k FROM nin_r)")
    assert out.count() == 0


def test_m4_branches_use_window_group_limit(spark, sf_dir):
    """Each of the four rank-1 extremum branches must carry a map-side
    WindowGroupLimit (partial + final = 8 total): the rn==1 filter
    prunes to ~one candidate row per map partition per bucket BEFORE
    the exchange, so shuffle volume tracks buckets, not rows. If these
    disappear, the branches are shuffling the whole table x4."""
    from big_data_assignment2_spark.operators.windows import minmax_downsample

    ops = operators(minmax_downsample(spark, sf_dir))
    assert sum(1 for o in ops if o == "WindowGroupLimit") == 8, ops
    assert sum(1 for o in ops if o.startswith("Exchange")) == 4, ops


@pytest.mark.parametrize("name", ["span_exact_dedup", "span_exact_dedup_fast"])
def test_span_dedup_gram_count_is_partial_hash_agg(spark, sf_dir, name):
    """Both span-dedup variants' gram occurrence count must be a two-phase
    HashAggregate (map-side partials absorb hot boilerplate grams before
    the exchange -- the skew argument), the verdict rejoin must be a real
    shuffle join (never a pointless broadcast of a corpus-scaled set, and
    never a window count, which has no partial), and the whole plan stays
    JVM-side with no cartesian blowup. The fast twin must additionally
    shuffle an 8-byte xxhash64 gram key, never the K-token string."""
    df = _df(spark, sf_dir, name)
    ops = operators(df)
    assert not audit(df, forbids=("CartesianProduct",))
    # two-phase count: at least two HashAggregates (partial + final) and
    # no sort-based demotion anywhere
    assert ops.count("HashAggregate") >= 2
    assert "SortAggregate" not in ops
    plan = explain_formatted(df)
    # the occurrence-count aggregate sits UNDER an exchange (partial
    # before shuffle); a window-count formulation would show a Window
    # over gram instead -- the only Window here is the per-doc run merge
    assert plan.count("Window") >= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    if name.endswith("_fast"):
        assert "xxhash64" in plan
        assert "concat_ws" not in plan
