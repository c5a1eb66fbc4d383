"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...},
     "builds": {"bm25_index": sec, ...}, "build_total": sec,
     "query_total": sec, "sf": 0.1}

One-time index/cache builds (persisted BM25 index, ANN cell index, doc
export, reference-fixture cache fill) run in a separate build phase so
per-query numbers track query latency, not build amortization; ``value``
stays build_total + query_total, comparable with rounds that charged
builds to the first query.

Execution is forced with the `noop` sink (full plan runs, nothing collected
to the driver), which is what a cluster deployment measures too.  A short
warm-up query first so JVM/codegen startup isn't charged to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_assignment2_spark.registry import build_registry
from big_data_assignment2_spark.session import get_spark


def _force(df) -> None:
    # noop sink: executes the full physical plan without driver collection.
    df.write.format("noop").mode("overwrite").save()


# Per-item watchdog: a runaway query is cancelled (job-group interrupt),
# recorded as an error, and the bench MOVES ON.  Round 5's lesson: one
# failing query must never zero the whole artifact.
ITEM_TIMEOUT_SEC = int(os.environ.get("SPARK_GRAFT_BENCH_ITEM_TIMEOUT", "300"))


def _run_isolated(spark, label: str, fn, timings: dict, errors: dict) -> None:
    sc = spark.sparkContext
    group = f"bench-{label}"
    sc.setJobGroup(group, label, interruptOnCancel=True)
    timer = threading.Timer(ITEM_TIMEOUT_SEC, lambda: sc.cancelJobGroup(group))
    timer.daemon = True
    timer.start()
    t0 = time.perf_counter()
    try:
        fn()
        timings[label] = round(time.perf_counter() - t0, 3)
    except Exception as e:  # noqa: BLE001 - isolation is the point
        took = round(time.perf_counter() - t0, 3)
        msg = str(e).split("\n", 1)[0][:200]
        errors[label] = f"{type(e).__name__} after {took}s: {msg}"
    finally:
        timer.cancel()


def warm_up(spark, sf_dir: str) -> None:
    """JVM, codegen, parquet footer caches, and the Python UDF worker pool
    (daemon + Arrow serializer startup is ~2s once per executor; a cluster
    amortizes it the same way)."""
    _force(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000))
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    _force(
        spark.range(1000)
        .select(_warm("id").alias("w"))
        .groupBy((_F.col("w") % 10).alias("k"))
        .agg(_F.sum("w").alias("s"))
    )


def run_build_phase(spark, sf_dir: str, reg, builds: dict, errors: dict) -> None:
    """One-time index/fixture builds, timed apart from the queries."""

    def _build(label, fn) -> None:
        _run_isolated(spark, f"build:{label}", fn, builds, errors)
        if f"build:{label}" in builds:
            builds[label] = builds.pop(f"build:{label}")

    from big_data_assignment2_spark.operators.search import (
        ensure_compacted_index,
        ensure_deleted_index,
        ensure_incremental_index,
        ensure_persisted_index,
    )
    from big_data_assignment2_spark.operators.multimodal import ensure_image_fixture
    from big_data_assignment2_spark.operators.similarity import ensure_ann_index
    from big_data_assignment2_spark.sources.doc_export import ensure_exported

    from big_data_assignment2_spark.sources.text_formats import (
        write_corrupt_csv,
        write_events_json,
        write_lineitem_csv,
        write_lineitem_orc,
        write_lineitem_xml,
    )

    _build("bm25_index", lambda: ensure_persisted_index(spark, sf_dir))
    _build("bm25_incr_index", lambda: ensure_incremental_index(spark, sf_dir))
    _build("bm25_deleted_index", lambda: ensure_deleted_index(spark, sf_dir))
    _build("bm25_compacted_index", lambda: ensure_compacted_index(spark, sf_dir))
    # the full operability loop (build -> delete -> compact -> append-readd)
    # as a timed artifact, not just pytest coverage
    from big_data_assignment2_spark.operators.search import ensure_lifecycle_index

    _build("index_lifecycle_readd", lambda: ensure_lifecycle_index(spark, sf_dir))
    # the shared connected-components propagation: neardup_components and
    # dedup_apply_neardup both consume this memoized label frame -- charge
    # it here so their per-query numbers stop depending on bench order
    from big_data_assignment2_spark.operators.dedup import _components_labels

    _build("neardup_cc_labels", lambda: _components_labels(spark, sf_dir))
    _build("ann_index", lambda: ensure_ann_index(spark, sf_dir))
    _build("image_fixture", lambda: ensure_image_fixture(spark, sf_dir))
    from big_data_assignment2_spark.sources.partitioned_sink import (
        write_lineitem_range_clustered,
    )

    _build("range_clustered", lambda: write_lineitem_range_clustered(spark, sf_dir))
    from big_data_assignment2_spark.sources.manifest import (
        ensure_append,
        ensure_manifest,
    )

    _build("lineitem_manifest", lambda: ensure_manifest(spark, sf_dir))
    _build("lineitem_manifest_append", lambda: ensure_append(spark, sf_dir))
    from big_data_assignment2_spark.operators.merge import merged_orders_path
    from big_data_assignment2_spark.sources.partitioned_sink import (
        write_lineitem_zordered,
    )

    _build("merge_base_and_merge", lambda: merged_orders_path(spark, sf_dir))
    _build("zorder_clustered", lambda: write_lineitem_zordered(spark, sf_dir))
    from big_data_assignment2_spark.sources.partitioned_sink import (
        ensure_compacted_debris,
    )

    _build("debris_and_compaction", lambda: ensure_compacted_debris(spark, sf_dir))
    from big_data_assignment2_spark.operators.dedup import _neardup_store
    from big_data_assignment2_spark.sources.partitioned_sink import (
        write_lineitem_hilbert,
        write_orders_bloom,
    )
    from big_data_assignment2_spark.sources.secondary_index import (
        build_orders_secondary_index,
    )

    _build("hilbert_clustered", lambda: write_lineitem_hilbert(spark, sf_dir))
    _build("orders_bloom", lambda: write_orders_bloom(spark, sf_dir))
    from big_data_assignment2_spark.sources.partitioned_sink import (
        write_orders_bloom_str,
    )

    _build("orders_bloom_str", lambda: write_orders_bloom_str(spark, sf_dir))
    _build("orders_secondary_index", lambda: build_orders_secondary_index(spark, sf_dir))
    _build("neardup_store", lambda: _neardup_store(spark, sf_dir))
    from big_data_assignment2_spark.sources.text_formats import write_orders_evolved

    _build("orders_evolved", lambda: write_orders_evolved(spark, sf_dir))
    _build("doc_export", lambda: ensure_exported(spark, sf_dir))
    from big_data_assignment2_spark.sources.doc_export import ensure_pyds_written

    _build("pyds_writer_commit", lambda: ensure_pyds_written(spark, sf_dir))
    from big_data_assignment2_spark.operators.cbo import ensure_stats_tables

    _build("cbo_stats_tables", lambda: ensure_stats_tables(spark, sf_dir))
    from big_data_assignment2_spark.sources.partitioned_sink import (
        ensure_bucketed_tables,
    )

    _build("bucketed_tables", lambda: ensure_bucketed_tables(spark, sf_dir))
    _build("csv_export", lambda: write_lineitem_csv(spark, sf_dir))
    _build("json_export", lambda: write_events_json(spark, sf_dir))
    _build("orc_export", lambda: write_lineitem_orc(spark, sf_dir))
    _build("corrupt_csv_fixture", lambda: write_corrupt_csv(spark, sf_dir))
    _build("xml_export", lambda: write_lineitem_xml(spark, sf_dir))
    from big_data_assignment2_spark.sources.text_formats import write_lineitem_nested

    _build("nested_export", lambda: write_lineitem_nested(spark, sf_dir))
    if any(n.startswith("reference_bm25") for n in reg.queries):
        from big_data_assignment2_spark.sources.reference_corpus import (
            warm_reference_index,
        )

        _build("reference_cache", lambda: warm_reference_index(spark))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # parse ".../sf0.1" -> 0.1 (fall back to 0.1 on odd paths)
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = 0.1

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = build_registry()

    warm_up(spark, sf_dir)

    builds: dict[str, float] = {}
    errors: dict[str, str] = {}
    run_build_phase(spark, sf_dir, reg, builds, errors)

    timings: dict[str, float] = {}
    for name, q in reg.queries.items():
        _run_isolated(
            spark, name, lambda q=q: _force(q.fn(spark, sf_dir)), timings, errors
        )

    # Warm-rep medians for the top-10 cost centers: per-query bench
    # numbers are position-dependent (a query at the cold session head
    # can read ~2x its warm time after a mere window reorder, zero code
    # change -- triangle_count measured 8.4s at slot 5 vs 4.5s warm).
    # Three isolated reps recorded per top query give a
    # position-independent median to judge regressions against; the
    # headline totals above stay untouched.
    warm_medians: dict[str, dict] = {}
    suspects_dropped: list[str] = []
    # Always-warm rows (additions-only diagnostics, r13): the queries
    # whose small-input fan-out was A/B-tested in r12/r13, plus the
    # streaming resume demo -- exactly the rows whose cold-position noise
    # caused the r12 regression-attribution pain. A warm-median row for
    # each makes any future "regressed" reading refutable (or
    # confirmable) from the artifact itself.
    # Headline totals are untouched: warm reps land in warm_medians only.
    _ALWAYS_WARM = (
        "simhash",
        "simhash_neardup_pairs",
        "span_exact_dedup",
        "span_exact_dedup_fast",
        "equidepth_histogram",
        "embedding_gram",
        "kmeans_2iter",
        "ann_topk_pq",
        "ann_topk_bruteforce",
        "ann_topk_lsh",
        "ann_topk_ivf",
        "text_quality",
        "quality_filter_apply",
        "lang_id",
        "token_counts",
        "doc_fingerprint",
        "pii_redact",
        "doc_char_entropy",
        "doc_chunks",
        "blocklist_scan",
        "repetition_stats",
        "bigrams_udtf",
        "profile_table",
        "basket_pair_lift",
        "streaming_checkpoint_resume",
        "embedding_neardup_lsh",
        "split_leakage_report",
        "dedup_incremental_lsh",
        "gapfill_linear",
    )
    if os.environ.get("SPARK_GRAFT_WARM_MEDIANS", "1") != "0":
        top = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:10]]
        # ... plus every regression SUSPECT: a query reading >1.5x its
        # historical best across the committed bench artifacts, OR >1.5x
        # its time in the PREVIOUS committed lockstep (the full map --
        # a query whose historical best predates a deliberate cost change
        # would never trip the best-only rule, yet a jump vs last round
        # is exactly what needs a warm row). Both require >0.5s now --
        # sub-second swings are pure position noise. These are exactly
        # the rows warm medians exist to settle: position/cold-head cost
        # vs a real code regression. History sources, SAME-sf only (a
        # sf0.01 run must not compare against sf0.1 bests): driver
        # BENCH_r*.json artifacts carry per-query timings under
        # parsed.queries (the truncated top-cost tail), and the on-disk
        # BENCH_DETAIL.json -- not yet overwritten at this point -- is
        # the PREVIOUS run's full 225-query map.
        hist_best: dict[str, float] = {}
        prev_lockstep: dict[str, float] = {}
        import glob as _glob

        here = os.path.dirname(os.path.abspath(__file__))
        detail_path = os.path.join(here, "BENCH_DETAIL.json")
        for bf in sorted(_glob.glob(os.path.join(here, "BENCH_r*.json"))) + [
            detail_path
        ]:
            try:
                with open(bf) as fh:
                    art = json.load(fh)
                payload = art.get("parsed") or art  # parsed: null on a failed round
                if payload.get("sf") != sf and art.get("sf") != sf:
                    continue
                queries = payload.get("queries")
                items = queries.items() if isinstance(queries, dict) else ()
            except Exception:  # noqa: BLE001 -- a malformed artifact (bad JSON
                continue  # or a non-object shape) never kills the bench
            for n, s in items:
                if not isinstance(s, (int, float)) or s <= 0:
                    continue
                if s < hist_best.get(n, float("inf")):
                    hist_best[n] = s
                if bf == detail_path:
                    prev_lockstep[n] = s

        def _suspect_ratio(n: str, t: float) -> float:
            """Worst of the two trip ratios ('-inf' when neither source
            has the query): vs historical best and vs previous lockstep."""
            r = float("-inf")
            if n in hist_best:
                r = max(r, t / hist_best[n])
            if n in prev_lockstep:
                r = max(r, t / prev_lockstep[n])
            return r

        suspect_pool = sorted(
            (
                n
                for n, t in timings.items()
                if n not in top and t > 0.5 and _suspect_ratio(n, t) > 1.5
            ),
            key=lambda n: -_suspect_ratio(n, timings[n]),
        )
        # cap bounds a pathological run (host load inflating EVERY query
        # would otherwise trigger 3 warm reps x 225); the artifact records
        # what the cap dropped instead of silently truncating
        suspects = suspect_pool[:25]
        suspects_dropped = suspect_pool[25:]
        always = [
            n
            for n in _ALWAYS_WARM
            if n in timings and n not in top and n not in suspects
        ]
        for name in top + suspects + always:
            reps: dict[str, float] = {}
            # warm-rep failures stay OUT of the headline errors dict: a
            # flaky rep must not flip the lockstep "0 errors" verdict
            # when all registry-order queries passed
            rep_errors: dict[str, str] = {}
            for i in range(3):
                _run_isolated(
                    spark,
                    f"warm{i}:{name}",
                    lambda name=name: _force(reg.queries[name].fn(spark, sf_dir)),
                    reps,
                    rep_errors,
                )
            vals = sorted(reps.values())
            if vals:
                import statistics

                warm_medians[name] = {
                    "in_bench": timings[name],
                    "best_r": hist_best.get(name),
                    "prev_lockstep": prev_lockstep.get(name),
                    "reps": [reps.get(f"warm{i}:{name}") for i in range(3)],
                    # statistics.median averages the middle pair when a
                    # failed rep leaves an even count -- vals[n//2] would
                    # report the LARGER survivor as "median" and inflate
                    # the baseline a regression is judged against
                    "median": round(statistics.median(vals), 3),
                }
                if rep_errors:
                    warm_medians[name]["rep_errors"] = rep_errors

    # Scale check: replicate the base tables 10x (keys offset per replica)
    # and re-run a scan/shuffle-representative subset -- one data point
    # that per-query cost grows ~linearly with data size on this plan set.
    scale_check: dict = {}
    if os.environ.get("SPARK_GRAFT_SCALE_CHECK", "1") != "0":
        factor = 10
        t0 = time.perf_counter()
        try:
            scaled_dir = _build_scaled_dir(spark, sf_dir, factor)
        except Exception as e:  # noqa: BLE001
            errors["scale:gen"] = f"{type(e).__name__}: {str(e)[:200]}"
            scaled_dir = None
        gen_sec = round(time.perf_counter() - t0, 3)
        # Everything here touches only the replicated tables (lineitem /
        # documents / events / embeddings) and no per-sf_dir persisted
        # fixture, so the scaled run measures the QUERY plan, not a
        # fixture rebuild. The LSH/banding family is the deliberate
        # centerpiece: candidate-pair growth is the actual 100 TB risk,
        # so each must scale sub-quadratically (ratio << factor^2).
        picks = (
            # scan/shuffle-representative core
            "q1_pricing_summary",
            "q6_forecast_revenue",
            "events_time_rollup",
            "events_value_histogram",
            "token_counts",
            "text_quality",
            "lang_id",
            "doc_fingerprint",
            "dedup_exact",
            "dedup_apply",
            "bm25_search",
            # temporal / window family over 10x events
            "asof_join_events",
            "range_join_events",
            "window_session",
            "funnel_depths",
            "cohort_retention",
            # LSH / banding family (candidate-pair growth check)
            "minhash_lsh_pairs",
            "minhash_lsh_pairs_fast",
            "simhash_neardup_pairs",
            "prefix_hamming_pairs",
            "prefix_edit_pairs",
            "embedding_neardup_lsh",
            "tf_cosine_pairs",
            "triangle_count",
            # span-level dedup: on the clone corpus every doc collapses to
            # ONE full-doc span, so output stays linear and the ratio
            # measures the gram shuffle -- the honest scale axis here
            # (the _fast twin shuffles 8-byte xxhash64 gram keys instead
            # of K-token strings; same plan shape, ~K-fold less volume)
            "span_exact_dedup",
            "span_exact_dedup_fast",
            # new window / two-feed joins (r5 additions)
            "window_trailing_range",
            "full_outer_reconcile",
            # r6 event analytics (events-only, no persisted fixture)
            "event_transitions",
            "outlier_zscore",
            # embedding family
            "ann_topk_bruteforce",
            "ann_topk_lsh",
            "embedding_centroids",
            "ann_topk_pq",
            # r6 mining additions (replicated-table inputs only)
            "basket_pair_lift",
            "time_decay_attribution",
            "quantile_normalize_by_source",
            "tfidf_top_terms",
            # r6 final wave (replicated-table inputs only; the manifest /
            # bloom-str queries are excluded -- they read per-sf_dir
            # persisted fixtures, which the scaled run must not rebuild)
            "ann_pq_recall_eval",
            "kmeans_2iter",
            "doc_char_entropy",
            "pii_redact",
        )
        picks = tuple(n for n in picks if n in reg.queries) if scaled_dir else ()
        per_q: dict[str, dict] = {}
        for name in picks:
            # Re-time the BASE back-to-back with the scaled run: the main
            # loop's timing was taken at a different JVM warmth, and a
            # warm-vs-cold base silently inflates/deflates the ratio
            # (observed 4x ratio swings on identical scaled times).
            pair_times: dict[str, float] = {}
            _run_isolated(
                spark,
                f"base:{name}",
                lambda name=name: _force(reg.queries[name].fn(spark, sf_dir)),
                pair_times,
                errors,
            )
            _run_isolated(
                spark,
                f"scale:{name}",
                lambda name=name: _force(reg.queries[name].fn(spark, scaled_dir)),
                pair_times,
                errors,
            )
            if f"scale:{name}" not in pair_times or f"base:{name}" not in pair_times:
                continue
            scaled_t = pair_times[f"scale:{name}"]
            base_t = pair_times[f"base:{name}"]
            per_q[name] = {
                "base": base_t,
                "scaled": scaled_t,
                "ratio": round(scaled_t / base_t, 2) if base_t > 0 else None,
            }
        ratios = sorted(v["ratio"] for v in per_q.values() if v["ratio"])
        # The replica corpus makes every document a 10-way EXACT clone, so
        # content-similarity pair operators' TRUE OUTPUT grows ~x45 per doc
        # by construction -- their wall-clock ratio measures that output
        # explosion, not candidate-generation behavior (SCALE.md details;
        # the banded candidate paths are separately bucket-audited there).
        output_quadratic = (
            "minhash_lsh_pairs",
            "minhash_lsh_pairs_fast",
            "simhash_neardup_pairs",
            "prefix_hamming_pairs",
            "prefix_edit_pairs",
            "embedding_neardup_lsh",
        )
        for n in output_quadratic:
            if n in per_q:
                per_q[n]["note"] = "output ~x45/doc on the clone corpus (true near-dups by construction)"
        scale_check = {
            "factor": factor,
            "base_sf": sf,
            "gen_sec": gen_sec,
            "median_ratio": ratios[len(ratios) // 2] if ratios else None,
            "median_ratio_excl_output_quadratic": (
                lambda rr: rr[len(rr) // 2] if rr else None
            )(
                sorted(
                    v["ratio"]
                    for k, v in per_q.items()
                    if v.get("ratio") and k not in output_quadratic
                )
            ),
            "queries": per_q,
        }

    build_total = round(sum(builds.values()), 3)
    query_total = round(sum(timings.values()), 3)
    full = {
        "metric": "total wall-clock, all registered queries + one-time builds, noop sink",
        "value": round(build_total + query_total, 3),
        "unit": "sec",
        "queries": timings,
        "builds": builds,
        "build_total": build_total,
        "query_total": query_total,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": errors,
        "warm_medians": warm_medians,
        "warm_suspects_dropped": suspects_dropped,
        "scale_check": scale_check,
        "sf": sf,
    }
    # Complete record first (whole-stdout consumers), and to a repo file
    # (the per-round capture only keeps a ~2000-char stdout tail, which
    # truncated the full map in round 3).
    print(json.dumps(full), flush=True)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    # LAST line: a compact summary guaranteed to fit a 2000-char tail --
    # totals + as many slowest-query timings as fit + a detail pointer.
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": dict(list(errors.items())[:3]),
        "build_total": build_total,
        "query_total": query_total,
        "scale_check": {
            k: scale_check.get(k) for k in ("factor", "median_ratio", "gen_sec")
        }
        if scale_check
        else {},
        "detail": "BENCH_DETAIL.json",
        "queries_omitted": 0,
        "queries": {},
    }
    budget = 1800
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        trial = dict(compact)
        trial["queries"] = {**compact["queries"], name: t}
        trial["queries_omitted"] = len(timings) - len(trial["queries"])
        if len(json.dumps(trial)) > budget:
            break
        compact = trial
    print(json.dumps(compact), flush=True)
    spark.stop()


def _build_scaled_dir(spark, sf_dir: str, factor: int) -> str:
    """Replicate the tables the scale-check queries touch *factor* times
    into a scratch sf-dir layout, offsetting key columns per replica so
    cardinalities scale with the data (replica 0 keeps original ids, so
    fixed reference rows like the ANN query vector survive)."""
    from pyspark.sql import functions as F

    from big_data_assignment2_spark.operators._util import scratch_root, scratch_slug

    out = f"{scratch_root()}/scale{factor}x_{scratch_slug(sf_dir)}"
    reps = F.broadcast(
        spark.range(factor).select(F.col("id").cast("long").alias("rep"))
    )
    offset = 1_000_000_000
    plans = {
        "lineitem": ("l_orderkey",),
        "documents": ("doc_id",),
        "events": ("event_id", "user_id"),
        "embeddings": ("vec_id",),
    }
    from big_data_assignment2_spark.sources.catalog import load_table

    for tbl, keys in plans.items():
        # the engine's own loader (events needs the type-adaptive ts read;
        # writing its plain-TIMESTAMP output round-trips through the same
        # loader cleanly)
        df = load_table(spark, sf_dir, tbl).crossJoin(reps)
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("rep") * offset)
        df.drop("rep").write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
    return out


if __name__ == "__main__":
    main()
