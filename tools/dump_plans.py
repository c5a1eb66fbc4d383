"""Formatted physical plans. With no arguments, regenerate PLANS.md: the
flagship queries with a one-line 'what to look at' note each (default sf
dir sf0.01). Run from the repo root:

    python tools/dump_plans.py > PLANS.md

With arguments, write ``<out_dir>/<query>_<suffix>.txt`` for each named
query (default sf dir sf0.1), e.g. ``plans/r13 before ...``. Queries that
depend on persisted fixtures trigger their builds first, exactly as the
bench does, so the plan reflects the benched read path:

    python tools/dump_plans.py <out_dir> <suffix> <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# (query name, what the plan proves)
PICKS = [
    (
        "bm25_search_persisted",
        "term_bucket PartitionFilters (directory pruning, the Cassandra "
        "partition-key analog) + term IN pushdown + df as a window over "
        "the picked postings + TakeOrderedAndProject top-k; no Python anywhere",
    ),
    (
        "q3_shipping_priority",
        "filters pushed to all three scans, dimension side broadcast, "
        "single fact shuffle, TakeOrderedAndProject",
    ),
    (
        "minhash_lsh_pairs",
        "banded candidate equi-join (no cartesian), map-side partial "
        "aggregates, one Arrow-batched shingle UDF feeding everything",
    ),
    (
        "range_clustered_roundtrip",
        "shipdate range predicate reaches the scan as PushedFilters over "
        "the range-clustered files (footer min/max pruning)",
    ),
    (
        "embedding_neardup_lsh",
        "hyperplane band buckets -> candidate join -> Arrow-batched exact "
        "verify; sub-quadratic, broadcast-free",
    ),
    (
        "window_funcs_suite",
        "all six window functions share ONE window spec: a single "
        "Exchange + Sort feeds every function",
    ),
]


def main() -> None:
    from big_data_assignment2_spark.plans.audit import explain_formatted
    from big_data_assignment2_spark.registry import build_registry
    from big_data_assignment2_spark.session import get_spark

    args = sys.argv[1:]
    sf = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1" if args else "/root/testdata/sf0.01"
    )
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    reg = build_registry()
    if args:
        out_dir, suffix, *names = args
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            text = explain_formatted(reg.queries[name].fn(spark, sf))
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(text)
            print(f"wrote {path} ({len(text)} bytes)")
    else:
        print("# PLANS — formatted physical plans of the flagship queries")
        print()
        print(f"Generated by `python tools/dump_plans.py` at sf dir `{sf}`.")
        print("Regenerate after changing any of these operators; the shapes")
        print("below are also asserted in `tests/test_plans.py`.")
        for name, note in PICKS:
            df = reg.queries[name].fn(spark, sf)
            print(f"\n## {name}\n\n*What to look at:* {note}\n")
            print("```")
            print(explain_formatted(df).rstrip())
            print("```")
    spark.stop()


if __name__ == "__main__":
    main()
