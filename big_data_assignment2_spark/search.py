"""Query front door: ``python -m big_data_assignment2_spark.search "terms"``.

The reference answers ad-hoc queries through ``app/search.sh`` (argv, else
piped stdin, else an interactive prompt -- ``search.sh:5-14``) feeding
``app/query.py``, which prints ``rank\\tdoc_id\\ttitle\\tscore`` lines
(``query.py:95-96``). This module is that front door over the parquet
index: first use builds the term-bucket-partitioned index from the corpus
(``engine.build_index``), later invocations reuse it from disk and run the
bucket-pruned ``engine.search`` -- the index.sh / search.sh lifecycle
split, one process per query like ``spark-submit query.py``.

    python -m big_data_assignment2_spark.search big data analytics
    echo "machine learning model" | python -m big_data_assignment2_spark.search
    python -m big_data_assignment2_spark.search --corpus /path/to/*.txt-dir -k 5 query

The default corpus is the reference's own fixture (1000
``<doc_id>_<safe_title>.txt`` files), so the three ``app/app.sh`` smoke
queries run out of the box; ``--corpus`` accepts any directory of such
files.
"""

from __future__ import annotations

import argparse
import os
import sys

# the table directories of the in-place layout that predates the commit log
_LEGACY_TABLES = ("meta", "doc_stats", "inverted_index", "vocab", "forward", "tombstones")


def _resolve_query(args_query: list[str]) -> str:
    """argv joined, else piped stdin, else interactive prompt
    (``search.sh:5-14`` order)."""
    if args_query:
        return " ".join(args_query).strip()
    if not sys.stdin.isatty():
        return sys.stdin.read().strip()
    return input("Enter search query: ").strip()


def main(argv: list[str] | None = None) -> int:
    from .operators._util import scratch_root
    from .sources.reference_corpus import REFERENCE_DATA_DIR

    p = argparse.ArgumentParser(
        prog="python -m big_data_assignment2_spark.search",
        description="BM25 top-k search over a persisted parquet index.",
    )
    p.add_argument("query", nargs="*", help="query terms (else stdin, else prompt)")
    p.add_argument(
        "--corpus",
        default=REFERENCE_DATA_DIR,
        help="directory of <doc_id>_<title>.txt files (default: reference fixture)",
    )
    p.add_argument(
        "--index-dir",
        default=None,
        help="persisted index location (default: derived from --corpus under scratch)",
    )
    p.add_argument("-k", type=int, default=10, help="number of results (default 10)")
    p.add_argument(
        "--rebuild", action="store_true", help="rebuild the index even if present"
    )
    args = p.parse_args(argv)

    query = _resolve_query(args.query)
    if not query:
        print("No query provided.")
        return 1

    index_dir = args.index_dir
    if index_dir is None:
        from .operators._util import scratch_slug

        index_dir = f"{scratch_root()}/cli_index_{scratch_slug(args.corpus)}"

    from . import engine
    from .session import get_spark
    from .sources.reference_corpus import load_reference_corpus

    spark = get_spark("search-cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # an index is a published commit; without one, build -- unless the
        # directory holds the legacy in-place layout's tables, which must
        # not be silently replaced (a crashed first build leaves only data/)
        build = args.rebuild
        try:
            engine.snapshot(spark, index_dir)
        except ValueError as exc:
            if not build and any(
                os.path.exists(os.path.join(index_dir, t)) for t in _LEGACY_TABLES
            ):
                print(f"{exc} (or pass --rebuild)", file=sys.stderr)
                return 2
            build = True
        if build:
            print(f"Building index from {args.corpus} -> {index_dir}", file=sys.stderr)
            engine.build_index(load_reference_corpus(spark, args.corpus), index_dir)
        for row in engine.search(spark, index_dir, query, k=args.k).collect():
            print(f"{row['rank']}\t{row['doc_id']}\t{row['title']}\t{row['score']}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
