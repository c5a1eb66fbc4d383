"""Reference-corpus parity harness (SURVEY.md sections 5 and 7 step 4).

The reference ships its only fixture as 1000 one-document text files under
``app/data/`` named ``<doc_id>_<safe_title>.txt`` (produced by
``app/prepare_data.py:36-50``), and its only correctness signal is three
canned smoke queries run by ``app/app.sh:22-27``. This module rebuilds that
corpus as a DataFrame (S5: text-line source, via Spark's ``wholetext``
reader + filename parsing) and registers each smoke query as a BM25 search
over it — **with a full DuckDB oracle** (``read_text`` over the same files),
so parity with the reference's own data is value-hash-checked, not eyeballed.

These queries intentionally ignore the driver's ``sf_dir``: the corpus under
test is the reference's own checked-in fixture.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index_build import (
    doc_stats_from_docs,
    inverted_from_docs,
    sql_docs_cte_over,
)
from ..operators.search import bm25_rank, sql_bm25
from ..registry import REFERENCE_DATA_DIR, Registry

# The three demo queries app.sh runs (app/app.sh:22-27).
SMOKE_QUERIES = {
    "reference_bm25_big_data": "big data analytics",
    "reference_bm25_ml_model": "machine learning model",
    "reference_bm25_distributed_db": "distributed database",
}


def load_reference_corpus(
    spark: SparkSession, data_dir: str = REFERENCE_DATA_DIR
) -> DataFrame:
    """One row per ``<doc_id>_<safe_title>.txt`` file: S5 text source with
    the filename convention of ``prepare_data.py:44`` parsed back."""
    raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(f"{data_dir}/*.txt")
        .select(F.input_file_name().alias("path"), F.col("value").alias("text"))
    )
    base = F.regexp_extract("path", r"([^/]+)\.txt$", 1)
    return raw.select(
        F.regexp_extract(base, r"^(\d+)_", 1).alias("doc_id"),
        F.regexp_replace(base, r"^\d+_", "").alias("title"),
        "text",
    )


# Per-process memo of the (cached) index frames: the fixture corpus is
# immutable, and the three smoke queries share one index build. Keyed by
# (application id, data_dir) -- unlike the path-keyed memos elsewhere
# (which store paths and re-read via the caller's session), this one
# stores DataFrames BOUND to the session that built them: after a
# spark.stop(), a fresh session must rebuild, not inherit frames whose
# plans reference the dead JVM state.
_INDEX_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _reference_index(spark: SparkSession, data_dir: str):
    key = (spark.sparkContext.applicationId, data_dir)
    if key not in _INDEX_CACHE:
        # persist docs too: inverted and stats each scan the corpus, and
        # the 1000-small-file wholetext read costs more than the cache.
        # coalesce first: wholetext yields ~1 partition per file, and a
        # 1000-partition cache makes every downstream op pay 1000 tasks
        # of scheduling for 1000 rows -- the classic small-files problem,
        # answered the same way an ingest pipeline would (compact once,
        # then operate on sane partitions).
        docs = load_reference_corpus(spark, data_dir).coalesce(8).persist()
        inverted = inverted_from_docs(docs).persist()
        stats = doc_stats_from_docs(docs).persist()
        _INDEX_CACHE[key] = (inverted, stats)
    return _INDEX_CACHE[key]


def warm_reference_index(
    spark: SparkSession, data_dir: str = REFERENCE_DATA_DIR
) -> None:
    """Force-materialize the cached fixture index (the 1000-small-file
    wholetext read + the persists) so bench.py can charge the one-time
    cache fill to a build phase instead of the first smoke query."""
    for df in _reference_index(spark, data_dir):
        df.count()


def reference_search(
    spark: SparkSession, query: str, k: int = 10, data_dir: str = REFERENCE_DATA_DIR
) -> DataFrame:
    """BM25 top-k over the reference's own corpus fixture."""
    inverted, stats = _reference_index(spark, data_dir)
    return bm25_rank(inverted, stats, query, k)


def sql_reference_docs_cte(data_dir: str = REFERENCE_DATA_DIR) -> str:
    return sql_docs_cte_over(
        "SELECT regexp_extract(parse_filename(filename), '^(\\d+)_', 1) AS doc_id,"
        " regexp_replace(parse_filename(filename, true), '^\\d+_', '') AS title,"
        f" content AS text FROM read_text('{data_dir}/*.txt')"
    )


def register(reg: Registry) -> None:
    if not os.path.isdir(REFERENCE_DATA_DIR):  # fixture not present
        return
    for name, q in SMOKE_QUERIES.items():
        reg.add(
            name,
            # bind q at def time, ignore sf_dir (fixed fixture corpus)
            (lambda query: lambda spark, sf_dir: reference_search(spark, query))(q),
            sql_bm25(q, docs_cte=sql_reference_docs_cte()),
            f"app.sh smoke query {q!r} on the reference corpus",
        )
