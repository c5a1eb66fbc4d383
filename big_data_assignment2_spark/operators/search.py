"""BM25 search: the reference's query engine (``app/query.py``) as one
``spark.sql`` plan.

Reference lifecycle (SURVEY.md section 3.2): scan 4 Cassandra tables with
``isin(query_terms)`` pushdown -> inner join doc_stats -> RDD lambda
computes per-(term,doc) BM25 -> reduceByKey sum -> ``takeOrdered(10)``.

Here :func:`bm25_rank` states the whole query as one SQL text over the
index frames (bound as kwargs): the postings IN-filter prunes at the
parquet scan, each term's df is a window count over those same postings
(no df table is read), scoring is SQL arithmetic inside whole-stage
codegen, the per-doc sum is a two-phase hash aggregate, and the top-k
plans as TakeOrderedAndProject (per-partition heaps -- no global sort)
with ``row_number()`` directly on its single sorted partition. No Python
executes per row anywhere.

A warm search over a persisted commit runs four Spark jobs: the map stage
of the shuffle that groups the term-filtered postings by term for the df
window, the broadcast of the doc_stats join (AQE broadcasts the smaller
side; with both over the threshold it shuffle-joins instead), the map
stage of the partial-aggregate shuffle, and the result job (final
aggregate, top-k, rank). Tombstones add one broadcast job, a facet one more. The
from-corpus path also broadcasts its one-row corpus-stats aggregate,
where a commit inlines N and avg_dl as literals.

Determinism beyond the reference: scores rounded to 6 decimals and ties
broken by ``doc_id`` ascending (the reference's ``takeOrdered`` tie order
is partition-dependent -- SURVEY.md section 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bm25
from ..functions.text import tokenize_query
from ..registry import Registry
from . import index_build
from ._util import sql_dsum

DEFAULT_QUERY = "spark query window merge zzz"  # 'zzz' exercises the df=0 drop
DEFAULT_K = 10


def bm25_rank(
    inverted: DataFrame,
    doc_stats: DataFrame,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
    *,
    stats: tuple[int, float] | None = None,
    tombstones: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Rank documents for *query* against index DataFrames, as one
    ``spark.sql`` text with the frames bound as kwargs.

    Each term's df is the count of its live postings, taken as a window
    over the term-filtered postings this plan reads anyway. ``stats`` is
    ``(N, avg_dl)`` when the caller knows them (a persisted commit); they
    are inlined as exact DOUBLE literals. Without it they come from the
    ``corpus_stats_agg`` aggregate over *doc_stats*, cross-joined as one
    broadcast row. ``tombstones`` (anti) and ``allowed`` (semi) are
    optional ``doc_id`` frames joined as broadcasts: tombstones before
    the df count, so a deleted doc counts nowhere, and ``allowed`` after
    it, so a facet restricts the candidates without changing any idf.

    Returns ``rank int, doc_id string, title string, score double`` --
    the reference's output line format (``app/query.py:95-96``).
    """
    terms = tokenize_query(query)
    # a zero-term query would be "IN ()", a syntax error; the tokenizer
    # never produces '', so this matches no posting
    in_list = ", ".join(f"'{t}'" for t in terms) or "''"
    frames = {"inverted": inverted, "doc_stats": doc_stats}
    joins = {"tombstones": "", "allowed": ""}
    for name, frame, join, side in (
        ("tombstones", tombstones, "ANTI", "i"),
        ("allowed", allowed, "SEMI", "p"),
    ):
        if frame is not None:
            frames[name] = frame
            joins[name] = f"""
  LEFT {join} JOIN (SELECT /*+ BROADCAST */ doc_id FROM {{{name}}}) {name}
    ON {side}.doc_id = {name}.doc_id"""
    if stats is None:
        frames["stats"] = index_build.corpus_stats_agg(doc_stats, n_alias="n_docs")
        n_docs, avg_dl = "st.n_docs", "st.avg_dl"
        stats_join = "CROSS JOIN (SELECT /*+ BROADCAST */ n_docs, avg_dl FROM {stats}) st"
    else:
        # repr() round-trips a float exactly; a decimal literal would not
        n_docs, avg_dl = (f"CAST('{float(x)!r}' AS DOUBLE)" for x in stats)
        stats_join = ""
    score = bm25.score_sql("p.tf", "s.length", avg_dl, n_docs, "p.df")
    # The title rides the aggregate key (it depends on doc_id alone), so
    # no join follows the top-k and row_number() runs on
    # TakeOrderedAndProject's single sorted partition with no exchange.
    # As a key the string keeps the aggregate a hash aggregate; in the
    # aggregation buffer (max(title)) it would demote it to a sort
    # aggregate. dsum(9): per-term contributions accumulate as exact
    # DECIMAL(18,9) -- a plain double sum is partition-order-dependent, and
    # a score within an ulp of a 0.5e-6 rounding boundary could round
    # differently across engines/runs; the final round-to-6 absorbs the
    # 1e-9 quantization (repo-wide dsum convention).
    text = f"""
WITH postings AS (
  SELECT i.doc_id, i.tf, count(*) OVER (PARTITION BY i.term) AS df
  FROM {{inverted}} i{joins["tombstones"]}
  WHERE i.term IN ({in_list})
),
top AS (
  SELECT p.doc_id, s.title, round({sql_dsum(score, 9)}, 6) AS score
  FROM postings p{joins["allowed"]}
  JOIN {{doc_stats}} s ON p.doc_id = s.doc_id
  {stats_join}
  GROUP BY p.doc_id, s.title
  ORDER BY score DESC, p.doc_id ASC
  LIMIT {int(k)}
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       doc_id, title, score
FROM top
"""
    return inverted.sparkSession.sql(text, **frames)


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
) -> DataFrame:
    """End-to-end flagship: build the index from the corpus and rank."""
    return bm25_rank(
        index_build.inverted_index(spark, sf_dir),
        index_build.doc_stats(spark, sf_dir),
        query,
        k,
    )


def sql_bm25(
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
    docs_cte: str | None = None,
    extra_where: str = "",
) -> str:
    terms = tokenize_query(query)
    # zero-term query: "IN ()" is a SQL syntax error while the Spark
    # side's isin([]) quietly yields no rows -- emit an impossible term
    # (the tokenizer never produces '') so both engines return empty
    in_list = ", ".join(f"'{t}'" for t in terms) or "''"
    score = bm25.SQL_SCORE.format(
        tf="i.tf", dl="s.length", avg_dl="st.avg_dl", n="st.n_docs", df="v.doc_freq"
    )
    return (
        (docs_cte or index_build.SQL_DOCS_CTE)
        + f""",
stats AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(CAST(length AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_dl
  FROM doc_stats
),
scored AS (
  SELECT i.doc_id, s.title, {score} AS partial
  FROM inverted i
  JOIN vocab v USING (term)
  JOIN doc_stats s ON i.doc_id = s.doc_id
  CROSS JOIN stats st
  WHERE i.term IN ({in_list}){extra_where}
),
ranked AS (
  SELECT doc_id, max(title) AS title,
         round({sql_dsum('partial', 9)}, 6) AS score
  FROM scored GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
       doc_id, title, score
FROM ranked
"""
    )


# In-process memo of built index dirs (never trusted across processes:
# testdata can be regenerated between driver rounds, so a fresh process
# always rebuilds rather than reusing on-disk state).
_BUILT_INDEXES: dict[str, str] = {}


def _ensure_index(sf_dir: str, memo: dict[str, str], prefix: str, build) -> str:
    """Shared once-per-process index-builder scaffold: memo check,
    scratch-dir naming, build, record. ONE home for the never-trusted-
    across-processes invariant and the scratch-slug convention (each of
    the five lifecycle builders below used to carry its own copy)."""
    from ._util import scratch_root, scratch_slug

    if sf_dir not in memo:
        index_dir = f"{scratch_root()}/{prefix}_{scratch_slug(sf_dir)}"
        build(index_dir)
        memo[sf_dir] = index_dir
    return memo[sf_dir]


def ensure_persisted_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process) and return the persisted index dir for
    *sf_dir* -- the one-time ``index.sh`` phase, separated so callers
    (bench.py) can time build and query independently."""
    from .. import engine

    def build(index_dir: str) -> None:
        engine.build_index(index_build.documents_with_title(spark, sf_dir), index_dir)

    return _ensure_index(sf_dir, _BUILT_INDEXES, "index", build)


def bm25_search_persisted(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Flagship over the **persisted** index: build_index() parquet tables
    (term-bucket partition layout) then engine.search() with bucket-pruned
    postings scan -- the reference's index.sh/search.sh split."""
    from .. import engine

    return engine.search(spark, ensure_persisted_index(spark, sf_dir), query, k)


_BUILT_INCR: dict[str, str] = {}


def bm25_search_incremental(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Incremental index maintenance, end-to-end verified: build the
    persisted index on HALF the corpus (even doc_ids), ``append_to_index``
    the other half, then search -- the result must equal BM25 over the
    full corpus in one shot (the oracle), which holds only if the append
    path updates every global statistic (N, avg_dl, per-term df) that
    BM25's idf depends on. The reference has no append path at all (full
    MapReduce rebuild); this is the capability that makes the index
    operable on a growing corpus."""
    from .. import engine

    return engine.search(spark, ensure_incremental_index(spark, sf_dir), query, k)


def ensure_incremental_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-then-append index dir for *sf_dir*, once per process (the
    build half of ``bm25_search_incremental``, split out so bench.py can
    time build and query independently)."""
    from .. import engine

    def build(index_dir: str) -> None:
        docs = index_build.documents_with_title(spark, sf_dir)
        # pmod + try_cast + coalesce: every doc lands in exactly one half
        # (a bare `doc_id % 2` implicit-casts string->double -- NULL for
        # non-numeric ids, which then match NEITHER side and vanish from
        # the incremental index while the full-corpus oracle scores them;
        # Spark's % also keeps the dividend's sign for negatives)
        even = F.coalesce(
            F.pmod(F.col("doc_id").try_cast("long"), F.lit(2)) == F.lit(0),
            F.lit(False),
        )
        engine.build_index(docs.where(even), index_dir)
        engine.append_to_index(docs.where(~even), index_dir)

    return _ensure_index(sf_dir, _BUILT_INCR, "index_incr", build)


FILTER_LANG = "en"


def bm25_search_filtered(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Faceted search: BM25 restricted to documents matching a metadata
    predicate (here ``lang = '{FILTER_LANG}'``). Standard post-filter
    semantics -- idf/avg_dl stay corpus-global (the query's notion of
    term rarity shouldn't change with the facet), the facet only
    restricts the CANDIDATES. The allowed-doc set semi-joins the
    postings as a broadcast (a facet is metadata-sized); at 100 TB one
    would persist common facet columns into doc_stats so the filter
    rides the existing scoring join instead -- same plan shape either
    way, no extra shuffle."""
    from ..sources.catalog import load_table

    allowed = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )
    return bm25_rank(
        index_build.inverted_index(spark, sf_dir),
        index_build.doc_stats(spark, sf_dir),
        query,
        k,
        allowed=allowed,
    )


_BUILT_DELETED: dict[str, str] = {}
_BUILT_COMPACTED: dict[str, str] = {}
DELETE_MOD = 7  # docs with doc_id % 7 == 0 get deleted


def ensure_deleted_index(spark: SparkSession, sf_dir: str) -> str:
    """Clone-then-delete index dir for *sf_dir*, once per process.

    The full-corpus build is shared: ``clone_index`` snapshots the
    persisted index (byte-identical tables, no Spark jobs) and the
    delete runs against the clone -- the delete path is exercised
    end-to-end exactly as before, without re-running the whole
    tokenize/aggregate/write pipeline a second time per fixture."""
    from .. import engine

    def build(index_dir: str) -> None:
        engine.clone_index(spark, ensure_persisted_index(spark, sf_dir), index_dir)
        docs = index_build.documents_with_title(spark, sf_dir)
        engine.delete_from_index(
            docs.where(F.col("doc_id").cast("long") % DELETE_MOD == 0).select("doc_id"),
            index_dir,
        )

    return _ensure_index(sf_dir, _BUILT_DELETED, "index_del", build)


def ensure_compacted_index(spark: SparkSession, sf_dir: str) -> str:
    """Clone-then-delete-then-COMPACT index dir for *sf_dir*, once per
    process. A separate dir from :func:`ensure_deleted_index` -- compaction
    mutates the index in place, and the after-delete query must keep
    exercising the tombstone-masking search path. The full-corpus build
    is shared via ``clone_index`` (see :func:`ensure_deleted_index`)."""
    from .. import engine

    def build(index_dir: str) -> None:
        engine.clone_index(spark, ensure_persisted_index(spark, sf_dir), index_dir)
        docs = index_build.documents_with_title(spark, sf_dir)
        engine.delete_from_index(
            docs.where(F.col("doc_id").cast("long") % DELETE_MOD == 0).select("doc_id"),
            index_dir,
        )
        engine.compact_index(spark, index_dir)

    return _ensure_index(sf_dir, _BUILT_COMPACTED, "index_cpt", build)


_BUILT_LIFECYCLE: dict[str, str] = {}


def ensure_lifecycle_index(spark: SparkSession, sf_dir: str) -> str:
    """The FULL index operability loop in one timed artifact:
    build -> delete -> compact -> append-READD of the very doc ids the
    delete removed. Compaction purges the dead postings and clears the
    tombstones, so the re-add is legal (``append_to_index`` rejects
    tombstoned ids) and the final searchable state must equal a
    from-scratch index of the full corpus -- asserted in
    ``tests/test_engine.py``; bench.py registers this as a build so the
    loop's cost is a per-round artifact, not just pytest coverage.
    Separate dir from :func:`ensure_compacted_index`, whose query relies
    on the deleted docs staying gone. The initial full-corpus build is
    shared via ``clone_index`` (byte-identical snapshot of the persisted
    index); the delete -> compact -> append-readd loop -- the part this
    fixture exists to prove -- still runs in full against the clone."""
    from .. import engine

    def build(index_dir: str) -> None:
        engine.clone_index(spark, ensure_persisted_index(spark, sf_dir), index_dir)
        docs = index_build.documents_with_title(spark, sf_dir)
        doomed = docs.where(F.col("doc_id").cast("long") % DELETE_MOD == 0)
        engine.delete_from_index(doomed.select("doc_id"), index_dir)
        engine.compact_index(spark, index_dir)
        engine.append_to_index(doomed, index_dir)

    return _ensure_index(sf_dir, _BUILT_LIFECYCLE, "index_cycle", build)


def bm25_search_after_delete(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Tombstone deletes, end-to-end verified: build the full persisted
    index, ``delete_from_index`` a deterministic slice, search -- the
    result must hash-equal BM25 over a corpus that never contained those
    docs (the oracle). That only holds if the delete path corrected every
    global statistic (N, avg_dl, per-term df) AND search masks the
    tombstoned postings; a stale df or an unmasked posting shifts a
    score or leaks a deleted doc into the top-k."""
    from .. import engine

    return engine.search(spark, ensure_deleted_index(spark, sf_dir), query, k)


def bm25_search_after_compact(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Compaction, end-to-end verified: same build + delete slice as
    ``bm25_search_after_delete``, then ``compact_index`` rewrites the
    bucket partitions minus the tombstones and clears the tombstone
    table. Same oracle as after-delete -- a green row IS the proof that
    compaction is result-invariant (space reclamation only), while the
    search it times runs tombstone-free: no broadcast anti-join, no dead
    postings read past."""
    from .. import engine

    return engine.search(spark, ensure_compacted_index(spark, sf_dir), query, k)


def index_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index operability report over the deterministic build+delete
    fixture (full corpus built, ``doc_id % {DELETE_MOD} == 0`` deleted):
    live/tombstoned docs, total/dead postings, dead fraction -- the
    numbers that decide when to run ``compact_index``. Every value is a
    pure function of the corpus, so the report has a full SQL oracle
    (the index-shaped CTE counts the same distinct (term, doc) pairs)."""
    from .. import engine

    return engine.index_stats(spark, ensure_deleted_index(spark, sf_dir))


def _sql_index_stats() -> str:
    return (
        index_build.SQL_DOCS_CTE
        + f""",
deleted AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents
            WHERE doc_id % {DELETE_MOD} = 0),
tot AS (SELECT count(*) AS total_postings FROM inverted),
dead AS (SELECT count(*) AS dead_postings FROM inverted
         WHERE doc_id IN (SELECT doc_id FROM deleted)),
docs_n AS (SELECT count(*) AS n_docs FROM documents),
del_n AS (SELECT count(*) AS n_tombstones FROM deleted)
SELECT CAST(docs_n.n_docs - del_n.n_tombstones AS BIGINT) AS live_docs,
       CAST(del_n.n_tombstones AS BIGINT) AS n_tombstones,
       CAST(tot.total_postings AS BIGINT) AS total_postings,
       CAST(dead.dead_postings AS BIGINT) AS dead_postings,
       round(CAST(dead.dead_postings AS DOUBLE) / tot.total_postings, 6)
           AS dead_fraction,
       CAST(64 AS INTEGER) AS n_term_buckets
FROM tot, dead, docs_n, del_n
"""
    )


def bm25_search_filtered_persisted(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Faceted search over the PERSISTED index: the metadata facet
    (``lang = '{FILTER_LANG}'``) semi-joins the bucket-pruned postings as
    a broadcast while idf/avg_dl stay corpus-global -- the persisted twin
    of ``bm25_search_filtered``, sharing its oracle. This is the shape a
    deployed faceted search runs: index on disk, facet from the metadata
    table, one job."""
    from .. import engine
    from ..sources.catalog import load_table

    allowed = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )
    return engine.search(
        spark, ensure_persisted_index(spark, sf_dir), query, k, allowed=allowed
    )


def register(reg: Registry) -> None:
    reg.add("bm25_search", bm25_search, sql_bm25(), "flagship BM25 top-10")
    reg.add(
        "bm25_search_filtered_persisted",
        bm25_search_filtered_persisted,
        sql_bm25(
            extra_where="\n    AND i.doc_id IN (SELECT CAST(doc_id AS VARCHAR)"
            f" FROM documents WHERE lang = '{FILTER_LANG}')"
        ),
        "faceted BM25 over the persisted index (broadcast facet after pruning)",
    )
    reg.add(
        "index_stats_report",
        index_stats_report,
        _sql_index_stats(),
        "index operability report: live docs, tombstones, dead-posting fraction",
    )
    reg.add(
        "bm25_search_incremental",
        bm25_search_incremental,
        sql_bm25(),
        "BM25 after incremental append (half built, half appended)",
    )
    reg.add(
        "bm25_search_filtered",
        bm25_search_filtered,
        sql_bm25(
            extra_where="\n    AND i.doc_id IN (SELECT CAST(doc_id AS VARCHAR)"
            f" FROM documents WHERE lang = '{FILTER_LANG}')"
        ),
        "faceted BM25: metadata-filtered candidates, corpus-global stats",
    )
    reg.add(
        "bm25_search_after_delete",
        bm25_search_after_delete,
        sql_bm25(
            docs_cte=index_build.sql_docs_cte_over(
                "SELECT CAST(doc_id AS VARCHAR) AS doc_id,"
                " 'doc_' || CAST(doc_id AS VARCHAR) AS title, text"
                f" FROM documents WHERE doc_id % {DELETE_MOD} <> 0"
            )
        ),
        "BM25 after tombstone deletes (stats corrected, postings masked)",
    )
    reg.add(
        "bm25_search_after_compact",
        bm25_search_after_compact,
        sql_bm25(
            docs_cte=index_build.sql_docs_cte_over(
                "SELECT CAST(doc_id AS VARCHAR) AS doc_id,"
                " 'doc_' || CAST(doc_id AS VARCHAR) AS title, text"
                f" FROM documents WHERE doc_id % {DELETE_MOD} <> 0"
            )
        ),
        "BM25 after tombstone compaction (result-invariant space reclamation)",
    )
    reg.add(
        "bm25_search_persisted",
        bm25_search_persisted,
        sql_bm25(),
        "BM25 over persisted bucket-partitioned index",
    )
