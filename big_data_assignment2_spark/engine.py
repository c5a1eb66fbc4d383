"""Engine facade: persisted index + search, the reference's index/query
split (SURVEY.md section 7 step 2).

The reference materializes four Cassandra tables (``app/load_index.py:20-53``)
and its query engine scans them with ``isin(query_terms)`` filters that prune
via the ``PRIMARY KEY (term, doc_id)`` partition key (``app/query.py:48-50``).
Here the index is Parquet under a commit log (the Delta Lake, VLDB'20, and
Iceberg snapshot design):

- Every write (build, append, delete, compact) writes NEW immutable files
  under ``data/<op-uuid>/<table>/`` and then publishes exactly one
  ``_commits/<N>.json``, created exclusively. The commit lists every live
  file of ``inverted_index``, ``forward``, ``doc_stats``, ``vocab`` and
  ``tombstones``, the meta values (``total_docs``, ``total_dl``,
  ``avg_dl``, ``n_buckets``) and the applied streaming ``batch_ids``.
- A reader resolves the latest commit once and reads exactly the files it
  lists, so no later write can change what a running job sees. A crash
  before the publish leaves only unreferenced files: old state or new
  state, nothing in between. Each write ends with a garbage collection of
  what no retained commit references (:data:`GC_GRACE_S`).
- ``inverted_index`` files are partitioned by a term-hash bucket
  (``crc32(term) % n_buckets``); search picks the files of its terms'
  buckets from the commit driver-side -- the moral equivalent of
  Cassandra's partition-key lookup. Within a file the ``term IN (...)``
  predicate pushes down to parquet row groups.
- ``load_index`` still returns ``meta`` as the reference's 4-row string
  table (``load_index.py:101-111`` quirk); search takes N and avg_dl
  straight from the commit.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid
import zlib
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import tokenize_query
from .operators import index_build, search as search_ops
from .operators._util import _fs_and_path

N_TERM_BUCKETS = 64

GC_GRACE_S = 3600.0
"""How long a superseded commit, and every file it references, stays
readable after the commit that replaced it was published -- the bound on
how long a reader may hold a resolved snapshot. Files no commit ever
published (a crashed write's output) are removed once they are this old."""

# The column types of each table's data files. Build and append pin the
# input types (_normalize_docs), so every read DECLARES the schema instead
# of inferring it from footers. The bucket columns of the partitioned
# tables live in directory names, not in the files.
_LAYOUT_SCHEMAS = {
    "inverted_index": "term STRING, doc_id STRING, tf BIGINT",
    "forward": "doc_id STRING, term STRING",
    "doc_stats": "doc_id STRING, title STRING, length BIGINT",
    "vocab": "term STRING, doc_freq BIGINT",
    "tombstones": "doc_id STRING",
}

_COMMIT_RE = re.compile(r"(\d+)\.json")


def _normalize_docs(docs: DataFrame) -> DataFrame:
    """Pin the layout's input types at the write boundary (doc_id/title
    as STRING -- the reference's Cassandra schema used text keys,
    ``app/load_index.py``)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("title").cast("string").alias("title"),
        "text",
    )


def _run_concurrently(*thunks: Callable[[], object]) -> list:
    """Run independent steps in parallel threads and return their results
    in order, propagating the first failure. Each op's table writes go to
    disjoint new directories, so their small Spark jobs need not
    serialize."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]


class IndexTables(NamedTuple):
    """The four index tables of the reference (``load_index.py:20-53``)."""

    doc_stats: DataFrame
    inverted_index: DataFrame
    vocab: DataFrame
    meta: DataFrame


class Snapshot(NamedTuple):
    """One published commit: the complete index state a reader sees."""

    index_dir: str
    version: int
    files: dict[str, list[str]]  # table -> data files, relative to index_dir
    total_docs: int
    total_dl: int
    avg_dl: float
    n_buckets: int
    batch_ids: list[int]


def term_bucket_col(term, n_buckets: int = N_TERM_BUCKETS) -> F.Column:
    return F.pmod(F.crc32(F.col(term) if isinstance(term, str) else term), F.lit(n_buckets))


def term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    """Driver-side twin of :func:`term_bucket_col` (same CRC-32)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


# --- filesystem: Hadoop FileSystem calls, local disk included --------------

_URI_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")


def _strip_file_scheme(path: str) -> str:
    """file:///p and file:/p -> /p."""
    return re.sub(r"^file:(//)?", "", path)


def _local(spark: SparkSession, path: str) -> str | None:
    """*path* as a local-disk path, or None when it lives on another
    filesystem (any scheme but file:, a file://host/ authority, or a bare
    path under a non-local fs.defaultFS)."""
    m = _URI_SCHEME_RE.match(path)
    if m is None:
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        return path if default_fs.lower().startswith("file:") else None
    if m.group(1).lower() != "file" or re.match(r"file://[^/]", path):
        return None
    return _strip_file_scheme(path)


def _mtimes(spark: SparkSession, path: str) -> dict[str, float]:
    """Child name -> modification time (epoch seconds) of directory
    *path*; empty when it does not exist."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return {}
    return {st.getPath().getName(): st.getModificationTime() / 1e3 for st in fs.listStatus(p)}


def _read_text(spark: SparkSession, path: str) -> str:
    """The text of file *path*. A local file is read with plain ``open``:
    the py4j round trip of a commit-sized text costs ~50 ms, and every
    search and every garbage collection reads commits."""
    local = _local(spark, path)
    if local is not None:
        with open(local, encoding="utf-8") as f:
            return f.read()
    fs, p = _fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _create_exclusive(spark: SparkSession, path: str, text: str) -> bool:
    """Create *path* holding *text*, atomically and only if it does not
    exist yet; False when another writer created it first. The full text
    goes to a temp name first, then moves into place without overwrite:
    a hard link locally, a no-overwrite ``FileContext.rename`` on Hadoop
    (``FileSystem.rename`` may replace an existing file)."""
    tmp_name = f".{uuid.uuid4().hex}.tmp"
    local = _local(spark, path)
    if local is not None:
        local_tmp = os.path.join(os.path.dirname(local), tmp_name)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(local_tmp, "w", encoding="utf-8") as f:
            f.write(text)
        try:
            os.link(local_tmp, local)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(local_tmp)
    jvm = spark._jvm
    fs, jtmp = _fs_and_path(spark, f"{path.rsplit('/', 1)[0]}/{tmp_name}")
    jtmp, jdst = fs.makeQualified(jtmp), fs.makeQualified(_fs_and_path(spark, path)[1])
    out = fs.create(jtmp, False)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    try:
        jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jtmp.toUri(), spark._jsc.hadoopConfiguration()
        ).rename(
            jtmp,
            jdst,
            spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 0),
        )
        return True
    except Py4JJavaError:  # FileAlreadyExistsException, or a real failure
        if fs.exists(jdst):
            return False
        raise
    finally:
        fs.delete(jtmp, False)


def _written(spark: SparkSession, index_dir: str, rel: str) -> list[str]:
    """The parquet data files a write left under ``index_dir/rel``, as
    paths relative to *index_dir*. One glob, joined into one string
    JVM-side: py4j round trips per file cost ~0.3 s per 64-bucket table."""
    depth = "*/" if rel.endswith(("/inverted_index", "/forward")) else ""
    fs, p = _fs_and_path(spark, f"{index_dir}/{rel}/{depth}part-*.parquet")
    found = fs.globStatus(p)
    if not found:
        return []
    jvm = spark._jvm
    listing = jvm.scala.Predef.genericWrapArray(
        jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(found)
    ).mkString("\n")
    return sorted(s[s.index(f"/{rel}/") + 1 :] for s in listing.split("\n"))


def _rm(spark: SparkSession, path: str) -> None:
    """Delete a file or directory tree; a missing path is not an error."""
    fs, p = _fs_and_path(spark, path)
    fs.delete(p, True)


# --- the commit log -----------------------------------------------------------


def _load_commit(spark: SparkSession, index_dir: str, version: int) -> Snapshot:
    text = _read_text(spark, f"{index_dir}/_commits/{version}.json")
    return Snapshot(index_dir, **json.loads(text))


def _latest(spark: SparkSession, index_dir: str) -> Snapshot | None:
    versions = [
        int(m.group(1))
        for m in map(_COMMIT_RE.fullmatch, _mtimes(spark, f"{index_dir}/_commits"))
        if m
    ]
    return _load_commit(spark, index_dir, max(versions)) if versions else None


def snapshot(spark: SparkSession, index_dir: str) -> Snapshot:
    """Resolve the latest commit of *index_dir*: one listing of
    ``_commits/`` and one small file read. Everything read through the
    result stays readable for :data:`GC_GRACE_S` after a later write
    supersedes it."""
    snap = _latest(spark, index_dir)
    if snap is None:
        raise ValueError(
            f"{index_dir} has no committed index (no _commits/): a legacy or "
            "foreign layout, or no index at all -- rebuild with build_index()"
        )
    return snap


def _commit(
    spark: SparkSession,
    index_dir: str,
    base: Snapshot | None,
    files: dict[str, list[str]],
    counts: tuple[int, int],
    n_buckets: int,
    batch_ids: list[int],
) -> None:
    """Publish the state after one write as commit ``base.version + 1``
    (0 for a new index), then collect garbage. Two writers that started
    from the same base race for the same commit name; the loser raises
    and its files stay unreferenced until collected."""
    n, dl = counts
    snap = Snapshot(
        index_dir,
        0 if base is None else base.version + 1,
        files,
        n,
        dl,
        # exact integers -> one IEEE division (0.0 when every doc is gone)
        float(dl) / n if n else 0.0,
        n_buckets,
        sorted(batch_ids),
    )
    body = {k: v for k, v in snap._asdict().items() if k != "index_dir"}
    path = f"{index_dir}/_commits/{snap.version}.json"
    if not _create_exclusive(spark, path, json.dumps(body)):
        raise RuntimeError(
            f"{index_dir}: commit {snap.version} was published by a concurrent "
            "writer; this write was not applied -- re-run it on the new state"
        )
    _gc(spark, index_dir)


def _gc(spark: SparkSession, index_dir: str) -> None:
    """Delete commits and data directories nothing needs any more.

    A commit is retained while it is the latest or was superseded less
    than :data:`GC_GRACE_S` ago (the publish time of its successor). A
    ``data/<op>`` directory is deleted when no retained commit references
    a file in it and it is older than the grace period -- the age check
    spares a write still in progress. The latest commit's files are never
    deleted."""
    now = time.time()
    names = _mtimes(spark, f"{index_dir}/_commits")
    commits = sorted(
        (int(m.group(1)), names[m.group(0)])
        for m in map(_COMMIT_RE.fullmatch, names)
        if m
    )
    keep = {v for (v, _), (_, t_next) in zip(commits, commits[1:]) if now - t_next < GC_GRACE_S}
    keep.add(commits[-1][0])
    live = {
        rel.split("/", 2)[1]
        for v in keep
        for paths in _load_commit(spark, index_dir, v).files.values()
        for rel in paths
    }
    for name, mtime in names.items():
        m = _COMMIT_RE.fullmatch(name)
        if (m and int(m.group(1)) not in keep) or (not m and now - mtime >= GC_GRACE_S):
            _rm(spark, f"{index_dir}/_commits/{name}")
    for name, mtime in _mtimes(spark, f"{index_dir}/data").items():
        if name not in live and now - mtime >= GC_GRACE_S:
            _rm(spark, f"{index_dir}/data/{name}")


def _read(
    spark: SparkSession, snap: Snapshot, table: str, paths: list[str] | None = None
) -> DataFrame:
    """*table* of *snap*: exactly the files the commit lists (or the
    subset *paths* of them), under the declared layout schema."""
    paths = snap.files[table] if paths is None else paths
    if not paths:
        return spark.createDataFrame([], _LAYOUT_SCHEMAS[table])
    # Spark lists more than this many paths of one read with a distributed
    # job, one task per path; the committed paths are known files, so read
    # them in driver-listed chunks instead
    step = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    reader = spark.read.schema(_LAYOUT_SCHEMAS[table])
    return functools.reduce(
        DataFrame.union,
        (
            reader.parquet(*(f"{snap.index_dir}/{p}" for p in paths[i : i + step]))
            for i in range(0, len(paths), step)
        ),
    )


def _bucket(rel: str) -> int:
    """The bucket of a partitioned table's file, from its
    ``<col>=<bucket>`` directory."""
    return int(rel.rsplit("/", 2)[-2].partition("=")[2])


def _write_bucketed(
    df: DataFrame, path: str, part_col: str, key: str, n_buckets: int
) -> None:
    """Write *df* partitioned by ``crc32(key) % n_buckets``; the shuffle
    on the partition column gives each bucket one writer task (no
    small-file explosion at high parallelism)."""
    (
        df.withColumn(part_col, term_bucket_col(key, n_buckets))
        .repartition(part_col)
        .write.partitionBy(part_col)
        .parquet(path)
    )


def _count_and_total_dl(stats: DataFrame) -> tuple[int, int]:
    """(N, sum of doc lengths) of a doc_stats-shaped frame -- exact
    integer aggregates, one small job."""
    row = stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("length"), F.lit(0)).alias("dl"),
    ).collect()[0]
    return int(row["n"]), int(row["dl"])


# --- the four writes ----------------------------------------------------------


def build_index(
    docs: DataFrame, index_dir: str, n_buckets: int = N_TERM_BUCKETS
) -> None:
    """Materialize the index tables under *index_dir* (replaces the
    reference's MapReduce -> getmerge -> Cassandra-batch pipeline, S6/S7,
    with direct parquet writes) and publish them as one commit.

    Besides the reference's tables this writes a ``forward`` table -- the
    postings re-keyed by a ``doc_bucket`` partition (``crc32(doc_id) %
    n_buckets``). It exists purely for maintenance: ``delete_from_index``
    needs "which terms did these docs contain?" to subtract per-term df
    deltas, and the term-bucketed postings cannot prune by doc. The
    forward files of only the deleted docs' buckets answer that -- the
    classic forward-index space-for-maintenance trade.

    Over an existing index this publishes a new commit, so readers of the
    old one keep working; a directory in the legacy in-place layout has
    its tables replaced."""
    spark = docs.sparkSession
    docs = _normalize_docs(docs)
    base = _latest(spark, index_dir)
    if base is None:
        for t in (*_LAYOUT_SCHEMAS, "meta", "ingest_log"):
            _rm(spark, f"{index_dir}/{t}")
    out = f"data/{uuid.uuid4().hex}"
    inverted = index_build.inverted_from_docs(docs)
    _run_concurrently(
        lambda: _write_bucketed(
            inverted, f"{index_dir}/{out}/inverted_index", "term_bucket", "term", n_buckets
        ),
        lambda: index_build.doc_stats_from_docs(docs).write.parquet(
            f"{index_dir}/{out}/doc_stats"
        ),
    )
    # vocab/forward re-read this build's own postings directory rather than
    # recomputing the tokenize shuffle; N/total_dl come from its doc_stats
    persisted = spark.read.schema(_LAYOUT_SCHEMAS["inverted_index"]).parquet(
        f"{index_dir}/{out}/inverted_index"
    )
    *_, counts = _run_concurrently(
        lambda: index_build.vocab_from_inverted(persisted).write.parquet(
            f"{index_dir}/{out}/vocab"
        ),
        lambda: _write_bucketed(
            persisted.select("doc_id", "term"),
            f"{index_dir}/{out}/forward",
            "doc_bucket",
            "doc_id",
            n_buckets,
        ),
        lambda: _count_and_total_dl(
            spark.read.schema(_LAYOUT_SCHEMAS["doc_stats"]).parquet(
                f"{index_dir}/{out}/doc_stats"
            )
        ),
    )
    files = {
        t: _written(spark, index_dir, f"{out}/{t}")
        for t in ("inverted_index", "forward", "doc_stats", "vocab")
    }
    _commit(spark, index_dir, base, files | {"tombstones": []}, counts, n_buckets, [])


def clone_index(spark: SparkSession, src_dir: str, dst_dir: str) -> None:
    """Snapshot the latest commit of *src_dir* into *dst_dir* -- the
    "table clone" primitive: a derived index (a delete/compact/append
    variant of the same corpus) starts from one physical build instead of
    re-running the tokenize/aggregate/write pipeline per variant. Exactly
    the files that commit lists are copied, no Spark jobs, and the same
    state is published as the clone's first commit, so every maintenance
    op and search behaves as on a fresh build of the same corpus. An
    existing *dst_dir* is replaced."""
    norm_src = _strip_file_scheme(src_dir).rstrip("/")
    norm_dst = _strip_file_scheme(dst_dir).rstrip("/")
    # dst == src, or either nested in the other, would delete the source
    # before copying it
    if (
        norm_dst == norm_src
        or norm_dst.startswith(norm_src + "/")
        or norm_src.startswith(norm_dst + "/")
    ):
        raise ValueError(
            f"clone_index: destination {dst_dir!r} equals, nests inside, or "
            f"contains source {src_dir!r}; refusing to delete the source"
        )
    snap = snapshot(spark, src_dir)
    _rm(spark, dst_dir)
    for rel in (p for paths in snap.files.values() for p in paths):
        fs_src, jsrc = _fs_and_path(spark, f"{src_dir}/{rel}")
        fs_dst, jdst = _fs_and_path(spark, f"{dst_dir}/{rel}")
        try:
            spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs_src, jsrc, fs_dst, jdst, False, True, spark._jsc.hadoopConfiguration()
            )
        except Py4JJavaError as exc:
            if fs_src.exists(jsrc):
                raise
            raise FileNotFoundError(
                f"{src_dir}/{rel}: listed by commit {snap.version} but missing"
            ) from exc
    _commit(
        spark,
        dst_dir,
        None,
        snap.files,
        (snap.total_docs, snap.total_dl),
        snap.n_buckets,
        snap.batch_ids,
    )


def append_to_index(
    new_docs: DataFrame, index_dir: str, batch_id: int | None = None
) -> None:
    """Incremental index maintenance: add *new_docs* WITHOUT reindexing
    the existing corpus (the reference can only rebuild from scratch --
    its MapReduce+Cassandra pipeline has no append path).

    Cost model -- nothing here scans the existing postings:

    - **postings / forward / doc_stats** gain new files holding only the
      new docs' rows (one tokenize pass over the batch); the commit lists
      them next to the existing files;
    - **vocab** (df per term) merges a DELTA: per-term df of the new
      docs, full-outer-summed into the committed vocab. Integer adds --
      exact -- and term-cardinality-sized work;
    - **meta** (N, total_dl) is the committed pair plus this batch's own
      count/length-sum; avg_dl derives from the integers, bit-identical
      to a full recompute.

    **Determinism requirement**: *new_docs* is evaluated several times
    (postings, forward, doc_stats, the vocab df-delta and the batch
    count each run as their own concurrent job), so the frame must be
    deterministic: a non-deterministic source can make the tables
    silently disagree. Pass ``new_docs.localCheckpoint(eager=True)`` for
    such sources; the streaming ``foreachBatch`` path always hands in a
    deterministic materialized batch.

    Appending a doc_id that currently sits in the tombstones is rejected:
    its old postings still exist, so un-tombstoning it would resurrect
    them alongside the new rows, while keeping the tombstone would mask
    the new document. Run :func:`compact_index` first.

    **Idempotent redelivery** (*batch_id* set -- the ``foreachBatch``
    streaming path): applied batch ids live in the commit, so a batch id
    the latest commit already holds makes the append a no-op. A delivery
    that failed before its publish left no trace a reader can see, so
    redelivering it simply applies it."""
    spark = new_docs.sparkSession
    new_docs = _normalize_docs(new_docs)
    base = snapshot(spark, index_dir)
    if batch_id is not None and batch_id in base.batch_ids:
        return
    if base.files["tombstones"]:
        clash = (
            new_docs.select("doc_id")
            .join(F.broadcast(_read(spark, base, "tombstones")), "doc_id", "left_semi")
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"doc_id {clash[0]['doc_id']!r} is tombstoned; appending it "
                "would resurrect its dead postings -- compact_index() first"
            )
    out = f"data/{uuid.uuid4().hex}"
    inverted_new = index_build.inverted_from_docs(new_docs)
    stats_new = index_build.doc_stats_from_docs(new_docs)
    delta = index_build.vocab_from_inverted(inverted_new).withColumnRenamed(
        "doc_freq", "delta_df"
    )
    vocab = (
        _read(spark, base, "vocab")
        .join(delta, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("doc_freq"), F.lit(0))
                + F.coalesce(F.col("delta_df"), F.lit(0))
            ).alias("doc_freq"),
        )
    )
    *_, (dn, ddl) = _run_concurrently(
        lambda: _write_bucketed(
            inverted_new,
            f"{index_dir}/{out}/inverted_index",
            "term_bucket",
            "term",
            base.n_buckets,
        ),
        lambda: _write_bucketed(
            inverted_new.select("doc_id", "term"),
            f"{index_dir}/{out}/forward",
            "doc_bucket",
            "doc_id",
            base.n_buckets,
        ),
        lambda: stats_new.write.parquet(f"{index_dir}/{out}/doc_stats"),
        lambda: vocab.write.parquet(f"{index_dir}/{out}/vocab"),
        lambda: _count_and_total_dl(stats_new),
    )
    files = dict(base.files, vocab=_written(spark, index_dir, f"{out}/vocab"))
    for t in ("inverted_index", "forward", "doc_stats"):
        files[t] = base.files[t] + _written(spark, index_dir, f"{out}/{t}")
    _commit(
        spark,
        index_dir,
        base,
        files,
        (base.total_docs + dn, base.total_dl + ddl),
        base.n_buckets,
        base.batch_ids + ([] if batch_id is None else [batch_id]),
    )


def delete_from_index(doc_ids: DataFrame, index_dir: str) -> None:
    """Tombstone deletes: the other half of incremental maintenance.

    The corpus-sized tables (postings, forward, doc_stats) are NOT
    rewritten. The doc ids become a new ``tombstones`` file that search
    anti-joins (broadcast -- tombstone sets are tiny relative to an index
    worth keeping), and the derived global statistics are corrected
    immediately and INCREMENTALLY:

    - per-term df subtracts a delta computed from only the ``forward``
      files of the deleted docs' doc buckets -- a ``|batch| / n_buckets``
      fraction of one postings-sized scan;
    - N / total_dl subtract the deleted docs' doc_stats rows.

    Stats correctness is NOT deferred to compaction -- BM25 idf must
    reflect the live corpus or every score drifts (verified: post-delete
    search hash-equals a from-scratch index of the surviving docs).
    Already-tombstoned ids in the batch are ignored (idempotent), so a
    delta can never be subtracted twice. :func:`compact_index` is the
    space-reclamation half."""
    spark = doc_ids.sparkSession
    base = snapshot(spark, index_dir)
    ids = doc_ids.select(F.col("doc_id").cast("string").alias("doc_id")).distinct()
    if base.files["tombstones"]:
        ids = ids.join(F.broadcast(_read(spark, base, "tombstones")), "doc_id", "left_anti")
    # one materialization feeds the tombstone file, the df delta and the
    # stats delta, so all three see the same id set
    ids = ids.localCheckpoint(eager=True)
    buckets = {
        r["b"]
        for r in ids.select(term_bucket_col("doc_id", base.n_buckets).alias("b"))
        .distinct()
        .collect()
    }
    if not buckets:
        return
    out = f"data/{uuid.uuid4().hex}"
    vocab = (
        _read(spark, base, "vocab")
        .join(_df_delta_for_ids(spark, base, ids, buckets), "term", "left")
        .select(
            "term",
            (F.col("doc_freq") - F.coalesce(F.col("delta_df"), F.lit(0))).alias(
                "doc_freq"
            ),
        )
        .where(F.col("doc_freq") > 0)
    )
    gone = _read(spark, base, "doc_stats").join(F.broadcast(ids), "doc_id", "left_semi")
    *_, (dn, ddl) = _run_concurrently(
        lambda: ids.coalesce(1).write.parquet(f"{index_dir}/{out}/tombstones"),
        lambda: vocab.write.parquet(f"{index_dir}/{out}/vocab"),
        lambda: _count_and_total_dl(gone),
    )
    files = dict(
        base.files,
        vocab=_written(spark, index_dir, f"{out}/vocab"),
        tombstones=base.files["tombstones"]
        + _written(spark, index_dir, f"{out}/tombstones"),
    )
    _commit(
        spark,
        index_dir,
        base,
        files,
        (base.total_docs - dn, base.total_dl - ddl),
        base.n_buckets,
        base.batch_ids,
    )


def _df_delta_for_ids(
    spark: SparkSession, snap: Snapshot, ids: DataFrame, buckets: set[int]
) -> DataFrame:
    """Per-term df of the given doc ids, read from only the committed
    forward files of *buckets*, the ids' doc buckets (<= |batch|, collected
    driver-side -- the file pick is what turns the delta into a fraction
    of one postings scan; asserted in tests/test_engine.py)."""
    files = [p for p in snap.files["forward"] if _bucket(p) in buckets]
    return (
        _read(spark, snap, "forward", files)
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("delta_df"))
    )


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Space reclamation for tombstone deletes: rewrite the corpus-sized
    tables minus the tombstoned docs and publish them with no tombstones.

    Result-invariant by construction -- vocab and N/avg_dl were already
    corrected at delete time, so compaction only swaps "mask dead
    postings at search time" for "dead postings gone" (verified by
    ``bm25_search_after_compact`` hash-equaling the after-delete
    oracle). Run it when the tombstone set or dead-posting fraction
    crosses a threshold: it bounds both the broadcast anti-join set search
    pays per query and the dead bytes every scan reads past. Also the
    enabler for re-adding a deleted doc_id (see :func:`append_to_index`).
    The bucket-partitioned layouts are preserved; the replaced files stay
    readable for :data:`GC_GRACE_S`."""
    base = snapshot(spark, index_dir)
    if not base.files["tombstones"]:
        return
    tomb = F.broadcast(_read(spark, base, "tombstones"))
    out = f"data/{uuid.uuid4().hex}"

    def live(table: str) -> DataFrame:
        return _read(spark, base, table).join(tomb, "doc_id", "left_anti")

    _run_concurrently(
        lambda: _write_bucketed(
            live("inverted_index"),
            f"{index_dir}/{out}/inverted_index",
            "term_bucket",
            "term",
            base.n_buckets,
        ),
        lambda: _write_bucketed(
            live("forward"), f"{index_dir}/{out}/forward", "doc_bucket", "doc_id", base.n_buckets
        ),
        lambda: live("doc_stats").write.parquet(f"{index_dir}/{out}/doc_stats"),
    )
    files = dict(base.files, tombstones=[])
    for t in ("inverted_index", "forward", "doc_stats"):
        files[t] = _written(spark, index_dir, f"{out}/{t}")
    _commit(
        spark,
        index_dir,
        base,
        files,
        (base.total_docs, base.total_dl),
        base.n_buckets,
        base.batch_ids,
    )


# --- reads ----------------------------------------------------------------------


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Operability report for a persisted index: the numbers that decide
    WHEN to run :func:`compact_index` -- live vs tombstoned docs, total
    vs dead postings (rows still on disk that belong to deleted docs and
    every scan reads past), and the dead fraction. One postings count +
    one broadcast-semi-join count; no tokenize, no full rewrite.

    Returns one row: ``live_docs, n_tombstones, total_postings,
    dead_postings, dead_fraction, n_term_buckets``."""
    snap = snapshot(spark, index_dir)
    postings = _read(spark, snap, "inverted_index")
    total_postings = postings.count()
    total_docs = _read(spark, snap, "doc_stats").count()
    if not snap.files["tombstones"]:
        n_tomb, dead = 0, 0
    else:
        tomb = _read(spark, snap, "tombstones")
        n_tomb = tomb.distinct().count()
        dead = postings.join(F.broadcast(tomb), "doc_id", "left_semi").count()
    base = spark.createDataFrame(
        [(total_docs - n_tomb, n_tomb, total_postings, dead, snap.n_buckets)],
        "live_docs long, n_tombstones long, total_postings long, "
        "dead_postings long, n_term_buckets int",
    )
    # fraction rounded in Column space (HALF_UP, same as the SQL oracle's
    # round) -- python's banker's rounding could tie-break differently
    return base.select(
        "live_docs",
        "n_tombstones",
        "total_postings",
        "dead_postings",
        F.round(F.col("dead_postings") / F.col("total_postings"), 6).alias(
            "dead_fraction"
        ),
        "n_term_buckets",
    )


def load_index(spark: SparkSession, index_dir: str) -> IndexTables:
    """S2: the four index tables of the latest commit as DataFrames.
    ``term_bucket`` is derived from the term (:func:`term_bucket_col`);
    ``meta`` is the reference's 4-row string table."""
    snap = snapshot(spark, index_dir)
    meta = spark.createDataFrame(
        [
            (k, str(getattr(snap, k)))
            for k in ("total_docs", "avg_dl", "total_dl", "n_buckets")
        ],
        "key string, value string",
    )
    return IndexTables(
        doc_stats=_read(spark, snap, "doc_stats"),
        inverted_index=_read(spark, snap, "inverted_index").withColumn(
            "term_bucket", term_bucket_col("term", snap.n_buckets).cast("int")
        ),
        vocab=_read(spark, snap, "vocab"),
        meta=meta,
    )


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k over the **persisted** index (reference ``query.py``
    lifecycle, SURVEY.md section 3.2): one job over the latest commit.

    The postings read is only the committed files of the query terms'
    buckets, picked driver-side; vocab, doc_stats and tombstones are the
    commit's files, and N / avg_dl come from the commit itself.

    ``allowed`` (optional, a ``doc_id`` frame) restricts the CANDIDATES
    to a metadata facet via a broadcast semi join applied after bucket +
    term pruning -- standard faceted-search semantics: idf/avg_dl stay
    corpus-global (the query's notion of term rarity must not change
    with the facet). A facet set is metadata-sized, hence broadcast."""
    snap = snapshot(spark, index_dir)
    terms = tokenize_query(query)
    buckets = {term_bucket_py(t, snap.n_buckets) for t in terms}
    postings = _read(
        spark,
        snap,
        "inverted_index",
        [p for p in snap.files["inverted_index"] if _bucket(p) in buckets],
    )
    # tombstone mask over only the query's postings, broadcast against
    # the (tiny) delete set; vocab and N/avg_dl were corrected at delete
    # time, so masking the postings is the only search-side change
    if snap.files["tombstones"]:
        postings = postings.join(
            F.broadcast(_read(spark, snap, "tombstones")), "doc_id", "left_anti"
        )
    if allowed is not None:
        postings = postings.join(
            F.broadcast(allowed.select("doc_id")), "doc_id", "left_semi"
        )
    stats = spark.range(1).select(
        F.lit(snap.total_docs).cast("long").alias("n_docs"),
        F.lit(snap.avg_dl).alias("avg_dl"),
    )
    return search_ops.bm25_rank_with_stats(
        postings, _read(spark, snap, "vocab"), _read(spark, snap, "doc_stats"), stats, query, k
    )
