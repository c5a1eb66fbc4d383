"""Persisted-index engine facade (SURVEY.md section 7 step 2): build_index
-> commit-log parquet layout -> bucket-picked search, vs both the
in-memory flagship and the DuckDB oracle; maintenance lifecycles,
crash points around the commit publish, and readers racing writers."""

from __future__ import annotations

import contextlib
import os
import zlib
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_spark import engine
from big_data_assignment2_spark.functions.text import tokenize_query
from big_data_assignment2_spark.operators import index_build, search as search_ops
from tests._compare import compare, duck_connection

Q = "spark query window merge"


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    return d


def _hits(spark, d, query=Q):
    return [tuple(r) for r in engine.search(spark, d, query).collect()]


def _disk_files(d):
    return sorted(
        os.path.relpath(os.path.join(root, n), d)
        for root, _, names in os.walk(d)
        for n in names
    )


def _op_dirs(snap):
    """The ``data/<op>`` directories a commit references."""
    return {p.split("/")[1] for paths in snap.files.values() for p in paths}


def _input_files(df, d):
    return {os.path.relpath(urlparse(f).path, d) for f in df.inputFiles()}


class _Crash(RuntimeError):
    """A failure injected at the commit publish."""


@contextlib.contextmanager
def _crash_at_publish(monkeypatch, when):
    """Make the next write fail just before its commit is published, or
    just after (the commit landed, but the caller sees an error and the
    garbage collection never ran)."""
    real = engine._create_exclusive

    def crash(spark, path, text):
        if when == "after":
            assert real(spark, path, text)
        raise _Crash(when)

    with monkeypatch.context() as m:
        m.setattr(engine, "_create_exclusive", crash)
        with pytest.raises(_Crash):
            yield


def test_index_layout(spark, index_dir):
    idx = engine.load_index(spark, index_dir)
    assert set(idx.inverted_index.columns) == {"term", "doc_id", "tf", "term_bucket"}
    assert set(idx.vocab.columns) == {"term", "doc_freq"}
    assert set(idx.doc_stats.columns) == {"doc_id", "title", "length"}
    meta = {r["key"]: r["value"] for r in idx.meta.collect()}
    # meta values served as strings (reference load_index.py:101-111
    # quirk); n_buckets committed so search derives the bucket layout;
    # total_dl (exact integer sum of doc lengths) is what makes append's
    # incremental meta possible
    assert set(meta) == {"total_docs", "avg_dl", "total_dl", "n_buckets"}
    assert int(meta["total_dl"]) > 0
    # avg_dl is exactly double(total_dl)/total_docs -- one IEEE division
    # of exactly-converted integers
    assert float(meta["avg_dl"]) == int(meta["total_dl"]) / int(meta["total_docs"])
    assert meta["n_buckets"] == "8"
    assert float(meta["avg_dl"]) > 0
    # every posting's bucket is crc32(term) % n
    bad = idx.inverted_index.where(
        F.col("term_bucket") != F.pmod(F.crc32("term"), F.lit(8))
    ).count()
    assert bad == 0
    # every postings file sits in the bucket directory of its terms
    snap = engine.snapshot(spark, index_dir)
    for rel in snap.files["inverted_index"]:
        terms = {r["term"] for r in spark.read.parquet(f"{index_dir}/{rel}").collect()}
        assert {engine.term_bucket_py(t, 8) for t in terms} == {engine._bucket(rel)}


def test_bucket_pruning_reaches_scan(spark, index_dir):
    """A search reads exactly the committed postings files of its terms'
    buckets (picked driver-side -- the Cassandra partition-key analog)
    plus the vocab and doc_stats files; no other postings file is even
    listed."""
    q = "data model"
    snap = engine.snapshot(spark, index_dir)
    buckets = {engine.term_bucket_py(t, 8) for t in tokenize_query(q)}
    postings = {p for p in snap.files["inverted_index"] if engine._bucket(p) in buckets}
    assert 0 < len(postings) < len(snap.files["inverted_index"])
    want = postings | set(snap.files["vocab"]) | set(snap.files["doc_stats"])
    assert _input_files(engine.search(spark, index_dir, q), index_dir) == want


def test_persisted_matches_inmemory(spark, sf_dir, index_dir):
    got = {
        tuple(r)
        for r in engine.search(spark, index_dir, search_ops.DEFAULT_QUERY).collect()
    }
    want = {tuple(r) for r in search_ops.bm25_search(spark, sf_dir).collect()}
    assert got == want


def test_persisted_matches_oracle(spark, sf_dir, index_dir):
    con = duck_connection(sf_dir)
    diff = compare(
        engine.search(spark, index_dir, search_ops.DEFAULT_QUERY),
        con,
        search_ops.sql_bm25(),
    )
    assert diff is None, diff


def test_python_bucket_matches_spark(spark):
    terms = ["data", "model", "zebra", "q7", "1", ""]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = df.select("term", engine.term_bucket_col("term", 64).alias("b")).collect()
    for r in rows:
        assert r["b"] == zlib.crc32(r["term"].encode()) % 64


def test_append_then_delete_composes(spark, sf_dir, tmp_path):
    """The maintenance ops must COMPOSE: build on one slice, append a
    second, delete a third -- the searchable state must equal a
    from-scratch index of exactly the surviving documents (same top-k,
    same scores). Registry queries cover append and delete separately;
    this covers the lifecycle a real index lives through."""
    d_lifecycle = str(tmp_path / "lifecycle")
    d_fresh = str(tmp_path / "fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    doomed = docs.where(F.col("doc_id").cast("long") % 5 == 0).select("doc_id")

    engine.build_index(even, d_lifecycle, n_buckets=8)
    engine.append_to_index(odd, d_lifecycle)
    engine.delete_from_index(doomed, d_lifecycle)

    survivors = docs.where(F.col("doc_id").cast("long") % 5 != 0)
    engine.build_index(survivors, d_fresh, n_buckets=8)

    got = engine.search(spark, d_lifecycle, Q).collect()
    want = engine.search(spark, d_fresh, Q).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_clone_index_is_faithful_and_isolated(spark, sf_dir, tmp_path):
    """clone_index must (a) produce a search- and stats-identical index,
    (b) isolate the clone from the source: maintenance on the clone must
    not perturb the source, and the mutated clone must equal a
    from-scratch index of the surviving docs (the property the derived
    bench fixtures rely on), and (c) refuse a source missing a committed
    file."""
    d_src = str(tmp_path / "src")
    d_clone = str(tmp_path / "clone")
    d_fresh = str(tmp_path / "fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d_src, n_buckets=8)

    engine.clone_index(spark, d_src, d_clone)
    assert _hits(spark, d_clone) == _hits(spark, d_src)
    assert [tuple(r) for r in engine.index_stats(spark, d_clone).collect()] == [
        tuple(r) for r in engine.index_stats(spark, d_src).collect()
    ]

    doomed = docs.where(F.col("doc_id").cast("long") % 5 == 0).select("doc_id")
    engine.delete_from_index(doomed, d_clone)
    engine.build_index(
        docs.where(F.col("doc_id").cast("long") % 5 != 0), d_fresh, n_buckets=8
    )
    got = _hits(spark, d_clone)
    assert got == _hits(spark, d_fresh)
    assert len(got) > 0
    # the source is untouched by the clone's delete
    assert _hits(spark, d_src) != got
    assert engine.snapshot(spark, d_src).files["tombstones"] == []

    # dst == src, nested inside it, OR a parent of it (removing dst would
    # remove src and every sibling) is refused BEFORE any delete
    with pytest.raises(ValueError, match="refusing to delete the source"):
        engine.clone_index(spark, d_src, d_src)
    with pytest.raises(ValueError, match="refusing to delete the source"):
        engine.clone_index(spark, d_src, f"{d_src}/sub")
    with pytest.raises(ValueError, match="refusing to delete the source"):
        engine.clone_index(spark, d_src, str(tmp_path))
    assert _hits(spark, d_src)

    # a source missing a committed file is refused loudly
    os.remove(f"{d_src}/{engine.snapshot(spark, d_src).files['vocab'][0]}")
    with pytest.raises(FileNotFoundError):
        engine.clone_index(spark, d_src, str(tmp_path / "clone2"))


def test_delete_then_append_composes(spark, sf_dir, tmp_path):
    """The OTHER maintenance order: build, delete, THEN append. The append
    path must not resurrect deleted docs into vocab/N/avg_dl (it merges a
    df delta into the delete-corrected vocab and adds the batch to the
    delete-corrected counts) -- a full-postings recompute here would
    silently re-count the tombstoned docs and drift every idf."""
    d_lifecycle = str(tmp_path / "lifecycle")
    d_fresh = str(tmp_path / "fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    # a subset of the docs present at delete time (multiples of 10 are even)
    doomed = docs.where(F.col("doc_id").cast("long") % 10 == 0).select("doc_id")

    engine.build_index(even, d_lifecycle, n_buckets=8)
    engine.delete_from_index(doomed, d_lifecycle)
    engine.append_to_index(odd, d_lifecycle)

    survivors = docs.where(F.col("doc_id").cast("long") % 10 != 0)
    engine.build_index(survivors, d_fresh, n_buckets=8)

    got = engine.search(spark, d_lifecycle, Q).collect()
    want = engine.search(spark, d_fresh, Q).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_compact_is_result_invariant(spark, sf_dir, tmp_path):
    """Compaction reclaims space only: search results before/after must be
    identical, the commit must list no tombstones afterwards, and a
    previously-deleted doc_id becomes appendable again (its dead postings
    were purged)."""
    d = str(tmp_path / "cpt")
    docs = index_build.documents_with_title(spark, sf_dir)
    doomed = docs.where(F.col("doc_id").cast("long") % 5 == 0)
    engine.build_index(docs, d, n_buckets=8)
    engine.delete_from_index(doomed.select("doc_id"), d)
    before = engine.search(spark, d, Q).collect()

    engine.compact_index(spark, d)

    assert engine.snapshot(spark, d).files["tombstones"] == []
    after = engine.search(spark, d, Q).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert len(after) > 0
    # no dead postings left in the committed files
    live_ids = engine.load_index(spark, d).inverted_index.select("doc_id").distinct()
    dead = live_ids.join(F.broadcast(doomed.select("doc_id")), "doc_id", "left_semi")
    assert dead.count() == 0
    # the freed ids are appendable again: full round-trip back to the
    # original corpus
    engine.append_to_index(doomed, d)
    d_full = str(tmp_path / "full")
    engine.build_index(docs, d_full, n_buckets=8)
    assert _hits(spark, d) == _hits(spark, d_full)


def test_append_tombstoned_id_rejected(spark, sf_dir, tmp_path):
    """Appending a doc_id that sits in the tombstones must raise:
    un-tombstoning would resurrect its dead postings, keeping the
    tombstone would mask the new document -- both silently wrong."""
    d = str(tmp_path / "clash")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    victim = docs.orderBy("doc_id").limit(1)
    engine.delete_from_index(victim.select("doc_id"), d)
    with pytest.raises(ValueError, match="tombstoned"):
        engine.append_to_index(victim, d)


def test_append_scans_no_corpus_sized_table(spark, sf_dir, tmp_path, monkeypatch):
    """The append cost model: ONE tokenize pass over the new docs plus
    metadata-sized reads (the committed vocab for the df-delta merge).
    The persisted postings and forward tables -- the corpus-sized ones --
    must never be read, or append degrades to O(index) per batch;
    doc_stats (row-per-corpus-doc) must not be read either: N/total_dl
    update from the commit plus the batch alone."""
    from pyspark.sql.readwriter import DataFrameReader

    d = str(tmp_path / "io")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs.where(F.col("doc_id").cast("long") % 2 == 0), d, n_buckets=8)

    read_paths: list[str] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kwargs):
        read_paths.extend(str(p) for p in paths)
        return orig(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    engine.append_to_index(docs.where(F.col("doc_id").cast("long") % 2 == 1), d)
    corpus_scaled = [
        p
        for p in read_paths
        if "inverted_index" in p or "forward" in p or "doc_stats" in p
    ]
    assert corpus_scaled == [], corpus_scaled


@pytest.mark.parametrize("seed", [11, 23])
def test_maintenance_randomized_lifecycle(spark, sf_dir, tmp_path, seed, monkeypatch):
    """Randomized lifecycle soak: a seeded random interleaving of plain
    appends, batched appends, failed-then-redelivered batches (the first
    delivery dies just before its publish, the redelivery applies it, a
    third delivery is a no-op), deletes, and compactions -- then the
    searchable state must equal a from-scratch index of exactly the live
    set."""
    import random

    rng = random.Random(seed)
    d = str(tmp_path / "rand")
    d_ref = str(tmp_path / "rand_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    all_ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())

    init = set(rng.sample(all_ids, len(all_ids) // 3))
    engine.build_index(docs.where(F.col("doc_id").isin(list(init))), d, n_buckets=8)
    live, tombstoned = set(init), set()
    batch_id = 100

    for _ in range(6):
        op = rng.choice(
            ["append", "append_batch", "append_batch_redeliver", "delete", "compact"]
        )
        if op.startswith("append"):
            candidates = [i for i in all_ids if i not in live and i not in tombstoned]
            if not candidates:
                continue
            batch = rng.sample(candidates, min(len(candidates), rng.randint(1, 60)))
            bdf = docs.where(F.col("doc_id").isin(batch))
            if op == "append":
                engine.append_to_index(bdf, d)
            else:
                if op == "append_batch_redeliver":
                    with _crash_at_publish(monkeypatch, "before"):
                        engine.append_to_index(bdf, d, batch_id=batch_id)
                engine.append_to_index(bdf, d, batch_id=batch_id)
                if op == "append_batch_redeliver":
                    engine.append_to_index(bdf, d, batch_id=batch_id)
                batch_id += 1
            live |= set(batch)
        elif op == "delete":
            if not live:
                continue
            dels = rng.sample(sorted(live), min(len(live), rng.randint(1, 40)))
            engine.delete_from_index(
                docs.where(F.col("doc_id").isin(dels)).select("doc_id"), d
            )
            live -= set(dels)
            tombstoned |= set(dels)
        else:
            engine.compact_index(spark, d)
            tombstoned = set()

    engine.build_index(docs.where(F.col("doc_id").isin(list(live))), d_ref, n_buckets=8)
    for query in (Q, "data processing engine"):
        got = _hits(spark, d, query)
        want = _hits(spark, d_ref, query)
        assert got == want, (query, got, want)
    assert live  # the comparison must not be vacuous


def test_maintenance_soak_cycles(spark, sf_dir, tmp_path):
    """Soak the maintenance path: three append/delete cycles with a
    compaction in the middle, then verify the searchable state equals a
    from-scratch index of exactly the surviving documents. Single
    lifecycle steps are covered above; this pins that the invariants
    COMPOSE over many cycles (vocab df-deltas are exact integer merges,
    so no drift is possible -- this test is what proves that claim)."""
    d = str(tmp_path / "soak")
    d_fresh = str(tmp_path / "soak_fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")

    engine.build_index(docs.where(did % 3 == 0), d, n_buckets=8)
    engine.append_to_index(docs.where(did % 3 == 1), d)
    engine.delete_from_index(docs.where(did % 6 == 0).select("doc_id"), d)
    engine.append_to_index(docs.where(did % 3 == 2), d)
    engine.compact_index(spark, d)
    engine.delete_from_index(docs.where(did % 7 == 1).select("doc_id"), d)
    # doc_id % 6 == 0 ids were purged by the compaction, so they are
    # re-addable -- except the ones the %7 delete just tombstoned, which
    # the append-clash guard would (correctly) reject
    engine.append_to_index(docs.where((did % 6 == 0) & (did % 7 != 1)), d)

    # survivors: everything except (doc_id % 7 == 1), whose delete came
    # after the compaction and is still tombstone-masked
    engine.build_index(docs.where(did % 7 != 1), d_fresh, n_buckets=8)
    got = engine.search(spark, d, Q).collect()
    want = engine.search(spark, d_fresh, Q).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_delete_delta_prunes_forward_partitions(spark, sf_dir, tmp_path):
    """The delete df-delta reads exactly the committed forward files of
    the deleted docs' doc buckets -- that file pick is what makes delete
    cost |batch|/n_buckets of a postings scan instead of all of it."""
    d = str(tmp_path / "prune")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    ids = docs.orderBy("doc_id").limit(3).select("doc_id").localCheckpoint()
    snap = engine.snapshot(spark, d)
    buckets = {engine.term_bucket_py(r["doc_id"], 8) for r in ids.collect()}
    delta = engine._df_delta_for_ids(spark, snap, ids, buckets)
    want_files = {p for p in snap.files["forward"] if engine._bucket(p) in buckets}
    assert 0 < len(want_files) < len(snap.files["forward"])
    assert _input_files(delta, d) == want_files
    # and the delta itself is correct: per-term df of exactly those docs
    want = {
        (r["term"], r["doc_freq"])
        for r in index_build.vocab_from_inverted(
            index_build.inverted_from_docs(docs.join(ids, "doc_id", "semi"))
        ).collect()
    }
    got = {(r["term"], r["delta_df"]) for r in delta.collect()}
    assert got == want


def test_delete_requires_forward_table(spark, sf_dir, tmp_path):
    """Deleting from an index in the legacy in-place layout (table
    directories, no commit log -- e.g. one that predates the forward
    table) must fail with a clear rebuild message, not an opaque path
    error."""
    d = str(tmp_path / "old_layout")
    docs = index_build.documents_with_title(spark, sf_dir)
    index_build.doc_stats_from_docs(docs).write.parquet(f"{d}/doc_stats")
    index_build.inverted_from_docs(docs).write.parquet(f"{d}/inverted_index")
    with pytest.raises(ValueError, match="rebuild"):
        engine.delete_from_index(docs.limit(1).select("doc_id"), d)


def test_batched_append_redelivery_is_noop(spark, sf_dir, tmp_path):
    """Exactly-once contract for the streaming ingestion path: applying
    the SAME (batch_id, rows) twice -- the foreachBatch redelivery after
    a mid-batch failure -- must leave the index identical to applying it
    once: same search results, same vocab df sums, same files on disk,
    and the batch id recorded in the commit."""
    d = str(tmp_path / "redelivery")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    def _state():
        vocab = engine.load_index(spark, d).vocab
        return _disk_files(d), vocab.agg(F.sum("doc_freq")).collect()[0][0], _hits(spark, d)

    engine.append_to_index(odd, d, batch_id=7)
    once = _state()
    assert engine.snapshot(spark, d).batch_ids == [7]

    engine.append_to_index(odd, d, batch_id=7)  # redelivered: must no-op
    assert _state() == once

    # a DIFFERENT batch id is new data and must apply (guard that the
    # check keys on batch id, not on "any append happened")
    engine.append_to_index(odd.limit(3).withColumn(
        "doc_id", F.concat(F.lit("rd_"), F.col("doc_id"))
    ), d, batch_id=8)
    files2, vocab2, _ = _state()
    assert vocab2 > once[1]
    assert set(files2) > set(once[0])
    assert engine.snapshot(spark, d).batch_ids == [7, 8]


def test_batched_append_torn_delivery_recovers(spark, sf_dir, tmp_path, monkeypatch):
    """Crash-window recovery: a delivery that died after writing all its
    files but before publishing its commit leaves only unreferenced
    files. Readers still see the old state, the redelivery applies the
    batch exactly once, and the orphaned files are never referenced."""
    d = str(tmp_path / "torn")
    d_ref = str(tmp_path / "torn_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)
    old = _hits(spark, d)

    with _crash_at_publish(monkeypatch, "before"):
        engine.append_to_index(odd, d, batch_id=3)
    snap = engine.snapshot(spark, d)
    orphans = set(os.listdir(f"{d}/data")) - _op_dirs(snap)
    assert len(orphans) == 1 and 3 not in snap.batch_ids
    assert _hits(spark, d) == old

    engine.append_to_index(odd, d, batch_id=3)
    engine.build_index(docs, d_ref, n_buckets=8)  # clean one-shot reference
    got = _hits(spark, d)
    assert got == _hits(spark, d_ref) and len(got) > 0
    assert orphans.isdisjoint(_op_dirs(engine.snapshot(spark, d)))


def test_batched_append_concurrent_torn_interleaving_recovers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The per-batch table writes run CONCURRENTLY, so a failure can land
    while the other tables' files -- postings, forward, doc_stats and the
    merged vocab -- are written (here the batch-count job fails). Nothing
    was published, so the redelivery starts again from the old commit:
    vocab is not merged twice, N is not doubled, and the index equals a
    clean one-shot build of the full corpus."""
    d = str(tmp_path / "torn_pool")
    d_ref = str(tmp_path / "torn_pool_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    bid = 5

    def boom(stats):
        raise _Crash("batch count")

    with monkeypatch.context() as m:
        m.setattr(engine, "_count_and_total_dl", boom)
        with pytest.raises(_Crash):
            engine.append_to_index(odd, d, batch_id=bid)
    assert engine.snapshot(spark, d).version == 0

    engine.append_to_index(odd, d, batch_id=bid)
    engine.build_index(docs, d_ref, n_buckets=8)  # clean one-shot reference
    got = _hits(spark, d)
    assert got == _hits(spark, d_ref) and len(got) > 0
    idx, ref = engine.load_index(spark, d), engine.load_index(spark, d_ref)
    assert {r["term"]: r["doc_freq"] for r in idx.vocab.collect()} == {
        r["term"]: r["doc_freq"] for r in ref.vocab.collect()
    }
    assert {tuple(r) for r in idx.meta.collect()} == {tuple(r) for r in ref.meta.collect()}
    assert engine.snapshot(spark, d).batch_ids == [bid]


def test_batched_append_torn_meta_marker_suppresses_readd(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A delivery that failed just AFTER its commit landed (the caller
    saw an error, so foreachBatch redelivers) must not be re-added: the
    batch id in the commit is the marker, so total_docs/total_dl are not
    double-counted."""
    d = str(tmp_path / "torn_meta")
    d_ref = str(tmp_path / "torn_meta_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    bid = 7
    with _crash_at_publish(monkeypatch, "after"):
        engine.append_to_index(odd, d, batch_id=bid)
    engine.append_to_index(odd, d, batch_id=bid)
    engine.build_index(docs, d_ref, n_buckets=8)
    meta_got = {tuple(r) for r in engine.load_index(spark, d).meta.collect()}
    meta_want = {tuple(r) for r in engine.load_index(spark, d_ref).meta.collect()}
    assert meta_got == meta_want
    got = _hits(spark, d)
    assert got == _hits(spark, d_ref) and len(got) > 0


def test_batched_append_hadoop_metadata_path(spark, sf_dir, tmp_path, monkeypatch):
    """Every local test publishes its commits with a hard link, which
    would leave the Hadoop no-overwrite rename (the publish a real
    HDFS/object-store deployment runs) untested. Force it by reporting
    every path as non-local -- the Hadoop FileSystem still resolves these
    bare paths to the local disk, so the branch executes for real -- and
    run build, a batched append and its redelivery, the no-overwrite
    publish and a garbage collection through it."""
    monkeypatch.setattr(engine, "_local", lambda spark_, path: None)
    d = str(tmp_path / "hadoop_branch")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    engine.append_to_index(odd, d, batch_id=11)
    snap = engine.snapshot(spark, d)
    assert snap.version == 1 and snap.batch_ids == [11]
    files_once, hits_once = _disk_files(d), _hits(spark, d)

    engine.append_to_index(odd, d, batch_id=11)  # redelivered: must no-op
    assert _disk_files(d) == files_once
    assert _hits(spark, d) == hits_once and len(hits_once) > 0

    # the publish never replaces an existing commit
    path = f"{d}/_commits/1.json"
    body = open(path).read()
    assert not engine._create_exclusive(spark, path, "{}")
    assert open(path).read() == body

    # with no grace, a write's GC leaves only what the latest commit uses
    monkeypatch.setattr(engine, "GC_GRACE_S", 0.0)
    engine.delete_from_index(odd.limit(2).select("doc_id"), d)
    snap = engine.snapshot(spark, d)
    assert set(os.listdir(f"{d}/data")) == _op_dirs(snap)
    assert [n for n in os.listdir(f"{d}/_commits") if n.endswith(".json")] == ["2.json"]


def test_lifecycle_readd_equals_fresh(spark, sf_dir, index_dir):
    """build -> delete -> compact -> append-READD of the deleted docs must
    converge back to the from-scratch full-corpus index (compaction freed
    the tombstoned ids; the re-add restores their postings and stats)."""
    from big_data_assignment2_spark.operators.search import ensure_lifecycle_index

    d = ensure_lifecycle_index(spark, sf_dir)
    got = _hits(spark, d)
    assert got == _hits(spark, index_dir) and len(got) > 0


def test_replace_dir_tolerates_lost_heal_race(spark, tmp_path, monkeypatch):
    """``_replace_dir`` (operators/_util.py; the merge and partitioned-sink
    swaps): another process can observe a swap mid-way (dst deleted, tmp
    present) and issue the same tmp->dst rename; whichever process loses
    sees fs.rename()==False with the swap already complete. That must
    count as success -- but a rename failure where the swap did NOT
    complete must still raise."""
    from big_data_assignment2_spark.operators import _util

    real = _util._fs_and_path

    class RacedFS:
        """fs whose rename is beaten to the punch: the competing process's
        rename lands (we perform it), then ours reports failure."""

        def __init__(self, fs):
            self._fs = fs

        def exists(self, p):
            return self._fs.exists(p)

        def delete(self, p, rec):
            return self._fs.delete(p, rec)

        def rename(self, a, b):
            self._fs.rename(a, b)
            return False

    class DeadFS(RacedFS):
        """fs whose rename genuinely fails (nothing moved)."""

        def rename(self, a, b):
            return False

    wrapper = RacedFS
    monkeypatch.setattr(
        _util,
        "_fs_and_path",
        lambda sp, path: (lambda fs_p: (wrapper(fs_p[0]), fs_p[1]))(real(sp, path)),
    )

    src, dst = str(tmp_path / "t.tmp"), str(tmp_path / "t")
    os.makedirs(src)
    open(f"{src}/part-0.parquet", "w").write("x")
    _util._replace_dir(spark, src, dst)  # lost race == success, no raise
    assert os.path.isdir(dst) and not os.path.exists(src)

    wrapper = DeadFS
    src2, dst2 = str(tmp_path / "u.tmp"), str(tmp_path / "u")
    os.makedirs(src2)
    with pytest.raises(IOError):
        _util._replace_dir(spark, src2, dst2)


def test_meta_readers_survive_swap_window(spark, sf_dir, tmp_path, monkeypatch):
    """A reader that resolved the index before a write replaced its files
    keeps reading its own snapshot after the write published and its
    garbage collection ran: the replaced files stay until the grace
    period after their commit was superseded has passed."""
    d = str(tmp_path / "swapwin")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    engine.delete_from_index(docs.where(_did() % 5 == 0).select("doc_id"), d)
    held = engine.search(spark, d, Q)  # resolved, not yet run
    old_postings = set(engine.snapshot(spark, d).files["inverted_index"])

    engine.compact_index(spark, d)  # replaces postings/forward/doc_stats
    new_postings = set(engine.snapshot(spark, d).files["inverted_index"])
    assert old_postings.isdisjoint(new_postings)
    read = _input_files(held, d)
    assert read & old_postings and not read & new_postings
    got = [tuple(r) for r in held.collect()]
    assert got == _hits(spark, d) and len(got) > 0

    # past the grace period the next write's collection removes them
    monkeypatch.setattr(engine, "GC_GRACE_S", 0.0)
    engine.delete_from_index(docs.where(_did() % 7 == 1).select("doc_id"), d)
    assert not any(os.path.exists(f"{d}/{p}") for p in old_postings)


def test_n_buckets_cache_invalidates_on_external_rebuild(spark, sf_dir, tmp_path):
    """A long-lived process (streaming driver) must notice when the same
    index_dir is rebuilt with a different n_buckets: every search takes
    the bucket layout from the commit it resolves, so it can never prune
    with a stale layout -- same corpus, other layout, same answers."""
    d = str(tmp_path / "ext")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    hits = _hits(spark, d)
    assert engine.snapshot(spark, d).n_buckets == 8

    engine.build_index(docs, d, n_buckets=4)
    snap = engine.snapshot(spark, d)
    assert snap.n_buckets == 4
    assert {engine._bucket(p) for p in snap.files["inverted_index"]} == {0, 1, 2, 3}
    assert _hits(spark, d) == hits and len(hits) > 0


def test_load_index_rejects_foreign_dir(spark, tmp_path):
    """A directory whose tables were written by something else, or by the
    legacy in-place layout (the CLI reuses any existing on-disk
    index_dir), has no commit log: reads fail fast with the rebuild
    message instead of searching foreign files."""
    d = str(tmp_path / "foreign")
    spark.range(5).selectExpr("id AS a", "id * 2 AS b").write.parquet(
        f"{d}/doc_stats"
    )
    for t in ("inverted_index", "vocab", "meta"):
        spark.range(1).selectExpr("id AS x").write.parquet(f"{d}/{t}")
    with pytest.raises(ValueError, match="rebuild"):
        engine.load_index(spark, d)

    # right column NAMES but legacy TYPES (doc_id bigint)
    d2 = str(tmp_path / "legacy")
    spark.range(5).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS title", "id AS length"
    ).write.parquet(f"{d2}/doc_stats")
    with pytest.raises(ValueError, match="legacy or foreign layout"):
        engine.search(spark, d2, Q)


def test_load_index_raises_loudly_on_fileless_table(spark, sf_dir, tmp_path, monkeypatch):
    """load_index while a first build is still writing (or after it
    crashed before its publish) raises instead of serving an empty or
    partial index: the data files exist, but no commit lists them."""
    d = str(tmp_path / "midbuild")
    docs = index_build.documents_with_title(spark, sf_dir)
    with _crash_at_publish(monkeypatch, "before"):
        engine.build_index(docs.limit(20), d, n_buckets=8)
    assert os.listdir(f"{d}/data")
    with pytest.raises(ValueError, match="no committed index"):
        engine.load_index(spark, d)


def test_maintenance_rejects_foreign_dir(spark, tmp_path):
    """delete/compact/append on a legacy dir (bigint doc_id) fail fast
    with the clear rebuild message -- not an opaque task-side Parquet
    conversion error (or a silently null-filled WRONG df delta)."""
    d = str(tmp_path / "legacy")
    spark.range(5).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS title", "id AS length"
    ).write.parquet(f"{d}/doc_stats")
    ids = spark.createDataFrame([("1",)], "doc_id string")
    with pytest.raises(ValueError, match="rebuild"):
        engine.delete_from_index(ids, d)
    with pytest.raises(ValueError, match="rebuild"):
        engine.compact_index(spark, d)
    docs = spark.createDataFrame(
        [("9", "t", "hello world")], "doc_id string, title string, text string"
    )
    with pytest.raises(ValueError, match="rebuild"):
        engine.append_to_index(docs, d)
    # build_index replaces the legacy layout
    engine.build_index(docs, d, n_buckets=4)
    assert not os.path.exists(f"{d}/doc_stats")
    assert engine.search(spark, d, "hello").first()["doc_id"] == "9"


def test_empty_write_leaves_data_file(spark, tmp_path):
    """Pins the Spark behavior the layout relies on: an empty
    NON-partitioned write leaves one zero-row schema-bearing data file,
    while an empty PARTITIONED write leaves none -- so a commit of an
    emptied index lists no postings or forward files, and reads of an
    empty file list must not go through the parquet reader."""
    import glob as _glob

    d = str(tmp_path)
    spark.createDataFrame([], "term string, doc_freq long").write.parquet(f"{d}/plain")
    assert _glob.glob(f"{d}/plain/*.parquet")
    spark.createDataFrame(
        [], "doc_id string, term string, doc_bucket int"
    ).write.partitionBy("doc_bucket").parquet(f"{d}/part")
    assert not _glob.glob(f"{d}/part/doc_bucket=*/*.parquet")


def test_append_raises_on_torn_vocab(spark, sf_dir, tmp_path):
    """A committed vocab file that went missing must fail the append
    loudly instead of merging the delta into a vocab that lost every
    prior term's df."""
    d = str(tmp_path / "torn")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 2 == 0), d, n_buckets=8)
    for p in engine.snapshot(spark, d).files["vocab"]:
        os.remove(f"{d}/{p}")
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        engine.append_to_index(docs.where(did % 2 == 1), d)


def test_delete_all_compact_append_lifecycle(spark, sf_dir, tmp_path):
    """The emptied index is a legitimate state end-to-end: delete EVERY
    document, compact (the commit then lists no postings or forward
    files), search (no hits, no error), then append a fresh corpus --
    the result must equal a from-scratch index of the appended docs."""
    d = str(tmp_path / "emptied")
    d_ref = str(tmp_path / "ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 5 == 0), d, n_buckets=8)
    engine.delete_from_index(docs.where(did % 5 == 0).select("doc_id"), d)
    engine.compact_index(spark, d)
    snap = engine.snapshot(spark, d)
    assert snap.files["inverted_index"] == [] and snap.files["forward"] == []
    assert snap.total_docs == 0 and snap.avg_dl == 0.0
    assert _hits(spark, d) == []
    engine.append_to_index(docs.where(did % 5 == 1), d)
    engine.build_index(docs.where(did % 5 == 1), d_ref, n_buckets=8)
    got = _hits(spark, d)
    assert got == _hits(spark, d_ref) and len(got) > 0


def test_delete_raises_on_torn_forward(spark, sf_dir, tmp_path):
    """Committed forward files that went missing must fail the delete
    loudly: a silently EMPTY df delta would leave vocab's doc_freq
    counting the deleted docs (idf drift) while N gets corrected."""
    d = str(tmp_path / "tornfwd")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 2 == 0), d, n_buckets=8)
    for p in engine.snapshot(spark, d).files["forward"]:
        os.remove(f"{d}/{p}")
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        engine.delete_from_index(docs.where(did % 4 == 0).select("doc_id"), d)
    assert engine.snapshot(spark, d).version == 0


def test_compact_unwedges_emptied_index(spark, sf_dir, tmp_path):
    """Tombstones acquired on an EMPTIED index (deleting ids it does not
    hold) must be clearable: the delete commits them, compact clears
    them, and the ids are appendable again."""
    d = str(tmp_path / "emptied")
    d_ref = str(tmp_path / "ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 7 == 0), d, n_buckets=8)
    engine.delete_from_index(docs.where(did % 7 == 0).select("doc_id"), d)
    engine.compact_index(spark, d)
    engine.delete_from_index(docs.where(did % 7 == 1).limit(3).select("doc_id"), d)
    assert engine.snapshot(spark, d).files["tombstones"]
    with pytest.raises(ValueError, match="tombstoned"):
        engine.append_to_index(docs.where(did % 7 == 1), d)
    engine.compact_index(spark, d)
    assert engine.snapshot(spark, d).files["tombstones"] == []
    engine.append_to_index(docs.where(did % 7 == 1), d)
    engine.build_index(docs.where(did % 7 == 1), d_ref, n_buckets=8)
    got = _hits(spark, d)
    assert got == _hits(spark, d_ref) and len(got) > 0


def test_append_rejects_torn_index(spark, sf_dir, tmp_path, monkeypatch):
    """A first build that crashed before its publish left data files but
    no index: an append must not fill it in (that would commit an index
    missing the build's documents), it fails with the rebuild message."""
    d = str(tmp_path / "torndoc")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    with _crash_at_publish(monkeypatch, "before"):
        engine.build_index(docs.where(did % 2 == 0), d, n_buckets=8)
    with pytest.raises(ValueError, match="rebuild"):
        engine.append_to_index(docs.where(did % 2 == 1), d)


# --- commit publish: crash points, racing writers, garbage collection ---------

def _did():
    return F.col("doc_id").cast("long")

# each op applied to the fault base (even ids built, multiples of 10 deleted)
_OPS = {
    "build": lambda spark, docs, d: engine.build_index(
        docs.where(_did() % 3 == 0), d, n_buckets=8
    ),
    "append": lambda spark, docs, d: engine.append_to_index(docs.where(_did() % 2 == 1), d),
    "append_batch": lambda spark, docs, d: engine.append_to_index(
        docs.where(_did() % 2 == 1), d, batch_id=5
    ),
    "delete": lambda spark, docs, d: engine.delete_from_index(
        docs.where(_did() % 4 == 0).select("doc_id"), d
    ),
    "compact": lambda spark, docs, d: engine.compact_index(spark, d),
}


@pytest.fixture(scope="module")
def fault_base(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fault_base"))
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs.where(_did() % 2 == 0), d, n_buckets=8)
    engine.delete_from_index(docs.where(_did() % 10 == 0).select("doc_id"), d)
    return d


def _state(spark, d):
    """What a reader can observe: search hits for two queries, the vocab
    df sum, the committed counts, and the postings still on disk (which
    compaction changes while hits stay equal)."""
    snap = engine.snapshot(spark, d)
    idx = engine.load_index(spark, d)
    return (
        _hits(spark, d),
        _hits(spark, d, "data processing engine"),
        idx.vocab.agg(F.sum("doc_freq")).first()[0],
        (snap.total_docs, snap.total_dl, snap.n_buckets, sorted(snap.batch_ids)),
        idx.inverted_index.count(),
    )


@pytest.fixture(scope="module")
def new_states():
    """op -> the state a clean run of the op reaches from the fault base
    (shared by the op's two crash points)."""
    return {}


@pytest.mark.parametrize("when", ["before", "after"])
@pytest.mark.parametrize("op", list(_OPS))
def test_fault_at_publish_leaves_old_or_new(
    spark, sf_dir, fault_base, new_states, tmp_path, monkeypatch, op, when
):
    """A failure just before an op's commit publish leaves exactly the
    old state (and re-running the op then reaches the new one); a failure
    just after it leaves exactly the new state. For a batched append
    whose commit landed, the redelivery is a no-op that leaves the same
    files on disk."""
    docs = index_build.documents_with_title(spark, sf_dir)
    if op not in new_states:
        clean = str(tmp_path / "clean")
        engine.clone_index(spark, fault_base, clean)
        _OPS[op](spark, docs, clean)
        new_states[op] = _state(spark, clean)
    old, new = _state(spark, fault_base), new_states[op]
    assert old != new

    d = str(tmp_path / "d")
    engine.clone_index(spark, fault_base, d)
    with _crash_at_publish(monkeypatch, when):
        _OPS[op](spark, docs, d)
    if when == "before":
        assert _state(spark, d) == old
        _OPS[op](spark, docs, d)
        assert _state(spark, d) == new
    else:
        assert _state(spark, d) == new
        if op == "append_batch":
            files = _disk_files(d)
            _OPS[op](spark, docs, d)
            assert _disk_files(d) == files
            assert _state(spark, d) == new


def test_racing_writers_loser_raises(spark, sf_dir, fault_base, tmp_path, monkeypatch):
    """Two writers that start from the same commit race for the same
    commit name: exactly one publishes, the other raises, and the index
    equals the winner's write applied alone."""
    import threading

    docs = index_build.documents_with_title(spark, sf_dir)
    d = str(tmp_path / "race")
    engine.clone_index(spark, fault_base, d)
    parts = {"a": docs.where(_did() % 4 == 1), "b": docs.where(_did() % 4 == 3)}
    both_ready = threading.Barrier(2, timeout=120)
    real = engine._create_exclusive

    def publish_together(spark_, path, text):
        both_ready.wait()
        return real(spark_, path, text)

    monkeypatch.setattr(engine, "_create_exclusive", publish_together)
    outcome: dict[str, str] = {}

    def write(name):
        try:
            engine.append_to_index(parts[name], d, batch_id=ord(name))
            outcome[name] = "published"
        except RuntimeError as e:
            outcome[name] = str(e)

    threads = [threading.Thread(target=write, args=(n,)) for n in parts]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    monkeypatch.setattr(engine, "_create_exclusive", real)

    winners = [n for n, o in outcome.items() if o == "published"]
    assert len(winners) == 1, outcome
    (loser,) = set(parts) - set(winners)
    assert "concurrent writer" in outcome[loser]
    ref = str(tmp_path / "ref")
    engine.clone_index(spark, fault_base, ref)
    engine.append_to_index(parts[winners[0]], ref, batch_id=ord(winners[0]))
    assert _state(spark, d) == _state(spark, ref)


def test_gc_keeps_what_commits_reference(spark, sf_dir, tmp_path, monkeypatch):
    """Garbage collection runs at the end of each write. Within the grace
    period superseded commits and their files stay; once it has passed,
    only the latest commit and the data directories it references remain
    -- including the removal of a crashed write's orphaned files."""
    d = str(tmp_path / "gc")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs.where(_did() % 2 == 0), d, n_buckets=8)
    engine.delete_from_index(docs.where(_did() % 10 == 0).select("doc_id"), d)
    assert sorted(os.listdir(f"{d}/_commits")) == ["0.json", "1.json"]
    with _crash_at_publish(monkeypatch, "before"):
        engine.append_to_index(docs.where(_did() % 2 == 1), d)
    assert len(os.listdir(f"{d}/data")) == 3

    monkeypatch.setattr(engine, "GC_GRACE_S", 0.0)
    engine.compact_index(spark, d)
    snap = engine.snapshot(spark, d)
    assert os.listdir(f"{d}/_commits") == ["2.json"]
    assert set(os.listdir(f"{d}/data")) == _op_dirs(snap)
    # the compaction kept the delete's vocab, so two op dirs stay live
    assert len(_op_dirs(snap)) == 2
    ref = str(tmp_path / "ref")
    engine.build_index(docs.where((_did() % 2 == 0) & (_did() % 10 != 0)), ref, n_buckets=8)
    assert _hits(spark, d) == _hits(spark, ref)


def test_reader_soak_zero_failures(spark, sf_dir, tmp_path, monkeypatch):
    """4 reader threads search while one writer runs 8 append/delete/
    compact cycles under a short GC grace. In every cycle each reader
    resolves a search, holds it across the compaction and the garbage
    collection that follows, then runs it; between cycles readers search
    freely. Zero reader failures -- plan time or task time -- and the
    final state equals a fresh build of the live set."""
    import threading

    monkeypatch.setattr(engine, "GC_GRACE_S", 5.0)
    d, d_ref = str(tmp_path / "soak"), str(tmp_path / "ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    ids = sorted(int(r["doc_id"]) for r in docs.select("doc_id").collect())
    live = set(ids[::3])
    rest = [i for i in ids if i not in live]

    def where(id_set):
        return docs.where(F.col("doc_id").isin([str(i) for i in sorted(id_set)]))

    engine.build_index(where(live), d, n_buckets=8)
    queries = (Q, "data processing engine", "model index search")
    failures: list[tuple[str, str]] = []
    held: list[int] = []
    stop, hold = threading.Event(), threading.Event()
    resolved, compacted = threading.Barrier(5, timeout=120), threading.Barrier(5, timeout=120)

    def reader(r: int) -> None:
        n = 0
        while not stop.is_set():
            holding, df = hold.is_set(), None
            try:
                df = engine.search(spark, d, queries[(r + n) % len(queries)])
            except Exception as e:  # noqa: BLE001 -- every failure is recorded
                failures.append(("define", repr(e)))
            n += 1
            if holding:
                try:
                    resolved.wait()
                    compacted.wait()
                except threading.BrokenBarrierError:
                    return
            try:
                if df is not None:
                    df.collect()
                    if holding:
                        held.append(r)
            except Exception as e:  # noqa: BLE001
                failures.append(("run", repr(e)))
            if not holding:
                hold.wait(2.0)  # pace free searches; wake when a hold starts

    threads = [threading.Thread(target=reader, args=(r,)) for r in range(4)]
    for t in threads:
        t.start()
    try:
        for c in range(8):
            engine.append_to_index(where(rest[c::8]), d, batch_id=c)
            live |= set(rest[c::8])
            doomed = set(sorted(live)[c::29])
            engine.delete_from_index(where(doomed).select("doc_id"), d)
            live -= doomed
            hold.set()
            resolved.wait()
            hold.clear()
            engine.compact_index(spark, d)
            compacted.wait()
    except BaseException:
        resolved.abort()  # release readers waiting for this writer
        compacted.abort()
        raise
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)

    assert failures == []
    assert len(held) == 4 * 8
    # the GC really ran under the readers: 25 writes, fewer commits and
    # op dirs left, and every op dir left belongs to a commit still there
    commits = [n for n in os.listdir(f"{d}/_commits") if n.endswith(".json")]
    assert len(commits) < 25 and len(os.listdir(f"{d}/data")) < 25
    retained = set().union(
        *(_op_dirs(engine._load_commit(spark, d, int(n[:-5]))) for n in commits)
    )
    assert set(os.listdir(f"{d}/data")) == retained
    engine.build_index(where(live), d_ref, n_buckets=8)
    for q in queries:
        assert _hits(spark, d, q) == _hits(spark, d_ref, q)
    snap, ref = engine.snapshot(spark, d), engine.snapshot(spark, d_ref)
    assert (snap.total_docs, snap.total_dl) == (ref.total_docs, ref.total_dl)
