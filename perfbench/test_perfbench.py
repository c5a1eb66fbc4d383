"""Tests of the benchmark's own parts:

    python3 -m pytest perfbench -q -p no:cacheprovider

The status-store counters are pinned on a one-shuffle query, the
independent scorer is checked against the engine on a small generated
corpus (including a facet and a delete), and the generators are checked
for determinism.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.oracle import Scorer, check_top_k
from perfbench.tracing import Counters, Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_SCRATCH"] = str(work / "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    from big_data_assignment2_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    assert s.conf.get("spark.ui.enabled") == "false"
    yield s
    s.stop()


def test_counters_pin_a_one_shuffle_query(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)
    frame = spark.read.parquet(path)  # its footer-reading job stays outside the spans
    counters = Counters(spark)
    tracer = Tracer(True)
    with tracer.span("q", counters) as sp:
        frame.groupBy((F.col("id") % 7).alias("k")).count().write.format("noop").mode(
            "overwrite"
        ).save()
    c = sp.counts
    # AQE: one job for the map stage, one for the (coalesced) result stage
    assert (c["jobs"], c["stages"], c["tasks"]) == (2, 2, 2)
    assert (c["files_read"], c["rows_scanned"], c["rows_read"]) == (1, 1000, 1000)
    assert c["shuffle_write_bytes"] > 0
    assert c["shuffle_read_bytes"] == c["shuffle_write_bytes"]
    assert c["spill_bytes"] == 0 and c["files_written"] == 0
    # a second identical query counts the same: nothing leaks across spans
    with tracer.span("again", counters) as again:
        frame.groupBy((F.col("id") % 7).alias("k")).count().collect()
    assert {k: again.counts[k] for k in ("jobs", "stages", "files_read", "rows_scanned")} == {
        "jobs": 2,
        "stages": 2,
        "files_read": 1,
        "rows_scanned": 1000,
    }


def test_tracer_self_time():
    tracer = Tracer(True)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    assert inner.parent == 0 and outer.parent is None
    assert tracer.self_seconds(0) == pytest.approx(outer.seconds - inner.seconds)


def test_scorer_agrees_with_engine(spark, tmp_path):
    from pyspark.sql import functions as F

    from big_data_assignment2_spark import engine

    rng = np.random.default_rng(5)
    docs = gen.corpus(rng, 400, 0, 40)
    docs.write_parquet(str(tmp_path / "docs.parquet"))
    idx = str(tmp_path / "index")
    frame = spark.read.parquet(str(tmp_path / "docs.parquet"))
    engine.build_index(frame, idx)
    scorer = Scorer()
    scorer.add(docs)
    gone = docs.doc_id[:7]
    engine.delete_from_index(
        spark.createDataFrame([(str(i),) for i in gone.tolist()], "doc_id string"), idx
    )
    scorer.delete(gone)
    allowed = frame.where(F.col("lang") == "en").select(F.col("doc_id").cast("string"))
    for q in gen.query_stream(np.random.default_rng(6), 6) + [gen.Query("a b", "en")]:
        facet = allowed if q.lang else None
        rows = engine.search(spark, idx, q.text, allowed=facet).collect()
        want = scorer.scores(q.text, "en" if q.lang else None)
        assert check_top_k([(r["doc_id"], r["score"]) for r in rows], want) is None, q


def test_check_top_k_rejects_wrong_answers():
    want = {"1": 3.0, "2": 2.0, "3": 2.0, "4": 1.0}
    assert check_top_k([("1", 3.0), ("3", 2.0)], want, k=2) is None  # tie at rank 2
    assert check_top_k([("1", 3.0), ("4", 1.0)], want, k=2) is not None
    assert check_top_k([("1", 3.000002), ("2", 2.0)], want, k=2) is not None
    assert check_top_k([("1", 3.0)], want, k=2) is not None


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        h.update(str(pq.read_table(f"{path}/{name}").to_pydict()).encode())
    return h.hexdigest()


def test_generators_are_seeded(tmp_path):
    a = gen.corpus(np.random.default_rng(9), 50, 0, 20)
    b = gen.corpus(np.random.default_rng(9), 50, 0, 20)
    assert a.texts() == b.texts() and (a.lang == b.lang).all()
    assert gen.query_stream(np.random.default_rng(9), 20) == gen.query_stream(
        np.random.default_rng(9), 20
    )
    gen.write_tables(np.random.default_rng(9), str(tmp_path / "x"), 0.0005)
    gen.write_tables(np.random.default_rng(9), str(tmp_path / "y"), 0.0005)
    assert _digest(str(tmp_path / "x")) == _digest(str(tmp_path / "y"))
    gen.write_tables(np.random.default_rng(10), str(tmp_path / "z"), 0.0005)
    assert _digest(str(tmp_path / "x")) != _digest(str(tmp_path / "z"))


def test_failing_searches_are_counted_not_fatal(spark, tmp_path, monkeypatch):
    """An engine whose every search raises still ends the run: the steady
    loop is bounded by attempts and time, and each raise is a failure."""
    from big_data_assignment2_spark import engine
    from perfbench import workloads as W

    def broken(*a, **kw):
        raise RuntimeError("search is broken")

    monkeypatch.setattr(engine, "search", broken)
    monkeypatch.setattr(W, "BASE_DOCS", 300)
    monkeypatch.setattr(W, "BATCH_DOCS", 30)
    run = W.Run(os.getcwd(), str(tmp_path), seed=1, seconds=1, tracer=Tracer(False))
    W.index_churn(run)
    writes = 4  # build, append, delete, compact
    assert run.failed == run.attempted - writes >= W.MIN_STEADY
    assert run.e2e["setup_s"] > 0 and run.e2e["ops_per_s"] > 0


def test_failing_sweep_queries_are_counted_not_fatal(spark, tmp_path, monkeypatch):
    import types

    from big_data_assignment2_spark import registry
    from perfbench import workloads as W

    def broken(spark, sf_dir):
        raise RuntimeError("query is broken")

    query = types.SimpleNamespace(fn=broken, oracle="SELECT 1")
    monkeypatch.setattr(
        registry, "build_registry", lambda: types.SimpleNamespace(queries=dict.fromkeys(W.SLICE, query))
    )
    monkeypatch.setattr(W, "SWEEP_SF", 0.0005)
    run = W.Run(os.getcwd(), str(tmp_path), seed=1, seconds=0, tracer=Tracer(False))
    W.analytics_sweep(run)
    assert run.failed == run.attempted == len(W.SLICE) * (1 + W.MIN_PASSES)
    assert "query_geomean_ms" not in run.layer
