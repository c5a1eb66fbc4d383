"""The two workloads.  Each takes a :class:`Run` and fills in its results.

All timing is taken here, around calls into the package's public
functions; nothing inside ``big_data_assignment2_spark`` is modified.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from . import gen
from .oracle import Scorer, check_top_k
from .tracing import Counters, Span, Tracer


@dataclass
class Run:
    root: str  # checkout root
    work: str  # per-run temp dir
    seed: int
    seconds: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    spark: object = None
    counters: Counters | None = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    def start_session(self) -> float:
        from big_data_assignment2_spark import session

        with self.tracer.span("session.get_spark") as sp:
            self.spark = session.get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            self.counters = Counters(self.spark)
        self.layer["session.start_s"] = sp.seconds
        return sp.seconds


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_") or n.startswith("."):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# --- index_churn -------------------------------------------------------------

DOCS_SCHEMA = "doc_id bigint, title string, text string, lang string"  # gen.Docs.write_parquet
BASE_DOCS = 4_000
MEAN_LEN = 100
BATCH_DOCS = 400
CYCLES = 1
DELETE_FRAC = 0.01
WARMUP_SEARCHES = 2
MIN_STEADY = 3  # steady search attempts always made; per-search counters come from these
SEARCHES_AFTER_WRITE = 1
SEARCHES_AFTER_COMPACT = 1


def index_churn(run: Run) -> None:
    """Build a persisted index (set-up), then:

    1. steady: searches for ``--seconds`` (at least ``MIN_STEADY`` attempts);
    2. churn: ``CYCLES`` x (append a batch, search, delete 1% of live
       ids, search);
    3. compact, then search again.

    Every search is checked against the independent scorer.  Phases 2-3
    are a fixed sequence; per-search counters come from the first
    ``MIN_STEADY`` steady searches, so traced counts repeat exactly."""
    from pyspark.sql import functions as F

    from big_data_assignment2_spark import engine

    rng = np.random.default_rng(run.seed)
    base = gen.corpus(rng, BASE_DOCS, 0, MEAN_LEN)
    batches = [
        gen.corpus(rng, BATCH_DOCS, BASE_DOCS + c * BATCH_DOCS, MEAN_LEN) for c in range(CYCLES)
    ]
    # steady searches draw from their own stream, so the fixed phases see
    # the same queries however many steady searches fit in the time
    steady_queries = itertools.cycle(gen.query_stream(np.random.default_rng([run.seed, 1]), 200))
    fixed_queries = iter(
        gen.query_stream(
            np.random.default_rng([run.seed, 2]),
            WARMUP_SEARCHES + CYCLES * 2 * SEARCHES_AFTER_WRITE + SEARCHES_AFTER_COMPACT,
        )
    )
    base_path = f"{run.work}/base.parquet"
    text_bytes = base.write_parquet(base_path)
    batch_paths = []
    for c, b in enumerate(batches):
        batch_paths.append(f"{run.work}/batch{c}.parquet")
        text_bytes += b.write_parquet(batch_paths[-1])
    facet_path = f"{run.work}/facets.parquet"
    _write_facets(facet_path, [base, *batches])
    scorer = Scorer()
    scorer.add(base)
    idx = f"{run.work}/index"

    setup_s = run.start_session()
    spark, tr, cn = run.spark, run.tracer, run.counters

    def write_op(name: str, fn) -> Span | None:
        """One timed write through the engine; a raise is a counted failure
        (and returns None), so a broken engine still yields a result line."""
        run.attempted += 1
        try:
            with tr.span(f"engine.{name}", cn) as sp:
                fn()
        except Exception as e:  # noqa: BLE001
            run.fail(f"{name}: {type(e).__name__}: {e}")
            return None
        return sp

    def read_docs(path: str):
        return spark.read.schema(DOCS_SCHEMA).parquet(path)

    sp = write_op("build_index", lambda: engine.build_index(read_docs(base_path), idx))
    if sp is None:
        run.e2e["setup_s"] = setup_s
        return
    setup_s += sp.seconds
    run.layer["build_index.s"] = sp.seconds
    if run.traced:
        for k in ("jobs", "tasks", "shuffle_write_bytes", "files_written", "bytes_written"):
            run.layer[f"build_index.{k}"] = sp.counts[k]
    run.layer["build_docs_per_s"] = BASE_DOCS / sp.seconds
    # built after the index: on a cold JVM these few DataFrames cost seconds
    facets_df = spark.read.schema("doc_id string, lang string").parquet(facet_path)
    allowed = {
        lang: facets_df.where(F.col("lang") == lang).select("doc_id") for lang in gen.LANGS.tolist()
    }

    load_ms: list[float] = []
    real_load_index = engine.load_index
    if run.traced:

        def timed_load_index(*a, **kw):
            t = time.perf_counter()
            try:
                return real_load_index(*a, **kw)
            finally:
                load_ms.append((time.perf_counter() - t) * 1e3)

        engine.load_index = timed_load_index

    lat: dict[str, list[float]] = {"steady": [], "churn": [], "compacted": []}
    search_spans: dict[str, list] = {"steady": [], "churn": [], "compacted": []}
    fixed_op_s: list[float] = []  # every op of phases 2-3

    def search(phase: str | None) -> None:
        q = next(steady_queries if phase == "steady" else fixed_queries)
        facet = allowed[q.lang] if q.lang else None
        run.attempted += 1
        try:
            with tr.span("engine.search", cn) as sp:
                if run.traced:
                    mark = cn.mark()
                    with tr.span("search.define") as d:
                        df = engine.search(spark, idx, q.text, allowed=facet)
                    d.counts["jobs"] = cn.jobs_since(mark)
                    with tr.span("search.plan") as p:
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("search.exec") as x:
                        rows = df.collect()
                else:
                    rows = engine.search(spark, idx, q.text, allowed=facet).collect()
        except Exception as e:  # noqa: BLE001 - a failed search is a counted failure
            run.fail(f"search {q.text!r}: {type(e).__name__}: {e}")
            return
        bad = check_top_k([(r["doc_id"], r["score"]) for r in rows], scorer.scores(q.text, q.lang))
        if bad:
            run.fail(f"search {q.text!r} lang={q.lang}: {bad}")
        if phase is None:
            return
        lat[phase].append(sp.seconds * 1e3)
        if phase != "steady":
            fixed_op_s.append(sp.seconds)
        if run.traced:
            search_spans[phase].append((sp, d, p, x, len(rows)))

    for _ in range(WARMUP_SEARCHES):
        with tr.span("warmup") as sp:
            search(None)
        setup_s += sp.seconds
    load_ms.clear()

    start = time.perf_counter()
    steady_attempts = 0  # attempts, not successes: a failing engine still ends the loop
    while steady_attempts < MIN_STEADY or time.perf_counter() - start < run.seconds:
        steady_attempts += 1
        search("steady")
    steady_load_ms = load_ms[:MIN_STEADY]

    append_s, delete_s = [], []
    for c, b in enumerate(batches):
        sp = write_op(
            "append_to_index",
            lambda: engine.append_to_index(read_docs(batch_paths[c]), idx, batch_id=c),
        )
        if sp is not None:
            scorer.add(b)
            append_s.append(sp)
            fixed_op_s.append(sp.seconds)
        for _ in range(SEARCHES_AFTER_WRITE):
            search("churn")
        live = scorer.live_ids()
        victims = rng.choice(live, size=max(1, int(len(live) * DELETE_FRAC)), replace=False)
        ids_df = spark.createDataFrame([(str(v),) for v in victims.tolist()], "doc_id string")
        sp = write_op("delete_from_index", lambda: engine.delete_from_index(ids_df, idx))
        if sp is not None:
            scorer.delete(victims)
            delete_s.append(sp)
            fixed_op_s.append(sp.seconds)
        for _ in range(SEARCHES_AFTER_WRITE):
            search("churn")

    files, size = _dir_size(idx)
    run.layer["index.files"] = files
    run.layer["index.bytes"] = size
    run.layer["space_amp"] = size / text_bytes
    if run.traced:
        with tr.span("engine.index_stats"):
            stats = engine.index_stats(spark, idx).first()
        run.layer["index.dead_postings_frac"] = float(stats["dead_fraction"])

    sp = write_op("compact_index", lambda: engine.compact_index(spark, idx))
    if sp is not None:
        fixed_op_s.append(sp.seconds)
        run.layer["compact_index.s"] = sp.seconds
    if run.traced and sp is not None:
        run.layer["compact_index.jobs"] = sp.counts["jobs"]
        run.layer["compact_index.bytes_rewritten"] = sp.counts["bytes_written"]
    for _ in range(SEARCHES_AFTER_COMPACT):
        search("compacted")
    engine.load_index = real_load_index

    run.e2e["setup_s"] = setup_s
    # every measured search, churn phases included: their number is fixed
    run.e2e["op_p50_ms"] = _median(x for v in lat.values() for x in v)
    op_s = sum(lat["steady"]) / 1e3 + sum(fixed_op_s)
    run.e2e["ops_per_s"] = (len(lat["steady"]) + len(fixed_op_s)) / op_s if op_s else 0.0
    run.layer["append_to_index.ms"] = _median(s.seconds * 1e3 for s in append_s)
    if append_s:
        run.layer["append_docs_per_s"] = BATCH_DOCS / _median(s.seconds for s in append_s)
    run.layer["delete_from_index.ms"] = _median(s.seconds * 1e3 for s in delete_s)
    for phase in lat:
        run.layer[f"search.{phase}_p50_ms"] = _median(lat[phase])
    if not run.traced:
        return
    for s_list, name, keys in (
        (append_s, "append_to_index", ("jobs", "files_written", "bytes_written")),
        (delete_s, "delete_from_index", ("jobs", "bytes_read")),
    ):
        for k in keys:
            run.layer[f"{name}.{k}"] = _median(s.counts[k] for s in s_list)
    steady = search_spans["steady"][:MIN_STEADY]
    run.layer["load_index.ms"] = _median(steady_load_ms)
    run.layer["search.define_ms"] = _median(d.seconds * 1e3 for _, d, _, _, _ in steady)
    run.layer["search.define_jobs"] = _median(d.counts["jobs"] for _, d, _, _, _ in steady)
    run.layer["search.plan_ms"] = _median(p.seconds * 1e3 for _, _, p, _, _ in steady)
    run.layer["search.exec_ms"] = _median(x.seconds * 1e3 for _, _, _, x, _ in steady)
    for k in ("jobs", "stages", "tasks", "files_read", "bytes_read", "rows_scanned"):
        run.layer[f"search.{k}"] = _median(sp.counts[k] for sp, *_ in steady)
    run.layer["search.rows_scanned_per_result"] = _median(
        sp.counts["rows_scanned"] / max(1, n) for sp, *_, n in steady
    )
    run.layer["search.churn_files_read"] = _median(
        sp.counts["files_read"] for sp, *_ in search_spans["churn"]
    )
    run.layer["cli_search_s"] = _cli_search(run, idx, scorer)


def _write_facets(path: str, parts: list[gen.Docs]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.concatenate([p.doc_id for p in parts]).astype(str)
    langs = np.concatenate([p.lang for p in parts])
    pq.write_table(pa.table({"doc_id": ids.tolist(), "lang": langs.tolist()}), path)


def _cli_search(run: Run, idx: str, scorer: Scorer) -> float:
    """One cold ``python -m big_data_assignment2_spark.search`` process,
    start to printed top-10; its output is checked like any search."""
    q = "a b " + gen.WORDS[500]
    cmd = [sys.executable, "-m", "big_data_assignment2_spark.search", "--index-dir", idx, q]
    run.attempted += 1
    with run.tracer.span("cli.search") as sp:
        out = subprocess.run(
            cmd, cwd=run.root, capture_output=True, text=True, timeout=150, check=False
        )
    rows = [line.split("\t") for line in out.stdout.splitlines() if line.count("\t") == 3]
    bad = (
        f"exit {out.returncode}"
        if out.returncode
        else check_top_k([(r[1], float(r[3])) for r in rows], scorer.scores(q))
    )
    if bad:
        run.fail(f"cli search {q!r}: {bad}")
    return sp.seconds


# --- analytics_sweep ---------------------------------------------------------

SWEEP_SF = 0.1  # the scale of the registry's reference data set
MIN_PASSES = 2
SLICE = (
    "gapfill_linear",
    "dpp_pruned_join",
    "span_exact_dedup_fast",
    "cogroup_user_days",
)


class _Collected:
    """A query result already pulled to pandas, shaped for
    ``tests._compare.compare`` (which only calls ``toPandas``)."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self._pdf


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def analytics_sweep(run: Run) -> None:
    """Warm passes over a fixed slice of registry queries on generated
    tables; the first pass (which builds the memoized fixtures) is set-up
    and is the pass whose outputs are compared with the DuckDB oracles."""
    from big_data_assignment2_spark.registry import build_registry
    from tests._compare import compare, duck_connection

    sf_dir = f"{run.work}/tables"
    gen.write_tables(np.random.default_rng(run.seed), sf_dir, SWEEP_SF)
    reg = build_registry().queries
    setup_s = run.start_session()
    spark, tr, cn = run.spark, run.tracer, run.counters
    con = duck_connection(sf_dir)

    for name in SLICE:
        run.attempted += 1
        try:
            with tr.span(f"fixture.{name}") as sp:
                pdf = reg[name].fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
            run.fail(f"{name}: {type(e).__name__}: {e}")
            continue
        setup_s += sp.seconds
        bad = compare(_Collected(pdf), con, reg[name].oracle)
        if bad:
            run.fail(f"{name}: {bad}")
    con.close()

    per_query: dict[str, list[float]] = {n: [] for n in SLICE}
    layer: dict[str, list[dict]] = {n: [] for n in SLICE}
    passes: list[float] = []
    # whole passes: at least MIN_PASSES, then more until --seconds is spent
    start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - start < run.seconds:
        total = 0.0
        for name in SLICE:
            run.attempted += 1
            try:
                with tr.span(f"sweep.{name}", cn) as q:
                    if run.traced:
                        mark = cn.mark()
                    with tr.span("define") as d:
                        df = reg[name].fn(spark, sf_dir)
                    if run.traced:
                        d.counts["jobs"] = cn.jobs_since(mark)
                        with tr.span("plan") as p:
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec") as x:
                        _noop(df)
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                run.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            per_query[name].append(q.seconds)
            total += q.seconds
            if run.traced:
                layer[name].append({"query": q, "define": d, "plan": p, "exec": x})
        passes.append(total)

    times_ms = [_median(v) * 1e3 for v in per_query.values() if v]
    run.e2e["setup_s"] = setup_s
    run.e2e["op_p50_ms"] = _median(times_ms)
    n_ops = sum(len(v) for v in per_query.values())
    run.e2e["ops_per_s"] = n_ops / sum(passes) if n_ops else 0.0
    run.layer["sweep_s"] = _median(passes)
    if times_ms:
        run.layer["query_geomean_ms"] = math.exp(statistics.fmean(map(math.log, times_ms)))
    if not run.traced:
        return
    totals = dict.fromkeys(
        ("plan_s", "jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
        0.0,
    )
    for name, reps in layer.items():
        if not reps:
            continue
        run.layer[f"sweep.{name}.define_s"] = _median(r["define"].seconds for r in reps)
        run.layer[f"sweep.{name}.exec_s"] = _median(r["exec"].seconds for r in reps)
        run.layer[f"sweep.{name}.define_jobs"] = reps[0]["define"].counts["jobs"]
        totals["plan_s"] += _median(r["plan"].seconds for r in reps)
        for k in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            totals[k] += reps[0]["query"].counts[k]
    for k, v in totals.items():
        run.layer[f"sweep.{k}"] = v


WORKLOADS = {"index_churn": index_churn, "analytics_sweep": analytics_sweep}
