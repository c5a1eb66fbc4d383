"""The query front door (``python -m big_data_assignment2_spark.search``)
must answer the reference's three ``app/app.sh`` smoke queries over the
reference fixture corpus with exactly the in-process engine's results, in
the reference's ``rank\\tdoc_id\\ttitle\\tscore`` line format."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from big_data_assignment2_spark.sources.reference_corpus import (
    REFERENCE_DATA_DIR,
    SMOKE_QUERIES,
    reference_search,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_fixture = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DATA_DIR), reason="reference fixture not present"
)


def _cli(scratch: str, argv: list[str], stdin: str | None = None):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch, SPARK_GRAFT_CPUS="8")
    return subprocess.run(
        [sys.executable, "-m", "big_data_assignment2_spark.search", *argv],
        cwd=REPO,
        env=env,
        input=stdin,
        capture_output=True,
        text=True,
        timeout=300,
    )


def _run_cli(scratch: str, argv: list[str], stdin: str | None = None) -> list[str]:
    proc = _cli(scratch, argv, stdin)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return [l for l in proc.stdout.splitlines() if l.strip()]


@needs_fixture
def test_cli_answers_app_sh_smoke_queries(spark, tmp_path):
    scratch = str(tmp_path)  # index built by the first invocation, reused after
    queries = list(SMOKE_QUERIES.values())
    for i, q in enumerate(queries):
        # exercise both front doors: argv (search.sh "$*") and piped stdin
        lines = (
            _run_cli(scratch, q.split())
            if i % 2 == 0
            else _run_cli(scratch, [], stdin=q + "\n")
        )
        expected = [
            f"{r['rank']}\t{r['doc_id']}\t{r['title']}\t{r['score']}"
            for r in reference_search(spark, q).collect()
        ]
        assert lines == expected, f"query {q!r}"
        assert len(lines) == 10
        ranks = [int(l.split("\t")[0]) for l in lines]
        assert ranks == list(range(1, 11))


def test_cli_reuses_committed_index_and_rejects_legacy_dir(tmp_path):
    """The CLI builds only where no index exists. A committed index is
    reused as is (no rebuild from --corpus); a directory in the legacy
    in-place layout is neither searched nor silently replaced -- it exits
    non-zero with the rebuild message until --rebuild is passed. A crashed
    first build (data/ but no commit) is not a legacy layout: it builds."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    texts = {1: "spark builds an index", 2: "cassandra stores the index", 3: "spark spark"}
    for doc_id, text in texts.items():
        (corpus / f"{doc_id}_doc{doc_id}.txt").write_text(text)
    index_dir = tmp_path / "index"
    (index_dir / "meta").mkdir(parents=True)  # the legacy layout's tables
    (index_dir / "meta" / "part-0.parquet").write_text("legacy")
    argv = ["--corpus", str(corpus), "--index-dir", str(index_dir), "spark"]

    legacy = _cli(str(tmp_path), argv)
    assert legacy.returncode != 0
    assert "rebuild" in legacy.stderr and not legacy.stdout.strip()

    rebuilt = _cli(str(tmp_path), [*argv, "--rebuild"])
    assert rebuilt.returncode == 0, rebuilt.stderr[-2000:]
    assert "Building index" in rebuilt.stderr
    lines = [l.split("\t") for l in rebuilt.stdout.splitlines() if l.strip()]
    assert [(l[0], l[1]) for l in lines] == [("1", "3"), ("2", "1")]

    (corpus / "1_doc1.txt").unlink()  # a rebuild from --corpus would differ
    reused = _cli(str(tmp_path), argv)
    assert reused.returncode == 0, reused.stderr[-2000:]
    assert "Building index" not in reused.stderr
    assert reused.stdout == rebuilt.stdout

    crashed = tmp_path / "crashed"
    (crashed / "data" / "0" / "vocab").mkdir(parents=True)
    (crashed / "data" / "0" / "vocab" / "part-0.parquet").write_text("orphan")
    built = _cli(str(tmp_path), ["--corpus", str(corpus), "--index-dir", str(crashed), "spark"])
    assert built.returncode == 0, built.stderr[-2000:]
    assert "Building index" in built.stderr
    lines = [l.split("\t") for l in built.stdout.splitlines() if l.strip()]
    assert [(l[0], l[1]) for l in lines] == [("1", "3")]


def test_cli_empty_query_errors(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-m", "big_data_assignment2_spark.search"],
        cwd=REPO,
        env=env,
        input="",
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 1
    assert "No query provided." in proc.stdout


def test_pyds_writer_two_phase_commit_discipline(spark, sf_dir):
    """The textdirio writer must publish atomically: after save(), the
    directory holds exactly the manifest's files, the manifest matches
    the corpus size, and no _staging dir survives (commit cleans up on
    success; abort would on failure)."""
    import os

    from big_data_assignment2_spark.sources.doc_export import ensure_pyds_written

    out = ensure_pyds_written(spark, sf_dir)
    names = os.listdir(out)
    assert "_MANIFEST" in names
    assert not any(n.startswith("_staging") for n in names)
    txt = sorted(n for n in names if n.endswith(".txt"))
    manifest = sorted(open(f"{out}/_MANIFEST").read().splitlines())
    assert txt == manifest and len(txt) > 0
