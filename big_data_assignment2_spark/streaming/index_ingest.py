"""Streaming ingestion into the persisted BM25 index: Structured
Streaming's ``foreachBatch`` driving ``engine.append_to_index`` per
micro-batch -- the growing-corpus deployment story (a kafka/file-drop fed
index that never full-rebuilds), composed from two verified halves:

- the file-source streaming surface (``streaming/events_stream.py``), and
- the incremental-append maintenance path (``engine.py``), whose vocab
  df-delta merges are exact integer adds -- so the final index state is a
  pure function of the ingested set, independent of how the stream chops
  it into batches. That is what makes this oracle-able: search after N
  appends must hash-equal one-shot BM25 over the full corpus.

The reference has no streaming surface and can only rebuild its index
from scratch (``app/index.sh`` re-runs both MapReduce jobs).

Exactly-once: ``foreachBatch`` redelivers a batch after a mid-batch
failure, so each append is keyed by the sink-side ``batch_id`` Spark
hands the callback. Each append publishes one index commit that records
its batch id, so ``engine.append_to_index(batch_df, index_dir,
batch_id=batch_id)`` is a no-op for a batch already committed, and a
delivery that failed before its commit left nothing to undo.
``tests/test_engine.py`` redelivers committed and failed batches and
asserts the index state.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Registry

INGEST_FILES = 4  # stage the streamed half as 4 files -> 4 real micro-batches


def streaming_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the index on half the corpus (even doc_ids), stream the odd
    half through a 4-file parquet drop zone with ``maxFilesPerTrigger=1``
    (4 genuine micro-batches), ``append_to_index`` per batch, then
    search. The oracle is one-shot full-corpus BM25."""
    from .. import engine
    from ..operators import index_build
    from ..operators._util import scratch_root
    from ..operators.search import DEFAULT_QUERY

    root = f"{scratch_root()}/stream_ingest_{uuid.uuid4().hex[:8]}"
    index_dir = f"{root}/index"
    docs = index_build.documents_with_title(spark, sf_dir)

    # Each micro-batch append runs several SMALL Spark jobs (postings/
    # forward/doc_stats writes, vocab merge, batch counts) over one
    # batch's worth of docs -- at the default 32 shuffle partitions the
    # fixed per-task overhead dominates every one of them. Pin the
    # shuffle width down for the ingestion the way _run_to_table pins
    # state partitions, and restore the caller's value; a production
    # deployment sizes it to batch volume instead.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # pmod + try_cast + null-coalesce so EVERY doc lands in exactly
        # one half: Spark's % keeps the dividend's sign (-3 % 2 == -1,
        # matching neither == 0 nor == 1), ANSI cast THROWS on a
        # non-numeric doc_id, and a NULL pmod fails both sides of a
        # %-based split -- such docs would be indexed nowhere while the
        # full-corpus oracle scores them
        even = F.coalesce(
            F.pmod(F.col("doc_id").try_cast("long"), F.lit(2)) == F.lit(0),
            F.lit(False),
        )
        engine.build_index(docs.where(even), index_dir)
        stage = f"{root}/incoming"
        docs.where(~even).repartition(INGEST_FILES).write.parquet(stage)

        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )

        def _append(batch_df: DataFrame, batch_id: int) -> None:
            # batch_id-keyed: a redelivered batch is a no-op (see
            # engine.append_to_index's idempotency contract)
            engine.append_to_index(batch_df, index_dir, batch_id=batch_id)

        q = (
            stream.writeStream.foreachBatch(_append)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(300)
        finally:
            q.stop()
        if not finished:
            # an unfinished stream committed only some batches -- fail
            # loudly, never search a half-ingested index
            raise RuntimeError("streaming_index_append did not finish within 300s")
        # localize the (top-10) result so the uuid scratch root can be
        # deleted before returning -- the sibling uuid-rooted streaming
        # ops clean up the same way; without this every invocation leaks
        # a full index + a parquet copy of half the corpus
        res = engine.search(spark, index_dir, DEFAULT_QUERY)
        local = spark.createDataFrame(res.collect(), res.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    return local


def register(reg: Registry) -> None:
    from ..operators.search import sql_bm25

    reg.add(
        "streaming_index_append",
        streaming_index_append,
        sql_bm25(),
        "streaming foreachBatch ingestion into the persisted index, "
        "batch-count-independent (equals one-shot full-corpus BM25)",
    )
