"""The remaining user-defined-function surfaces: pandas UDAF + Python UDTF.

SURVEY.md section 2.7: the reference's "UDFs" are RDD lambdas and Hadoop
streaming scripts; this engine's core parity path uses zero Python UDFs.
The extension surface, however, should demonstrate every Spark UDF kind a
pipeline author might need. Elsewhere in the repo: scalar pandas UDFs
(``functions/hashing.py``), grouped ``applyInPandas``
(``operators/similarity.py``), ``mapInPandas`` (``operators/multimodal.py``)
and ``applyInPandasWithState`` (``streaming/events_stream.py``). Here:

- **GROUPED_AGG pandas UDF** (a real UDAF): per-group exact median via
  numpy over the Arrow batch. Partial aggregation is impossible for an
  exact median (it is not algebraic -- there is nothing to merge), so
  Spark ships each group's values to one task: fine for bounded group
  cardinality x group size; at 100 TB prefer approx_percentile (mergeable
  t-digest) or the window-rank form in ``percentiles_by_flag``.
- **Python UDTF** (table function): one row in, N rows out with real
  per-row logic. Registered for SQL and used via LATERAL join -- the
  Spark-native replacement for the reference's streaming-mapper pattern
  (one stdin line -> many stdout records, ``app/mapreduce/mapper2.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..registry import Registry
from ..sources.catalog import load_table
from ._rebalance import input_bytes


def _median_udafs():
    # created lazily: parsing the return type needs an active session
    @pandas_udf("double")
    def median_agg(v: pd.Series) -> float:
        # numpy's even-count interpolation ((a+b)/2) is the same
        # arithmetic DuckDB's median/quantile_cont performs, so the
        # oracle matches bit-for-bit after the shared round(6). dropna
        # mirrors SQL aggregate NULL-skipping (np.median would return
        # NaN on any null); an all-null group yields NULL like SQL
        # median, not NaN.
        vals = v.dropna().to_numpy()
        if len(vals) == 0:
            return None
        return float(np.median(vals))

    @pandas_udf("long")
    def count_agg(v: pd.Series) -> int:
        # count(*) semantics: rows, not non-null values
        return int(len(v))

    return median_agg, count_agg


def grouped_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact median of ``value`` via a GROUPED_AGG pandas
    UDF. Spark forbids mixing pandas and JVM aggregates in one agg, so
    the row count is a pandas aggregate too (both share one Arrow
    transfer of the group)."""
    median_agg, count_agg = _median_udafs()
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(median_agg("value"), 6).alias("median_value"),
        count_agg("value").alias("n"),
    )


SQL_GROUPED_MEDIAN = """
SELECT event_type, round(median(value), 6) AS median_value, count(*) AS n
FROM events GROUP BY event_type
"""


def bigrams_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL-join a Python UDTF against documents: positional bigrams.

    The UDTF class is defined inside this function on purpose: a
    module-level class is cloudpickled BY REFERENCE, which makes every
    executor's Python worker re-import this package -- broken whenever
    the driver process found the package via a runtime ``sys.path``
    edit rather than PYTHONPATH/cwd (workers inherit neither). A local
    class pickles by value and runs anywhere.
    """
    from pyspark.sql.functions import udtf

    class _BigramsUDTF:
        """Emit (position, bigram) rows per document -- a genuine
        one-row-in, N-rows-out table function with per-row Python logic
        (the Spark-native shape of the reference's streaming mapper,
        ``app/mapreduce/mapper2.py``: one stdin line -> many stdout
        records)."""

        def eval(self, doc_id, text: str):  # noqa: D102 - UDTF contract
            import re

            if text is None:
                return
            toks = re.findall(r"[a-z0-9]+", text.lower())
            for i in range(len(toks) - 1):
                yield (str(doc_id), i + 1, f"{toks[i]} {toks[i + 1]}")

    bigrams = udtf(_BigramsUDTF, returnType="doc_id string, pos bigint, bigram string")
    spark.udtf.register("doc_bigrams", bigrams)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("docs_v")
    return spark.sql(
        """
        SELECT b.doc_id, b.pos, b.bigram
        FROM docs_v, LATERAL doc_bigrams(doc_id, text) b
        """
    )


# Parallel unnests of equal length zip in DuckDB, pairing each position
# with its bigram.
SQL_BIGRAMS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       unnest(range(1, len(ts))) AS pos,
       unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS bigram
FROM toks
"""


def token_hist_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the Arrow-NATIVE UDF surface, completing the
    Python-boundary set (pandas_udf / applyInPandas / mapInPandas /
    applyInPandasWithState / UDTF / GROUPED_AGG / mapInArrow). Unlike the
    pandas variants there is no Arrow<->pandas conversion at all -- the
    closure receives ``pyarrow.RecordBatch`` and computes with pyarrow's
    C++ kernels (here ``count_substring_regex``), the cheapest possible
    Python boundary for kernel-expressible work at 100 TB.

    Counts non-whitespace runs per document (``\\S+`` -- RE2 on both
    sides: pyarrow here, DuckDB in the oracle), then a plain Column
    histogram over the counts. Narrow until the one histogram shuffle."""
    # not fanned out: the pyarrow kernel is cheap enough that the extra
    # exchange loses (interleaved A/B read 1.61x)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def count_batches(batches):
        import pyarrow as _pa
        import pyarrow.compute as _pc

        for batch in batches:
            n = _pc.count_substring_regex(batch.column("text"), pattern=r"\S+")
            yield _pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), _pc.cast(n, _pa.int64())],
                ["doc_id", "n_tokens"],
            )

    counted = docs.mapInArrow(count_batches, schema="doc_id long, n_tokens long")
    return counted.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_TOKEN_HIST = """
SELECT CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


COGROUP_DAY_S = 86_400


# Target input bytes per cogroup bucket: buckets = max(parallelism,
# input_bytes / this), so local[32] gets one fat Python call per core
# while at production sizes the group count scales with the data and no
# single pandas frame can grow corpus-sized.
COGROUP_BUCKET_BYTES = 8 << 20


def cogroup_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The **cogroup + applyInPandas** surface (the one pandas-API shape
    not used elsewhere in this repo): click events and purchase events are
    cogrouped -- each task receives matching rows from BOTH frames as two
    pandas DataFrames, with no join materializing the pairing -- and the
    function computes exact per-user day-set overlap (active click days,
    purchase days, common days). That two-sided custom merge is what
    cogroup exists for: medleys like interval-difference, ledger matching,
    or custom as-of logic where a relational join either explodes or
    contorts.

    The cogroup key is a deterministic hash BUCKET of the user id, not
    the user id itself (guide section 4: fewer, fatter Python calls).
    Keyed by user, the demo paid one applyInPandas invocation per user --
    1500 calls x ~3.5 ms of per-group Arrow framing + call overhead at
    sf0.1, which dwarfed the day-set math. Bucketed, each call receives
    one bucket's users from both sides and computes every user's overlap
    vectorized (drop_duplicates + groupby + merge); r13 interleaved A/B:
    **0.19x** (4.96 -> 0.96s), identical rows. The bucket count scales
    with input size (~``COGROUP_BUCKET_BYTES`` of events per bucket,
    never below the session's parallelism), so per-call state stays
    bounded at 100 TB.

    Shuffle shape: ONE hash exchange per side on the bucket (same
    volume a user_id exchange moved), then purely local pandas work per
    bucket. Determinism: outputs are set cardinalities (integers) over
    integer day numbers -- no float path and no bucket-count dependence,
    so the DuckDB twin (two aggregated sides full-outer-merged) matches
    exactly."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / COGROUP_DAY_S).cast("long").alias("day"),
        "event_type",
    )
    nbytes = input_bytes(f"{sf_dir}/events.parquet")
    buckets = max(
        spark.sparkContext.defaultParallelism,
        -(-(nbytes or 0) // COGROUP_BUCKET_BYTES),
    )
    b = F.pmod(F.xxhash64("user_id"), F.lit(buckets)).alias("b")
    clicks = ev.where(F.col("event_type") == "click").select(b, "user_id", "day")
    purch = ev.where(F.col("event_type") == "purchase").select(b, "user_id", "day")

    # defined INSIDE the operator so cloudpickle ships it by value
    def overlap(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        lc = left[["user_id", "day"]].drop_duplicates()
        pc = right[["user_id", "day"]].drop_duplicates()
        n_click = lc.groupby("user_id").size()
        n_purch = pc.groupby("user_id").size()
        n_common = (
            lc.merge(pc, on=["user_id", "day"]).groupby("user_id").size()
        )
        out = (
            pd.concat(
                [
                    n_click.rename("n_click_days"),
                    n_purch.rename("n_purchase_days"),
                    n_common.rename("n_common_days"),
                ],
                axis=1,
            )
            .fillna(0)
            .astype("int64")
        )
        out.index.name = "user_id"
        return out.reset_index()

    return (
        clicks.groupBy("b")
        .cogroup(purch.groupBy("b"))
        .applyInPandas(
            overlap,
            "user_id long, n_click_days long, n_purchase_days long, n_common_days long",
        )
    )


SQL_COGROUP_DAYS = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts) / {COGROUP_DAY_S}) AS BIGINT) AS day, event_type
  FROM events
),
c AS (SELECT user_id, count(DISTINCT day) AS n_click_days,
             list(DISTINCT day) AS cdays
      FROM ev WHERE event_type = 'click' GROUP BY 1),
p AS (SELECT user_id, count(DISTINCT day) AS n_purchase_days,
             list(DISTINCT day) AS pdays
      FROM ev WHERE event_type = 'purchase' GROUP BY 1)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       CAST(COALESCE(c.n_click_days, 0) AS BIGINT) AS n_click_days,
       CAST(COALESCE(p.n_purchase_days, 0) AS BIGINT) AS n_purchase_days,
       CAST(COALESCE(len(list_intersect(c.cdays, p.pdays)), 0) AS BIGINT) AS n_common_days
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


def register(reg: Registry) -> None:
    reg.add("token_hist_arrow", token_hist_arrow, SQL_TOKEN_HIST,
            "mapInArrow token-count histogram (Arrow-native kernels)")
    reg.add("grouped_median_udaf", grouped_median_udaf, SQL_GROUPED_MEDIAN,
            "GROUPED_AGG pandas UDAF (exact median)")
    reg.add("bigrams_udtf", bigrams_udtf, SQL_BIGRAMS,
            "Python UDTF via LATERAL join (positional bigrams)")
    reg.add("cogroup_user_days", cogroup_user_days, SQL_COGROUP_DAYS,
            "cogroup+applyInPandas two-sided merge (day-set overlap per user)")
