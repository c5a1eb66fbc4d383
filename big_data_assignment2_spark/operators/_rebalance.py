"""Scale-adaptive fan-out of effectively-unsplittable small scans.

A parquet scan's parallelism floor is the ROW GROUP: Spark assigns file
splits by byte ranges, but a row group is consumed by exactly one task,
so a single-row-group file plans as ONE task no matter how many cores
the session has. The bench corpus is single-row-group files (0.6-11 MB),
which serializes every CPU-heavy narrow chain that follows the scan on
one core while the other N-1 idle.

The optimization-guide fix (section 2.5, "input skew: one huge
unsplittable file ... repartition immediately after the read") applied
scale-adaptively, decided from the input size alone:

* When the input's NATURAL split count (ceil(bytes / maxPartitionBytes))
  already reaches the session's default parallelism -- i.e. any
  production-sized table -- ``fan_out`` is a no-op and the plan is
  untouched: no extra Exchange at scale, ever.
* When the input is too small to split naturally, a round-robin
  ``repartition(defaultParallelism)`` costs one shuffle of the (tiny,
  already-projected) input and buys N-fold parallelism for the
  CPU-bound stage that follows.

Apply it AFTER projecting to the columns the heavy stage needs (guide
section 2.3: project before the exchange), and only where a
fresh-process A/B shows the win: most per-row text and embedding chains
measured neutral or slower with the extra exchange, and only the heaviest
map sides keep it (the 6-way profile Expand, the D^2/2 embedding
explode, the per-character entropy sort, the span-gram construction).

Correctness: round-robin repartitioning only changes row placement.
Every consumer in this package is already row-order-independent (decimal
/ integer accumulation, explicit tie-breaks) -- that is a standing
hash-certification requirement, not a new assumption. Spark's
sort-before-repartition (SPARK-23207, on by default) keeps task retries
deterministic.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame


def input_bytes(*paths: str) -> int | None:
    """Total on-disk size of *paths* (files or directories), or None when
    any path is not plainly local -- callers treat None as "unknown" and
    skip the fan-out (conservative: never shuffle what we cannot size)."""
    total = 0
    for p in paths:
        if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", p) and not p.startswith("file:"):
            return None
        p = p[len("file://") :] if p.startswith("file://") else p
        p = p[len("file:") :] if p.startswith("file:") else p
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        else:
            return None
    return total


def fan_out(df: DataFrame, nbytes: int | None) -> DataFrame:
    """Round-robin repartition *df* to the session's default parallelism
    IFF its source input (*nbytes* on disk) is too small to split
    naturally across the cores; identity otherwise (any at-scale input,
    or an unknown size)."""
    if nbytes is None:
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        return df
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    natural_splits = max(1, -(-nbytes // max_split))
    if natural_splits >= cores:
        return df
    return df.repartition(cores)


def fan_out_table(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """:func:`fan_out` keyed by a catalog table's on-disk file."""
    return fan_out(df, input_bytes(f"{sf_dir}/{table}.parquet"))
