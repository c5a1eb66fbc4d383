"""Shared helpers for oracle-deterministic results.

Floating-point sums are order-dependent; Spark and DuckDB will not add
partitions in the same order, so a raw ``SUM(double)`` can differ in late
digits between engines (and between runs). ``dsum`` routes the sum through
an exact ``DECIMAL(18,s)``: the per-row double -> decimal rounding is
deterministic (ties are impossible for scale >= 1 because x.5*10^-s is not
a dyadic rational), the decimal addition is exact and order-independent,
and the final cast back to double is deterministic. The DuckDB twin does
the identical conversion, so the values match bit-for-bit.

Timestamps are filtered/emitted as epoch seconds so a non-UTC session
timezone in the caller's SparkSession cannot shift instants relative to
the tz-naive DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def dsum(expr: Column, scale: int = 2) -> Column:
    """Order-independent double sum via exact decimal accumulation."""
    return F.sum(expr.cast(f"decimal(18,{scale})")).cast("double")


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def davg(expr: Column, scale: int = 6) -> Column:
    """Deterministic average: exact decimal sum, double division by count."""
    return dsum(expr, scale) / F.count(F.lit(1))


def sql_davg(expr: str, scale: int = 6) -> str:
    return f"({sql_dsum(expr, scale)} / count(*))"


def epoch(col: Column | str) -> Column:
    """Timezone-independent epoch seconds of a timestamp column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_timestamp(c)


def ntz_lit(iso: str) -> Column:
    """``TIMESTAMP_NTZ`` literal from ISO text. Comparisons between an NTZ
    parquet column and an NTZ literal are wall-clock (no session timezone
    involved) AND push down to the parquet scan as row-group filters --
    wrapping the column in ``unix_timestamp()`` would block pushdown, which
    at 100 TB is the difference between skipping and scanning the table."""
    c = F.lit(iso)
    return c.cast("timestamp_ntz")


def sql_ts(iso: str) -> str:
    """DuckDB twin of :func:`ntz_lit` (DuckDB TIMESTAMP is tz-naive)."""
    return f"TIMESTAMP '{iso}'"


def scratch_root() -> str:
    """Writable scratch directory for persisted-index fixtures:
    ``$SPARK_GRAFT_SCRATCH`` if set, else ``.scratch/`` under the repo
    checkout containing this package (portable across install locations)."""
    import os
    from pathlib import Path

    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    return str(Path(__file__).resolve().parents[2] / ".scratch")


def scratch_slug(path: str) -> str:
    """Canonical filesystem-safe slug of a source path, shared by every
    scratch-dir consumer (persisted BM25/ANN indexes, doc export,
    partitioned sink, CLI): all callers MUST derive the same directory
    for the same corpus, so this lives in exactly one place."""
    import re

    return re.sub(r"[^A-Za-z0-9.]+", "_", path.strip("/"))


def epoch_lit(iso_utc: str) -> int:
    """Epoch seconds of an ISO ``YYYY-MM-DD[ HH:MM:SS]`` instant read as UTC."""
    from datetime import datetime, timezone

    fmt = "%Y-%m-%d %H:%M:%S" if " " in iso_utc else "%Y-%m-%d"
    return int(datetime.strptime(iso_utc, fmt).replace(tzinfo=timezone.utc).timestamp())


def enc_fw(c: Column, nbytes: int = 8) -> Column:
    """Order-preserving fixed-width surrogate for a string column: the
    first *nbytes* UTF-8 bytes, zero-padded, packed big-endian into a
    BIGINT. A prefix map is monotone under bytewise order (how both Spark
    and DuckDB compare strings), so min/max/min_by/max_by over the
    surrogate equal the surrogate of the true min/max -- while keeping
    the aggregation buffer a mutable fixed-width type, i.e. inside
    HashAggregate instead of demoting the agg to a per-partition
    SortAggregate (the plan-gate scale-killer).

    nbytes=7 is safe for arbitrary strings (56 bits, always positive);
    nbytes=8 additionally requires an ASCII first byte (top bit clear) so
    the packed value stays inside the signed 64-bit range -- right for
    enum/code columns, asserted nowhere so CALLERS must know their data.
    """
    return F.conv(
        F.substring(
            F.rpad(F.hex(F.encode(c, "UTF-8")), 2 * nbytes, "0"), 1, 2 * nbytes
        ),
        16,
        10,
    ).cast("long")


def enc_fw_checked(c: Column, nbytes: int = 8) -> Column:
    """:func:`enc_fw` with its preconditions enforced per row: values must
    fit *nbytes* bytes (so ``dec_fw`` is an exact round-trip, not a silent
    prefix truncation) and, for nbytes=8, start with an ASCII byte (top
    bit clear keeps the packed value inside signed 64-bit). Violations
    ``raise_error`` instead of silently corrupting downstream equality
    filters -- the guard is one predicted-perfectly branch per row on an
    enum column, measured free inside codegen. NULLs pass through as NULL
    (same as enc_fw)."""
    ok = F.octet_length(c) <= F.lit(nbytes)
    if nbytes >= 8:
        # F.ascii = code point of the first CHARACTER; < 128 iff the first
        # UTF-8 BYTE has its top bit clear
        ok = ok & (F.ascii(c) < 128)
    return F.when(c.isNull() | ok, enc_fw(c, nbytes)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"enc_fw(nbytes={nbytes}) precondition violated by value: "), c
            )
        )
    )


def dec_fw(m: Column, nbytes: int = 8) -> Column:
    """Inverse of :func:`enc_fw` back to the (<= *nbytes*-byte) prefix
    string; exact round-trip for values at most *nbytes* bytes long."""
    return F.regexp_replace(
        F.unhex(F.lpad(F.hex(m), 2 * nbytes, "0")).cast("string"), "\x00+$", ""
    )


def _fs_and_path(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for *path* (works for local and HDFS/object
    stores alike -- the maintenance ops must not assume a local disk)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _replace_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Swap a fully-written *src* directory into place at *dst*.

    Write-to-temp-then-swap is how every rewrite of a table we are also
    reading from happens here: Spark reads lazily, so ``mode("overwrite")``
    onto a path in the plan's lineage would delete the input mid-job.
    Materialize to ``<table>.tmp`` first (the write action completes before
    the swap), then delete + rename -- both metadata ops.

    A failed rename is re-checked before raising: another process that
    observes this swap mid-window (dst deleted, tmp not yet renamed) may
    complete it with the SAME rename. Whichever process loses that race sees
    ``fs.rename() == false`` with the destination already in place and the
    source gone -- the swap it wanted is complete, so that outcome is
    success, not an error. Only a rename failure where the swap is NOT
    complete (src still present, or dst still missing) raises."""
    fs, dst_path = _fs_and_path(spark, dst)
    _, src_path = _fs_and_path(spark, src)
    if fs.exists(dst_path):
        fs.delete(dst_path, True)
    try:
        renamed = fs.rename(src_path, dst_path)
        cause = None
    except Exception as exc:  # noqa: BLE001 -- RawLocalFileSystem raises
        # FileNotFoundException (not false) when src is already gone
        renamed, cause = False, exc
    if not renamed:
        if fs.exists(dst_path) and not fs.exists(src_path):
            return  # a concurrent process completed this exact swap
        # chain the original failure: an AccessControlException /
        # safe-mode / quota error must stay distinguishable from the
        # benign consumed-src race above
        raise IOError(f"failed to move {src} into place at {dst}") from cause
