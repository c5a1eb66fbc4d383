"""Hive-style partitioned parquet sink + pruned read-back.

At 100 TB the table LAYOUT is the first optimization: writing facts
partitioned by a low-cardinality, filter-frequent column (here
``event_type``; in production usually also a date) turns every
``WHERE event_type = X`` into a directory prune -- the scan never opens
the other partitions' files, which beats any row-group filter.

The registered query round-trips: write events partitioned by
``event_type`` into a scratch warehouse once per process, read it back
with a partition filter + aggregate. Its oracle is the same aggregate
over the ORIGINAL table, so the round-trip (write -> discover ->
prune -> read) is value-hash-verified. ``tests/test_plans.py`` asserts
the pruned scan shape (PartitionFilters, single partition read).

The write side demonstrates the scale-correct knobs:
- ``partitionBy``: directory layout == the pruning predicate.
- ``repartition(col)`` before the write: one shuffle so each output
  partition directory is written by as few tasks as possible (avoids the
  tiny-files problem -- N_tasks x N_partitions files otherwise).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._util import dsum, sql_davg, sql_dsum
from ..registry import Registry
from ..sources.catalog import load_table

_WRITTEN: dict[str, str] = {}


def write_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Write events partitioned by event_type; memoized per sf_dir."""
    if sf_dir not in _WRITTEN:
        from ..operators._util import scratch_root, scratch_slug

        out = f"{scratch_root()}/events_by_type_{scratch_slug(sf_dir)}"
        (
            load_table(spark, sf_dir, "events")
            # one writer task per partition value: no small-files explosion
            .repartition(F.col("event_type"))
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
        _WRITTEN[sf_dir] = out
    return _WRITTEN[sf_dir]


def read_events_pruned(spark: SparkSession, sf_dir: str, event_type: str = "purchase") -> DataFrame:
    """Read back with a partition filter: only the one directory is
    scanned (PartitionFilters in the plan, not PushedFilters)."""
    path = write_events_partitioned(spark, sf_dir)
    return spark.read.parquet(path).where(F.col("event_type") == event_type)


def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: partitioned write, pruned read, per-user aggregate of
    the selected event type."""
    ev = read_events_pruned(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 6).alias("sum_value"),
    )


SQL_PARTITIONED_ROUNDTRIP = f"""
SELECT user_id, count(*) AS n_events, {sql_dsum('value', 6)} AS sum_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


RANGE_FILES = 8  # range-cluster lineitem into 8 shipdate-ordered files


_RANGE_WRITTEN: dict[str, str] = {}


def write_lineitem_range_clustered(spark: SparkSession, sf_dir: str) -> str:
    """Range-clustered layout: ``repartitionByRange`` on ``l_shipdate`` +
    ``sortWithinPartitions`` before the write, so each output file covers
    a DISJOINT shipdate interval (asserted from the parquet footers in
    tests/test_bucketing.py). The complement of hive partitioning for
    high-cardinality ordering keys: no directory explosion, and any
    shipdate range predicate prunes to the few files whose min/max
    overlap it via plain parquet statistics -- at 100 TB, time-range
    scans touch days, not the table. (Boundaries come from Spark's range
    sampling; results never depend on where they land.)"""
    if sf_dir not in _RANGE_WRITTEN:
        from ..operators._util import scratch_root, scratch_slug

        out = f"{scratch_root()}/lineitem_by_shipdate_{scratch_slug(sf_dir)}"
        (
            load_table(spark, sf_dir, "lineitem")
            .repartitionByRange(RANGE_FILES, F.col("l_shipdate"))
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(out)
        )
        _RANGE_WRITTEN[sf_dir] = out
    return _RANGE_WRITTEN[sf_dir]


RANGE_LO, RANGE_HI = "1995-01-01", "1996-01-01"


def range_clustered_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the range-clustered layout: write once per
    process, read back with a shipdate range predicate (NTZ literal
    comparisons so the filter reaches the scan and prunes via file/row-
    group min-max stats), aggregate. Oracle = the same aggregate over the
    ORIGINAL table, value-hash-verifying the layout loses nothing."""
    from ..operators._util import ntz_lit

    path = write_lineitem_range_clustered(spark, sf_dir)
    li = spark.read.parquet(path).where(
        (F.col("l_shipdate") >= ntz_lit(RANGE_LO))
        & (F.col("l_shipdate") < ntz_lit(RANGE_HI))
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
    )


SQL_RANGE_ROUNDTRIP = f"""
SELECT l_returnflag, count(*) AS n_rows, {sql_dsum('l_extendedprice', 2)} AS sum_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{RANGE_LO}' AND l_shipdate < TIMESTAMP '{RANGE_HI}'
GROUP BY l_returnflag
"""


ZORDER_FILES = 32
ZBITS = 16

_ZORDER_WRITTEN: dict[str, str] = {}

# (pmin, pmax, smin, smax) of lineitem's (l_partkey, l_suppkey), memoized
# per (process, sf_dir): the zorder/hilbert writers AND their registered
# box predicates all need the identical 4-value bounds, and re-running the
# full-table min/max agg on every query invocation paid a redundant
# lineitem scan per call (warm bench reps included).
_PK_SK_BOUNDS: dict[str, tuple[int, int, int, int]] = {}


def _pk_sk_bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int, int, int]:
    if sf_dir not in _PK_SK_BOUNDS:
        b = (
            load_table(spark, sf_dir, "lineitem")
            .agg(
                F.min("l_partkey"),
                F.max("l_partkey"),
                F.min("l_suppkey"),
                F.max("l_suppkey"),
            )
            .collect()[0]
        )
        _PK_SK_BOUNDS[sf_dir] = tuple(int(v) for v in b)
    return _PK_SK_BOUNDS[sf_dir]


def _zvalue(sx, sy):
    """Interleave the low ZBITS bits of two normalized long columns:
    z = ...y1 x1 y0 x0. Pure bitwise Column arithmetic (whole-stage
    codegen; no UDF)."""
    z = F.lit(0).cast("long")
    for i in range(ZBITS):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(sx, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(sy, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def write_lineitem_zordered(spark: SparkSession, sf_dir: str) -> str:
    """Z-order (Morton-curve) clustered layout on ``(l_partkey,
    l_suppkey)``: both keys are min-max scaled to 16 bits, bit-interleaved
    into a single z-value, and the table is range-clustered on that value
    (``repartitionByRange`` + ``sortWithinPartitions`` -- same write shape
    as the 1-D shipdate clustering above).

    Why it matters at 100 TB: 1-D clustering gives min/max pruning on ONE
    column; sorting on partkey leaves every file spanning the full suppkey
    range. The Morton curve bounds BOTH coordinates within each z-range,
    so every file covers a small (partkey x suppkey) box and a 2-D box
    predicate prunes on plain parquet min/max stats in both dimensions --
    the OPTIMIZE ZORDER BY pattern of the lakehouse engines, in ~15 lines
    of Column algebra. tests/test_bucketing.py asserts per-file boxes are
    genuinely 2-D-local (both spans bounded), which 1-D clustering cannot
    produce. The z-value is layout-only -- results never depend on it."""
    if sf_dir not in _ZORDER_WRITTEN:
        from ..operators._util import scratch_root, scratch_slug

        out = f"{scratch_root()}/lineitem_zorder_{scratch_slug(sf_dir)}"
        li = load_table(spark, sf_dir, "lineitem")
        pmin, pmax, smin, smax = _pk_sk_bounds(spark, sf_dir)
        scale = (1 << ZBITS) - 1
        sx = (
            (F.col("l_partkey") - pmin) * scale / F.lit(max(pmax - pmin, 1))
        ).cast("long")
        sy = (
            (F.col("l_suppkey") - smin) * scale / F.lit(max(smax - smin, 1))
        ).cast("long")
        (
            li.withColumn("_z", _zvalue(sx, sy))
            .repartitionByRange(ZORDER_FILES, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(out)
        )
        _ZORDER_WRITTEN[sf_dir] = out
    return _ZORDER_WRITTEN[sf_dir]


def _zorder_box(spark: SparkSession, sf_dir: str) -> tuple[int, int, int, int]:
    """The registered 2-D box predicate: the [1/4, 1/2) sub-range of each
    key's span, integer arithmetic so both engines draw identical
    boundaries."""
    pmin, pmax, smin, smax = _pk_sk_bounds(spark, sf_dir)
    return (
        pmin + (pmax - pmin) // 4,
        pmin + (pmax - pmin) // 2,
        smin + (smax - smin) // 4,
        smin + (smax - smin) // 2,
    )


def zorder_clustered_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the z-ordered layout: 2-D box filter (pushed to
    the scan, pruning via file/row-group min/max on BOTH columns) +
    aggregate. Oracle = the same box over the ORIGINAL table."""
    path = write_lineitem_zordered(spark, sf_dir)
    plo, phi, slo, shi = _zorder_box(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .where(
            (F.col("l_partkey") >= plo)
            & (F.col("l_partkey") < phi)
            & (F.col("l_suppkey") >= slo)
            & (F.col("l_suppkey") < shi)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
    )


SQL_ZORDER_ROUNDTRIP = f"""
WITH b AS (
  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         min(l_suppkey) AS smin, max(l_suppkey) AS smax
  FROM lineitem
)
SELECT l_returnflag, count(*) AS n_rows, {sql_dsum('l_extendedprice', 2)} AS sum_price
FROM lineitem, b
WHERE l_partkey >= pmin + (pmax - pmin) // 4 AND l_partkey < pmin + (pmax - pmin) // 2
  AND l_suppkey >= smin + (smax - smin) // 4 AND l_suppkey < smin + (smax - smin) // 2
GROUP BY l_returnflag
"""


HILBERT_BITS = 8  # 256 x 256 grid -- plenty of resolution for ~32 files
HILBERT_FILES = 32

_HILBERT_WRITTEN: dict[str, str] = {}


def _with_hilbert(df: DataFrame, sx, sy, out: str) -> DataFrame:
    """Append the Hilbert-curve index of grid cell ``(sx, sy)`` on the
    ``2^HILBERT_BITS`` grid as column ``out`` -- pure Column arithmetic,
    no UDF. The classic top-down xy2d bit loop (public-domain Wikipedia
    formulation): each level tests one bit of each coordinate,
    accumulates the visited quadrant's contribution, then
    rotates/reflects the frame for the next level:

        for s = n/2 .. 1:  rx = (x & s) > 0;  ry = (y & s) > 0
                           d += s*s * ((3*rx) XOR ry)
                           if ry == 0:
                               if rx == 1: x, y = s-1-x, s-1-y
                               swap(x, y)

    Why Hilbert over the Morton interleave already demoed by
    ``zorder_clustered_roundtrip``: the rotation makes the mapping
    CONTINUOUS -- consecutive d values are always grid-adjacent cells
    (|dx|+|dy| = 1, asserted exhaustively over all 65,536 cells in
    tests/test_bucketing.py), where z-order takes long diagonal jumps at
    every quadrant seam. A contiguous d-range (= one clustered file)
    therefore spans a tighter (x, y) bounding box on average -- tighter
    per-file min/max stats -- better 2-D box pruning.

    Implementation note: the per-level x/y rewrites reference the
    previous level's x and y from several CaseWhen branches, so each
    level is emitted as its OWN select() stage; CollapseProject's
    duplicate-non-cheap-expression guard then keeps the ladder as
    chained projections instead of inlining it into one exponentially
    sized expression. All levels stay inside a single WholeStageCodegen
    span."""
    x, y, d = f"{out}_x", f"{out}_y", out
    df = df.withColumns({x: sx.cast("long"), y: sy.cast("long"), d: F.lit(0).cast("long")})
    keep = [c for c in df.columns if c not in (x, y, d)]
    for i in range(HILBERT_BITS - 1, -1, -1):
        s = 1 << i
        rx = F.col(x).bitwiseAND(F.lit(s)) > 0
        ry = F.col(y).bitwiseAND(F.lit(s)) > 0
        quad = (
            F.when(rx, F.lit(3)).otherwise(F.lit(0)).bitwiseXOR(
                F.when(ry, F.lit(1)).otherwise(F.lit(0))
            )
        )
        nd = (F.col(d) + F.lit(s) * F.lit(s) * quad).alias(d)
        # ry=1: frame unchanged; ry=0 & rx=1: reflect both then swap;
        # ry=0 & rx=0: plain swap
        nx = (
            F.when(ry, F.col(x))
            .when(rx, F.lit(s - 1) - F.col(y))
            .otherwise(F.col(y))
            .alias(x)
        )
        ny = (
            F.when(ry, F.col(y))
            .when(rx, F.lit(s - 1) - F.col(x))
            .otherwise(F.col(x))
            .alias(y)
        )
        df = df.select(*keep, nx, ny, nd)
    return df.drop(x, y)


def write_lineitem_hilbert(spark: SparkSession, sf_dir: str) -> str:
    """Hilbert-curve clustered layout on ``(l_partkey, l_suppkey)``: both
    keys min-max scaled to HILBERT_BITS bits, mapped through the curve
    index, and range-clustered on it -- same write shape as the Morton
    layout, different (continuous) space-filling curve. The curve value
    is layout-only; results never depend on it."""
    if sf_dir not in _HILBERT_WRITTEN:
        from ..operators._util import scratch_root, scratch_slug

        out = f"{scratch_root()}/lineitem_hilbert_{scratch_slug(sf_dir)}"
        li = load_table(spark, sf_dir, "lineitem")
        pmin, pmax, smin, smax = _pk_sk_bounds(spark, sf_dir)
        scale = (1 << HILBERT_BITS) - 1
        sx = ((F.col("l_partkey") - pmin) * scale / F.lit(max(pmax - pmin, 1))).cast("long")
        sy = ((F.col("l_suppkey") - smin) * scale / F.lit(max(smax - smin, 1))).cast("long")
        (
            _with_hilbert(li, sx, sy, "_h")
            .repartitionByRange(HILBERT_FILES, F.col("_h"))
            .sortWithinPartitions("_h")
            .drop("_h")
            .write.mode("overwrite")
            .parquet(out)
        )
        _HILBERT_WRITTEN[sf_dir] = out
    return _HILBERT_WRITTEN[sf_dir]


def _hilbert_box(spark: SparkSession, sf_dir: str) -> tuple[int, int, int, int]:
    """The registered 2-D box predicate: the [1/8, 3/8) sub-range of each
    key's span (deliberately different from the Morton demo's box);
    integer arithmetic so both engines draw identical boundaries."""
    pmin, pmax, smin, smax = _pk_sk_bounds(spark, sf_dir)
    return (
        pmin + (pmax - pmin) // 8,
        pmin + 3 * (pmax - pmin) // 8,
        smin + (smax - smin) // 8,
        smin + 3 * (smax - smin) // 8,
    )


def hilbert_clustered_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the Hilbert-clustered layout: 2-D box filter
    (pushed to the scan; prunes via per-file min/max on BOTH columns) +
    aggregate. Oracle = the same box over the ORIGINAL table."""
    path = write_lineitem_hilbert(spark, sf_dir)
    plo, phi, slo, shi = _hilbert_box(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .where(
            (F.col("l_partkey") >= plo)
            & (F.col("l_partkey") < phi)
            & (F.col("l_suppkey") >= slo)
            & (F.col("l_suppkey") < shi)
        )
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
    )


SQL_HILBERT_ROUNDTRIP = f"""
WITH b AS (
  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         min(l_suppkey) AS smin, max(l_suppkey) AS smax
  FROM lineitem
)
SELECT l_linestatus, count(*) AS n_rows, {sql_dsum('l_extendedprice', 2)} AS sum_price
FROM lineitem, b
WHERE l_partkey >= pmin + (pmax - pmin) // 8 AND l_partkey < pmin + 3 * (pmax - pmin) // 8
  AND l_suppkey >= smin + (smax - smin) // 8 AND l_suppkey < smin + 3 * (smax - smin) // 8
GROUP BY l_linestatus
"""


BLOOM_FILES = 8  # orders clustered by DATE -> orderkey scattered everywhere
BLOOM_NDV = 200_000  # expected distinct orderkeys per row group (upper bound)
BLOOM_TOPK = 5  # point-fetch the keys of the 5 priciest orders

_BLOOM_WRITTEN: dict[str, str] = {}


def write_orders_bloom(spark: SparkSession, sf_dir: str) -> str:
    """Write orders clustered by ``o_orderdate`` with a PARQUET BLOOM
    FILTER on ``o_orderkey`` -- the skipping index for the case min/max
    stats fundamentally cannot handle: a point lookup on a column
    UNCORRELATED with the layout. Date-clustered files each span nearly
    the full orderkey range (every file's [min, max] contains every key),
    so stats prune nothing; the per-row-group bloom answers "definitely
    not here" for every row group but the one actually holding the key.
    Write-side knobs are the official parquet-mr ones
    (``parquet.bloom.filter.enabled#column``, ``...expected.ndv#column``);
    the read side needs nothing -- Spark's pushed-down point predicates
    are checked against the bloom by parquet-mr during row-group
    selection (``parquet.filter.bloom.enabled``, default true).
    tests/test_bucketing.py reads the blooms back through the public
    parquet-mr API and asserts the skip arithmetic: stats overlap
    everywhere, bloom hits only where the key really lives. Note
    parquet-mr only writes a bloom for column chunks that are not fully
    dictionary-encoded (a dictionary already answers exact membership)."""
    if sf_dir not in _BLOOM_WRITTEN:
        from ..operators._util import scratch_root, scratch_slug

        out = f"{scratch_root()}/orders_bloom_{scratch_slug(sf_dir)}"
        (
            load_table(spark, sf_dir, "orders")
            .repartitionByRange(BLOOM_FILES, F.col("o_orderdate"))
            .sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#o_orderkey", "true")
            .option("parquet.bloom.filter.expected.ndv#o_orderkey", str(BLOOM_NDV))
            .parquet(out)
        )
        _BLOOM_WRITTEN[sf_dir] = out
    return _BLOOM_WRITTEN[sf_dir]


def parquet_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-fetch the ``BLOOM_TOPK`` priciest orders (totalprice desc,
    orderkey tie-break) by key from the bloom-indexed date-clustered
    layout. The IN-list pushes to the scan; row-group selection consults
    the o_orderkey bloom, so each key costs ~1 row group instead of a
    full-table scan that min/max stats can't avoid on this layout.
    Oracle = the same top-K subselect joined back on the original table."""
    path = write_orders_bloom(spark, sf_dir)
    orders = spark.read.parquet(path)
    keys = [
        r["o_orderkey"]
        for r in orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(BLOOM_TOPK)
        .select("o_orderkey")
        .collect()
    ]
    return (
        orders.where(F.col("o_orderkey").isin(keys))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
        )
    )


SQL_BLOOM_SKIPPING = f"""
WITH top AS (
  SELECT o_orderkey FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT {BLOOM_TOPK}
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS totalprice,
       CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_epoch
FROM orders JOIN top USING (o_orderkey)
"""


# --- string-key bloom: the Binary path ---

_BLOOM_STR_WRITTEN: dict[str, str] = {}


def _o_ref(col):
    """External-reference string for an order: the UUID/URL/doc-id shape
    a training-data pipeline actually point-looks-up by."""
    return F.concat(F.lit("ORD-"), F.lpad(col.cast("string"), 10, "0"))


def write_orders_bloom_str(spark: SparkSession, sf_dir: str) -> str:
    """The string-key twin of :func:`write_orders_bloom`: orders carry a
    derived reference string ``o_ref`` (``ORD-<orderkey>``), the layout
    is date-clustered, and a parquet bloom is written on ``o_ref``.
    Strings hash into the bloom through parquet-mr's Binary path (xxhash
    of the UTF-8 bytes), so the reader can skip row groups for string
    point lookups exactly as for longs.

    One extra knob vs the long variant: ``parquet.enable.dictionary#o_ref``
    is turned OFF for this column. parquet-mr deliberately drops the bloom
    for column chunks that end up FULLY dictionary-encoded (the dictionary
    already answers exact membership); production-scale reference strings
    overflow the dictionary page and fall back to plain encoding, but this
    sf's ~15k short strings would still fit, so the column opts out to
    reproduce the encoding the bloom exists for."""
    if sf_dir not in _BLOOM_STR_WRITTEN:
        from ..operators._util import scratch_root, scratch_slug

        out = f"{scratch_root()}/orders_bloom_str_{scratch_slug(sf_dir)}"
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_ref", _o_ref(F.col("o_orderkey")))
            .repartitionByRange(BLOOM_FILES, F.col("o_orderdate"))
            .sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#o_ref", "true")
            .option("parquet.bloom.filter.expected.ndv#o_ref", str(BLOOM_NDV))
            .option("parquet.enable.dictionary#o_ref", "false")
            .parquet(out)
        )
        _BLOOM_STR_WRITTEN[sf_dir] = out
    return _BLOOM_STR_WRITTEN[sf_dir]


def parquet_bloom_skipping_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-fetch the ``BLOOM_TOPK`` priciest orders BY REFERENCE STRING
    from the string-bloomed layout. The IN-list of strings pushes to the
    scan and row-group selection consults the o_ref bloom --
    tests/test_bucketing.py replays the footers and asserts the skip
    arithmetic on the Binary (UTF-8) hash path. Oracle recomputes the
    same reference strings relationally."""
    path = write_orders_bloom_str(spark, sf_dir)
    orders = spark.read.parquet(path)
    refs = [
        r["o_ref"]
        for r in orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(BLOOM_TOPK)
        .select("o_ref")
        .collect()
    ]
    return orders.where(F.col("o_ref").isin(refs)).select(
        "o_ref",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


SQL_BLOOM_SKIPPING_STR = f"""
WITH top AS (
  SELECT o_orderkey FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT {BLOOM_TOPK}
)
SELECT 'ORD-' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS o_ref,
       o_custkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
FROM orders JOIN top USING (o_orderkey)
"""


DPP_KEEP = 2  # dim filter keeps the bottom-2 event types by avg value


def dpp_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the event_type-
    partitioned table, the dim side is a runtime-only selection (the
    bottom-``DPP_KEEP`` types by average value, rank-based so exactly 2
    of 5 partitions survive at any scale). The dim's surviving keys are
    unknowable at plan time, so static partition pruning cannot apply --
    instead Catalyst broadcasts the dim's build side into the fact SCAN
    as a ``dynamicpruningexpression`` PartitionFilter, and only the
    matching partition directories are read (plan-asserted in
    tests/test_plans.py).

    At 100 TB this is the mechanism that makes star-schema queries cheap
    without hand-written IN-lists: a selective dimension filter prunes
    the fact scan AT RUNTIME, turning "join then discard" into "never
    read". The per-user aggregate after the join is the payload query;
    its oracle recomputes the same selection statically."""
    from pyspark.sql import Window

    fact = spark.read.parquet(write_events_partitioned(spark, sf_dir))
    ev = load_table(spark, sf_dir, "events")
    from ..operators._util import davg

    # deterministic rank key: decimal-accumulated average (a float avg
    # sums in partition order and could flip a near-tie between engines)
    dim = (
        ev.groupBy("event_type")
        .agg(davg(F.col("value"), 6).alias("_av"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("_av").asc(), F.col("event_type").asc())
            ),
        )
        .where(F.col("_rn") <= DPP_KEEP)
        .select("event_type")
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 6).alias("sum_value"),
        )
    )


SQL_DPP = f"""
WITH dim AS (
  SELECT event_type
  FROM (
    SELECT event_type,
           ROW_NUMBER() OVER (ORDER BY {sql_davg('value', 6)} ASC, event_type ASC) AS rn
    FROM events GROUP BY event_type
  ) WHERE rn <= {DPP_KEEP}
)
SELECT e.event_type, count(*) AS n_events, {sql_dsum('value', 6)} AS sum_value
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type
"""


# --- bucketed tables: the co-located-join layout ---

N_BUCKETS = 8
_BUCKETED_READY: dict[str, str] = {}


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> str:
    """Save ``orders`` and ``customer`` as catalog tables BUCKETED by the
    join key (``bucketBy(8, custkey)`` + ``sortBy``), once per process;
    returns the table-name suffix.

    Bucketing is THE pre-paid shuffle: both tables hash-partition into the
    same bucket layout at WRITE time, so every future equi-join or
    aggregate on the key reads co-located buckets and skips its Exchange
    entirely -- at 100 TB that converts the nightly orders-customer join
    from the dominant shuffle into a map-side merge. ``repartition`` on
    the key before the write keeps it to ONE file per bucket, which also
    lets the read side trust per-bucket sort order."""
    if sf_dir in _BUCKETED_READY:
        return _BUCKETED_READY[sf_dir]
    import re
    import shutil

    from ..operators._util import scratch_root, scratch_slug

    slug = re.sub(r"[^A-Za-z0-9_]", "_", scratch_slug(sf_dir))
    for t, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        name = f"bkt_{t}_{slug}"
        path = f"{scratch_root()}/bkt_{t}_{slug}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
        (
            load_table(spark, sf_dir, t)
            .repartition(N_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    _BUCKETED_READY[sf_dir] = slug
    return slug


def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mktsegment order count + exact revenue through the BUCKETED
    orders-customer join: both scan sides carry SelectedBucketsCount and
    the join runs with NO Exchange on either input
    (tests/test_plans.py asserts the shuffle-free shape). The oracle is
    the same aggregate over the raw parquet views, value-hash-proving the
    bucketed layout computes exactly what the plain join would."""
    slug = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(f"bkt_orders_{slug}")
    c = spark.table(f"bkt_customer_{slug}")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_BUCKETED_JOIN = f"""
SELECT c_mktsegment, count(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-skipping index a lakehouse keeps, computed FROM the data
    via the hidden ``_metadata`` columns: per output file of the
    range-clustered lineitem layout, row count and shipdate min/max --
    then folded to layout-independent invariants (total rows, global
    min/max epoch, and the count of OVERLAPPING file-interval pairs,
    which range clustering makes 0).

    ``_metadata.file_name`` is Spark's per-row provenance surface (the
    replacement for input_file_name() that survives column pruning); the
    per-file min/max grouping here is exactly what a skipping index
    materializes, and the overlap count is the property that lets a range
    predicate prune to one file. The oracle states the invariants over
    the ORIGINAL table (count/min/max) with the overlap count pinned to
    its designed value 0 -- layout-dependent per-file rows can't be
    oracled, the invariants can."""
    path = write_lineitem_range_clustered(spark, sf_dir)
    per_file = (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_name").alias("f"), "l_shipdate")
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_shipdate").alias("lo"),
            F.max("l_shipdate").alias("hi"),
        )
    )
    a, b = per_file.alias("a"), per_file.alias("b")
    overlaps = (
        a.join(
            b,
            (F.col("a.f") < F.col("b.f"))
            & (F.col("a.lo") <= F.col("b.hi"))
            & (F.col("b.lo") <= F.col("a.hi")),
        )
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.col("v").alias("n_overlapping_file_pairs"))
    )
    totals = per_file.agg(
        F.sum("n_rows").alias("total_rows"),
        F.unix_timestamp(F.min("lo")).alias("min_shipdate_epoch"),
        F.unix_timestamp(F.max("hi")).alias("max_shipdate_epoch"),
    )
    return totals.crossJoin(F.broadcast(overlaps))


SQL_FILE_SKIPPING = """
SELECT CAST(count(*) AS BIGINT) AS total_rows,
       CAST(floor(epoch(min(l_shipdate))) AS BIGINT) AS min_shipdate_epoch,
       CAST(floor(epoch(max(l_shipdate))) AS BIGINT) AS max_shipdate_epoch,
       CAST(0 AS BIGINT) AS n_overlapping_file_pairs
FROM lineitem
"""


def _footer_pushdown_scope(spark: SparkSession):
    """Context manager: the confs aggregate pushdown needs, restored on
    exit (pushdown is a V2-only capability; V1 is the session default)."""
    from contextlib import contextmanager

    @contextmanager
    def scope():
        confs = {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        }
        prev = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)

    return scope()


def _footer_agg_df(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).agg(
        F.expr("count(*)").alias("n_rows"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


def footer_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/MIN/MAX answered from parquet FOOTER statistics alone --
    Spark's parquet aggregate pushdown (``PushedAggregation`` on the
    scan): the query reads file metadata, not rows, so a 100 TB "how many
    rows / what's the range" probe costs one footer read per file instead
    of a full scan. Runs over the range-clustered lineitem layout (same
    rows as the original table, so the oracle recomputes over the view).

    The pushed plan EXECUTES inside the conf scope (one-row collect) and
    the result returns as a localized DataFrame. The earlier
    freeze-then-restore spelling only froze THIS DataFrame's own
    QueryExecution -- any consumer that re-plans (the bench's noop
    ``write.save`` builds a fresh QueryExecution) silently executed
    WITHOUT PushedAggregation after the confs were restored, so the
    benched timing measured a full scan, not the footer path the operator
    exists to demonstrate. Collecting the single result row inside the
    scope makes every consumer see the footer-only cost; the collect is
    bounded-cardinality (1 row) driver metadata, not a data path.
    ``tests/test_plans.py`` asserts the PushedAggregation scan shape via
    :func:`footer_agg_pushdown_plan`."""
    path = write_lineitem_range_clustered(spark, sf_dir)
    with _footer_pushdown_scope(spark):
        df = _footer_agg_df(spark, path)
        rows = df.collect()  # executes the footer-only plan NOW, in scope
        schema = df.schema
    return spark.createDataFrame(rows, schema)


def footer_agg_pushdown_plan(spark: SparkSession, sf_dir: str) -> str:
    """The executed-plan string of the pushed aggregate (for the plan
    gate): same scope, same query, no execution."""
    path = write_lineitem_range_clustered(spark, sf_dir)
    with _footer_pushdown_scope(spark):
        df = _footer_agg_df(spark, path)
        return str(df._jdf.queryExecution().executedPlan())  # noqa: SLF001


SQL_FOOTER_AGG = """
SELECT count(*) AS n_rows,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem
"""


def register(reg: Registry) -> None:
    reg.add(
        "footer_agg_pushdown",
        footer_agg_pushdown,
        SQL_FOOTER_AGG,
        "parquet footer-stat COUNT/MIN/MAX via PushedAggregation (V2 scan)",
    )
    reg.add(
        "bucketed_join_no_shuffle",
        bucketed_join_no_shuffle,
        SQL_BUCKETED_JOIN,
        "bucketBy co-located join: zero-Exchange orders x customer agg",
    )
    reg.add(
        "file_skipping_stats",
        file_skipping_stats,
        SQL_FILE_SKIPPING,
        "_metadata per-file skipping index + disjointness invariant",
    )
    reg.add(
        "partitioned_sink_roundtrip",
        partitioned_sink_roundtrip,
        SQL_PARTITIONED_ROUNDTRIP,
        "hive-partitioned write + partition-pruned read-back",
    )
    reg.add(
        "range_clustered_roundtrip",
        range_clustered_roundtrip,
        SQL_RANGE_ROUNDTRIP,
        "repartitionByRange clustered write + stats-pruned range read-back",
    )
    reg.add(
        "zorder_clustered_roundtrip",
        zorder_clustered_roundtrip,
        SQL_ZORDER_ROUNDTRIP,
        "Morton-curve (Z-order) 2-D clustering + box-predicate pruned read-back",
    )
    reg.add(
        "parquet_bloom_skipping",
        parquet_bloom_skipping,
        SQL_BLOOM_SKIPPING,
        "parquet bloom-filter row-group skipping for layout-uncorrelated keys",
    )
    reg.add(
        "parquet_bloom_skipping_str",
        parquet_bloom_skipping_str,
        SQL_BLOOM_SKIPPING_STR,
        "string-key bloom skipping (Binary/UTF-8 hash path, dictionary opt-out)",
    )
    reg.add(
        "hilbert_clustered_roundtrip",
        hilbert_clustered_roundtrip,
        SQL_HILBERT_ROUNDTRIP,
        "Hilbert-curve 2-D clustering (continuous curve) + box-pruned read-back",
    )
    reg.add(
        "dpp_pruned_join",
        dpp_pruned_join,
        SQL_DPP,
        "dynamic partition pruning: runtime dim filter prunes the fact scan",
    )
    reg.add(
        "small_files_compaction",
        small_files_compaction,
        SQL_SMALL_FILES,
        "ingest-debris compaction to byte-targeted files, content-invariant",
    )


# --- small-files compaction: ingest debris -> right-sized files ---

DEBRIS_FILES = 64  # simulated per-micro-batch ingest fragments
COMPACT_TARGET_BYTES = 8 * 1024 * 1024  # target bytes per output file


def compact_table_files(spark: SparkSession, path: str, target_bytes: int) -> int:
    """Rewrite a parquet directory into ceil(total_bytes / target_bytes)
    files. Returns the output file count.

    The small-files problem is what a streaming ingest (one file per
    micro-batch per partition) leaves behind: at 100 TB, scan task count
    and namenode/liststore pressure are proportional to FILE COUNT, not
    bytes, and a table of KB-sized files can be slower to read than one
    100x its size. Compaction is metadata-driven: the directory listing
    (driver-side, metadata-sized -- same class as the compaction
    trigger's own file stats) decides the output count; the data path is
    one ``repartition(n)`` rewrite to ``<path>.tmp`` swapped in with the
    same write-materialize-then-rename discipline as
    ``merge.merge_into`` (``operators._util._replace_dir``)."""
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    if total == 0:
        # fail at the real cause: without this, the read below dies with
        # an unrelated schema-inference error on an empty/non-parquet dir
        raise ValueError(
            f"compact_table_files: no parquet data under {path!r} "
            "(empty, non-parquet, or not yet written)"
        )
    n_out = max(1, math.ceil(total / target_bytes))
    from ..operators._util import _replace_dir

    (
        spark.read.parquet(path)
        .repartition(n_out)
        .write.mode("overwrite")
        .parquet(f"{path}.tmp")
    )
    _replace_dir(spark, f"{path}.tmp", path)
    return n_out


_DEBRIS_COMPACTED: dict[str, str] = {}


def ensure_compacted_debris(spark: SparkSession, sf_dir: str) -> str:
    """Write events as DEBRIS_FILES tiny fragments, then compact them to
    the byte-target; memoized per process."""
    if sf_dir not in _DEBRIS_COMPACTED:
        from ..operators._util import scratch_root, scratch_slug

        out = f"{scratch_root()}/events_debris_{scratch_slug(sf_dir)}"
        (
            load_table(spark, sf_dir, "events")
            .repartition(DEBRIS_FILES)
            .write.mode("overwrite")
            .parquet(out)
        )
        compact_table_files(spark, out, COMPACT_TARGET_BYTES)
        _DEBRIS_COMPACTED[sf_dir] = out
    return _DEBRIS_COMPACTED[sf_dir]


SQL_SMALL_FILES = f"""
SELECT event_type, count(*) AS n_events, {sql_dsum('value', 6)} AS sum_value
FROM events GROUP BY event_type
"""


def small_files_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through debris + compaction: the compacted table must
    aggregate identically to the original (oracle = original events);
    tests assert the file count actually collapsed."""
    path = ensure_compacted_debris(spark, sf_dir)
    ev = spark.read.parquet(path)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 6).alias("sum_value"),
    )
