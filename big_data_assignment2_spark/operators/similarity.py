"""Similarity search over the ``embeddings`` table (``vec_id bigint,
embedding array<float>, label int``).

- **Brute-force cosine top-k** -- the exactness baseline: one narrow pass
  computing cosine against a broadcast query vector, then a distributed
  top-k (TakeOrderedAndProject). Linear scan; correct at any scale, and
  the right answer when the query set is small.
- **LSH-bucketed top-k** -- the scale path: random-hyperplane signatures
  (sign bits of dot products against fixed literal hyperplanes) bucket the
  vectors; search only the query's bucket. Sub-linear candidates at the
  cost of recall; the hyperplanes are compile-time literals so both
  engines evaluate the same dots. Honest cross-engine guarantee: the
  sign test (and the IVF cell argmax below) is a THRESHOLD decision on a
  double, so the two engines can disagree only when a dot lies within
  their accumulation-order ulp difference of the boundary -- a window of
  ~1e-13 relative, i.e. vanishing for the planted corpus but not the
  literal "bit-for-bit" an exact decimal fold would give. The exact fold
  was considered and rejected: it would rewrite every per-plane SQL
  expression into a correlated unnest-sum and slow the oracle ~40x for a
  ~1e-8/round risk.
- **Embedding near-dup pairs** -- all pairs with cosine >= 0.95 via a
  self-join on id ordering. At cluster scale the LSH buckets (or a
  block-matrix pandas_udf) bound the pair space; the self-join form keeps
  everything in whole-stage codegen here.

All vector math is double-precision Column arithmetic
(``functions.vectors``): no UDF, no collect.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import SQL_DOT, cosine, dot, sql_cosine
from ..registry import Registry
from ..sources.catalog import load_table
from ._rebalance import fan_out_table
from ._util import davg, dsum, sql_davg, sql_dsum

QUERY_VEC_ID = 0
TOP_K = 10
NEARDUP_T = 0.95

# Planted near-duplicates: the synthetic embeddings hold no real pair at
# cosine >= NEARDUP_T, so both near-dup operators would only ever certify
# 0 == 0 against the oracle. Each operator therefore unions PLANT_K
# deterministic perturbations of the first PLANT_K vectors into its own
# staging, mirrored verbatim in the SQL twin: new id = vec_id +
# PLANT_OFFSET, every coordinate nudged by PLANT_EPS * ((i % 3) - 1) --
# pure double arithmetic on identical inputs, bit-identical across
# engines. Each planted row is a ~0.99999-cosine twin of its source and
# perturbs no other pair, so hash_match now certifies real values.
PLANT_K = 8
PLANT_OFFSET = 10_000_000
PLANT_EPS = 0.001


def _with_planted(emb: DataFrame) -> DataFrame:
    """Base (vec_id, embedding->double) plus the planted twin rows."""
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = base.where(F.col("vec_id") < PLANT_K).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.lit(PLANT_EPS) * (i % 3 - 1).cast("double"),
        ).alias("embedding"),
    )
    return base.unionByName(planted)


# DuckDB twin of _with_planted (Spark's transform index is 0-based,
# DuckDB subscripts are 1-based -- hence (i - 1) % 3).
SQL_PLANTED_EMB = f"""
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id,
         list(embedding[i] + CAST({PLANT_EPS!r} AS DOUBLE) * (((i - 1) % 3) - 1)
              ORDER BY i) AS embedding
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings WHERE vec_id < {PLANT_K})
  GROUP BY vec_id
"""

# Deterministic random hyperplanes (seeded, generated once at import, and
# inlined as literals in BOTH the Spark plan and the SQL oracle).
N_PLANES = 8
DIM = 64
_rng = random.Random(20240813)
HYPERPLANES: list[list[float]] = [
    [round(_rng.gauss(0.0, 1.0), 6) for _ in range(DIM)] for _ in range(N_PLANES)
]


def _sql_plane(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"


def _bucket_col(vec: str, planes: list[list[float]] = HYPERPLANES) -> F.Column:
    """Sign-bit bucket string over *planes*, e.g. '10110010'.

    Built as ONE ``F.expr`` SQL string instead of composing
    ``dot(vec, _plane_lit(p))`` Columns: each python-lambda ``dot`` plus
    its 64 ``F.lit`` plane elements costs ~60ms of DRIVER-side py4j
    expression construction, so the 32-plane near-dup bucket paid ~2-3s
    per query invocation before a single task ran (r13; measured
    construction 2.0-3.4s -> 0.003s, resulting rows byte-identical --
    the parsed tree is the same aggregate/zip_with fold over the same
    correctly-rounded double literals). *vec* is a column name."""
    bits = []
    for p in planes:
        arr = "array(" + ",".join(f"{x!r}D" for x in p) + ")"
        d = (
            f"aggregate(zip_with(CAST({vec} AS ARRAY<DOUBLE>), {arr},"
            " (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {d} >= 0 THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ",".join(bits) + ")")


def _sql_bucket(vec_expr: str, planes: list[list[float]] = HYPERPLANES) -> str:
    bits = [
        f"(CASE WHEN {SQL_DOT.format(a=vec_expr, b=_sql_plane(p))} >= 0"
        f" THEN '1' ELSE '0' END)"
        for p in planes
    ]
    return " || ".join(bits)


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qvec"))
    )


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k against the query vector (vec_id=0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(_query_vec(spark, sf_dir)))
        .select(
            "vec_id",
            "label",
            F.round(cosine("embedding", "qvec"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


SQL_ANN_BRUTE = f"""
SELECT vec_id, label,
       round({sql_cosine('embedding', 'q.qvec')}, 6) AS cos_sim
FROM embeddings
CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


def _hamming_le1(a: str, b: str) -> F.Column:
    """Join condition: sign-bucket strings differ in at most one bit
    (multi-probe LSH -- probing the 8 Hamming-1 neighbor buckets lifts
    recall substantially over exact-bucket-only at ~9/256 of the data)."""
    mism = [
        F.when(F.substring(F.col(a), i + 1, 1) != F.substring(F.col(b), i + 1, 1), 1).otherwise(0)
        for i in range(N_PLANES)
    ]
    total = mism[0]
    for m in mism[1:]:
        total = total + m
    return total <= 1


def _sql_hamming_le1(a: str, b: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN substr({a}, {i + 1}, 1) <> substr({b}, {i + 1}, 1) THEN 1 ELSE 0 END)"
        for i in range(N_PLANES)
    )
    return f"({terms}) <= 1"


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k, multi-probe: candidates come from the query's
    random-hyperplane bucket OR any bucket one sign-bit away, then exact
    cosine ranks them. The 1-row query side broadcasts, so the Hamming
    condition is a per-row predicate, not a shuffle.

    Scale note: this form still SCANS every vector row and filters -- it
    cuts cosine work, not I/O. The pruned scan lives in
    :func:`ann_topk_persisted`, where the cell is a parquet partition
    column and the probe set is a driver-side literal filter (directory
    pruning, like the BM25 term buckets in ``engine.py``)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket_col("embedding")
    )
    q = (
        emb.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket"))
    )
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q), _hamming_le1("bucket", "qbucket"))
        .select(
            "vec_id",
            "label",
            F.round(cosine("embedding", "qvec"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


SQL_ANN_LSH = f"""
WITH emb AS (
  SELECT vec_id, label, embedding, {_sql_bucket('embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS qvec, bucket AS qbucket FROM emb WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       round({sql_cosine('embedding', 'q.qvec')}, 6) AS cos_sim
FROM emb JOIN q ON {_sql_hamming_le1('bucket', 'qbucket')}
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH path against the brute-force ground truth --
    the evaluation loop every production ANN deployment needs before it
    can trade recall for speed. Both sides are deterministic registered
    queries, so even the eval has an exact oracle. The measured set is
    k rows per side: a broadcast semi-join counts the overlap, nothing
    beyond the two top-k computations runs, so the eval costs what the
    two queries cost at any corpus size."""
    truth = ann_topk_bruteforce(spark, sf_dir).select("vec_id")
    approx = ann_topk_lsh(spark, sf_dir).select("vec_id")
    return (
        truth.join(F.broadcast(approx), "vec_id", "semi")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(TOP_K).cast("long").alias("k"),
            "n_hits",
            F.round(F.col("n_hits") / TOP_K, 6).alias("recall"),
        )
    )


SQL_ANN_RECALL = f"""
WITH truth AS ({SQL_ANN_BRUTE}),
approx AS ({SQL_ANN_LSH})
SELECT CAST({TOP_K} AS BIGINT) AS k,
       count(*) AS n_hits,
       round(count(*) / {TOP_K}, 6) AS recall
FROM truth WHERE vec_id IN (SELECT vec_id FROM approx)
"""


N_BLOCKS = 8  # block grid for the pair space; at cluster scale set ~ n / rows_per_block


def _make_block_pair_sims(threshold: float):
    """Builds the per-cell kernel with the threshold baked into the
    closure (module globals are re-imported on executors, so the cutoff
    must travel with the serialized function, not via a global)."""

    def _block_pair_sims(pdf):
        # One (bi, bj) cell of the blocked pair-similarity grid: numpy
        # float64 matrix product over the cell's two row blocks. Emits raw
        # (unrounded) cosines above threshold-minus-slack; the exact
        # rounded filter is re-applied JVM-side.
        import numpy as np
        import pandas as pd

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        # diagonal iff the cell's group keys match; inferring it from
        # b.empty mis-fires whenever a hash block is empty (an empty
        # off-diagonal side would re-emit side-0's self-pairs)
        diag = len(pdf) > 0 and pdf["bi"].iat[0] == pdf["bj"].iat[0]
        if diag:
            b = a
        if a.empty or b.empty:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "cos_raw": pd.Series(dtype="float64"),
                }
            )
        ma = np.array(a["v"].tolist(), dtype=np.float64)
        mb = np.array(b["v"].tolist(), dtype=np.float64)
        na = np.sqrt((ma * ma).sum(axis=1))
        nb = np.sqrt((mb * mb).sum(axis=1))
        denom = np.outer(na, nb)
        sims = ma @ mb.T
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom == 0.0, 0.0, sims / denom)
        # slack covers values that round UP across the 6-decimal boundary
        ia, ib = np.where(sims >= threshold - 1e-6)
        ida = a["vec_id"].to_numpy()[ia]
        idb = b["vec_id"].to_numpy()[ib]
        vals = sims[ia, ib]
        if diag:
            keep = ida < idb  # each unordered pair appears twice in A x A
            ida, idb, vals = ida[keep], idb[keep], vals[keep]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ida, idb),
                "vec_b": np.maximum(ida, idb),
                "cos_raw": vals,
            }
        )

    return _block_pair_sims


# IVF: fixed literal centroids (a production pipeline would k-means them
# offline and broadcast; fixed seeds keep the oracle bit-reproducible).
N_CELLS = 8
N_PROBE = 2
_crng = random.Random(20250813)
CENTROIDS: list[list[float]] = [
    [round(_crng.gauss(0.0, 1.0), 6) for _ in range(DIM)] for _ in range(N_CELLS)
]


def _cell_dots(vec: str) -> F.Column:
    # one F.expr string for the same reason as _bucket_col: 8 lambda-`dot`
    # columns over 64-literal arrays cost ~0.5s of driver-side py4j
    # construction per invocation; the parsed tree is identical
    dots = ", ".join(
        "aggregate(zip_with(CAST({v} AS ARRAY<DOUBLE>), array({arr}),"
        " (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)".format(
            v=vec, arr=",".join(f"{x!r}D" for x in c)
        )
        for c in CENTROIDS
    )
    return F.expr(f"array({dots})")


def _sql_cell_dots(vec_expr: str) -> str:
    return (
        "["
        + ", ".join(SQL_DOT.format(a=vec_expr, b=_sql_plane(c)) for c in CENTROIDS)
        + "]"
    )


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: vectors partition into inner-product Voronoi cells
    of N_CELLS fixed centroids; the query probes its N_PROBE best cells
    and ranks candidates by exact cosine. The inverted-list structure is
    the scale path: at 100 TB the cell column is a partition key, so a
    query reads ~N_PROBE/N_CELLS of the data instead of all of it
    (same pruning shape as the persisted BM25 term buckets)."""
    # materialize the centroid-dot array once per row (the higher-order
    # folds inside _cell_dots are interpreted, so a duplicated expression
    # really does evaluate twice), then derive cells from the column
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("d", _cell_dots("embedding"))
        .withColumn("cell", F.array_position(F.col("d"), F.array_max("d")))
    )
    second = F.array_max(F.array_remove(F.col("d"), F.array_max("d")))
    q = (
        emb.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("qvec"),
            F.col("cell").alias("qcell1"),
            F.array_position(F.col("d"), second).alias("qcell2"),
        )
    )
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(
            F.broadcast(q),
            (F.col("cell") == F.col("qcell1")) | (F.col("cell") == F.col("qcell2")),
        )
        .select(
            "vec_id",
            "label",
            F.round(cosine("embedding", "qvec"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


SQL_ANN_IVF = f"""
WITH emb AS (
  SELECT vec_id, label, embedding,
         list_indexof(d, list_max(d)) AS cell
  FROM (SELECT *, {_sql_cell_dots('embedding')} AS d FROM embeddings)
),
q AS (
  SELECT embedding AS qvec,
         list_indexof(d, list_max(d)) AS qcell1,
         list_indexof(d, list_max(list_filter(d, x -> x <> list_max(d)))) AS qcell2
  FROM (SELECT *, {_sql_cell_dots('embedding')} AS d FROM embeddings
        WHERE vec_id = {QUERY_VEC_ID})
)
SELECT vec_id, label,
       round({sql_cosine('embedding', 'q.qvec')}, 6) AS cos_sim
FROM emb JOIN q ON (cell = qcell1 OR cell = qcell2)
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# Persisted ANN index: the IVF cell as a parquet partition column, so a
# query physically prunes to its probe cells instead of scanning and
# filtering -- the same layout engine.build_index gives the BM25 term
# buckets (reference parity: Cassandra PRIMARY KEY (term, doc_id) pruning,
# app/load_index.py:35-41, re-expressed for vectors).
# ---------------------------------------------------------------------------


def _cell_dots_py(vec: list[float], centroids: list[list[float]]) -> list[float]:
    """Driver-side twin of :func:`_cell_dots`: the identical sequential
    double fold (acc + x*y in index order), so the probe-cell choice is
    bit-identical to the cell the executor assigned at build time."""
    out = []
    for c in centroids:
        acc = 0.0
        for x, y in zip(vec, c):
            acc = acc + float(x) * y
        out.append(acc)
    return out


def probe_cells_py(vec: list[float], centroids: list[list[float]], n_probe: int = N_PROBE) -> list[int]:
    """1-based probe cells for a query vector, mirroring the Column form:
    first position of the max dot, then of the max among values != max
    (``array_position`` / ``array_remove`` semantics)."""
    d = _cell_dots_py(vec, centroids)
    cells = []
    remaining = list(d)
    for _ in range(min(n_probe, len(d))):
        m = max(remaining)
        cells.append(d.index(m) + 1)
        remaining = [x for x in remaining if x != m]
        if not remaining:
            break
    return cells


def build_ann_index(emb: DataFrame, index_dir: str) -> None:
    """Materialize the embeddings table partitioned by IVF cell.

    One shuffle keyed by the partition column so each cell directory gets
    one writer task; the centroids are persisted alongside as the index's
    meta table (the cell function is part of the layout -- a build/search
    centroid mismatch would silently probe the wrong directories). At
    100 TB the cell count scales with table size; each query still reads
    only ``N_PROBE`` directories."""
    spark = emb.sparkSession
    (
        emb.withColumn("d", _cell_dots("embedding"))
        .withColumn("cell", F.array_position(F.col("d"), F.array_max("d")))
        .drop("d")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/vectors")
    )
    meta = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CENTROIDS)], "cell_idx int, centroid array<double>"
    )
    meta.write.mode("overwrite").parquet(f"{index_dir}/centroids")


_BUILT_ANN: dict[str, str] = {}  # in-process memo, never trusted across runs


def ensure_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process) and return the cell-partitioned ANN index
    dir -- separated from the query so bench.py times build vs search."""
    from .search import _ensure_index

    return _ensure_index(
        sf_dir,
        _BUILT_ANN,
        "ann",
        lambda d: build_ann_index(load_table(spark, sf_dir, "embeddings"), d),
    )


def ann_topk_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over the **persisted** cell-partitioned index: the probe
    cells are computed driver-side from the persisted centroids and the
    1-row query vector, then applied as a literal filter on the parquet
    partition column -- the scan touches ~N_PROBE/N_CELLS of the
    directories (``PartitionFilters`` in the plan, asserted in
    tests/test_plans.py) instead of reading every vector the way
    ``ann_topk_lsh``/``ann_topk_ivf`` do. Semantics identical to
    :func:`ann_topk_ivf`, so they share an oracle."""
    index_dir = ensure_ann_index(spark, sf_dir)

    centroids = [
        list(r["centroid"])
        for r in sorted(
            spark.read.parquet(f"{index_dir}/centroids").collect(),
            key=lambda r: r["cell_idx"],
        )
    ]
    qvec = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == QUERY_VEC_ID)  # pushed-down point lookup
        .select("embedding")
        .head()["embedding"]
    )
    probes = probe_cells_py(list(qvec), centroids)
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    vectors = spark.read.parquet(f"{index_dir}/vectors")
    return (
        vectors.where(F.col("cell").isin(probes))  # partition-directory pruning
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), qlit), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_T
) -> DataFrame:
    """All vector pairs with cosine >= {T}: embedding-space near-dup
    detection, as a **blocked exact self-join**. Vectors hash into
    N_BLOCKS blocks; each of the NB*(NB+1)/2 grid cells is one
    ``applyInPandas`` group computing its block-pair cosines as a single
    numpy float64 matrix product (Arrow-batched). Shuffle volume is
    n*(NB+1) rows -- linear in n -- and per-cell memory is bounded by the
    block size, so the same plan runs at cluster scale by raising
    N_BLOCKS; a nested-loop pair join with per-row interpreted array
    folds is quadratic JVM work and ~60x slower. Exact semantics
    (identical to the SQL oracle); LSH prefiltering (see ann_topk_lsh)
    composes on top when approximate recall is acceptable.

    The input is staged through ``_with_planted`` so the result is
    non-empty on this corpus (see PLANT_K)."""
    emb = _with_planted(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.pmod(F.xxhash64("vec_id"), F.lit(N_BLOCKS)).alias("blk"),
    )
    all_blocks = F.array(*[F.lit(i) for i in range(N_BLOCKS)])
    # row of block b participates in grid cells (b, j>=b) as side A ...
    a_side = emb.select(
        "vec_id",
        "v",
        F.col("blk").alias("bi"),
        F.explode(all_blocks).alias("bj"),
        F.lit(0).alias("side"),
    ).where(F.col("bi") <= F.col("bj"))
    # ... and cells (i<b, b) as side B (diagonal handled inside the UDF)
    b_side = emb.select(
        "vec_id",
        "v",
        F.explode(all_blocks).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("side"),
    ).where(F.col("bi") < F.col("bj"))
    cells = a_side.unionByName(b_side).groupBy("bi", "bj")
    pairs = cells.applyInPandas(
        _make_block_pair_sims(threshold), schema="vec_a long, vec_b long, cos_raw double"
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


SQL_NEARDUP = f"""
WITH embp AS ({SQL_PLANTED_EMB})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embp a JOIN embp b ON a.vec_id < b.vec_id
WHERE round({sql_cosine('a.embedding', 'b.embedding')}, 6) >= {NEARDUP_T}
"""


N_BANDS = 4  # 4 bands x 8 hyperplane sign-bits each
BAND_BITS = 8
# Independent, wider signature for near-dup banding (the 8-plane ann
# bucket is too coarse here: 4-bit bands put ~n/16 vectors in each band
# key, which is 12% of ALL pairs as candidates at n=2000. 8-bit bands cut
# occupancy 16x -- ~9x fewer candidates -- while FOUR bands lift recall at
# cosine .95 to 1-(1-.899^8)^4 ~ 0.89, better than the 2x4 layout's 0.9^4
# single-probe story on both axes).
_ndrng = random.Random(20240814)
NEARDUP_HYPERPLANES: list[list[float]] = [
    [round(_ndrng.gauss(0.0, 1.0), 6) for _ in range(DIM)]
    for _ in range(N_BANDS * BAND_BITS)
]


def _band_exprs():
    """The banded signature keys: '0:<bits 1-8>', '1:<bits 9-16>', ... The
    band index prefix keeps keys from different bands in disjoint join
    keyspaces."""
    return [
        F.concat(F.lit(f"{i}:"), F.substring("bucket", i * BAND_BITS + 1, BAND_BITS))
        for i in range(N_BANDS)
    ]


def embedding_neardup_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_T
) -> DataFrame:
    """Sub-quadratic near-dup pairs: the scale path that
    :func:`embedding_neardup_pairs` (exact, O(n^2) compute) is the
    baseline for -- the same exact/LSH split as ngram_jaccard_pairs vs
    minhash_lsh_pairs on the text side.

    Candidates come from a self-join on banded random-hyperplane
    signatures (4 bands x 8 sign-bits: two vectors collide iff some band
    matches exactly, ~0.89 recall at cosine 0.95 and higher above), so
    join fan-out is bounded by band-bucket occupancy (~n/256 per band
    key), linear-ish in n, never all-pairs.
    Candidates are then verified with the EXACT cosine -- through the
    Arrow-batched numpy kernel (:func:`make_cosine_pd`), since the
    candidate set is bulk work where the interpreted Column fold would
    dominate the runtime ~10x -- so precision is 1: the result is a
    subset of the exact operator's pairs (recall property tested in
    tests/test_dedup_similarity.py)."""
    from ..functions.vectors import make_cosine_pd

    # not fanned out: the cost lives in the bucket self-join, not the
    # scan-side hyperplane dots (interleaved A/B read 1.03x -- no win)
    emb = _with_planted(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        _bucket_col("embedding", NEARDUP_HYPERPLANES).alias("bucket"),
    )
    # materialized once: the self-join would otherwise evaluate the 32
    # interpreted sign-bit dots per row on BOTH sides (the expensive
    # projection here); the banded key set is tiny (n x N_BANDS rows)
    banded = emb.select(
        "vec_id", F.explode(F.array(*_band_exprs())).alias("band")
    ).localCheckpoint()
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band")) & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    # asNondeterministic stops the optimizer pushing the threshold filter
    # beneath the projection, which would evaluate the Arrow UDF twice
    cos_pd = make_cosine_pd().asNondeterministic()
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", F.round(cos_pd("ea", "eb"), 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def _sql_neardup_lsh() -> str:
    band_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, '{i}:' || substr(bucket, {i * BAND_BITS + 1}, {BAND_BITS})"
        f" AS band FROM emb"
        for i in range(N_BANDS)
    )
    sim = f"round({sql_cosine('a.embedding', 'b.embedding')}, 6)"
    return f"""
WITH embp AS ({SQL_PLANTED_EMB}),
emb AS (
  SELECT vec_id, embedding,
         {_sql_bucket('embedding', NEARDUP_HYPERPLANES)} AS bucket FROM embp
),
banded AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.vec_id < y.vec_id
)
SELECT vec_a, vec_b, {sim} AS cos_sim
FROM cand
JOIN embp a ON a.vec_id = vec_a
JOIN embp b ON b.vec_id = vec_b
WHERE {sim} >= {NEARDUP_T}
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column -- the training step
    of every IVF/k-means-style index (``ensure_ann_index`` computes the
    same quantity for its cells), exposed as a first-class operator.

    Emitted as (label, dim, centroid_val) rows rather than re-assembled
    arrays: the flat form is what both engines can hash-compare exactly,
    and the downstream consumer (a dot product against a query vector)
    reads it either way. Plan: ``posexplode`` is narrow (a row's dims
    stay in its partition, partial aggs collapse them locally), then ONE
    exchange of (label x dim) partial sums -- shuffle volume is the
    centroid table size, independent of row count. The mean goes through
    the same decimal-exact accumulation as every other aggregate.
    Not fanned out: posexplode -> partial agg is cheap here (one output
    row per label x dim); the interleaved A/B read the extra exchange
    as a 1.39x loss."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(davg(F.col("val"), 8), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


SQL_CENTROIDS = f"""
WITH e AS (
  SELECT label, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
)
SELECT label, CAST(i - 1 AS INT) AS dim,
       round({sql_davg('embedding[i]', 8)}, 6) AS centroid_val,
       count(*) AS n_vecs
FROM e GROUP BY 1, 2
"""


def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram (uncentered covariance) matrix of the embedding column:
    G[i][j] = sum over vectors of e_i * e_j, upper triangle only -- the
    one-pass distributed building block of PCA / whitening / OJA-style
    subspace methods. The O(n * D^2) multiply work is the irreducible
    FLOP count of a Gram matrix; what makes it 100 TB-shaped is that the
    aggregate is MERGEABLE: map-side partials collapse each partition to
    <= D*(D+1)/2 rows before the single exchange, so shuffle volume is
    D^2 (here 2,080 rows), independent of corpus size. The downstream
    eigen-decomposition of a 64 x 64 matrix is driver-trivial and out of
    scope -- the distributed part IS this operator.

    Determinism: each product is computed in DOUBLE (a float x float
    product is exactly representable in double, so both engines get the
    identical value) and accumulated through the exact DECIMAL path.

    The scan fans out first (guide section 2.5): the n * D^2/2 explode +
    partial aggregation is the heaviest map side in the embedding family
    and a single-row-group input would pin all of it to one task."""
    emb = fan_out_table(
        load_table(spark, sf_dir, "embeddings").select("embedding"),
        sf_dir,
        "embeddings",
    )
    e1 = emb.select(F.posexplode("embedding").alias("i", "vi"), "embedding")
    e2 = e1.select(
        "i", "vi", F.posexplode("embedding").alias("j", "vj")
    ).where(F.col("j") >= F.col("i"))
    prod = F.col("vi").cast("double") * F.col("vj").cast("double")
    return e2.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum(prod.cast("decimal(18,10)")).cast("double"), 6).alias("gram"),
    )


SQL_GRAM = """
WITH e AS (
  SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings
),
p AS (
  SELECT embedding, i, unnest(range(i, len(embedding) + 1)) AS j FROM e
)
SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j, count(*) AS n_vecs,
       round(CAST(sum(CAST(
           CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)
           AS DECIMAL(18,10))) AS DOUBLE), 6) AS gram
FROM p GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Product quantization: ann_topk_pq
# --------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M  # 8 dims each
PQ_K = 16  # codes per subspace: vec_ids 1..PQ_K donate their subvectors


def _sqdist(a, b) -> F.Column:
    """Squared L2 distance via the dot identity |a|^2 - 2<a,b> + |b|^2 --
    the SAME algebraic shape the oracle uses, so cross-engine drift is
    bounded by the dot products' final ulps."""
    return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)


def _sql_sqdist(a: str, b: str) -> str:
    return (
        f"({SQL_DOT.format(a=a, b=a)} - 2 * {SQL_DOT.format(a=a, b=b)}"
        f" + {SQL_DOT.format(a=b, b=b)})"
    )


def _pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): vectors are compressed to ``PQ_M`` one-byte codes (each
    subspace's nearest codebook entry), and the query ranks candidates
    by the sum of subspace distances between its EXACT subvectors and
    the candidates' code centroids -- the memory layout that lets a
    1000-executor cluster hold a 100 TB corpus's index in RAM
    (16 bytes/vector here vs 256 bytes raw).

    Everything is relational, no literal codebooks: the codebook is a
    deterministic data sample (subvectors of vec_ids 1..PQ_K; production
    k-means these offline -- embedding_centroids is that training step),
    encoding is a broadcast join + per-(vector, subspace) argmin with a
    (distance, code) tie-break, and ADC is a join from codes back to the
    codebook. Scale shape: encode touches each vector once against a
    PQ_M x PQ_K broadcast table; the ADC scan reads codes, not raw
    vectors. Per-candidate distance sums 8 doubles through DECIMAL(18,9)
    so partition order can't move totals; argmin ties break to the
    smallest code identically in both engines (min_by struct here,
    min-then-min there).

    Reference parity: beyond-reference surface (SURVEY.md section 2.10,
    similarity-search family; cites reference app/query.py:92 top-10
    convention for the result shape).
    """
    # fan-out REVERTED (r13): the r12 same-session A/B read 0.84x, but the
    # fresh-process cold A/B (tools/cold_ab.py, the driver bench's behavior)
    # read 1.11x for ann_topk_pq -- the encode map side is too light to
    # earn the extra Exchange once the JVM is cold. The driver's r12 cold
    # readings (ann_topk_pq 0.81x, ann_pq_recall_eval 0.84x) agree.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = emb.select(
        "vec_id",
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    cb = sub.where(F.col("vec_id").between(1, PQ_K)).select(
        "m", F.col("vec_id").alias("code"), F.col("sv").alias("cvec")
    )
    # argmin as min-distance-then-min-code (two hash aggregates + an
    # equi-join), the exact shape of the oracle's dmin/enc CTEs. A
    # min_by(code, struct(d, code)) spelling is one aggregate but the
    # struct ordering key is var-width in the agg buffer and demotes
    # HashAggregate -> SortAggregate (the plan-gate class of bug).
    # |sv|^2 is folded ONCE per (vector, subspace) row before the
    # PQ_K-way fan-out, not once per candidate pair (the interpreted
    # higher-order fold is the unit of cost here); the value and the
    # a^2 - 2ab + b^2 summation order are identical either way, so the
    # oracle's inline spelling still matches bit-for-bit.
    dists = (
        sub.where(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("svn", dot("sv", "sv"))
        .join(F.broadcast(cb.withColumn("cvn", dot("cvec", "cvec"))), "m")
        .withColumn(
            "d",
            F.col("svn") - F.lit(2.0) * dot("sv", "cvec") + F.col("cvn"),
        )
        .select("vec_id", "label", "m", "code", "d")
    )
    dmin = dists.groupBy("vec_id", "m").agg(F.min("d").alias("dm"))
    enc = (
        dists.join(dmin, ["vec_id", "m"])
        .where(F.col("d") == F.col("dm"))
        .groupBy("vec_id", "label", "m")
        .agg(F.min("code").alias("code"))
    )
    q = sub.where(F.col("vec_id") == QUERY_VEC_ID).select(
        "m", F.col("sv").alias("qsv")
    )
    adc = (
        enc.join(F.broadcast(cb), ["m", "code"])
        .join(F.broadcast(q), "m")
        .withColumn("term", _sqdist("qsv", "cvec"))
        .groupBy("vec_id", "label")
        .agg(dsum(F.col("term"), 9).alias("raw"))
    )
    return adc.select(
        "vec_id", "label", F.round("raw", 6).alias("approx_dist")
    )


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k of the PQ/ADC compressed-domain scan (:func:`_pq_adc`),
    ranked by approximate distance with a vec_id tie-break."""
    return _pq_adc(spark, sf_dir).orderBy("approx_dist", "vec_id").limit(TOP_K)


PQ_RERANK_L = 50  # ADC shortlist size for the exact rerank stage


def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k against the EXACT L2 ground truth (the metric the
    quantizer approximates) for BOTH deployment shapes: the raw ADC
    top-k, and the production shortlist-then-rerank (exact distances
    computed only for the ADC top-``PQ_RERANK_L``). These synthetic
    near-uniform 64-dim vectors are ANN's hardest case -- pairwise
    distances concentrate, so quantization noise swamps the tiny
    neighbor gaps and raw-ADC recall is LOW by the data's nature; the
    eval exists to measure exactly that, and to show the rerank stage
    recovering a multiple of it for the price of ``PQ_RERANK_L`` exact
    distance computations per query. (Not fanned out: the recall join
    dominates, interleaved A/B read 1.05x for the extra exchange.)"""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))

    def _topk_exact(pool: DataFrame) -> DataFrame:
        return (
            pool.crossJoin(F.broadcast(q))
            .select("vec_id", F.round(_sqdist("v", "qv"), 6).alias("d"))
            .orderBy("d", "vec_id")
            .limit(TOP_K)
            .select("vec_id")
        )

    truth = _topk_exact(emb.where(F.col("vec_id") != QUERY_VEC_ID))
    adc = _pq_adc(spark, sf_dir)
    adc_topk = adc.orderBy("approx_dist", "vec_id").limit(TOP_K).select("vec_id")
    shortlist = (
        adc.orderBy("approx_dist", "vec_id").limit(PQ_RERANK_L).select("vec_id")
    )
    reranked = _topk_exact(emb.join(shortlist, "vec_id"))

    def _row(variant: str, approx: DataFrame) -> DataFrame:
        return (
            truth.join(F.broadcast(approx), "vec_id", "semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(variant).alias("variant"),
                F.lit(TOP_K).cast("long").alias("k"),
                "n_hits",
                F.round(F.col("n_hits") / TOP_K, 6).alias("recall"),
            )
        )

    return _row("adc_topk", adc_topk).unionByName(
        _row(f"rerank{PQ_RERANK_L}", reranked)
    )


def _sql_ann_pq_recall() -> str:
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qq AS (SELECT v AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID}),
truth AS (
  SELECT vec_id, round({_sql_sqdist('v', 'qv')}, 6) AS d
  FROM emb CROSS JOIN qq WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY d, vec_id LIMIT {TOP_K}
),
adc AS ({_SQL_PQ_ADC}),
a1 AS (SELECT vec_id FROM adc ORDER BY approx_dist, vec_id LIMIT {TOP_K}),
short AS (SELECT vec_id FROM adc ORDER BY approx_dist, vec_id
          LIMIT {PQ_RERANK_L}),
rr AS (
  SELECT e.vec_id, round({_sql_sqdist('e.v', 'qq.qv')}, 6) AS d
  FROM emb e JOIN short USING (vec_id) CROSS JOIN qq
  ORDER BY d, vec_id LIMIT {TOP_K}
)
SELECT 'adc_topk' AS variant, CAST({TOP_K} AS BIGINT) AS k,
       count(*) AS n_hits, round(count(*) / {TOP_K}, 6) AS recall
FROM truth WHERE vec_id IN (SELECT vec_id FROM a1)
UNION ALL
SELECT 'rerank{PQ_RERANK_L}' AS variant, CAST({TOP_K} AS BIGINT) AS k,
       count(*) AS n_hits, round(count(*) / {TOP_K}, 6) AS recall
FROM truth WHERE vec_id IN (SELECT vec_id FROM rr)
"""


_SQL_PQ_ADC = f"""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sub AS (
  SELECT vec_id, label, m,
         v[m * {PQ_SUBDIM} + 1 : m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM emb CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) ms
),
cb AS (
  SELECT m, vec_id AS code, sv AS cvec FROM sub
  WHERE vec_id BETWEEN 1 AND {PQ_K}
),
dists AS (
  SELECT s.vec_id, s.label, s.m, cb.code,
         {_sql_sqdist('s.sv', 'cb.cvec')} AS d
  FROM sub s JOIN cb USING (m)
  WHERE s.vec_id <> {QUERY_VEC_ID}
),
dmin AS (
  SELECT vec_id, m, min(d) AS dm FROM dists GROUP BY vec_id, m
),
enc AS (
  SELECT d.vec_id, d.label, d.m, min(d.code) AS code
  FROM dists d JOIN dmin ON d.vec_id = dmin.vec_id AND d.m = dmin.m
  WHERE d.d = dmin.dm
  GROUP BY d.vec_id, d.label, d.m
),
q AS (SELECT m, sv AS qsv FROM sub WHERE vec_id = {QUERY_VEC_ID}),
adc AS (
  SELECT enc.vec_id, enc.label,
         {sql_dsum(_sql_sqdist('q.qsv', 'cb.cvec'), 9)} AS raw
  FROM enc
  JOIN cb ON enc.m = cb.m AND enc.code = cb.code
  JOIN q ON enc.m = q.m
  GROUP BY enc.vec_id, enc.label
)
SELECT vec_id, label, round(raw, 6) AS approx_dist
FROM adc
"""

SQL_ANN_PQ = f"""
SELECT * FROM ({_SQL_PQ_ADC})
ORDER BY approx_dist, vec_id LIMIT {TOP_K}
"""


# --- k-means: the unsupervised counterpart of the IVF cell trainer ---

KM_K = 4  # clusters; seeds are vec_id 0..3 (deterministic init)
KM_DEC = "decimal(18,10)"  # per-term distance accumulator


def kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means over the embedding
    column: assign to nearest of ``KM_K`` centroids, recompute centroids
    as exact decimal means, reassign, report per-cluster size and
    inertia. ``embedding_centroids`` is the supervised mean and
    ``ensure_ann_index`` consumes a fixed partition; this operator is
    the LEARNING loop itself, unrolled so the whole computation stays
    one declarative plan (the fixed-iteration-count idiom of
    ``pagerank_3iter`` -- at scale each iteration is a broadcast join
    against a K x D centroid table plus one map-side-combinable
    aggregate, so per-iteration shuffle volume is n*K rows, never pair
    space).

    Cross-engine determinism: distances accumulate per-dimension double
    terms through DECIMAL (order-independent, exact argmin ties broken
    by cid); iteration-1 centroids go through the same
    ``round(davg(., 8), 6)`` as ``embedding_centroids`` so both engines
    feed bit-identical doubles into iteration 2."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.posexplode("embedding").alias("dim", "fval")).select(
        "vec_id", "dim", F.col("fval").cast("double").alias("val")
    )
    c0 = e.where(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"), "dim", F.col("val").alias("cval")
    )

    def assign(cents: DataFrame) -> DataFrame:
        diff = F.col("val") - F.col("cval")
        d = (
            e.join(F.broadcast(cents), "dim")
            .groupBy("vec_id", "cid")
            .agg(F.sum((diff * diff).cast(KM_DEC)).alias("dist"))
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "cid", "dist")
        )

    a1 = assign(c0)
    c1 = (
        e.join(a1.select("vec_id", "cid"), "vec_id")
        .groupBy("cid", "dim")
        .agg(F.round(davg(F.col("val"), 8), 6).alias("cval"))
    )
    a2 = assign(c1)
    return a2.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("dist").cast("double"), 6).alias("inertia"),
    )


_SQL_KM_VAL = "CAST(embedding[i] AS DOUBLE)"

SQL_KMEANS = f"""
WITH e AS (
  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid, i, {_SQL_KM_VAL} AS cval FROM e WHERE vec_id < {KM_K}
),
d1 AS (
  SELECT e.vec_id, c0.cid,
         sum(CAST(({_SQL_KM_VAL} - c0.cval) * ({_SQL_KM_VAL} - c0.cval)
             AS DECIMAL(18,10))) AS dist
  FROM e JOIN c0 USING (i) GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
c1 AS (
  SELECT a1.cid, e.i, round({sql_davg(_SQL_KM_VAL, 8)}, 6) AS cval
  FROM e JOIN a1 USING (vec_id) GROUP BY 1, 2
),
d2 AS (
  SELECT e.vec_id, c1.cid,
         sum(CAST(({_SQL_KM_VAL} - c1.cval) * ({_SQL_KM_VAL} - c1.cval)
             AS DECIMAL(18,10))) AS dist
  FROM e JOIN c1 USING (i) GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
)
SELECT cid, count(*) AS n_vecs,
       round(CAST(sum(dist) AS DOUBLE), 6) AS inertia
FROM a2 GROUP BY cid
"""


def register(reg: Registry) -> None:
    reg.add("ann_topk_bruteforce", ann_topk_bruteforce, SQL_ANN_BRUTE, "exact cosine top-k")
    reg.add(
        "embedding_gram",
        embedding_gram,
        SQL_GRAM,
        "one-pass mergeable Gram/covariance matrix (PCA building block)",
    )
    reg.add(
        "embedding_centroids",
        embedding_centroids,
        SQL_CENTROIDS,
        "per-label centroid (the IVF training step as an operator)",
    )
    reg.add("ann_topk_lsh", ann_topk_lsh, SQL_ANN_LSH, "LSH-bucketed approx top-k")
    reg.add(
        "ann_topk_pq",
        ann_topk_pq,
        SQL_ANN_PQ,
        "product-quantization ADC top-k (16-byte codes, relational codebook)",
    )
    reg.add(
        "ann_pq_recall_eval",
        ann_pq_recall_eval,
        _sql_ann_pq_recall(),
        "recall@k of PQ/ADC vs exact-L2 ground truth",
    )
    reg.add("ann_topk_ivf", ann_topk_ivf, SQL_ANN_IVF, "IVF 2-probe approx top-k")
    reg.add(
        "kmeans_2iter",
        kmeans_2iter,
        SQL_KMEANS,
        "two unrolled Lloyd iterations over embeddings: sizes + inertia",
    )
    reg.add(
        "ann_recall_eval",
        ann_recall_eval,
        SQL_ANN_RECALL,
        "recall@k of LSH vs brute-force ground truth",
    )
    reg.add(
        "ann_topk_persisted",
        ann_topk_persisted,
        SQL_ANN_IVF,  # identical semantics to ann_topk_ivf, shared oracle
        "IVF top-k over persisted cell-partitioned index (pruned scan)",
    )
    reg.add(
        "embedding_neardup_pairs", embedding_neardup_pairs, SQL_NEARDUP, "cosine>=0.95 pairs"
    )
    reg.add(
        "embedding_neardup_lsh",
        embedding_neardup_lsh,
        _sql_neardup_lsh(),
        "LSH-prefiltered cosine>=0.95 pairs (sub-quadratic)",
    )
