"""Deduplication operators over the ``documents`` table -- the core of a
training-data pipeline at 100 TB.

Four families, increasing in fuzziness:

- **exact**: hash-groupBy on content md5. One shuffle keyed by a
  uniformly-distributed hash -- scales linearly, no skew.
- **n-gram Jaccard**: exact set similarity over 5-token shingles, with a
  document-frequency cap on shingles (ubiquitous shingles generate
  quadratic candidate pairs and carry no signal -- the cap is the standard
  stop-shingle trick and bounds the self-join fan-out at any scale).
- **MinHash + LSH**: 16 md5-derived min-hashes -> 4 bands x 4 rows ->
  bucket-join candidates -> exact-Jaccard verification. The md5 hash
  family is bit-reproducible in DuckDB, so even the LSH path has a full
  SQL oracle. ``functions.hashing.minhash_cols_fast`` is the xxhash64
  scale variant (same shape, ~10x cheaper, no oracle).
- **SimHash**: 64-bit sign-vote sketch over term hashes, emitted as hex;
  Hamming-close sketches = near-dups. Also md5-derived and oracle-backed.

Embedding-cosine near-dup lives in ``similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    N_MINHASH,
    band_cols,
    minhash_cols,
    minhash_cols_fast,
    shingles_pd,
    simhash_contrib_cols,
    simhash_hex_from_votes,
    sql_band_cols,
    sql_minhash_cols,
    sql_shingles,
    sql_simhash_hex,
)
from ..functions.text import SQL_TOKENS, tokenize, tokens
from ..registry import Registry
from ..sources.catalog import load_table
from ._rebalance import fan_out_table

SHINGLE_K = 5
MAX_SHINGLE_DF = 100  # stop-shingle cap: drop shingles present in > this many docs
JACCARD_T = 0.5


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content groups with the kept (minimum) doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus itself (what a pipeline actually feeds
    downstream): keep the minimum doc_id of each exact-content group and
    drop the rest. One exchange on the uniformly-distributed content
    hash -- ``min() OVER (PARTITION BY hash)`` needs no sort and no
    join-back, so this is strictly cheaper than groupBy+semi-join and
    carries every document column through unchanged. Scale-safe for the
    same reason ``dedup_exact`` is: hash keys don't skew."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    return (
        docs.withColumn("keep", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keep"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


SQL_DEDUP_APPLY = """
SELECT doc_id, text, lang, source, n_chars
FROM (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM documents)
WHERE doc_id = keep
"""


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, shingle), stop-shingles removed.

    The df cap is a two-phase ``groupBy(shingle).count()`` whose over-cap
    result is broadcast into a left-anti join. An earlier version used
    ``count() OVER (PARTITION BY shingle)``, but window aggregates have no
    map-side partial: at 100 TB every row of a mega-hot stop-shingle lands
    on ONE task *before* the filter drops it. The groupBy's partial
    aggregation absorbs hot keys map-side, and the broadcast anti-join
    adds no exchange, so the cap is skew-proof.

    The raw exploded frame is persisted for the build so the Pandas-UDF
    shingle pass runs ONCE (the stop list and the probe side both read the
    cache), then unpersisted after the filtered result materializes.

    Broadcast-size honesty: the stop set is *types*, bounded by
    occurrences/cap (df > 100 means each stop shingle accounts for > 100
    rows), so it is < 1% of shingle rows -- comfortably broadcastable far
    past this corpus, but NOT constant-size: a 100 TB deployment splits
    the cap (broadcast the Zipf head, shuffle-anti-join the long tail of
    barely-over-cap types, both sides still partial-aggregated).

    Memoized per (session, sf_dir) so ngram-Jaccard, both MinHash paths,
    and the CC pipeline share ONE materialization. An explicit memo, not
    cache-manager plan matching: each call builds a fresh ``shingles_pd``
    Python UDF object, and python-UDF expressions compare by function
    identity, so identical-looking plans do NOT match across calls -- the
    r4 bench measured the fast path silently re-running the whole pandas
    shingle pass because of exactly that."""
    # NOT fanned out: the shingle pass is paid once into this cached
    # frame, so what the downstream consumers actually re-read is the
    # CACHE -- and a 32-partition cache makes every post-cache stage
    # (band joins, anti-join, pair aggregation) pay 32x task overhead on
    # a tiny frame. An A/B measured the fan-out as a 1.43-1.77x LOSS
    # across all four consumers, and the fresh-process build-side
    # comparison is neutral (9.4 vs 8.6s) -- so the single-task shingle
    # pass stays.
    hit = _SHINGLES.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = docs.select(
        "doc_id", F.explode(shingles_pd("text", SHINGLE_K)).alias("shingle")
    ).persist()
    stop = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    out = (
        sh.join(F.broadcast(stop), "shingle", "left_anti")
        .select("doc_id", "shingle")
        .cache()
    )
    try:
        out.count()  # materialize the filtered cache off the raw cache
    finally:
        sh.unpersist()  # drop the raw rows even if materialization fails
    _SHINGLES[sf_dir] = (spark, out)
    return out


# (session, filtered-shingle frame) per sf_dir -- see _doc_shingles
_SHINGLES: dict[str, tuple[SparkSession, DataFrame]] = {}


SQL_DOC_SHINGLES = f"""
WITH sh0 AS (
  SELECT doc_id, unnest({sql_shingles('text', SHINGLE_K)}) AS shingle
  FROM documents
),
freq AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}),
sh AS (SELECT doc_id, shingle FROM sh0 JOIN freq USING (shingle))
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= {T} over capped 5-token shingle sets: self-join on
    shared shingle, count intersections, derive the union from per-doc set
    sizes. The shingle-df cap bounds join fan-out (SURVEY.md section 7
    scale posture)."""
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


SQL_NGRAM_JACCARD = SQL_DOC_SHINGLES + f""",
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= {JACCARD_T}
"""


def _verify_pairs_exact(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs over
    the shingle frame *sh* -- the shared tail of every LSH variant: only
    candidates are ever compared, so cost is linear in candidate count."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _band_rows(sigs: DataFrame, n_bands: int) -> DataFrame:
    """One-row LSH band keys as ``(doc_id, band_j, band_v)`` rows -- the
    shared explode behind every xxhash64 LSH variant AND the persisted
    band store. Band key = (seed index, raw 64-bit min) as two INT/LONG
    columns -- a string concat key would re-serialize every row for the
    join; the key shape must stay in lockstep with the band-store
    parquet schema and its join sites, which is why this lives in ONE
    place."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), F.col(f"mh{j}").alias("v"))
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.j").alias("band_j"), F.col("b.v").alias("band_v"))


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures -> LSH band buckets -> candidate pairs ->
    exact-Jaccard verification. Only docs sharing a band key are ever
    compared, so the join is linear in bucket occupancy, not quadratic in
    corpus size -- this is the 100 TB near-dup path."""
    sh = _doc_shingles(spark, sf_dir)
    sigs = sh.groupBy("doc_id").agg(*minhash_cols("shingle", N_MINHASH))
    banded = sigs.select(
        "doc_id", F.explode(F.array(*[c for c in band_cols(N_MINHASH)])).alias("band")
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs_exact(sh, cand)


N_MINHASH_FAST = 32  # 32 one-row bands: P(miss a J>=0.5 pair) <= (1-0.5)^32


def minhash_lsh_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xxhash64 near-dup path with a DRIVER-CHECKABLE value oracle.

    ``minhash_cols_fast`` signatures (one 64-bit mix per shingle per seed,
    JVM built-in -- no pandas, no md5) feed {N_MINHASH_FAST} ONE-row LSH
    bands, candidates verify against exact Jaccard. Because verification
    is exact, the output is a SUBSET of the true J >= {JACCARD_T} pairs by
    construction; one-row banding makes the other direction hold with
    probability 1 - (1 - J)^{N_MINHASH_FAST} per pair -- a miss of a
    threshold pair is <= 2^-{N_MINHASH_FAST} ~= 2e-10, negligible against
    any fixture or production corpus. The oracle is therefore the EXACT
    n-gram-Jaccard pair set (pure SQL, no xxhash64 needed) -- turning the
    formerly rows-only xxhash64 evidence into a hash-match row, while
    ``minhash_cols_fast`` stays registered as the raw-signature dump.

    Scale note: one-row bands trade candidate selectivity for recall --
    bucket occupancy is bounded by the stop-shingle df cap (a bucket is
    keyed by one minimum-achieving shingle hash, and shingles are capped
    at df <= {MAX_SHINGLE_DF}), so the fan-out stays linear. A production
    tune at 100 TB would drop to e.g. 16 bands x 2 rows once measured
    recall allows."""
    sh = _doc_shingles(spark, sf_dir)
    sigs = sh.groupBy("doc_id").agg(*minhash_cols_fast("shingle", N_MINHASH_FAST))
    banded = _band_rows(sigs, N_MINHASH_FAST)
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band_j") == F.col("y.band_j"))
            & (F.col("x.band_v") == F.col("y.band_v"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs_exact(sh, cand)


SQL_MINHASH_LSH = SQL_DOC_SHINGLES + f""",
sigs AS (
  SELECT doc_id, {sql_minhash_cols('shingle', N_MINHASH)}
  FROM sh GROUP BY doc_id
),
bands AS (SELECT doc_id, {sql_band_cols(N_MINHASH)} FROM sigs),
banded AS (
  SELECT doc_id, band0 AS band FROM bands
  UNION ALL SELECT doc_id, band1 FROM bands
  UNION ALL SELECT doc_id, band2 FROM bands
  UNION ALL SELECT doc_id, band3 FROM bands
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= {JACCARD_T}
"""


def minhash_signatures_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signatures on the xxhash64 scale path: the same
    shape as the md5 family in :func:`minhash_lsh_pairs` but ~10x cheaper
    per hash (one 64-bit mix vs a full cryptographic digest + substring
    decode), which at 100 TB is the difference between the hash step
    being free and being the bottleneck. No SQL oracle -- DuckDB has no
    xxhash64, so the driver records a rows-only check; the md5 twin is
    the value-verified one and the LSH banding/verify downstream of
    either is identical."""
    sh = _doc_shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(*minhash_cols_fast("shingle", N_MINHASH))


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc as 16 hex chars, from tf-weighted bit votes
    over md5(term). Because tf is just the occurrence count,
    ``sum_terms(tf * bit)`` equals ``sum_occurrences(bit)`` -- so the
    votes sum directly over raw token rows with NO tf pre-aggregation:
    exactly one shuffle (partial aggs per doc per partition), where the
    tf-relation form needed a (doc_id, term) exchange first. The md5 bit
    extraction happens once per token row in a projection; votes are
    rebuilt as ``2*s_j - total`` (see ``simhash_contrib_cols``).

    Not fanned out: a fresh-process A/B read 1.30x (simhash) and 1.11x
    (simhash_neardup_pairs) with the round-robin exchange in front of
    the md5 bit extraction."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    contrib = tokenize(docs).select(
        "doc_id", *simhash_contrib_cols("term", "1")
    )
    agg = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total"),
        # F.expr, not F.sum().alias(): 64 composed pairs cost ~0.26s of
        # py4j construction per invocation vs ~0.05s for parsed strings
        *[F.expr(f"sum(c{j}) AS s{j}") for j in range(64)],
    )
    return agg.select("doc_id", simhash_hex_from_votes("total").alias("simhash"))


SQL_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
SELECT doc_id, {sql_simhash_hex('term', 'tf')} AS simhash
FROM tf GROUP BY doc_id
"""


SIMHASH_BANDS = 4  # 4 x 16-bit bands over the 64-bit signature
SIMHASH_HAM_MAX = 3  # near-dup iff hamming(sig_a, sig_b) <= 3


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs: the signature table becomes dedup
    *candidates* the same way MinHash-LSH does -- split the 64-bit
    signature into {SIMHASH_BANDS} 16-bit bands, bucket-join docs that
    share any band verbatim, then verify the full Hamming distance
    <= {SIMHASH_HAM_MAX} on the survivors. Pigeonhole guarantee: any
    pair within Hamming 3 of a 4-band split MUST agree on at least one
    whole band, so banding loses no true pair -- it only prunes the
    candidate space from O(n^2) to per-bucket joins (the same
    sub-quadratic shape as ``minhash_lsh_pairs``).

    Bands stay as 4-hex-char strings for the bucket join (no 64-bit
    signed-overflow risk); the Hamming check parses each 16-bit band to
    int and sums ``bit_count(xor)`` -- all JVM-side integer ops. A group
    of k identical docs produces k^2/2 candidates within its buckets;
    exact-dup groups are small, and an upstream ``dedup_apply`` pass
    removes them entirely at production scale.

    The signature table is materialized (localCheckpoint) before the
    self-join: the two join sides project different column sets, so
    their plan subtrees don't canonicalize to one exchange (no
    ReusedExchange) and an unmaterialized sig would compute the full
    SimHash aggregation twice. localCheckpoint rather than persist():
    persist registers the plan in the CacheManager, which would silently
    rewrite OTHER queries' identical subtrees (the standalone ``simhash``
    plan assertion would see an InMemoryRelation) -- a materialization
    local to this operator must not leak into unrelated plans. The
    (doc_id, 16-hex-char) table is tiny relative to the corpus."""
    sig = simhash(spark, sf_dir).localCheckpoint()
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.substring("simhash", 4 * j + 1, 4).alias("key"),
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band", "b.key")
    left = bands.select(F.col("doc_id").alias("a_id"), "band", "key")
    right = bands.select(F.col("doc_id").alias("b_id"), "band", "key")
    # dedup BARE id pairs, then re-attach the signatures from the tiny
    # checkpointed sig table -- carrying both 16-char signatures through
    # the distinct() exchange moved ~3x the bytes per candidate row (the
    # same measured win prefix_edit_pairs documents)
    cand = (
        left.join(right, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    cand = cand.join(
        sig.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sig")),
        "a_id",
    ).join(
        sig.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sig")),
        "b_id",
    )
    band_int = lambda c, j: F.conv(F.substring(c, 4 * j + 1, 4), 16, 10).cast("int")  # noqa: E731
    hamming = sum(
        F.bit_count(band_int("a_sig", j).bitwiseXOR(band_int("b_sig", j)))
        for j in range(SIMHASH_BANDS)
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= SIMHASH_HAM_MAX)
        .select("a_id", "b_id", "hamming")
    )


def _sql_simhash_neardup() -> str:
    band_int = lambda c, j: f"CAST(('0x' || substr({c}, {4 * j + 1}, 4)) AS INT)"  # noqa: E731
    hamming = " + ".join(
        f"bit_count(xor({band_int('a_sig', j)}, {band_int('b_sig', j)}))"
        for j in range(SIMHASH_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band, substr(simhash, {4 * j + 1}, 4) AS key FROM sig"
        for j in range(SIMHASH_BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
sig AS (
  SELECT doc_id, {sql_simhash_hex('term', 'tf')} AS simhash FROM tf GROUP BY doc_id
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.simhash AS a_sig, b.simhash AS b_sig
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST({hamming} AS BIGINT) AS hamming
FROM cand WHERE {hamming} <= {SIMHASH_HAM_MAX}
"""


MAX_CC_ITERS = 20  # safety cap; real convergence = near-dup cluster diameter


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs: the step
    that turns *pairs* into dedup *groups* (A~B and B~C must collapse to
    one kept document even when A~C was never emitted as a pair).

    Iterative min-label propagation, the standard distributed CC shape
    (GraphX/Pregel semantics without the RDD API): every node starts as
    its own component; each round, a node's label becomes the min of its
    own and its neighbors' labels; stop when a round changes nothing.
    Rounds needed = max component diameter -- for near-dup clusters that
    is small (a handful), so this is a few shuffle-join rounds, each one
    exchange on ``src`` plus one partial-aggregated ``groupBy(dst).min``
    (algebraic, so a giant component's hot key is absorbed map-side). The
    edge list is ``localCheckpoint``-ed once so the LSH pipeline is not
    re-run per round, and each round's labels are checkpointed to truncate
    the growing lineage. If the diameter cap is hit (adversarially long
    chains), the computation falls back to :func:`_star_components` --
    the O(log n)-round large-star/small-star algorithm -- instead of
    burning diameter-many shuffle rounds.

    Convergence is detected with ``sum(comp)``: labels only ever decrease,
    so an unchanged sum means a fixpoint -- one cheap aggregate per round
    instead of an old-vs-new join.

    Output: (doc_id, component_id) for EVERY document (singletons map to
    themselves); component_id = min doc_id in the component. The DuckDB
    oracle computes the same fixpoint as a recursive CTE."""
    return _components_labels(spark, sf_dir).select(
        "doc_id", F.col("comp").alias("component_id")
    )


# Per-process memo of the converged label frame: neardup_components and
# dedup_apply_neardup share one propagation. The creating SparkSession is
# stored WITH the frame and compared by identity -- a checkpointed frame
# must never be served to a different session (``id()`` alone can recycle
# addresses after GC), and a new session simply recomputes.
_CC_LABELS: dict[str, tuple[SparkSession, DataFrame]] = {}


def _components_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    hit = _CC_LABELS.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1]
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    edges = edges.localCheckpoint()  # materialize once; rounds re-join this

    labels = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("doc_id").alias("comp"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("comp")).first()[0]
    converged = False
    for _ in range(MAX_CC_ITERS):
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        labels = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # a graph deeper than the cap needs the O(log n)-round algorithm,
        # not more rounds of diameter-bound propagation: fall back to
        # large-star/small-star (same per-round primitives, provably
        # logarithmic round count regardless of component diameter)
        labels, _ = _star_components(spark, edges, labels.select("doc_id"))
    _CC_LABELS[sf_dir] = (spark, labels)
    return labels


STAR_MAX_ROUNDS = 40  # >= ceil(log2 n) for any n this engine will ever see


def _star_components(
    spark: SparkSession, edges: DataFrame, nodes: DataFrame
) -> tuple[DataFrame, int]:
    """Connected components in O(log n) rounds: alternating
    **large-star / small-star** (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) -- the scale path for adversarially
    long chains, where plain min-label propagation needs diameter-many
    rounds (a 10k-link chain = 10k shuffles; this needs ~14).

    Each round is two (groupBy-min + equi-join) passes over the current
    edge set -- the same shuffle primitives as min-label, so the 100 TB
    cost model is unchanged per round; only the round COUNT improves:

    - *large-star*: every node connects its larger neighbors to the
      smallest node in its closed neighborhood (halves the height of tall
      trees without growing edge count);
    - *small-star*: every node and its smaller neighbors connect to the
      minimum neighbor (collapses short trees into stars).

    The fixpoint is a forest of stars rooted at each component's minimum
    node; convergence is detected by an (edge-count, xxhash64-sum)
    fingerprint -- order-insensitive, one cheap aggregate per round.
    Per-round ``localCheckpoint`` truncates the doubling lineage.

    Returns (labels, rounds): labels maps EVERY node in *nodes* to its
    component minimum (singletons to themselves).
    """
    e = (
        edges.toDF("u", "v")
        .where(F.col("u") != F.col("v"))
        .union(edges.toDF("v", "u").select("u", "v"))
        .distinct()
        .localCheckpoint()
    )
    fp_prev = None
    rounds = 0
    star = e
    for rounds in range(1, STAR_MAX_ROUNDS + 1):
        # large-star over the symmetric view of the current edge set
        sym = star.union(star.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the (hi, lo) orientation
        o = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        star = (
            o.join(mins2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        fp = star.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-38 sum: order-insensitive and overflow-proof under
            # ANSI mode (a long sum of 64-bit hashes overflows)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        fp = (fp["n"], fp["h"])
        if fp == fp_prev:
            break
        fp_prev = fp
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint: star edges point every non-root at its component minimum
    labels = nodes.select("doc_id").join(
        star.select(F.col("u").alias("doc_id"), F.col("v").alias("root")),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("root", "doc_id").alias("comp"))
    return labels.localCheckpoint(), rounds


def dedup_apply_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-dup-deduped corpus: keep each connected component's
    representative (its minimum doc_id) and drop every other member --
    the capstone the pairs/components machinery exists for, and the
    fuzzy sibling of :func:`dedup_apply` (exact-hash groups). One
    semi-join of the documents table against the representative id set;
    the component labels are shared with :func:`neardup_components`, so
    a pipeline running both pays for one propagation."""
    labels = _components_labels(spark, sf_dir)
    keep = labels.where(F.col("doc_id") == F.col("comp")).select("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(keep, "doc_id", "semi").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-grade near-dup dedup: per connected component keep the
    member with the HIGHEST quality score (ties: lowest doc_id) -- the
    policy real corpus pipelines use instead of min-id representatives
    (:func:`dedup_apply_neardup`): when two crawls of one page near-dup,
    you keep the cleaner one, not the earlier-numbered one.

    Shape: component labels (shared/memoized propagation) join the
    quality features, then a two-pass argmax per component -- per-comp
    max(quality) hash-aggregate, equi-join back on (comp, score), then
    min(doc_id) to break exact score ties -- every step a plain
    HashAggregate / equi-join (a one-pass max_by(struct) spelling would
    put a var-width struct in the aggregation buffer and demote to
    SortAggregate; the two-pass form is the scale-safe spelling when the
    tie-break makes the key compound). Output: the kept corpus rows with
    their scores."""
    from .textstats import text_quality

    labels = _components_labels(spark, sf_dir)
    q = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    member = labels.join(q, "doc_id").select("doc_id", "comp", "quality_score")
    best = member.groupBy("comp").agg(F.max("quality_score").alias("best_q"))
    winners = (
        member.alias("m")
        .join(
            best.alias("b"),
            (F.col("m.comp") == F.col("b.comp"))
            & (F.col("m.quality_score") == F.col("b.best_q")),
        )
        .groupBy(F.col("m.comp"))
        .agg(F.min("m.doc_id").alias("doc_id"), F.max("m.quality_score").alias("quality_score"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return winners.join(docs, "doc_id").select(
        "doc_id", "lang", "source", "quality_score"
    )


_SQL_CC_PREFIX = f"""
WITH RECURSIVE
pairs AS ({SQL_MINHASH_LSH}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(doc_id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.doc_id
)
"""

SQL_NEARDUP_COMPONENTS = (
    _SQL_CC_PREFIX
    + "SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY doc_id"
)

SQL_DEDUP_APPLY_NEARDUP = (
    _SQL_CC_PREFIX
    + """, comp AS (SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY doc_id)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN comp c ON d.doc_id = c.doc_id AND d.doc_id = c.component_id
"""
)


def _sql_dedup_keep_best() -> str:
    from .textstats import _sql_text_quality

    return (
        _SQL_CC_PREFIX
        + f""", comp AS (SELECT doc_id, min(comp) AS comp FROM reach GROUP BY doc_id),
q AS (SELECT doc_id, quality_score FROM ({_sql_text_quality()})),
member AS (SELECT c.doc_id, c.comp, q.quality_score FROM comp c JOIN q USING (doc_id)),
best AS (SELECT comp, max(quality_score) AS best_q FROM member GROUP BY comp),
winners AS (
  SELECT m.comp, min(m.doc_id) AS doc_id, max(m.quality_score) AS quality_score
  FROM member m JOIN best b ON m.comp = b.comp AND m.quality_score = b.best_q
  GROUP BY m.comp
)
SELECT w.doc_id, d.lang, d.source, w.quality_score
FROM winners w JOIN documents d USING (doc_id)
"""
    )


def neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QA report: the distribution of near-dup cluster sizes
    (how many singletons, pairs, triples, ... the LSH+CC pipeline
    found). THE health metric of a dedup run -- a sudden mass of large
    clusters means the similarity threshold collapsed, a wall of
    singletons means it's not firing. Shares the memoized converged
    labels with ``neardup_components`` (no second propagation); two tiny
    aggregates on top."""
    labels = _components_labels(spark, sf_dir)
    per_comp = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return per_comp.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


SQL_NEARDUP_CLUSTER_SIZES = (
    _SQL_CC_PREFIX
    + """, comp AS (SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY doc_id),
sizes AS (SELECT component_id, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1
"""
)


MAX_TERM_DF = 100  # vocabulary cap: terms in more docs than this are stopwords here
COSINE_T = 0.30


def tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-pair cosine similarity over raw term-frequency vectors,
    computed through the inverted index (the sparse-vector dot product a
    vector database brute-forces): self-join postings on term, sum
    ``tf_a * tf_b`` per pair, normalize by the per-doc L2 norms.

    Determinism contract: the dot product and squared norms are INTEGER
    sums (order-independent, exact), so both engines aggregate to the same
    numbers in any partition order; only the final per-row
    ``dot / sqrt(n2_a * n2_b)`` is floating point, and that is one IEEE
    sqrt + one division on identical integer inputs -- bit-identical across
    engines, rounded to 6 decimals for the hash. (A tf-idf weighting would
    put ``ln`` inside the SUM and could never hash-match; the idf-weighted
    variant of this join is the BM25 scorer in ``operators/search.py``.)

    Scale shape: same posture as the shingle joins above -- terms with
    df > MAX_TERM_DF are dropped on BOTH engines before the self-join (the
    stop-term cap; candidate fan-out is sum-over-terms C(df,2), so the cap
    bounds it by MAX_TERM_DF * |postings|), the over-cap list is tiny and
    broadcast, and the pair aggregation is a two-phase partial sum keyed by
    (doc_a, doc_b)."""
    # not fanned out: tokenize -> groupBy with a cheap map side (the
    # interleaved A/B read 1.04x -- the extra exchange buys nothing)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inv0 = tokenize(docs).groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    stop = (
        inv0.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > MAX_TERM_DF)
        .select("term")
    )
    inv = inv0.join(F.broadcast(stop), "term", "left_anti")
    norm = inv.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a, b = inv.alias("a"), inv.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2_a"))
    nb = norm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2_b"))
    cos = F.col("dot") / F.sqrt((F.col("n2_a") * F.col("n2_b")).cast("double"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cos >= COSINE_T)
        .select("doc_a", "doc_b", "dot", F.round(cos, 6).alias("cosine"))
    )


SQL_TF_COSINE = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS.format(col="text")}) AS term FROM documents
),
inv0 AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
keep AS (SELECT term FROM inv0 GROUP BY term HAVING count(*) <= {MAX_TERM_DF}),
inv AS (SELECT inv0.doc_id, inv0.term, inv0.tf FROM inv0 JOIN keep USING (term)),
norm AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM inv GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.tf * b.tf) AS dot
  FROM inv a JOIN inv b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
       round(dot / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6) AS cosine
FROM dots
JOIN norm na ON na.doc_id = doc_a
JOIN norm nb ON nb.doc_id = doc_b
WHERE dot / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) >= {COSINE_T}
"""


# --- incremental near-dup: new batch vs a persisted fingerprint store ---

INC_BANDS = N_MINHASH_FAST  # one-row xxhash64 bands; same recall math

# (session, store root) per sf_dir; plus the cached new-batch shingles so
# repeated calls don't re-run the pandas shingle pass (see _doc_shingles)
_NEARDUP_STORE: dict[str, tuple[SparkSession, str]] = {}
_INC_NEW_SH: dict[str, tuple[SparkSession, DataFrame]] = {}


def _neardup_store(spark: SparkSession, sf_dir: str) -> str:
    """Persist the near-dup FINGERPRINT STORE for the "existing" corpus
    half (even doc_ids): filtered shingles, one-row LSH band keys, and
    the stop-shingle list. This is the state a production pipeline keeps
    between ingest batches -- all three tables are append-only (a new
    batch's rows are appended after it is admitted; the stop list is
    refreshed by a df-delta merge: the batch's per-shingle df added to
    the stored counts)."""
    hit = _NEARDUP_STORE.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1]
    from ._util import scratch_root, scratch_slug

    root = f"{scratch_root()}/neardup_store_{scratch_slug(sf_dir)}"
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    sh0 = docs.select(
        "doc_id", F.explode(shingles_pd("text", SHINGLE_K)).alias("shingle")
    ).persist()
    stop = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    stop.write.mode("overwrite").parquet(f"{root}/stop")
    (
        sh0.join(F.broadcast(spark.read.parquet(f"{root}/stop")), "shingle", "left_anti")
        .select("doc_id", "shingle")
        .write.mode("overwrite")
        .parquet(f"{root}/shingles")
    )
    sh0.unpersist()
    stored_sh = spark.read.parquet(f"{root}/shingles")
    sigs = stored_sh.groupBy("doc_id").agg(*minhash_cols_fast("shingle", INC_BANDS))
    _band_rows(sigs, INC_BANDS).write.mode("overwrite").parquet(f"{root}/bands")
    # per-doc shingle counts, persisted at BUILD time: ingest-batch
    # verification needs every candidate store-doc's size, and deriving
    # it per batch re-aggregated the ENTIRE store -- O(store) per batch
    # where the incremental contract promises O(delta)
    (
        stored_sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .write.mode("overwrite")
        .parquet(f"{root}/sizes")
    )
    _NEARDUP_STORE[sf_dir] = (spark, root)
    return root


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission check: a NEW batch (odd doc_ids)
    screened against the persisted fingerprint store of the EXISTING
    corpus (even doc_ids) -- without ever re-pairing the existing corpus
    against itself.

    This is the operation that makes near-dup dedup viable as a
    CONTINUOUS 100 TB pipeline rather than a one-shot batch job: per
    ingest batch the work is (1) shingle + sign the batch only, (2) one
    equi-join of the batch's band keys against the band store (delta
    shuffles to the store; at scale the store is bucketed by band key so
    only the delta moves -- the ``bucketed_join_no_shuffle`` layout), and
    (3) exact-Jaccard verification of the candidates, touching only the
    store shingles of candidate docs. Nothing is ever recomputed for the
    existing corpus; the store grows append-only.

    Stop-shingle semantics are the store's (df cap over the EXISTING
    half, applied to both sides) -- the incremental-maintenance contract:
    a batch is screened against the state as of its arrival. The oracle
    mirrors this exactly, computing the exact cross-half Jaccard pairs
    with the even-side stop list; output equals that exact pair set
    because verification is exact and a one-row-band miss of a
    J >= {JACCARD_T} pair has probability <= 2^-{INC_BANDS} (same
    argument as ``minhash_lsh_pairs_fast``)."""
    root = _neardup_store(spark, sf_dir)
    hit = _INC_NEW_SH.get(sf_dir)
    if hit is not None and hit[0] is spark:
        nsh = hit[1]
    else:
        new_docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 1)
        stop = spark.read.parquet(f"{root}/stop")
        nsh = (
            new_docs.select(
                "doc_id", F.explode(shingles_pd("text", SHINGLE_K)).alias("shingle")
            )
            .join(F.broadcast(stop), "shingle", "left_anti")
            .select("doc_id", "shingle")
            .cache()
        )
        nsh.count()  # materialize: the pandas shingle pass must run once
        _INC_NEW_SH[sf_dir] = (spark, nsh)
    nbanded = _band_rows(
        nsh.groupBy("doc_id").agg(*minhash_cols_fast("shingle", INC_BANDS)), INC_BANDS
    )
    obanded = spark.read.parquet(f"{root}/bands")
    cand = (
        obanded.alias("x")
        .join(nbanded.alias("y"), ["band_j", "band_v"])
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # Cross-half sized verification, O(delta) per batch: doc_a is always
    # a STORE doc and doc_b always a BATCH doc, so intersection joins the
    # candidate set (broadcast -- it is the tiny product of band
    # collisions) against the store shingles without shuffling the store,
    # and per-doc sizes come from the build-time {root}/sizes table plus
    # a batch-only aggregate -- the previous sh_all groupBy re-aggregated
    # the ENTIRE store every ingest batch.
    store_sh = spark.read.parquet(f"{root}/shingles")
    inter = (
        F.broadcast(cand)
        .join(store_sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(nsh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = spark.read.parquet(f"{root}/sizes").select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")
    )
    sz_b = (
        nsh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz_b"))
        .select(F.col("doc_id").alias("doc_b"), "sz_b")
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


SQL_INC_LSH = f"""
WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
she0 AS (SELECT doc_id, unnest({sql_shingles('text', SHINGLE_K)}) AS shingle FROM ex),
stop AS (SELECT shingle FROM she0 GROUP BY 1 HAVING count(*) > {MAX_SHINGLE_DF}),
she AS (
  SELECT doc_id, shingle FROM she0
  WHERE shingle NOT IN (SELECT shingle FROM stop)
),
shn0 AS (SELECT doc_id, unnest({sql_shingles('text', SHINGLE_K)}) AS shingle FROM nw),
shn AS (
  SELECT doc_id, shingle FROM shn0
  WHERE shingle NOT IN (SELECT shingle FROM stop)
),
sza AS (SELECT doc_id, count(*) AS sz FROM she GROUP BY 1),
szb AS (SELECT doc_id, count(*) AS sz FROM shn GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM she a JOIN shn b USING (shingle)
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sza sa ON sa.doc_id = doc_a
JOIN szb sb ON sb.doc_id = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= {JACCARD_T}
"""


# --- span-level exact dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" -- the ExactSubstr family) ---

K_SPAN = 10  # minimum duplicated span length, in tokens


def span_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated spans of >= K_SPAN tokens across the corpus --
    the span-level counterpart to document-level exact/near dedup (a
    training pipeline CLIPS these spans rather than dropping whole
    documents; Lee et al. 2022 measure the doc-level families missing
    most duplicated text).

    The suffix-array scan of the paper is re-expressed as sorted-shingle
    run detection, which IS the distributable shape of the problem:

    1. every overlapping K-token gram with its position
       (``posexplode`` over a builtin-HOF gram array -- no Python);
    2. grams occurring >= 2 times anywhere (same or different doc) via
       ``groupBy(gram)`` -- partial map-side counts absorb hot grams,
       the same skew argument as :func:`_doc_shingles`'s df cap;
    3. each occurrence row rejoins its gram's verdict (shuffle join on
       gram -- the duplicated-gram set scales with the corpus, so it is
       deliberately NOT broadcast);
    4. per-doc runs of consecutive duplicated positions merge into
       maximal spans (lag/sum window + groupBy, both keyed by doc --
       this phase touches only duplicated occurrences, a small fraction
       of the corpus).

    Returns one row per maximal span: ``(doc_id, span_start, span_len)``
    in 0-based token positions. A span of exactly K_SPAN means an
    isolated duplicated gram; longer spans are merged runs. The two
    corpus-sized shuffles (by gram, by doc) are the suffix-grouping
    cost any exact-substring dedup pays; SCALE.md covers the shape."""
    return _span_runs(_span_grams(spark, sf_dir, hashed=False))


def span_exact_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100-TB scale path of :func:`span_exact_dedup`
    (SCALE.md): identical plan, but the gram shuffled corpus-wide --
    twice, through the groupBy(gram) count and the occurrence rejoin --
    is ``xxhash64`` over the K-token slice (8 bytes) instead of the
    ~K-token joined STRING (~10x the corpus token bytes). The gram text
    itself is never returned, only positions, so the hash cuts both
    shuffles' width roughly K-fold with no change to the output columns.

    Collision trade-off: a 64-bit collision between two DISTINCT grams
    falsely marks their positions duplicated, clipping one spurious
    >=K-token span -- harmless for training-data clipping, and at
    fixture-to-sf1 scales the probability is ~n^2/2^64 (negligible). The
    string-gram version stays registered as the exactness baseline; this
    twin is oracle-checked (hash-match) against the SAME exact-string
    DuckDB SQL, so any fixture-scale collision would fail the driver."""
    return _span_runs(_span_grams(spark, sf_dir, hashed=True))


def _span_grams(spark: SparkSession, sf_dir: str, *, hashed: bool) -> DataFrame:
    """(doc_id, pos, gram) for every overlapping K_SPAN-token gram --
    builtin-HOF only (posexplode over transform/slice, no Python). The
    gram key is the joined token string (exact baseline) or its xxhash64
    (scale path; 8-byte shuffle key). The scan fans out first (guide
    section 2.5): tokenizing + per-position gram construction is heavy
    per row and a single-row-group corpus would pin it to one task."""
    docs = fan_out_table(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir,
        "documents",
    )
    t = docs.select("doc_id", tokens("text").alias("toks")).where(
        F.size("toks") >= K_SPAN
    )

    def gram(i: F.Column) -> F.Column:
        sl = F.slice("toks", i + F.lit(1), F.lit(K_SPAN))
        return F.xxhash64(sl) if hashed else F.concat_ws(" ", sl)

    return t.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.size("toks") - K_SPAN), gram)
        ).alias("pos", "gram"),
    )


def _span_runs(g: DataFrame) -> DataFrame:
    """Dup-mark + run-merge phases shared by :func:`span_exact_dedup` and
    its hashed fast twin; *g* is the (doc_id, pos, gram) frame."""
    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= 2)
        .select("gram")
    )
    marked = g.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) == 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("run_id", F.sum("brk").over(w))
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + K_SPAN).cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )


SQL_SPAN_EXACT_DEDUP = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(toks[i:i+{K_SPAN}-1], ' ') AS gram
  FROM t, unnest(range(1, len(toks) - {K_SPAN} + 2)) AS u(i)
  WHERE len(toks) >= {K_SPAN}
),
d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
m AS (SELECT doc_id, pos FROM g JOIN d USING (gram)),
r AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
              THEN 0 ELSE 1 END AS brk
  FROM m
),
runs AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
  FROM r
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) - MIN(pos) + {K_SPAN} AS BIGINT) AS span_len
FROM runs
GROUP BY doc_id, run_id
"""


def register(reg: Registry) -> None:
    reg.add("dedup_exact", dedup_exact, SQL_DEDUP_EXACT, "exact md5 dedup groups")
    reg.add(
        "span_exact_dedup",
        span_exact_dedup,
        SQL_SPAN_EXACT_DEDUP,
        "maximal repeated >=10-token spans (ExactSubstr span-level dedup)",
    )
    reg.add(
        "span_exact_dedup_fast",
        span_exact_dedup_fast,
        SQL_SPAN_EXACT_DEDUP,
        "xxhash64-gram scale path of span_exact_dedup, hash-match-oracled "
        "against the exact string-gram SQL (8-byte shuffle keys)",
    )
    reg.add(
        "dedup_incremental_lsh",
        dedup_incremental_lsh,
        SQL_INC_LSH,
        "incremental near-dup: new batch LSH-screened vs persisted store",
    )
    reg.add("dedup_apply", dedup_apply, SQL_DEDUP_APPLY, "deduped corpus (kept docs)")
    reg.add("ngram_jaccard_pairs", ngram_jaccard_pairs, SQL_NGRAM_JACCARD, "exact 5-gram Jaccard pairs")
    reg.add("minhash_lsh_pairs", minhash_lsh_pairs, SQL_MINHASH_LSH, "MinHash-LSH verified pairs")
    reg.add(
        "neardup_components",
        neardup_components,
        SQL_NEARDUP_COMPONENTS,
        "connected components over LSH pairs (iterative label propagation)",
    )
    reg.add(
        "dedup_apply_neardup",
        dedup_apply_neardup,
        SQL_DEDUP_APPLY_NEARDUP,
        "near-dup-deduped corpus (component representatives kept)",
    )
    reg.add(
        "neardup_cluster_sizes",
        neardup_cluster_sizes,
        SQL_NEARDUP_CLUSTER_SIZES,
        "near-dup cluster-size distribution (dedup QA report)",
    )
    reg.add(
        "dedup_keep_best",
        dedup_keep_best,
        _sql_dedup_keep_best(),
        "near-dup dedup keeping the highest-quality member per component",
    )
    reg.add("simhash", simhash, SQL_SIMHASH, "64-bit SimHash sketch per doc")
    reg.add(
        "simhash_neardup_pairs",
        simhash_neardup_pairs,
        _sql_simhash_neardup(),
        "banded SimHash near-dup pairs (16-bit buckets + Hamming verify)",
    )
    reg.add(
        "minhash_cols_fast",
        minhash_signatures_fast,
        None,
        "xxhash64 MinHash signatures (scale path; rows-only check -- "
        "value-verified via minhash_lsh_pairs_fast)",
    )
    reg.add(
        "tf_cosine_pairs",
        tf_cosine_pairs,
        SQL_TF_COSINE,
        "TF-vector cosine pairs via inverted-index self-join (df-capped)",
    )
    reg.add(
        "minhash_lsh_pairs_fast",
        minhash_lsh_pairs_fast,
        SQL_NGRAM_JACCARD,
        "xxhash64 LSH pairs, exact-verified: hash-green oracle for the fast path",
    )
    reg.add(
        "prefix_hamming_pairs",
        prefix_hamming_pairs,
        SQL_PREFIX_HAMMING,
        "PassJoin segment banding + exact Hamming verify (fuzzy string join)",
    )
    reg.add(
        "prefix_edit_pairs",
        prefix_edit_pairs,
        SQL_PREFIX_EDIT,
        "PassJoin segment/window banding + levenshtein verify (edit distance <= 3)",
    )


# --- PassJoin-style fuzzy string join: segment banding + Hamming verify ---

PREF_LEN = 40  # compare fixed-length document prefixes
HAM_MAX = 6  # near-dup iff <= 6 character substitutions
HAM_CHUNKS = HAM_MAX + 1  # pigeonhole: ham <= K forces >= 1 equal chunk


def _strided_chunk(i: int):
    """Chunk i = the characters at positions congruent to i mod HAM_CHUNKS
    (1-indexed), concatenated. STRIDED position classes, not contiguous
    segments: contiguous chunks make chunk 0 the first ~6 characters, and
    real corpora share leading words, so that bucket goes pathologically
    hot (measured 437k candidates at sf0.1, hottest bucket 197 docs).
    Interleaved classes sample the whole prefix, so a chunk key only
    repeats when two prefixes agree on every 7th character -- near-
    uniform buckets (measured 1,960 candidates, hottest bucket 5). The
    pigeonhole guarantee is untouched: the classes partition positions,
    ham <= HAM_MAX touches at most HAM_MAX classes, so >= 1 class is
    IDENTICAL."""
    return F.concat_ws(
        "", *[F.substring("s", p, 1) for p in range(i + 1, PREF_LEN + 1, HAM_CHUNKS)]
    )


def prefix_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-duplicate prefixes: document pairs whose first
    ``PREF_LEN`` characters differ in at most ``HAM_MAX`` positions.

    The scale shape is the PassJoin segment-banding family (Li et al.,
    VLDB'11), specialized to Hamming distance where it is exactly
    lossless: partition the positions into ``HAM_MAX + 1`` interleaved
    classes (see :func:`_strided_chunk`) -- if two prefixes differ in
    <= HAM_MAX positions, pigeonhole forces at least one class to be
    IDENTICAL, so candidates come from equi-joins on
    (class_index, class_text) and the join cost is bucket occupancy, not
    all-pairs. Survivors are verified with an exact
    character-wise Hamming computed via ``zip_with`` + ``aggregate``
    higher-order functions -- JVM-side, no Python. The same
    band-then-verify discipline as the MinHash/SimHash operators, applied
    to raw strings (the fuzzy-match building block of entity resolution
    and OCR-noise dedup).

    Oracle: DuckDB's native ``hamming()`` over the brute-force pair space
    -- the composition is checked against a first-class implementation.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= PREF_LEN)
        .select("doc_id", F.substring("text", 1, PREF_LEN).alias("s"))
        # ASCII-only guard (octet_length == char length): the positional
        # character compare below and DuckDB's byte-wise hamming() only
        # agree when every character is single-byte. Non-ASCII prefixes
        # (none in the synthetic corpus, but real corpora have them) are
        # excluded IDENTICALLY on both engines rather than silently
        # diverging; a multibyte-aware variant would band on code points.
        .where(F.octet_length("s") == F.length("s"))
    )
    chunks = docs.select(
        "doc_id",
        "s",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("ci"), _strided_chunk(i).alias("ck"))
                    for i in range(HAM_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "s", F.col("c.ci").alias("ci"), F.col("c.ck").alias("ck"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    # Verify BEFORE dedup: the character compare is ~PREF_LEN cheap JVM
    # ops per candidate, and filtering first means the distinct() only
    # shuffles true pairs (a pair re-verifies once per agreeing class,
    # <= K+1 times -- cheaper than shuffling false candidates).
    ham = F.aggregate(
        F.zip_with(
            F.split(F.col("a.s"), ""),
            F.split(F.col("b.s"), ""),
            lambda x, y: F.when(x == y, F.lit(0)).otherwise(F.lit(1)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("ham"),
        )
        .where(F.col("ham") <= HAM_MAX)
        .distinct()  # a pair can agree on several chunks
    )


SQL_PREFIX_HAMMING = f"""
WITH t AS (
  SELECT doc_id, substr(text, 1, {PREF_LEN}) AS s
  FROM documents WHERE length(text) >= {PREF_LEN}
), t_ascii AS (
  SELECT * FROM t WHERE strlen(s) = length(s)  -- ASCII guard, see Spark side
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(hamming(a.s, b.s) AS INT) AS ham
FROM t_ascii a JOIN t_ascii b ON a.doc_id < b.doc_id AND hamming(a.s, b.s) <= {HAM_MAX}
"""


# --- PassJoin proper: edit-distance <= K via segment/window banding ---

ED_MAX = 3  # near-dup iff levenshtein(prefix_a, prefix_b) <= 3
ED_SEGS = ED_MAX + 1  # pigeonhole: <= K edits leave >= 1 of K+1 segments intact
# The edit variant bands over a LONGER prefix than the Hamming one
# (80 chars -> 20-char segments): segment selectivity is the whole
# scaling story for an equi-banded similarity join, and 10-char segments
# of synthetic prose collide on common words (' customer ' appears in
# 0.7% of docs -> a quadratic hot bucket that measured 50x at the 10x
# scale check). 20-char segments cut the hottest bucket 34 -> 4 and the
# candidate pair mass ~3x at sf0.1, while only ~5% of docs fall under
# the length floor.
ED_PREF_LEN = 80
ED_SEG_LEN = ED_PREF_LEN // ED_SEGS  # 80 // 4 = 20-char segments


def prefix_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join under EDIT distance: document pairs whose first
    ``PREF_LEN`` characters are within ``ED_MAX`` Levenshtein edits --
    the general PassJoin (Li, Deng, Wang, Feng: "PASS-JOIN: A
    Partition-based Method for Similarity Joins", VLDB'11), of which
    :func:`prefix_hamming_pairs` is the substitution-only special case.
    Real OCR / entity-resolution dedup needs this version: insertions
    and deletions shift every later character, which breaks positional
    (Hamming/SimHash-style) banding.

    Candidate generation is segment/window equi-banding: partition each
    prefix into ``ED_SEGS`` contiguous segments; if ed(a, b) <= ED_MAX,
    the <= ED_MAX edited regions touch at most ED_MAX segments, so some
    segment of *a* survives VERBATIM inside *b*, displaced by the net
    insertions/deletions before it -- at most ED_MAX positions either
    way. So every doc emits its ED_SEGS segments (seg side) plus the
    substrings at each segment position shifted by -ED_MAX..+ED_MAX (win
    side), and candidates come from the (segment_index, text) EQUI-join
    of seg against win -- hash-partitionable, no cartesian, plan-asserted
    in tests/test_plans.py. Survivors verify with the built-in
    ``levenshtein`` (JVM codegen); verification runs after pair-distinct
    because the O(L^2) DP is the expensive step here, the reverse of the
    cheap-compare-first ordering the Hamming variant uses.

    ASCII guard as in :func:`prefix_hamming_pairs` (both engines must
    count positions identically). Oracle: DuckDB's native
    ``levenshtein()`` over the brute-force pair space.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= ED_PREF_LEN)
        .select("doc_id", F.substring("text", 1, ED_PREF_LEN).alias("s"))
        .where(F.octet_length("s") == F.length("s"))
    )
    starts = [1 + i * ED_SEG_LEN for i in range(ED_SEGS)]  # 1-based
    seg = docs.select(
        "doc_id",
        "s",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.substring("s", starts[i], ED_SEG_LEN).alias("ck"),
                    )
                    for i in range(ED_SEGS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "s", F.col("c.ci").alias("ci"), F.col("c.ck").alias("ck"))
    win_keys = []
    for i in range(ED_SEGS):
        for d in range(-ED_MAX, ED_MAX + 1):
            p = starts[i] + d
            if 1 <= p <= ED_PREF_LEN - ED_SEG_LEN + 1:
                win_keys.append(
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.substring("s", p, ED_SEG_LEN).alias("ck"),
                    )
                )
    win = docs.select(
        "doc_id", "s", F.explode(F.array(*win_keys)).alias("c")
    ).select("doc_id", "s", F.col("c.ci").alias("ci"), F.col("c.ck").alias("ck"))
    # Join/shuffle diet (measured 2x at the 10x scale check): band rows
    # carry an 8-byte xxhash64 of (ci, ck) instead of the 20-char segment
    # text (hash equality is a SUPERSET of text equality -- a collision
    # only adds a candidate, and every candidate is verified below), and
    # the candidate relation is bare id PAIRS -- the prefix strings are
    # re-attached AFTER pair-distinct, so the dedup shuffle moves 16-byte
    # rows, not 160 bytes of carried text.
    seg_k = seg.select("doc_id", F.xxhash64("ci", "ck").alias("bk"))
    win_k = win.select("doc_id", F.xxhash64("ci", "ck").alias("bk"))
    a, b = seg_k.alias("a"), win_k.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        # normalize the unordered pair (the surviving segment may belong
        # to either side, so both orientations reach here)
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()  # dedup candidates BEFORE the O(L^2) edit-distance DP
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("editd", F.levenshtein("s_a", "s_b").cast("int"))
        .where(F.col("editd") <= ED_MAX)
        .select("doc_a", "doc_b", "editd")
    )


SQL_PREFIX_EDIT = f"""
WITH t AS (
  SELECT doc_id, substr(text, 1, {ED_PREF_LEN}) AS s
  FROM documents WHERE length(text) >= {ED_PREF_LEN}
), t_ascii AS (
  SELECT * FROM t WHERE strlen(s) = length(s)  -- ASCII guard, see Spark side
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.s, b.s) AS INT) AS editd
FROM t_ascii a JOIN t_ascii b
  ON a.doc_id < b.doc_id AND levenshtein(a.s, b.s) <= {ED_MAX}
"""
