"""Corpus-shaping operators: the steps between raw documents and a
training set -- quality filtering, deterministic sampling, and
context-window chunking.

These close the loop the per-doc feature operators (``textstats.py``)
open: features -> *apply* the policy and hand back a corpus. All three are
narrow per-row transforms (zero shuffle, trivially parallel at 100 TB),
pure Column expressions, each with an exact DuckDB oracle.

Design rules these encode for scale:

- **Filters are plain predicates** over already-defined feature
  expressions -- no materialized intermediate "scores table" to join back
  (that's a shuffle a 100 TB pipeline doesn't need to pay).
- **Sampling is content-hash-based, never random()**: reproducible across
  retries, executors, and engines; the keep/drop decision of any document
  is a pure function of its id, so reruns and incremental loads agree --
  the standard trick for train/eval splits and down-sampling in LLM data
  pipelines. ``TABLESAMPLE``/``F.rand`` give none of those guarantees.
- **Chunking is a 1->N narrow expansion** (sequence + slice in one
  projection), the same shape as ``multimodal_frame_sample`` but at token
  granularity with overlap -- what context-window packing actually does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import ngrams_pd, shingles_pd, sql_ngrams, sql_shingles
from ..functions.text import SQL_TOKENS, tokens
from ..registry import Registry
from ..sources.catalog import load_table
from .textstats import _sql_text_quality, text_quality

# quality_filter_apply policy (chosen to keep a non-trivial subset of the
# synthetic corpus while exercising every feature column)
MIN_TOKENS = 20
MAX_PUNCT_RATIO = 0.10
MIN_QUALITY = 0.5

# sample_stratified: per-stratum keep-rate in percent
SAMPLE_PCT = 30

# doc_chunks: context-window size/stride in tokens (16-token overlap)
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def quality_filter_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-filtered corpus: ``text_quality`` features computed and
    the keep-policy applied in one narrow pass (predicates on the feature
    expressions themselves -- no scores-table join-back)."""
    q = text_quality(spark, sf_dir)
    return q.where(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("punct_ratio") <= MAX_PUNCT_RATIO)
        & (F.col("quality_score") >= MIN_QUALITY)
    )


def _sql_quality_filter() -> str:
    return f"""
SELECT * FROM ({_sql_text_quality()})
WHERE n_tokens >= {MIN_TOKENS}
  AND punct_ratio <= {MAX_PUNCT_RATIO}
  AND quality_score >= {MIN_QUALITY}
"""


def _hash_bucket(col, hex_chars: int, mod: int) -> F.Column:
    """Deterministic [0, *mod*) bucket from the md5 of a key column: the
    first *hex_chars* hex chars as an integer, mod *mod*. THE one
    spelling of the determinism-critical sampling primitive (DuckDB
    twin: :func:`_sql_hash_bucket`; same ``'0x' || substr(md5(..))``
    trick as the multimodal frame fingerprints) -- every sampler/splitter
    derives from it, so the two engines cannot drift per-sampler."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, hex_chars), 16, 10).cast(
            "long"
        )
        % mod
    )


def _sql_hash_bucket(expr: str, hex_chars: int, mod: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, {hex_chars}))"
        f" AS BIGINT) % {mod}"
    )


def _hash_pct(col) -> F.Column:
    """Deterministic [0, 100) bucket (see :func:`_hash_bucket`)."""
    return _hash_bucket(col, 8, 100)


def _sql_hash_pct(expr: str) -> str:
    return _sql_hash_bucket(expr, 8, 100)


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {PCT}% sample of every (lang, source) stratum: a doc
    is kept iff ``hash(doc_id) % 100 < PCT``. Per-stratum rates stay
    proportional because the hash is independent of the strata; the
    decision is reproducible (pure function of doc_id) and consistent
    across engines, reruns and incremental arrivals -- none of which
    ``F.rand``/``TABLESAMPLE`` guarantee. Narrow: a filter, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        _hash_pct(F.col("doc_id")).alias("hash_bucket"),
    ).where(F.col("hash_bucket") < SAMPLE_PCT)


SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang, source, n_chars,
       {_sql_hash_pct('doc_id')} AS hash_bucket
FROM documents
WHERE {_sql_hash_pct('doc_id')} < {SAMPLE_PCT}
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document's token array split into
    {CHUNK_TOKENS}-token windows every {CHUNK_STRIDE} tokens (16-token
    overlap), emitted one row per chunk with its re-joined text. The 1->N
    expansion is ``explode(sequence(..))`` + ``slice`` in a single
    projection -- narrow, no Python, no shuffle; the chunk count per doc
    is ``floor((n_tokens-1)/stride)+1``."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    n = F.size("toks")
    chunked = docs.where(n > 0).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.floor((n - 1) / CHUNK_STRIDE).cast("int"))
        ).alias("chunk_idx"),
    )
    piece = F.slice("toks", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def _sql_doc_chunks() -> str:
    toks = SQL_TOKENS.format(col="text")
    piece = (
        f"toks[chunk_idx * {CHUNK_STRIDE} + 1 :"
        f" chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}]"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, (len(toks) - 1) // {CHUNK_STRIDE} + 1)) AS chunk_idx
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len({piece}) AS BIGINT) AS n_chunk_tokens,
       array_to_string({piece}, ' ') AS chunk_text
FROM idx
"""


# decontaminate: shingle width + the deterministic pseudo-benchmark slice
DECON_K = 5
BENCH_MOD = 50

# ngram_counts: n-gram width and table size
NGRAM_N = 2
NGRAM_TOP = 100


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    {K}-token shingle with a benchmark set (here the deterministic
    ``doc_id % {MOD} == 0`` slice stands in for an eval suite).

    The at-scale shape is the point: a real benchmark set is tiny and
    FIXED-size relative to a 100 TB corpus, so its shingle set
    broadcasts and the overlap check is a broadcast join on the
    corpus-shingle stream -- no shuffle of the corpus. The stand-in
    slice here is proportional (2%) rather than fixed, so the broadcast
    is left to AQE's size estimate instead of a hard ``F.broadcast``
    hint: at fixture scale AQE broadcasts it (same plan), while a
    corpus-proportional side at 100 TB degrades to a shuffle join
    instead of OOMing every executor on a forced 2 TB broadcast.
    Output: one row per contaminated (doc, benchmark doc) pair with the
    number of distinct shared shingles."""
    docs = load_table(spark, sf_dir, "documents")
    # shingles_pd dedups per doc already, so the exploded (id, shingle)
    # rows are unique -- no .distinct() (which would shuffle the corpus,
    # exactly what this operator's design avoids)
    bench = docs.where(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.explode(shingles_pd("text", DECON_K)).alias("shingle"),
    )
    corpus = docs.where(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", F.explode(shingles_pd("text", DECON_K)).alias("shingle")
    )
    return (
        corpus.join(bench, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


SQL_DECONTAMINATE = f"""
WITH bench AS (
  SELECT doc_id AS bench_id, unnest({sql_shingles('text', DECON_K)}) AS shingle
  FROM documents WHERE doc_id % {BENCH_MOD} = 0
),
corpus AS (
  SELECT doc_id, unnest({sql_shingles('text', DECON_K)}) AS shingle
  FROM documents WHERE doc_id % {BENCH_MOD} <> 0
)
SELECT doc_id, bench_id, count(*) AS n_shared
FROM corpus JOIN bench USING (shingle)
GROUP BY doc_id, bench_id
"""


def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency table (top {TOP} bigrams): the LM
    prep statistic. True occurrence counts -- ``ngrams_pd`` keeps
    duplicates within a document (``shingles_pd`` would dedup per doc and
    silently turn this into a document-frequency table). Explode the
    per-doc n-gram stream, one two-phase count aggregate keyed by the
    n-gram (uniform hash key, no skew beyond natural frequency),
    TakeOrdered for the top slice with the n-gram itself as the unique
    tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(ngrams_pd("text", NGRAM_N)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(NGRAM_TOP)
    )


SQL_NGRAM_COUNTS = f"""
SELECT ngram, count(*) AS n
FROM (SELECT unnest({sql_ngrams('text', NGRAM_N)}) AS ngram FROM documents)
GROUP BY ngram
ORDER BY n DESC, ngram ASC
LIMIT {NGRAM_TOP}
"""


PMI_MIN_COUNT = 5  # collocations need support before PMI is meaningful
PMI_TOP = 20


def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PMI_TOP`` bigram collocations by pointwise mutual
    information, PMI(a,b) = ln( p(ab) / (p(a) p(b)) ) -- the classic
    corpus-linguistics association score that separates real phrases
    from chance co-occurrence (raw counts, `ngram_counts`, rank "of the"
    first; PMI ranks the pairs that co-occur MORE than their unigram
    frequencies predict). Bigrams below ``PMI_MIN_COUNT`` occurrences
    are excluded (low-support PMI is noise -- the standard guard).

    Unigrams come from the SAME tokenizer as the bigram pieces
    (``ngrams_pd(text, 1)``), so probabilities share one vocabulary by
    construction. Shape at scale: two count aggregates (bigram-keyed,
    term-keyed), two equi-joins of the filtered bigram table against the
    unigram table, two scalar totals broadcast -- all linear in corpus
    size; the support filter keeps the joined relation to the frequent
    tail. Every probability is a ratio of exact counts; the PMI is one
    double expression rounded to 6, ordered with the bigram itself as
    the unique tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    bg_all = (
        docs.select(F.explode(ngrams_pd("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ug = (
        docs.select(F.explode(ngrams_pd("text", 1)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    b_tot = bg_all.agg(F.sum("n_ab").alias("b"))
    n_tot = ug.agg(F.sum("n_t").alias("n"))
    bg = bg_all.where(F.col("n_ab") >= PMI_MIN_COUNT).select(
        "bigram",
        "n_ab",
        F.split("bigram", " ")[0].alias("w1"),
        F.split("bigram", " ")[1].alias("w2"),
    )
    a = ug.select(F.col("term").alias("w1"), F.col("n_t").alias("n_a"))
    c = ug.select(F.col("term").alias("w2"), F.col("n_t").alias("n_b"))
    pmi = F.log(
        (F.col("n_ab") / F.col("b"))
        / ((F.col("n_a") / F.col("n")) * (F.col("n_b") / F.col("n")))
    )
    return (
        bg.join(a, "w1")
        .join(c, "w2")
        .crossJoin(F.broadcast(b_tot))
        .crossJoin(F.broadcast(n_tot))
        .select("bigram", "n_ab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(PMI_TOP)
    )


SQL_COLLOCATIONS_PMI = f"""
WITH bgc AS (
  SELECT bigram, count(*) AS n_ab
  FROM (SELECT unnest({sql_ngrams('text', 2)}) AS bigram FROM documents)
  GROUP BY bigram
),
ugc AS (
  SELECT term, count(*) AS n_t
  FROM (SELECT unnest({sql_ngrams('text', 1)}) AS term FROM documents)
  GROUP BY term
),
btot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS b FROM bgc),
ntot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM ugc)
SELECT bigram, n_ab,
       round(ln((n_ab * 1.0 / b) /
                ((a.n_t * 1.0 / n) * (c.n_t * 1.0 / n))), 6) AS pmi
FROM bgc
JOIN ugc a ON a.term = split_part(bigram, ' ', 1)
JOIN ugc c ON c.term = split_part(bigram, ' ', 2), btot, ntot
WHERE n_ab >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, bigram ASC
LIMIT {PMI_TOP}
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals, the token-level form of the
    Gopher/Dolma repetitious-text rules: ``top_bigram_frac`` (occurrences
    of the single most frequent bigram over all bigram occurrences) and
    ``dup_bigram_frac`` (fraction of bigram occurrences whose bigram
    appears >= 2 times in the doc). High values mark boilerplate/spam for
    the quality filter.

    Two aggregation hops, both two-phase with map-side partials: count by
    (doc_id, bigram) -- a near-unique composite key, no skew -- then
    reduce to one row per doc. Docs with < 2 tokens have no bigrams and
    drop out in both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg = docs.select("doc_id", F.explode(ngrams_pd("text", 2)).alias("bg"))
    counts = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_c"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup_c"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("top_c") / F.col("n_bigrams"), 6).alias("top_bigram_frac"),
            F.round(F.col("dup_c") / F.col("n_bigrams"), 6).alias("dup_bigram_frac"),
        )
    )


SQL_REPETITION_STATS = f"""
WITH bg AS (
  SELECT doc_id, unnest({sql_ngrams('text', 2)}) AS bg FROM documents
),
c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(max(c) / sum(c), 6) AS top_bigram_frac,
       round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) / sum(c), 6) AS dup_bigram_frac
FROM c GROUP BY doc_id
"""


def corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus composition: doc count, char volume and
    token volume -- the mixture table a data-curation run reports before
    and after every shaping step. One two-phase aggregate over a narrow
    projection; the token count rides the same pass (no separate
    tokenize job)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source", "lang", "n_chars", F.size(tokens("text")).alias("n_toks")
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.round(F.sum("n_toks") / F.count(F.lit(1)), 6).alias("avg_tokens"),
        )
    )


SQL_CORPUS_BY_SOURCE = f"""
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len({SQL_TOKENS.format(col='text')})) AS BIGINT) AS total_tokens,
       round(sum(len({SQL_TOKENS.format(col='text')})) / count(*), 6) AS avg_tokens
FROM documents GROUP BY source, lang
"""


# doc_pack_greedy: token budget of one packed training sequence
PACK_BUDGET = 256

# blocklist_scan: policy term list + per-doc hit threshold
BLOCKLIST = ("customer", "vector", "stream")
BLOCK_MAX_HITS = 2

# sample_balanced_lang: hash-bucket resolution for per-language keep rates
BALANCE_BUCKETS = 1_000_000


def _pack_window_cols(df):
    """start_tok/pack_id columns from the per-source exclusive token
    cumsum -- THE packing definition, shared by ``doc_pack_greedy`` and
    ``pipeline_end_to_end`` so the two can never drift. Input needs
    (doc_id, source, n_tok)."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return start.alias("start_tok"), F.floor(start / PACK_BUDGET).alias("pack_id")


_SQL_START_TOK = (
    "CAST(coalesce(sum(n_tok) OVER ("
    "PARTITION BY source ORDER BY doc_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
)
_SQL_PACK_ID = f"CAST(floor({_SQL_START_TOK} / {PACK_BUDGET}) AS BIGINT)"


def _balance_keep(docs):
    """Language-balanced subset of ``docs`` (needs doc_id + lang): the
    per-language keep-rate table (min count / count, integer bucket
    edges) broadcast back over the corpus -- THE balancing definition,
    shared by ``sample_balanced_lang`` and ``pipeline_end_to_end``."""
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    target = counts.agg(F.min("cnt").alias("target"))
    rates = counts.join(F.broadcast(target)).select(
        F.col("lang").alias("r_lang"),
        F.floor(F.lit(BALANCE_BUCKETS) * F.col("target") / F.col("cnt")).alias("keep_below"),
    )
    bucket = _hash_bucket(F.col("doc_id"), 8, BALANCE_BUCKETS)
    return (
        docs.join(F.broadcast(rates), docs.lang == F.col("r_lang"))
        .where(bucket < F.col("keep_below"))
        .drop("r_lang", "keep_below")
    )


def _sql_balance_ctes(src: str) -> str:
    """counts/rates CTE bodies for the SQL twin of :func:`_balance_keep`
    over relation ``src`` (compose inside a WITH chain)."""
    return f"""counts AS (
  SELECT lang, count(*) AS cnt FROM {src} GROUP BY 1
), rates AS (
  SELECT lang, CAST(floor({BALANCE_BUCKETS} * (SELECT min(cnt) FROM counts) / cnt) AS BIGINT) AS keep_below
  FROM counts
)"""


_SQL_BALANCE_BUCKET = _sql_hash_bucket("doc_id", 8, BALANCE_BUCKETS)


def doc_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document to the fixed-token-budget
    training pack where its text starts, concat-and-split style (docs
    are laid end-to-end in doc_id order and a pack boundary falls every
    {PACK_BUDGET} tokens). The assignment is the exclusive running token
    sum integer-divided by the budget -- one window cumsum, fully
    deterministic, no Python.

    Scale shape: the cumsum partitions by ``source``, so packing
    parallelizes across sources instead of serializing the corpus
    through one global running total (a global ORDER BY window is a
    single-task bottleneck at 100 TB; per-shard packing is what real
    pretraining pipelines do -- packs never need to cross shard
    boundaries)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tok")
    )
    start_tok, pack_id = _pack_window_cols(docs)
    return docs.select("doc_id", "source", "n_tok", start_tok, pack_id)


_SQL_DOC_TOKENS = SQL_TOKENS.format(col="text")

SQL_PACK = f"""
SELECT doc_id, source, n_tok, {_SQL_START_TOK} AS start_tok,
       {_SQL_PACK_ID} AS pack_id
FROM (
  SELECT doc_id, source, len({_SQL_DOC_TOKENS}) AS n_tok FROM documents
)
"""


def blocklist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-policy scan: per-document count of blocklisted terms and the
    resulting keep/drop flag. The hit count is a higher-order filter
    over the token array inside one narrow projection -- no explode, no
    shuffle, no Python. This is the literal-IN-list form for small
    policy lists; for blocklists too large to inline, the scaled
    sibling is ``decontaminate`` (broadcast join against the exploded
    term set)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hits = F.size(
        F.filter(tokens("text"), lambda t: t.isin(*BLOCKLIST))
    )
    return docs.select(
        "doc_id",
        hits.alias("block_hits"),
        (hits <= BLOCK_MAX_HITS).alias("kept"),
    )


_SQL_BLOCKLIST_IN = ", ".join(f"'{t}'" for t in BLOCKLIST)

SQL_BLOCKLIST = f"""
SELECT doc_id,
       len(list_filter({_SQL_DOC_TOKENS}, t -> t IN ({_SQL_BLOCKLIST_IN}))) AS block_hits,
       len(list_filter({_SQL_DOC_TOKENS}, t -> t IN ({_SQL_BLOCKLIST_IN}))) <= {BLOCK_MAX_HITS} AS kept
FROM documents
"""


def sample_balanced_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced resampling: down-sample every language to the
    size of the smallest one, so the kept corpus has a uniform language
    mixture. Each language's keep-rate is ``min_count / count``; the
    keep decision is the same content-hash bucket trick as
    ``sample_stratified`` (reproducible, engine-independent, rerun and
    incremental-load stable) at 1e-6 rate granularity.

    Scale shape: one tiny groupBy builds the per-language rate table
    (thousands of rows at most), broadcast back over the corpus; the
    corpus itself never shuffles. Rates are computed with integer
    arithmetic (``floor(1e6 * min / cnt)``) so both engines make the
    identical keep decision at the bucket boundary."""
    docs = load_table(spark, sf_dir, "documents")
    return _balance_keep(docs).select("doc_id", "lang", "source")


SQL_BALANCED = f"""
WITH {_sql_balance_ctes('documents')}
SELECT doc_id, d.lang, source
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE {_SQL_BALANCE_BUCKET} < keep_below
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user counts per event type
    (``approx_count_distinct``, rsd 2%). The sketch is mergeable, so the
    aggregate stays two-phase: each task shuffles one ~kilobyte sketch
    per group, never the raw user ids -- THE way to count distincts at
    100 TB (exact count-distinct shuffles every distinct value; see
    ``agg_count_distinct`` for the exact twin).

    No DuckDB oracle: HLL estimates are sketch-implementation-specific
    (driver records the rows-only check). ``tests/test_properties.py``
    bounds the relative error against the exact count instead."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


def hll_union_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-VOCABULARY estimates per source plus their cross-source
    UNION, via Apache DataSketches HLL sketch columns
    (``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``) --
    the surface ``approx_count_distinct`` cannot express: there the
    sketch is consumed inside one aggregate; here the per-source sketches
    are first-class VALUES that persist, re-merge, and answer "distinct
    across any source subset" without re-touching the corpus. That
    re-mergeability is the 100 TB vocabulary-tracking pattern: sketch
    each ingest partition once, union kilobytes forever after (token
    sets OVERLAP across sources, so the union row is genuinely less than
    the per-source sum).

    No DuckDB oracle (sketch estimates are implementation-specific;
    driver records the rows-only check); ``tests/test_properties.py``
    bounds every estimate against the exact distinct count instead."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens("text")).alias("term"))
    sk = toks.groupBy("source").agg(F.hll_sketch_agg("term").alias("sk"))
    per_source = sk.select(
        "source", F.hll_sketch_estimate("sk").cast("long").alias("distinct_terms_est")
    )
    union_all = sk.agg(F.hll_union_agg("sk").alias("u")).select(
        F.lit("(all)").alias("source"),
        F.hll_sketch_estimate("u").cast("long").alias("distinct_terms_est"),
    )
    return per_source.unionByName(union_all)


CMS_EPS = 0.0001  # over-estimate slack: eps * total_count
CMS_CONF = 0.99
CMS_SEED = 20240814
CMS_PROBE_KEYS = tuple(range(10))  # partkeys to report (exist at every sf)


def cms_partkey_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for a fixed probe set of
    part keys over ``lineitem`` -- the point-lookup frequency sketch that
    completes the engine's sketch family (HLL distincts, GK quantiles,
    runtime bloom membership, MinHash/SimHash similarity): "how often
    does key X occur in 100 TB" answered from a kilobyte summary.

    Scale shape: ``count_min_sketch`` is a MERGEABLE aggregate -- each
    partition builds a local table, partials merge cell-wise map-side,
    and ONE sketch (not the keys) crosses the wire. The probe step
    deserializes that single sketch driver-side (public
    ``org.apache.spark.util.sketch.CountMinSketch`` API) and reads
    |probe| counters -- the bounded-cardinality driver class (like the
    ANN probe cells). Deterministic: fixed seed, integer counters.

    No DuckDB oracle (sketch layout is implementation-specific); the
    property test bounds every estimate in [exact, exact + eps*N]."""
    li = load_table(spark, sf_dir, "lineitem")
    sk_bytes = (
        li.agg(
            F.count_min_sketch(
                "l_partkey", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
            ).alias("sk")
        ).collect()[0]["sk"]
    )
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(sk_bytes))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    rows = [
        (int(k), int(cms.estimateCount(k)), int(cms.totalCount()))
        for k in CMS_PROBE_KEYS
    ]
    return spark.createDataFrame(
        rows, "l_partkey long, est_count long, total_rows long"
    )


# Error-bound companions for the rows-only sketch queries. Pattern: the
# sketch queries themselves can't have a DuckDB oracle (estimates are
# implementation-specific), but the property each sketch GUARANTEES can --
# compute exact + estimate Spark-side, return (group, exact, bound-holds
# boolean); the oracle is the exact value plus a constant TRUE. TRUE by
# construction at any data size, so the check is hash-green at sf0.001 and
# at 100 TB alike (the ``percentiles_approx_rank_check`` pattern,
# relational.py). The exact aggregates make these VERIFICATION harnesses,
# not production paths: at real scale you run the check on a sampled
# partition; the sketch queries themselves never touch exact distincts.

# The verdict tolerances are deliberately MUCH wider than the sketches'
# nominal error: the oracle hard-codes TRUE, and the driver regenerates
# its dataset every round, so a bound a fresh dataset could legitimately
# breach (a 2-3 sigma ceiling fails a few % of the time) would record a
# spurious correctness red. At >=6 sigma the violation probability is
# negligible for ANY dataset while the checked property stays the
# sketch's real guarantee, just with slack.
APPROX_DISTINCT_RSD = 0.02  # keep in lockstep with approx_distinct_users
APPROX_DISTINCT_TOL = 0.12  # 6-sigma ceiling over rsd=0.02
HLL_REL_TOL = 0.15  # ~9 sigma over default lgK=12 (~1.6% rse)
CMS_SLACK_MULT = 5  # est <= exact + 5*eps*N: per-row P(excess>5 eps N)
#   <= 1/(5e) by Markov; min over depth-5 rows => <~1e-4 per probe key


def approx_distinct_error_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable twin of :func:`approx_distinct_users`: per event
    type, the HLL++ estimate's relative error vs the exact distinct count
    stays under 12% (rsd=0.02, so this is a 6-sigma ceiling -- wide
    enough that no regenerated dataset can flake the constant-TRUE
    oracle; the tight 5% bound lives in tests/test_properties.py). One
    scan: the exact count-distinct (Expand) and the HLL sketch share a
    single aggregate. The returned columns are all oracle-computable:
    the exact count and the bound verdict -- never the estimate itself."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=APPROX_DISTINCT_RSD).alias("est"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.lit(APPROX_DISTINCT_TOL) * F.col("exact_users")
        ).alias("within_bound"),
    )


SQL_APPROX_DISTINCT_CHECK = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


def hll_union_error_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable twin of :func:`hll_union_by_source`: every
    per-source DataSketches estimate AND the re-merged union estimate sit
    within 15% of the exact distinct token count (default lgK=12 is ~1.6%
    rse; 15% is ~9 sigma -- flake-proof against regenerated driver data;
    the tight 5% bound lives in tests/test_properties.py). The
    per-source sketch and the exact distinct
    share ONE aggregate (ObjectHashAggregate carries both -- verified not
    demoted); the union row re-merges the per-source sketches (the
    re-mergeability being checked) and joins the 1-row exact global
    distinct via the engine's 1-row broadcast scalar-join pattern."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens("text")).alias("term"))
    per = toks.groupBy("source").agg(
        F.hll_sketch_agg("term").alias("sk"),
        F.count_distinct("term").alias("exact_terms"),
    )
    def verdict(sk_col: str):
        est = F.hll_sketch_estimate(sk_col).cast("long")
        return (
            F.abs(est - F.col("exact_terms"))
            <= F.lit(HLL_REL_TOL) * F.col("exact_terms")
        ).alias("within_bound")

    per_source = per.select("source", "exact_terms", verdict("sk"))
    union_row = (
        per.agg(F.hll_union_agg("sk").alias("u"))
        .crossJoin(
            F.broadcast(toks.agg(F.count_distinct("term").alias("exact_terms")))
        )
        .select(F.lit("(all)").alias("source"), "exact_terms", verdict("u"))
    )
    return per_source.unionByName(union_row)


SQL_HLL_UNION_CHECK = f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKENS.format(col='text')}) AS term FROM documents
)
SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_terms,
       TRUE AS within_bound
FROM toks GROUP BY source
UNION ALL
SELECT '(all)' AS source, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_terms,
       TRUE AS within_bound
FROM toks
"""


def cms_overestimate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable twin of :func:`cms_partkey_counts`: for every
    probe key, the count-min estimate is (a) never an underestimate --
    TRUE unconditionally for CMS -- and (b) at most
    ``exact + CMS_SLACK_MULT * eps * N`` over (+1 for the integer
    boundary). The nominal CMS bound ``exact + eps*N`` only holds with
    probability ``conf`` per key, so the check multiplies the slack:
    per depth row, P(excess > 5*eps*N) <= 1/(5e) by Markov, and the
    estimate takes the MIN over the depth-5 rows, putting the violation
    probability under ~1e-4 per probe key for any dataset -- safe for
    the constant-TRUE oracle even though the driver regenerates data
    each round. Deterministic per dataset (fixed seed, integer
    counters). The exact counts come from an IN-list-pruned scan (10
    keys), broadcast onto the 10-row probe frame; N comes from the
    sketch's own totalCount."""
    li = load_table(spark, sf_dir, "lineitem")
    sk_bytes = (
        li.agg(
            F.count_min_sketch(
                "l_partkey", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
            ).alias("sk")
        ).collect()[0]["sk"]
    )
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(sk_bytes))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    n = int(cms.totalCount())
    est_df = spark.createDataFrame(
        [(int(k), int(cms.estimateCount(k))) for k in CMS_PROBE_KEYS],
        "l_partkey long, est_count long",
    )
    exact = (
        li.where(F.col("l_partkey").isin(*CMS_PROBE_KEYS))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    joined = est_df.join(F.broadcast(exact), "l_partkey", "left").select(
        "l_partkey",
        F.coalesce(F.col("exact_count"), F.lit(0).cast("long")).alias("exact_count"),
        "est_count",
    )
    slack = CMS_SLACK_MULT * int(CMS_EPS * n) + 1
    return joined.select(
        "l_partkey",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias("lower_ok"),
        (F.col("est_count") <= F.col("exact_count") + F.lit(slack)).alias("upper_ok"),
    )


SQL_CMS_CHECK = f"""
WITH probe(l_partkey) AS (
  VALUES {', '.join(f'({k})' for k in CMS_PROBE_KEYS)}
),
ex AS (
  SELECT l_partkey, COUNT(*) AS c FROM lineitem
  WHERE l_partkey IN ({', '.join(str(k) for k in CMS_PROBE_KEYS)})
  GROUP BY l_partkey
)
SELECT CAST(p.l_partkey AS BIGINT) AS l_partkey,
       CAST(COALESCE(ex.c, 0) AS BIGINT) AS exact_count,
       TRUE AS lower_ok, TRUE AS upper_ok
FROM probe p LEFT JOIN ex ON p.l_partkey = ex.l_partkey
"""


# dataset_split: cumulative per-mille thresholds for train/val/test
SPLIT_TRAIN_PERMILLE = 800
SPLIT_VAL_PERMILLE = 900  # val = [800, 900), test = [900, 1000)


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: the split label
    is a pure function of doc_id (md5 bucket against cumulative
    thresholds), so the same document lands in the same split across
    reruns, engines, and incremental corpus growth -- the property that
    prevents eval contamination when the corpus is rebuilt. Never
    ``randomSplit``: its assignment depends on partitioning and seed
    plumbing, and re-shuffles every run. Narrow: one projection, zero
    shuffle, at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"), 8, 1000)
    split = (
        F.when(bucket < SPLIT_TRAIN_PERMILLE, "train")
        .when(bucket < SPLIT_VAL_PERMILLE, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", "lang", "source", split.alias("split"))


_SQL_SPLIT_BUCKET = _sql_hash_bucket("doc_id", 8, 1000)

SQL_DATASET_SPLIT = f"""
SELECT doc_id, lang, source,
       CASE WHEN {_SQL_SPLIT_BUCKET} < {SPLIT_TRAIN_PERMILLE} THEN 'train'
            WHEN {_SQL_SPLIT_BUCKET} < {SPLIT_VAL_PERMILLE} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus pipeline in ONE composed query -- what a user
    actually runs to turn raw documents into a training manifest:

    1. length floor (the binding part of the quality policy on this
       corpus; the full feature policy is ``quality_filter_apply``),
    2. exact dedup (keep min doc_id per content hash -- one window over
       the uniform md5 key, no join-back),
    3. benchmark decontamination (drop docs sharing any 5-shingle with
       the ``doc_id % {BENCH_MOD} == 0`` eval slice; bench shingles
       broadcast, corpus never shuffles for the check),
    4. language rebalancing (hash-bucket down-sample to the smallest
       surviving language; broadcast rate table),
    5. sequence packing (per-source window cumsum -> pack assignment).

    Emits the manifest: (doc_id, lang, source, n_tok, pack_id). Because
    every stage is deterministic and engine-portable, the five-stage
    composition still has an exact DuckDB oracle -- the property that
    makes the pipeline testable stage-by-stage AND end-to-end.

    Scale shape: stages 1-2 are one narrow pass plus one hash-key
    window; stage 3 adds a broadcast join over the corpus-shingle
    stream; stages 4-5 are a filter and a per-shard window. Total: two
    corpus shuffles (content-hash window, per-source pack window) and
    one broadcast -- no stage materializes an intermediate corpus to
    disk."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", "source", "text", F.size(tokens("text")).alias("n_tok")
    ).where(F.col("n_tok") >= MIN_TOKENS)
    kept = (
        base.withColumn("keep", F.min("doc_id").over(Window.partitionBy(F.md5("text"))))
        .where(F.col("doc_id") == F.col("keep"))
    )
    bench_sh = (
        docs.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode(shingles_pd("text", DECON_K)).alias("shingle"))
        .distinct()
    )
    corpus = kept.where(F.col("doc_id") % BENCH_MOD != 0)
    # no forced broadcast: the stand-in bench slice is corpus-
    # proportional, so the join strategy is left to AQE (see
    # decontaminate's docstring)
    contaminated = (
        corpus.select("doc_id", F.explode(shingles_pd("text", DECON_K)).alias("shingle"))
        .join(bench_sh, "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    sampled = _balance_keep(clean).select("doc_id", "lang", "source", "n_tok")
    _, pack_id = _pack_window_cols(sampled)
    return sampled.select("doc_id", "lang", "source", "n_tok", pack_id)


def _sql_pipeline_end_to_end() -> str:
    toks = SQL_TOKENS.format(col="text")
    sh = sql_shingles("text", DECON_K)
    bucket = _SQL_BALANCE_BUCKET
    return f"""
WITH base AS (
  SELECT doc_id, lang, source, text, len({toks}) AS n_tok
  FROM documents WHERE len({toks}) >= {MIN_TOKENS}
), kept AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM base)
  WHERE doc_id = keep
), bench AS (
  SELECT DISTINCT unnest({sh}) AS shingle FROM documents WHERE doc_id % {BENCH_MOD} = 0
), corpus AS (
  SELECT * FROM kept WHERE doc_id % {BENCH_MOD} <> 0
), contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({sh}) AS shingle FROM corpus) s
  JOIN bench USING (shingle)
), clean AS (
  SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), {_sql_balance_ctes('clean')}, sampled AS (
  SELECT c.doc_id, c.lang, c.source, c.n_tok
  FROM clean c JOIN rates r ON c.lang = r.lang
  WHERE {bucket} < keep_below
)
SELECT doc_id, lang, source, n_tok, {_SQL_PACK_ID} AS pack_id
FROM sampled
"""


def observe_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``df.observe``: the quality filter's
    input-side metrics (row and character counts BEFORE the filter) are
    collected by the SAME job that computes the kept-side aggregate --
    one scan, two answers.

    At 100 TB this is the monitoring pattern: every production pipeline
    wants "rows in / rows kept / volume dropped" per run, and the naive
    form doubles the scan (one action for the metrics, one for the
    result). ``observe`` attaches algebraic aggregates to a plan NODE,
    accumulated as the rows stream through it -- zero extra reads, exact
    values, works identically under streaming (per-batch metrics).
    The returned single row carries both sides; the oracle recomputes
    them with FILTER-clause aggregates in one statement."""
    from pyspark.sql import Observation

    obs = Observation("quality_in")
    q = text_quality(spark, sf_dir).observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double").alias("chars_in"),
    )
    kept = q.where(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("punct_ratio") <= MAX_PUNCT_RATIO)
        & (F.col("quality_score") >= MIN_QUALITY)
    )
    # coalesce both sums: SUM over zero rows is NULL (a corpus where the
    # filter keeps nothing -- or an empty corpus -- crashed float(None)
    # here); the oracle coalesces identically
    kept_row = kept.agg(
        F.count(F.lit(1)).alias("rows_kept"),
        F.coalesce(
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double"), F.lit(0.0)
        ).alias("chars_kept"),
    ).collect()[0]
    m = obs.get  # blocks until the action above finished -> exact totals
    return spark.createDataFrame(
        [
            (
                int(m["rows_in"]),
                float(m["chars_in"] if m["chars_in"] is not None else 0.0),
                int(kept_row["rows_kept"]),
                float(kept_row["chars_kept"]),
            )
        ],
        "rows_in BIGINT, chars_in DOUBLE, rows_kept BIGINT, chars_kept DOUBLE",
    )


def _sql_observe_metrics() -> str:
    return f"""
SELECT count(*) AS rows_in,
       COALESCE(CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE), 0.0)
         AS chars_in,
       count(*) FILTER (n_tokens >= {MIN_TOKENS}
                        AND punct_ratio <= {MAX_PUNCT_RATIO}
                        AND quality_score >= {MIN_QUALITY}) AS rows_kept,
       COALESCE(CAST(SUM(CAST(n_chars AS DECIMAL(18,0)))
            FILTER (n_tokens >= {MIN_TOKENS}
                    AND punct_ratio <= {MAX_PUNCT_RATIO}
                    AND quality_score >= {MIN_QUALITY}) AS DOUBLE), 0.0)
         AS chars_kept
FROM ({_sql_text_quality()})
"""


ROW_ID_PARTS = 8  # range partitions for the two-phase global numbering


def global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row ids (1..N in doc_id order) WITHOUT the
    single-partition sort -- the standard two-phase trick, because the
    naive ``row_number() OVER (ORDER BY doc_id)`` has an empty PARTITION
    BY: Spark must funnel the ENTIRE table through one task, the classic
    100 TB cliff (a training pipeline assigns sample indices exactly this
    way, so the scale-safe spelling matters).

    Phase shape: range-repartition on the order key (a real sort, but
    parallel), local rank within each partition, then ONE tiny driver
    round-trip -- per-partition row counts (#partitions rows, metadata
    scale, the legitimate ``.collect()`` class) turned into prefix-sum
    offsets and mapped back in as a literal expression. Global id =
    partition offset + local rank. The output is independent of where the
    sampled range boundaries land: offsets + local ranks reconstruct the
    global order whatever the split, so the result is deterministic even
    though range sampling is not.

    Oracle: DuckDB's plain ``row_number() OVER (ORDER BY doc_id)`` -- the
    semantics being re-expressed, computed the way a single-node engine
    legitimately can."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ranged = docs.repartitionByRange(ROW_ID_PARTS, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    ranged = ranged.localCheckpoint()  # pin partitioning: pid must not be recomputed
    w_local = Window.partitionBy("pid").orderBy("doc_id")
    local = ranged.withColumn("local_rank", F.row_number().over(w_local))
    counts = {
        r["pid"]: r["n"]
        for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.lit(0)
    for pid, off in offsets.items():
        off_expr = F.when(F.col("pid") == pid, F.lit(off)).otherwise(off_expr)
    return local.select(
        "doc_id", (off_expr + F.col("local_rank")).cast("long").alias("row_id")
    )


SQL_GLOBAL_ROW_IDS = """
SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS row_id
FROM documents
"""


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: every near-dup pair whose two members
    landed in different dataset splits is an eval-contamination path (the
    test doc has a ~duplicate in train). Composes the two primitives the
    pipeline already trusts -- the exact-verified LSH pair set
    (``minhash_lsh_pairs_fast``) and the deterministic hash split
    (``dataset_split``) -- into the QA matrix: pair counts and mean
    Jaccard per unordered split pair, with cross-split rows flagged.

    Scale shape: the pair set is the banded-LSH output (linear via bucket
    caps), the split label is a narrow projection, and the report is two
    broadcast-friendly joins (pairs x tiny split frame per side) plus a
    9-row aggregate. This is the check a curation run gates promotion on:
    is_leak rows should drive re-assignment (move near-dup clusters into
    one split, cf. dedup_apply_neardup) before training."""
    from .dedup import minhash_lsh_pairs_fast

    pairs = minhash_lsh_pairs_fast(spark, sf_dir)
    splits = dataset_split(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            lo.alias("split_lo"),
            hi.alias("split_hi"),
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
            "jaccard",
        )
        .groupBy("split_lo", "split_hi", "is_leak")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_jaccard"),
        )
    )


def _sql_split_leakage() -> str:
    from .dedup import SQL_NGRAM_JACCARD

    return f"""
WITH pairs AS ({SQL_NGRAM_JACCARD}),
sp AS ({SQL_DATASET_SPLIT})
SELECT least(sa.split, sb.split) AS split_lo,
       greatest(sa.split, sb.split) AS split_hi,
       sa.split <> sb.split AS is_leak,
       count(*) AS n_pairs,
       round(CAST(sum(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_jaccard
FROM pairs
JOIN sp sa ON sa.doc_id = pairs.doc_a
JOIN sp sb ON sb.doc_id = pairs.doc_b
GROUP BY 1, 2, 3
"""


def register(reg: Registry) -> None:
    reg.add(
        "split_leakage_report",
        split_leakage_report,
        _sql_split_leakage(),
        "near-dup pairs straddling train/val/test: eval-leakage audit matrix",
    )
    reg.add(
        "global_row_ids",
        global_row_ids,
        SQL_GLOBAL_ROW_IDS,
        "contiguous 1..N sample indices without the single-partition sort",
    )
    reg.add(
        "quality_filter_apply",
        quality_filter_apply,
        _sql_quality_filter(),
        "quality policy applied: the kept corpus with its features",
    )
    reg.add(
        "sample_stratified",
        sample_stratified,
        SQL_SAMPLE_STRATIFIED,
        "deterministic hash-based per-stratum sample",
    )
    reg.add(
        "sample_weighted",
        sample_weighted,
        SQL_SAMPLE_WEIGHTED,
        "integer-exact probability-proportional-to-size sampling",
    )
    reg.add(
        "observe_pipeline_metrics",
        observe_pipeline_metrics,
        _sql_observe_metrics(),
        "df.observe: input-side metrics + kept-side aggregate in one scan",
    )
    reg.add(
        "doc_chunks",
        doc_chunks,
        _sql_doc_chunks(),
        "token context-window chunking (1->N, overlapping)",
    )
    reg.add(
        "decontaminate",
        decontaminate,
        SQL_DECONTAMINATE,
        "benchmark-overlap contamination flags (shingle overlap join)",
    )
    reg.add(
        "collocations_pmi",
        collocations_pmi,
        SQL_COLLOCATIONS_PMI,
        "top-20 bigram collocations by PMI with a min-support guard",
    )
    reg.add(
        "ngram_counts",
        ngram_counts,
        SQL_NGRAM_COUNTS,
        "corpus top-100 bigram frequency table",
    )
    reg.add(
        "repetition_stats",
        repetition_stats,
        SQL_REPETITION_STATS,
        "per-doc repetition signals (Gopher-style bigram fractions)",
    )
    reg.add(
        "corpus_stats_by_source",
        corpus_stats_by_source,
        SQL_CORPUS_BY_SOURCE,
        "per-(source, lang) corpus composition table",
    )
    reg.add(
        "doc_pack_greedy",
        doc_pack_greedy,
        SQL_PACK,
        "sequence packing: per-source window cumsum -> pack assignment",
    )
    reg.add(
        "blocklist_scan",
        blocklist_scan,
        SQL_BLOCKLIST,
        "term-policy scan (higher-order filter, narrow)",
    )
    reg.add(
        "sample_balanced_lang",
        sample_balanced_lang,
        SQL_BALANCED,
        "language-balanced hash resampling (broadcast rate table)",
    )
    reg.add(
        "approx_distinct_users",
        approx_distinct_users,
        None,  # HLL estimates are sketch-specific; error bounded in tests
        "HLL++ approx distinct users per event type (mergeable sketch)",
    )
    reg.add(
        "hll_union_by_source",
        hll_union_by_source,
        None,  # sketch estimates are implementation-specific; bounded in tests
        "DataSketches HLL vocabulary sketches per source + re-mergeable union",
    )
    reg.add(
        "cms_partkey_counts",
        cms_partkey_counts,
        None,  # sketch layout is implementation-specific; bounded in tests
        "count-min-sketch point-frequency estimates (mergeable, kilobyte summary)",
    )
    reg.add(
        "approx_distinct_error_check",
        approx_distinct_error_check,
        SQL_APPROX_DISTINCT_CHECK,
        "HLL++ error bound vs exact distinct: oracled verdict companion",
    )
    reg.add(
        "hll_union_error_check",
        hll_union_error_check,
        SQL_HLL_UNION_CHECK,
        "DataSketches per-source + union estimates bounded vs exact distincts",
    )
    reg.add(
        "cms_overestimate_check",
        cms_overestimate_check,
        SQL_CMS_CHECK,
        "CMS overestimate-only + eps*N ceiling: oracled verdict companion",
    )
    reg.add(
        "dataset_split",
        dataset_split,
        SQL_DATASET_SPLIT,
        "deterministic hash-based train/val/test split",
    )
    reg.add(
        "pipeline_end_to_end",
        pipeline_end_to_end,
        _sql_pipeline_end_to_end(),
        "5-stage corpus pipeline composed: filter->dedup->decontaminate->balance->pack",
    )


WEIGHT_CAP_CHARS = 2000  # docs at/above this length are always kept
WEIGHT_SCALE = 1_000_000  # integer rate resolution (ppm)


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (probability-proportional-to-size) sampling: each doc is
    kept with probability ``min(1, n_chars / CAP)`` -- longer documents
    are proportionally more likely to survive, the importance-sampling
    shape of token-budget corpus construction (unequal-probability
    Poisson sampling).

    Every quantity is INTEGER: the keep rate in ppm is
    ``least(SCALE, n_chars * SCALE / CAP)`` with integer division, the
    uniform draw is the md5-derived ppm bucket of doc_id, and the keep
    decision is a comparison of the two -- a pure function of the row,
    bit-identical in DuckDB, rerun/engine/growth-stable, and (like every
    sampler here) a narrow filter: sampling 100 TB shuffles nothing. A
    float rate would risk engines disagreeing at a boundary ULP; integer
    ppm cannot."""
    docs = load_table(spark, sf_dir, "documents")
    rate_ppm = F.least(
        F.lit(WEIGHT_SCALE),
        F.expr(f"n_chars * {WEIGHT_SCALE} div {WEIGHT_CAP_CHARS}"),
    )
    draw_ppm = _hash_bucket(F.col("doc_id"), 12, WEIGHT_SCALE)
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            rate_ppm.cast("long").alias("rate_ppm"),
            draw_ppm.alias("draw_ppm"),
        )
        .where(F.col("draw_ppm") < F.col("rate_ppm"))
    )


SQL_SAMPLE_WEIGHTED = f"""
SELECT doc_id, lang, n_chars, rate_ppm, draw_ppm
FROM (
  SELECT doc_id, lang, n_chars,
         LEAST({WEIGHT_SCALE}, n_chars * {WEIGHT_SCALE} // {WEIGHT_CAP_CHARS}) AS rate_ppm,
         {_sql_hash_bucket('doc_id', 12, WEIGHT_SCALE)} AS draw_ppm
  FROM documents
)
WHERE draw_ppm < rate_ppm
"""
