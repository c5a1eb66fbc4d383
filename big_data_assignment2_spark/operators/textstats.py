"""Text-analysis operators for a large-scale training-data pipeline:
language ID (marker-token heuristic), quality scoring, token counting,
and document fingerprinting.

These generalize the reference's text pipeline (clean -> tokenize -> stats,
``app/prepare_data.py`` + ``app/mapreduce/``) into per-document feature
extraction. Everything is a narrow per-row transform -- no shuffle,
trivially parallel at 100 TB -- and every operator has an exact DuckDB
oracle. Hot per-row work is Column arithmetic except fingerprinting,
whose shingle loop runs as an Arrow-batched Pandas UDF (see
``functions.hashing.fingerprint_pd`` for why that beats the interpreted
higher-order-function form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import fingerprint_pd, sql_shingles
from ..functions.text import SQL_TOKENS, tokenize, tokens
from ..registry import Registry
from ..sources.catalog import load_table
from ._rebalance import fan_out_table
from .index_build import documents_with_title

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# marker tokens per language, precedence en > de > fr > es on ties
LANG_MARKERS = {
    "en": ("the", "and", "of", "a", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "y", "las", "es"),
}


def _count_in(toks, words: tuple[str, ...]):
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _sql_count_in(toks: str, words: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> t IN ({in_list})))"


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token count, punctuation ratio, stopword
    ratio, average word length, and a bounded composite score."""
    docs = documents_with_title(spark, sf_dir)
    toks = tokens("text")
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    # characters that are neither [a-z0-9] nor whitespace, in the lowered text
    n_punct = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    n_alnum = F.length(F.regexp_replace(F.lower("text"), r"[^a-z0-9]", ""))
    n_stop = _count_in(toks, STOPWORDS)
    punct_ratio = F.coalesce(n_punct / F.nullif(n_chars, F.lit(0)), F.lit(0.0))
    stop_ratio = F.coalesce(n_stop / F.nullif(n_tokens, F.lit(0)), F.lit(0.0))
    avg_word_len = F.coalesce(n_alnum / F.nullif(n_tokens, F.lit(0)), F.lit(0.0))
    quality = (
        F.least(F.lit(1.0), n_tokens / F.lit(50.0))
        * (1.0 - punct_ratio)
        * (1.0 - F.greatest(F.lit(0.0), stop_ratio - 0.6))
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(quality, 6).alias("quality_score"),
    )


def _sql_text_quality() -> str:
    toks = SQL_TOKENS.format(col="text")
    n_tokens = f"len({toks})"
    n_punct = "length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))"
    n_alnum = "length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))"
    n_stop = _sql_count_in(toks, STOPWORDS)
    punct_ratio = f"coalesce({n_punct} / nullif(length(text), 0), 0.0)"
    stop_ratio = f"coalesce({n_stop} / nullif({n_tokens}, 0), 0.0)"
    awl = f"coalesce({n_alnum} / nullif({n_tokens}, 0), 0.0)"
    quality = (
        f"least(1.0, {n_tokens} / 50.0) * (1.0 - {punct_ratio})"
        f" * (1.0 - greatest(0.0, {stop_ratio} - 0.6))"
    )
    return f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST({n_tokens} AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round({punct_ratio}, 6) AS punct_ratio,
       round({stop_ratio}, 6) AS stopword_ratio,
       round({awl}, 6) AS avg_word_len,
       round({quality}, 6) AS quality_score
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language heuristic with fixed precedence on ties.

    (A real pipeline would plug a model in via pandas_udf; the operator
    shape -- per-doc argmax over per-language scores -- is the same.)
    """
    docs = documents_with_title(spark, sf_dir)
    toks = tokens("text")
    scores = {lang: _count_in(toks, m) for lang, m in LANG_MARKERS.items()}
    en, de, fr, es = scores["en"], scores["de"], scores["fr"], scores["es"]
    pred = (
        F.when(F.size(toks) == 0, "unknown")
        .when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        en.cast("long").alias("score_en"),
        de.cast("long").alias("score_de"),
        fr.cast("long").alias("score_fr"),
        es.cast("long").alias("score_es"),
    )


def _sql_lang_id() -> str:
    toks = SQL_TOKENS.format(col="text")
    s = {lang: _sql_count_in(toks, m) for lang, m in LANG_MARKERS.items()}
    return f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CASE WHEN len({toks}) = 0 THEN 'unknown'
            WHEN {s['en']} >= {s['de']} AND {s['en']} >= {s['fr']} AND {s['en']} >= {s['es']} THEN 'en'
            WHEN {s['de']} >= {s['fr']} AND {s['de']} >= {s['es']} THEN 'de'
            WHEN {s['fr']} >= {s['es']} THEN 'fr'
            ELSE 'es' END AS pred_lang,
       CAST({s['en']} AS BIGINT) AS score_en,
       CAST({s['de']} AS BIGINT) AS score_de,
       CAST({s['fr']} AS BIGINT) AS score_fr,
       CAST({s['es']} AS BIGINT) AS score_es
FROM documents
"""


BPE_ISH_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three tokenizer views per doc: raw whitespace split, alnum-run
    tokens (the index tokenizer), and a BPE-ish regex segmentation."""
    docs = documents_with_title(spark, sf_dir)
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit("")))
    alnum = F.size(tokens("text"))
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_ISH_RE), 0))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        alnum.cast("long").alias("alnum_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
    )


SQL_TOKEN_COUNTS = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
       CAST(len({SQL_TOKENS.format(col='text')}) AS BIGINT) AS alnum_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_RE}')) AS BIGINT) AS bpe_ish_tokens
FROM documents
"""

FP_K = 8  # fingerprint shingle width (tokens)


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: the minimum md5 over the doc's
    distinct 8-token shingles (short docs hash all their tokens).
    Equal fingerprints => near-identical prefixes of content; used as a
    cheap first-pass near-dup key at scale."""
    docs = documents_with_title(spark, sf_dir)
    fp = fingerprint_pd("text", FP_K)
    return docs.select("doc_id", fp.alias("fp")).select(
        "doc_id",
        F.col("fp.fingerprint").alias("fingerprint"),
        F.col("fp.n_shingles").alias("n_shingles"),
    )


def _sql_doc_fingerprint() -> str:
    sh = sql_shingles("text", FP_K)
    return f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       list_min(list_transform({sh}, s -> md5(s))) AS fingerprint,
       CAST(len({sh}) AS BIGINT) AS n_shingles
FROM documents
"""


def doc_term_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_list) made deterministic: per-doc term
    multiset, sorted then joined to a string. collect_list order is
    shuffle-dependent, so the sort is what makes the result (and any
    downstream hash) stable -- emit arrays from an engine only in a
    canonical order."""
    docs = documents_with_title(spark, sf_dir)
    return (
        tokenize(docs)
        .groupBy("doc_id")
        .agg(
            F.array_join(F.sort_array(F.collect_list("term")), " ").alias("terms_sorted"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )


SQL_DOC_TERM_LIST = f"""
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest({SQL_TOKENS.format(col='text')}) AS term
  FROM documents
)
SELECT doc_id, array_to_string(list_sort(list(term)), ' ') AS terms_sorted,
       count(*) AS n_terms
FROM tok GROUP BY doc_id
"""


VOCAB_TOP_K = 10


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning metric: what fraction of all token
    occurrences the top-K most frequent terms cover. THE question when
    sizing a fixed vocabulary (or judging how head-heavy a corpus is):
    coverage(K) near 1 means a K-entry vocab sees almost every token.

    Selection is deterministic under frequency ties (order by count desc,
    then term), so both engines pick the identical top-K set. Plan: one
    tokenize + groupBy(term) shuffle (map-side combined), a K-row
    TakeOrdered, and two scalar aggregates -- the term-cardinality table
    is the only shuffled data, so this runs at any corpus size for which
    the vocabulary itself is tractable (always, in practice)."""
    tok = tokenize(documents_with_title(spark, sf_dir))
    freqs = tok.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    top = freqs.orderBy(F.desc("freq"), F.asc("term")).limit(VOCAB_TOP_K)
    totals = freqs.agg(
        F.sum("freq").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    topk = top.agg(F.sum("freq").alias("topk_tokens"))
    return totals.crossJoin(F.broadcast(topk)).select(
        "total_tokens",
        "n_terms",
        "topk_tokens",
        F.round(F.col("topk_tokens") / F.col("total_tokens"), 6).alias("coverage"),
    )


SQL_VOCAB_COVERAGE = f"""
WITH tok AS (
  SELECT unnest({SQL_TOKENS.format(col='text')}) AS term FROM documents
),
freqs AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
top AS (SELECT * FROM freqs ORDER BY freq DESC, term ASC LIMIT {VOCAB_TOP_K})
SELECT CAST((SELECT sum(freq) FROM freqs) AS BIGINT) AS total_tokens,
       (SELECT count(*) FROM freqs) AS n_terms,
       CAST((SELECT sum(freq) FROM top) AS BIGINT) AS topk_tokens,
       round(CAST((SELECT sum(freq) FROM top) AS DOUBLE)
             / (SELECT sum(freq) FROM freqs), 6) AS coverage
"""


def token_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report: per-source unigram KL divergence
    KL(P_source || P_corpus) = sum_t p_s(t) * ln(p_s(t) / p(t)) -- the
    mixture-QA number that flags a source whose token distribution has
    drifted from the corpus it feeds (scraper broke, boilerplate crept
    in, language mix shifted).

    Shape at scale: one (source, term) count aggregate (map-side partials
    absorb hot terms), one term-keyed global count, an equi-join on term,
    and a per-source reduce -- all linear in vocabulary size, never in
    pair space. Every probability comes from exact integer counts;
    each term's contribution is one double expression rounded into a
    DECIMAL(18,15) before the final sum, so the cross-engine sum is
    order-independent (the dsum trick at divergence scale -- raw double
    sums of ~1e4 tiny contributions WILL differ in late digits between
    engines). P(t) > 0 wherever p_s(t) > 0 by construction (the corpus
    contains every source's tokens), so the log is total."""
    from ..sources.catalog import load_table

    # not fanned out: tokenize -> groupBy with a cheap map side; the
    # interleaved A/B measured the extra exchange as a 1.69x LOSS here
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = tokenize(docs, id_col="source")  # (source, term) per occurrence
    per = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_st"))
    tot_s = per.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    glob = per.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    n_tot = glob.agg(F.sum("c_t").alias("n_tot"))
    p_s = F.col("c_st") / F.col("n_s")
    p_g = F.col("c_t") / F.col("n_tot")
    contrib = (p_s * F.log(p_s / p_g)).cast("decimal(18,15)")
    return (
        per.join(glob, "term")
        .join(F.broadcast(tot_s), "source")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(contrib).cast("double"), 6).alias("kl_vs_corpus"),
        )
        .withColumn("n_tokens", F.col("n_tokens").cast("long"))
    )


SQL_TOKEN_KL = f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKENS.format(col='text')}) AS term FROM documents
),
per AS (SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
tot_s AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM per GROUP BY 1),
gl AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM per GROUP BY 1),
n AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_tot FROM gl)
SELECT source, max(n_s) AS n_tokens, count(*) AS n_terms,
       round(CAST(sum(CAST(
           (c_st * 1.0 / n_s) * ln((c_st * 1.0 / n_s) / (c_t * 1.0 / n_tot))
           AS DECIMAL(18,15))) AS DOUBLE), 6) AS kl_vs_corpus
FROM per JOIN gl USING (term) JOIN tot_s USING (source), n
GROUP BY source
"""


TFIDF_TOP_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic vocabulary: the ``TFIDF_TOP_K`` terms
    with the highest summed tf-idf within each source, where the summed
    score collapses algebraically to ``n_occ * ln(N / df)`` (n_occ =
    occurrences of the term in the source, N = corpus doc count, df =
    docs containing the term) -- two hash aggregates, one vocab-keyed
    join, and a per-source top-k window; no per-document score
    materialization is ever needed, which is what makes the per-source
    report one aggregation pass at 100 TB.

    ``ln`` of an integer ratio is a single libm call on identical
    operands in both engines (the bm25 family already pins this class
    bit-exact); the rank orders by the 6-decimal-rounded score with the
    term as a unique tie-break, so stop-terms (df = N, score 0) rank
    deterministically too.
    """
    # not fanned out: explode -> groupBy chains with a cheap map side;
    # the interleaved A/B measured the extra exchange as a 1.48x LOSS
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(tokens("text")).alias("term")
    )
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    df_t = d.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    st = d.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_occ"))
    scored = (
        st.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source",
            "term",
            "n_occ",
            "df",
            F.round(
                F.col("n_occ") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    from pyspark.sql.window import Window

    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("score"), "term")
    )
    return scored.withColumn("rk", rk).where(F.col("rk") <= TFIDF_TOP_K)


SQL_TFIDF_TOP = f"""
WITH ex AS (
  SELECT doc_id, source, unnest({SQL_TOKENS.format(col='text')}) AS term
  FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents),
df_t AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY term),
st AS (SELECT source, term, count(*) AS n_occ FROM ex GROUP BY source, term),
scored AS (
  SELECT source, st.term, n_occ, df,
         round(n_occ * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
  FROM st JOIN df_t ON st.term = df_t.term CROSS JOIN n
)
SELECT source, term, n_occ, df, score, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
            ORDER BY score DESC, term) AS INT) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOP_K}
"""


# --- character entropy: the compressibility quality signal ---


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) -- the
    classic compressibility signal a training-corpus quality filter
    cuts on: near-zero entropy flags degenerate repetition (one char
    dominating), unusually high entropy flags binary/garbage spills
    into a text field.

    Shape at 100 TB: ZERO shuffle (the conditional ``fan_out_table``
    below only fires on inputs too small to split naturally -- at any
    production size the plan stays shuffle-free). The whole computation is per-row
    Column arithmetic over higher-order functions, so each document is
    finished where it is read (contrast the oracle, which recomputes
    the same number relationally by exploding one row per CHARACTER and
    re-aggregating: a fine independent check at test scale, exactly the
    shuffle you must not ship). Per-char counts come from the SORTED
    char array's run boundaries -- ``array_sort`` then "positions where
    the char differs from its predecessor" -- which is O(n log n) per
    document; the first version counted each distinct char with its own
    ``filter`` pass (O(n * n_distinct): 5-9 s at sf0.1 vs 0.8 s for
    this run-length form, same oracle, ~7x). Per-term determinism follows the ``token_kl_by_source``
    rule: each (c/n)*ln(n/c) term is one double expression rounded into
    DECIMAL before the order-independent sum."""
    docs = fan_out_table(
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select("doc_id", "text"),
        sf_dir,
        "documents",
    ).select(
        "doc_id",
        F.array_sort(
            F.filter(F.split("text", ""), lambda x: x != F.lit(""))
        ).alias("ch"),
    )
    n = F.size("ch")
    # run starts: position 1, plus every i where ch[i] != ch[i-1].
    # The i==1 guard must be a CaseWhen (lazily evaluated per row), not a
    # boolean OR: element_at(ch, 0) raises on the 1-based array.
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            F.element_at(F.col("ch"), i) != F.element_at(F.col("ch"), i - 1)
        ),
    )
    n_dis = F.size(starts)
    # run lengths: next start (with an n+1 sentinel appended) minus start
    ends = F.concat(F.slice(starts, F.lit(2), n_dis - 1), F.array(n + 1))
    counts = F.zip_with(starts, ends, lambda s, e: e - s)
    contribs = F.transform(
        counts, lambda c: ((c / n) * F.log(n / c)).cast("decimal(28,15)")
    )
    ent = F.aggregate(
        contribs,
        F.lit(0).cast("decimal(28,15)"),
        lambda acc, x: (acc + x).cast("decimal(28,15)"),
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        n_dis.cast("long").alias("n_distinct_chars"),
        F.round(ent.cast("double"), 6).alias("entropy_nats"),
    )


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, n, substr(text, CAST(pos AS INT), 1) AS c
  FROM (
    SELECT doc_id, text, length(text) AS n,
           unnest(range(1, length(text) + 1)) AS pos
    FROM documents WHERE length(text) > 0
  )
),
per AS (SELECT doc_id, n, c, count(*) AS cnt FROM ch GROUP BY 1, 2, 3)
SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
       count(*) AS n_distinct_chars,
       round(CAST(sum(CAST(
           (cnt * 1.0 / n) * ln(n * 1.0 / cnt) AS DECIMAL(28,15))) AS DOUBLE), 6
       ) AS entropy_nats
FROM per GROUP BY doc_id
"""


# --- per-doc LM cross-entropy: the perplexity quality filter ---


def doc_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy against the corpus unigram LM,
    H(doc) = -sum_t (c_dt/n_d) * ln(p_corpus(t)) -- the per-document
    twin of ``token_kl_by_source`` and the relational skeleton of the
    CCNet/Gopher perplexity filter: documents whose token distribution
    the corpus LM finds surprising (high H) are boilerplate/garbage
    candidates, suspiciously low H flags degenerate repetition of
    frequent tokens. The corpus LM here is the unigram MLE (every doc
    token appears in the corpus by construction, so the log is total);
    a production filter swaps in a trained LM via the same per-token
    join shape.

    Shape at scale: one (doc, term) count aggregate, a term-keyed join
    against the global count table (vocabulary-sized, naturally
    broadcast-able when small; a plain equi-join at web vocabulary),
    one scalar total, one per-doc reduce -- linear end to end. Each
    token's contribution is one double expression rounded into DECIMAL
    before the order-independent per-doc sum (the ``token_kl`` rule).
    Not fanned out: tokenize -> groupBy with a cheap map side (the
    interleaved A/B measured the extra exchange as a 1.31x loss)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokenize(docs)  # (doc_id, term) per occurrence
    per = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c_dt"))
    glob = per.groupBy("term").agg(F.sum("c_dt").alias("c_t"))
    n_tot = glob.agg(F.sum("c_t").alias("n_tot"))
    n_d = per.groupBy("doc_id").agg(F.sum("c_dt").alias("n_d"))
    contrib = (
        (F.col("c_dt") / F.col("n_d")) * F.log(F.col("n_tot") / F.col("c_t"))
    ).cast("decimal(18,15)")
    return (
        per.join(glob, "term")
        .join(n_d, "doc_id")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("doc_id")
        .agg(
            F.max("n_d").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(contrib).cast("double"), 6).alias("cross_entropy_nats"),
        )
    )


SQL_DOC_LM_XENT = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS term FROM documents
),
per AS (SELECT doc_id, term, count(*) AS c_dt FROM toks GROUP BY 1, 2),
gl AS (SELECT term, CAST(sum(c_dt) AS BIGINT) AS c_t FROM per GROUP BY 1),
nd AS (SELECT doc_id, CAST(sum(c_dt) AS BIGINT) AS n_d FROM per GROUP BY 1),
n AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_tot FROM gl)
SELECT doc_id, max(n_d) AS n_tokens, count(*) AS n_terms,
       round(CAST(sum(CAST(
           (c_dt * 1.0 / n_d) * ln(n_tot * 1.0 / c_t)
           AS DECIMAL(18,15))) AS DOUBLE), 6) AS cross_entropy_nats
FROM per JOIN gl USING (term) JOIN nd USING (doc_id), n
GROUP BY doc_id
"""


# --- PII redaction: the scrub step of a training-corpus pipeline ---
#
# The synthetic corpus carries no real PII, so the query PLANTS a
# deterministic set (emails/phones derived from doc_id, mirrored
# verbatim in the oracle) into its own staging and then scrubs it --
# the planted-positives pattern this repo uses wherever absence would
# otherwise make a test vacuous. Regexes are restricted to the
# Java-regex/RE2 common subset (character classes, +, {m,}) so Spark
# and DuckDB compile the SAME pattern.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"555-[0-9]{4}"


def _planted(doc_id, text):
    """Deterministic plant: docs with doc_id%3==0 stay clean; others get
    one email; doc_id%5==1 adds a second email; doc_id%2==1 adds a
    phone. Gives the redactor 0/1/2-occurrence cases per document."""
    email1 = F.concat(F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com"))
    email2 = F.concat(F.lit(" cc admin"), doc_id.cast("string"), F.lit("@corp.example.org"))
    phone = F.concat(F.lit(" call 555-"), F.lpad((doc_id % 10000).cast("string"), 4, "0"))
    return F.concat(
        text,
        F.when(doc_id % 3 == 0, F.lit("")).otherwise(email1),
        F.when((doc_id % 3 != 0) & (doc_id % 5 == 1), email2).otherwise(F.lit("")),
        F.when(doc_id % 2 == 1, phone).otherwise(F.lit("")),
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails/phones from document text and report, per source,
    how much was removed: doc count, redaction counts by kind, and the
    total character delta. Pure Column regex work (regexp_extract_all /
    regexp_replace are JVM-side, whole-stage codegen) -- the per-row
    scrub is embarrassingly parallel at 100 TB and the report is one
    map-side-combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", _planted(F.col("doc_id"), F.col("text")).alias("t")
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    per_doc = docs.select(
        "source",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_EMAIL_RE), F.lit(0))).alias("n_em"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_PHONE_RE), F.lit(0))).alias("n_ph"),
        (F.length("t") - F.length(scrubbed)).alias("delta"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_em").alias("n_emails"),
        F.sum("n_ph").alias("n_phones"),
        F.sum("delta").alias("chars_removed"),
    )


_SQL_PLANTED = """
  text
  || CASE WHEN doc_id % 3 = 0 THEN ''
          ELSE ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' END
  || CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 = 1
          THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.example.org' ELSE '' END
  || CASE WHEN doc_id % 2 = 1
          THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
"""

SQL_PII_REDACT = f"""
WITH planted AS (
  SELECT source, {_SQL_PLANTED} AS t FROM documents
),
per_doc AS (
  SELECT source,
         len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_em,
         len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS n_ph,
         length(t) - length(
           regexp_replace(
             regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g')
         ) AS delta
  FROM planted
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_em) AS BIGINT) AS n_emails,
       CAST(sum(n_ph) AS BIGINT) AS n_phones,
       CAST(sum(delta) AS BIGINT) AS chars_removed
FROM per_doc GROUP BY source
"""


def register(reg: Registry) -> None:
    reg.add(
        "pii_redact",
        pii_redact,
        SQL_PII_REDACT,
        "PII scrub report: planted emails/phones redacted, per-source counts",
    )
    reg.add(
        "doc_char_entropy",
        doc_char_entropy,
        SQL_CHAR_ENTROPY,
        "per-doc character Shannon entropy, zero-shuffle higher-order Columns",
    )
    reg.add(
        "doc_lm_cross_entropy",
        doc_lm_cross_entropy,
        SQL_DOC_LM_XENT,
        "per-doc cross-entropy vs corpus unigram LM (perplexity filter skeleton)",
    )
    reg.add("text_quality", text_quality, _sql_text_quality(), "quality features per doc")
    reg.add(
        "token_kl_by_source",
        token_kl_by_source,
        SQL_TOKEN_KL,
        "per-source unigram KL divergence vs corpus (drift report)",
    )
    reg.add("lang_id", lang_id, _sql_lang_id(), "marker-token language ID")
    reg.add("token_counts", token_counts, SQL_TOKEN_COUNTS, "3 tokenizer counts per doc")
    reg.add("doc_fingerprint", doc_fingerprint, _sql_doc_fingerprint(), "min-md5-shingle fingerprint")
    reg.add("doc_term_list", doc_term_list, SQL_DOC_TERM_LIST, "deterministic collect_list")
    reg.add("vocab_coverage", vocab_coverage, SQL_VOCAB_COVERAGE, "top-K vocab token coverage")
    reg.add(
        "tfidf_top_terms",
        tfidf_top_terms,
        SQL_TFIDF_TOP,
        "per-source top-k terms by summed tf-idf (algebraic collapse)",
    )
