"""Behavioral tests on constructed data: the testdata corpus is random
(few real near-dups), so these build corpora where the right answer is
known -- duplicates exist and must be found, distinct docs must not pair."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_spark.functions.hashing import (
    N_MINHASH,
    band_cols,
    minhash_cols,
    shingles,
)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """12 docs: 0/1 identical; 2/3 near-identical (one word changed);
    4..11 unrelated word soups."""
    base = " ".join(f"word{j} item{j}" for j in range(20))  # 40 tokens
    near = base.replace("item10", "changed")  # one token differs
    rows = [(0, base), (1, base), (2, base), (3, near)]
    for i in range(4, 12):
        rows.append((i, " ".join(f"doc{i}tok{j}" for j in range(30))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = tmp_path_factory.mktemp("dedup_corpus")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return str(d)


def test_dedup_exact_finds_identicals(spark, corpus):
    from big_data_assignment2_spark.operators.dedup import dedup_exact

    out = dedup_exact(spark, corpus)
    groups = {r["keep_doc_id"]: r["n_docs"] for r in out.collect()}
    assert groups[0] == 3  # docs 0,1,2 identical -> kept doc 0
    assert sum(groups.values()) == 12


def test_ngram_jaccard_finds_near_dup(spark, corpus):
    from big_data_assignment2_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(spark, corpus).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert (0, 3) in pairs and 0.3 < pairs[(0, 3)] < 1.0  # one-word change
    assert not any(a >= 4 or b >= 4 for a, b in pairs)  # no false pairs


def test_minhash_lsh_recall_and_precision(spark, corpus):
    from big_data_assignment2_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(spark, corpus).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(spark, corpus).collect()}
    # verified-LSH output is a subset of the exact pairs (precision 1.0)...
    assert lsh <= exact
    # ...and identical pairs can never be missed (identical signatures)
    assert {(0, 1), (0, 2), (1, 2)} <= lsh


def test_minhash_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six seven"), (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    sh = df.select("doc_id", F.explode(shingles("text", 5)).alias("shingle"))
    sigs = sh.groupBy("doc_id").agg(*minhash_cols("shingle", N_MINHASH))
    rows = {r["doc_id"]: r for r in sigs.collect()}
    assert all(rows[1][f"mh{i}"] == rows[2][f"mh{i}"] for i in range(N_MINHASH))
    bands = sigs.select("doc_id", *band_cols(N_MINHASH)).collect()
    b = {r["doc_id"]: [r[f"band{i}"] for i in range(4)] for r in bands}
    assert b[1] == b[2]


def test_simhash_similar_docs_close(spark, corpus):
    from big_data_assignment2_spark.operators.dedup import simhash

    out = {r["doc_id"]: r["simhash"] for r in simhash(spark, corpus).collect()}

    def hamming(a: str, b: str) -> int:
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    assert out[0] == out[1] == out[2]
    assert hamming(out[0], out[3]) <= 12  # near-dup: close in Hamming space
    assert hamming(out[0], out[5]) > 12  # unrelated: far


def test_ann_lsh_subset_of_bruteforce_space(spark, sf_dir):
    from big_data_assignment2_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_lsh,
    )

    brute = ann_topk_bruteforce(spark, sf_dir)
    assert brute.count() == 10
    cols = [f.name for f in brute.schema.fields]
    assert cols == ["vec_id", "label", "cos_sim"]
    lsh = ann_topk_lsh(spark, sf_dir)
    assert lsh.count() <= 10  # bucket may hold fewer than k vectors
    # LSH scores are a subset of the full score space: every LSH hit's
    # score can't beat the true best.
    best = brute.collect()[0]["cos_sim"]
    assert all(r["cos_sim"] <= best for r in lsh.collect())


def test_ann_ivf_probes_cells(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_data_assignment2_spark.operators.similarity import (
        N_PROBE,
        _cell_dots,
        ann_topk_bruteforce,
        ann_topk_ivf,
    )
    from big_data_assignment2_spark.sources.catalog import load_table

    ivf = ann_topk_ivf(spark, sf_dir)
    rows = ivf.collect()
    assert 0 < len(rows) <= 10
    scores = [r["cos_sim"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every IVF hit lies in one of the N_PROBE probed cells
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "cell",
        F.array_position(_cell_dots("embedding"), F.array_max(_cell_dots("embedding"))),
    )
    hit_cells = {
        r["cell"]
        for r in emb.where(
            F.col("vec_id").isin([r["vec_id"] for r in rows])
        ).collect()
    }
    assert len(hit_cells) <= N_PROBE
    # and no approximate hit can beat the exact best
    best = ann_topk_bruteforce(spark, sf_dir).collect()[0]["cos_sim"]
    assert all(s <= best for s in scores)


def test_multimodal_features_deterministic(spark, sf_dir):
    from big_data_assignment2_spark.operators.multimodal import multimodal_features

    a = {r["doc_id"]: (r["f0"], r["f1"], r["f2"], r["f3"]) for r in multimodal_features(spark, sf_dir).collect()}
    b = {r["doc_id"]: (r["f0"], r["f1"], r["f2"], r["f3"]) for r in multimodal_features(spark, sf_dir).collect()}
    assert a == b
    # f0..f2 are normalized channel means in [0,1]; f3 is the position-
    # weighted checksum, bounded by (w*h + 1) / 2 <= 64.5 for the fixture
    for v in a.values():
        assert len(v) == 4
        assert all(0.0 <= x <= 1.0 for x in v[:3])
        assert 0.0 <= v[3] <= 65.0


def test_streaming_equals_batch(spark, sf_dir):
    from big_data_assignment2_spark.operators.windows import window_tumbling
    from big_data_assignment2_spark.streaming.events_stream import streaming_tumbling

    batch = {tuple(r) for r in window_tumbling(spark, sf_dir).collect()}
    stream = {tuple(r) for r in streaming_tumbling(spark, sf_dir).collect()}
    assert batch == stream


def test_neardup_kernel_empty_and_diagonal_cells():
    """Grid cells with an empty side must emit nothing (an empty
    off-diagonal side-1 used to be mistaken for a diagonal cell and
    re-emit side-0's self-pairs; an empty side-0 crashed numpy)."""
    import pandas as pd

    from big_data_assignment2_spark.operators.similarity import _make_block_pair_sims

    fn = _make_block_pair_sims(0.9)
    v = [1.0, 0.0]
    off_diag_no_b = pd.DataFrame(
        {"vec_id": [1, 2], "v": [v, v], "bi": [0, 0], "bj": [1, 1], "side": [0, 0]}
    )
    assert fn(off_diag_no_b).empty
    off_diag_no_a = pd.DataFrame(
        {"vec_id": [3], "v": [v], "bi": [0], "bj": [1], "side": [1]}
    )
    assert fn(off_diag_no_a).empty
    diag = pd.DataFrame(
        {"vec_id": [1, 2], "v": [v, v], "bi": [0, 0], "bj": [0, 0], "side": [0, 0]}
    )
    out = fn(diag)
    assert list(out["vec_a"]) == [1] and list(out["vec_b"]) == [2]


@pytest.fixture(scope="module")
def neardup_vectors(spark, tmp_path_factory):
    """40 unit vectors, the first 15 each with a planted perturbed copy at
    cosine ~0.96-0.99 -- so exact near-dup pairs are known to exist (the
    driver's random embeddings have none at 0.95)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows, vid = [], 0
    for i in range(40):
        v = rng.normal(size=64)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v.astype(np.float32)], 0))
        a = vid
        vid += 1
        if i < 15:
            w = v + rng.normal(size=64) * (0.015 + 0.0015 * i)
            w /= np.linalg.norm(w)
            rows.append((vid, [float(x) for x in w.astype(np.float32)], 1))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path_factory.mktemp("neardup_vecs")
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return str(d)


def test_neardup_lsh_subset_and_recall(spark, neardup_vectors):
    """The LSH near-dup path must return a strict subset of the exact
    operator's pairs (precision 1 -- candidates are verified with the
    exact cosine) at usable recall (banded 2x4 sign-bits ~0.9 expected at
    cosine 0.95; everything is seeded/deterministic, so the observed
    recall is a fixed number and the bound is stable)."""
    from big_data_assignment2_spark.operators.similarity import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in embedding_neardup_pairs(spark, neardup_vectors).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in embedding_neardup_lsh(spark, neardup_vectors).collect()
    }
    assert len(exact) >= 10, "fixture must plant real near-dup pairs"
    assert set(lsh).issubset(set(exact))  # precision 1: verified candidates
    for pair, cos in lsh.items():
        assert cos == exact[pair]  # identical exact cosine values
    recall = len(lsh) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f} over {len(exact)} exact pairs"


def test_neardup_components_closure(spark, sf_dir):
    """Every LSH pair's endpoints must land in one component, every
    component id must be the min doc_id of its member set, and docs in no
    pair must stay singletons."""
    from big_data_assignment2_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_components,
    )

    comp = {
        r["doc_id"]: r["component_id"]
        for r in neardup_components(spark, sf_dir).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(spark, sf_dir).collect()
    ]
    for a, b in pairs:
        assert comp[a] == comp[b], (a, b)
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        assert c == min(ds)
    paired = {d for p in pairs for d in p}
    for d in comp:
        if d not in paired:
            assert comp[d] == d


def test_dedup_family_on_synthetic_neardups(spark, tmp_path):
    """The whole dedup family vs its oracles on a CONSTRUCTED corpus --
    exact duplicates, strong near-dups (1-2 token edits of 40-token
    docs), and unrelated docs -- instead of whatever the driver fixtures
    happen to contain. Guards the operators' generalization: shingle
    caps, banding, and verification must agree with SQL on a corpus
    whose duplicate structure is known by construction."""
    import random

    import duckdb

    from big_data_assignment2_spark.registry import build_registry
    from tests._compare import compare

    rng = random.Random(123)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    doc_id = 0
    texts = []
    for _ in range(20):
        base = " ".join(rng.choice(vocab) for _ in range(40))
        texts.append(base)
        # one strong near-dup: replace two tokens
        toks = base.split()
        for _ in range(2):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        texts.append(" ".join(toks))
    texts += texts[:5]  # five exact duplicates
    for t in texts:
        rows.append((doc_id, t, "en", "syn7", len(t)))
        doc_id += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    reg = build_registry()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    try:
        for name in (
            "dedup_exact",
            "ngram_jaccard_pairs",
            "minhash_lsh_pairs",
            "minhash_lsh_pairs_fast",
            "simhash_neardup_pairs",
        ):
            q = reg.queries[name]
            diff = compare(q.fn(spark, str(tmp_path)), con, q.oracle)
            assert diff is None, f"{name}: {diff}"
            # sanity: the constructed corpus must actually light up the op
            assert q.fn(spark, str(tmp_path)).count() > 0, name
    finally:
        con.close()


def test_star_components_long_chain_logarithmic(spark):
    """The large-star/small-star scale path: a 50-node path graph (the
    adversarial shape -- min-label propagation would need 49 rounds,
    one per hop of diameter) must collapse to ONE component rooted at
    the minimum node in O(log n) rounds."""
    import math

    from big_data_assignment2_spark.operators.dedup import _star_components

    n = 50
    ids = [f"d{i:04d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "u string, v string"
    )
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    labels, rounds = _star_components(spark, edges, nodes)
    got = {r["doc_id"]: r["comp"] for r in labels.collect()}
    assert got == {i: ids[0] for i in ids}
    assert rounds <= math.ceil(math.log2(n)) + 4, rounds


def test_neardup_components_falls_back_to_star_on_long_chain(spark, tmp_path, monkeypatch):
    """A pair graph deeper than ``MAX_CC_ITERS``: min-label propagation on
    a 30-node ordered chain needs 29 rounds, so ``_components_labels``
    must hand the graph to ``_star_components`` and still report ONE
    component rooted at the minimum doc through ``neardup_components``."""
    from big_data_assignment2_spark.operators import dedup

    n = 30
    assert n - 1 > dedup.MAX_CC_ITERS
    spark.createDataFrame(
        [(i, f"doc {i}", "en", "chain", 5) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "minhash_lsh_pairs", lambda spark, sf_dir: chain)
    star_calls = []
    real_star = dedup._star_components

    def _spy(*args):
        star_calls.append(1)
        return real_star(*args)

    monkeypatch.setattr(dedup, "_star_components", _spy)
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.neardup_components(spark, str(tmp_path)).collect()
    }
    assert star_calls == [1]
    assert got == {i: 0 for i in range(n)}


def test_star_components_matches_minlabel_on_corpus(spark, sf_dir):
    """On the real LSH pair graph the scale path and the diameter-bound
    fast path must produce identical (doc_id, component) labelings --
    plus a multi-component sanity case (two chains + singletons)."""
    from big_data_assignment2_spark.operators.dedup import (
        _star_components,
        minhash_lsh_pairs,
        neardup_components,
    )

    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = (
        neardup_components(spark, sf_dir).select("doc_id").distinct()
    )
    star, _ = _star_components(spark, pairs, nodes)
    want = {
        (r["doc_id"], r["component_id"])
        for r in neardup_components(spark, sf_dir).collect()
    }
    got = {(r["doc_id"], r["comp"]) for r in star.collect()}
    assert got == want

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], "u string, v string"
    )
    all_nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("x",), ("y",), ("z",)],
        "doc_id string",
    )
    labels, _ = _star_components(spark, edges, all_nodes)
    got2 = {r["doc_id"]: r["comp"] for r in labels.collect()}
    assert got2 == {
        "a": "a", "b": "b", "c": "b", "d": "b", "x": "x", "y": "x", "z": "z",
    }


def test_prefix_edit_pairs_catches_shifts_hamming_misses(spark, tmp_path):
    """Semantics of the edit-distance PassJoin: a single INSERTION shifts
    every later character (Hamming distance explodes to ~prefix length)
    but is one edit -- the edit variant must catch it, and must also
    cover every substitution-only pair the Hamming variant finds within
    its threshold."""
    from big_data_assignment2_spark.operators.dedup import (
        ED_MAX,
        ED_PREF_LEN,
        prefix_edit_pairs,
        prefix_hamming_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then keeps on"
        " jumping far past the eighty character mark for the edit window"
    ).replace(" ", "_")
    assert len(base) >= ED_PREF_LEN + 1
    a = base[:ED_PREF_LEN]
    shifted = (base[:5] + "X" + base[5:])[:ED_PREF_LEN]  # one insertion
    subbed = ("YY" + base[2:])[:ED_PREF_LEN]  # two substitutions
    far = ("".join(reversed(base)))[:ED_PREF_LEN]
    rows = [
        ("d1", a), ("d2", shifted), ("d3", subbed), ("d4", far),
    ]
    df = spark.createDataFrame(
        [(i, t * 3, "en", "synthetic", len(t * 3)) for i, t in rows],
        "doc_id string, text string, lang string, source string, n_chars int",
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    edit = {
        (r["doc_a"], r["doc_b"]): r["editd"]
        for r in prefix_edit_pairs(spark, sf).collect()
    }
    # insertion caught: ed = 2 on the fixed window (the insert plus the
    # tail character it pushes past the PREF_LEN boundary)
    assert ("d1", "d2") in edit and edit[("d1", "d2")] == 2
    assert ("d1", "d3") in edit and edit[("d1", "d3")] == 2
    assert all("d4" not in p for p in edit)
    ham = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_hamming_pairs(spark, sf).collect()
        if r["ham"] <= ED_MAX
    }
    assert ham <= set(edit)  # substitution-only pairs are covered
    assert ("d1", "d2") not in ham  # ...and the shift is the edit-only win


def test_incremental_lsh_touches_only_the_delta_corpus(spark, sf_dir):
    """The admission check must be INCREMENTAL in plan shape: once the
    fingerprint store exists, the query's physical plan reads the
    documents table only for the new batch (one scan) and gets the
    existing half exclusively from the store's parquet tables -- plus it
    finds real cross-half pairs (non-trivial evidence, not 0 == 0)."""
    from big_data_assignment2_spark.operators.dedup import (
        _neardup_store,
        dedup_incremental_lsh,
    )
    from big_data_assignment2_spark.plans.audit import explain_formatted

    root = _neardup_store(spark, sf_dir)
    out = dedup_incremental_lsh(spark, sf_dir)
    plan = explain_formatted(out)
    # the store's three tables feed the plan...
    assert "neardup_store" in plan
    # ...and the EXISTING half is never recomputed from raw text: the
    # even-doc predicate (the store build's filter) must not appear
    # anywhere in the admission plan -- only the odd-half batch filter.
    # (A plain scan count is unreliable: cached relations print their
    # child plan, so documents.parquet shows up inside InMemoryRelation
    # blocks too.)
    import re

    assert not re.search(r"% 2\) = 0", plan), "even half recomputed from raw text"
    assert re.search(r"% 2\) = 1", plan), "expected the odd-half batch filter"
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["doc_a"] % 2 == 0 and r["doc_b"] % 2 == 1
        assert r["jaccard"] >= 0.5


def test_pq_codebook_donors_encode_to_self(spark, sf_dir):
    """Vectors that donate their subvectors to the PQ codebook must
    quantize to their own code in every subspace (self-distance 0 is the
    unique minimum up to exact duplicates, which tie-break to the lower
    code), and ADC output must be TOP_K non-negative rows."""
    from pyspark.sql import functions as F

    from big_data_assignment2_spark.operators import similarity as sim
    from big_data_assignment2_spark.sources.catalog import load_table

    out = sim.ann_topk_pq(spark, sf_dir).collect()
    assert len(out) == sim.TOP_K
    assert all(r.approx_dist >= 0 for r in out)
    ds = [r.approx_dist for r in out]
    assert ds == sorted(ds)

    # rebuild the encode stage alone for the donor check
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(
                            "v", m * sim.PQ_SUBDIM + 1, sim.PQ_SUBDIM
                        ).alias("sv"),
                    )
                    for m in range(sim.PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    cb = sub.where(F.col("vec_id").between(1, sim.PQ_K)).select(
        "m", F.col("vec_id").alias("code"), F.col("sv").alias("cvec")
    )
    from big_data_assignment2_spark.functions.vectors import dot

    donors = (
        sub.where(F.col("vec_id").between(1, sim.PQ_K))
        .join(F.broadcast(cb), "m")
        .withColumn(
            "d",
            dot("sv", "sv") - F.lit(2.0) * dot("sv", "cvec") + dot("cvec", "cvec"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min_by("code", F.struct("d", "code")).alias("best"))
        .where(F.col("best") != F.col("vec_id"))
        .count()
    )
    assert donors == 0


def test_span_exact_dedup_semantics(spark, sf_dir):
    """Span semantics (Lee et al. ExactSubstr): a reported span is a
    MAXIMAL run of positions whose K_SPAN-grams each occur >= 2 times in
    the corpus (different grams may duplicate against different partners,
    so the span as a whole need not repeat verbatim). Recompute gram
    occurrence counts in plain Python over the collected corpus and check
    every span's interior grams are duplicated and its one-step
    extensions are not."""
    from collections import Counter
    import re

    from big_data_assignment2_spark.operators.dedup import K_SPAN, span_exact_dedup
    from big_data_assignment2_spark.sources.catalog import load_table

    docs = {
        r["doc_id"]: [
            t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    counts: Counter = Counter()
    for toks in docs.values():
        for i in range(len(toks) - K_SPAN + 1):
            counts[" ".join(toks[i : i + K_SPAN])] += 1

    spans = span_exact_dedup(spark, sf_dir).collect()
    assert len(spans) > 0
    for r in spans:
        toks = docs[r["doc_id"]]
        s, ln = r["span_start"], r["span_len"]
        assert ln >= K_SPAN
        # every K-gram inside the span is duplicated ...
        for i in range(s, s + ln - K_SPAN + 1):
            assert counts[" ".join(toks[i : i + K_SPAN])] >= 2, (r, i)
        # ... and the span is maximal: the gram one step left/right (when
        # it exists) is unique in the corpus
        if s > 0:
            assert counts[" ".join(toks[s - 1 : s - 1 + K_SPAN])] == 1, r
        if s + ln - K_SPAN + 1 < len(toks) - K_SPAN + 1:
            assert counts[" ".join(toks[s + ln - K_SPAN + 1 : s + ln + 1])] == 1, r


@pytest.mark.parametrize("variant", ["span_exact_dedup", "span_exact_dedup_fast"])
def test_span_exact_dedup_constructed_corpus(spark, tmp_path, variant):
    """Pin span boundaries on a hand-built corpus: two docs sharing one
    exact 12-token span (different surroundings), a doc shorter than
    K_SPAN (must not crash or emit), and an unrelated doc. Expect exactly
    one span per sharing doc at the right offset/length -- for BOTH the
    exact string-gram version and the xxhash64 scale twin."""
    from big_data_assignment2_spark.operators import dedup

    fn = getattr(dedup, variant)
    shared = " ".join(f"tok{i}" for i in range(12))  # 12 > K_SPAN
    rows = [
        (1, "alpha beta " + shared + " gamma", "s0"),
        (2, shared + " delta epsilon zeta", "s0"),
        (3, "too short", "s0"),
        (4, " ".join(f"other{i}" for i in range(30)), "s0"),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["span_start"], r["span_len"])
        for r in fn(spark, d).collect()
    }
    assert got == {1: (2, 12), 2: (0, 12)}


def test_span_exact_dedup_fast_matches_exact(spark, sf_dir):
    """The xxhash64 gram key must not change the output: the fast twin's
    spans equal the exact string-gram version's row-for-row at fixture
    scale (any 64-bit gram collision here would surface as a diff -- the
    same property the driver's shared-oracle hash check enforces)."""
    from big_data_assignment2_spark.operators.dedup import (
        span_exact_dedup,
        span_exact_dedup_fast,
    )

    exact = {tuple(r) for r in span_exact_dedup(spark, sf_dir).collect()}
    fast = {tuple(r) for r in span_exact_dedup_fast(spark, sf_dir).collect()}
    assert len(exact) > 0
    assert fast == exact
